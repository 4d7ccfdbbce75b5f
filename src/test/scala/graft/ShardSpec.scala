package graft

import org.apache.spark.sql.functions._
import graft.ops.Shard

/** Deterministic shuffled sharding: permutation totality, determinism,
  * seed sensitivity, write round-trip, and the one-exchange plan. */
class ShardSpec extends SparkSuite {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("shardAssign is a total permutation: every shard holds pos 0..n-1, rows preserved") {
    val docs = Tables.documents(spark, sf).select($"doc_id")
    val n = docs.count()
    val a = Shard.shardAssign(docs, "doc_id", nShards = 8, seed = "s")
    assert(a.count() == n)
    assert(a.select($"doc_id").distinct().count() == n)
    // per shard: positions are exactly 0..count-1
    val bad = a.groupBy($"shard")
      .agg(count(lit(1)).as("n"), min($"pos").as("lo"), max($"pos").as("hi"),
        countDistinct($"pos").as("d"))
      .where($"lo" =!= 0 || $"hi" =!= $"n" - 1 || $"d" =!= $"n")
      .count()
    assert(bad == 0, "some shard's positions are not a dense 0..n-1 range")
    // membership is the documented pure function
    assert(a.where(pmod($"ord", lit(8L)).cast("int") =!= $"shard").count() == 0)
  }

  test("assignment is deterministic and seed-sensitive") {
    val docs = Tables.documents(spark, sf).select($"doc_id")
    def run(seed: String) =
      Shard.shardAssign(docs, "doc_id", 8, seed)
        .select($"doc_id", $"shard", $"pos").orderBy($"doc_id")
        .collect().toSeq
    assert(run("s") == run("s"), "same seed must reproduce placement exactly")
    val x = run("s"); val y = run("t")
    val moved = x.zip(y).count { case (r1, r2) => r1 != r2 }
    assert(moved > x.size / 2, s"different seed moved only $moved/${x.size} rows")
  }

  test("shards are balanced within 3x of ideal on the sf corpus") {
    val docs = Tables.documents(spark, sf).select($"doc_id")
    val n = docs.count()
    val sizes = Shard.shardAssign(docs, "doc_id", 8, "s")
      .groupBy($"shard").count().select($"count").as[Long].collect()
    assert(sizes.length == 8, "empty shard on a corpus 60x the shard count")
    assert(sizes.max < 3L * n / 8, s"worst shard ${sizes.max} vs ideal ${n / 8}")
  }

  test("writeShards round-trip: membership matches, within-file order is the shuffle order") {
    val docs = Tables.documents(spark, sf).select($"doc_id")
    val out = tmpDir("shards")
    Shard.writeShards(docs, "doc_id", nShards = 4, seed = "s", out)
    val back = spark.read.parquet(out)
    assert(back.count() == docs.count())
    assert(back.where(pmod(Shard.orderKey($"doc_id", "s"), lit(4L)).cast("int")
      =!= $"shard").count() == 0, "a row landed in the wrong shard dir")
    // parquet preserves within-file row order: each shard file must be
    // sorted by the order key (the property a sequential trainer consumes)
    val ordered = back
      .withColumn("ord", Shard.orderKey($"doc_id", "s"))
      .withColumn("file", input_file_name())
      .withColumn("rid", monotonically_increasing_id())
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"file").orderBy($"rid")
    val unsorted = ordered
      .withColumn("prev", lag($"ord", 1).over(w))
      .where($"prev".isNotNull && $"prev" > $"ord").count()
    assert(unsorted == 0, "shard file rows are not in shuffle order")
  }

  test("shardAssign plans exactly one exchange (the shard-partitioned sort)") {
    // raw read, NOT Tables.documents: this pins the exchange count the
    // OPERATOR adds, so the loader's small-layout fan-out (its own
    // documented exchange) must stay out of the frame under test
    val docs = spark.read.parquet(s"$sf/documents.parquet").select($"doc_id")
    val plan = Shard.shardAssign(docs, "doc_id", 8, "s")
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
  }

  test("manifest checksums verify against a read-back of the written shards") {
    val docs = Tables.documents(spark, sf).select($"doc_id")
    val path = tmpDir("shards-manifest")
    Shard.writeShardsWithManifest(docs, "doc_id", 4, "m", path)
    // the _manifest dir is underscore-hidden: a plain shard read skips it
    val back = spark.read.parquet(path)
    assert(back.count() == docs.count())
    // fold each shard's read-back key sequence in STORED order (one file
    // per shard; parquet preserves row order per file) and compare hashes
    val folded = back
      .withColumn("rid", monotonically_increasing_id())
      .groupBy($"shard")
      .agg(md5(array_join(
        transform(array_sort(collect_list(struct($"rid", $"doc_id"))),
          x => x.getField("doc_id").cast("string")), ",")).as("checksum"),
        count($"doc_id").as("n_rows"))
      .select($"shard".cast("int").as("shard"), $"n_rows", $"checksum")
    val man = spark.read.parquet(s"$path/_manifest")
      .select($"shard", $"n_rows", $"checksum")
    assert(folded.exceptAll(man).isEmpty && man.exceptAll(folded).isEmpty,
      s"read-back fold != manifest:\n${folded.collect().mkString("\n")}" +
        s"\nvs\n${man.collect().mkString("\n")}")
  }
}
