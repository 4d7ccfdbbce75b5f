package graft

import org.apache.spark.sql.functions.col
import graft.pipeline.Schemas
import graft.pipeline.CurationStream.NearDupConfig
import graft.tools.Soak

/** The soak driver's scenarios at a tiny size: each writes the one record
  * shape with every check true, stagings replay identically, and a broken
  * input turns the matching check false. */
class SoakSpec extends SparkSuite {
  private val sf = "/root/testdata/sf0.001"

  private def docs(cols: String*) =
    Tables.documents(spark, sf).select(("doc_id" +: cols).map(col): _*)

  /** The record shape, every check true, and the document as written. */
  private def assertRecord(o: Soak.Outcome, scenario: String, checks: String*): Unit = {
    assert(o.scenario == scenario)
    assert(o.checks.keys.toSeq == checks)
    assert(o.pass, o.checks)
    assert(o.batches.nonEmpty)
    o.batches.foreach(b => assert(b.doc.keys.take(5).toSeq ==
      Seq("query", "batch", "rows", "wallMs", "stateRows")))
    val path = s"${tmpDir("soak-doc")}/soak.json"
    Soak.write(path, o.doc)
    val doc = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
    assert(doc.fieldNames().next() == "scenario" && doc.get("scenario").asText == scenario)
    checks.foreach(c => assert(doc.get("checks").get(c).asBoolean))
    assert(doc.get("pass").asBoolean)
    assert(doc.get("batches").size == o.batches.size)
  }

  test("curation: replay guard, bounded store and both routes, with the store layout per batch") {
    val work = tmpDir("soak-curation")
    val staged = Soak.stage(docs("text").withColumn("slice", Soak.idSlice(col("doc_id"), 4)),
      s"$work/staging")
    val o = Soak.curation(spark, staged, work,
      NearDupConfig(compactEvery = 2, storeBuckets = 16, vacuumGrace = 1))
    assertRecord(o, "curation", "replay_guard", "bounded_state", "nonzero")
    assert(o.batches.map(_.rows).sum == 500)
    o.batches.foreach(b => assert(b.doc.keySet.contains("tiers") && b.doc.keySet.contains("storeFiles")))
  }

  test("budget: two stagings of one frame replay the same batches; a short reference breaks parity") {
    val frame = docs("text", "source").withColumn("slice", Soak.idSlice(col("doc_id"), 4))
    val runs = Seq("a", "b").map { s =>
      val work = tmpDir(s"soak-budget-$s")
      val staged = Soak.stage(frame, s"$work/staging")
      (Soak.budget(spark, staged, work, budget = 700L), staged, work)
    }
    runs.foreach { case (o, _, _) => assertRecord(o, "budget", "parity") }
    val Seq(a, b) = runs.map(_._1)
    assert(a.batches.map(_.rows) == b.batches.map(_.rows))
    assert(a.batches.map(_.rows).sum == 500)
    assert(a.summary("admitted") == b.summary("admitted"))
    assert(a.summary("admitted").asInstanceOf[Long] < 500L)

    val (_, staged, work) = runs.head
    val streamed = spark.read.parquet(s"$work/admitted")
    val reference = Soak.budgetReference(spark, staged, 700L)
    assert(Soak.budgetParity(streamed, reference) == ((0L, 0L)))
    assert(Soak.budgetParity(streamed, reference.exceptAll(reference.limit(1))) == ((1L, 0L)))
  }

  test("cardinality: each closed window once, estimates within the 3-sigma envelope") {
    val events = Tables.events(spark, sf).select("event_id", "ts", "user_id")
    val o = Soak.cardinality(spark, events, tmpDir("soak-card"), nBatches = 4)
    assertRecord(o, "cardinality", "exactly_once", "within_envelope", "rollup_within_envelope")
    assert(o.batches.map(_.rows).sum == 1000)
    assert(o.summary("closedWindows").asInstanceOf[Int] > 0)
  }

  test("medallion under both providers; a gold sink with one row duplicated is not the same gold") {
    val work = tmpDir("soak-medallion")
    val o = Soak.medallion(spark, work, rate = 10, duration = 600, filesPerTrigger = 40)
    assertRecord(o, "medallion", "equal_output", "nonzero_gold", "bounded_state", "exactly_once")
    assert(o.batches.map(_.doc("provider")).distinct == Seq("hdfs", "rocksdb"))
    assert(o.summary("restartRowsBefore") == o.summary("restartRowsAfter"))

    val gold = s"$work/hdfs/gold/bridge_metrics"
    val rows = spark.read.schema(Schemas.gold).parquet(gold)
    rows.write.parquet(s"$work/copy")
    rows.union(rows.limit(1)).write.parquet(s"$work/duplicated")
    assert(Soak.sameGold(spark, Seq(gold, s"$work/rocksdb/gold/bridge_metrics", s"$work/copy")))
    assert(!Soak.sameGold(spark, Seq(gold, s"$work/duplicated")))
  }
}
