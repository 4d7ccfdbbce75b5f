package graft

import java.io.File
import graft.ops.{Dedup, StoreIO}
import graft.tools.StoreGc

/** Store lifecycle: the deferred-orphan contract of [[StoreIO.publish]]
  * (aside copies age out, never deleted under an in-flight reader), the
  * [[StoreGc]] janitor, and the pair-store ROUTE provenance that guards
  * the LSH evals' exact-truth claim (q207/q240). */
class StoreGcSpec extends SparkSuite {

  private def mkStore(root: File, name: String, ageMs: Long = 0): File = {
    val d = new File(root, name)
    new File(d, "data").mkdirs()
    val f = new File(d, "data/part-0.parquet")
    java.nio.file.Files.writeString(f.toPath, "x")
    if (ageMs > 0) {
      val t = System.currentTimeMillis() - ageMs
      Seq(f, new File(d, "data"), d).foreach(_.setLastModified(t))
    }
    d
  }

  test("StoreGc.sweep: ages orphans, keeps fresh ones and live stores") {
    val root = new File(tmpDir("gc-root"))
    mkStore(root, "pairs-abc")                                // live, fresh
    mkStore(root, "media-def", ageMs = 10L * 86400000)        // live, old
    mkStore(root, "pairs-abc.old-x", ageMs = 2L * 3600000)    // aged orphan
    mkStore(root, "pairs-abc.tmp-y")                          // fresh orphan
    val grace = 3600000L // 1 h

    // dry run: nothing deleted, everything classified
    val dry = StoreGc.sweep(root, grace)
    assert(dry.entries.map(e => e.name -> e.orphan).toMap == Map(
      "pairs-abc" -> false, "media-def" -> false,
      "pairs-abc.old-x" -> true, "pairs-abc.tmp-y" -> true))
    assert(dry.removed == Seq("pairs-abc.old-x"), "dry run flags the aged orphan")
    assert(root.listFiles().length == 4, "dry run must not delete")

    // apply: only the AGED orphan goes; live stores stay however old
    val applied = StoreGc.sweep(root, grace, apply = true)
    assert(applied.removed == Seq("pairs-abc.old-x"))
    assert(root.listFiles().map(_.getName).toSet ==
      Set("pairs-abc", "media-def", "pairs-abc.tmp-y"))

    // with a max store age, the abandoned live store is reclaimed too
    val reclaimed = StoreGc.sweep(root, grace, maxAgeMs = 7L * 86400000,
      apply = true)
    assert(reclaimed.removed == Seq("media-def"))
    assert(root.listFiles().map(_.getName).toSet ==
      Set("pairs-abc", "pairs-abc.tmp-y"))
  }

  test("publish sweeps this path's AGED orphans and leaves young aside copies") {
    import spark.implicits.{newIntEncoder, localSeqToDatasetHolder}
    val dir = new File(tmpDir("gc-pub"))
    val path = s"$dir/store"
    StoreIO.publish(spark, path) { tmp =>
      Seq(1).toDS().toDF("v").write.parquet(s"$tmp/data")
    }
    // plant an aged aside copy from a (simulated) crashed past republish
    mkStore(dir, "store.old-dead", ageMs = 2L * 3600000)
    mkStore(dir, "store.tmp-dead", ageMs = 2L * 3600000)
    // a stale republish: aged orphans swept, the NEW aside copy survives
    // (young — an in-flight reader of the replaced store may still walk it)
    StoreIO.publish(spark, path) { tmp =>
      Seq(2).toDS().toDF("v").write.parquet(s"$tmp/data")
    }
    val names = dir.listFiles().map(_.getName).toSet
    assert(!names.contains("store.old-dead"), "aged .old orphan not swept")
    assert(!names.contains("store.tmp-dead"), "aged .tmp orphan not swept")
    assert(names.contains("store"), "live store missing after republish")
    assert(names.exists(n => n.startsWith("store.old-") && n != "store.old-dead"),
      "the republish's own aside copy must survive the sweep (grace-aged)")
    assert(spark.read.parquet(s"$path/data").as[Int].head() == 2,
      "live store is not the republished one")
  }

  test("pair store records its derivation route; exact-slice guard honors it") {
    val path = tmpDir("gc-route") + "/pairs"
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    Dedup.pairsPersisted(docs, "doc_id", "text", path)
    val route = Dedup.pairsRouted(docs, "doc_id", "text", path, n = 3, threshold = 0.3)._2
    assert(route.exists(Set("prefix", "direct")),
      s"fixture corpus must record an exact route, got $route")
    assert(route.contains(Dedup.jaccardAutoRoute(docs, "doc_id", "text", n = 3)),
      "recorded route diverges from the router's decision")
    // a store without the route column (pre-round-12) reads as None —
    // the eval-slice guard then re-derives instead of trusting it
    val meta = spark.read.parquet(s"$path/meta").drop("route")
    val rows = meta.collect().toSeq
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), meta.schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    assert(Dedup.pairsRouted(docs, "doc_id", "text", path, n = 3, threshold = 0.3)._2.isEmpty)
  }
}
