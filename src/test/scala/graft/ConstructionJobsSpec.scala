package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, MediaStore, StoreIO}

/** Building a query's frame runs no Spark job for what the driver can
  * resolve itself: a table's schema comes from one footer read
  * ([[Parquet.read]]), and a warm store's meta row from [[StoreIO.readMeta]]'s
  * memo. A stale or republished store must still be seen as such. */
class ConstructionJobsSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  /** Spark jobs that `body` starts on this thread, or on a thread it hands
    * work to, counted once the listener bus has delivered them: a marker
    * job started after `body` is delivered after them. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = s"construct-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("graft.test.tag")).foreach {
          case `tag`                    => n.incrementAndGet()
          case m if m == s"$tag-marker" => drained.countDown()
          case _                        =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.test.tag", tag)
      val out = try body finally sc.setLocalProperty("graft.test.tag", s"$tag-marker")
      try spark.range(1).count() finally sc.setLocalProperty("graft.test.tag", null)
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      (out, n.get)
    } finally sc.removeSparkListener(listener)
  }

  private def docs = Tables.documents(spark, sf).where(col("doc_id") < 300)

  test("loading orders, events and documents runs no Spark job") {
    for ((name, load) <- Seq[(String, () => Any)](
        "orders" -> (() => Tables.orders(spark, sf)),
        "events" -> (() => Tables.events(spark, sf)),
        "documents" -> (() => Tables.documents(spark, sf))))
      assert(jobsOf(load())._2 == 0, s"Tables.$name ran Spark jobs")
  }

  test("a second hit on a warm pair store and a warm media store runs no Spark job") {
    val dir = tmpDir("construct-hits")
    val pairs = s"$dir/pairs"
    val media = s"$dir/media"
    val p0 = Dedup.pairComputeCount.get()
    val m0 = MediaStore.computeCount.get()
    Dedup.pairsPersisted(docs, "doc_id", "text", pairs)
    MediaStore.persisted(docs, media)
    Dedup.pairsPersisted(docs, "doc_id", "text", pairs)
    MediaStore.persisted(docs, media)
    val (pairFrame, pairJobs) = jobsOf(Dedup.pairsPersisted(docs, "doc_id", "text", pairs))
    val (handle, mediaJobs) = jobsOf {
      val h = MediaStore.persisted(docs, media)
      h.features; h.imageDhash
      h
    }
    assert(Dedup.pairComputeCount.get() == p0 + 1 && MediaStore.computeCount.get() == m0 + 1,
      "a warm store was derived again")
    assert(pairJobs == 0, s"warm pair-store hit ran $pairJobs Spark jobs")
    assert(mediaJobs == 0, s"warm media-store hit ran $mediaJobs Spark jobs")
    assert(pairFrame.count() > 0 && handle.features.count() > 0)
  }

  test("a stale key re-derives, and the reread after publish sees the new meta row") {
    val path = tmpDir("construct-stale") + "/pairs"
    def keyAt(threshold: Double) =
      StoreIO.key(docs, Dedup.PairsAlgoVersion, "n" -> 3, "threshold" -> threshold)
    def liveKey = StoreIO.readMeta(spark, path).map(_.getAs[Long]("plan_fp"))
    val c0 = Dedup.pairComputeCount.get()
    Dedup.pairsPersisted(docs, "doc_id", "text", path, threshold = 0.3)
    Dedup.pairsPersisted(docs, "doc_id", "text", path, threshold = 0.3)
    assert(Dedup.pairComputeCount.get() == c0 + 1)
    assert(liveKey.contains(keyAt(0.3).planFp))

    // another threshold is another key: the memoized row must not serve it
    val tight = Dedup.pairsPersisted(docs, "doc_id", "text", path, threshold = 0.6)
    assert(Dedup.pairComputeCount.get() == c0 + 2, "stale key did not re-derive")
    assert(liveKey.contains(keyAt(0.6).planFp), "reread after publish saw the old meta row")
    assert(tight.agg(min("jaccard")).head().getDouble(0) >= 0.6)

    Dedup.pairsPersisted(docs, "doc_id", "text", path, threshold = 0.3)
    assert(Dedup.pairComputeCount.get() == c0 + 3, "the earlier key was served from memory")
    assert(liveKey.contains(keyAt(0.3).planFp))
  }
}
