package graft

import scala.collection.mutable.ArrayBuffer
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.functions._
import graft.ops.Similarity

/** Pins [[graft.functions.LshBuckets]] bit-identical to the composed
  * hyperplane-literal form ([[Similarity.bandedBucketsComposed]]) —
  * same seeded plane stream, same sign rule (strictly positive dot sets
  * the bit), same band chunking — across band geometries and dims. */
class LshBucketsSpec extends SparkSuite {
  import spark.implicits._

  private def vecs(dim: Int, n: Int) = {
    // deterministic pseudo-random embeddings, including exact zeros (the
    // dot==0 boundary where the > 0.0 sign rule must agree)
    (0 until n).map { i =>
      (i.toLong, (0 until dim).map { j =>
        if ((i + j) % 17 == 0) 0.0
        else math.sin(i * 31 + j * 7) * (1 + (j % 5))
      })
    }.toDF("id", "emb")
      .select($"id", $"emb".cast("array<double>").as("emb"),
        lit(1.0).as("norm"))
  }

  test("lsh_buckets: bit-identical to the composed hyperplane form") {
    graft.functions.GraftFunctions.register(spark)
    for ((rows, tables, dim) <- Seq((2, 2, 8), (4, 10, 64), (6, 30, 64), (13, 3, 17))) {
      val prm = Similarity.BandedLsh(rows, tables, 0.6, 1000L)
      val df = vecs(dim, 200)
      val native = df.select($"id",
        call_function("lsh_buckets", $"emb", lit(rows), lit(tables)).as("b"))
      val composed = df.select($"id",
        Similarity.bandedBucketsComposed($"emb", prm, dim).as("b"))
      val nv = native.orderBy($"id").collect().map(_.getSeq[Long](1))
      val cp = composed.orderBy($"id").collect().map(_.getSeq[Long](1))
      nv.zip(cp).zipWithIndex.foreach { case ((a, b), i) =>
        assert(a == b, s"rows=$rows tables=$tables dim=$dim row=$i: native=$a composed=$b")
      }
      // buckets spread: more than one distinct bucket per table on 200
      // pseudo-random vectors (planes actually differ across tables)
      val perTable = nv.map(_.toSeq).toSeq.transpose.map(_.distinct.size)
      assert(perTable.forall(_ > 1), s"degenerate table: $perTable")
    }
  }

  test("bandedParams clamp logs the collision-model recall at the table cap") {
    val messages = ArrayBuffer.empty[String]
    val capture = new AbstractAppender("banded-params-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        messages.synchronized { messages += e.getMessage.getFormattedMessage; () }
    }
    capture.start()
    val root = LogManager.getRootLogger.asInstanceOf[CoreLogger]
    root.addAppender(capture)
    val prm = try Similarity.bandedParams(1000000L, 0.55, 0.9, maxTables = 4)
      finally { root.removeAppender(capture); capture.stop() }
    assert(prm.tables == 4)
    val recall = 1.0 - math.pow(1.0 - math.pow(0.55, prm.rows), 4)
    assert(prm.expectedRecall(0.55) == recall)
    val clamp = messages.filter(_.startsWith("bandedParams:"))
    assert(clamp.size == 1, messages.mkString("\n"))
    assert(clamp.head.contains(s"at rows=${prm.rows}; clamped to 4 " +
      f"(expected recall $recall%.3f) — "), clamp.head)
  }
}
