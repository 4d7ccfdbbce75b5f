package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import graft.ops.Staged

/** A `Staged(...)` persist may only save work, never decide an answer:
  * every surface query whose plan reads a staged frame must return the
  * same rows when its staged frames are released before the action, so
  * that Spark plans the query from its sources instead of the cache. */
class StagedAnswersSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  /** Order-free comparable form of a result: binary and nested values
    * become sequences, rows sort by their printed form. */
  private def rows(rs: Array[Row]): Seq[String] = {
    def norm(v: Any): Any = v match {
      case b: Array[Byte] => b.toSeq
      case r: Row         => r.toSeq.map(norm)
      case s: Iterable[_] => s.map(norm)
      case x              => x
    }
    rs.toSeq.map(r => r.toSeq.map(norm).toString).sorted
  }

  private def reset(): Unit = { Staged.releaseAll(); spark.catalog.clearCache() }

  test("every query that reads a staged frame returns the same rows with it released") {
    reset()
    val staged = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (_, q) =>
      try q(spark, sf).queryExecution.withCachedData
        .collectFirst { case r: InMemoryRelation => r }.nonEmpty
      finally reset()
    }
    assert(staged.nonEmpty, "no surface query reads a staged frame")
    val differ = staged.flatMap { case (name, q) =>
      val built = try rows(q(spark, sf).collect()) finally reset()
      val df = q(spark, sf)
      Staged.releaseAll()
      val released =
        try Right(rows(df.collect()))
        catch { case e: Exception => Left(e.getMessage) }
        finally reset()
      released match {
        case Right(rs) if rs == built => None
        case Right(rs) => Some(s"$name: ${built.size} rows as built, ${rs.size} released")
        case Left(err) => Some(s"$name failed released: $err")
      }
    }
    assert(differ.isEmpty, differ.mkString("\n"))
  }
}
