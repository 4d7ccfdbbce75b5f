package graft.tools

import org.apache.spark.sql.catalyst.plans.logical._

/** Dev tool (round-16 verdict item 7): enumerate every UNPARTITIONED
  * window in the declared query surface and classify its input, so each
  * single-partition window is either PROVABLY BOUNDED (its input is an
  * aggregate/limit/small-literal frame — group-grain cardinality, not
  * corpus-grain) or named as a scale hazard to fix.
  *
  * `sbt "runMain graft.tools.WindowAudit"` — prints one line per
  * (query, window) with the window's expressions and the nearest
  * cardinality-bounding operator below it (NONE = corpus-grain input:
  * a genuine 100 TB scale-killer).
  */
object WindowAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.Session()

    /** The nearest operator below `p` that bounds cardinality to group
      * grain (Aggregate/Distinct collapse to key-cardinality, limits are
      * literal, one-row LocalRelations are constants). Join/Generate
      * above such a bound can re-expand, so the walk stops at the FIRST
      * expander and reports NONE if no bound was seen before it. */
    def bound(p: LogicalPlan): String = p match {
      case _: Aggregate => "Aggregate"
      case _: Deduplicate => "Distinct"
      case _: GlobalLimit | _: LocalLimit => "Limit"
      case l: LocalRelation => s"LocalRelation(${l.data.size})"
      case _: Range => "Range"
      case j: Join =>
        // a join is unbounded if EITHER side is: one corpus-grain side
        // can multiply the other, so report the weaker side
        val l = bound(j.left); val r = bound(j.right)
        if (l == "NONE" || r == "NONE") "NONE" else s"Join($l,$r)"
      case g: Generate => // explode multiplies: bounded iff child bounded
        val c = bound(g.child)
        if (c == "NONE") "NONE" else s"Generate($c)"
      case u: Union =>
        if (u.children.map(bound).exists(_ == "NONE")) "NONE"
        else "Union(bounded)"
      case im: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        // a Staged frame: classify by what was cached — an aggregate or
        // limit anywhere at the cached plan's root region bounds it
        val phys = im.cachedPlan.toString
        if (phys.contains("HashAggregate") || phys.contains("SortAggregate") ||
            phys.contains("ObjectHashAggregate") || phys.contains("TakeOrdered") ||
            phys.contains("Limit")) "Staged(Aggregate)"
        else "NONE"
      case other if other.children.size == 1 => bound(other.children.head)
      case _ => "NONE"
    }

    var total = 0
    var unbounded = 0
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.optimizedPlan
        plan.foreach {
          case w: Window if w.partitionSpec.isEmpty =>
            total += 1
            val b = bound(w.child)
            if (b == "NONE") unbounded += 1
            println(f"[winaudit] $name%-28s bound=$b%-24s order=${w.orderSpec.map(_.sql).mkString(",").take(60)}")
          case _ => ()
        }
      } catch {
        case e: Throwable =>
          println(s"[winaudit] $name FAILED to plan: ${e.getMessage}")
      }
    }
    println(s"[winaudit] total unpartitioned windows: $total; corpus-grain (NONE): $unbounded")
    spark.stop()
  }
}
