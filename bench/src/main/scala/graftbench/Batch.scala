package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The query-surface workload: a seeded sample of `SparkEntry.queries`,
  * run in sequence by one client (closed loop) on one data directory. */
object Batch {

  /** One query's stored reference: output fingerprint and its warm cost on
    * the reference host (used only to stratify the sample). */
  final case class Ref(name: String, fp: Check.Fingerprint, costS: Double)

  def loadRefs(path: String): Seq[Ref] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().drop(1).filter(_.nonEmpty).map { l =>
      val f = l.split("\t", -1)
      Ref(f(0), Check.Fingerprint(f(1).toLong, f(2)), f(3).toDouble)
    }.toList
    finally src.close()
  }

  def writeRefs(path: String, refs: Seq[Ref]): Unit = {
    val lines = "name\trows\tchecksum\tcost_s" +: refs.sortBy(_.name).map { r =>
      Seq(r.name, r.fp.rows, r.fp.sum, f"${r.costS}%.4f").mkString("\t")
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }

  /** Seeded stratified sample: the surface sorted by reference cost is cut
    * into `k` strata of equal size and one query is drawn uniformly from
    * each, so every query has the same chance to be drawn while every
    * sample spans the whole cost range. A plain uniform sample of this
    * size let the cost mix of the sample, not the engine, set the spread
    * between seeds. The run order is a seeded shuffle. */
  def sample(refs: Seq[Ref], seed: Long, k: Int): Seq[Ref] = {
    val rng = new scala.util.Random(seed)
    val byCost = refs.sortBy(r => (r.costS, r.name)).toIndexedSeq
    val n = byCost.size
    val picks = (0 until k).map { i =>
      val lo = i * n / k
      val hi = (i + 1) * n / k
      byCost(lo + rng.nextInt(hi - lo))
    }
    rng.shuffle(picks)
  }

  /** The stores' derivation times, measured when the corpus was made:
    * `stores.<name>.derive_s` and their sum `stores.derive_s`. */
  def storeTimes(dataDir: String): Seq[(String, Double)] = {
    val src = scala.io.Source.fromFile(s"$dataDir/stores.tsv", "UTF-8")
    val times = try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(n, s) = l.split("\t")
      s"stores.$n.derive_s" -> s.toDouble
    }.toList finally src.close()
    ("stores.derive_s" -> times.map(_._2).sum) +: times
  }

  /** Release what one query staged or cached, as `graft.Bench` does. */
  def release(spark: SparkSession): Unit = {
    graft.ops.Staged.releaseAll()
    spark.catalog.clearCache()
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One execution: construct the query, then plan and run it through a
    * `noop` write. */
  final case class Timing(constructS: Double, writeS: Double, writeWall: (Long, Long), df: DataFrame)

  def execute(spark: SparkSession, name: String, dir: String, tag: String,
              spans: Spans): Timing = {
    val t0 = System.nanoTime()
    val df = spans("construct", name)(Probe.tagged(spark, s"construct:$tag") {
      graft.SparkEntry.queries(name)(spark, dir)
    })
    val t1 = System.nanoTime()
    val w0 = System.currentTimeMillis()
    spans("execute", name)(Probe.tagged(spark, s"execute:$tag")(noop(df)))
    val t2 = System.nanoTime()
    Timing((t1 - t0) / 1e9, (t2 - t1) / 1e9, (w0, System.currentTimeMillis()), df)
  }

  /** Catalyst phase times of each `noop` write, matched to its query by
    * the DataFrame plan the write wraps. */
  final class PlanTimes extends QueryExecutionListener {
    private val seen = scala.collection.mutable.ArrayBuffer.empty[QueryExecution]
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronized(seen += qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

    /** Analysis, optimization and planning seconds of the write that
      * wrapped `plan` (a query's analyzed plan). Read after the listener
      * bus has drained. */
    def phasesOf(plan: LogicalPlan): Map[String, Double] = synchronized {
      seen.find(_.logical.find(_ eq plan).isDefined)
        .map(_.tracker.phases.map { case (k, v) => k -> v.durationMs / 1000.0 })
        .getOrElse(Map.empty)
    }
  }

  /** Queries per sample: the stratified sample spans the cost range in
    * this many strata. A pass over it is the timed unit. */
  val SampleSize = 8
  val MinPasses = 3

  final case class Exec(name: String, constructS: Double, writeS: Double,
                        writeWall: (Long, Long), plan: Option[LogicalPlan], ok: Boolean)

  def run(ctx: Ctx, dataDir: String, refsPath: String): Result = {
    val spark = ctx.spark
    val spans = ctx.spans
    val refs = loadRefs(refsPath)
    val picks = sample(refs, ctx.seed, SampleSize)
    val planTimes = if (ctx.trace) Some(new PlanTimes) else None
    planTimes.foreach(spark.listenerManager.register)

    // set-up: one untimed pass of the sample in run order. Each query's
    // first execution generates its code; its output is then checked
    // against the reference, which runs the query's plan once more. One
    // thread, as in the timed passes, so that set-up time is the sum of
    // those executions and does not depend on which of them overlap. A
    // query whose output differs fails every one of its executions
    val badOutput = scala.collection.mutable.LinkedHashMap.empty[String, String]
    picks.zipWithIndex.foreach { case (r, i) =>
      spans("warmup", r.name) {
        try {
          val df = execute(spark, r.name, dataDir, s"warm$i", spans).df
          val fp = spans("check", r.name)(Probe.tagged(spark, s"check$i")(Check.fingerprint(df)))
          Check.compare(r.name, fp, r.fp).foreach(badOutput(r.name) = _)
        } catch {
          case scala.util.control.NonFatal(e) => badOutput(r.name) = s"${r.name}: ${e.getMessage}"
        } finally release(spark)
      }
    }
    ctx.setupDone()

    // timed: whole passes over the sample, as many as fit in `seconds`
    // and at least [[MinPasses]]; each query's latency is the minimum of
    // its executions (as in `graft.Bench`): a burst of load from outside
    // the process rarely hits all of them
    val execs = scala.collection.mutable.ArrayBuffer.empty[Exec]
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    val gc0 = Proc.gcSeconds()
    val ticks0 = Proc.cpuTicks()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var passes = 0
    while (passes < MinPasses || elapsed * (passes + 1) / passes <= ctx.seconds) {
      picks.foreach { r =>
        val i = execs.size
        execs += spans("query", r.name) {
          try {
            val t = execute(spark, r.name, dataDir, s"t$i", spans)
            Exec(r.name, t.constructS, t.writeS, t.writeWall,
              planTimes.map(_ => t.df.queryExecution.commandExecuted), ok = true)
          } catch {
            case scala.util.control.NonFatal(e) =>
              errors += s"${r.name}: ${e.getMessage}"
              val now = System.currentTimeMillis()
              Exec(r.name, 0.0, 0.0, (now, now), None, ok = false)
          } finally release(spark)
        }
      }
      passes += 1
    }
    val wallS = elapsed
    val steal = Proc.stealShare(ticks0)
    val gcS = Proc.gcSeconds() - gc0
    val rss = Proc.peakRssMb()
    val mem = Proc.liveMb()

    val runs = execs.toSeq.map(e => e.copy(ok = e.ok && !badOutput.contains(e.name)))
    val okExecs = runs.filter(_.ok)
    val lat = okExecs.map(e => e.constructS + e.writeS)
    val minByQuery = okExecs.groupBy(_.name).map { case (n, es) => n -> es.map(e => e.constructS + e.writeS).min }
    val perQuery = minByQuery.values.toSeq
    // the surface's median latency, estimated from the sample: each
    // sampled query's latency over its reference cost, the median of those
    // ratios, times the median reference cost of all queries. Eight
    // queries' own median moves with the cost mix the seed draws; their
    // ratios do not.
    val refCost = picks.map(r => r.name -> r.costS).toMap
    val ratios = minByQuery.toSeq.map { case (n, l) => l / refCost(n) }
    val latencyP50 = Stats.median(ratios) * Stats.median(refs.map(_.costS))
    val endToEnd = Seq(
      "setup_s" -> ctx.setupS,
      "latency_s.p50" -> latencyP50,
      "live_mem_mb" -> mem)

    val detail = scala.collection.mutable.ArrayBuffer[(String, Any)](
      "sample" -> picks.map(_.name), "passes" -> passes, "executions" -> runs.size,
      "latency_s.by_query" -> minByQuery,
      "latency_s.sample_p50" -> Stats.pct(perQuery, 0.5),
      "latency_s.p90" -> Stats.pct(perQuery, 0.9),
      "latency_s.mean" -> perQuery.sum / perQuery.size,
      "latency_s.p50_all_executions" -> Stats.pct(lat, 0.5),
      "queries_per_s" -> okExecs.size / wallS,
      "timed_wall_s" -> wallS, "host.steal_share" -> steal, "peak_rss_mb" -> rss,
      "failures" -> (badOutput.values.toSeq ++ errors))
    val perLayer = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    ctx.probe.foreach { p =>
      p.drain()
      planTimes.foreach(spark.listenerManager.unregister)
      val n = math.max(runs.size, 1).toDouble
      val constructS = runs.map(_.constructS).sum
      val writeS = runs.map(_.writeS).sum
      def timed(phase: String)(j: p.Job) = j.tag.startsWith(s"$phase:t")
      val constructJobs = p.allJobs.filter(timed("construct"))
      val phases = runs.map(e => e.plan.map(planTimes.get.phasesOf).getOrElse(Map.empty[String, Double]))
      def phaseS(k: String) = phases.map(_.getOrElse(k, 0.0)).sum
      val planS = phaseS("analysis") + phaseS("optimization") + phaseS("planning")
      val exec = p.summary(timed("execute"), runs.map(_.writeWall), ctx.cores)
      val execS = writeS - planS
      val execCoreUtil = exec.copy(coreUtil = exec.taskRunS / (ctx.cores * math.max(execS, 1e-9)))
      perLayer ++= Common.perLayer(
        constructS = constructS / n, constructJobs = constructJobs.size / n,
        planS = planS / n, exec = execCoreUtil, perOp = n, gcS = gcS,
        tracedLatencyP50 = latencyP50, execWallS = execS / n)
      detail ++= Seq(
        "queries.construct_s" -> constructS / n,
        "queries.construct_jobs" -> constructJobs.size / n,
        "queries.construct_share" -> constructS / math.max(constructS + writeS, 1e-9),
        "plan.s" -> planS / n,
        "plan.analysis_s" -> phaseS("analysis") / n,
        "plan.optimization_s" -> phaseS("optimization") / n,
        "plan.planning_s" -> phaseS("planning") / n) ++
        storeTimes(dataDir) ++
        Seq("exec.failed_tasks" -> exec.failedTasks,
          "construct_jobs_by_call_site" -> constructJobs.groupBy(_.callSite)
            .map { case (k, v) => k -> v.size }.toSeq.sortBy(-_._2).take(40).toMap)
    }
    Result(attempted = runs.size, failed = runs.count(!_.ok), endToEnd = endToEnd,
      perLayer = perLayer.toSeq, detail = detail.toSeq,
      afterTimed = if (ctx.trace) Some(() => singleThreaded(ctx, dataDir, picks, runs)) else None)
  }

  /** Traced runs only: the same sample once more on a one-core session, for
    * each query's execution speed-up from the extra cores. */
  private def singleThreaded(ctx: Ctx, dataDir: String, picks: Seq[Ref],
                             execs: Seq[Exec]): Seq[(String, Any)] = {
    val spark = ctx.restart(1)
    val speedups = picks.flatMap { r =>
      try {
        val w = execute(spark, r.name, dataDir, "single", ctx.spans).writeS
        val multi = execs.filter(e => e.name == r.name && e.ok).map(_.writeS)
        if (multi.isEmpty) None else Some(r.name -> w / Stats.median(multi))
      } catch { case scala.util.control.NonFatal(_) => None }
      finally release(spark)
    }
    Seq("exec.speedup" -> Stats.median(speedups.map(_._2)),
      "exec.speedup_by_query" -> speedups.toMap)
  }
}
