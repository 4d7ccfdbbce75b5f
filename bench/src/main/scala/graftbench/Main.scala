package graftbench

import org.apache.spark.sql.SparkSession

/** What one run needs: its arguments, the session (which the traced
  * single-threaded pass replaces), and the tracing hooks, all disabled in
  * an untraced run. */
final class Ctx(val workload: String, val seed: Long, val seconds: Int, val trace: Boolean,
                val cores: Int, val work: String) {
  val spans = new Spans(trace)
  val probe: Option[Probe] = if (trace) Some(new Probe) else None
  private var session: SparkSession = create(cores)
  private var setup = Double.NaN

  private def create(n: Int): SparkSession = {
    val s = Session.create(n, work)
    probe.foreach(s.sparkContext.addSparkListener)
    s
  }

  def spark: SparkSession = session

  /** Replace the session by one with `n` cores. */
  def restart(n: Int): SparkSession = {
    session.stop()
    session = create(n)
    session
  }

  /** Mark the end of set-up: the first timed operation starts next. */
  def setupDone(): Unit = setup = Proc.sinceJvmStart()
  def setupS: Double = setup
}

/** One run's outcome. `afterTimed` is extra traced-only work that must run
  * after every other number has been read (it replaces the session). */
final case class Result(attempted: Long, failed: Long, endToEnd: Seq[(String, Double)],
                        perLayer: Seq[(String, Double)], detail: Seq[(String, Any)],
                        afterTimed: Option[() => Seq[(String, Any)]] = None)

object Common {
  /** The per-layer metrics every workload reports, each per operation (a
    * query execution, or a streaming micro-batch). */
  def perLayer(constructS: Double, constructJobs: Double, planS: Double, exec: Probe.Summary,
               perOp: Double, gcS: Double, tracedLatencyP50: Double,
               execWallS: Double): Seq[(String, Double)] = {
    val n = math.max(perOp, 1.0)
    Seq(
      "construct_s" -> constructS, "construct_jobs" -> constructJobs, "plan_s" -> planS,
      "exec.s" -> execWallS, "exec.jobs" -> exec.jobs / n, "exec.stages" -> exec.stages / n,
      "exec.tasks" -> exec.tasks / n, "exec.task_run_s" -> exec.taskRunS / n,
      "exec.task_cpu_s" -> exec.taskCpuS / n, "exec.task_gc_s" -> exec.taskGcS / n,
      "exec.core_util" -> exec.coreUtil,
      "exec.shuffle_write_bytes" -> exec.shuffleWrite / n,
      "exec.shuffle_read_bytes" -> exec.shuffleRead / n,
      "exec.spill_bytes" -> exec.spill / n, "exec.input_bytes" -> exec.input / n,
      "exec.no_task_s" -> exec.noTaskS / n, "exec.task_skew" -> exec.taskSkewP90,
      "jvm.gc_s" -> gcS, "traced.latency_s.p50" -> tracedLatencyP50)
  }
}

/** Entry point. `run` is what the benchmark command executes; `data` and
  * `refs` prepare its inputs and references.
  *
  * {{{
  * run  --workload W --seed N --seconds S --trace 0|1 --bench DIR --work DIR
  * data <outDir> <sf>
  * refs <dataDir> <refs.tsv> [<dumpDir>]
  * }}}
  */
object Main {
  val Workloads = Seq("batch-sf0.01", "stream-restart")

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("run") => runMain(args.tail)
    case Some("data") => Tools.data(args(1), args(2).toDouble)
    case Some("refs") => Tools.refs(args(1), args(2), args.lift(3))
    case _ => sys.error("usage: run|data|refs ...")
  }

  private def runMain(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val bench = opt("bench")
    val work = opt("work")
    val cores = Runtime.getRuntime.availableProcessors()
    val ctx = new Ctx(workload, opt("seed").toLong, opt("seconds").toInt, opt("trace") == "1",
      cores, work)
    val result = workload match {
      case "batch-sf0.01" =>
        Batch.run(ctx, s"$work/data/sf0.01", s"$bench/refs/sf0.01.tsv")
      case "stream-restart" =>
        Stream.run(ctx, s"$work/run/stream")
    }
    val extra = result.afterTimed.map(_()).getOrElse(Nil)
    ctx.spark.stop()
    val settings = Session.settings(cores).toMap + ("cores" -> cores.toString)
    val record = Json.obj(Seq(
      "workload" -> workload, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
      "trace" -> (if (ctx.trace) 1 else 0), "settings" -> settings,
      "attempted" -> result.attempted, "failed" -> result.failed,
      "failed_share" -> result.failed.toDouble / math.max(result.attempted, 1L),
      "end_to_end" -> result.endToEnd.toMap, "per_layer" -> result.perLayer.toMap,
      "detail" -> (result.detail ++ extra).toMap) ++
      (if (ctx.trace) Seq("spans" -> Json.Raw(ctx.spans.toJson)) else Nil))
    val out = new java.io.File(s"$work/run")
    out.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(out, s"$workload-seed${ctx.seed}-trace${if (ctx.trace) 1 else 0}.json").toPath,
      record.getBytes("UTF-8"))
    val metrics = (if (ctx.trace) result.perLayer else result.endToEnd)
    println(Json.obj(Seq(
      "correct" -> (result.failed == 0), "attempted" -> result.attempted,
      "failed" -> result.failed,
      "metrics" -> Json.Raw(Json.obj(metrics.map { case (k, v) =>
        k -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> Units.of(k))))
      })))))
    System.out.flush()
  }
}

/** Unit of each reported metric, by name. */
object Units {
  def of(name: String): String = name match {
    case "live_mem_mb" => "MB"
    case n if n.endsWith("_bytes") => "bytes"
    case n if n.endsWith("core_util") || n.endsWith("task_skew") => "ratio"
    case n if n.endsWith("_s") || n.endsWith(".s") || n.contains("_s.") => "s"
    case _ => "count"
  }
}
