package graftbench

import org.apache.spark.sql.SparkSession

/** The benchmark's one session factory. Every workload, and the
  * single-threaded comparison pass, gets its session here, so a library
  * session factory can replace this body in one place. The settings are
  * those of `graft.Bench`: shuffle partitions = cores and a generated-class
  * cache sized for the whole query surface. */
object Session {
  val CodegenCacheEntries = 32768

  def settings(cores: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.codegen.cache.maxEntries" -> CodegenCacheEntries.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  def create(cores: Int, work: String): SparkSession = {
    val b = SparkSession.builder().appName("graft-bench")
      .config("spark.local.dir", s"$work/run/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/run/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/run/hadoop-tmp")
    settings(cores).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** In-memory span log: name, start, end and parent, written out once at
  * the end of a traced run. A disabled log records nothing, so untraced
  * runs pay no bookkeeping. Each thread nests its own spans. */
final class Spans(val enabled: Boolean) {
  final case class Span(id: Int, name: String, parent: Int, op: String,
                        startNs: Long, var endNs: Long)
  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  val originNs: Long = System.nanoTime()
  private val originMs = System.currentTimeMillis()

  /** Time `body`; in a traced run also record it as a child of the
    * innermost open span. `op` names the query or micro-batch the span
    * belongs to. */
  def apply[T](name: String, op: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val s = spans.synchronized {
        val s = Span(spans.size, name, stack.get.headOption.getOrElse(-1), op, System.nanoTime(), 0L)
        spans += s
        s
      }
      stack.set(s.id :: stack.get)
      try body finally { s.endNs = System.nanoTime(); stack.set(stack.get.tail) }
    }

  /** Record a span timed elsewhere, from wall-clock epoch milliseconds. */
  def record(name: String, op: String, startMs: Long, endMs: Long): Unit =
    if (enabled) spans.synchronized {
      def ns(ms: Long) = originNs + (ms - originMs) * 1000000L
      spans += Span(spans.size, name, -1, op, ns(startMs), ns(endMs))
    }

  def toJson: String = spans.synchronized(spans.toList).map { s =>
    Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
      "start_s" -> (s.startNs - originNs) / 1e9, "end_s" -> (s.endNs - originNs) / 1e9))
  }.mkString("[\n", ",\n", "\n]")
}

object Stats {
  /** Linear-interpolated percentile, `p` in [0, 1]; NaN on no samples. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val i = p * (s.size - 1)
      val lo = i.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (i - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
}

/** Minimal JSON writer: the benchmark's outputs are flat maps of numbers,
  * strings and nested maps, which do not justify a library. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case raw: Raw => raw.json
    case other => str(other.toString)
  }

  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  /** Pre-rendered JSON passed through unchanged. */
  final case class Raw(json: String)
}

object Proc {
  /** Peak resident set (`VmHWM`) of this JVM, in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  /** Memory the program holds, in MB: heap in use right after a full
    * collection plus non-heap in use (metaspace, generated code). Unlike
    * the resident set, it does not follow the heap size the JVM reserved. */
  def liveMb(): Double = {
    // the second collection also frees what Spark's cleaner released
    // after the first (broadcast and shuffle blocks of collected plans)
    System.gc()
    Thread.sleep(500)
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / (1024.0 * 1024.0)
  }

  /** Seconds since this JVM started: the origin of `setup_s`. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  /** Total collector time of this JVM so far, in seconds. */
  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0
  }

  /** The host's CPU counters (`/proc/stat`): (steal, total) jiffies. */
  def cpuTicks(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().split("\\s+").drop(1).map(_.toLong)
      (f.lift(7).getOrElse(0L), f.take(8).sum)
    } finally src.close()
  }

  /** Share of the host's CPU time stolen by other guests since `from`
    * (a [[cpuTicks]] reading): load this process cannot see or control. */
  def stealShare(from: (Long, Long)): Double = {
    val (s, t) = cpuTicks()
    if (t > from._2) (s - from._1).toDouble / (t - from._2) else 0.0
  }
}
