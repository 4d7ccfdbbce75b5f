package graft

import org.apache.spark.sql.SparkSession

/** The one session policy. Bench, Verify, every tool, the pipeline demo and
  * the test suites get their session here, so each setting is decided once:
  *
  *  - `local[cores]`, with as many shuffle partitions as cores;
  *  - session time zone UTC, which the query surface and its oracle assume
  *    (a plain `java -cp` launch has no build-tool `-D` flags to lean on);
  *  - Spark UI off and log level WARN;
  *  - a generated-class cache of [[CodegenCacheEntries]]. Spark's default
  *    of 100 holds about 15 queries' worth of whole-stage classes, so on
  *    the 365-query surface every query would evict the classes the next
  *    run of it needs and pay its Janino compile again. The cache holds
  *    code keyed by generated source, never data or results;
  *  - the `file:` scheme served by [[LocalFs]], as `spark.hadoop.*`.
  *
  * Settings that depend on a caller's own arguments (a pipeline's
  * state-store provider) are set with `spark.conf.set` on the returned
  * session. */
object Session {
  val CodegenCacheEntries = 32768

  /** `SPARK_GRAFT_CPUS` when set, else every available processor. */
  private def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def apply(cores: Int = defaultCores): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
    val spark = LocalFs.HadoopConf
      .foldLeft(builder) { case (b, (k, v)) => b.config(s"spark.hadoop.$k", v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
