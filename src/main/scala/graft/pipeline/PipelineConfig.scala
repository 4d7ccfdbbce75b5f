package graft.pipeline

/** All paths and knobs for the medallion pipeline — injected, never
  * hardcoded (the reference hardcodes relative dirs in each job). One
  * checkpoint dir per streaming query (exactly-once restart safety,
  * ref `README.md:268-270`).
  */
case class PipelineConfig(
    landingRoot: String,
    bronzeRoot: String,
    silverRoot: String,
    goldRoot: String,
    checkpointRoot: String,
    bridgesCsv: String,
    watermark: String = "2 minutes",
    windowLength: String = "1 minute",
    /** Streaming exact dedup of landing events by (landing dir, bridge_id,
      * sensor_type, event_time) with watermark-bounded state — guards
      * against at-least-once upstream delivery. Off by default (reference parity). */
    dedupeLanding: Boolean = false,
    /** Fully-qualified state-store provider class, applied to the session
      * before any stateful query starts. None = Spark's default HDFS-
      * backed store (state lives on the executor heap — fine for a
      * 2-minute watermark at test scale). At 100 TB-scale state (wide
      * keys, long watermarks, stream-stream joins), set
      * [[PipelineConfig.RocksDbProvider]]: state moves off-heap into
      * embedded RocksDB with incremental checkpointing, so state size is
      * bounded by local disk, not heap. */
    stateStoreProvider: Option[String] = None,
    /** Per-trigger file admission cap (`maxFilesPerTrigger`) for each
      * file-stream source in the DAG: bronze reads three landing dirs and
      * gold three silver dirs, so one micro-batch admits up to 3×N files.
      * AvailableNow honors it too and drains in MANY micro-batches. None =
      * Spark's default (one batch per available set). This is the
      * backlog-catch-up knob: a restart after downtime replays the backlog
      * in bounded batches (bounded shuffle and state delta, windows
      * finalizing DURING the drain) rather than one batch sized by the
      * outage. */
    sourceMaxFilesPerTrigger: Option[Int] = None) {

  /** Source options shared by every file-stream read in the DAG. */
  def sourceOptions: Map[String, String] =
    sourceMaxFilesPerTrigger
      .map(n => Map("maxFilesPerTrigger" -> n.toString))
      .getOrElse(Map.empty)

  /** Apply session-level knobs — called by the pipeline orchestrators
    * before starting streaming queries:
    *  - the `file:` binding of [[graft.LocalFs]], which a session built
    *    elsewhere (a `spark-submit` one, the benchmark's) does not carry;
    *  - the state store. None leaves the session conf UNTOUCHED (an unset
    *    here would clobber a provider the operator configured at submit
    *    time, which is outside this config's authority); to explicitly
    *    return to Spark's default store after a RocksDB pipeline on the
    *    same session, pass `Some(PipelineConfig.DefaultProvider)`. */
  def applySessionConf(spark: org.apache.spark.sql.SparkSession): Unit = {
    graft.LocalFs.HadoopConf.foreach { case (k, v) => spark.conf.set(k, v) }
    stateStoreProvider.foreach(
      spark.conf.set("spark.sql.streaming.stateStore.providerClass", _))
  }

  def landingDir(sensor: String): String = s"$landingRoot/bridge_$sensor"
  def bronzeDir(sensor: String): String = s"$bronzeRoot/$sensor"
  /** Quarantine is one logical table with one subdir per sensor
    * (`src=<sensor>` Hive partition): one query writes all three, in the
    * layout earlier versions' per-sensor queries wrote. A batch read of
    * [[bronzeRejectedRoot]] reassembles it with `src` as a column. */
  def bronzeRejectedDir(sensor: String): String = s"$bronzeRoot/rejected/src=$sensor"
  def bronzeRejectedRoot: String = s"$bronzeRoot/rejected"
  def silverDir(sensor: String): String = s"$silverRoot/$sensor"
  def silverRejectedDir(sensor: String): String = s"$silverRoot/rejected/src=$sensor"
  def silverRejectedRoot: String = s"$silverRoot/rejected"
  def goldDir: String = s"$goldRoot/bridge_metrics"
  def checkpoint(name: String): String = s"$checkpointRoot/$name"
}

object PipelineConfig {
  /** RocksDB-backed state store (ships with Spark 4): off-heap state with
    * incremental snapshots — the provider a large deployment runs. */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Spark's default heap-backed store — pass explicitly to return to the
    * default after a RocksDB pipeline on the same session. */
  val DefaultProvider: String =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"

  /** Conventional layout under one root (tests, local runs). */
  def under(root: String, bridgesCsv: String): PipelineConfig = PipelineConfig(
    landingRoot = s"$root/streams",
    bronzeRoot = s"$root/bronze",
    silverRoot = s"$root/silver",
    goldRoot = s"$root/gold",
    checkpointRoot = s"$root/checkpoints",
    bridgesCsv = bridgesCsv)
}
