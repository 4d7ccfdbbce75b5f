package graft.tools

import java.io.File
import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.pipeline.{BudgetAdmission, Bronze, CardinalityMonitor, CurationStream,
  Generator, Gold, PipelineConfig, Schemas, SignatureStore}
import graft.pipeline.CardinalityMonitor.CardConfig
import graft.pipeline.CurationStream.NearDupConfig

/** The soak driver: replays a corpus as many micro-batches through one
  * streaming path and records every batch. This is the evidence at corpus
  * scale, which the unit specs' few MemoryStream batches cannot give, that
  * the path keeps its exactly-once, watermark-bounded semantics across
  * real trigger boundaries, checkpointed state and a file-source
  * admission path.
  *
  * Usage: `runMain graft.tools.Soak <scenario> …`, one of
  *  - `curation <documents.parquet> <workDir> [nBatches=50]
  *    [compactEvery=10] [maxGenerations=8]`: see [[curation]];
  *    `compactEvery=0` is the no-maintenance control;
  *  - `budget <documents.parquet> <workDir> [nBatches=100]
  *    [budget=50000]`: see [[budget]];
  *  - `cardinality <events.parquet> <workDir> [nBatches=100]`: see
  *    [[cardinality]];
  *  - `medallion <workDir> [rate=200] [durationSec=5000]
  *    [filesPerTrigger=40]`: see [[medallion]].
  *
  * Each writes `<workDir>/soak.json`, one [[Outcome.doc]], then stops the
  * session, then exits non-zero if any check is false: a failed check
  * still leaves its artifact. [[StreamingGate]] composes `medallion` and
  * `curation`. */
object Soak {

  private val Usage = "usage: Soak curation <documents.parquet> <workDir> [nBatches] " +
    "[compactEvery] [maxGenerations] | budget <documents.parquet> <workDir> [nBatches] " +
    "[budget] | cardinality <events.parquet> <workDir> [nBatches] | " +
    "medallion <workDir> [rate] [durationSec] [filesPerTrigger]"

  def main(args: Array[String]): Unit = {
    def int(i: Int, default: Int): Int = args.lift(i).fold(default)(_.toInt)
    val (work, run): (String, SparkSession => Outcome) = args.toList match {
      case "curation" :: docs :: work :: _ => (work, s => curation(s,
        stage(s.read.parquet(docs).select(col("doc_id"), col("text"),
          idSlice(col("doc_id"), int(3, 50))), s"$work/staging"),
        work, NearDupConfig(compactEvery = int(4, 10), storeBuckets = 64,
          vacuumGrace = 2, storeMaxGenerations = int(5, 8))))
      case "budget" :: docs :: work :: _ => (work, s => budget(s,
        stage(s.read.parquet(docs).select(col("doc_id"), col("text"), col("source"),
          idSlice(col("doc_id"), int(3, 100))), s"$work/staging"),
        work, args.lift(4).fold(50000L)(_.toLong)))
      case "cardinality" :: events :: work :: _ => (work, s => cardinality(s,
        graft.Tables.events(s, new File(events).getParent).select("event_id", "ts", "user_id"),
        work, int(3, 100)))
      case "medallion" :: work :: _ =>
        (work, s => medallion(s, work, int(2, 200), int(3, 5000), int(4, 40)))
      case _ => sys.error(Usage)
    }
    val spark = graft.Session()
    val outcome = run(spark)
    write(s"$work/soak.json", outcome.doc)
    println(Mapper.writeValueAsString(outcome.doc - "batches"))
    spark.stop()
    if (!outcome.pass)
      sys.error(s"soak ${outcome.scenario} failed a check — see $work/soak.json")
  }

  // ---------------------------------------------------------------------
  // The replay harness: stage, record, sign, write one document.

  /** Slice files of one frame, admitted one slice per micro-batch of
    * [[stream]], in slice order. */
  final case class Staged(dir: String, schema: StructType) {
    def stream(spark: SparkSession): DataFrame =
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(dir)
        .select(schema.fieldNames.toSeq.map(col): _*)

    /** The staged rows, each with its `slice`. */
    def frame(spark: SparkSession): DataFrame = spark.read.parquet(dir)
  }

  /** Writes `df`, which carries an int `slice` column, as one file per
    * slice under `dir`, with modification times one second apart in slice
    * order. A file source admits files in modification-time order and ties
    * in listing order, and a parallel write leaves times that tie or vary
    * from run to run; near-dup curation and budget admission depend on
    * arrival order by design (measured: a ±1-doc sink-count wobble from one
    * flipped cluster ordering). */
  def stage(df: DataFrame, dir: String): Staged = {
    df.repartition(col("slice")).write.partitionBy("slice").mode("overwrite").parquet(dir)
    new File(dir).listFiles().filter(_.getName.startsWith("slice="))
      .sortBy(_.getName.stripPrefix("slice=").toInt).zipWithIndex
      .foreach { case (slice, i) =>
        slice.listFiles().filter(_.getName.endsWith(".parquet"))
          .foreach(_.setLastModified(1700000000000L + i * 1000L))
      }
    Staged(dir, StructType(df.schema.filter(_.name != "slice")))
  }

  /** The `slice` of a row as a pure function of its id, so every staging
    * of a frame replays the same batches: the id's residue mod `n`,
    * hash-placed among `n` slices the way `repartition(n, pmod(id, n))`
    * places it (some residues share a slice), which keeps replays
    * comparable with the committed `perf/soak_sf1_*` artifacts. */
  def idSlice(id: Column, n: Int): Column =
    pmod(hash(pmod(id, lit(n.toLong))), lit(n)).as("slice")

  /** One micro-batch as its progress event reported it, plus the fields
    * the scenario's `extra` read when the event arrived. */
  final case class Batch(query: String, batch: Long, rows: Long, wallMs: Long,
                         stateRows: Long, extra: ListMap[String, Any]) {
    def doc: ListMap[String, Any] = ListMap[String, Any]("query" -> query,
      "batch" -> batch, "rows" -> rows, "wallMs" -> wallMs, "stateRows" -> stateRows) ++ extra
  }

  /** Runs the queries `start` returns to termination and returns every
    * micro-batch they completed, per query in batch order. One listener
    * takes each progress event as it is posted, so no batch depends on the
    * session's progress retention; `extra` runs in the listener. Wall time
    * is `triggerExecution`, which spans the whole batch, sinks and any
    * scheduled maintenance included; empty batches are kept, since
    * maintenance and watermark advances still run in them. */
  def record(spark: SparkSession, extra: () => ListMap[String, Any] = () => ListMap.empty)
            (start: => Seq[StreamingQuery]): Seq[Batch] = {
    val seen = new ConcurrentLinkedQueue[(UUID, Batch)]()
    val ended = ConcurrentHashMap.newKeySet[UUID]()
    val listener = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ended.add(e.id)
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        seen.add(p.id -> Batch(p.name, p.batchId, p.numInputRows,
          Option(p.durationMs.get("triggerExecution")).fold(-1L)(_.longValue),
          p.stateOperators.map(_.numRowsTotal).sum, extra()))
      }
    }
    spark.streams.addListener(listener)
    try {
      val qs = start
      try qs.foreach(_.awaitTermination()) finally qs.foreach(_.stop())
      // the listener bus is asynchronous and has no public flush, but it
      // delivers a query's termination after all of its progress events:
      // wait for that, at most 10 s so a lost event cannot hang the soak.
      // (Not for the event of `lastProgress`: a query with nothing to do
      // reports an idle progress, whose event carries no batch.)
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!qs.forall(q => ended.contains(q.id)) && System.nanoTime() < deadline)
        Thread.sleep(50)
      val ids = qs.map(_.id).toSet
      seen.asScala.toSeq.collect { case (id, b) if ids(id) => b }.sortBy(b => (b.query, b.batch))
    } finally spark.streams.removeListener(listener)
  }

  /** (row count, order-independent checksum) of the sink at `path` read
    * with `schema`. The checksum xors each row's xxhash64 of `key` (a sum
    * of thousands of them overflows), so a missing or duplicated row
    * changes the pair. */
  def sign(spark: SparkSession, path: String, schema: StructType, key: Column*): (Long, Long) = {
    val r = spark.read.schema(schema).parquet(path)
      .agg(count(lit(1)), coalesce(bit_xor(xxhash64(key: _*)), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** A scenario's named checks, its summary and every batch it recorded. */
  final case class Outcome(scenario: String, checks: ListMap[String, Boolean],
                           summary: ListMap[String, Any], batches: Seq[Batch]) {
    def pass: Boolean = checks.values.forall(identity)
    def doc: ListMap[String, Any] = ListMap[String, Any]("scenario" -> scenario,
      "checks" -> checks, "pass" -> pass) ++ summary + ("batches" -> batches.map(_.doc))
  }

  private val Mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Writes `doc` to `path` as one JSON document. */
  def write(path: String, doc: ListMap[String, Any]): Unit = {
    val f = new File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    java.nio.file.Files.writeString(f.toPath, Mapper.writeValueAsString(doc) + "\n")
  }

  private def secSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  // ---------------------------------------------------------------------
  // The scenarios.

  private val DocSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** Near-dup curation ([[CurationStream.startNearDup]]) over `staged`,
    * then restarted on its checkpoint with no new input. Checks:
    *  - `replay_guard`: the restart adds no row to either sink (idempotent
    *    sinks, lineage-scoped store ordinals);
    *  - `bounded_state`: the signature store holds exactly `bands` rows per
    *    admitted doc, so it tracks the admitted corpus and nothing else;
    *  - `nonzero`: both routes fire and every doc takes one.
    * Each batch records the store layout after it, so probe cost can be
    * seen to stay flat while the store grows across compactions. */
  def curation(spark: SparkSession, staged: Staged, work: String,
               cfg: NearDupConfig): Outcome = {
    val Seq(clean, nearDup, store) = Seq("clean", "neardup", "store").map(d => s"$work/$d")
    def run() = record(spark, () => storeLayout(store))(Seq(CurationStream.startNearDup(
      spark, staged.stream(spark), cfg, clean, nearDup, store, s"$work/cp")))
    def sinks() = Seq(clean, nearDup).map(sign(spark, _, DocSchema, col("doc_id")))
    val t0 = System.nanoTime()
    val batches = run()
    val wallSec = secSince(t0)
    val Seq(c, n) = sinks()
    run()
    val replayGuard = sinks() == Seq(c, n)
    // DISTINCT: between a compaction and its vacuum a doc's bucket rows sit
    // in both a generation and a delta, which is read amplification, not
    // state (the probe dedups them the same way)
    val storeRows = SignatureStore.refs(spark, store, Long.MaxValue,
        SignatureStore.currentPointer(spark, store), None)
      .select("doc_id", "band_id", "band_hash").distinct().count()
    val docs = staged.frame(spark).count()
    Outcome("curation",
      ListMap("replay_guard" -> replayGuard,
        "bounded_state" -> (storeRows == cfg.bands * c._1),
        "nonzero" -> (c._1 > 0 && n._1 > 0 && c._1 + n._1 == docs)),
      ListMap("docs" -> docs, "cleanRows" -> c._1, "cleanHash" -> c._2,
        "nearDupRows" -> n._1, "nearDupHash" -> n._2, "storeRows" -> storeRows,
        "compactEvery" -> cfg.compactEvery, "maxGenerations" -> cfg.storeMaxGenerations,
        "wallSec" -> wallSec),
      batches)
  }

  /** Delta dirs, files and the newest pointer's tier list of a signature
    * store: a MINOR compaction appends a generation to the list, a MAJOR
    * collapses it to one. */
  private def storeLayout(store: String): ListMap[String, Any] = {
    def files(f: File): Int = if (f.isFile) 1 else Option(f.listFiles()).fold(0)(_.map(files).sum)
    val pointers = Option(new File(s"$store/_ptr").listFiles()).getOrElse(Array.empty[File])
      .flatMap(f => "^v(\\d+)$".r.findFirstMatchIn(f.getName).map(m => (m.group(1).toLong, f)))
    val tiers = pointers.maxByOption(_._1).fold("") { case (v, f) =>
      val fields = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim.split("\\s+")
      if (fields.length > 2) fields(2) else v.toString
    }
    ListMap("deltaDirs" -> Option(new File(s"$store/delta").list())
        .fold(0)(_.count(_.startsWith("batch="))),
      "storeFiles" -> files(new File(store)), "tiers" -> tiers)
  }

  private val BudgetSeed = "soak"

  /** Token-budget admission ([[BudgetAdmission.admitted]]) over `staged`
    * into a checkpointed parquet sink. Check `parity`: the admitted rows
    * equal [[budgetReference]]'s as multisets, so dropped state at a
    * trigger boundary, a double admission on replay or an unstable order
    * shows as a row on one side only, not as a count drift. */
  def budget(spark: SparkSession, staged: Staged, work: String, budget: Long): Outcome = {
    val t0 = System.nanoTime()
    val batches = record(spark)(Seq(BudgetAdmission.admitted(BudgetAdmission.arrivals(
        staged.stream(spark), "doc_id", "text", "source", BudgetSeed), budget)
      .writeStream.queryName("budget_admission").format("parquet")
      .option("path", s"$work/admitted").option("checkpointLocation", s"$work/cp")
      .trigger(Trigger.AvailableNow()).start()))
    val wallSec = secSince(t0)
    val streamed = spark.read.parquet(s"$work/admitted")
    val reference = budgetReference(spark, staged, budget)
    val (onlyStream, onlyReference) = budgetParity(streamed, reference)
    Outcome("budget", ListMap("parity" -> (onlyStream == 0 && onlyReference == 0)),
      ListMap("nDocs" -> staged.frame(spark).count(), "budget" -> budget,
        "admitted" -> streamed.count(), "referenceAdmitted" -> reference.count(),
        "onlyStream" -> onlyStream, "onlyReference" -> onlyReference, "wallSec" -> wallSec),
      batches)
  }

  /** The batch application of the admission rule over the streamed
    * arrival order: batches arrive in slice order and admit in seeded
    * `ord` order within one, so per source the running token total over
    * (slice, ord, doc_id) is admitted while it fits the budget. */
  def budgetReference(spark: SparkSession, staged: Staged, budget: Long): DataFrame = {
    val frame = staged.frame(spark)
    val w = Window.partitionBy("source").orderBy("slice", "ord", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    BudgetAdmission.arrivals(frame, "doc_id", "text", "source", BudgetSeed)
      .join(frame.select(col("doc_id").cast("long").as("doc_id"), col("slice")), "doc_id")
      .withColumn("cum_tok", sum("n_tok").over(w))
      .where(col("cum_tok") <= budget)
      .select("doc_id", "source", "n_tok", "cum_tok")
  }

  /** (rows only streamed, rows only in the reference), as multisets. */
  def budgetParity(streamed: DataFrame, reference: DataFrame): (Long, Long) = {
    val cols = Seq("doc_id", "source", "n_tok", "cum_tok").map(col)
    val (s, r) = (streamed.select(cols: _*), reference.select(cols: _*))
    (s.exceptAll(r).count(), r.exceptAll(s).count())
  }

  /** The HLL cardinality monitor over `events` (`event_id`, `ts`,
    * `user_id`) replayed as `nBatches` time-contiguous slices: a stream
    * arrives roughly in event-time order, and random slices would advance
    * the watermark to the horizon's end in batch 1 and drop the rest as
    * late.
    *
    * HLL estimates are merge-order-sensitive (unions go through a wider
    * internal mode than single-pass builds, and the streaming state merges
    * per trigger), so no estimate can be demanded bit-equal. Checks:
    *  - `exactly_once`: every closed window is in the sink once;
    *  - `within_envelope`, `rollup_within_envelope`: each window's estimate,
    *    and the rollup over the closed windows, sit within
    *    3σ = 3·1.04/√2^lgK of the direct batch sketch.
    * A replay of per-(window, slice) sketch unions is recorded as a
    * diagnostic. */
  def cardinality(spark: SparkSession, events: DataFrame, work: String,
                  nBatches: Int): Outcome = {
    import spark.implicits._
    val cfg = CardConfig(windowDur = "1 hour", watermark = "2 hours",
      keyCol = "user_id", tsCol = "ts", lgK = 12)
    val nEvents = events.count()
    val per = math.max(1L, (nEvents + nBatches - 1) / nBatches)
    val staged = stage(events.select($"ts", $"user_id",
      ((row_number().over(Window.orderBy($"ts", $"event_id")) - 1) / per).cast("int")
        .as("slice")), s"$work/staging")
    val t0 = System.nanoTime()
    val batches = record(spark)(Seq(CardinalityMonitor.start(spark, staged.stream(spark), cfg,
      s"$work/sink", s"$work/cp", Trigger.AvailableNow())))
    val wallSec = secSince(t0)

    def byWindow(df: DataFrame) = df.as[(java.sql.Timestamp, Double)].collect().toMap
    def sketch = hll_sketch_agg($"user_id", lit(cfg.lgK))
    val streamed = byWindow(CardinalityMonitor.estimates(spark, s"$work/sink")
      .select($"window_start", $"approx_distinct"))
    val unionReplay = byWindow(staged.frame(spark)
      .groupBy(window($"ts", cfg.windowDur), $"slice").agg(sketch.as("sk"))
      .groupBy($"window.start").agg(hll_sketch_estimate(hll_union_agg($"sk"))))
    val direct = byWindow(events.groupBy(window($"ts", cfg.windowDur))
      .agg(hll_sketch_estimate(sketch).as("d")).select($"window.start", $"d"))
    val maxRelErr = streamed.toSeq.flatMap { case (w, d) =>
      direct.get(w).map(b => math.abs(d - b) / math.max(b, 1.0)) }.maxOption.getOrElse(0.0)
    val tol3Sigma = 3.0 * 1.04 / math.sqrt(math.pow(2.0, cfg.lgK))
    val dupWindows = spark.read.parquet(s"$work/sink").groupBy($"window_start").count()
      .where($"count" > 1).count()
    val rollup = CardinalityMonitor.rollup(spark, s"$work/sink").as[Double].head()
    val batchRollup = events
      .where(window($"ts", cfg.windowDur)("start").isin(streamed.keySet.toSeq: _*))
      .agg(hll_sketch_estimate(sketch)).as[Double].head()
    val rollupRelErr = math.abs(rollup - batchRollup) / math.max(batchRollup, 1.0)
    Outcome("cardinality",
      ListMap("exactly_once" -> (dupWindows == 0), "within_envelope" -> (maxRelErr <= tol3Sigma),
        "rollup_within_envelope" -> (rollupRelErr <= tol3Sigma)),
      ListMap("nEvents" -> nEvents, "closedWindows" -> streamed.size, "dupWindows" -> dupWindows,
        "unionReplayMismatches" -> streamed.count { case (w, d) => !unionReplay.get(w).contains(d) },
        "maxRelErrVsDirect" -> maxRelErr, "tol3Sigma" -> tol3Sigma, "rollup" -> rollup,
        "batchRollup" -> batchRollup, "rollupRelErr" -> rollupRelErr,
        "maxStateRows" -> batches.map(_.stateRows).maxOption.getOrElse(0L), "wallSec" -> wallSec),
      batches)
  }

  /** Peak gold state rows a drain may reach: 100× the ~900 rows the
    * earlier five-operator gold reached at 1M events. State must track
    * in-flight windows, not corpus size. */
  val MaxStateRows = 100000L

  /** One provider's drain in [[medallion]]. */
  final case class Drain(provider: String, bronzeRows: Long, bronzeSec: Double,
                         goldSec: Double, wallSec: Double, goldBatches: Int,
                         peakStateRows: Long, goldRows: Long, goldHash: Long)

  /** The medallion DAG over one generated landing corpus (`rate` events
    * per simulated second for `duration` s): the one bronze query (which
    * also writes silver), then gold, drained in micro-batches of up to
    * `filesPerTrigger` files per source dir under the HDFS-backed and then
    * the RocksDB state-store provider; then gold restarts on the HDFS run's checkpoint with no new
    * input. Checks:
    *  - `equal_output`: gold output is the same under both providers;
    *  - `nonzero_gold`: each drain emitted gold (a gate that passes an
    *    empty pipeline is no gate);
    *  - `bounded_state`: gold's peak state rows stay below [[MaxStateRows]];
    *  - `exactly_once`: the restart emits nothing. */
  def medallion(spark: SparkSession, work: String, rate: Int, duration: Int,
                filesPerTrigger: Int): Outcome = {
    val landing = s"$work/landing"
    val bridgesCsv = s"$work/bridges.csv"
    val events = Generator.generate(landing, rate, duration, seed = 42L)
    Generator.writeBridgesCsv(bridgesCsv)
    val cfgs = Seq("hdfs" -> PipelineConfig.DefaultProvider,
        "rocksdb" -> PipelineConfig.RocksDbProvider).map { case (label, provider) =>
      val root = s"$work/$label"
      label -> PipelineConfig(landing, s"$root/bronze", s"$root/silver", s"$root/gold",
        s"$root/checkpoints", bridgesCsv, stateStoreProvider = Some(provider),
        sourceMaxFilesPerTrigger = Some(filesPerTrigger))
    }
    val drains = cfgs.map { case (label, cfg) =>
      cfg.applySessionConf(spark)
      val tag = () => ListMap[String, Any]("provider" -> label)
      val t0 = System.nanoTime()
      val bronze = record(spark, tag)(Seq(Bronze.start(spark, cfg)))
      val bronzeSec = secSince(t0)
      val gold = record(spark, tag)(Seq(Gold.start(spark, cfg)))
      val wallSec = secSince(t0)
      val (goldRows, goldHash) = goldSig(spark, cfg.goldDir)
      (Drain(label, bronze.map(_.rows).sum, bronzeSec, wallSec - bronzeSec, wallSec, gold.size,
        gold.map(_.stateRows).maxOption.getOrElse(0L), goldRows, goldHash), bronze ++ gold)
    }
    val runs = drains.map(_._1)
    val hdfs = cfgs.head._2
    hdfs.applySessionConf(spark)
    val before = goldSig(spark, hdfs.goldDir)
    record(spark)(Seq(Gold.start(spark, hdfs)))
    val after = goldSig(spark, hdfs.goldDir)
    Outcome("medallion",
      ListMap("equal_output" -> sameGold(spark, cfgs.map(_._2.goldDir)),
        "nonzero_gold" -> runs.forall(_.goldRows > 0),
        "bounded_state" -> runs.forall(_.peakStateRows < MaxStateRows),
        "exactly_once" -> (after == before)),
      ListMap("events" -> events, "goldRows" -> runs.map(_.goldRows),
        "peakStateRows" -> runs.map(_.peakStateRows), "restartRowsBefore" -> before._1,
        "restartRowsAfter" -> after._1, "runs" -> runs),
      drains.flatMap(_._2))
  }

  /** Gold sink signature; metrics are rounded to 6 places so that the
    * providers' summation order cannot flip a last bit. */
  private def goldSig(spark: SparkSession, dir: String): (Long, Long) =
    sign(spark, dir, Schemas.gold, col("bridge_id"), col("window_start"),
      round(col("avg_temperature"), 6), round(col("max_vibration"), 6),
      round(col("max_tilt_angle"), 6))

  /** Every one of `goldDirs` holds the same gold rows: equal row counts
    * and checksums. */
  def sameGold(spark: SparkSession, goldDirs: Seq[String]): Boolean =
    goldDirs.map(goldSig(spark, _)).distinct.size == 1
}
