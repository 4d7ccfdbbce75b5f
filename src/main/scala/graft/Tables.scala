package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated test tables at `/root/testdata/sf*`
  * (see TESTDATA.md). All engine operators take DataFrames, so these are
  * the only places that know about physical paths.
  *
  * Scale posture: [[Parquet.read]] is `spark.read.parquet` with the schema
  * taken from one driver-side footer read, so loading a table runs no
  * Spark job. The scan is Spark's vectorized Parquet reader with
  * predicate pushdown, column pruning and (for partitioned layouts)
  * partition pruning — on a cluster the same call scans 100 TB split by
  * `spark.sql.files.maxPartitionBytes`.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** NOTE on scan parallelism: rounds 13–14 carried an automatic
    * fan-out here for documents/embeddings behind a corpus-bytes floor.
    * Corpus bytes turned out to be a proxy for the real signal — QUERY
    * SHAPE: per-row-compute projections (tokenize/shingle/hash/decode/
    * vector math) want the exchange at every scale where the map cost
    * dominates, cheap scans never do. The fan-out now lives as an
    * explicit opt-in at the heavy operator entry points
    * ([[graft.ops.FanOut.perRowCompute]]); plain reads here stay bare
    * scans with zero extra stages. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // every query path flows through here, so the library's native
    // functions are always registered regardless of query-map iteration
    // order (idempotent, cheap)
    graft.functions.GraftFunctions.register(spark)
    Parquet.read(spark, s"$sfDir/$name.parquet")
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** `events.ts` has shipped under THREE physical parquet encodings across
    * testdata generations: TIMESTAMP(NANOS) (Spark surfaces it as a long
    * only under `nanosAsLong`; rejects it outright otherwise), plain INT64
    * epoch-nanos (the ScaleGen sf1 corpus), and TIMESTAMP(MICROS) with or
    * without isAdjustedToUTC. Hardcoding any one of them is brittle by
    * design — round 7 lost 32 queries to exactly that — so the loader
    * inspects the schema the file's footer gives and branches:
    *
    *   - LongType          → epoch nanos; truncate to micros (the same
    *                         truncation DuckDB applies implicitly)
    *   - TimestampType     → already micros, adjusted to UTC; pass through
    *   - TimestampNTZType  → micros, no zone; reinterpret in the session
    *                         zone (all entry points pin it to UTC), so the
    *                         wall-clock values are unchanged
    *
    * Every branch lands on TimestampType so downstream operators, goldens
    * and oracle hashes see one stable logical schema.
    *
    * The session-conf mutation is deliberate: `nanosAsLong` is a legacy
    * SQL conf with NO reader-level (`.option(...)`) equivalent — probed on
    * Spark 4.1.2, a reader option is ignored and the scan still throws.
    * The conf only affects schema mapping of TIMESTAMP(NANOS) columns (a
    * no-op for every other encoding and table here) and is idempotent, so
    * setting it per read is the least-state alternative available. */
  private def eventsRaw(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    load(s, d, "events")
  }

  private def tsType(df: DataFrame): org.apache.spark.sql.types.DataType =
    df.schema("ts").dataType

  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val raw = eventsRaw(s, d)
    tsType(raw) match {
      case LongType      => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampType => raw
      case _             => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  /** Time-bounded events read with the lower bound applied to the column's
    * NATIVE type, BEFORE any conversion: a predicate on a converted column
    * (`timestamp_micros(ts div 1000)`, or a cast) cannot push through the
    * projection, but a bound expressed in the scan's own type reaches the
    * parquet reader as a pushed filter and prunes row groups — the
    * difference between scanning a day and scanning 100 TB. For the nanos
    * encodings the bound is the raw nanosecond long (equivalent row set
    * for whole-second bounds: nanos below the bound truncate to a
    * microsecond value below it too); for the timestamp encodings it is a
    * native timestamp / timestamp_ntz literal. */
  def eventsFrom(s: SparkSession, d: String, fromUtc: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, lit}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val raw  = eventsRaw(s, d)
    val inst = java.time.Instant.parse(fromUtc)
    tsType(raw) match {
      case LongType =>
        val nanos = Math.addExact(Math.multiplyExact(inst.getEpochSecond, 1000000000L), inst.getNano.toLong)
        raw.where(col("ts") >= nanos)
          .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampType =>
        raw.where(col("ts") >= lit(inst))
      case _ => // TimestampNTZ: compare in the same naive type, then normalize
        val ldt = java.time.LocalDateTime.ofInstant(inst, java.time.ZoneOffset.UTC)
        raw.where(col("ts") >= lit(ldt))
          .withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
