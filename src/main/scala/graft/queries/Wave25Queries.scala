package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.Similarity

/** FILE→WAVE MAP: Wave25Queries.scala holds round-10 WAVE-28 queries
  * q209–q211 (file numbering lags wave numbering across this package —
  * each file's header carries this map).
  *
  * Index health and classic BI: IVF cell balance (the probe-cost
  * uniformity check), a per-source charset/noise profile, and RFM
  * customer segmentation. q210/q211 are DuckDB-oracle-checked; q209 is
  * golden-pinned (Lloyd centroids have no SQL form). */
object Wave25Queries extends QuerySet {

  /** IVF cell-balance report: vectors per cell and the load factor vs a
    * uniform split — the check an ANN deployment runs before trusting
    * nProbe cost estimates (one hot cell makes every probe that hits it
    * scan a disproportionate candidate set). Assignment is the map-side
    * [[Similarity.assignCells]] projection; the window runs over the
    * 16-row cell frame only. */
  private val q209: Q = (s, d) => {
    import s.implicits._
    val vecs = Similarity.prepared(
      Tables.embeddings(s, d), "vec_id", "embedding")
    val idx = Similarity.buildIvfIndex(vecs, nCells = 16)
    Similarity.assignCells(vecs, idx)
      .groupBy($"cell").agg(count(lit(1)).cast("long").as("n_vectors"))
      .withColumn("load_factor",
        round($"n_vectors".cast("double") * 16.0 /
          sum($"n_vectors").over(Window.partitionBy()).cast("double"), 9))
      .orderBy($"cell")
  }

  /** Per-source charset/noise profile: digit, uppercase, space, and
    * non-printable-ASCII character fractions — the encoding-noise
    * screen that catches mojibake feeds and OCR dumps before they hit
    * tokenization. Exact integer char counts (regex class strip +
    * length diff, identical character classes both engines), one scan,
    * double fractions only at the end. */
  private val q210: Q = (s, d) => {
    import s.implicits._
    def cnt(cls: String) =
      (length($"text") - length(regexp_replace($"text", cls, ""))).cast("long")
    Tables.documents(s, d)
      .select($"source", length($"text").cast("long").as("n"),
        cnt("[0-9]").as("d"), cnt("[A-Z]").as("u"),
        cnt("[ ]").as("sp"), cnt("[^\\x20-\\x7e]").as("na"))
      .groupBy($"source")
      .agg(sum($"n").cast("long").as("n_chars"),
        round(sum($"d").cast("double") / sum($"n").cast("double"), 9)
          .as("digit_frac"),
        round(sum($"u").cast("double") / sum($"n").cast("double"), 9)
          .as("upper_frac"),
        round(sum($"sp").cast("double") / sum($"n").cast("double"), 9)
          .as("space_frac"),
        round(sum($"na").cast("double") / sum($"n").cast("double"), 9)
          .as("nonascii_frac"))
      .orderBy($"source")
  }

  /** RFM segmentation of the orders table: per customer — days since
    * last order (vs the corpus max date), order count, exact monetary
    * total — then quintile codes and the (R, F) segment rollup a
    * marketing/BI team reads.
    *
    * Quintiles are EXACT NEAREST-RANK BOUNDARIES computed from integer
    * histograms (q215's trick — recency_days and frequency are
    * small-integer domains, so the histogram frames have at most a few
    * thousand rows regardless of customer count), then assigned
    * map-side: boundary bᵢ = the value at ascending rank ⌈i·N/5⌉
    * (descending rank for frequency, where quintile 1 = most frequent),
    * bucket(v) = 1 + #{i : v strictly beyond bᵢ}. Tie convention shared
    * by both engines: a value EQUAL to boundary bᵢ belongs to bucket
    * ≤ i (all tied customers land in the same bucket — unlike a global
    * ntile, which splits ties by an arbitrary total order AND is a
    * single-partition sort over the full per-customer frame, a
    * straggler by construction at 100 TB; the histogram windows here
    * run over value-cardinality frames only). */
  private val q211: Q = (s, d) => {
    import s.implicits._
    // round-15 guarded fan-out keyed by the group key: the repartition
    // doubles as the aggregation's exchange, and the per-customer
    // decimal partial agg leaves the fixture's single row group
    val perCust = graft.ops.FanOut.perRowCompute(
        Tables.orders(s, d)
          .select($"o_custkey", $"o_orderdate", $"o_totalprice"),
        "o_custkey")
      .groupBy($"o_custkey")
      .agg(max($"o_orderdate".cast("date")).as("last_d"),
        count(lit(1)).cast("long").as("frequency"),
        sum(round($"o_totalprice", 2).cast("decimal(28,12)"))
          .cast("double").as("monetary"))
    val mx = broadcast(perCust.agg(max($"last_d").as("max_d")))
    val scored = perCust.crossJoin(mx)
      .select($"o_custkey", datediff($"max_d", $"last_d").as("recency_days"),
        $"frequency", $"monetary")
      // staged: unstaged, the per-customer aggregate's shuffle runs again
      // (+12% shuffle bytes at sf0.01, +17% at sf0.1)
      .transform(graft.ops.Staged(_))
    // exact nearest-rank quintile boundaries from a value histogram:
    // ranks rᵢ = ⌈i·N/5⌉ in INTEGER arithmetic ((i·N+4) div 5 — no float
    // ceil), cumulative counts over the tiny histogram frame, boundary =
    // first value whose cumulative count reaches rᵢ (last, descending)
    def boundaries(valueCol: String, desc: Boolean): org.apache.spark.sql.DataFrame = {
      val hist = scored.groupBy(col(valueCol).as("v"))
        .agg(count(lit(1)).cast("long").as("c"))
      val ord = if (desc) $"v".desc else $"v".asc
      val cum = hist.withColumn("cum", sum($"c").over(Window.orderBy(ord)))
        .crossJoin(broadcast(hist.agg(sum($"c").cast("long").as("n"))))
      val pick: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        if (desc) max(_) else min(_)
      // Spark's `/` on integers is DOUBLE division; floor+cast recovers
      // the exact integer ⌈i·N/5⌉ = (i·N+4) div 5 (exact in IEEE up to
      // 2^52 — any realistic N), matching DuckDB's `//`
      val bs = (1 to 4).map(i =>
        pick(when($"cum" >= floor((lit(i) * $"n" + 4) / 5).cast("long"), $"v"))
          .as(s"b$i"))
      cum.agg(bs.head, bs.tail: _*)
    }
    val rb = boundaries("recency_days", desc = false)
      .select((1 to 4).map(i => col(s"b$i").as(s"rb$i")): _*)
    val fb = boundaries("frequency", desc = true)
      .select((1 to 4).map(i => col(s"b$i").as(s"fb$i")): _*)
    val rBucket = (1 to 4).map(i => ($"recency_days" > col(s"rb$i")).cast("int"))
      .reduce(_ + _) + 1
    val fBucket = (1 to 4).map(i => ($"frequency" < col(s"fb$i")).cast("int"))
      .reduce(_ + _) + 1
    scored.crossJoin(broadcast(rb)).crossJoin(broadcast(fb))
      .select($"o_custkey", rBucket.as("r_bucket"), fBucket.as("f_bucket"),
        $"monetary")
      .groupBy($"r_bucket", $"f_bucket")
      .agg(count(lit(1)).cast("long").as("n_customers"),
        round(sum($"monetary".cast("decimal(28,12)")).cast("double"), 2)
          .as("total_monetary"))
      .orderBy($"r_bucket", $"f_bucket")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q209_ivf_cell_balance" -> q209,
    "q210_charset_profile" -> q210,
    "q211_rfm_segments" -> q211)

  // ---- oracle SQL -------------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(
    "q210_charset_profile" ->
      """WITH c AS (SELECT source,
        |    CAST(length(text) AS BIGINT) AS n,
        |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
        |      AS BIGINT) AS d,
        |    CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g'))
        |      AS BIGINT) AS u,
        |    CAST(length(text) - length(regexp_replace(text, '[ ]', '', 'g'))
        |      AS BIGINT) AS sp,
        |    CAST(length(text) - length(regexp_replace(text, '[^\x20-\x7e]', '', 'g'))
        |      AS BIGINT) AS na
        |  FROM documents)
        |SELECT source,
        |  CAST(sum(n) AS BIGINT) AS n_chars,
        |  round(CAST(sum(d) AS DOUBLE) / CAST(sum(n) AS DOUBLE), 9) AS digit_frac,
        |  round(CAST(sum(u) AS DOUBLE) / CAST(sum(n) AS DOUBLE), 9) AS upper_frac,
        |  round(CAST(sum(sp) AS DOUBLE) / CAST(sum(n) AS DOUBLE), 9) AS space_frac,
        |  round(CAST(sum(na) AS DOUBLE) / CAST(sum(n) AS DOUBLE), 9)
        |    AS nonascii_frac
        |FROM c GROUP BY source ORDER BY source""".stripMargin,
    // exact nearest-rank quintile boundaries from integer histograms,
    // tie convention: value == boundary bᵢ → bucket ≤ i (see the Spark
    // side's Scaladoc); identical integer arithmetic on both engines
    "q211_rfm_segments" ->
      """WITH pc AS (SELECT o_custkey,
        |    max(CAST(o_orderdate AS DATE)) AS last_d,
        |    CAST(count(*) AS BIGINT) AS frequency,
        |    CAST(sum(CAST(round(o_totalprice, 2) AS DECIMAL(28,12)))
        |      AS DOUBLE) AS monetary
        |  FROM orders GROUP BY o_custkey),
        |mx AS (SELECT max(last_d) AS max_d FROM pc),
        |sc AS (SELECT o_custkey,
        |    CAST(mx.max_d - pc.last_d AS INTEGER) AS recency_days,
        |    frequency, monetary
        |  FROM pc CROSS JOIN mx),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM sc),
        |hr AS (SELECT recency_days AS v, CAST(count(*) AS BIGINT) AS c
        |  FROM sc GROUP BY 1),
        |cr AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM hr),
        |br AS (SELECT
        |    min(CASE WHEN cum >= (1*n+4)//5 THEN v END) AS b1,
        |    min(CASE WHEN cum >= (2*n+4)//5 THEN v END) AS b2,
        |    min(CASE WHEN cum >= (3*n+4)//5 THEN v END) AS b3,
        |    min(CASE WHEN cum >= (4*n+4)//5 THEN v END) AS b4
        |  FROM cr CROSS JOIN n),
        |hf AS (SELECT frequency AS v, CAST(count(*) AS BIGINT) AS c
        |  FROM sc GROUP BY 1),
        |cf AS (SELECT v, sum(c) OVER (ORDER BY v DESC) AS cum FROM hf),
        |bf AS (SELECT
        |    max(CASE WHEN cum >= (1*n+4)//5 THEN v END) AS b1,
        |    max(CASE WHEN cum >= (2*n+4)//5 THEN v END) AS b2,
        |    max(CASE WHEN cum >= (3*n+4)//5 THEN v END) AS b3,
        |    max(CASE WHEN cum >= (4*n+4)//5 THEN v END) AS b4
        |  FROM cf CROSS JOIN n),
        |b AS (SELECT o_custkey, monetary,
        |    CAST(1 + CAST(recency_days > br.b1 AS INTEGER)
        |      + CAST(recency_days > br.b2 AS INTEGER)
        |      + CAST(recency_days > br.b3 AS INTEGER)
        |      + CAST(recency_days > br.b4 AS INTEGER) AS INTEGER) AS r_bucket,
        |    CAST(1 + CAST(frequency < bf.b1 AS INTEGER)
        |      + CAST(frequency < bf.b2 AS INTEGER)
        |      + CAST(frequency < bf.b3 AS INTEGER)
        |      + CAST(frequency < bf.b4 AS INTEGER) AS INTEGER) AS f_bucket
        |  FROM sc CROSS JOIN br CROSS JOIN bf)
        |SELECT r_bucket, f_bucket,
        |  CAST(count(*) AS BIGINT) AS n_customers,
        |  round(CAST(sum(CAST(monetary AS DECIMAL(28,12))) AS DOUBLE), 2)
        |    AS total_monetary
        |FROM b GROUP BY r_bucket, f_bucket
        |ORDER BY r_bucket, f_bucket""".stripMargin)
}
