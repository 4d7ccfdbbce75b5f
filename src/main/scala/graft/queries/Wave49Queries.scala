package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** FILE→WAVE MAP: Wave49Queries.scala holds round-12 WAVE-52 queries
  * q320–q322 (file numbering lags wave numbering across this package —
  * each file's header carries this map).
  *
  * Data-profiling discovery — the audits a catalog system runs over an
  * UNKNOWN corpus before anything else: approximate-functional-
  * dependency discovery (which column determines which — the input to
  * normalization, partitioning and encoding choices), the source-pair
  * vocabulary-overlap matrix (which sources are re-crawls of each
  * other, BEFORE paying per-document dedup), and the semi-structured
  * schema profile (which JSON keys actually occur, per event type —
  * the schema a `props` column implies but never declares). All three
  * are DuckDB-oracle-checked. */
object Wave49Queries extends QuerySet {

  /** Approximate functional-dependency discovery: for each directed
    * column pair A→B, the strength Σ_a max_b n(a,b) / N — the share of
    * rows consistent with A functionally determining B (1.0 = exact
    * FD). Run over both directions of (lang, source) on documents and
    * (o_orderpriority, o_orderstatus) on orders. One (A,B)-cell
    * aggregate per table feeds BOTH directions (max-per-A and
    * max-per-B over the same dim-bounded cell frame); nothing scans
    * rows twice. */
  private val q320: Q = (s, d) => {
    import s.implicits._
    def fd(cells: DataFrame, table: String, a: String, b: String)
    : DataFrame = {
      val best = cells.groupBy(col(a)).agg(max($"cnt").as("mx"),
        sum($"cnt").as("tot"))
      best.agg(lit(table).as("table_name"), lit(a).as("determinant"),
        lit(b).as("dependent"),
        sum($"mx").cast("long").as("consistent_rows"),
        sum($"tot").cast("long").as("n_rows"))
        .select($"table_name", $"determinant", $"dependent",
          $"consistent_rows", $"n_rows",
          round($"consistent_rows" / $"n_rows".cast("double"), 6)
            .as("fd_strength"))
    }
    val dc = Tables.documents(s, d).groupBy($"lang", $"source")
      .agg(count(lit(1)).cast("long").as("cnt"))
    val oc = Tables.orders(s, d)
      .groupBy($"o_orderpriority", $"o_orderstatus")
      .agg(count(lit(1)).cast("long").as("cnt"))
    fd(dc, "documents", "lang", "source")
      .unionByName(fd(dc, "documents", "source", "lang"))
      .unionByName(fd(oc, "orders", "o_orderpriority", "o_orderstatus"))
      .unionByName(fd(oc, "orders", "o_orderstatus", "o_orderpriority"))
      .orderBy($"table_name", $"determinant")
  }

  /** Source-pair vocabulary overlap: the Szymkiewicz–Simpson overlap
    * coefficient |Va∩Vb| / min(|Va|,|Vb|) for every source pair — near
    * 1 flags a source as a re-crawl/subset of another, found for the
    * price of a VOCABULARY-keyed join (posting lists of distinct
    * (source, token)), before any per-document dedup machinery runs.
    * The pair frame is |sources|², dimension-bounded. */
  private val q321: Q = (s, d) => {
    import s.implicits._
    val v = Tables.documents(s, d)
      .select($"source", explode(graft.ops.Text.tokens($"text")).as("tok"))
      .distinct()
    val sz = v.groupBy($"source").agg(count(lit(1)).cast("long").as("vs"))
    val inter = v.as("a").join(v.as("b"),
        $"a.tok" === $"b.tok" && $"a.source" < $"b.source")
      .groupBy($"a.source".as("source_a"), $"b.source".as("source_b"))
      .agg(count(lit(1)).cast("long").as("n_common"))
    inter
      .join(sz.select($"source".as("source_a"), $"vs".as("va")),
        Seq("source_a"))
      .join(sz.select($"source".as("source_b"), $"vs".as("vb")),
        Seq("source_b"))
      .select($"source_a", $"source_b", $"n_common",
        round($"n_common" / least($"va", $"vb").cast("double"), 6)
          .as("overlap_coef"))
      .orderBy($"source_a", $"source_b")
  }

  /** Semi-structured schema profile: which JSON keys the `props`
    * column ACTUALLY carries, per event type — coverage (share of
    * events having the key) and an integer-typedness probe (share of
    * present values that parse as integers). The schema that a JSON
    * blob column implies but never declares; at 100 TB this table is
    * what decides which keys get promoted to real (pushdown-capable)
    * columns. One scan, one key explode; the rollup frame is
    * |types|×|keys|. */
  private val q322: Q = (s, d) => {
    import s.implicits._
    val base = Tables.events(s, d)
      .select($"event_type",
        explode(from_json($"props",
          org.apache.spark.sql.types.DataType.fromDDL("map<string,string>")))
          .as(Seq("k", "v")))
    val perType = Tables.events(s, d).groupBy($"event_type")
      .agg(count(lit(1)).cast("long").as("n_events"))
    base.groupBy($"event_type", $"k")
      .agg(count(lit(1)).cast("long").as("n_present"),
        sum(when($"v".rlike("^-?[0-9]+$"), 1L).otherwise(0L))
          .as("n_integer"))
      .join(broadcast(perType), Seq("event_type"))
      .select($"event_type", $"k".as("key"), $"n_present",
        round($"n_present" / $"n_events".cast("double"), 6).as("coverage"),
        round($"n_integer" / $"n_present".cast("double"), 6)
          .as("integer_share"))
      .orderBy($"event_type", $"key")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q320_fd_discovery" -> q320,
    "q321_source_vocab_overlap" -> q321,
    "q322_props_schema_profile" -> q322)

  // ---- oracle SQL -------------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(
    "q320_fd_discovery" ->
      """WITH dc AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS cnt
        |  FROM documents GROUP BY 1, 2),
        |oc AS (SELECT o_orderpriority, o_orderstatus,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM orders GROUP BY 1, 2),
        |u AS (
        |  SELECT 'documents' AS table_name, 'lang' AS determinant,
        |    'source' AS dependent,
        |    CAST(sum(mx) AS BIGINT) AS consistent_rows,
        |    CAST(sum(tot) AS BIGINT) AS n_rows
        |  FROM (SELECT lang, max(cnt) AS mx, sum(cnt) AS tot
        |        FROM dc GROUP BY 1)
        |  UNION ALL
        |  SELECT 'documents', 'source', 'lang',
        |    CAST(sum(mx) AS BIGINT), CAST(sum(tot) AS BIGINT)
        |  FROM (SELECT source, max(cnt) AS mx, sum(cnt) AS tot
        |        FROM dc GROUP BY 1)
        |  UNION ALL
        |  SELECT 'orders', 'o_orderpriority', 'o_orderstatus',
        |    CAST(sum(mx) AS BIGINT), CAST(sum(tot) AS BIGINT)
        |  FROM (SELECT o_orderpriority, max(cnt) AS mx, sum(cnt) AS tot
        |        FROM oc GROUP BY 1)
        |  UNION ALL
        |  SELECT 'orders', 'o_orderstatus', 'o_orderpriority',
        |    CAST(sum(mx) AS BIGINT), CAST(sum(tot) AS BIGINT)
        |  FROM (SELECT o_orderstatus, max(cnt) AS mx, sum(cnt) AS tot
        |        FROM oc GROUP BY 1))
        |SELECT table_name, determinant, dependent, consistent_rows,
        |  n_rows,
        |  round(consistent_rows / CAST(n_rows AS DOUBLE), 6) AS fd_strength
        |FROM u ORDER BY table_name, determinant""".stripMargin,
    "q321_source_vocab_overlap" ->
      """WITH v AS (SELECT DISTINCT source,
        |    unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS vs
        |  FROM v GROUP BY 1),
        |i AS (SELECT a.source AS source_a, b.source AS source_b,
        |    CAST(count(*) AS BIGINT) AS n_common
        |  FROM v a JOIN v b ON a.tok = b.tok AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT source_a, source_b, n_common,
        |  round(n_common / CAST(least(sa.vs, sb.vs) AS DOUBLE), 6)
        |    AS overlap_coef
        |FROM i JOIN sz sa ON source_a = sa.source
        |JOIN sz sb ON source_b = sb.source
        |ORDER BY source_a, source_b""".stripMargin,
    "q322_props_schema_profile" ->
      """WITH b AS (SELECT event_type,
        |    unnest(json_keys(props)) AS k, props
        |  FROM events),
        |x AS (SELECT event_type, k,
        |    json_extract_string(props, '$.' || k) AS v
        |  FROM b),
        |pt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
        |  FROM events GROUP BY 1),
        |g AS (SELECT event_type, k,
        |    CAST(count(*) AS BIGINT) AS n_present,
        |    CAST(sum(CASE WHEN regexp_matches(v, '^-?[0-9]+$')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_integer
        |  FROM x GROUP BY 1, 2)
        |SELECT g.event_type, k AS key, n_present,
        |  round(n_present / CAST(n_events AS DOUBLE), 6) AS coverage,
        |  round(n_integer / CAST(n_present AS DOUBLE), 6) AS integer_share
        |FROM g JOIN pt ON g.event_type = pt.event_type
        |ORDER BY g.event_type, key""".stripMargin)
}
