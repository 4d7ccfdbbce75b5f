package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Curate, Packing, Sampling, Text}

/** FILE→WAVE MAP: Wave21Queries.scala holds round-10 WAVE-24 queries
  * q197–q199 (file numbering lags wave numbering across this package —
  * each file's header carries this map).
  *
  * Training-prep sizing decisions: the context-length truncation curve
  * (what max_seq_len costs in lost tokens), the quality-gate ablation
  * matrix (which Gopher rule is load-bearing vs redundant), and the
  * split-representativeness check (is val/test distributionally like
  * train AFTER leakage-free splitting). All DuckDB-oracle-checked. */
object Wave21Queries extends QuerySet {

  /** Context-length truncation loss ([[Packing.truncationReport]]):
    * for each candidate max_seq_len, documents truncated and corpus
    * token mass lost — one scan, literal length ladder, exact longs
    * until the final ratio. */
  private val q197: Q = (s, d) => {
    import s.implicits._
    Packing.truncationReport(
      Tables.documents(s, d).select(
        Text.tokenCount($"text").cast("long").as("tok")),
      "tok", Seq(32, 64, 128, 256))
  }

  /** Quality-gate ablation matrix ([[Curate.gateAblation]]): per Gopher
    * rule — total failures, UNIQUE failures (docs only this rule
    * kills), and the token mass of the unique kill set. Built on
    * [[Curate.gopherGate]]'s own output so the ablation can never
    * drift from the gate it audits. */
  private val q198: Q = (s, d) => {
    import s.implicits._
    Curate.gateAblation(Tables.documents(s, d), "doc_id", "text")
      .orderBy($"rule")
  }

  private val splitDefs = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  /** Split representativeness after leakage-free splitting: for every
    * split pair, the total-variation distance between unigram token
    * distributions and the shared-vocabulary Jaccard — the check that a
    * cluster-keyed 80/10/10 split didn't concentrate a template family
    * (and its vocabulary) into one split. TV, not KL: exact integer
    * counts flow to ONE double division per term and the terms sum
    * decimal-exact — no logs, no smoothing constant to tune, bounded
    * [0,1] on both engines bit-identically.
    *
    * Scale shape: token counts collapse to one (token, c_train, c_val,
    * c_test) frame (conditional sums — no pivot shuffle); totals are a
    * 1-row broadcast; all three pair distances aggregate in ONE pass
    * over the count frame and melt to 3 rows (the q167 sweep pattern —
    * never one scan per pair). */
  private val q199: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val split = Sampling.leakageFreeSplit(docs, "doc_id",
      Stores.docClusters(s, d), splitDefs)
    val names = splitDefs.map(_._1)
    val perSplit = names.zipWithIndex.map { case (nm, i) =>
      sum(when($"split" === nm, 1L).otherwise(0L)).as(s"c$i")
    }
    val counts = split
      .select($"split", explode(Text.tokens($"text")).as("tok"))
      .groupBy($"tok")
      .agg(perSplit.head, perSplit.tail: _*)
    val perTotal = names.indices.map(i => sum(col(s"c$i")).as(s"t$i"))
    val totals = broadcast(counts.agg(perTotal.head, perTotal.tail: _*))
    val pairs = Seq((0, 1), (0, 2), (1, 2))
    val aggCols = pairs.flatMap { case (a, b) =>
      val term = abs(col(s"c$a").cast("double") / col(s"t$a").cast("double") -
        col(s"c$b").cast("double") / col(s"t$b").cast("double"))
      Seq(
        sum(round(term, 9).cast("decimal(28,12)")).as(s"tv_${a}_$b"),
        sum((col(s"c$a") > 0 && col(s"c$b") > 0).cast("long")).as(s"i_${a}_$b"),
        sum((col(s"c$a") > 0 || col(s"c$b") > 0).cast("long")).as(s"u_${a}_$b"))
    }
    val melted = pairs.map { case (a, b) =>
      struct(lit(s"${names(a)}-${names(b)}").as("pair"),
        round(col(s"tv_${a}_$b").cast("double") / 2.0, 9).as("tv_distance"),
        round(col(s"i_${a}_$b").cast("double") /
          col(s"u_${a}_$b").cast("double"), 9).as("shared_vocab_frac"))
    }
    counts.crossJoin(totals)
      .agg(aggCols.head, aggCols.tail: _*)
      .select(posexplode(array(melted: _*)).as(Seq("__i", "r")))
      .select($"r.pair", $"r.tv_distance", $"r.shared_vocab_frac")
      .orderBy($"pair")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q197_truncation_loss" -> q197,
    "q198_gate_ablation" -> q198,
    "q199_split_divergence" -> q199)

  // ---- oracle SQL -------------------------------------------------------

  private val gateSql =
    """m AS (SELECT doc_id,
      |    len(string_split(text, ' ')) AS n_words,
      |    round(CAST(length(replace(text, ' ', '')) AS DOUBLE) /
      |      len(string_split(text, ' ')), 6) AS mean_wlen,
      |    round(CAST(len(list_filter(string_split(text, ' '),
      |        x -> x IN ('the', 'a', 'of', 'to', 'and', 'in'))) AS DOUBLE) /
      |      len(string_split(text, ' ')), 6) AS stop_frac,
      |    round(CAST(list_max(list_transform(list_distinct(string_split(text, ' ')),
      |        d -> len(list_filter(string_split(text, ' '), x -> x = d)))) AS DOUBLE) /
      |      len(string_split(text, ' ')), 6) AS top_word_frac
      |  FROM documents),
      |f AS (SELECT doc_id, n_words,
      |    NOT (n_words BETWEEN 20 AND 100000) AS f_words,
      |    NOT (mean_wlen BETWEEN 4.0 AND 10.0) AS f_wlen,
      |    NOT (stop_frac >= 0.02) AS f_stop,
      |    NOT (top_word_frac <= 0.2) AS f_top
      |  FROM m),
      |nf AS (SELECT *,
      |    CAST(f_words AS INT) + CAST(f_wlen AS INT) + CAST(f_stop AS INT) +
      |    CAST(f_top AS INT) AS n_fails
      |  FROM f)""".stripMargin

  val oracle: Seq[(String, String)] = Seq(
    "q197_truncation_loss" ->
      """WITH t AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
        |  FROM documents),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(tok) AS BIGINT) AS total FROM t),
        |l(ctx_len) AS (VALUES (32), (64), (128), (256))
        |SELECT l.ctx_len,
        |  tot.n AS n_docs,
        |  CAST(sum(CASE WHEN t.tok > l.ctx_len THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_truncated,
        |  tot.total AS total_tokens,
        |  CAST(sum(least(t.tok, CAST(l.ctx_len AS BIGINT))) AS BIGINT)
        |    AS kept_tokens,
        |  round(1.0 - CAST(sum(least(t.tok, CAST(l.ctx_len AS BIGINT)))
        |      AS DOUBLE) / CAST(tot.total AS DOUBLE), 9) AS loss_frac
        |FROM t CROSS JOIN l CROSS JOIN tot
        |GROUP BY l.ctx_len, tot.n, tot.total
        |ORDER BY l.ctx_len""".stripMargin,
    "q198_gate_ablation" ->
      s"""WITH $gateSql,
         |r(rule) AS (VALUES ('n_words'), ('mean_wlen'), ('stop_frac'),
         |  ('top_word_frac'))
         |SELECT r.rule,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE r.rule
         |    WHEN 'n_words' THEN CAST(nf.f_words AS INT)
         |    WHEN 'mean_wlen' THEN CAST(nf.f_wlen AS INT)
         |    WHEN 'stop_frac' THEN CAST(nf.f_stop AS INT)
         |    ELSE CAST(nf.f_top AS INT) END) AS BIGINT) AS n_fail,
         |  CAST(sum(CASE WHEN nf.n_fails = 1 THEN CASE r.rule
         |    WHEN 'n_words' THEN CAST(nf.f_words AS INT)
         |    WHEN 'mean_wlen' THEN CAST(nf.f_wlen AS INT)
         |    WHEN 'stop_frac' THEN CAST(nf.f_stop AS INT)
         |    ELSE CAST(nf.f_top AS INT) END ELSE 0 END) AS BIGINT)
         |    AS n_fail_unique,
         |  CAST(sum(CASE WHEN nf.n_fails = 1 THEN nf.n_words * (CASE r.rule
         |    WHEN 'n_words' THEN CAST(nf.f_words AS INT)
         |    WHEN 'mean_wlen' THEN CAST(nf.f_wlen AS INT)
         |    WHEN 'stop_frac' THEN CAST(nf.f_stop AS INT)
         |    ELSE CAST(nf.f_top AS INT) END) ELSE 0 END) AS BIGINT)
         |    AS tokens_lost_unique
         |FROM nf CROSS JOIN r
         |GROUP BY r.rule ORDER BY r.rule""".stripMargin,
    "q199_split_divergence" -> {
      val t1 = graft.ops.Sampling.hexThreshold(0.8)
      val t2 = graft.ops.Sampling.hexThreshold(0.8 + 0.1)
      s"""WITH RECURSIVE
         |${Wave17Queries.ccSql},
         |keyed AS (SELECT d.doc_id, d.text,
         |    coalesce(c.comp, d.doc_id) AS split_key
         |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
         |sp AS (SELECT doc_id, text,
         |  CASE WHEN md5(CAST(split_key AS VARCHAR)) < '$t1' THEN 'train'
         |       WHEN md5(CAST(split_key AS VARCHAR)) < '$t2' THEN 'val'
         |       ELSE 'test' END AS split
         |  FROM keyed),
         |tok AS (SELECT split, unnest(string_split(text, ' ')) AS tok FROM sp),
         |cts AS (SELECT tok,
         |    CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS c0,
         |    CAST(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         |    CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS c2
         |  FROM tok GROUP BY tok),
         |tt AS (SELECT CAST(sum(c0) AS BIGINT) AS t0,
         |    CAST(sum(c1) AS BIGINT) AS t1b, CAST(sum(c2) AS BIGINT) AS t2b
         |  FROM cts),
         |agg AS (SELECT
         |  sum(CAST(round(abs(CAST(c0 AS DOUBLE) / CAST(t0 AS DOUBLE) -
         |    CAST(c1 AS DOUBLE) / CAST(t1b AS DOUBLE)), 9) AS DECIMAL(28,12)))
         |    AS tv01,
         |  sum(CAST(round(abs(CAST(c0 AS DOUBLE) / CAST(t0 AS DOUBLE) -
         |    CAST(c2 AS DOUBLE) / CAST(t2b AS DOUBLE)), 9) AS DECIMAL(28,12)))
         |    AS tv02,
         |  sum(CAST(round(abs(CAST(c1 AS DOUBLE) / CAST(t1b AS DOUBLE) -
         |    CAST(c2 AS DOUBLE) / CAST(t2b AS DOUBLE)), 9) AS DECIMAL(28,12)))
         |    AS tv12,
         |  CAST(sum(CASE WHEN c0 > 0 AND c1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS i01,
         |  CAST(sum(CASE WHEN c0 > 0 OR c1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS u01,
         |  CAST(sum(CASE WHEN c0 > 0 AND c2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS i02,
         |  CAST(sum(CASE WHEN c0 > 0 OR c2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS u02,
         |  CAST(sum(CASE WHEN c1 > 0 AND c2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS i12,
         |  CAST(sum(CASE WHEN c1 > 0 OR c2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS u12
         |  FROM cts CROSS JOIN tt)
         |SELECT 'train-val' AS pair,
         |  round(CAST(tv01 AS DOUBLE) / 2.0, 9) AS tv_distance,
         |  round(CAST(i01 AS DOUBLE) / CAST(u01 AS DOUBLE), 9)
         |    AS shared_vocab_frac FROM agg
         |UNION ALL
         |SELECT 'train-test',
         |  round(CAST(tv02 AS DOUBLE) / 2.0, 9),
         |  round(CAST(i02 AS DOUBLE) / CAST(u02 AS DOUBLE), 9) FROM agg
         |UNION ALL
         |SELECT 'val-test',
         |  round(CAST(tv12 AS DOUBLE) / 2.0, 9),
         |  round(CAST(i12 AS DOUBLE) / CAST(u12 AS DOUBLE), 9) FROM agg
         |ORDER BY pair""".stripMargin
    })
}
