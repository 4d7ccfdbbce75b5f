package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Bpe, Dedup, Similarity, Sketches, Text}

/** Round-8 second-wave queries: CountMin point queries, soft (cap-k)
  * dedup, the cross-source duplication matrix, embedding whitening, and
  * per-language tokenizer fertility. All but fertility (iterative BPE —
  * not SQL-expressible, golden-pinned) are DuckDB-oracle-checked via the
  * repo's engine-portable md5/decimal discipline. */
object ExtraQueries extends QuerySet {

  /** The synthetic corpus has zero exact duplicates at small SF, so the
    * duplication queries plant them deterministically (q94's precedent for
    * PII): every 7th doc gains a same-source copy, every 5th a copy under
    * a synthetic 'mirror' source — both engines construct the identical
    * augmented frame, so the dedup operators are exercised on real
    * multiplicity and the oracle replays the same unions. */
  private def augDup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id", $"text", $"source")
    val same = docs.where($"doc_id" % 7 === 0)
      .select(($"doc_id" + 1000000L).as("doc_id"), $"text", $"source")
    val cross = docs.where($"doc_id" % 5 === 0)
      .select(($"doc_id" + 2000000L).as("doc_id"), $"text",
        lit("mirror").as("source"))
    docs.unionByName(same).unionByName(cross)
  }

  /** CountMin sketch point queries ([[Sketches.countMinCounts]]): build a
    * deliberately tight 3×16 sketch over the token stream, then probe the
    * top-10 true-frequency tokens — estimates are provably ≥ truth, and at
    * this width collisions are visible, so the one-sided error is part of
    * the checked output, not hidden. The top-10 head is orderBy+limit
    * (TakeOrderedAndProject) over the vocabulary-sized frequency frame —
    * per-partition heaps, no single-partition sort. */
  private val q101: Q = (s, d) => {
    import s.implicits._
    // round-16: guarded fan-out ahead of the token explode (2.2x slower
    // at sf1 on the single-row-group scan)
    val toks = graft.ops.FanOut.perRowCompute(Tables.documents(s, d), "doc_id")
      .select(explode(split($"text", " ")).as("token"))
    val sketch = Sketches.countMinCounts(toks, "token", depth = 3, width = 16)
    val tf = toks.groupBy($"token").agg(count(lit(1)).as("true_cnt"))
    // top-k as orderBy+limit: plans TakeOrderedAndProject (per-partition
    // heaps + small merge), not a single-partition sort of the vocabulary
    val top = tf.orderBy($"true_cnt".desc, $"token").limit(10)
    Sketches.cmsEstimate(sketch, top, "token", depth = 3, width = 16)
      .orderBy($"true_cnt".desc, $"token")
  }

  /** Soft dedup ([[Dedup.softDedupCap]]): cap every content group at 2
    * copies in seed-salted hash order. Docs divisible by 35 carry 3 copies
    * in the augmented frame, so the cap actually cuts. */
  private val q102: Q = (s, d) => {
    import s.implicits._
    Dedup.softDedupCap(augDup(s, d), "doc_id", "text", cap = 2, seed = "soft")
      .select($"doc_id", $"source", $"copy_rank")
      .orderBy($"doc_id")
  }

  /** Cross-source duplication matrix ([[Dedup.crossSourceDupMatrix]]):
    * where the duplication comes from, as unordered source-pair duplicate
    * counts — the planted 'mirror' source shows up as pure cross-source
    * mass, the every-7th copies as within-source mass. */
  private val q103: Q = (s, d) => {
    import s.implicits._
    Dedup.crossSourceDupMatrix(augDup(s, d), "text", "source")
      .orderBy($"source_a", $"source_b")
  }

  /** Embedding whitening ([[Similarity.whitenDims]]): per-dimension
    * corpus standardization, probed on the first 20 vectors. The stats
    * frame is dim-sized and broadcast; the corpus never shuffles. */
  private val q104: Q = (s, d) => {
    import s.implicits._
    Similarity.whitenDims(Tables.embeddings(s, d), "vec_id", "embedding")
      .where($"id" < 20)
      .select($"id".as("vec_id"), $"dim", round($"z", 6).as("z"))
      .orderBy($"vec_id", $"dim")
  }

  /** Tokenizer fertility per language: BPE tokens emitted per whitespace
    * word, from the corpus-trained 50-merge vocabulary (q83's model via
    * the memo — zero retraining) and the native codegen encode. The
    * number a tokenizer team watches per language before committing a
    * vocab. Golden-pinned (iterative BPE has no SQL form). */
  private val q105: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val model = Bpe.trainedModel(docs, "text", nMerges = 50)
    Bpe.encode(docs.select($"doc_id", $"lang", $"text"), "text", model)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(Text.tokenCount($"text")).cast("long").as("n_words"),
        sum(size($"bpe_tokens")).cast("long").as("n_bpe_tokens"))
      .withColumn("fertility", round($"n_bpe_tokens" / $"n_words", 6))
      .orderBy($"lang")
  }

  /** Corpus snapshot diff ([[graft.ops.Curate.corpusDiff]]): v2 is built
    * deterministically from v1 — every 13th doc removed, every 7th
    * surviving doc revised, every 17th re-added under a new id — and the
    * diff report aggregates per status. The versioning primitive an
    * iterating 100 TB curation pipeline runs between releases. */
  /** The deterministic "next release" of the corpus shared by q106/q109:
    * every 13th doc removed, every 7th survivor revised, every 17th
    * re-added under a new id. */
  private def v2Of(v1: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{concat, lit, when}
    v1.where(v1("doc_id") % 13 =!= 0)
      .select(v1("doc_id"),
        when(v1("doc_id") % 7 === 0, concat(v1("text"), lit(" rev2")))
          .otherwise(v1("text")).as("text"))
      .unionByName(v1.where(v1("doc_id") % 17 === 0)
        .select((v1("doc_id") + 3000000L).as("doc_id"),
          concat(v1("text"), lit(" new")).as("text")))
  }

  private val q106: Q = (s, d) => {
    import s.implicits._
    val v1 = Tables.documents(s, d).select($"doc_id", $"text")
    val v2 = v2Of(v1)
    graft.ops.Curate.corpusDiff(v1, v2, "doc_id", "text")
      .groupBy($"status")
      .agg(count(lit(1)).as("n_docs"), min($"id").as("min_id"),
        max($"id").as("max_id"))
      .orderBy($"status")
  }

  /** Weighted sampling without replacement ([[Sampling.weightedSample]],
    * Efraimidis–Spirakis A-ES): 50 docs drawn ∝ n_chars, deterministic
    * from the seed-salted hash draw; plans as TakeOrderedAndProject (no
    * corpus sort or shuffle). Oracle replays the identical draw. */
  private val q107: Q = (s, d) => {
    import s.implicits._
    graft.ops.Sampling.weightedSample(
        Tables.documents(s, d).select($"doc_id", $"n_chars"),
        "doc_id", "n_chars", k = 50, seed = "wrs")
      .select($"doc_id", $"n_chars")
      .orderBy($"doc_id")
  }

  /** Dedup impact report: what each dedup method WOULD remove from the
    * same (augmented) corpus, in one query — the comparison card a
    * curation team reads before picking a method at 100 TB. Exact counts
    * whole non-survivor copies and their token volume; tile counts
    * duplicated 8-token tiles ([[Dedup.tileDedupKeepFirst]]); span counts
    * covered tokens and the docs the 30% ExactSubstr-style drop rule
    * would take ([[Dedup.spanDupCoverage]]). Three bounded aggregates
    * over the method frames, unioned — each method keeps its own
    * candidate-bucketed plan. */
  private val q108: Q = (s, d) => {
    import s.implicits._
    val aug = augDup(s, d)
    val exact = aug
      .withColumn("n_tok", Text.tokenCount($"text"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(md5($"text")).orderBy($"doc_id")))
      .where($"rn" > 1)
      .agg(count(lit(1)).as("docs_affected"),
        coalesce(sum($"n_tok"), lit(0L)).cast("long").as("units_removed"))
      .select(lit("exact").as("method"), $"docs_affected", $"units_removed",
        lit("tokens").as("unit"))
    val tile = Dedup.tileDedupKeepFirst(aug, "doc_id", "text", k = 8,
        tileKey = md5(_))
      .agg(sum(when($"n_kept" < $"n_tiles", 1L).otherwise(0L)).as("docs_affected"),
        sum($"n_tiles" - $"n_kept").cast("long").as("units_removed"))
      .select(lit("tile").as("method"), $"docs_affected", $"units_removed",
        lit("tiles").as("unit"))
    val span = Dedup.spanDupCoverage(aug, "doc_id", "text", k = 8,
        spanKey = md5(_))
      .agg(sum(when($"dup_ratio" > 0.3, 1L).otherwise(0L)).as("docs_affected"),
        sum($"covered_tokens").cast("long").as("units_removed"))
      .select(lit("span").as("method"), $"docs_affected", $"units_removed",
        lit("tokens").as("unit"))
    exact.unionByName(tile).unionByName(span).orderBy($"method")
  }

  /** Token-distribution drift between releases ([[Text.tokenDrift]]):
    * per-token PSI contributions v1 → v2, the between-release monitor.
    * The planted " rev2"/" new" tokens surface as the top movers. */
  private val q109: Q = (s, d) => {
    import s.implicits._
    val v1 = Tables.documents(s, d).select($"doc_id", $"text")
    Text.tokenDrift(v1, v2Of(v1), "text")
      .orderBy($"psi".desc, $"token")
  }

  /** Robust outlier detection: modified z-scores from per-group median +
    * MAD (Iglewicz–Hoaglin's |0.6745·(x−med)/MAD| rule, expressed in the
    * equivalent 1.4826·MAD normalization) — the outlier gate that, unlike
    * q55's mean/σ z-score, a few extreme readings cannot drag. Two
    * bounded aggregate passes (median, then MAD about it) re-attached by
    * broadcast — the fact table never shuffles ([[graft.ops.Normalize]]'s
    * rationale). Exact interpolated percentiles (q64's precedent) keep it
    * oracle-checkable. */
  private val q110: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d).select($"event_type", $"value")
      .where($"value".isNotNull)
    val med = ev.groupBy($"event_type")
      .agg(percentile($"value", lit(0.5)).as("med"))
    val stats = ev.join(broadcast(med), Seq("event_type"))
      .groupBy($"event_type")
      .agg(min($"med").as("med"),
        percentile(abs($"value" - $"med"), lit(0.5)).as("mad"))
    ev.join(broadcast(stats), Seq("event_type"))
      .groupBy($"event_type")
      .agg(
        count(when(abs(($"value" - $"med") / (lit(1.4826) * $"mad")) > 3.5, 1))
          .as("n_outliers"),
        count($"value").as("n_values"),
        round(min($"med"), 6).as("med"), round(min($"mad"), 6).as("mad"))
      .orderBy($"event_type")
  }

  /** ANN recall report: IVF (q41's exact parameters) scored against the
    * brute-force ground truth, per query — the eval a retrieval team runs
    * before trusting an index. Golden-pinned (k-means has no SQL form);
    * the IVF and brute-force results are themselves pinned by q41/q27. */
  private val q111: Q = (s, d) => {
    import s.implicits._
    val e = Similarity.prepared(Tables.embeddings(s, d), "vec_id", "embedding")
    val qs = e.where($"id" < 10)
    val bf = Similarity.knnBruteForce(qs, e, k = 5)
      .select($"query_id", $"neighbor_id")
    val (cells, probe) = Similarity.ivfScaledParams(Similarity.corpusCount(e))
    val ivf = Similarity.knnIvf(qs, e, k = 5, nCells = cells, nProbe = probe)
      .select($"query_id", $"neighbor_id")
    val hits = bf.join(ivf, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy($"query_id").agg(count(lit(1)).as("n_hit"))
    qs.select($"id".as("query_id"))
      .join(hits, Seq("query_id"), "left")
      .select($"query_id",
        (coalesce($"n_hit", lit(0L)) / 5.0).as("recall_at_5"))
      .orderBy($"query_id")
  }

  /** Shard manifest: the integrity datasheet an export publishes next to
    * its shards — per shard, doc count, token volume, and an order-exact
    * content checksum (md5 of the id sequence in shuffle position order).
    * A re-run or a different engine must reproduce every checksum, which
    * is exactly what the oracle asserts. One shard-partitioned sort (the
    * q80 placement) + a per-shard fold. */
  private val q112: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id", $"text")
    graft.ops.Shard.shardAssign(docs, "doc_id", nShards = 8, seed = "man")
      .withColumn("n_tok", Text.tokenCount($"text"))
      .groupBy($"shard")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tok").cast("long").as("n_tokens"),
        md5(array_join(
          transform(array_sort(collect_list(struct($"pos", $"doc_id"))),
            x => x.getField("doc_id").cast("string")), ",")).as("checksum"))
      .orderBy($"shard")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q112_shard_manifest" -> q112,
    "q110_mad_outliers" -> q110,
    "q111_ann_recall"  -> q111,
    "q109_token_drift" -> q109,
    "q108_dedup_report" -> q108,
    "q101_countmin"    -> q101,
    "q102_soft_dedup"  -> q102,
    "q103_dup_matrix"  -> q103,
    "q104_embed_whiten" -> q104,
    "q105_fertility"   -> q105,
    "q106_corpus_diff" -> q106,
    "q107_weighted_sample" -> q107)

  private val augDupSql =
    """WITH aug AS (
      |  SELECT doc_id, text, source FROM documents
      |  UNION ALL SELECT doc_id + 1000000, text, source FROM documents
      |    WHERE doc_id % 7 = 0
      |  UNION ALL SELECT doc_id + 2000000, text, 'mirror' FROM documents
      |    WHERE doc_id % 5 = 0)""".stripMargin

  val oracle: Seq[(String, String)] = Seq(
    "q101_countmin" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |tf AS (SELECT token, count(*) AS true_cnt FROM tok GROUP BY token),
        |top AS (SELECT token, true_cnt FROM (
        |    SELECT token, true_cnt,
        |      row_number() OVER (ORDER BY true_cnt DESC, token) AS rnk FROM tf)
        |  WHERE rnk <= 10),
        |cells AS (SELECT t.r,
        |    CAST('0x' || substr(md5(t.r || ' ' || k.token), 1, 15) AS BIGINT) % 16 AS bucket,
        |    count(*) AS cnt
        |  FROM tok k CROSS JOIN range(3) t(r) GROUP BY 1, 2)
        |SELECT p.token, p.true_cnt, min(coalesce(c.cnt, 0)) AS cms_cnt
        |FROM top p CROSS JOIN range(3) t(r)
        |LEFT JOIN cells c ON c.r = t.r
        |  AND c.bucket = CAST('0x' || substr(md5(t.r || ' ' || p.token), 1, 15) AS BIGINT) % 16
        |GROUP BY p.token, p.true_cnt
        |ORDER BY true_cnt DESC, token""".stripMargin,
    "q102_soft_dedup" -> (augDupSql + """,
        |r AS (SELECT doc_id, source,
        |    CAST(row_number() OVER (PARTITION BY md5(text)
        |      ORDER BY CAST('0x' || substr(md5('soft' || ' ' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT),
        |        doc_id) AS INTEGER) AS copy_rank
        |  FROM aug)
        |SELECT doc_id, source, copy_rank FROM r WHERE copy_rank <= 2
        |ORDER BY doc_id""".stripMargin),
    "q103_dup_matrix" -> (augDupSql + """,
        |g AS (SELECT md5(text) AS fp, source AS src, count(*) AS n
        |  FROM aug GROUP BY 1, 2),
        |m AS (SELECT a.src AS source_a, b.src AS source_b,
        |    CAST(sum(CASE WHEN a.src = b.src THEN a.n * (a.n - 1) // 2
        |      ELSE a.n * b.n END) AS BIGINT) AS dup_pairs
        |  FROM g a JOIN g b ON a.fp = b.fp AND a.src <= b.src
        |  GROUP BY 1, 2)
        |SELECT source_a, source_b, dup_pairs FROM m WHERE dup_pairs > 0
        |ORDER BY source_a, source_b""".stripMargin),
    "q104_embed_whiten" ->
      """WITH e AS (SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS v,
        |    CAST(generate_subscripts(CAST(embedding AS DOUBLE[]), 1) - 1 AS INTEGER) AS dim
        |  FROM embeddings),
        |st AS (SELECT dim, CAST(count(v) AS DOUBLE) AS n,
        |    CAST(sum(CAST(v AS DECIMAL(28,12))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(v * v AS DECIMAL(28,12))) AS DOUBLE) AS sxx
        |  FROM e GROUP BY dim)
        |SELECT e.vec_id, e.dim,
        |  round((e.v - sx / n) / sqrt((sxx - sx * sx / n) / (n - 1.0)), 6) AS z
        |FROM e JOIN st USING (dim) WHERE e.vec_id < 20
        |ORDER BY vec_id, dim""".stripMargin,
    "q106_corpus_diff" ->
      """WITH v1 AS (SELECT doc_id, text FROM documents),
        |v2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' rev2' ELSE text END AS text
        |  FROM v1 WHERE doc_id % 13 <> 0
        |  UNION ALL
        |  SELECT doc_id + 3000000, text || ' new' FROM v1 WHERE doc_id % 17 = 0),
        |j AS (SELECT doc_id, a.fp AS old_fp, b.fp AS new_fp
        |  FROM (SELECT doc_id, md5(text) AS fp FROM v1) a
        |  FULL JOIN (SELECT doc_id, md5(text) AS fp FROM v2) b USING (doc_id)),
        |st AS (SELECT doc_id, CASE WHEN old_fp IS NULL THEN 'added'
        |    WHEN new_fp IS NULL THEN 'removed'
        |    WHEN old_fp = new_fp THEN 'unchanged'
        |    ELSE 'changed' END AS status FROM j)
        |SELECT status, count(*) AS n_docs, min(doc_id) AS min_id,
        |  max(doc_id) AS max_id
        |FROM st GROUP BY status ORDER BY status""".stripMargin,
    "q107_weighted_sample" ->
      """WITH u AS (SELECT doc_id, n_chars,
        |    CAST(CAST('0x' || substr(md5('wrs' || ' ' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) + 1 AS DOUBLE)
        |      / 1152921504606846976.0 AS u
        |  FROM documents WHERE n_chars > 0),
        |s AS (SELECT doc_id, n_chars FROM u
        |  ORDER BY pow(u, 1.0 / CAST(n_chars AS DOUBLE)) DESC, doc_id LIMIT 50)
        |SELECT doc_id, n_chars FROM s ORDER BY doc_id""".stripMargin,
    "q108_dedup_report" -> (augDupSql + """,
        |exa AS (SELECT 'exact' AS method,
        |    CAST(count(*) AS BIGINT) AS docs_affected,
        |    CAST(coalesce(sum(len(string_split(text, ' '))), 0) AS BIGINT) AS units_removed,
        |    'tokens' AS unit
        |  FROM (SELECT text, row_number() OVER (PARTITION BY md5(text)
        |          ORDER BY doc_id) AS rn FROM aug)
        |  WHERE rn > 1),
        |tl0 AS (SELECT doc_id, string_split(text, ' ') AS w FROM aug),
        |tl1 AS (SELECT doc_id, w,
        |    unnest(generate_series(0, (len(w) + 7) // 8 - 1)) AS i FROM tl0),
        |tl2 AS (SELECT doc_id, CAST(i AS INTEGER) AS pos,
        |    array_to_string(list_slice(w, i * 8 + 1, i * 8 + 8), ' ') AS tile FROM tl1),
        |tl3 AS (SELECT doc_id,
        |    row_number() OVER (PARTITION BY md5(tile) ORDER BY doc_id, pos) AS rn FROM tl2),
        |tlagg AS (SELECT doc_id, count(*) AS n_tiles,
        |    sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS n_kept FROM tl3 GROUP BY doc_id),
        |til AS (SELECT 'tile' AS method,
        |    CAST(sum(CASE WHEN n_kept < n_tiles THEN 1 ELSE 0 END) AS BIGINT) AS docs_affected,
        |    CAST(sum(n_tiles - n_kept) AS BIGINT) AS units_removed,
        |    'tiles' AS unit FROM tlagg),
        |sp1 AS (SELECT doc_id, string_split(text, ' ') AS w,
        |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens FROM aug),
        |sp2 AS (SELECT doc_id, w, unnest(range(greatest(n_tokens - 7, 0))) AS pos FROM sp1),
        |sp3 AS (SELECT doc_id, pos, md5(array_to_string(w[pos+1:pos+8], ' ')) AS h FROM sp2),
        |spdup AS (SELECT h FROM sp3 GROUP BY h HAVING count(*) > 1),
        |sphit AS (SELECT doc_id, pos FROM sp3 JOIN spdup USING (h)),
        |spg AS (SELECT doc_id,
        |    pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS gap FROM sphit),
        |spc AS (SELECT doc_id,
        |    CAST(sum(CASE WHEN gap IS NULL OR gap >= 8 THEN 8 ELSE gap END) AS BIGINT) AS covered
        |  FROM spg GROUP BY doc_id),
        |spcov AS (SELECT s1.doc_id, n_tokens, coalesce(covered, 0) AS covered
        |  FROM sp1 s1 LEFT JOIN spc USING (doc_id)),
        |spn AS (SELECT 'span' AS method,
        |    CAST(sum(CASE WHEN covered / n_tokens > 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS docs_affected,
        |    CAST(sum(covered) AS BIGINT) AS units_removed,
        |    'tokens' AS unit FROM spcov)
        |SELECT * FROM exa UNION ALL SELECT * FROM til UNION ALL SELECT * FROM spn
        |ORDER BY method""".stripMargin),
    "q109_token_drift" ->
      """WITH v1 AS (SELECT doc_id, text FROM documents),
        |v2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' rev2' ELSE text END AS text
        |  FROM v1 WHERE doc_id % 13 <> 0
        |  UNION ALL
        |  SELECT doc_id + 3000000, text || ' new' FROM v1 WHERE doc_id % 17 = 0),
        |fo AS (SELECT token, count(*) AS c_old FROM
        |    (SELECT unnest(string_split(text, ' ')) AS token FROM v1) GROUP BY token),
        |fn AS (SELECT token, count(*) AS c_new FROM
        |    (SELECT unnest(string_split(text, ' ')) AS token FROM v2) GROUP BY token),
        |jn AS (SELECT token, coalesce(c_old, 0) AS c_old, coalesce(c_new, 0) AS c_new
        |  FROM fo FULL JOIN fn USING (token)),
        |tot AS (SELECT CAST(sum(c_old) AS DOUBLE) AS n_old,
        |    CAST(sum(c_new) AS DOUBLE) AS n_new,
        |    CAST(count(*) AS DOUBLE) AS v FROM jn)
        |SELECT token, c_old, c_new,
        |  round(((c_old + 1) / (n_old + v) - (c_new + 1) / (n_new + v))
        |    * ln(((c_old + 1) / (n_old + v)) / ((c_new + 1) / (n_new + v))), 9) AS psi
        |FROM jn, tot
        |ORDER BY psi DESC, token""".stripMargin,
    "q110_mad_outliers" ->
      """WITH e AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
        |m AS (SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM e GROUP BY event_type),
        |s AS (SELECT e.event_type, min(med) AS med,
        |    quantile_cont(abs(value - med), 0.5) AS mad
        |  FROM e JOIN m USING (event_type) GROUP BY e.event_type)
        |SELECT e.event_type,
        |  count(*) FILTER (WHERE abs((value - med) / (1.4826 * mad)) > 3.5)
        |    AS n_outliers,
        |  count(value) AS n_values,
        |  round(min(med), 6) AS med, round(min(mad), 6) AS mad
        |FROM e JOIN s USING (event_type)
        |GROUP BY e.event_type ORDER BY event_type""".stripMargin,
    "q112_shard_manifest" ->
      """WITH a AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS n_tok,
        |    CAST(concat('0x', substr(md5(concat('man ',
        |      CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS ord
        |  FROM documents),
        |p AS (SELECT doc_id, n_tok, CAST(ord % 8 AS INTEGER) AS shard,
        |    row_number() OVER (PARTITION BY ord % 8 ORDER BY ord, doc_id) AS pos
        |  FROM a)
        |SELECT shard, count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY pos)) AS checksum
        |FROM p GROUP BY shard ORDER BY shard""".stripMargin)
}
