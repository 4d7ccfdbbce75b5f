package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table: tokenization, quality scoring, language ID,
  * fingerprinting. Everything is built from codegen'd higher-order
  * functions (`transform`/`filter`/`aggregate`) — no UDFs, no shuffle:
  * each operator is a per-row projection, so at 100 TB it runs entirely
  * map-side inside whole-stage codegen.
  */
object Text {

  /** Whitespace tokenization (the corpus is single-space separated). */
  def tokens(text: Column): Column = split(text, " ")

  def tokenCount(text: Column): Column = size(tokens(text))

  def distinctTokenCount(text: Column): Column = size(array_distinct(tokens(text)))

  /** Sum of token lengths via an `aggregate` fold — oracle:
    * `list_sum(list_transform(string_split(text,' '), x -> length(x)))`. */
  def sumTokenLen(text: Column): Column =
    aggregate(transform(tokens(text), t => length(t)), lit(0), (a, x) => a + x)

  /** BPE-ish token count: alphanumeric runs plus individual non-space
    * symbols — the cheap proxy for subword-tokenizer counts used to
    * budget training data. Kept to an ASCII character-class regex so the
    * Java (Spark) and RE2 (DuckDB oracle) dialects agree. */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-z0-9]+|[^a-z0-9 ]"), lit(0)))

  /** Common-word list used by quality scoring (public stopword heads). */
  val stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

  def stopwordCount(text: Column, words: Seq[String] = stopwords): Column =
    size(filter(tokens(text), t => array_contains(typedLit(words), t)))

  /** Heuristic document-quality score in [0,1]: favors reasonable length,
    * low stopword density, and plausible mean word length. The exact
    * arithmetic shape (operand order, least/greatest) is mirrored in the
    * DuckDB oracle so both engines produce bit-identical doubles. */
  def qualityScore(wordCount: Column, stopRatio: Column, avgWordLen: Column): Column =
    least(lit(1.0), wordCount / lit(100.0)) * lit(0.4) +
      (lit(1.0) - stopRatio) * lit(0.3) +
      least(lit(1.0), avgWordLen / lit(8.0)) * lit(0.3)

  /** Marker (stopword) lists per language for n-gram/stopword language ID.
    * Public most-frequent-word heads; the heuristic is: score(lang) =
    * number of tokens found in that language's marker list, argmax with a
    * fixed tie-break order. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein", "zu"),
    "es" -> Seq("el", "la", "que", "los", "es", "un", "en"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "他"))

  /** Per-language marker-hit scores; columns named `s_<lang>`. */
  def langScores(text: Column): Seq[(String, Column)] =
    langScoresTokens(tokens(text))

  /** [[langScores]] over an already-tokenized array — lets a caller
    * score SEGMENTS of a document (slices of one tokenization) without
    * re-splitting ([[codeSwitch]]). */
  def langScoresTokens(toks: Column): Seq[(String, Column)] =
    langMarkers.map { case (lang, words) =>
      lang -> size(filter(toks, t => array_contains(typedLit(words), t)))
    }

  /** Argmax over the scores with deterministic tie-break (marker order). */
  def langPredict(scores: Seq[(String, Column)]): Column = {
    val preds = scores.zipWithIndex.map { case ((lang, c), i) =>
      val beatsAll = scores.map(_._2).zipWithIndex.collect {
        case (other, j) if j != i => c >= other
      }.reduce(_ && _)
      (lang, beatsAll)
    }
    preds.init.foldRight(lit(preds.last._1)) { case ((lang, cond), els) =>
      when(cond, lit(lang)).otherwise(els)
    }
  }

  /** Code-switch detection: language-ID the HEAD and TAIL halves of each
    * document independently and flag documents whose halves disagree —
    * the cheap screen for concatenation artifacts (two sources glued into
    * one record) and genuinely mixed-language text, both of which poison
    * language-filtered training mixes. Head = first ⌈n/2⌉ tokens, tail =
    * the rest; one tokenization, two slices ([[langScoresTokens]]), all
    * map-side — the operator adds no shuffle to a scan.
    *
    * `is_switch` requires ≥ 2 tokens (a halved singleton has an empty
    * tail whose all-zero scores argmax to the tie-break default — not a
    * signal). */
  def codeSwitch(df: org.apache.spark.sql.DataFrame, idCol: String,
                 textCol: String): org.apache.spark.sql.DataFrame = {
    val toks = tokens(col(textCol))
    val n = size(toks)
    val half = ceil(n / lit(2.0)).cast("int")
    val head = slice(toks, lit(1), half)
    val tail = slice(toks, half + 1, n - half)
    df.select(col(idCol), n.as("n_tokens"),
        langPredict(langScoresTokens(head)).as("lang_head"),
        langPredict(langScoresTokens(tail)).as("lang_tail"))
      .withColumn("is_switch",
        $"n_tokens" >= 2 && $"lang_head" =!= $"lang_tail")
  }

  /** Word n-gram shingles, same values as the DuckDB oracle's
    * `w[i] || ' ' || w[i+1] || ' ' || w[i+2]`. Empty array when the
    * document is shorter than n.
    *
    * Shape matters: built by zipping n shifted slices of the token array
    * (`zip_with(slice(toks,1,m), slice(toks,2,m), ...)`) rather than
    * `transform(sequence(1,m), i -> slice(toks, i, n))`. In the transform
    * form `toks` is CAPTURED by the lambda, and Catalyst re-evaluates the
    * captured `split()` at every position — quadratic per document
    * (measured 3× end-to-end on the shingle explode at sf0.1). In the
    * zip_with form every slice is an HOF *argument*, evaluated once per
    * row; the lambdas touch only their element variables. */
  def shingles(text: Column, n: Int = 3): Column = {
    val toks = tokens(text)
    val m = size(toks) - (n - 1)
    val parts = (0 until n).map(i => slice(toks, lit(i + 1), m))
    val joined = parts.reduceLeft((acc, p) => zip_with(acc, p, (a, b) => concat(a, lit(" "), b)))
    when(size(toks) >= n, joined).otherwise(array().cast("array<string>"))
  }

  /** Gopher-style repetition signals (Rae et al. 2021 §A1.1): per document
    * and n-gram order, the duplicate-n-gram fraction
    * (1 − distinct/total) and the top-n-gram coverage (occurrences of the
    * most frequent n-gram / total). High values flag boilerplate and
    * degenerate repetition — a standard LLM training-data quality rule.
    *
    * Pure map-side projection, no shuffle. The n-gram arrays are projected
    * to attributes FIRST so the nested occurrence-count lambdas capture a
    * column read, not a re-evaluated shingling expression (the HOF trap);
    * the count itself is O(|distinct|·|g|) per row on short arrays. */
  def repetitionSignals(df: org.apache.spark.sql.DataFrame, idCol: String,
                        textCol: String, ns: Seq[Int] = Seq(2, 3)): org.apache.spark.sql.DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val in = FanOut.perRowCompute(df, idCol)
    val projected = in.select(col(idCol) +: ns.map(n =>
      shingles(col(textCol), n).as(s"g$n")): _*)
    val sigCols = ns.flatMap { n =>
      val g = col(s"g$n")
      val total = size(g)
      val dup = when(total > 0,
        lit(1.0) - size(array_distinct(g)) / total).otherwise(0.0)
      // max occurrence count via the native array_top_count expression —
      // one hashmap pass per row. The built-in formulations are
      // O(|distinct|·|g|) lambda dispatches (measured 6.6s at sf0.1) or
      // an interpreted struct-fold over a sort (2.6s); the native pass
      // keeps the whole projection inside codegen.
      val top = when(total > 0, call_function("array_top_count", g) / total).otherwise(0.0)
      Seq(dup.as(s"dup_${n}gram_frac"), top.as(s"top_${n}gram_frac"))
    }
    projected.select(col(idCol) +: sigCols: _*)
  }

  /** Overlapping token-window chunking — the document → embedding-unit
    * step of a retrieval/embedding pipeline: each document becomes
    * ceil(max(|tokens| − overlap, 1) / (chunkSize − overlap)) chunks of up
    * to `chunkSize` tokens, consecutive chunks sharing `overlap` tokens.
    * Returns (id, chunk_idx, chunk_text, chunk_tokens) rows.
    *
    * Shape: the token array is projected to an attribute FIRST, so the
    * per-chunk `slice` lambdas capture a column read, not a re-evaluated
    * `split` (the HOF trap); the fan-out is a single posexplode — one
    * map-side generate, no shuffle. */
  def chunkTokens(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                  chunkSize: Int, overlap: Int): org.apache.spark.sql.DataFrame = {
    require(chunkSize >= 1 && overlap >= 0 && overlap < chunkSize,
      s"need 0 <= overlap < chunkSize (got chunkSize=$chunkSize, overlap=$overlap)")
    val step = chunkSize - overlap
    // round-16 fan-out: tokenize + per-chunk slice/concat per row
    // (q51 1.66x slower at sf1 without it)
    val withToks = FanOut.perRowCompute(df, idCol)
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
    val nChunks = greatest(lit(1),
      expr(s"(size(__toks) - $overlap + $step - 1) div $step"))
    val chunks = transform(sequence(lit(0), nChunks - 1),
      i => slice($"__toks", i * step + 1, lit(chunkSize)))
    withToks
      .select(col(idCol), posexplode(chunks).as(Seq("chunk_idx", "__chunk")))
      .select(col(idCol), $"chunk_idx",
        concat_ws(" ", $"__chunk").as("chunk_text"),
        size($"__chunk").as("chunk_tokens"))
  }

  /** Ordered regex scrubbing — the text-cleaning / PII-redaction step of
    * a curation pipeline (strip numeric identifiers, normalize
    * whitespace, mask emails, …) as a pure map-side fold of
    * `regexp_replace`s. Rules apply in sequence, each replacing ALL
    * matches. Patterns should stay in the RE2-compatible subset so the
    * same rules run on any engine (the DuckDB oracle verifies q49's rules
    * verbatim). */
  def scrub(text: Column, rules: Seq[(String, String)]): Column =
    rules.foldLeft(text) { case (acc, (pattern, replacement)) =>
      regexp_replace(acc, pattern, replacement)
    }

  /** Per-document unigram (token) entropy — the information-density
    * quality signal: degenerate/boilerplate text scores low, varied text
    * scores near ln(n_tokens). Pure map-side projection, no shuffle.
    *
    * Determinism across engines: per-term contributions are summed in
    * SORTED term order (IEEE addition is order-sensitive in the low
    * bits; the DuckDB oracle folds over the sorted distinct-token list).
    * Computed by the native [[graft.functions.TokenEntropy]] expression —
    * one hashmap pass + one distinct-term sort per row, bit-identical to
    * the HOF formulation ([[tokenEntropyHof]], kept as the cross-check
    * path), which pays O(|distinct|·n) lambda dispatches per row
    * (measured 2.2 s vs ~0.4 s at sf0.1). */
  def tokenEntropy(df: org.apache.spark.sql.DataFrame, idCol: String,
                   textCol: String): org.apache.spark.sql.DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    // round-16 fan-out: tokenize + per-row entropy (q61 1.64x slower at
    // sf1 without it — the last un-opted-in per-row-compute entry)
    FanOut.perRowCompute(df, idCol)
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        size($"__toks").as("n_tokens"),
        round(call_function("token_entropy", $"__toks"), 6).as("token_entropy"))
  }

  /** The built-ins-only HOF formulation of [[tokenEntropy]] — the token
    * array is projected to an attribute first so the occurrence-count
    * lambda captures a column read, not a re-evaluated split (the HOF
    * trap). Kept as the cross-check path for the native expression
    * (OpsSpec asserts bit-equality). */
  private[graft] def tokenEntropyHof(df: org.apache.spark.sql.DataFrame, idCol: String,
                                     textCol: String): org.apache.spark.sql.DataFrame = {
    val p = df.select(col(idCol), tokens(col(textCol)).as("__toks"))
    val n = size($"__toks").cast("double")
    val terms = transform(array_sort(array_distinct($"__toks")), t => {
      val c = size(filter($"__toks", x => x === t)).cast("double")
      (c / n) * log(c / n)
    })
    p.select(col(idCol),
      size($"__toks").as("n_tokens"),
      round(-aggregate(terms, lit(0.0), (acc, x) => acc + x), 6).as("token_entropy"))
  }

  /** Top-N characteristic terms per document by TF-IDF
    * (tf · ln(N/df)), the classic keyword-extraction / indexing step.
    * Ranking is by the ROUNDED score (6 dp) with the term as tie-break:
    * rounding first makes the rank robust to last-ulp `ln` differences
    * between engines (mathematically equal scores — e.g. tf=1,df=N/4 vs
    * tf=2,df=N/2 — round identically and fall through to the term).
    *
    * Plan shape: explode → (doc,term) count → term-frequency aggregate
    * joined back on term (AQE picks broadcast when the vocabulary is
    * small), corpus size N attached as a broadcast 1-row cross join —
    * no driver collect, no global window; the per-doc top-N runs under
    * Spark's rank-limit pushdown. */
  def tfidfTopTerms(df: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String, topN: Int = 3): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = FanOut.perRowCompute(df, idCol)
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), $"term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val nDocs = df.agg(count(lit(1)).as("__n_docs"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf", round($"tf" * log($"__n_docs".cast("double") / $"df"), 6))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col(idCol)).orderBy($"tfidf".desc, $"term")).cast("int"))
      .where($"rnk" <= topN)
      .select(col(idCol), $"term", $"tf", $"df", $"tfidf", $"rnk")
  }

  /** Corpus-unigram log-probability quality score — the language-model
    * filter of CCNet-style curation (Wenzek et al., "CCNet: Extracting
    * High Quality Monolingual Datasets from Web Crawl Data", LREC 2020)
    * with the LM reduced to the corpus's own unigram distribution: each
    * document scores mean ln p(token), p(token) = corpus frequency.
    * Gibberish / rare-token-heavy documents score low; no OOV smoothing
    * is needed because the vocabulary IS the corpus's.
    *
    * Plan shape (same as [[tfidfTopTerms]]): explode → token-frequency
    * aggregate joined back (broadcast when the vocabulary is small),
    * corpus token count N attached as a broadcast 1-row cross join, one
    * per-doc aggregation. Cross-engine determinism: each per-token ln is
    * rounded to 9 dp and summed as DECIMAL(18,9) — the sum is then
    * order-independent, so the DuckDB oracle hash-matches regardless of
    * either engine's reduction order. */
  def unigramLogProb(df: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String): org.apache.spark.sql.DataFrame = {
    // round-16 fan-out ahead of the tokenize+explode (single-row-group
    // scans otherwise run the whole posting emission on one core)
    val fanned = FanOut.perRowCompute(df, idCol)
    val toks = fanned.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
    val freq = toks.groupBy($"tok").agg(count(lit(1)).as("n_t"))
    val total = freq.agg(sum($"n_t").as("__n_total"))
    toks.join(freq, "tok")
      .crossJoin(broadcast(total))
      .withColumn("lp", round(log($"n_t" / $"__n_total".cast("double")), 9)
        .cast(org.apache.spark.sql.types.DecimalType(18, 9)))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum($"lp").cast("double") / count(lit(1)), 6).as("logprob"))
  }

  /** Interpolated bigram LM scoring — the distributed reduction of
    * KenLM-style perplexity filtering (CCNet scores docs with a 5-gram
    * KenLM; the honest in-engine form is an interpolated bigram model,
    * the largest order whose statistics stay exact at corpus scale):
    * each document scores the mean log of
    *
    *   p(w_i | w_{i-1}) = λ · n(w_{i-1} w_i)/n(w_{i-1}) + (1−λ) · n(w_i)/N
    *
    * with the document's FIRST token scored by the unigram term alone
    * (no history). Interpolation (not backoff-with-discount) keeps the
    * estimator a pure ratio of exact counts — no tuned discounts — and
    * never zero on observed text. Low scores = improbable token
    * transitions: gibberish, shuffled text, boilerplate stitching.
    *
    * Plan shape: one 2-shingle explode feeds the bigram counts, the
    * unigram pass reuses [[unigramLogProb]]'s shape, both join back to
    * the positional token stream; totals ride a broadcast 1-row frame.
    * Same cross-engine float discipline as [[unigramLogProb]]: each
    * per-position log is rounded to 9 dp and summed as DECIMAL(18,9). */
  def bigramLogProb(df: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String, lambda: Double = 0.75): org.apache.spark.sql.DataFrame = {
    require(lambda > 0.0 && lambda < 1.0, s"lambda must be in (0,1): $lambda")
    val d189 = org.apache.spark.sql.types.DecimalType(18, 9)
    // round-16 fan-out: two tokenize+explode passes per row feed the
    // posting counts — the heaviest of the un-opted-in text paths
    val fanned = FanOut.perRowCompute(df, idCol)
    val toks = fanned.select(col(idCol), posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
    val prevCur = fanned.select(col(idCol),
        posexplode(shingles(col(textCol), 2)).as(Seq("bpos", "bg")))
      .select(col(idCol), ($"bpos" + 1).as("pos"), $"bg",
        substring_index($"bg", " ", 1).as("prev"))
    val uni = toks.groupBy($"tok").agg(count(lit(1)).as("n_u"))
    val big = prevCur.groupBy($"bg").agg(count(lit(1)).as("n_bg"))
    val total = uni.agg(sum($"n_u").as("__n_total"))
    val scored = toks
      .join(prevCur.select(col(idCol), $"pos", $"bg", $"prev"), Seq(idCol, "pos"), "left")
      .join(uni, Seq("tok"))
      .join(uni.select($"tok".as("prev"), $"n_u".as("n_prev")), Seq("prev"), "left")
      .join(big, Seq("bg"), "left")
      .crossJoin(broadcast(total))
      .withColumn("p_uni", $"n_u" / $"__n_total".cast("double"))
      .withColumn("p", when($"bg".isNull, $"p_uni")
        .otherwise(lit(lambda) * ($"n_bg" / $"n_prev".cast("double")) +
          lit(1.0 - lambda) * $"p_uni"))
      .withColumn("lp", round(log($"p"), 9).cast(d189))
    scored.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum($"lp").cast("double") / count(lit(1)), 6).as("bigram_logprob"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, §3 — hashed n-gram
    * importance resampling, reduced here to the unigram feature family):
    * each document scores the mean log-likelihood RATIO of its tokens
    * under a target-domain unigram LM vs the raw-corpus unigram LM,
    *
    *   weight(d) = (1/|d|) Σ_tok [ ln p_target(tok) − ln p_raw(tok) ]
    *
    * with add-one smoothing over the SHARED vocabulary (the raw corpus's
    * — the target is a subset, so every target token is in-vocabulary
    * and both distributions are supported everywhere). High weight =
    * "looks like the target domain"; downstream, resampling by these
    * weights (e.g. [[Sampling.deterministicSample]] gated on a weight
    * threshold) tilts a raw corpus toward a quality/domain target
    * without training a classifier.
    *
    * `targetPred` selects the target-domain rows from `df` itself (the
    * usual DSIR setup scores a big raw crawl against a small trusted
    * subset — curated sources, high-quality split).
    *
    * Plan shape: one explode feeding BOTH frequency aggregates (raw, and
    * conditionally-counted target — a single shuffle on token, partials
    * map-side), scalar totals broadcast, one join back, one per-doc
    * aggregation. Same cross-engine float discipline as
    * [[unigramLogProb]]: per-token log-ratios rounded to 9 dp and summed
    * as DECIMAL(18,9), so the sum is reduction-order-independent. */
  def dsirWeights(df: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String, targetPred: Column): org.apache.spark.sql.DataFrame = {
    val d189 = org.apache.spark.sql.types.DecimalType(18, 9)
    val toks = FanOut.perRowCompute(df, idCol)
      .select(col(idCol), explode(tokens(col(textCol))).as("tok"),
        targetPred.as("is_target"))
    val freq = toks.groupBy($"tok").agg(
      count(lit(1)).as("n_r"),
      sum(when($"is_target", 1L).otherwise(0L)).as("n_t"))
    val totals = freq.agg(
      sum($"n_r").as("__nr_total"), sum($"n_t").as("__nt_total"),
      count(lit(1)).as("__vocab"))
    toks.join(freq, "tok")
      .crossJoin(broadcast(totals))
      .withColumn("lr", round(
        log(($"n_t" + 1) / ($"__nt_total" + $"__vocab").cast("double")) -
          log(($"n_r" + 1) / ($"__nr_total" + $"__vocab").cast("double")), 9)
        .cast(d189))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum($"lr").cast("double") / count(lit(1)), 6).as("dsir_weight"))
  }

  /** Winnowing fingerprints (Schleimer et al., SIGMOD'03): hash every
    * k-gram, slide a window of `w` hashes, keep each window's minimum.
    * Guarantees any shared run of ≥ w+k-1 tokens yields a shared
    * fingerprint. Returns (doc_id, fp) rows, one per distinct fingerprint.
    *
    * Computed by the native [[graft.functions.WinnowFingerprints]]
    * expression — a pure map-side projection (hash + sliding min + dedup
    * inside one row). The journey here is the whole optimization story in
    * miniature: the pure-HOF form re-evaluated the captured hash array per
    * position (quadratic, ~20× slower); the posexplode + window-function
    * form ([[winnowFingerprintRowsWindowed]], kept as the cross-check
    * path) fixed that but shuffles every k-gram row by document to order
    * the window frames; the native expression needs no shuffle at all. */
  def winnowFingerprintRows(df: org.apache.spark.sql.DataFrame, idCol: String,
                            textCol: String, k: Int = 3, w: Int = 4): org.apache.spark.sql.DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    // no isNotNull filter: explode emits nothing for NULL/empty arrays
    // already, and a filter on the aliased expression would be pushed
    // below the projection and evaluate the whole fingerprint pass twice
    FanOut.perRowCompute(df, idCol)
      .select(col(idCol).as("doc_id"),
        call_function("winnow_fps", shingles(col(textCol), k), lit(w)).as("fps"))
      .select($"doc_id", explode($"fps").as("fp"))
  }

  /** The posexplode + sliding-min-window formulation — built-ins only,
    * one shuffle hash-partitioned by document. Kept as the cross-check
    * path for the native expression (OpsSpec asserts set equality). */
  private[graft] def winnowFingerprintRowsWindowed(
      df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, k: Int = 3, w: Int = 4): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = df.select(col(idCol).as("doc_id"),
        posexplode(shingles(col(textCol), k)).as(Seq("pos", "sh")))
      .select($"doc_id", $"pos", xxhash64($"sh").as("h"))
    val slide = Window.partitionBy($"doc_id").orderBy($"pos")
      .rowsBetween(Window.currentRow, w - 1)
    val whole = Window.partitionBy($"doc_id")
    sh.withColumn("fp", min($"h").over(slide))
      .withColumn("last_pos", max($"pos").over(whole))
      // full windows only; a doc with fewer than w k-grams contributes its
      // single global minimum (the pos-0 "window")
      .where($"pos" <= $"last_pos" - (w - 1) || ($"last_pos" < w - 1 && $"pos" === 0))
      .select($"doc_id", $"fp")
      .distinct()
  }

  /** Token-distribution drift between two corpus versions — per-token
    * Population Stability Index contributions, the monitor a pipeline
    * watches between releases to catch a scraper change or a filter
    * regression before training does. PSIᵢ = (pᵢ − qᵢ)·ln(pᵢ/qᵢ), always
    * ≥ 0, with add-one smoothing over the UNION vocabulary so a token
    * absent from one side stays finite.
    *
    * Shape: each side collapses to its vocabulary-sized frequency frame
    * (one explode + two-phase agg — the only shuffles, carrying token
    * counts); the vocab-level outer join and the scalar totals broadcast.
    * Decimal-rounded at 9dp ([[dsirWeights]]' discipline) so the doubles
    * — and hence the drift ranking — are engine-exact. */
  def tokenDrift(oldDf: org.apache.spark.sql.DataFrame,
                 newDf: org.apache.spark.sql.DataFrame,
                 textCol: String): org.apache.spark.sql.DataFrame = {
    def freq(df: org.apache.spark.sql.DataFrame) =
      df.select(explode(tokens(col(textCol))).as("token"))
        .groupBy($"token").agg(count(lit(1)).as("c"))
    val a = freq(oldDf).withColumnRenamed("c", "c_old")
    val b = freq(newDf).withColumnRenamed("c", "c_new")
    val j = a.join(b, Seq("token"), "full_outer")
      .select($"token", coalesce($"c_old", lit(0L)).as("c_old"),
        coalesce($"c_new", lit(0L)).as("c_new"))
    val tot = j.agg(sum($"c_old").cast("double").as("n_old"),
      sum($"c_new").cast("double").as("n_new"),
      count(lit(1)).cast("double").as("v"))
    val p = ($"c_old" + 1) / ($"n_old" + $"v")
    val q = ($"c_new" + 1) / ($"n_new" + $"v")
    j.join(broadcast(tot))
      .select($"token", $"c_old", $"c_new",
        round((p - q) * log(p / q), 9).as("psi"))
  }

  /** Lexical-diversity / vocabulary-growth datasheet per group (e.g.
    * language): total tokens, vocabulary size, hapax legomena, TTR,
    * hapax fraction, and a HEAPS' LAW fit — β and log K from the
    * least-squares line ln V = log K + β·ln N over `buckets` corpus
    * prefixes in doc-id order. β tells a curation team how fast NEW
    * vocabulary still arrives (β near the 0.4–0.6 natural-text band =
    * healthy growth; β ≈ 0 = the corpus is saturated / template-heavy;
    * β ≈ 1 = id-like token churn), which prices both dedup headroom
    * and tokenizer-vocab sizing before a 100 TB crawl is committed.
    *
    * Shape: ONE token explode feeds a (group, token)-keyed aggregation
    * (count + first doc id — the vocab collapse; partial aggregation
    * applies); everything after is vocab- or bucket-cardinality. The
    * doc-rank window partitions by group in doc-id order — exact prefix
    * semantics for the fit; at extreme per-group cardinality replace it
    * with precomputed id-quantile boundaries ([[Sketches]] histogram
    * quantiles, q120's documented path) — the fit only needs bucket
    * MEMBERSHIP, not exact ranks. Prefix cumulations are windows over
    * ≤ `buckets` rows per group. The regression is q124's closed form:
    * 9 dp rounds before decimal-exact sums, so the fit is bit-stable
    * across engines and partitionings. */
  def vocabGrowth(df: DataFrame, idCol: String, textCol: String,
                  groupCol: String, buckets: Int = 10): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2: $buckets")
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(28,12)"
    val docs = df.select(col(groupCol).as("g"), col(idCol).as("id"),
      tokenCount(col(textCol)).cast("long").as("n_toks"))
    val nDocs = docs.groupBy($"g").agg(count(lit(1)).cast("long").as("n_docs"))
    val ranked = docs.withColumn("rnk",
        row_number().over(Window.partitionBy($"g").orderBy($"id")))
      .join(broadcast(nDocs), Seq("g"))
      .withColumn("bkt",
        ceil($"rnk" * lit(buckets) / $"n_docs").cast("int"))
    // N(b): cumulative tokens over the ≤`buckets`-row per-group frame
    val nCum = ranked.groupBy($"g", $"bkt")
      .agg(sum($"n_toks").cast("long").as("toks"))
      .withColumn("n_at", sum($"toks").over(
        Window.partitionBy($"g").orderBy($"bkt")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // vocab collapse: token count + first-occurrence doc per group
    val vocab = df.select(col(groupCol).as("g"), col(idCol).as("id"),
        explode(tokens(col(textCol))).as("tok"))
      .groupBy($"g", $"tok")
      .agg(count(lit(1)).cast("long").as("cnt"),
        min($"id").as("first_id"))
    // V(b): new-vocabulary counts by first-occurrence bucket — LEFT
    // joined onto the complete bucket spine so a bucket with no new
    // vocabulary still carries the inherited cumulative V (a saturated
    // corpus must fit β = 0, not lose its flat points)
    val vNew = vocab
      .join(ranked.select($"g", $"id".as("first_id"), $"bkt"),
        Seq("g", "first_id"))
      .groupBy($"g", $"bkt")
      .agg(count(lit(1)).cast("long").as("newv"))
    val fit = nCum.join(vNew, Seq("g", "bkt"), "left")
      .withColumn("v_at", sum(coalesce($"newv", lit(0L))).over(
        Window.partitionBy($"g").orderBy($"bkt")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select($"g", round(log($"n_at".cast("double")), 9).as("x"),
        round(log($"v_at".cast("double")), 9).as("y"))
      .groupBy($"g")
      .agg(count(lit(1)).cast("double").as("np"),
        sum($"x".cast(dec)).cast("double").as("sx"),
        sum($"y".cast(dec)).cast("double").as("sy"),
        sum(round($"x" * $"y", 9).cast(dec)).cast("double").as("sxy"),
        sum(round($"x" * $"x", 9).cast(dec)).cast("double").as("sxx"))
      .select($"g",
        round(($"np" * $"sxy" - $"sx" * $"sy") /
          ($"np" * $"sxx" - $"sx" * $"sx"), 6).as("heaps_beta"),
        round(($"sy" - (($"np" * $"sxy" - $"sx" * $"sy") /
          ($"np" * $"sxx" - $"sx" * $"sx")) * $"sx") / $"np", 6)
          .as("heaps_logk"))
    val stats = vocab.groupBy($"g")
      .agg(sum($"cnt").cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("vocab"),
        sum(when($"cnt" === 1L, 1L).otherwise(0L)).cast("long").as("hapax"))
    broadcast(nDocs).join(stats, Seq("g")).join(fit, Seq("g"))
      .select($"g".as(groupCol), $"n_docs", $"n_tokens", $"vocab", $"hapax",
        round($"vocab" / $"n_tokens".cast("double"), 9).as("ttr"),
        round($"hapax" / $"vocab".cast("double"), 9).as("hapax_frac"),
        $"heaps_beta", $"heaps_logk")
  }

  /** Pointwise-mutual-information collocations — the corpus-statistics
    * pass a tokenizer or phrase-mining stage runs before training:
    * adjacent token pairs scored by PMI = ln( p(ab) / (p(a)·p(b)) ) with
    * a minimum pair-count floor (PMI is noise below it: a pair seen once
    * between two rare tokens maxes the score).
    *
    * Shape: the 2-shingle explode feeds the pair counts and the token
    * explode the unigram counts (two shuffles, both vocabulary-bounded
    * after partial aggregation); unigram probabilities join back onto
    * the PAIR frame (vocab-sized, never the token stream) and the top-k
    * plans as TakeOrderedAndProject — no global sort materializes.
    * PMI is decimal-rounded at 9 dp ([[tokenDrift]]'s discipline). */
  def pmiCollocations(df: org.apache.spark.sql.DataFrame, textCol: String,
                      minCount: Long, topK: Int): org.apache.spark.sql.DataFrame = {
    // round-16 fan-out (key = the text itself: no id in this signature)
    val fanned = FanOut.perRowCompute(df, col(textCol))
    val uni = fanned.select(explode(tokens(col(textCol))).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("n_u"))
    val pairCounts = fanned.select(explode(shingles(col(textCol), 2)).as("bg"))
      .groupBy($"bg").agg(count(lit(1)).as("n_pair"))
    // the pair total is over ALL pairs — the floor prunes which pairs are
    // REPORTED, not the probability space they are scored in. Computed
    // map-side from shingle-array sizes: no second explode+agg pass.
    val nPairTotal = fanned.agg(
      sum(size(shingles(col(textCol), 2))).cast("double").as("__n_pair"))
    val pairs = pairCounts
      .where($"n_pair" >= minCount)
      .select(substring_index($"bg", " ", 1).as("w1"),
        substring_index($"bg", " ", -1).as("w2"), $"n_pair")
    val totals = uni.agg(sum($"n_u").cast("double").as("__n_tok"))
    pairs
      .join(uni.select($"tok".as("w1"), $"n_u".as("n_w1")), Seq("w1"))
      .join(uni.select($"tok".as("w2"), $"n_u".as("n_w2")), Seq("w2"))
      .crossJoin(broadcast(totals))
      .crossJoin(broadcast(nPairTotal))
      .select($"w1", $"w2", $"n_pair", $"n_w1", $"n_w2",
        round(log(($"n_pair" / $"__n_pair") /
          (($"n_w1" / $"__n_tok") * ($"n_w2" / $"__n_tok"))), 9)
          .as("pmi"))
      .orderBy($"pmi".desc, $"w1", $"w2")
      .limit(topK)
  }

  /** Flesch reading-ease per document — the readability gate a
    * training-data curation pass runs beside [[qualityScore]]: too-hard
    * (legalese, OCR noise) and too-easy (listicles, keyword stuffing)
    * tails both get thresholds from this score's distribution.
    *
    * Pure per-row projection (counts + one arithmetic expression), so it
    * runs map-side inside whole-stage codegen at any corpus size.
    * Sentences are literal-dot-terminated (`greatest(1, dots)` keeps
    * unpunctuated rows defined); syllables use the standard vowel-group
    * approximation (`[aeiouy]+` runs — ASCII class so the Java and RE2
    * regex dialects agree). The arithmetic tree is mirrored verbatim in
    * the DuckDB oracle: long counts divide as doubles, score rounds to
    * 9 dp. Adds `n_words`, `n_sents`, `n_sylls`, `flesch`.
    *
    * Zero-word documents (empty/whitespace text) score a DEFINED
    * `flesch` of 206.835 — the formula's intercept, i.e. both penalty
    * terms read 0 — never NULL: `n_sylls/n_words` on n_words = 0 would
    * make the score null, and a null silently falls out of every
    * downstream threshold filter (`flesch < 50` is null → dropped from
    * BOTH branches), the failure mode where empty docs vanish from a
    * readability report instead of surfacing as trivially-easy rows. */
  def readabilityScore(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_words", tokenCount(t).cast("long"))
      .withColumn("n_sents",
        greatest(lit(1), size(split(t, "\\.")) - 1).cast("long"))
      .withColumn("n_sylls",
        size(regexp_extract_all(t, lit("[aeiouy]+"), lit(0))).cast("long"))
      .withColumn("flesch",
        when($"n_words" > 0,
          round(lit(206.835) - lit(1.015) * ($"n_words" / $"n_sents") -
            lit(84.6) * ($"n_sylls" / $"n_words"), 9))
          .otherwise(lit(206.835)))
  }

  // --- persisted LM-score store ------------------------------------------
  // Store layout (graft.queries.Stores.lmStorePath):
  //   path/scores — (idCol, n_tokens, logprob, bigram_logprob)
  //   path/meta   — the StoreIO key (lambda in plan_fp)
  // Rationale: the per-document LM scores are a pure function of the
  // corpus (decimal-exact sums, 6-dp rounded means), re-derived by every
  // perplexity consumer each sweep (q71/q92/q97/q98 — ~20 s of every sf1
  // sweep before the store).

  /** Bump on any change to [[unigramLogProb]]/[[bigramLogProb]]
    * arithmetic: a store published by older code must re-derive, never
    * serve stale scores. */
  val LmScoresAlgoVersion = 1

  /** Observable derivation count (spec hook): a warm store must load
    * without incrementing this. */
  private[graft] val lmScoresComputeCount =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** The combined per-document LM-score table: the CCNet-style unigram
    * score joined with the interpolated bigram score — one id-keyed
    * join of the two scoring passes. */
  def lmScores(df: DataFrame, idCol: String, textCol: String,
               lambda: Double = 0.75): DataFrame =
    unigramLogProb(df, idCol, textCol)
      .join(bigramLogProb(df, idCol, textCol, lambda)
        .select(col(idCol), col("bigram_logprob")), Seq(idCol))

  /** The checked read-through for the LM-score store: load if the meta
    * matches `df`'s corpus/plan fingerprints and [[LmScoresAlgoVersion]];
    * else derive ([[lmScores]]), publish atomically (race-safe: strict
    * no-replace on the cold branch), and return a READ of the published
    * parquet. */
  def lmScoresPersisted(df: DataFrame, idCol: String, textCol: String,
                        path: String, lambda: Double = 0.75): DataFrame = {
    val spark = df.sparkSession
    StoreIO.readThrough(spark, path,
      StoreIO.key(df, LmScoresAlgoVersion, "lambda" -> lambda),
      "lmScoresPersisted") { tmp =>
      lmScoresComputeCount.incrementAndGet()
      lmScores(df, idCol, textCol, lambda)
        .select(col(idCol).cast("long").as(idCol),
          col("n_tokens").cast("long").as("n_tokens"),
          col("logprob").cast("double"), col("bigram_logprob").cast("double"))
        .write.mode("overwrite").parquet(s"$tmp/scores")
      Nil
    } { _ => graft.Parquet.read(spark, s"$path/scores") }
  }
}
