package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** One full sweep over all queries, alphabetical, each materialized via a
    * noop-format write (count() lets Catalyst prune projection-only queries
    * to nothing; noop pays the full projection/sort cost). clearCache()
    * between queries (outside the timer) so staged persists never
    * accumulate: every query measures standalone. A failed query records
    * -1, never a plausible partial duration. */
  private def sweep(spark: SparkSession, sfDir: String,
                    names: Seq[String] = SparkEntry.queries.keys.toSeq.sorted): Seq[(String, Double)] =
    names.map { name =>
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      // clearCache drops the blocks; releaseAll also drains the staged
      // registry so the sweep holds no frame references across queries
      graft.ops.Staged.releaseAll()
      spark.catalog.clearCache()
      name -> (if (ok) dt else -1.0)
    }

  /** Partial second sweep for a contended host: re-measure queries in
    * ANOMALY-RATIO order — sweep-1 cost over the committed steady-state
    * record ([[loadSteadyState]]), descending — until the PROJECTED wall
    * time would exceed `capSec`. The round-12 recording proved
    * cheapest-first protects exactly the wrong queries: the five most
    * burst-hit entries (q226 at 120.3 s vs a 2.14 s steady record — a
    * 56× host artifact) were the EXPENSIVE ones, so the cheapest-first
    * box never reached them and the artifact shipped the lie. Ratio
    * order re-measures the worst distortions first; queries with no
    * record get ratio 1.0 and fall back to cheapest-first among
    * themselves (the tie-break). Projection uses the expected RE-RUN
    * cost — the steady record when one exists (a burst's own inflated
    * sweep-1 cost would otherwise block its correction), else the
    * sweep-1 cost; if an apparent burst is a REAL regression the actual
    * run overshoots its estimate, which can overrun the cap by that one
    * query's true cost — accepted, since the next start re-checks the
    * elapsed wall. Sweep-1 failures slot at the mean sweep-1 cost so a
    * transiently failed query still gets a second chance. */
  private def partialSweep(spark: SparkSession, sfDir: String,
                           first: Seq[(String, Double)], capSec: Double,
                           steady: Map[String, Double]): Seq[(String, Double)] = {
    val est = estimates(first)
    val rerunEst = est.map { case (n, c) =>
      n -> math.min(c, steady.getOrElse(n, c))
    }
    runUntilDeadline(anomalyFirst(first, steady), capSec, rerunEst,
      name => sweep(spark, sfDir, Seq(name)).head._2)
  }

  /** Sweep-1 names ordered by anomaly ratio (sweep-1 cost / steady-state
    * record) DESCENDING, ties and record-less queries by sweep-1 cost
    * ascending. With an empty record this degenerates to exactly the old
    * cheapest-first order. Failures (-1) slot at the mean sweep-1 cost.
    * Exposed for BenchSpec. */
  private[graft] def anomalyFirst(first: Seq[(String, Double)],
                                  steady: Map[String, Double]): Seq[String] = {
    val est = estimates(first)
    first.map(_._1).sortBy { n => // stable: equal keys keep input order
      val ratio = steady.get(n).filter(_ > 0).map(est(n) / _).getOrElse(1.0)
      (-ratio, est(n))
    }
  }

  /** Queries whose final per-query minimum still exceeds `factor`× their
    * committed steady-state record — self-labeled burst (or regression)
    * suspects the artifact carries so a polluted recording is
    * self-diagnosing per query, not just per run. Exposed for
    * BenchSpec. */
  private[graft] def burstSuspects(results: Seq[(String, Double)],
                                   steady: Map[String, Double],
                                   factor: Double = 3.0): Seq[String] =
    results.collect {
      case (n, v) if v >= 0 && steady.get(n).exists(s => s > 0 && v > factor * s) => n
    }

  /** Key into perf/steady_state.json for a data directory:
    * "/root/testdata/sf0.1" → "sf0.1", ".../testdata-sf1" → "sf1". */
  private[graft] def sfKey(sfDir: String): String =
    new java.io.File(sfDir).getName.stripPrefix("testdata-")

  /** Extract one sf section (a flat {"name":sec,...} object) from the
    * steady-state record without a JSON library: locate `"key":{`, take
    * the balanced-free span to the next '}' (sections are flat by
    * construction), and scan "name":number pairs. Exposed for
    * BenchSpec. */
  private[graft] def parseSteadySection(json: String, key: String): Map[String, Double] = {
    // whitespace-tolerant: the fold tool pretty-prints (`"sf0.1": {`),
    // older records were compact (`"sf0.1":{`) — accept both
    val at = ("\"" + java.util.regex.Pattern.quote(key) + "\"\\s*:\\s*\\{").r
      .findFirstMatchIn(json).map(_.start).getOrElse(-1)
    if (at < 0) Map.empty
    else {
      val open = json.indexOf('{', at)
      val close = json.indexOf('}', open)
      if (close < 0) Map.empty
      else """"([^"]+)"\s*:\s*(-?[0-9][0-9.eE+-]*)""".r
        .findAllMatchIn(json.substring(open + 1, close))
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }
  }

  /** The committed per-query steady-state record for this data scale
    * (perf/steady_state.json, written at each round's end from the
    * final min-of-two recordings). Missing file, unknown scale, or a
    * parse problem all degrade to an empty record — the bench then
    * behaves exactly as before the record existed. */
  private def loadSteadyState(sfDir: String): Map[String, Double] =
    try {
      val p = java.nio.file.Paths.get("perf/steady_state.json")
      if (!java.nio.file.Files.exists(p)) Map.empty
      else parseSteadySection(
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8"), sfKey(sfDir))
    } catch { case scala.util.control.NonFatal(_) => Map.empty }

  /** Per-query projected cost: the sweep-1 measurement, failures at the
    * sweep-1 mean. Shared by ordering and deadline projection. */
  private[graft] def estimates(first: Seq[(String, Double)]): Map[String, Double] = {
    val okCosts  = first.collect { case (_, d) if d >= 0 => d }
    val meanCost = if (okCosts.isEmpty) 1.0 else okCosts.sum / okCosts.size
    first.map { case (name, d) => name -> (if (d >= 0) d else meanCost) }.toMap
  }

  /** Run queries in order while the PROJECTION fits the cap: a query only
    * starts if elapsed + its estimated cost stays under the deadline, so
    * the cap cannot be overrun by the full runtime of an expensive
    * straggler (a started query still runs to completion — no mid-query
    * abort, a partially executed measurement is worthless; only the
    * estimate, not the actual, gates the start). A query that does not
    * fit is SKIPPED and the scan continues — anomaly-ratio order is not
    * cost-ascending, so a cheap query can legitimately follow an
    * unaffordable expensive one. Unestimated queries project at 0
    * (start if any time remains). Exposed for BenchSpec, which drives
    * it with a fake runner. */
  private[graft] def runUntilDeadline(order: Seq[String], capSec: Double,
                                      estimate: Map[String, Double],
                                      run: String => Double): Seq[(String, Double)] = {
    val done = scala.collection.mutable.ListBuffer.empty[(String, Double)]
    val start = System.nanoTime()
    order.foreach { name =>
      val projected = (System.nanoTime() - start) / 1e9 + estimate.getOrElse(name, 0.0)
      if (projected < capSec) done += (name -> run(name))
    }
    done.toList
  }

  /** The artifact's `contended` flag. Two independent signatures:
    *
    *  - budget tripped: sweep 1's wall ran past the bench budget, so the
    *    second sweep was only partial (the original guard);
    *  - wall ratio: both sweeps ran in full but sweep 1 took > 1.4× the
    *    wall of sweep 2 over the SAME queries. Sweeps differ only by
    *    codegen warm-up (small at sweep totals), so a 1.4× gap means
    *    external load overlapped sweep 1 — exactly the shape of the
    *    round-6 recording (124.8 s vs 75.2 s) whose per-query numbers
    *    held 10× phantom regressions under the budget.
    *
    * A partial sweep 2 never feeds the ratio (different query sets are
    * not comparable), but in that branch the budget already tripped.
    * Exposed for BenchSpec. */
  private[graft] def contentionFlag(budgetTripped: Boolean, sweep1Wall: Double,
                                    sweep2Wall: Double, sweep2Full: Boolean,
                                    wallRatioMax: Double = 1.4): Boolean =
    budgetTripped ||
      (sweep2Full && sweep2Wall > 0 && sweep1Wall / sweep2Wall > wallRatioMax)

  /** Per-query minimum over the VALID measurements of both sweeps;
    * queries the (partial) second sweep didn't reach keep their sweep-1
    * number; -1 only when every measurement failed. Exposed for
    * BenchSpec. */
  private[graft] def mergeMin(first: Seq[(String, Double)],
                              second: Map[String, Double]): Seq[(String, Double)] =
    first.map { case (name, a) =>
      val valid = (Seq(a) ++ second.get(name)).filter(_ >= 0)
      name -> (if (valid.isEmpty) -1.0 else valid.min)
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the generated-class cache is sized for the whole surface
    // (Session.CodegenCacheEntries): with Spark's default of 100 entries the
    // 364 queries between two runs of a query evict every class it
    // compiled, and "min of two" would still measure a Janino compile per
    // query (~1-2 s on the heavy plans). Every invocation still computes
    // from the parquet inputs; the catalog cache is cleared between queries.
    val spark = Session()
    // warm the session so the first query of the first sweep doesn't absorb
    // FileIndex/parquet-reader startup cost on top of its own codegen
    try spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    catch { case _: Throwable => }
    // JIT/codegen warm-up (untimed), on the smallest sibling fixture when
    // present: EVERY query runs once at sf0.001, so its generated classes
    // are compiled and C2-JIT'd here and both timed sweeps measure a
    // codegen-warm resident engine; the sweep1/sweep2 wall ratio keeps
    // meaning host contention, not "sweep 1 paid every Janino compile"
    // (round-15 measurement: a cold sweep 1 runs ~1.35× the warm sweep 2 —
    // right at the 1.4 contention threshold on an idle host). Generated
    // source is scale-independent for all but the few
    // corpus-parameter-derived plans (banded LSH tables), so sf0.001
    // warming covers the sf0.1/sf1 sweeps.
    val warmDir = {
      val sib = java.nio.file.Paths.get(sfDir).toAbsolutePath.resolveSibling("sf0.001")
      if (java.nio.file.Files.isDirectory(sib)) sib.toString else sfDir
    }
    val warmStart = System.nanoTime()
    sweep(spark, warmDir)
    // Warm the PERSISTED derivation stores for the bench corpus itself
    // (cluster table, PCA model, k-means model): each is a pure
    // once-per-corpus derivation that every later query/session loads,
    // so the steady state a resident engine shows is "store exists".
    // Without this, a cold /tmp puts the whole derivation (≈110 s at
    // sf1) inside sweep 1's wall and the sweep1/sweep2 ratio reads as
    // host contention (the r10 sf1 recording: 803.7/559.0 = 1.44 on an
    // idle host — 1.24 with the store gaps removed). Untimed on
    // purpose: the bench measures query latency, not store-build
    // latency; first-build cost is documented in PERF.md and the store
    // specs. A warm store makes these no-ops (fingerprint-checked
    // loads), so repeat benches pay nothing here.
    // NonFatal ONLY, and loudly: a silently-swallowed store-build failure
    // (disk full, corrupt store, code regression) would land the full
    // derivation inside timed sweep 1 — recreating exactly the
    // reads-as-host-contention artifact this warm-up exists to prevent,
    // with no trace in the bench output. Fatal errors propagate.
    // Round-16 (verdict item 8): each store's warm/derive wall time is a
    // FIRST-CLASS artifact line ("stores" block below) so the read-path
    // steady numbers can never be mistaken for end-to-end cost — on a
    // warm store these are fingerprint-check no-ops (tens of ms); on a
    // cold one they carry the full derivation and say so in the record.
    val storeSecs = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def warmStore(nm: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      storeSecs(nm) = (System.nanoTime() - t0) / 1e9
    }
    try {
      warmStore("docPairs")(graft.queries.Stores.docPairs(spark, sfDir).count())
      warmStore("docClusters")(graft.queries.Stores.docClusters(spark, sfDir).count())
      warmStore("pcaModel")(graft.queries.Stores.pcaModel(spark, sfDir))
      warmStore("kmeansModel")(graft.queries.Stores.kmeansModel(spark, sfDir))
      warmStore("media")(graft.queries.Stores.media(spark, sfDir).features.count())
      warmStore("centroidPredictions")(graft.queries.Stores.centroidPredictions(spark, sfDir).count())
      warmStore("docContainment")(graft.queries.Stores.docContainment(spark, sfDir).count())
      warmStore("lmScores")(graft.queries.Stores.lmScores(spark, sfDir).count())
      warmStore("qualityScores")(graft.queries.Stores.qualityScores(spark, sfDir).count())
      warmStore("embedPairs")(graft.queries.Stores.embedPairs(spark, sfDir).count())
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"WARNING: bench store warm-up FAILED (${e.getClass.getName}: " +
            s"${e.getMessage}) — the first timed sweep will pay the full " +
            "store derivation and the contention heuristic may misread it")
        e.printStackTrace()
    }
    val warmWallSec = (System.nanoTime() - warmStart) / 1e9
    // Two full timed sweeps; report the per-query MINIMUM. Rationale
    // (documented in BASELINE.md): at sf0.1 most queries finish in well
    // under a second of actual execution, so a single cold pass mostly
    // measures Janino codegen compilation and planning, and any transient
    // co-tenant load on the host lands on whichever queries it overlaps
    // (the round-2 driver recording had untouched queries drift 3-20x for
    // exactly that reason while two builder runs of the same commit stayed
    // at ~52-66s). min-of-two keeps each measurement standalone and
    // data-cold (cache cleared between queries) while filtering one-sided
    // noise; it is the steady-state cost a resident engine would show.
    val sweepStart = System.nanoTime()
    val first = sweep(spark, sfDir)
    val firstWallSec = (System.nanoTime() - sweepStart) / 1e9
    // wall-clock guard: when the host is badly contended the first sweep
    // alone can run minutes over its normal cost; a full second sweep
    // would double that and risk any harness-side time cap. But skipping
    // the second sweep ENTIRELY disables the min-of-two noise filter
    // exactly when noise struck (that is what produced the misleading
    // BENCH_r04 artifact: 264.9 s of pure host contention, re-measured at
    // 58.9 s) — so past the budget we still run a PARTIAL second sweep,
    // cheapest-first under a hard cap, and flag the artifact
    // `"contended": true` so a polluted recording is self-diagnosing.
    // Guard on WALL time of the whole sweep, not the sum of successful
    // durations — failed-but-slow queries and clearCache overhead count.
    // budget derived from the COMMITTED steady record, not a fixed
    // constant: a fixed default decays into a surface-size alarm — the
    // r13 recording self-flagged `contended: true` purely because an
    // honest 355-query sweep (~324 s) can never fit the 180 s set when
    // the surface was ~60 queries. 3 × Σ steady_state[sf] tracks the
    // surface as it grows (sweep-1 cold cost runs ~1.5-2× the steady
    // min-of-two total, so 3× flags only genuine host noise), with a
    // 300 s floor for scales without a committed record. The env var
    // stays an explicit override.
    val steady = loadSteadyState(sfDir)
    val budgetSec = sys.env.get("SPARK_GRAFT_BENCH_BUDGET").map(_.toDouble)
      .getOrElse {
        val steadySum = steady.values.filter(_ > 0).sum
        math.max(300.0, 3.0 * steadySum)
      }
    val contended = firstWallSec > budgetSec
    val sweep2Start = System.nanoTime()
    val second: Map[String, Double] =
      (if (!contended) sweep(spark, sfDir)
       else partialSweep(spark, sfDir, first, capSec = budgetSec / 2, steady)).toMap
    val secondWallSec = (System.nanoTime() - sweep2Start) / 1e9
    // a sweep-1/sweep-2 wall ratio > 1.4 is itself a contention signature
    // even when the budget never tripped — flag it so a polluted
    // recording is self-diagnosing (see contentionFlag)
    val contendedOut = contentionFlag(contended, firstWallSec, secondWallSec,
      sweep2Full = !contended)
    val results = mergeMin(first, second)
    // self-label any final minimum still >3× its committed steady record:
    // either a burst both sweeps happened to hit, or a real regression —
    // both deserve a named flag in the artifact rather than silence
    val suspects = burstSuspects(results, steady)
    def toJson(rs: Seq[(String, Double)]) =
      rs.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val totalCold = first.map(_._2).filter(_ >= 0).sum
    // headline value/queries stay the per-query minimum (the steady-state
    // cost); queries_cold/total_cold carry sweep 1 verbatim so cold-vs-min
    // comparisons against single-sweep baselines are like-for-like from
    // the artifact alone
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${toJson(results)},""" +
        s""""total_cold":$totalCold,"queries_cold":${toJson(first)},""" +
        s""""contended":$contendedOut,"warmup_wall_sec":$warmWallSec,""" +
        s""""stores":${toJson(storeSecs.toSeq)},""" +
        s""""codegen_cache":"${Session.CodegenCacheEntries}",""" +
        s""""sweep1_wall_sec":$firstWallSec,""" +
        s""""sweep2_wall_sec":$secondWallSec,"sweep2_queries":${second.size},""" +
        s""""steady_state_n":${steady.size},""" +
        suspects.map("\"" + _ + "\"").mkString("\"burst_suspects\":[", ",", "],") +
        s""""sf":"$sfDir"}"""
    println(line)
    // also a file artifact: the driver captures only a 2000-char log tail
    // and sbt appends a [success] trailer after the JSON line, so the
    // stdout line alone has NEVER survived into the round artifact intact
    // (BENCH_r01-r07 all carry "parsed": null). Write the full JSON to a
    // TRACKED path too — perf/ is committed, target/ is gitignored — so
    // every per-query number the round-end records cite exists in-tree.
    for (p <- Seq("target/bench.json", "perf/bench_last.json")) {
      val out = java.nio.file.Paths.get(p)
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, line.getBytes("UTF-8"))
    }
    // compact headline printed LAST: the driver's tail capture keeps only
    // the final ~2000 chars, and the full record above starts with the
    // 244-entry per-query map (~8.5 kB), so the headline fields at its END
    // were the only part that survived — and without the leading '{' the
    // artifact recorded "parsed": null every round. One short final line
    // (total well under any tail window) is always intact and parseable;
    // the full per-query map stays in perf/bench_last.json.
    val summary =
      s"""{"metric":"total","value":$total,"unit":"sec","total_sec":$total,""" +
        s""""total_cold_sec":$totalCold,"n_queries":${results.size},""" +
        s""""contended":$contendedOut,"sweep1_wall_sec":$firstWallSec,""" +
        s""""sweep2_wall_sec":$secondWallSec,""" +
        s""""n_burst_suspects":${suspects.size},"sf":"$sfDir",""" +
        s""""detail":"perf/bench_last.json"}"""
    println(summary)
    // the driver parses the tail of stdout: make sure both JSON lines
    // are flushed before sbt's own trailer lands (round-16 verdict
    // item 2 — BENCH_r14's one-line summary was lost to buffering)
    System.out.flush()
    spark.stop()
  }
}
