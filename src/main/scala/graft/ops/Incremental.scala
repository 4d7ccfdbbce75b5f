package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental (delta-vs-base) deduplication — the admission check a
  * living corpus runs on every new crawl drop: classify each INCOMING
  * document against the already-curated base WITHOUT rescanning or
  * re-pairing the base against itself. The reference has no incremental
  * story (its pipelines re-read whole layers); this is the batch
  * counterpart of the streaming signature store
  * ([[graft.pipeline.SignatureStore]]), kept exact and oracle-checkable.
  *
  * Status taxonomy per delta doc:
  *   - `exact_dup` — content hash already in the base;
  *   - `near_dup`  — ≥ `nearFrac` of its non-overlapping k-token tiles
  *                   already appear in the base (tile containment, the
  *                   set-of-paragraphs view of CCNet-style dedup; catches
  *                   edited or stitched copies exact hashing misses);
  *   - `new`       — neither.
  *
  * Scale shape: the base collapses ONCE to two narrow distinct-key
  * frames — content fingerprints (16 bytes/doc) and tile keys (16
  * bytes/tile) — and both joins are hash equi-joins keyed on those
  * digests. Delta tiles join base tiles; the base never self-joins, the
  * delta never cross-joins the base, and at 100 TB the two digest frames
  * are the only state the admission check touches (they are exactly what
  * an incremental pipeline would persist between drops — see
  * [[graft.ops.Layout]] for clustering them on disk).
  * Tile keys default to xxhash64 (8-byte shuffle rows at scale); the
  * oracle surface passes md5 (engine-portable, q86's precedent).
  */
object Incremental {

  /** Non-overlapping k-token tiles of `textCol`: (doc, pos, tile) — THE
    * shared segmentation ([[Dedup.tileSegments]]): one definition keeps
    * this operator's containment test and tile dedup's keep-first rule
    * on the same tile universe, and NULL-text rows produce no tiles. */
  private def tiles(df: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame =
    Dedup.tileSegments(df, idCol, textCol, k)

  /** Classify every delta doc against the base. Output: (idCol, n_tiles,
    * n_tiles_in_base, tile_frac (9 dp double), status) — one row per
    * delta doc, ordered by nothing (callers order). */
  def deltaDedupStatus(base: DataFrame, delta: DataFrame, idCol: String,
                       textCol: String, k: Int = 8, nearFrac: Double = 0.5,
                       tileKey: Column => Column = xxhash64(_)): DataFrame = {
    require(k >= 1, s"tile length k must be >= 1: $k")
    require(nearFrac > 0.0 && nearFrac <= 1.0,
      s"nearFrac must be in (0,1]: $nearFrac")
    val baseFps = base.select(md5(col(textCol)).as("__fp")).distinct()
    val baseTileKeys = tiles(base, idCol, textCol, k)
      .select(tileKey($"tile").as("__h")).distinct()
    val deltaTiles = tiles(delta, idCol, textCol, k)
      .withColumn("__h", tileKey($"tile"))
    val coverage = deltaTiles
      .join(baseTileKeys.withColumn("__in_base", lit(1)), Seq("__h"), "left")
      .groupBy($"doc")
      .agg(count(lit(1)).cast("long").as("n_tiles"),
        sum(when($"__in_base".isNotNull, 1L).otherwise(0L))
          .as("n_tiles_in_base"))
    delta.select(col(idCol).as("doc"), md5(col(textCol)).as("__fp"))
      .join(baseFps.withColumn("__exact", lit(1)), Seq("__fp"), "left")
      .join(coverage, Seq("doc"), "left")
      .select($"doc".as(idCol),
        coalesce($"n_tiles", lit(0L)).as("n_tiles"),
        coalesce($"n_tiles_in_base", lit(0L)).as("n_tiles_in_base"),
        round(coalesce($"n_tiles_in_base", lit(0L)) /
          greatest(coalesce($"n_tiles", lit(0L)), lit(1L)).cast("double"), 9)
          .as("tile_frac"),
        when($"__exact".isNotNull, "exact_dup")
          .when(coalesce($"n_tiles_in_base", lit(0L)) /
            greatest(coalesce($"n_tiles", lit(0L)), lit(1L)).cast("double")
            >= nearFrac, "near_dup")
          .otherwise("new").as("status"))
  }
}
