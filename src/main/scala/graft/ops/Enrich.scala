package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** Join operators (SURVEY.md §2.5, J1–J3).
  *
  * J1 in the reference is a stream-static left join of each sensor stream
  * against the 5-row bridges dimension (`silver_enrichment.py:104-106`);
  * Catalyst already picks BroadcastHashJoin for a 5-row build side, but we
  * make the intent explicit with `broadcast()` so the plan survives a
  * statistics miss at 100 TB (the fact side is never the build side, no
  * shuffle of the big side ever happens).
  */
object Enrich {

  /** J1 — enrich a fact DataFrame with a small dimension via left join on
    * equi keys; dimension is broadcast (no shuffle of the fact side). */
  def withDim(fact: DataFrame, dim: DataFrame, keys: Seq[String]): DataFrame =
    fact.join(broadcast(dim), keys, "left")

  /** Left-semi "EXISTS" join — big-side rows with at least one match.
    * Semi joins shuffle only keys on the probe side and never duplicate
    * rows, so they beat `inner + distinct` at scale. */
  def existsIn(big: DataFrame, other: DataFrame, joinExpr: org.apache.spark.sql.Column): DataFrame =
    big.join(other, joinExpr, "left_semi")

  /** Left-anti "NOT EXISTS" join. */
  def notExistsIn(big: DataFrame, other: DataFrame, joinExpr: org.apache.spark.sql.Column): DataFrame =
    big.join(other, joinExpr, "left_anti")
}
