package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Timing registry for PRODUCTION bodies whose gate forms deliberately
  * carry validator overhead — the gate is the correctness contract,
  * this registry is the honest cost of the path a pipeline actually
  * runs.
  *
  * First resident: the per-source quality prune pair. The gate
  * `q_quality_prune_approx` runs the approximate path PLUS the exact
  * rank windows (its whole point is hashing their agreement), so its
  * bench time can never show the approximation's advantage; here the
  * two production shapes race bare, through [[ABProbe]]:
  * `SPARK_GRAFT_SF_DIR=<dir> runMain graft.ABProbe [rounds] names...`.
  */
object ScaleProbe {

  import org.apache.spark.sql.functions._

  /** name → production body. Every entry's correctness is already
    * gate- or spec-pinned elsewhere; this registry is ONLY a cost
    * harness and never feeds Verify. */
  val probes: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the exact per-source rank cut — identical to the q_quality_prune
    // gate body (the gate IS the production exact path)
    "quality_prune_exact" -> ((s, dir) =>
      SparkEntry.queries("q_quality_prune")(s, dir)),
    // the two-phase sketch-threshold cut, WITHOUT the gate's
    // validator windows — the 100 TB path
    "quality_prune_approx" -> ((s, dir) =>
      graft.operators.TextOps.qualityPruneApprox(
        Tables(s, dir, "documents"))),
    // the approximate ANALYZE pair carries the same shape (exact NDV
    // vs HLL) but its gate already separates the modes; the prune
    // pair is the one whose production delta only THIS registry can show
    "quality_clf" -> ((s, dir) =>
      graft.operators.TextOps.qualityClassifier(
        Tables(s, dir, "documents").select(col("doc_id"), col("text")))))
}
