package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Levenshtein}

/** Column access to Spark's THRESHOLDED Levenshtein — the banded
  * O(len·τ) dynamic program (Ukkonen's band) instead of the full
  * O(len²) table, returning -1 when the distance exceeds the
  * threshold (after an O(1) length-gap early exit).
  *
  * The public `functions.levenshtein(l, r, threshold)` only accepts a
  * CONSTANT Int threshold; the underlying Catalyst expression
  * evaluates its threshold child per row. The screened edit verify
  * needs exactly that: its similarity cut `sim >= τ_sim` translates
  * to a PER-PAIR distance cap `dist <= (1-τ_sim)·max(len)`, so
  * registering the 3-arg expression makes the whole verify stage
  * banded — the DP cost drops from candidates·len² to
  * candidates·len·(1-τ_sim)·len ≈ a 10× cell reduction at τ_sim=0.9,
  * on top of the length pre-screen's O(1) skips.
  *
  * Spark's own codegen'd implementation is reused verbatim (public
  * API surface: the `Levenshtein` expression constructor with its
  * documented `threshold` child) — no forked DP to keep correct. */
object BandedLevenshtein {
  val FunctionName = "graft_levenshtein_capped"

  /** Expression builder with an arity guard (the CosineSimilarity
    * registration pattern). */
  def builder(exprs: Seq[Expression]): Expression = {
    if (exprs.length != 3)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> s"`$FunctionName`",
          "expectedNum" -> "3",
          "actualNum" -> exprs.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))
    Levenshtein(exprs(0), exprs(1), Some(exprs(2)))
  }

  /** `levenshtein(a, b)` if it is <= tau (per row), else -1. */
  def apply(spark: SparkSession, a: Column, b: Column, tau: Column): Column = {
    GraftFunctions.call(spark, FunctionName, builder)(a, b, tau)
  }
}
