package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every operator module's QueryDefs; `oracleSql`
  * carries the DuckDB-equivalent SQL for the driver's correctness
  * gate. Column aliases match exactly between both sides (the driver
  * hashes column-sorted values).
  */
object SparkEntry {

  private def modules: Seq[QueryDef] =
    operators.Relational.all ++
      operators.Analytics.all ++
      operators.EventAnalytics.all ++
      operators.Profiler.all ++
      operators.TextOps.all ++
      operators.CurationOps.all ++
      operators.DedupOps.all ++
      operators.SimilarityOps.all ++
      operators.SkewJoin.all ++
      operators.Multimodal.all ++
      operators.StreamingOps.all ++
      operators.ZOrder.all ++
      operators.WarehouseOps.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Revenue-per-nation: the 5-way join + aggregate that exercises the
    * whole scan→join→shuffle→agg pipeline.
    */
  def entry(spark: SparkSession): DataFrame =
    Tables(spark, "/root/testdata/sf0.001", "lineitem")
      .join(Tables(spark, "/root/testdata/sf0.001", "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables(spark, "/root/testdata/sf0.001", "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables(spark, "/root/testdata/sf0.001", "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    val all = modules
    // toMap keeps the LAST entry per key: a duplicate gate name across
    // operator modules would silently drop one implementation from
    // both the bench and the correctness gate — fail loudly instead
    val dups = all.groupBy(_.name).filter(_._2.length > 1).keys
    require(dups.isEmpty,
      s"duplicate query name(s) across modules: ${dups.toSeq.sorted.mkString(", ")}")
    all.map(q => q.name -> q.fn).toMap
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables.
    */
  def oracleSql: Map[String, String] =
    modules.map(q => q.name -> q.oracle).toMap
}
