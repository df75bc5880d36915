package graft

/** Driver-contract smoke, mirrored locally: the flagship `entry`
  * query must return rows with the published schema, and every
  * `oracleSql` key must have a matching `queries` entry (a dangling
  * oracle would make the driver's gate run SQL with no Spark result
  * to compare).
  */
class SparkEntrySpec extends SparkSpec {

  test("entry(): revenue-per-nation flagship returns rows with the contract schema") {
    val df = SparkEntry.entry(spark)
    assert(df.columns.toSeq == Seq("n_name", "n_items", "revenue"))
    assert(df.count() > 0)
  }

  test("every oracle key has a query; names are unique across modules") {
    val q = SparkEntry.queries
    val o = SparkEntry.oracleSql
    val dangling = o.keySet -- q.keySet
    assert(dangling.isEmpty, s"oracle without query: $dangling")
    // since r8 EVERY query carries a full DuckDB oracle (the former
    // rows-only sketch/sample queries hash exact companion columns +
    // audit flags), and QueryDef's oracle is no longer optional
    val rowsOnly = q.keySet -- o.keySet
    assert(rowsOnly.isEmpty, s"query without oracle: $rowsOnly")
    // an oracle can be NON-NULL yet null-valued if a shared SQL val is
    // declared below the `all` list that references it (object init
    // order) — Verify would then NPE serializing oracle_sql.json and
    // zero the whole round's correctness
    val broken = o.filter { case (_, sql) => sql == null || sql.trim.isEmpty }
    assert(broken.isEmpty,
      s"null/empty oracle SQL (init-order bug?): ${broken.keySet}")
    // queries is built map-wise from module Seqs — a duplicated name
    // would silently shadow an operator and shrink gate coverage
    val names = Seq(
      operators.Relational.all, operators.Analytics.all,
      operators.EventAnalytics.all, operators.Profiler.all,
      operators.TextOps.all, operators.CurationOps.all,
      operators.DedupOps.all, operators.SimilarityOps.all,
      operators.SkewJoin.all, operators.Multimodal.all,
      operators.StreamingOps.all, operators.ZOrder.all,
      operators.WarehouseOps.all).flatten.map(_.name)
    assert(names.distinct.length == names.length,
      s"duplicate query names: ${names.diff(names.distinct).distinct}")
  }

  test("oracle strings interpolate the FINAL constant values (object " +
    "init-order guard)") {
    // an oracle string is built during module object init; a shared
    // constant declared AFTER `all` interpolates as 0/0.0 into the
    // SQL while the lazily-evaluated Spark side sees the real value —
    // a silent cross-engine divergence. Pin the constants that have
    // already been bitten (bm25 k1+1, residual codebook seed) plus
    // every hex-threshold family constant.
    val o = SparkEntry.oracleSql
    assert(o("q_sim_bm25").contains(
      s"* ${operators.TextOps.Bm25K1Plus1})"))
    assert(o("q_sim_ivfpq").contains(
      s"vec_id >= ${operators.SimilarityOps.ResidualSeedFrom} "))
    assert(o("q_sample_weighted").contains(
      s"/ ${operators.CurationOps.HexDraw6Denom})"))
    assert(o("q_source_cap").contains(
      s"rnk <= ${operators.CurationOps.SourceCap}"))
    assert(o("q_select_dsir").contains(
      s"+ ${operators.CurationOps.DsirBuckets} AS DOUBLE"))
  }
}
