package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions.call_function

/** THE single inventory and registration path for graft's native
  * functions. Eleven function objects each re-implemented the same
  * two-step discipline (idempotent check-then-create on the caller's
  * session, plus the default session as the analysis-time fallback),
  * and the `spark.sql.extensions` bundle hand-listed a THIRD copy of
  * the inventory — which is how r18's GraftExtensions shipped 3-of-8
  * and r19's additions (graft_bpe_merge, graft_mg_sketch,
  * graft_reservoir) were missing from the SQL bundle again. Every
  * registration now funnels through here:
  *
  *   - [[register]] — one function on one session, idempotent
  *     (check-then-create: the replace path WARNs per call);
  *   - [[call]] — the Column-entry-point discipline: register on the
  *     TARGET session AND the default session (`call_function`
  *     resolves at analysis time against the consuming DataFrame's
  *     session, which need not be the construction-time one — the r17
  *     WordNgrams/TextVec lesson), then build the unresolved call;
  *   - [[all]] — the whole inventory, which the
  *     [[graft.plans.GraftExtensions]] bundle injects for SQL text.
  *
  * GraftFunctionsSpec pins the inventory against a source scan of
  * `FunctionName` constants, so a twelfth function object that forgets
  * to list itself here fails a test instead of shipping
  * Column-API-only.
  */
object GraftFunctions {

  type Builder = Seq[Expression] => Expression

  /** Every advertised native function: (name, implementation class
    * for ExpressionInfo, arity-guarded builder). */
  def all: Seq[(String, Class[_], Builder)] = Seq(
    (BandedLevenshtein.FunctionName,
      classOf[org.apache.spark.sql.catalyst.expressions.Levenshtein],
      BandedLevenshtein.builder),
    (BpeMergeStep.FunctionName, classOf[BpeMergeStep], BpeMergeStep.builder),
    (CharNgrams.FunctionName, classOf[CharNgrams], CharNgrams.builder),
    (CosineSimilarity.FunctionName, classOf[CosineSimilarity],
      CosineSimilarity.builder),
    (FrequentItems.FunctionName, classOf[MisraGriesAgg],
      FrequentItems.builder),
    (MinhashSignature.FunctionName, classOf[MinhashSignature],
      MinhashSignature.builder),
    (NearestCentroid.FunctionName, classOf[NearestCentroid],
      NearestCentroid.builder),
    (ReservoirSample.FunctionName, classOf[ReservoirSampleAgg],
      ReservoirSample.builder),
    (TopKAgg.FunctionName, classOf[TopKAgg], TopKAgg.builder),
    (WinnowSelect.FunctionName, classOf[WinnowSelect], WinnowSelect.builder),
    (WordNgrams.FunctionName, classOf[WordNgrams], WordNgrams.builder))

  /** Idempotent per-session registration of one function. */
  def register(spark: SparkSession, name: String, builder: Builder): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier(name)))
      registry.createOrReplaceTempFunction(name, builder, "scala_udf")
  }

  /** The Column-entry-point discipline: register on the target AND
    * default sessions, then build the call. */
  def call(spark: SparkSession, name: String, builder: Builder)(
      args: Column*): Column = {
    register(spark, name, builder)
    SparkSession.getDefaultSession.filter(_ ne spark)
      .foreach(register(_, name, builder))
    call_function(name, args: _*)
  }
}
