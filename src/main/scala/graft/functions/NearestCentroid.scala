package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.typedlit
import org.apache.spark.sql.types._

/** Native Catalyst expression: the nearest centroid of a float vector
  * over a LITERAL centroid set, in one fused codegen'd pass —
  * replacing the `transform(centroids, cosine) |> array_sort |>
  * slice(1)` higher-order composition for the n = 1 (argmax) case.
  * HOF lambdas evaluate INTERPRETED per element (the r17
  * WordNgrams/CharNgrams lesson), and this one sits on every corpus
  * assignment pass: Lloyd training iterations, the bucketed index
  * build, search-side cell tagging, streaming ingest — k interpreted
  * cosine evaluations per corpus row. Here the vector is fetched once
  * and the k cosines + the argmax run in one tight JVM loop.
  *
  * Value-exact with the HOF form (parity-spec'd):
  *  - each cosine follows [[CosineSimilarity]]'s exact arithmetic and
  *    null semantics: float elements widened to double, strictly
  *    left-to-right accumulation; length mismatch, a null element, or
  *    a zero norm yield a NULL score;
  *  - the argmax reproduces the comparator `ccos DESC NULLS LAST,
  *    centroid_id ASC` — a null score sorts below every real one, and
  *    exact ties (including all-null) break to the lowest id;
  *  - a NULL input vector does NOT null the output: every score is
  *    null, so the row lands in the lowest-id cell with a null score —
  *    exactly what the HOF form (and the oracle's `ORDER BY cos DESC
  *    NULLS LAST, centroid_id`) produce, pinned by spec.
  *
  * Scores can never be NaN (zero norms return null first; finite
  * float inputs cannot overflow a double accumulator), so the simple
  * `>`/`==` comparator below is exactly the HOF's when-chain.
  *
  * Output: struct<ccos: double, centroid_id: bigint> — the same shape
  * `element_at(nearestCellsConst(..., 1), 1)` returned, so call sites
  * keep their `.getField` accessors.
  */
case class NearestCentroid(child: Expression,
    ids: IndexedSeq[Long], cvs: IndexedSeq[IndexedSeq[Float]])
    extends UnaryExpression {

  // VALUE-equality constructor params (arrays compare by reference,
  // which would make two semantically identical expressions unequal —
  // defeating semanticEquals, common-subexpression elimination and
  // cached-plan matching); the hot path reads these primitive-array
  // mirrors, built once per expression instance
  @transient private lazy val idArr: Array[Long] = ids.toArray
  @transient private lazy val cvArr: Array[Array[Float]] =
    cvs.map(_.toArray).toArray

  // never null by CONTRACT: a null vector folds to the lowest-id cell
  // with a null score (the HOF form's behavior — see scaladoc)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"${NearestCentroid.FunctionName} expects array<float>, " +
          s"got ${t.catalogString}")
    }

  override def dataType: DataType = NearestCentroid.OutputType

  override def eval(input: InternalRow): Any =
    NearestCentroid.compute(
      child.eval(input).asInstanceOf[ArrayData], idArr, cvArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val childGen = child.genCode(ctx)
    val idsRef = ctx.addReferenceObj("ids", idArr, "long[]")
    val cvsRef = ctx.addReferenceObj("cvs", cvArr, "float[][]")
    ev.copy(
      code = code"""
        ${childGen.code}
        InternalRow ${ev.value} =
          graft.functions.NearestCentroid.compute(
            ${childGen.isNull} ? null : ${childGen.value},
            $idsRef, $cvsRef);
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NearestCentroid {
  val FunctionName = "graft_nearest_centroid"

  val OutputType: StructType = StructType(Seq(
    StructField("ccos", DoubleType, nullable = true),
    StructField("centroid_id", LongType, nullable = false)))

  /** The fused argmax pass, callable from generated code. `vec` may
    * be null (null row value) — see the case-class scaladoc. */
  def compute(vec: ArrayData, ids: Array[Long],
      cvs: Array[Array[Float]]): InternalRow = {
    var bestKey = 0.0 // meaningful only once bestSet
    var bestNull = true
    var bestId = 0L
    var bestSet = false
    var j = 0
    while (j < ids.length) {
      val cv = cvs(j)
      // CosineSimilarity.nullSafeEval's exact arithmetic, cv unrolled
      // from the literal (literal vectors have no null elements)
      var isNull = vec == null || vec.numElements() != cv.length
      var cos = 0.0
      if (!isNull) {
        var dot = 0.0
        var na = 0.0
        var nb = 0.0
        var i = 0
        val n = cv.length
        while (i < n && !isNull) {
          if (vec.isNullAt(i)) isNull = true
          else {
            val xi = vec.getFloat(i).toDouble
            val yi = cv(i).toDouble
            dot += xi * yi
            na += xi * xi
            nb += yi * yi
          }
          i += 1
        }
        if (!isNull) {
          if (na == 0.0 || nb == 0.0) isNull = true
          else cos = dot / (math.sqrt(na) * math.sqrt(nb))
        }
      }
      // ccos DESC NULLS LAST, centroid_id ASC — null keys as -Inf
      val key = if (isNull) Double.NegativeInfinity else cos
      val prevKey = if (!bestSet) Double.NaN
        else if (bestNull) Double.NegativeInfinity else bestKey
      if (!bestSet || key > prevKey ||
          (key == prevKey && ids(j) < bestId)) {
        bestSet = true
        bestKey = key
        bestNull = isNull
        bestId = ids(j)
      }
      j += 1
    }
    require(bestSet, s"$FunctionName: empty centroid set")
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](if (bestNull) null else bestKey, bestId))
  }

  /** Expression builder: the centroid ids and vectors must be foldable
    * literals (the Column entry point ships them via `typedlit`). */
  def builder(exprs: Seq[Expression]): Expression = {
    if (exprs.length != 3)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> s"`$FunctionName`",
          "expectedNum" -> "3",
          "actualNum" -> exprs.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))
    val ids = exprs(1) match {
      case Literal(a: ArrayData, ArrayType(LongType, _)) => a.toLongArray()
      case other => throw new IllegalArgumentException(
        s"$FunctionName: ids must be an array<bigint> literal, got $other")
    }
    val cvs = exprs(2) match {
      case Literal(a: ArrayData, ArrayType(ArrayType(FloatType, _), _)) =>
        Array.tabulate(a.numElements())(i => a.getArray(i).toFloatArray())
      case other => throw new IllegalArgumentException(
        s"$FunctionName: centroids must be an array<array<float>> " +
          s"literal, got $other")
    }
    require(ids.length == cvs.length && ids.nonEmpty,
      s"$FunctionName: ${ids.length} ids vs ${cvs.length} vectors")
    NearestCentroid(exprs(0), ids.toIndexedSeq,
      cvs.map(_.toIndexedSeq).toIndexedSeq)
  }

  /** Column entry point — registers on the caller's session plus the
    * default session (call_function resolves at analysis time against
    * the DataFrame's session — the WordNgrams discipline). */
  def apply(spark: SparkSession, vec: Column,
      centroids: Seq[(Long, Array[Float])]): Column = {
    GraftFunctions.call(spark, FunctionName, builder)(vec,
      typedlit(centroids.map(_._1)),
      typedlit(centroids.map(_._2.toSeq)))
  }
}
