package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: word n-gram shingles of a token array
  * in one fused pass — value-exact with the interpreted composition
  * `transform(sequence(0, size(toks) - n), i -> concat_ws(" ",
  * element_at(toks, i+1), ..., element_at(toks, i+n)))` (guarded to
  * an empty array below n tokens) that [[TextVec.shingles]] evaluated
  * before r17.
  *
  * This sat on the hottest CPU path in the repo: every MinHash/
  * Jaccard/banding gate — and the incremental dedup stream's
  * per-trigger banding — shingles the corpus before anything hashes.
  * Measured at sf0.1 (32-way, warm): the HOF pass cost ~1.0 s per
  * corpus scan against 0.24 s for tokenization alone and 0.13 s for
  * the ENTIRE fused sha-256 minhash fold — the interpreted per-gram
  * machinery (sequence array, lambda dispatch, n element_at
  * evaluations and an interpreted concat_ws per gram) was ~8× the
  * cost of the real work. Here the token strings are fetched once
  * and each gram is one `UTF8String.concatWs` call.
  *
  * Semantics pinned by the parity spec: null token ELEMENTS are
  * skipped inside a gram exactly like `concat_ws` skips null
  * arguments; fewer than n tokens — and a NULL token array — yield
  * an EMPTY array (the replaced `when(size(toks) >= n, ...)` guard
  * evaluates to a NULL condition on null input and falls through to
  * `otherwise(empty)`, so downstream consumers never saw a null
  * array and still don't).
  */
case class WordNgrams(child: Expression, n: Int)
    extends UnaryExpression {

  // never null by CONTRACT — null input folds to the empty array the
  // replaced when/otherwise produced (the CharNgrams discipline)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"${WordNgrams.FunctionName} expects array<string>, got ${t.catalogString}")
    }

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) WordNgrams.emptyArray()
    else WordNgrams.compute(v.asInstanceOf[ArrayData], n)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val childGen = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${childGen.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          ${childGen.isNull} ?
            graft.functions.WordNgrams.emptyArray() :
            graft.functions.WordNgrams.compute(${childGen.value}, $n);
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordNgrams {
  val FunctionName = "graft_word_ngrams"

  private val Empty = new GenericArrayData(new Array[Any](0))
  private val Space = UTF8String.fromString(" ")

  /** The shared empty result — public because generated code calls it
    * (the null-input fold). */
  def emptyArray(): ArrayData = Empty

  /** The fused n-gram pass, callable from generated code. */
  def compute(toks: ArrayData, n: Int): ArrayData = {
    require(n >= 1, s"$FunctionName: n must be >= 1, got $n")
    val sz = toks.numElements()
    val grams = sz - n + 1
    if (grams <= 0) Empty
    else {
      // fetch each token once — the HOF re-evaluated element_at n
      // times per gram. concat_ws SKIPS nulls, so null elements pass
      // through to concatWs, which implements exactly that.
      val elems = new Array[UTF8String](sz)
      var i = 0
      while (i < sz) {
        elems(i) = if (toks.isNullAt(i)) null else toks.getUTF8String(i)
        i += 1
      }
      val out = new Array[Any](grams)
      i = 0
      while (i < grams) {
        val parts = java.util.Arrays.copyOfRange(elems, i, i + n)
        out(i) = UTF8String.concatWs(Space, parts: _*)
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  /** Expression builder with an arity guard (the MinhashSignature
    * registration pattern). */
  def builder(exprs: Seq[Expression]): Expression = {
    if (exprs.length != 2)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> s"`$FunctionName`",
          "expectedNum" -> "2",
          "actualNum" -> exprs.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))
    val n = exprs(1) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"$FunctionName: n must be an integer literal, got $other")
    }
    WordNgrams(exprs(0), n)
  }

  /** Column entry point — registers on the session first.
    * `call_function` resolves at ANALYSIS time against the
    * DataFrame's own session, which can differ from the session the
    * column was constructed on (multi-session tests, a session
    * created after construction), so also register on the default
    * session as a fallback — the two cover every resolution path in
    * this repo (the one session-clone context, foreachBatch, shares
    * the parent's function registry). */
  def apply(spark: SparkSession, toks: Column, n: Int): Column = {
    GraftFunctions.call(spark, FunctionName, builder)(toks,
      org.apache.spark.sql.functions.lit(n))
  }
}
