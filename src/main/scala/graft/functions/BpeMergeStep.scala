package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One BPE merge-rule application over a space-delimited symbol
  * string: the EXACT Sennrich left-to-right greedy merge (Sennrich et
  * al., ACL'16 — learn_bpe's pair rewrite), as a native Catalyst
  * expression doing ONE linear StringBuilder pass.
  *
  * Replaces the `aggregate(slice(split(...)))` higher-order-function
  * fold in the BPE loop, which rebuilt the accumulator string per
  * token — O(m²) UTF8String copying per word per round, all
  * interpreted (HOFs are CodegenFallback). Semantics are identical by
  * construction and spec-pinned against the fold on the adjacency
  * cases: walking tokens left to right, `b` glues onto the
  * accumulator exactly when the accumulator's LAST TOKEN equals `a`
  * ('a a a' + (a,a) → 'aa a'; 'a b a b' + (a,b) → 'ab ab'; a merged
  * token may immediately participate as the `a` of the next position
  * only via its full merged form, never its suffix). The DuckDB
  * oracle keeps the equivalent `list_reduce` fold — cross-engine
  * agreement is the gate's proof.
  */
case class BpeMergeStep(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(_.dataType == StringType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${BpeMergeStep.FunctionName} expects (string, string, string), got " +
        children.map(_.dataType.catalogString).mkString("(", ", ", ")"))

  override def dataType: DataType = StringType

  override def nullSafeEval(syms: Any, a: Any, b: Any): Any =
    BpeMergeStep.mergeImpl(syms.asInstanceOf[UTF8String],
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, a, b) =>
      s"graft.functions.BpeMergeStep.mergeImpl($s, $a, $b)")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object BpeMergeStep {
  val FunctionName = "graft_bpe_merge"

  /** True when `ref` equals the `len`-byte span of `arr` at `off`
    * (caller has already matched lengths). */
  private def spanEq(arr: Array[Byte], off: Int, ref: Array[Byte]): Boolean = {
    var i = 0
    while (i < ref.length) {
      if (arr(off + i) != ref(i)) return false
      i += 1
    }
    true
  }

  /** The linear greedy pass (static forwarder — codegen calls this
    * directly), as a raw UTF-8 BYTE walk: token spans are delimited by
    * the ' ' byte (0x20 never occurs inside a UTF-8 multi-byte
    * sequence, so byte scanning is codepoint-safe), each span is
    * compared against `a`/`b` bytes and copied into ONE output buffer
    * sized by the input (merging only ever removes spaces). The
    * trailing-token test the fold spells `acc == a || acc.endsWith(' '
    * + a)` is a span-compare of the output's last token, O(|a|) per
    * position. No intermediate String/array allocation per call — the
    * r19 form's toString + split + rebuilt lastTok dominated the
    * expression's cost at corpus scale (~10⁸ distinct words).
    *
    * Empty tokens are real tokens: consecutive / leading / trailing
    * spaces split exactly like Spark's `split(syms, ' ')` (limit −1)
    * and DuckDB's string_split — the r19 form's Java `split(" ")`
    * (limit 0) silently dropped trailing empties and threw on
    * all-space input. BPE symbols contain no spaces (they are formed
    * from space-free tokens), which is what makes last-token
    * span-compare ≡ the fold's endsWith test. */
  def mergeImpl(symsU: UTF8String, aU: UTF8String,
      bU: UTF8String): UTF8String = {
    val syms = symsU.getBytes
    val a = aU.getBytes
    val b = bU.getBytes
    val n = syms.length
    val out = new Array[Byte](n)
    var outPos = 0
    var lastStart = 0 // byte offset in `out` of the last token's start
    var firstTok = true
    var i = 0
    while (i <= n) {
      var j = i
      while (j < n && syms(j) != ' ') j += 1
      val len = j - i
      if (firstTok) {
        System.arraycopy(syms, i, out, 0, len)
        outPos = len
        firstTok = false
      } else if (len == b.length && (outPos - lastStart) == a.length &&
          spanEq(syms, i, b) && spanEq(out, lastStart, a)) {
        // glue b onto the trailing token; lastStart stays — a merged
        // token participates in the NEXT position via its full form
        System.arraycopy(b, 0, out, outPos, len)
        outPos += len
      } else {
        out(outPos) = ' '
        outPos += 1
        lastStart = outPos
        System.arraycopy(syms, i, out, outPos, len)
        outPos += len
      }
      i = j + 1
    }
    UTF8String.fromBytes(out, 0, outPos)
  }

  /** Expression builder with an arity guard (the CosineSimilarity
    * convention). */
  def builder(exprs: Seq[Expression]): Expression = {
    if (exprs.length != 3)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> s"`$FunctionName`",
          "expectedNum" -> "3",
          "actualNum" -> exprs.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))
    BpeMergeStep(exprs(0), exprs(1), exprs(2))
  }

  /** Column entry point — registers on the caller's session AND the
    * default session (call_function resolves at analysis time against
    * the DataFrame's session — the WordNgrams discipline). */
  def apply(spark: SparkSession, syms: Column, a: Column,
      b: Column): Column = {
    GraftFunctions.call(spark, FunctionName, builder)(syms, a, b)
  }
}
