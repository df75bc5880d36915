package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the winnowing fingerprint selection
  * (Schleimer et al. SIGMOD'03) of one document in ONE fused pass —
  * character k-gram md5 encodings, w-window minima, first-occurrence
  * distinct — replacing a four-deep higher-order-function composition
  * (transform ∘ sequence ∘ slice ∘ array_min, all CodegenFallback in
  * Spark) whose per-gram cost was dominated by expression
  * interpretation and intermediate materialization: each gram paid a
  * substring copy, a binary cast, a 32-char hex STRING, a substring
  * of that, and a base-16 string parse, plus a materialized encs
  * array re-sliced w times. Here one reused MessageDigest hashes each
  * gram's byte span in place (character offsets computed once per
  * document), the window minimum folds over a primitive long array,
  * and codegen emits a single static call — no boxing, no
  * intermediate strings.
  *
  * Value-exact with the HOF form and the DuckDB oracle
  * ([[graft.operators.TextOps.winnowSelCtes]]): enc(i) =
  * (int(first 6 hex chars of md5(utf8 bytes of substr(text, i, k)))
  * << posBits) + (posMax − i), i 1-based CHARACTER position; minima
  * windows p..p+w−1; distinct keeps first occurrence. Short texts
  * (fewer than k chars, or fewer than k+w−1 for any window) yield an
  * empty array, matching the HOFs' guarded branches. Output order
  * beyond distinctness is consumed order-insensitively downstream
  * (sums and sets), but first-occurrence order is preserved anyway so
  * the expression is a drop-in for the HOF column anywhere — EXCEPT
  * on a NULL text, where this expression null-propagates (standard
  * UnaryExpression semantics) while the HOF formulation's guard fell
  * through to an empty array; [[graft.operators.TextOps.winnowSelCol]]
  * coalesces to an empty array to restore that behavior exactly.
  */
case class WinnowSelect(child: Expression, k: Int, w: Int, posBits: Int)
    extends UnaryExpression {

  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"winnow_select expects a string argument, got " +
        child.dataType.catalogString)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    WinnowSelect.select(input.asInstanceOf[UTF8String], k, w, posBits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.WinnowSelect.select($c, $k, $w, $posBits)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WinnowSelect {
  val FunctionName = "graft_winnow_select"

  // one MD5 instance per executor thread, reset per gram —
  // MessageDigest.getInstance is a provider lookup + allocation that
  // a per-ROW call pays millions of times over a corpus scan;
  // MessageDigest is not thread-safe, so the hoist must be
  // per-thread, and task threads are pooled so the instance amortizes
  // across all rows the thread ever processes
  private val md5Local: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() =>
      java.security.MessageDigest.getInstance("MD5"))

  /** The whole selection, callable from generated code. Static and
    * allocation-lean: one char-offset array, one long array for the
    * encodings, one thread-local MD5 instance reused across rows. */
  def select(text: UTF8String, k: Int, w: Int, posBits: Int): ArrayData = {
    val posMax = (1L << posBits) - 1
    val bytes = text.getBytes
    // character start offsets (UTF-8 aware): offsets(c) = byte index
    // where character c begins; offsets(nChars) = total bytes
    val nChars = text.numChars()
    val nGrams = nChars - (k - 1)
    if (nGrams < 1 || nGrams - (w - 1) < 1)
      return ArrayData.toArrayData(Array.empty[Long])
    val offsets = new Array[Int](nChars + 1)
    var c = 0
    var b = 0
    while (c < nChars) {
      offsets(c) = b
      b += org.apache.spark.unsafe.types.UTF8String
        .numBytesForFirstByte(bytes(b))
      c += 1
    }
    offsets(nChars) = bytes.length
    val md = md5Local.get()
    val encs = new Array[Long](nGrams)
    var i = 0
    while (i < nGrams) {
      val from = offsets(i)
      val until = offsets(i + k)
      md.reset()
      md.update(bytes, from, until - from)
      val d = md.digest()
      // int value of the first 6 hex chars = first 3 digest bytes,
      // big-endian — exactly conv(substr(hex(md5), 1, 6), 16, 10)
      val h = ((d(0) & 0xffL) << 16) | ((d(1) & 0xffL) << 8) | (d(2) & 0xffL)
      encs(i) = (h << posBits) + (posMax - (i + 1))
      i += 1
    }
    val nWin = nGrams - (w - 1)
    val seen = new java.util.HashSet[java.lang.Long]()
    val sel = new Array[Long](nWin)
    var nSel = 0
    var p = 0
    while (p < nWin) {
      var m = encs(p)
      var j = p + 1
      while (j < p + w) {
        if (encs(j) < m) m = encs(j)
        j += 1
      }
      if (seen.add(m)) { sel(nSel) = m; nSel += 1 }
      p += 1
    }
    ArrayData.toArrayData(java.util.Arrays.copyOf(sel, nSel))
  }

  /** Expression builder with an arity guard (the CosineSimilarity
    * registration pattern); k/w/posBits arrive as foldable ints. */
  def builder(exprs: Seq[Expression]): Expression = {
    if (exprs.length != 4)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> s"`$FunctionName`",
          "expectedNum" -> "4",
          "actualNum" -> exprs.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))
    def lit(e: Expression, name: String): Int = e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"$FunctionName: $name must be an integer literal, got $other")
    }
    WinnowSelect(exprs(0), lit(exprs(1), "k"), lit(exprs(2), "w"),
      lit(exprs(3), "posBits"))
  }

  /** Column entry point — registers on the session first. */
  def apply(spark: SparkSession, text: Column, k: Int, w: Int,
      posBits: Int): Column = {
    GraftFunctions.call(spark, FunctionName, builder)(text,
      org.apache.spark.sql.functions.lit(k),
      org.apache.spark.sql.functions.lit(w),
      org.apache.spark.sql.functions.lit(posBits))
  }
}
