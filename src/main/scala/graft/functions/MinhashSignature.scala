package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the K-slot MinHash signature of a
  * shingle array in ONE fused pass — each shingle is sha-256'd once
  * (one reused MessageDigest) and its digest's K disjoint 4-byte
  * slices fold directly into K running minima, replacing an
  * interpreted `transform(shs, sha2)` materializing a 64-char hex
  * string per shingle plus K more interpreted
  * `array_min(transform(hs, substring(...)))` walks over it.
  *
  * Value-exact with that HOF composition (and the DuckDB oracle's
  * independent replica): the lexicographic minimum of 8-lowercase-hex
  * substrings equals the numeric minimum of the corresponding 4
  * digest bytes as an unsigned int (hex digits order consistently),
  * re-emitted as 8 lowercase hex chars. An EMPTY shingle array yields
  * K null slots, matching `array_min(empty) = null` slot by slot;
  * null elements are skipped the way ArrayMin skips them. Output is
  * array<string> of exactly K elements — callers pick slots with
  * `element_at` (and pin the frame, since projection collapse would
  * otherwise re-evaluate the signature once per slot).
  */
case class MinhashSignature(child: Expression, slots: Int)
    extends UnaryExpression {

  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"minhash_sig expects array<string>, got ${t.catalogString}")
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = true)

  override def nullSafeEval(input: Any): Any =
    MinhashSignature.compute(input.asInstanceOf[ArrayData], slots)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.MinhashSignature.compute($c, $slots)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinhashSignature {
  val FunctionName = "graft_minhash_sig"

  // per-thread SHA-256 instance, reset per shingle — same hoist as
  // WinnowSelect.md5Local: getInstance per ROW is a provider lookup
  // the corpus scan pays millions of times, and MessageDigest is not
  // thread-safe so the reuse must be thread-local
  private val sha256Local: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() =>
      java.security.MessageDigest.getInstance("SHA-256"))

  /** The fused signature, callable from generated code. `slots` × 4
    * bytes must fit the 32-byte sha-256 digest (8 slots is the full
    * digest — the engine's [[graft.operators.DedupOps.MinhashSeeds]]
    * geometry). */
  def compute(shingles: ArrayData, slots: Int): ArrayData = {
    require(slots * 4 <= 32, s"minhash_sig: $slots slots exceed sha-256")
    val n = shingles.numElements()
    val mins = new Array[Long](slots)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var any = false
    if (n > 0) {
      val md = sha256Local.get()
      var i = 0
      while (i < n) {
        if (!shingles.isNullAt(i)) {
          any = true
          md.reset()
          md.update(shingles.getUTF8String(i).getBytes)
          val d = md.digest()
          var j = 0
          while (j < slots) {
            val v = ((d(4 * j) & 0xffL) << 24) |
              ((d(4 * j + 1) & 0xffL) << 16) |
              ((d(4 * j + 2) & 0xffL) << 8) |
              (d(4 * j + 3) & 0xffL)
            if (v < mins(j)) mins(j) = v
            j += 1
          }
        }
        i += 1
      }
    }
    val out = new Array[Any](slots)
    if (any) {
      var j = 0
      while (j < slots) {
        out(j) = UTF8String.fromString(f"${mins(j)}%08x")
        j += 1
      }
    }
    new GenericArrayData(out)
  }

  /** Expression builder with an arity guard (the CosineSimilarity
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
    val slots = exprs(1) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"$FunctionName: slots must be an integer literal, got $other")
    }
    MinhashSignature(exprs(0), slots)
  }

  /** Column entry point — registers on the session first. */
  def apply(spark: SparkSession, shingles: Column, slots: Int): Column = {
    GraftFunctions.call(spark, FunctionName, builder)(shingles,
      org.apache.spark.sql.functions.lit(slots))
  }
}
