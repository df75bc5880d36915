package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** DETERMINISTIC BOTTOM-K sample of up to k distinct string values
  * per group — the training-data "take a reproducible sample of each
  * source/language/bucket" primitive, running in one pass with O(k)
  * state per group and an order-independent merge between partial
  * buffers.
  *
  * Each value draws a pseudo-random priority as a pure function of
  * (seed, value); the buffer keeps the k smallest priorities. Because
  * the priority depends only on the value, duplicate values share one
  * priority: the output is a hash-ordered sample of the DISTINCT
  * values (not a uniform multiset sample — occurrence counts don't
  * change selection odds). That trade is what makes the sample
  * reproducible across partitionings and merges; for gate usage over
  * unique keys the two notions coincide.
  */
object ReservoirSample {

  /** splitmix64 over (seed, java.lang.String.hashCode) — stable
    * across JVMs, and the EXACT function the udaf form used, so the
    * native port keeps identical sample membership. */
  private[functions] def priority(seed: Long, v: String): Long = {
    var z = seed + v.hashCode.toLong * 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Mutable bottom-k buffer: ≤k (priority, value) pairs kept sorted
    * ascending by (priority, value); the contains skip makes it a SET
    * (duplicate values share one priority — a repeat must not crowd
    * out genuinely distinct values). k is sample-sized (single
    * digits), so linear insertion beats any tree. */
  final class RBuf(val k: Int) {
    val pris = new Array[Long](k)
    val vals = new Array[String](k)
    var n = 0

    def insert(p: Long, v: String): Unit = {
      var lo = 0
      while (lo < n && (pris(lo) < p || (pris(lo) == p && vals(lo) < v)))
        lo += 1
      if (lo < n && pris(lo) == p && vals(lo) == v) return // set semantics
      if (lo == k) return // worse than the current k-th
      val last = if (n < k) n else k - 1
      var j = last
      while (j > lo) { pris(j) = pris(j - 1); vals(j) = vals(j - 1); j -= 1 }
      pris(lo) = p
      vals(lo) = v
      if (n < k) n += 1
    }
  }

  val FunctionName = "graft_reservoir"

  /** Expression builder: `graft_reservoir(v, k, seed)` with k and
    * seed literals (sample geometry is a plan-time constant). */
  def builder(exprs: Seq[Expression]): Expression = {
    if (exprs.length != 3)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> s"`$FunctionName`",
          "expectedNum" -> "3",
          "actualNum" -> exprs.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))
    val k = exprs(1) match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"$FunctionName: k must be an integer literal, got $other")
    }
    val seed = exprs(2) match {
      case Literal(v: Long, LongType) => v
      case Literal(v: Int, IntegerType) => v.toLong
      case other => throw new IllegalArgumentException(
        s"$FunctionName: seed must be an integer literal, got $other")
    }
    ReservoirSampleAgg(exprs.head, k, seed)
  }

  /** Column entry point — the native aggregate (the udaf Aggregator
    * it replaced, `ReservoirSampleUdaf`, stays in the test tree as the
    * equivalence-spec reference). Registers on the
    * caller's session AND the default session (call_function resolves
    * at analysis time against the DataFrame's session — the
    * WordNgrams discipline). */
  def apply(spark: SparkSession, v: Column, k: Int,
      seed: Long = 42L): Column = {
    GraftFunctions.call(spark, FunctionName, builder)(v,
      org.apache.spark.sql.functions.lit(k),
      org.apache.spark.sql.functions.lit(seed))
  }

}

/** Native form: the bottom-k sample as a [[TypedImperativeAggregate]]
  * reading InternalRows directly — same priority function, same set
  * semantics, same sorted-values output as the udaf Aggregator it
  * replaces (value-identical by determinism, pinned in
  * PipelineOpsSpec), minus the per-row encoder round-trip. */
case class ReservoirSampleAgg(child: Expression, k: Int, seed: Long,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ReservoirSample.RBuf] {

  require(k > 0, s"${ReservoirSample.FunctionName}: k must be positive")

  override def children: Seq[Expression] = Seq(child)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got " +
        child.dataType.simpleString)
  override def nullable: Boolean = false
  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = ReservoirSample.FunctionName

  override def createAggregationBuffer(): ReservoirSample.RBuf =
    new ReservoirSample.RBuf(k)

  override def update(buf: ReservoirSample.RBuf,
      input: InternalRow): ReservoirSample.RBuf = {
    val v = child.eval(input)
    // a null value never ranks (SQL aggregates skip nulls)
    if (v != null) {
      val s = v.asInstanceOf[UTF8String].toString
      buf.insert(ReservoirSample.priority(seed, s), s)
    }
    buf
  }

  override def merge(buf: ReservoirSample.RBuf,
      other: ReservoirSample.RBuf): ReservoirSample.RBuf = {
    var j = 0
    while (j < other.n) { buf.insert(other.pris(j), other.vals(j)); j += 1 }
    buf
  }

  override def eval(buf: ReservoirSample.RBuf): Any = {
    val out = new Array[String](buf.n)
    System.arraycopy(buf.vals, 0, out, 0, buf.n)
    scala.util.Sorting.quickSort(out) // values ascending, like finish()
    new GenericArrayData(
      out.map(UTF8String.fromString(_): Any))
  }

  override def serialize(buf: ReservoirSample.RBuf): Array[Byte] = {
    // encode each value ONCE (k is single-digit): sizing and writing
    // off the same bytes, not a second getBytes per entry — this runs
    // per shuffle-side partial buffer
    val enc = new Array[Array[Byte]](buf.n)
    var bytes = 0
    var j = 0
    while (j < buf.n) {
      enc(j) = buf.vals(j).getBytes("UTF-8")
      bytes += 12 + enc(j).length
      j += 1
    }
    val bb = java.nio.ByteBuffer.allocate(8 + bytes)
    bb.putInt(buf.k).putInt(buf.n)
    j = 0
    while (j < buf.n) {
      bb.putLong(buf.pris(j)).putInt(enc(j).length).put(enc(j))
      j += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): ReservoirSample.RBuf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new ReservoirSample.RBuf(bb.getInt())
    var m = bb.getInt()
    while (m > 0) {
      val p = bb.getLong()
      val vb = new Array[Byte](bb.getInt())
      bb.get(vb)
      buf.insert(p, new String(vb, "UTF-8"))
      m -= 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ReservoirSampleAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ReservoirSampleAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ReservoirSampleAgg =
    copy(child = newChildren.head)
}
