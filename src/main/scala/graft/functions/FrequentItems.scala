package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** MERGEABLE Misra–Gries heavy-hitter summary (Misra & Gries,
  * Sci.Comp.Prog.'82; merge rule per Agarwal et al., "Mergeable
  * Summaries", PODS'12 §3) — at most `k` (item, counter) pairs per
  * group plus the exact processed-item total `n`.
  *
  * Guarantees, held by construction through ANY partitioning and any
  * merge tree (these are what the gate audits):
  *   - every item with true count > n/(k+1) is present in the summary;
  *   - for every retained item, est ≤ true ≤ est + n/(k+1).
  *
  * The summary CONTENT (which sub-threshold items survive, and the
  * residual counter values) is partition-order-dependent, so gates
  * must emit only order-independent consequences of the guarantees —
  * membership of the exact heavy hitters and the error-bound flags —
  * never raw estimates. Same discipline as the HLL gate auditing its
  * 5% contract instead of hashing register values.
  *
  * Scale: k pairs of state per group whatever the item cardinality —
  * the top-table path that replaces a full (group, item) shuffle of
  * an unbounded key space with a k-bounded digest, partial-aggregated
  * map-side and merged associatively (so it is also a valid streaming
  * aggregation state, the frequent-items cousin of q_stream_hll's
  * register set — the q_stream_freq complete-mode state IS this
  * buffer, serialized).
  */
object FrequentItems {

  /** Mutable MG buffer: exact item total `n` plus ≤k counters keyed by
    * UTF8String (stored keys are DEFENSIVE COPIES — an UnsafeArrayData
    * element points into a reused row buffer). One per (task, group). */
  final class MGBuf(val k: Int) {
    var n: Long = 0L
    val items = new java.util.HashMap[UTF8String, MGBuf.Ctr](k * 2)

    /** One item observation — the textbook update: increment a held
      * counter, admit below capacity, else decrement-all (each such
      * event removes k+1 units of count mass — k counters + the
      * unadmitted item — so at most n/(k+1) events can ever subtract
      * from any single item: the undercount bound). */
    def add(t: UTF8String): Unit = {
      n += 1
      val c = items.get(t)
      if (c != null) c.c += 1L
      else if (items.size < k) items.put(t.clone(), new MGBuf.Ctr(1L))
      else {
        val it = items.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          e.getValue.c -= 1L
          if (e.getValue.c <= 0L) it.remove()
        }
      }
    }

    /** Add `cnt` units of a MERGED-in counter (not an observation —
      * `n` is advanced separately by the merge). */
    def addCount(t: UTF8String, cnt: Long): Unit = {
      val c = items.get(t)
      if (c != null) c.c += cnt
      else items.put(t, new MGBuf.Ctr(cnt))
    }

    /** Mergeable-Summaries size restore: subtract the (k+1)-th largest
      * counter from every counter, drop the non-positive — at most k
      * items can exceed the threshold, and the combined undercount
      * stays within (n1+n2)/(k+1). */
    def shrinkToK(): Unit =
      if (items.size > k) {
        val vals = new Array[Long](items.size)
        var i = 0
        val vit = items.values().iterator()
        while (vit.hasNext) { vals(i) = vit.next().c; i += 1 }
        java.util.Arrays.sort(vals)
        val thr = vals(vals.length - 1 - k) // (k+1)-th largest
        val it = items.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          e.getValue.c -= thr
          if (e.getValue.c <= 0L) it.remove()
        }
      }
  }

  object MGBuf {
    /** Boxed mutable counter — one allocation per RETAINED item (≤k),
      * not per observation. */
    final class Ctr(var c: Long)
  }

  val FunctionName = "graft_mg_sketch"

  /** `n` = exact total of items processed (order-independent);
    * `items` = the ≤k-entry counter summary (order-dependent — audit
    * its guarantees, don't hash it). Field layout matches the udaf
    * Buf encoding this aggregate replaced (the test tree's
    * `FrequentItemsAggregator`), so every consumer (freqAudit, the
    * stream memory sink) reads the same struct. */
  val OutputType: StructType = new StructType()
    .add("n", LongType, nullable = false)
    .add("items", MapType(StringType, LongType, valueContainsNull = false),
      nullable = true)

  /** Column form over a per-row item-array column: one struct(n,
    * items) per group — the native TypedImperativeAggregate (reads
    * InternalRows directly; the prior `udaf()` Aggregator paid an
    * encoder round-trip — InternalRow → Seq[String] → immutable-Map
    * rebuild — on EVERY input row; see SCALE.md round 19 A/B). */
  def sketch(items: Column, k: Int): Column = {
    // Column → Expression without a session: route through the
    // function registry. Register on the active AND default sessions
    // — call_function resolves at analysis time against the
    // DataFrame's session, which need not be the one active here
    // (the r17 WordNgrams/TextVec lesson, applied from birth).
    (SparkSession.getActiveSession ++ SparkSession.getDefaultSession)
      .foreach(GraftFunctions.register(_, FunctionName, builder))
    call_function(FunctionName, items,
      org.apache.spark.sql.functions.lit(k))
  }

  /** Session-explicit form — the discipline every other native
    * aggregate entry point follows (register on the TARGET session and
    * the default): the sessionless [[sketch]] can only guess via
    * active/default, which misses a third session the consuming
    * DataFrame was built on (spark.newSession() → unresolved-function
    * analysis failure). Prefer this overload when a session is in
    * hand. */
  def sketch(spark: SparkSession, items: Column, k: Int): Column = {
    GraftFunctions.call(spark, FunctionName, builder)(items,
      org.apache.spark.sql.functions.lit(k))
  }

  /** Expression builder: `graft_mg_sketch(items, k)` with k an
    * integer literal (the TopKAgg convention — sketch geometry is a
    * plan-time constant, not data). */
  def builder(exprs: Seq[Expression]): Expression = {
    if (exprs.length != 2)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> s"`$FunctionName`",
          "expectedNum" -> "2",
          "actualNum" -> exprs.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))
    val k = exprs(1) match {
      case Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"$FunctionName: k must be an integer literal, got $other")
    }
    MisraGriesAgg(exprs.head, k)
  }
}

/** Native Misra–Gries aggregation: the [[FrequentItems.MGBuf]] summary
  * as a [[TypedImperativeAggregate]] reading InternalRows directly —
  * same update rule, same PODS'12 merge, same output struct as the
  * udaf Aggregator it replaced (kept in the test tree as the
  * equivalence-spec reference), minus the per-row encoder round-trip.
  * Buffers shuffled between stages stay k-bounded per (task, key). */
case class MisraGriesAgg(child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[FrequentItems.MGBuf] {

  require(k > 0, s"${FrequentItems.FunctionName}: k must be positive")

  override def children: Seq[Expression] = Seq(child)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string> input, got ${other.simpleString}")
  }
  override def nullable: Boolean = false
  override def dataType: DataType = FrequentItems.OutputType
  override def prettyName: String = FrequentItems.FunctionName

  override def createAggregationBuffer(): FrequentItems.MGBuf =
    new FrequentItems.MGBuf(k)

  override def update(buf: FrequentItems.MGBuf,
      input: InternalRow): FrequentItems.MGBuf = {
    val arr = child.eval(input).asInstanceOf[ArrayData]
    if (arr != null) {
      val len = arr.numElements()
      var i = 0
      while (i < len) {
        // a null element can't occur from the trigram transform; skip
        // rather than admit a null key into the counter map
        if (!arr.isNullAt(i)) buf.add(arr.getUTF8String(i))
        i += 1
      }
    }
    buf
  }

  override def merge(buf: FrequentItems.MGBuf,
      other: FrequentItems.MGBuf): FrequentItems.MGBuf = {
    buf.n += other.n
    val it = other.items.entrySet().iterator()
    // `other` was deserialized (its keys are already private copies),
    // so addCount may adopt them without another clone
    while (it.hasNext) {
      val e = it.next()
      buf.addCount(e.getKey, e.getValue.c)
    }
    buf.shrinkToK()
    buf
  }

  override def eval(buf: FrequentItems.MGBuf): Any = {
    val sz = buf.items.size
    val keys = new Array[Any](sz)
    val vals = new Array[Any](sz)
    var i = 0
    val it = buf.items.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      keys(i) = e.getKey
      vals(i) = e.getValue.c
      i += 1
    }
    InternalRow(buf.n,
      new ArrayBasedMapData(new GenericArrayData(keys),
        new GenericArrayData(vals)))
  }

  override def serialize(buf: FrequentItems.MGBuf): Array[Byte] = {
    var bytes = 0
    val sit = buf.items.keySet().iterator()
    while (sit.hasNext) bytes += 12 + sit.next().numBytes() // len + key + count
    val bb = java.nio.ByteBuffer.allocate(16 + bytes)
    bb.putInt(buf.k).putLong(buf.n).putInt(buf.items.size)
    val it = buf.items.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val kb = e.getKey.getBytes
      bb.putInt(kb.length)
      bb.put(kb)
      bb.putLong(e.getValue.c)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): FrequentItems.MGBuf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new FrequentItems.MGBuf(bb.getInt())
    buf.n = bb.getLong()
    var m = bb.getInt()
    while (m > 0) {
      val kb = new Array[Byte](bb.getInt())
      bb.get(kb)
      buf.items.put(UTF8String.fromBytes(kb), new FrequentItems.MGBuf.Ctr(bb.getLong()))
      m -= 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MisraGriesAgg =
    copy(child = newChildren.head)
}
