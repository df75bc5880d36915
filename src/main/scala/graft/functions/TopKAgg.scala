package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded best-first (ord, id) buffer backed by primitive arrays —
  * at most k scored pairs kept sorted by (ord DESC, id ASC), plus at
  * most k null-scored ids kept sorted ASC, the window-comparator
  * convention the TopK spec pins (`ord DESC` = NaN first, NULLS
  * LAST). Insertion is an O(1) reject against the current worst or a
  * binary-search + shift; no per-row allocation, no re-sort.
  *
  * Ordering is SPARK's double ordering, not the JVM's primitive
  * comparison: NaN sorts above every real value and equal to itself
  * (tie-break falls to id), and -0.0 ties 0.0 — both via a
  * normalize-then-Double.compare; the STORED value stays the caller's
  * original, so an emitted -0.0 survives as the window form emits it. */
final class TopKBuf(val k: Int) {
  val ords = new Array[Double](k)
  val ids = new Array[Long](k)
  var n = 0
  // null-score tail, smallest ids first: only ever emitted when fewer
  // than k real scores exist, exactly the rows the window form's
  // DESC NULLS LAST ordering lets through with rnk <= k
  val nullIds = new Array[Long](k)
  var nn = 0

  /* -0.0 compares equal to 0.0 in Spark's SQL ordering; NaN passes
   * through untouched (Double.compare already ranks it largest) */
  private def norm(x: Double): Double = if (x == 0.0) 0.0 else x

  /* strict "(o, i) ranks before slot j" under (ord DESC, id ASC) */
  private def beats(o: Double, i: Long, j: Int): Boolean = {
    val c = java.lang.Double.compare(norm(o), norm(ords(j)))
    c > 0 || (c == 0 && i < ids(j))
  }

  def insert(o: Double, i: Long): Unit = {
    if (n == k && !beats(o, i, n - 1)) return
    var lo = 0
    var hi = n
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (beats(o, i, mid)) hi = mid else lo = mid + 1
    }
    var j = if (n < k) n else k - 1
    while (j > lo) { ords(j) = ords(j - 1); ids(j) = ids(j - 1); j -= 1 }
    ords(lo) = o
    ids(lo) = i
    if (n < k) n += 1
  }

  def insertNull(i: Long): Unit = {
    if (nn == k && i >= nullIds(nn - 1)) return
    var lo = 0
    var hi = nn
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (i < nullIds(mid)) hi = mid else lo = mid + 1
    }
    var j = if (nn < k) nn else k - 1
    while (j > lo) { nullIds(j) = nullIds(j - 1); j -= 1 }
    nullIds(lo) = i
    if (nn < k) nn += 1
  }
}

/** Native bounded top-k aggregation: keep the k best (ord, id) pairs
  * per group under (ord DESC, id ASC), as a [[TypedImperativeAggregate]]
  * reading InternalRows directly — the hot-loop replacement for the
  * `udaf()`-wrapped Aggregator it replaces, whose ScalaAggregator bridge
  * pays an encoder round-trip (InternalRow → boxed tuple → immutable
  * Vector re-sort) on EVERY input row. Same comparator, same rows,
  * same order (spec-pinned against the window form); the partial
  * buffers shuffled between stages stay k-bounded per (task, key),
  * which is the whole point of the digest cut at 100 TB.
  *
  * Output: array<struct<_1 double, _2 bigint>> best-first — the
  * tuple field names the udaf form produced, so [[TopK.perKey]]'s
  * posexplode consumers are unchanged. */
case class TopKAgg(ord: Expression, id: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuf] {

  require(k > 0, "graft_topk_agg: k must be positive")

  override def children: Seq[Expression] = Seq(ord, id)
  // AbstractDataType is private[sql], so input typing is an explicit
  // check instead of ExpectsInputTypes; callers cast at the Column
  // layer and SQL text gets a named analysis error, not a cast trap
  override def checkInputDataTypes(): TypeCheckResult =
    if (ord.dataType == DoubleType && id.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (double, bigint) inputs, got " +
        s"(${ord.dataType.simpleString}, ${id.dataType.simpleString})")
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    new StructType()
      // _1 nullable: a null-scored row within the k-cut keeps its
      // null, exactly as the window form emits it
      .add("_1", DoubleType, nullable = true)
      .add("_2", LongType, nullable = false),
    containsNull = false)
  override def prettyName: String = TopKAgg.FunctionName

  override def createAggregationBuffer(): TopKBuf = new TopKBuf(k)

  override def update(buf: TopKBuf, input: InternalRow): TopKBuf = {
    val i = id.eval(input)
    // a null ID never ranks: ids are join keys by contract, so the
    // window-parity claim is over non-null ids. A null SCORE ranks
    // past every real row (DESC NULLS LAST) but still surfaces when
    // fewer than k real scores exist — the window form emits it, so
    // the digest must too.
    if (i != null) {
      val o = ord.eval(input)
      if (o == null) buf.insertNull(i.asInstanceOf[Long])
      else buf.insert(o.asInstanceOf[Double], i.asInstanceOf[Long])
    }
    buf
  }

  override def merge(buf: TopKBuf, other: TopKBuf): TopKBuf = {
    var j = 0
    while (j < other.n) { buf.insert(other.ords(j), other.ids(j)); j += 1 }
    j = 0
    while (j < other.nn) { buf.insertNull(other.nullIds(j)); j += 1 }
    buf
  }

  override def eval(buf: TopKBuf): Any = {
    val nulls = math.min(buf.nn, k - buf.n)
    new GenericArrayData(
      ((0 until buf.n).map(j => InternalRow(buf.ords(j), buf.ids(j))) ++
        (0 until nulls).map(j =>
          InternalRow(null, buf.nullIds(j)))).toArray[Any])
  }

  override def serialize(buf: TopKBuf): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(12 + buf.n * 16 + buf.nn * 8)
    bb.putInt(buf.k)
    bb.putInt(buf.n)
    var j = 0
    while (j < buf.n) { bb.putDouble(buf.ords(j)); bb.putLong(buf.ids(j)); j += 1 }
    bb.putInt(buf.nn)
    j = 0
    while (j < buf.nn) { bb.putLong(buf.nullIds(j)); j += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new TopKBuf(bb.getInt())
    val n = bb.getInt()
    var j = 0
    // entries arrive already sorted; write them through insert anyway
    // so the invariant never depends on the wire format
    while (j < n) { buf.insert(bb.getDouble(), bb.getLong()); j += 1 }
    val nn = bb.getInt()
    j = 0
    while (j < nn) { buf.insertNull(bb.getLong()); j += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKAgg =
    copy(ord = newChildren(0), id = newChildren(1))
}

object TopKAgg {
  val FunctionName = "graft_topk_agg"

  /** Expression builder: `graft_topk_agg(ord, id, k)` with k an
    * integer literal (the WinnowSelect convention — geometry is a
    * plan-time constant, not data). */
  def builder(exprs: Seq[Expression]): Expression = {
    if (exprs.length != 3)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> s"`$FunctionName`",
          "expectedNum" -> "3",
          "actualNum" -> exprs.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))
    val k = exprs(2) match {
      case Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"$FunctionName: k must be an integer literal, got $other")
    }
    TopKAgg(exprs(0), exprs(1), k)
  }

  /** Column entry point — registers on the caller's session AND the
    * default session (call_function resolves at analysis time against
    * the DataFrame's session — the WordNgrams discipline, applied
    * here in round 19 alongside the other native aggregates). */
  def apply(spark: SparkSession, ord: Column, id: Column, k: Int): Column = {
    GraftFunctions.call(spark, FunctionName, builder)(ord, id,
      org.apache.spark.sql.functions.lit(k))
  }
}
