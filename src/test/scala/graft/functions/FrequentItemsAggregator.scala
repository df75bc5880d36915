package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** The udaf-wrapped Aggregator form [[MisraGriesAgg]] replaced — the
  * equivalence-spec reference (FrequentItemsSpec pins native ≡ udaf on
  * planted data; the round-19 A/B numbers live in SCALE.md). The
  * ScalaAggregator bridge re-encodes every input row, which is why the
  * engine runs the native aggregate. */
class FrequentItemsAggregator(k: Int)
    extends Aggregator[Seq[String], FrequentItemsAggregator.Buf,
      FrequentItemsAggregator.Buf] {
  import FrequentItemsAggregator.Buf
  require(k > 0)

  override def zero: Buf = Buf(0L, Map.empty)

  override def reduce(b: Buf, items: Seq[String]): Buf = {
    val m = mutable.HashMap.from(b.items)
    var n = b.n
    items.foreach { t =>
      n += 1
      m.get(t) match {
        case Some(c)            => m.update(t, c + 1)
        case None if m.size < k => m.update(t, 1L)
        case None =>
          m.mapValuesInPlace((_, c) => c - 1)
          m.filterInPlace((_, c) => c > 0)
      }
    }
    Buf(n, m.toMap)
  }

  override def merge(b1: Buf, b2: Buf): Buf = {
    val sum = mutable.HashMap.from(b1.items)
    b2.items.foreach { case (t, c) => sum.update(t, sum.getOrElse(t, 0L) + c) }
    if (sum.size > k) {
      val thr = sum.values.toArray.sorted(Ordering[Long].reverse).apply(k)
      sum.mapValuesInPlace((_, c) => c - thr)
      sum.filterInPlace((_, c) => c > 0)
    }
    Buf(b1.n + b2.n, sum.toMap)
  }

  override def finish(b: Buf): Buf = b

  override def bufferEncoder: Encoder[Buf] = Encoders.product[Buf]
  override def outputEncoder: Encoder[Buf] = Encoders.product[Buf]
}

object FrequentItemsAggregator {

  /** `n` / `items` of the udaf encoding (field names are the struct
    * contract [[FrequentItems.OutputType]] preserves). */
  final case class Buf(n: Long, items: Map[String, Long])

  /** Column form over a per-row item-array column, for comparison with
    * [[FrequentItems.sketch]]. */
  def sketchUdaf(items: Column, k: Int): Column =
    udaf(new FrequentItemsAggregator(k), ExpressionEncoder[Seq[String]]())(
      items)
}
