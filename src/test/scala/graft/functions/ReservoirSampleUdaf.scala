package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** The udaf-wrapped Aggregator form [[ReservoirSampleAgg]] replaced —
  * the equivalence-spec reference (PipelineOpsSpec pins the native
  * sample value-identical to it). The ScalaAggregator bridge re-encodes
  * every input row, which is why the engine runs the native aggregate. */
class ReservoirSampleUdaf(k: Int, seed: Long)
    extends Aggregator[String, ReservoirSampleUdaf.Buf, Seq[String]] {

  import ReservoirSampleUdaf.Buf
  require(k > 0, "k must be positive")

  override def zero: Buf = Buf(Vector.empty)

  override def reduce(b: Buf, v: String): Buf =
    if (v == null) b else insert(b, (ReservoirSample.priority(seed, v), v))

  override def merge(b1: Buf, b2: Buf): Buf =
    b2.items.foldLeft(b1)(insert)

  private def insert(b: Buf, pv: (Long, String)): Buf =
    if (b.items.contains(pv)) b
    else if (b.items.length < k) Buf((b.items :+ pv).sorted)
    else if (Ordering[(Long, String)].lt(pv, b.items.last))
      Buf((b.items.init :+ pv).sorted)
    else b

  override def finish(b: Buf): Seq[String] = b.items.map(_._2).sorted

  override def bufferEncoder: Encoder[Buf] = Encoders.product[Buf]
  override def outputEncoder: Encoder[Seq[String]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[String]]()
}

object ReservoirSampleUdaf {
  final case class Buf(items: Vector[(Long, String)])
}
