package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** The native [[MisraGriesAgg]] vs the udaf Aggregator it replaces:
  * the two are the SAME deterministic state machine (identical update
  * rule, identical PODS'12 merge), so on any fixed stream order,
  * partitioning and merge tree the summaries must match exactly —
  * n, retained items, and residual counter values. That exact-match
  * pin is stronger than the guarantee-level audit the gates run, and
  * it is what makes the swap hash-invariant for q_sketch_freq /
  * q_stream_freq.
  */
class FrequentItemsSpec extends SparkSpec {

  import spark.implicits._

  private def bufToPair(b: FrequentItems.MGBuf): (Long, Map[String, Long]) = {
    val m = Map.newBuilder[String, Long]
    b.items.forEach((k, v) => m += (k.toString -> v.c))
    (b.n, m.result())
  }

  test("native MGBuf replays the udaf Aggregator exactly over random " +
    "partitionings and merge trees (same items, same residual counts)") {
    val k = 4
    val agg = new FrequentItemsAggregator(k)
    val rng = new scala.util.Random(7)
    val stream = rng.shuffle(
      Seq.fill(70)("hot") ++ Seq.fill(30)("warm") ++
        (0 until 100).map(i => s"tail$i"))
    (0 until 20).foreach { trial =>
      val r = new scala.util.Random(trial)
      val parts = stream.grouped(1 + r.nextInt(25)).toSeq
      // decide the merge-direction coin flips ONCE so both engines
      // see the identical tree
      val chunkSizes = parts.map(_ => 1 + r.nextInt(5))
      val flips = parts.indices.drop(1).map(_ => r.nextBoolean())

      val oldBufs = parts.zip(chunkSizes).map { case (p, cs) =>
        p.grouped(cs).foldLeft(agg.zero)(agg.reduce)
      }
      val oldMerged = oldBufs.zipWithIndex.reduce { (a, b) =>
        (if (flips(b._2 - 1)) agg.merge(a._1, b._1)
         else agg.merge(b._1, a._1), b._2)
      }._1

      val mg = MisraGriesAgg(
        org.apache.spark.sql.catalyst.expressions.BoundReference(
          0, org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.StringType), nullable = true),
        k)
      val newBufs = parts.zip(chunkSizes).map { case (p, cs) =>
        // chunking is a no-op for the native form (no per-chunk Seq
        // boundary), but replay the same per-item order
        val buf = mg.createAggregationBuffer()
        p.grouped(cs).foreach(_.foreach(t =>
          buf.add(UTF8String.fromString(t))))
        buf
      }
      val newMerged = newBufs.zipWithIndex.reduce { (a, b) =>
        (if (flips(b._2 - 1)) mg.merge(a._1, b._1)
         else mg.merge(b._1, a._1), b._2)
      }._1

      assert(bufToPair(newMerged) ==
        (oldMerged.n, oldMerged.items),
        s"trial $trial diverged from the udaf state machine")
    }
  }

  test("serialize/deserialize round-trips the buffer exactly") {
    val mg = MisraGriesAgg(
      org.apache.spark.sql.catalyst.expressions.BoundReference(
        0, org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType), nullable = true),
      5)
    val buf = mg.createAggregationBuffer()
    ("aa bb aa cc dd ee ff aa bb gg").split(" ")
      .foreach(t => buf.add(UTF8String.fromString(t)))
    val back = mg.deserialize(mg.serialize(buf))
    assert(bufToPair(back) == bufToPair(buf))
    assert(back.k == buf.k)
  }

  test("DataFrame-level: native sketch output equals the udaf form " +
    "on a single-partition group (same struct, same map)") {
    // one partition per group ⇒ deterministic update order ⇒ the two
    // implementations must agree value-for-value, not just on the
    // MG guarantees
    val rows = (1 to 300).map { i =>
      val src = if (i % 2 == 0) "a" else "b"
      val item = if (i % 3 == 0) "hot" else s"tail${i % 40}"
      (src, Seq(item, "hot"))
    }
    val df = rows.toDF("source", "grams").repartition(1)

    def summarize(c: org.apache.spark.sql.Column): Map[String, (Long, Map[String, Long])] =
      df.groupBy(col("source")).agg(c.as("mg"))
        .select(col("source"), col("mg.n"), col("mg.items"))
        .collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getMap[String, Long](2).toMap))
        .toMap

    val native = summarize(FrequentItems.sketch(col("grams"), 7))
    val viaUdaf = summarize(FrequentItemsAggregator.sketchUdaf(col("grams"), 7))
    assert(native == viaUdaf)
    assert(native.keySet == Set("a", "b"))
    assert(native.values.forall(_._2.contains("hot")))
  }
}
