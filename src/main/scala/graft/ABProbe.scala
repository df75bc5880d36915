package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Interleaved A/B timing for registered gates and for the
  * [[ScaleProbe.probes]] production bodies on a drifting box:
  * alternates the named queries round-robin for N rounds in ONE JVM,
  * so ambient load hits every variant equally and the PER-ROUND
  * deltas are comparable even when absolute seconds drift. Usage:
  *   SPARK_GRAFT_SF_DIR=<dir> runMain graft.ABProbe [rounds] name...
  * Prints per-query min/median plus every round's reading. Repeating
  * a name runs independent arms (the A/A noise-floor check). A
  * measurement tool — not part of the driver contract.
  */
object ABProbe {
  def main(args: Array[String]): Unit =
    Harness.withSession(run(_, Harness.sfDir, args.toSeq))

  /** Gates and probes under one namespace; a name in both would make
    * a probe silently shadow a gate, so a clash fails loudly. */
  private lazy val bodies: Map[String, (SparkSession, String) => DataFrame] = {
    val clash = SparkEntry.queries.keySet intersect ScaleProbe.probes.keySet
    require(clash.isEmpty,
      s"probe name(s) clash with gates: ${clash.toSeq.sorted.mkString(", ")}")
    SparkEntry.queries ++ ScaleProbe.probes
  }

  /** Returns each arm's name and per-round seconds, in argument order. */
  def run(spark: SparkSession, sfDir: String,
      args: Seq[String]): Seq[(String, Seq[Double])] = {
    val (rounds, names) = args.headOption.flatMap(_.toIntOption) match {
      case Some(n) => (math.max(1, n), args.drop(1))
      case None    => (5, args)
    }
    require(names.nonEmpty,
      "usage: runMain graft.ABProbe [rounds] <name>... (none given)")
    Harness.requireKnown(names, bodies.keySet)
    // index-keyed arms, not a name map: `ABProbe 5 q_x q_x` is the
    // A/A noise-floor check and must keep two independent buffers
    val timings = names.map(n =>
      n -> scala.collection.mutable.ArrayBuffer.empty[Double])
    // one untimed warmup pass (plan compile + codegen + footers)
    names.foreach(n => Harness.noop(bodies(n)(spark, sfDir)))
    (1 to rounds).foreach { r =>
      timings.foreach { case (n, buf) =>
        // run isolation before every timed run: otherwise arm A's
        // leftovers are billed to arm B on a fixed round-robin order,
        // a SYSTEMATIC bias in exactly the delta this tool measures
        Harness.quiesce(spark)
        val sec = Harness.timeNoop(bodies(n)(spark, sfDir))
        buf += sec
        println(f"[ab] round $r $n $sec%.2f")
      }
    }
    timings.map { case (n, buf) =>
      println(f"[ab] TOTAL $n min ${buf.min}%.2f " +
        f"med ${Harness.median(buf.toSeq)}%.2f" +
        s" all ${buf.sorted.map(t => f"$t%.2f").mkString(",")}")
      n -> buf.toSeq
    }
  }
}
