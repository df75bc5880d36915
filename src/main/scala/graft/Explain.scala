package graft

import org.apache.spark.sql.SparkSession

/** Plan inspection for registered gates: prints `explain("formatted")`
  * for each named query over SPARK_GRAFT_SF_DIR. The session is
  * Bench's ([[Harness.session]]) — a drifted config here would print
  * plans that are NOT the plans the bench executed (different join
  * strategies, no AdaptiveSparkPlan wrapper) and mislead exactly the
  * regression investigations this main serves.
  */
object Explain {
  def main(args: Array[String]): Unit =
    Harness.withSession(run(_, Harness.sfDir, args.toSeq))

  def run(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    Harness.requireKnown(names, SparkEntry.queries.keySet)
    names.foreach { name =>
      println(s"===== $name")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
  }
}
