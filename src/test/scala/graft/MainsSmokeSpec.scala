package graft

/** Drives the measurement mains' `run` on the shared test session at
  * sf0.001: each resolves its names, runs through the noop sink and
  * reports what it measured. */
class MainsSmokeSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("ABProbe times a gate and a ScaleProbe probe, one reading per " +
    "round each") {
    val arms = ABProbe.run(spark, sfDir, Seq("2", "q_percentile", "quality_clf"))
    assert(arms.map(_._1) == Seq("q_percentile", "quality_clf"))
    arms.foreach { case (n, secs) =>
      assert(secs.length == 2 && secs.forall(_ > 0), n)
    }
    assert(spark.streams.active.isEmpty)
  }

  test("ABProbe rejects a name that is neither a gate nor a probe") {
    val e = intercept[IllegalArgumentException](
      ABProbe.run(spark, sfDir, Seq("1", "q_percentile", "no_such_probe")))
    assert(e.getMessage.endsWith("unknown query name(s): no_such_probe"))
  }

  test("StageProbe reports every stage of the timed run, each under " +
    "a job it saw start") {
    val Seq(r) = StageProbe.run(spark, sfDir, Seq("q_percentile"))
    assert(r.name == "q_percentile" && r.wallSec > 0)
    assert(r.jobs > 0 && r.stages.nonEmpty)
    assert(r.stages.forall(_.jobId >= 0), r.stages.mkString("\n"))
    assert(r.stages.forall(_.tasks > 0))
  }
}
