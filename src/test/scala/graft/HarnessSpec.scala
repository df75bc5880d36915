package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}

/** The harness core the mains share: the name check, run isolation
  * and the exact listener-bus drain. */
class HarnessSpec extends SparkSpec {

  test("an unknown name fails with the sorted list of unknown names") {
    val known = Set("q_a", "q_b")
    Harness.requireKnown(Seq("q_b", "q_a"), known)
    val e = intercept[IllegalArgumentException](
      Harness.requireKnown(Seq("q_zz", "q_a", "q_mm"), known))
    assert(e.getMessage == "requirement failed: unknown query name(s): q_mm, q_zz")
  }

  test("quiesce leaves no persistent RDD and no active stream") {
    import spark.implicits._
    val cached = spark.range(100).toDF("x").cache()
    cached.count()
    spark.range(10).toDF("x").localCheckpoint()
    val stream = spark.readStream.format("rate").load()
      .writeStream.format("noop").start()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    assert(spark.streams.active.nonEmpty)
    Harness.quiesce(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(spark.streams.active.isEmpty)
    assert(!stream.isActive)
    // an unpersisted frame still answers by recomputing
    assert(cached.filter($"x" < 10).count() == 10)
    cached.unpersist()
  }

  test("after the drain, a listener has seen every stage of the job " +
    "that just ran") {
    // a slow listener: without the drain its second stage's event is
    // still queued when the job returns
    val jobStages = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
    val completed = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        js.stageIds.foreach(jobStages.add(_))
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        Thread.sleep(200)
        completed.add(sc.stageInfo.stageId)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.parallelize(1 to 1000, 4)
        .map(x => (x % 10, x)).reduceByKey(_ + _).collect()
      org.apache.spark.GraftBusDrain(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      assert(jobStages.size == 2)
      assert(completed.asScala.toSet == jobStages.asScala.toSet)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
