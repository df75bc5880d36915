package graft.imdb

import graft.SparkSpec
import graft.operators.{Materialize, SimilarityOps}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** The stamped-frame pin's ownership contracts, exercised under
  * `spark.graft.clusterSafe=true` — the one mode where a leaked pin is
  * a real persisted cache entry (locally the ContextCleaner sweeps
  * localCheckpoint blocks, so a leak is invisible).
  */
class SurrogateIdsSpec extends SparkSpec {

  import spark.implicits._

  private def pinnedIds(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Persisted RDDs created since the `before` snapshot. Counting only
    * the test's own keeps a ContextCleaner sweep of an earlier suite's
    * unreachable persisted RDD (timed by GC) from reading as a pin the
    * test released or leaked. */
  private def pinnedSince(before: Set[Int]): Int =
    (pinnedIds() -- before).size

  private def inClusterSafe[A](body: => A): A = {
    spark.conf.set(Materialize.ClusterSafeKey, "true")
    try body
    finally {
      spark.conf.unset(Materialize.ClusterSafeKey)
      spark.catalog.clearCache()
    }
  }

  private def someRows = (1 to 50).map(i => s"key$i").toDF("name")

  test("release frees exactly the pin its own assign made, and a " +
    "second call is a no-op") {
    inClusterSafe {
      val before = pinnedIds()
      val out = SurrogateIds.assign(someRows, "id", Seq(col("name")))
      assert(out.frame.count() == 50)
      assert(pinnedSince(before) == 1)
      out.release()
      assert(pinnedSince(before) == 0)
      out.release()
      assert(pinnedSince(before) == 0)
    }
  }

  test("release leaves a SIBLING assign's pin alone, made on another " +
    "thread, and the sibling's frame still counts") {
    inClusterSafe {
      val before = pinnedIds()
      // DIFFERENT input rows than this thread's own assign: identical
      // logical plans share one CacheManager entry, and the shared
      // entry would vanish with the own release — a cache-dedup
      // artifact, not the ownership under test
      val siblingRows = (1 to 60).map(i => s"sib$i").toDF("name")
      var sibling: SurrogateIds.Assigned = null
      var siblingFailure: Throwable = null
      val t = new Thread(() => {
        try sibling = SurrogateIds.assign(siblingRows, "id", Seq(col("name")))
        catch { case e: Throwable => siblingFailure = e }
      })
      t.start()
      val own = SurrogateIds.assign(someRows, "sid", Seq(col("name")))
      t.join()
      if (siblingFailure != null) fail(siblingFailure)
      assert(own.frame.count() == 50)
      own.release()
      // the sibling's stamped frame is still pinned AND still
      // computable (its cache entry was not deleted out from under
      // the lazy plan)
      assert(pinnedSince(before) == 1,
        "an assign's release touched another assign's pin")
      assert(sibling.frame.count() == 60)
      sibling.release()
      assert(pinnedSince(before) == 0)
    }
  }

  test("assign under clusterSafe persists the stamped frame (not a " +
    "reliable checkpoint) so an unreleased pin is cleaner-sweepable") {
    inClusterSafe {
      val out = SurrogateIds.assign(someRows, "id", Seq(col("name")))
      out.frame.collect()
      assert(spark.sparkContext.getPersistentRDDs.values
        .exists(_.getStorageLevel == StorageLevel.MEMORY_AND_DISK))
      out.release()
    }
  }

  // -- the callers that collect their assigned ranks to the driver --

  private lazy val embeddings =
    graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")

  test("pqTrain and ivfTrain leave no new persisted RDD") {
    inClusterSafe {
      embeddings.count()
      val before = pinnedIds()
      // one codebook entry per (sub, cid), exploded to scalar rows
      assert(SimilarityOps.pqTrainQuantized(embeddings)
        .select("sub", "cid").distinct().count() ==
        SimilarityOps.PqSubspaces * SimilarityOps.PqCentroids)
      assert(pinnedSince(before) == 0, "pqTrain leaked a pin")
      assert(SimilarityOps.ivfTrainQuantized(embeddings, k = 4, iters = 2)
        .count() == 4)
      assert(pinnedSince(before) == 0, "ivfTrain leaked a pin")
    }
  }

  test("ivfPqSearch releases the cell and residual pins of its index: " +
    "no new persisted RDD outlives the call") {
    val centroids = embeddings
      .filter(col("vec_id") < SimilarityOps.NumCentroids)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cv"))
    val probes = embeddings.filter(col("vec_id") < SimilarityOps.NumProbes)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    inClusterSafe {
      embeddings.count()
      val before = pinnedIds()
      val rows = SimilarityOps.ivfPqSearch(embeddings, centroids, probes,
        SimilarityOps.NumProbeCells, SimilarityOps.TopK).collect()
      assert(rows.length == SimilarityOps.NumProbes * SimilarityOps.TopK)
      assert(pinnedSince(before) == 0, "ivfPqSearch leaked a pin")
    }
  }

  test("an ivfTrain that throws after seeding releases its seed pin " +
    "(a failed training must not leak it)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // n=4, k=2: the rank-strided seeds are v0 and v2, and v2 has no
    // vector, so collecting the seeds fails after the ranks are pinned
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType), nullable = true)))
    val emb = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(0L, Seq(1f, 0f)), Row(1L, Seq(1f, 0.2f)),
      Row(2L, null), Row(3L, Seq(0f, 1f)))), schema)
    inClusterSafe {
      val before = pinnedIds()
      val e = intercept[IllegalArgumentException](
        SimilarityOps.ivfTrainQuantized(emb, k = 2, iters = 1))
      assert(e.getMessage.contains("centroid 2 has a null vector"))
      assert(pinnedSince(before) == 0,
        "the seed pin leaked past a failed training")
    }
  }
}
