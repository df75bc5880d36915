package graft.imdb

import graft.SparkSpec
import graft.operators.Materialize
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** The stamped-pin ledger's lifecycle contracts, exercised under
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

  test("withScopedPins releases the scope's pins when body THROWS " +
    "(a failed training must not leak the pins the ledger exists to free)") {
    inClusterSafe {
      val before = pinnedIds()
      val boom = intercept[RuntimeException] {
        SurrogateIds.withScopedPins {
          // consume the assignment fully, then fail mid-scope — the
          // pre-fix code evaluated body outside try/finally, so this
          // throw left the stamped persist pinned forever
          SurrogateIds.assign(someRows, "id", Seq(col("name"))).collect()
          throw new RuntimeException("mid-training failure")
        }
      }
      assert(boom.getMessage == "mid-training failure")
      assert(pinnedSince(before) == 0,
        "scoped pin leaked past an exceptional scope exit")
    }
  }

  test("withScopedPins leaves a SIBLING thread's still-lazy pin alone " +
    "(scope releases its own creations, not a global diff)") {
    inClusterSafe {
      val before = pinnedIds()
      // sibling assign on ANOTHER thread of the same session, started
      // and pinned while this thread's scope is open; its output stays
      // lazy past the scope exit
      var sibling: org.apache.spark.sql.DataFrame = null
      var siblingFailure: Throwable = null
      // DIFFERENT input rows than the scope's own assign: identical
      // logical plans share one CacheManager entry, and the shared
      // entry would vanish with the scope's own unpin — a cache-dedup
      // artifact, not the ledger behavior under test
      val siblingRows = (1 to 60).map(i => s"sib$i").toDF("name")
      SurrogateIds.withScopedPins {
        val t = new Thread(() => {
          try sibling = SurrogateIds.assign(siblingRows, "id", Seq(col("name")))
          catch { case e: Throwable => siblingFailure = e }
        })
        t.start()
        t.join()
        SurrogateIds.assign(someRows, "sid", Seq(col("name"))).collect()
      }
      if (siblingFailure != null) fail(siblingFailure)
      // the scope released exactly its own pin: the sibling's stamped
      // frame is still pinned AND still computable (its cache entry was
      // not deleted out from under the lazy plan)
      assert(pinnedSince(before) == 1,
        "scope teardown touched the sibling thread's pin")
      assert(sibling.count() == 60)
      SurrogateIds.releasePins(spark)
      assert(pinnedSince(before) == 0)
    }
  }

  test("releasePins frees a session's pins exactly once, keyed by " +
    "session identity") {
    inClusterSafe {
      val before = pinnedIds()
      val out = SurrogateIds.assign(someRows, "id", Seq(col("name")))
      assert(out.count() == 50)
      assert(pinnedSince(before) == 1)
      SurrogateIds.releasePins(spark)
      assert(pinnedSince(before) == 0)
      SurrogateIds.releasePins(spark) // idempotent on an empty ledger
      assert(pinnedSince(before) == 0)
    }
  }

  test("assign under clusterSafe persists the stamped frame (not a " +
    "reliable checkpoint) so an unreleased pin is cleaner-sweepable") {
    inClusterSafe {
      SurrogateIds.assign(someRows, "id", Seq(col("name"))).collect()
      assert(spark.sparkContext.getPersistentRDDs.values
        .exists(_.getStorageLevel == StorageLevel.MEMORY_AND_DISK))
      SurrogateIds.releasePins(spark)
    }
  }
}
