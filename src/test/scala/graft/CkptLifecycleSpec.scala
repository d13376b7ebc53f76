package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Ckpt
import graft.core.Ckpt.CkptOps

/** r14 (VERDICT r13 #4): checkpoint lifecycle as ENGINE behavior, not
  * bench hygiene. A localCheckpoint's blocks are normally freed only
  * when the ContextCleaner sees the RDD object garbage-collected — which
  * a large quiet heap may never do, so a session running hundreds of
  * sequential engine queries accumulates dead blocks until storage /
  * execution memory contention taxes every later query (the r10–r12
  * "driver-read drift"). `Ckpt.collecting`/`scoped` make the lifecycle
  * deterministic; these tests pin the contract WITHOUT any System.gc():
  * bounded block-manager state over ~100 ckpt-using queries, retained
  * (SessionCache) frames surviving scope release, and release safety on
  * unmaterialized lazy checkpoints. */
class CkptLifecycleSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private def storedRdds: Int =
    spark.sparkContext.getRDDStorageInfo.count(_.numCachedPartitions > 0)

  test("100 sequential scoped ckpt queries keep RDD storage bounded, no GC") {
    import spark.implicits._
    val before = storedRdds
    var highInside = 0
    for (i <- 1 to 100) {
      Ckpt.scoped {
        // a representative engine shape: aggregate → eager cut → two
        // consumers of the cut (the reason ckpt exists), plus a lazy
        // second-stage cut
        val base = (1 to 500).map(j => (j % 7, j.toLong + i))
          .toDF("k", "v")
          .groupBy($"k").agg(sum($"v").as("s"))
          .ckpt()
        val derived = base.filter($"s" > 0).ckpt(eager = false)
        assert(base.count() + derived.count() == 14L)
        highInside = math.max(highInside, storedRdds)
      }
      assert(storedRdds <= before,
        s"query $i leaked checkpoint blocks: $storedRdds stored vs " +
          s"$before at start")
    }
    // the scopes really had something to release (the asserts above are
    // vacuous if ckpt stopped persisting at all)
    assert(highInside > before,
      s"ckpt never persisted anything inside the scopes ($highInside)")
  }

  test("release() returns the block manager to its pre-query state") {
    import spark.implicits._
    val before = storedRdds
    val (_, release) = Ckpt.collecting {
      val df = (1 to 100).toDF("x").ckpt()
      assert(df.count() == 100)
      assert(storedRdds > before, "eager ckpt should persist blocks")
    }
    release()
    assert(storedRdds == before)
    release() // idempotent
    assert(storedRdds == before)
  }

  test("SessionCache-built (retained) checkpoints survive scope release") {
    import spark.implicits._
    val cache = new graft.core.SessionCache[DataFrame]
    var cached: DataFrame = null
    Ckpt.scoped {
      cached = cache.getOrElseUpdate(spark, "lifecycle-spec-key",
        (1 to 300).toDF("x").ckpt())
      assert(cached.count() == 300)
    }
    // after release, the retained frame must still be USABLE — its
    // lineage is cut, so a released block would make this throw
    assert(cached.count() == 300)
    // and a second scope reusing the cache entry must not re-register it
    Ckpt.scoped {
      assert(cache.getOrElseUpdate(spark, "lifecycle-spec-key",
        fail("cache miss")).count() == 300)
    }
    assert(cached.count() == 300)
  }

  test("releasing a never-materialized lazy ckpt is a no-op, not an error") {
    import spark.implicits._
    val (_, release) = Ckpt.collecting {
      (1 to 10).toDF("x").ckpt(eager = false)
    }
    release()
  }

  test("real board queries run scoped without storage growth") {
    // the exact harness shape Verify uses, over queries known to
    // checkpoint internally (anchor kernel, ks-test, graph iteration)
    val before = storedRdds
    for (name <- Seq("llm_ngram_jaccard", "agg_ks_test", "graph_simrank")) {
      Ckpt.scoped {
        assert(SparkEntry.queries(name)(spark, TestSession.sf).count() > 0)
      }
      assert(storedRdds <= before, s"$name leaked checkpoint blocks")
    }
  }
}
