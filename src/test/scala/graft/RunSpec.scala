package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.tools.QProf

/** The one query runner: cache hygiene, per-run job tags, returned errors,
  * and QProf's attribution of jobs to runs through those tags. */
class RunSpec extends AnyFunSuite with SparkFixture {
  private def withProfiler[T](body: QProf.Profiler => T): T = {
    val profiler = new QProf.Profiler(spark)
    try body(profiler) finally spark.sparkContext.removeSparkListener(profiler)
  }

  /** The run's job ids, once the status store shows exactly the profiled set
    * (it is fed by its own listener queue, so it may lag the profiler). */
  private def assertJobsAre(tag: String, p: QProf.Profile): Set[Int] = {
    eventually(timeout(30.seconds), interval(50.millis)) {
      assert(spark.sparkContext.statusTracker.getJobIdsForTag(tag).toSet == p.jobWall.keySet)
    }
    p.jobWall.keySet.toSet
  }

  test("a run drops what its query persisted mid-plan") {
    val r = Run(spark, "q_dup_clusters", sfDir)
    assert(r.error.isEmpty, r.error)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("back-to-back runs each count exactly the jobs under their own tag") {
    withProfiler { profiler =>
      val (a, b) = (Run(spark, "q1_pricing_summary", sfDir), Run(spark, "q1_pricing_summary", sfDir))
      assert(a.tag != b.tag)
      val (pa, pb) = (profiler.await(a.tag), profiler.await(b.tag))
      val (ja, jb) = (assertJobsAre(a.tag, pa), assertJobsAre(b.tag, pb))
      assert(ja.nonEmpty && jb.nonEmpty)
      assert((ja intersect jb).isEmpty)
      assert(pb.tasks > 0 && pb.stages > 0)
    }
  }

  test("a streaming query's micro-batch jobs are counted under its run's tag") {
    // StreamExecution runs each micro-batch under a job group (the stream's
    // run id) on its own thread; batch queries here set no job group
    val grouped = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val groups = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties.getProperty("spark.jobGroup.id") != null) grouped.add(j.jobId)
    }
    spark.sparkContext.addSparkListener(groups)
    try withProfiler { profiler =>
      val r = Run(spark, "q_stream_tumbling", sfDir)
      assert(r.error.isEmpty, r.error)
      val p = profiler.await(r.tag)
      val microBatch = assertJobsAre(r.tag, p).filter(grouped.contains)
      assert(microBatch.nonEmpty)
      assert(p.batches.nonEmpty)
    } finally spark.sparkContext.removeSparkListener(groups)
  }

  test("a failing query returns its error and leaves no tag behind") {
    withProfiler { profiler =>
      val bad = Run(spark, "q1_pricing_summary", "/nonexistent-sf-dir")
      assert(bad.error.exists(_.getMessage.contains("nonexistent-sf-dir")), bad.error)
      assert(!spark.sparkContext.getJobTags().contains(bad.tag))
      val next = Run(spark, "q1_pricing_summary", sfDir)
      assert(next.error.isEmpty, next.error)
      assertJobsAre(next.tag, profiler.await(next.tag))
      assert(spark.sparkContext.statusTracker.getJobIdsForTag(bad.tag).isEmpty)
    }
  }
}
