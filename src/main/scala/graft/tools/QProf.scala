package graft.tools

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.jdk.CollectionConverters._

/** Dev-time per-query timer and profile: `runMain graft.tools.QProf q1 q2 ...`
  * runs each named SparkEntry query once warm, then SPARK_GRAFT_REPS
  * (default 3) timed runs against SPARK_GRAFT_SF_DIR, and prints every run's
  * seconds and their min — the tool for separating a real regression from
  * machine contention (single-run numbers here carry ±30% noise).
  *
  * The last timed run is profiled at scheduler level: job, stage and task
  * counts, sums of task run time / GC time / shuffle bytes, the top stages by
  * task time and the top jobs by wall — the "where does the wall go" readout
  * (wall >> task-time/cores ⇒ driver/planning/scheduling bound; task GC high
  * ⇒ memory bound; shuffle bytes high ⇒ exchange bound). A streaming query's
  * last run also prints each micro-batch's durationMs map (planning vs WAL
  * vs state commit vs exec). */
object QProf {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = graft.Sessions.envPositiveInt("SPARK_GRAFT_REPS", 3)
    val spark = graft.Sessions.local("graft-qprof")

    @volatile var profiling = false
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskMs = 0L
    @volatile var gcMs = 0L
    @volatile var shufRead = 0L
    @volatile var shufWrite = 0L
    @volatile var fetchWaitMs = 0L
    val stageTime = scala.collection.concurrent.TrieMap.empty[Int, (String, Long, Int)]
    val jobStart = scala.collection.concurrent.TrieMap.empty[Int, (Long, String)]
    val jobWall = scala.collection.concurrent.TrieMap.empty[Int, (Long, String)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs += 1
        jobStart(j.jobId) = (System.nanoTime(),
          Option(j.properties).map(_.getProperty("callSite.short", "?"))
            .getOrElse("?"))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        jobStart.remove(j.jobId).foreach { case (t0, cs) =>
          jobWall(j.jobId) = (System.nanoTime() - t0, cs)
        }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages += 1
        val info = sc.stageInfo
        val prev = stageTime.getOrElse(info.stageId, ("", 0L, 0))
        stageTime(info.stageId) = (info.name.take(120),
          prev._2 + info.taskMetrics.executorRunTime, prev._3 + info.numTasks)
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks += 1
        val m = t.taskMetrics
        if (m != null) {
          taskMs += m.executorRunTime
          gcMs += m.jvmGCTime
          shufRead += m.shuffleReadMetrics.totalBytesRead
          fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          shufWrite += m.shuffleWriteMetrics.bytesWritten
        }
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (profiling) {
          val p = e.progress
          val ds = p.durationMs.asScala.toSeq.sortBy(-_._2)
            .map { case (k, v) => s"$k=$v" }.mkString(" ")
          println(s"[qprof-batch] batch=${p.batchId} rows=${p.numInputRows} $ds")
        }
    })

    def exec(name: String): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      spark.sharedState.cacheManager.clearCache()
      (System.nanoTime() - t0) / 1e9
    }

    args.foreach { name =>
      exec(name) // warm pass: JIT + codegen + staging
      val times = (1 to reps).map { r =>
        Thread.sleep(200) // let the async listener bus drain
        jobs = 0; stages = 0; tasks = 0; taskMs = 0; gcMs = 0
        shufRead = 0; shufWrite = 0; fetchWaitMs = 0; stageTime.clear()
        jobStart.clear(); jobWall.clear()
        profiling = r == reps
        exec(name)
      }
      Thread.sleep(200)
      profiling = false
      val wall = times.last
      stageTime.toSeq.sortBy(-_._2._2).take(12).foreach { case (id, (n, ms, nt)) =>
        println(f"[qprof-stage] $id%5d ${ms / 1e3}%8.2fs tasks=$nt%4d  $n")
      }
      val jw = jobWall.toSeq
      println(f"[qprof-jobsum] n=${jw.size} sumWall=${jw.map(_._2._1).sum / 1e9}%.2fs")
      jw.sortBy(-_._2._1).take(15).foreach { case (id, (ns, cs)) =>
        println(f"[qprof-job] $id%5d ${ns / 1e9}%7.3fs  $cs")
      }
      println(f"[qprof-times] $name: ${times.map(t => f"$t%.2f").mkString(" ")} s " +
        f"(min ${times.min}%.2f)")
      println(f"[qprof] $name wall=$wall%.2fs jobs=$jobs stages=$stages " +
        f"tasks=$tasks taskTime=${taskMs / 1e3}%.2fs gc=${gcMs / 1e3}%.2fs " +
        f"shufR=${shufRead / 1e6}%.1fMB shufW=${shufWrite / 1e6}%.1fMB " +
        f"fetchWait=${fetchWaitMs / 1e3}%.2fs " +
        f"parallelEff=${taskMs / 1e3 / math.max(wall, 1e-9) }%.1fx")
    }
    spark.stop()
  }
}
