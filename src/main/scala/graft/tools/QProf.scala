package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent}
import scala.jdk.CollectionConverters._

import graft.Run

/** Dev-time per-query timer and profile: `runMain graft.tools.QProf q1 q2 ...`
  * warms each named SparkEntry query (see [[warm]]), then runs it
  * SPARK_GRAFT_REPS (default 3) timed times against SPARK_GRAFT_SF_DIR, and
  * prints every run's seconds and their min — the tool for separating a
  * real regression from machine contention (single-run numbers here carry
  * ±30% noise).
  *
  * Every timed run's job count is printed, and the last run is profiled at
  * scheduler level: job, stage and task counts, sums of task run time / GC
  * time / shuffle bytes, the top stages by task time and the top jobs by
  * wall — the "where does the wall go" readout (wall >> task-time/cores ⇒
  * driver/planning/scheduling bound; task GC high ⇒ memory bound; shuffle
  * bytes high ⇒ exchange bound) — plus, for a streaming query, each
  * micro-batch's durationMs map (planning vs WAL vs state commit vs exec). */
object QProf {
  def main(args: Array[String]): Unit = {
    val reps = graft.Sessions.envPositiveInt("SPARK_GRAFT_REPS", 3)
    val spark = graft.Sessions.local("graft-qprof")
    val profiler = new Profiler(spark)

    args.foreach { name =>
      println(s"[qprof-warm] $name: ${warm(spark, name)} runs")
      val profiles = mutable.ArrayBuffer.empty[Profile]
      val times = Run.times(spark, name, Run.sfDir, reps)(r => profiles += profiler.await(r.tag))
      val p = profiles.last
      val wall = times.last
      p.batches.foreach(println)
      p.stageTime.toSeq.sortBy(-_._2._2).take(12).foreach { case (id, (n, ms, nt)) =>
        println(f"[qprof-stage] $id%5d ${ms / 1e3}%8.2fs tasks=$nt%4d  $n")
      }
      val jw = p.jobWall.toSeq
      println(f"[qprof-jobsum] n=${jw.size} sumWall=${jw.map(_._2._1).sum / 1e9}%.2fs")
      jw.sortBy(-_._2._1).take(15).foreach { case (id, (ns, cs)) =>
        println(f"[qprof-job] $id%5d ${ns / 1e9}%7.3fs  $cs")
      }
      println(s"[qprof-jobs] $name: ${profiles.map(_.jobWall.size).mkString(" ")}")
      println(f"[qprof-times] $name: ${times.map(t => f"$t%.2f").mkString(" ")} s " +
        f"(min ${times.min}%.2f)")
      println(f"[qprof] $name wall=$wall%.2fs jobs=${jw.size} stages=${p.stages} " +
        f"tasks=${p.tasks} taskTime=${p.taskMs / 1e3}%.2fs gc=${p.gcMs / 1e3}%.2fs " +
        f"shufR=${p.shufRead / 1e6}%.1fMB shufW=${p.shufWrite / 1e6}%.1fMB " +
        f"fetchWait=${p.fetchWaitMs / 1e3}%.2fs " +
        f"parallelEff=${p.taskMs / 1e3 / math.max(wall, 1e-9) }%.1fx")
    }
    spark.stop()
  }

  /** Untimed runs of `name` until one is not faster than the run before
    * it, at most [[MaxWarm]]; returns how many ran. One fixed warm run
    * left the session's first query colder (JIT, codegen, staged tables)
    * than the ones after it, so min-of-N depended on query order. */
  def warm(spark: SparkSession, name: String): Int = {
    @annotation.tailrec
    def loop(prev: Double, n: Int): Int =
      if (n == MaxWarm) n
      else {
        val t = Run(spark, name, Run.sfDir).get
        if (t >= prev) n + 1 else loop(t, n + 1)
      }
    loop(Double.PositiveInfinity, 0)
  }
  private val MaxWarm = 5

  /** Scheduler numbers of one run: its jobs (by id: wall ns, call site), the
    * stages and tasks of those jobs, and its micro-batches' progress lines. */
  final class Profile {
    val jobWall = mutable.Map.empty[Int, (Long, String)]
    val stageTime = mutable.Map.empty[Int, (String, Long, Int)]
    val batches = mutable.ArrayBuffer.empty[String]
    var stages, tasks = 0
    var taskMs, gcMs, shufRead, shufWrite, fetchWaitMs = 0L
  }

  /** Attributes every job to the run whose tag (`Run.TagPrefix`) it carries,
    * and that job's stages and tasks through its stage ids; a micro-batch
    * goes to the run its streaming query started under. */
  final class Profiler(spark: SparkSession) extends SparkListener {
    private val byTag = mutable.Map.empty[String, Profile]
    private val running = mutable.Map.empty[Int, (String, Long, String)]
    private val byStage = mutable.Map.empty[Int, Profile]
    private val byStream = mutable.Map.empty[java.util.UUID, Profile]
    private val drained = mutable.Set.empty[String]
    spark.sparkContext.addSparkListener(this)

    private def profile(tag: String) = byTag.getOrElseUpdate(tag, new Profile)
    private def runTag(tags: Iterable[String]) = tags.find(_.startsWith(Run.TagPrefix))

    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      val props = Option(j.properties).getOrElse(new java.util.Properties)
      val tags = Option(props.getProperty("spark.job.tags")).toSeq.flatMap(_.split(','))
      drained ++= tags.filter(_.startsWith("drained-"))
      runTag(tags).foreach { t =>
        running(j.jobId) = (t, System.nanoTime(), props.getProperty("callSite.short", "?"))
        j.stageIds.foreach(byStage(_) = profile(t))
      }
      notifyAll()
    }

    override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
      running.remove(j.jobId).foreach { case (t, t0, cs) =>
        profile(t).jobWall(j.jobId) = (System.nanoTime() - t0, cs)
      }
      notifyAll()
    }

    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
      val info = sc.stageInfo
      byStage.get(info.stageId).foreach { p =>
        p.stages += 1
        val prev = p.stageTime.getOrElse(info.stageId, ("", 0L, 0))
        p.stageTime(info.stageId) = (info.name.take(120),
          prev._2 + info.taskMetrics.executorRunTime, prev._3 + info.numTasks)
      }
    }

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      byStage.get(t.stageId).foreach { p =>
        p.tasks += 1
        Option(t.taskMetrics).foreach { m =>
          p.taskMs += m.executorRunTime
          p.gcMs += m.jvmGCTime
          p.shufRead += m.shuffleReadMetrics.totalBytesRead
          p.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          p.shufWrite += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }

    // Streaming query events travel the same listener bus as the jobs.
    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: QueryStartedEvent => runTag(s.jobTags).foreach(t => byStream(s.id) = profile(t))
        case b: QueryProgressEvent => byStream.get(b.progress.id).foreach { p =>
          val ds = b.progress.durationMs.asScala.toSeq.sortBy(-_._2)
            .map { case (k, v) => s"$k=$v" }.mkString(" ")
          p.batches += s"[qprof-batch] batch=${b.progress.batchId} rows=${b.progress.numInputRows} $ds"
        }
        case _ =>
      }
    }

    /** The profile of the finished run tagged `tag`, once every job under
      * that tag has ended. A zero-partition job tagged after the run posts
      * its start behind every event the run posted, so once it is seen no
      * earlier event of the run is in flight. Fails after 60 s. */
    def await(tag: String): Profile = {
      val sc = spark.sparkContext
      val mark = "drained-" + tag
      sc.addJobTag(mark)
      try sc.emptyRDD[Int].count() finally sc.removeJobTag(mark)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      synchronized {
        def left = running.collect { case (id, (t, _, _)) if t == tag => id }
        while (!drained(mark) || left.nonEmpty) {
          val ms = (deadline - System.nanoTime()) / 1000000
          if (ms <= 0) throw new IllegalStateException(
            s"run $tag not drained after 60 s; jobs still running: ${left.mkString(",")}")
          wait(ms)
        }
        drained -= mark
        byTag.remove(tag).getOrElse(new Profile)
      }
    }
  }
}
