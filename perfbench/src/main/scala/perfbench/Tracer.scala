package perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A closed interval [start, end) on the System.nanoTime clock. `parent`
  * is the id of the span that caused it (0 for a root). */
final case class Span(id: Int, parent: Int, name: String, label: String,
    start: Long, end: Long) {
  def dur: Long = end - start
}

object Span {
  /** Length of the union of `ivs`, each clipped to [lo, hi). */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    total + (curE - curS)
  }

  /** Self time of each span: its duration minus the part of it that its
    * child spans cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> (s.dur - covered(kids.getOrElse(s.id, Nil).map(k => (k.start, k.end)),
        s.start, s.end))
    }.toMap
  }
}

/** The traced run's recorder. Harness-side spans (query → build, analyze,
  * optimize, plan, execute) come from [[span]]; job spans come from a
  * SparkListener and hang under the span that was current when the job was
  * submitted, found through a local property the harness sets. Task, SQL
  * execution and streaming progress counts are gathered at the same
  * boundaries. Everything stays in memory until [[layers]] and [[spansJson]]
  * are read at the end of the run. */
final class Tracer(spark: SparkSession) extends Spans {
  val SpanProp = "perfbench.span"
  private val ids = new AtomicInteger(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  // listener event times are epoch milliseconds: map them onto nanoTime
  private val nsAtEpoch0 = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def msToNs(ms: Long): Long = ms * 1000000L + nsAtEpoch0

  def span[T](name: String, label: String, parent: Int)(body: Int => T): T = {
    val id = ids.incrementAndGet()
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, id.toString)
    val t0 = System.nanoTime()
    try body(id) finally {
      val t1 = System.nanoTime()
      spans.synchronized { spans += Span(id, parent, name, label, t0, t1) }
      sc.setLocalProperty(SpanProp, prev)
    }
  }

  // ---- scheduler and execution layers (SparkListener) ----
  private final class Acc {
    var jobsStarted, jobsEnded, stages, tasks = 0L
    var runMs, cpuNs, gcMs, shufRead, shufWrite, spill = 0L
    var srcTasks, srcNonEmpty, srcRecords = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
    val jobSpan = mutable.Map.empty[Int, (Int, Long)] // job -> (parent span, start ms)
    val stageSpan = mutable.Map.empty[Int, Int]
    val stageWall = mutable.Map.empty[Int, (Long, Int)] // stage -> (wall ms, tasks)
    val stageTaskMs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    val srcStages = mutable.Set.empty[Int]
    val srcRecordsBySpan = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    var lastEventNs = System.nanoTime()
    // SQL executions (QueryExecutionListener): planning phases, ms
    val phaseMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
    // streaming progress
    var batches, nonEmptyBatches = 0L
    val streamMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val stateRows = mutable.Map.empty[java.util.UUID, Long]
    val stateBytes = mutable.Map.empty[java.util.UUID, Long]
  }
  private val acc = new Acc

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = acc.synchronized {
      acc.lastEventNs = System.nanoTime()
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp))).foreach { sp =>
        acc.jobsStarted += 1
        acc.jobSpan(e.jobId) = (sp.toInt, e.time)
        e.stageIds.foreach(acc.stageSpan(_) = sp.toInt)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val done = acc.synchronized {
        acc.lastEventNs = System.nanoTime()
        acc.jobSpan.remove(e.jobId).map { case (parent, t0) =>
          acc.jobsEnded += 1
          (parent, t0)
        }
      }
      done.foreach { case (parent, t0) =>
        val id = ids.incrementAndGet()
        spans.synchronized {
          spans += Span(id, parent, "job", s"job ${e.jobId}", msToNs(t0), msToNs(e.time))
        }
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = acc.synchronized {
      val info = e.stageInfo
      if (acc.stageSpan.contains(info.stageId) &&
          info.rddInfos.exists(_.name == "DataSourceRDD")) acc.srcStages += info.stageId
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = acc.synchronized {
      acc.lastEventNs = System.nanoTime()
      val info = e.stageInfo
      if (acc.stageSpan.contains(info.stageId)) {
        acc.stages += 1
        for (s <- info.submissionTime; c <- info.completionTime)
          acc.stageWall(info.stageId) = (c - s, info.numTasks)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = acc.synchronized {
      acc.lastEventNs = System.nanoTime()
      val m = e.taskMetrics
      if (acc.stageSpan.contains(e.stageId) && m != null) {
        acc.tasks += 1
        acc.runMs += m.executorRunTime
        acc.cpuNs += m.executorCpuTime
        acc.gcMs += m.jvmGCTime
        acc.shufRead += m.shuffleReadMetrics.totalBytesRead
        acc.shufWrite += m.shuffleWriteMetrics.bytesWritten
        acc.spill += m.diskBytesSpilled
        acc.taskMs += e.taskInfo.duration
        acc.stageTaskMs(e.stageId) += e.taskInfo.duration
        if (acc.srcStages(e.stageId)) {
          val n = m.inputMetrics.recordsRead
          acc.srcTasks += 1
          if (n > 0) acc.srcNonEmpty += 1
          acc.srcRecords += n
          acc.srcRecordsBySpan(acc.stageSpan(e.stageId)) += n
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = acc.synchronized {
      qe.tracker.phases.foreach { case (phase, s) => acc.phaseMs(phase) += s.durationMs }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      acc.synchronized {
        val p = e.progress
        acc.batches += 1
        if (p.numInputRows > 0) acc.nonEmptyBatches += 1
        p.durationMs.asScala.foreach { case (k, v) => acc.streamMs(k) += v.longValue }
        val ops = p.stateOperators
        if (ops.nonEmpty) {
          acc.stateRows(p.id) = math.max(acc.stateRows.getOrElse(p.id, 0L),
            ops.map(_.numRowsTotal).sum)
          acc.stateBytes(p.id) = math.max(acc.stateBytes.getOrElse(p.id, 0L),
            ops.map(_.memoryUsedBytes).sum)
        }
      }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until the asynchronous listener bus has delivered every job end,
    * then detach the listeners; [[install]] attaches them again and the
    * counts carry on. */
  def finish(): Unit = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    def settled = acc.synchronized {
      acc.jobsEnded == acc.jobsStarted &&
        System.nanoTime() - acc.lastEventNs > 300L * 1000000L
    }
    while (!settled && System.nanoTime() < deadline) Thread.sleep(50)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def allSpans: Seq[Span] = spans.synchronized(spans.toSeq)

  /** Per-layer metrics: totals over the traced work, which took `wallS`.
    * `rowsReturned` is what the client received from the read ops,
    * `writeKinds` the op kinds whose uncovered time is the write commit. */
  def layers(wallS: Double, cores: Int, rowsReturned: Long,
      readKinds: Set[String], writeKinds: Set[String]): Seq[(String, Double, String)] = {
    val all = allSpans
    val byId = all.map(s => s.id -> s).toMap
    def queryOf(id: Int): Option[Span] = byId.get(id).flatMap { s =>
      if (s.name == "query") Some(s) else queryOf(s.parent)
    }
    val jobs = all.filter(_.name == "job")
    val jobsByQuery = jobs.groupBy(j => queryOf(j.parent).map(_.id).getOrElse(0))
    val queries = all.filter(_.name == "query")
    def kindOf(q: Span) = q.label.takeWhile(_ != ':')
    def uncovered(q: Span): Long =
      q.dur - Span.covered(jobsByQuery.getOrElse(q.id, Nil).map(j => (j.start, j.end)),
        q.start, q.end)
    val buildIds = all.filter(_.name == "build").map(_.id).toSet
    val s = 1e9
    val mb = 1024.0 * 1024.0
    def phase(name: String) = all.filter(_.name == name).map(_.dur).sum / s
    val writeCommit = queries.filter(q => writeKinds(kindOf(q))).map(uncovered(_) / s)
    val readRecords = acc.synchronized(acc.srcRecordsBySpan.toSeq).collect {
      case (sp, rows) if queryOf(sp).exists(q => readKinds(kindOf(q))) => rows
    }.sum
    acc.synchronized {
      val tm = acc.taskMs.sorted
      // per stage: wall minus the time its task slots spent running tasks —
      // how long the stage waited on the scheduler between tasks
      val waitMs = acc.stageWall.map { case (st, (wall, nt)) =>
        math.max(0.0, wall - acc.stageTaskMs(st).toDouble / math.max(1, math.min(cores, nt)))
      }.sum
      Seq(
        ("sources.scan_tasks", acc.srcTasks.toDouble, "count"),
        ("sources.rows_per_split",
          if (acc.srcTasks == 0) 0.0 else acc.srcRecords.toDouble / acc.srcTasks, "rows"),
        ("sources.nonempty_split_ratio",
          if (acc.srcTasks == 0) 0.0 else acc.srcNonEmpty.toDouble / acc.srcTasks, "ratio"),
        ("sources.rows_read_per_row_returned",
          if (rowsReturned == 0) 0.0 else readRecords.toDouble / rowsReturned, "ratio"),
        ("sources.write_commit_s", Stats.median(writeCommit), "s"),
        ("operators.build_s", phase("build"), "s"),
        ("operators.build_jobs", jobs.count(j => buildIds(j.parent)), "count"),
        ("driver.outside_jobs_s", queries.map(uncovered).sum / s, "s"),
        ("driver.analyze_s", acc.phaseMs("analysis") / 1e3, "s"),
        ("driver.optimize_s", acc.phaseMs("optimization") / 1e3, "s"),
        ("driver.plan_s", acc.phaseMs("planning") / 1e3, "s"),
        ("scheduler.jobs", jobs.size, "count"),
        ("scheduler.stages", acc.stages.toDouble, "count"),
        ("scheduler.tasks", acc.tasks.toDouble, "count"),
        ("scheduler.job_s", jobs.map(_.dur).sum / s, "s"),
        ("scheduler.task_wait_s", waitMs / 1e3, "s"),
        ("exec.task_run_s", acc.runMs / 1e3, "s"),
        ("exec.task_cpu_s", acc.cpuNs / s, "s"),
        ("exec.gc_s", acc.gcMs / 1e3, "s"),
        ("exec.core_util",
          if (wallS <= 0) 0.0 else acc.runMs / 1e3 / (wallS * cores), "ratio"),
        ("exec.max_task_s", tm.lastOption.getOrElse(0L) / 1e3, "s"),
        ("exec.median_task_s", Stats.median(tm.map(_ / 1e3).toSeq), "s"),
        ("exec.shuffle_read_mb", acc.shufRead / mb, "MB"),
        ("exec.shuffle_write_mb", acc.shufWrite / mb, "MB"),
        ("exec.spill_mb", acc.spill / mb, "MB"),
        ("streaming.batches", acc.batches.toDouble, "count"),
        ("streaming.nonempty_batch_ratio",
          if (acc.batches == 0) 0.0 else acc.nonEmptyBatches.toDouble / acc.batches, "ratio"),
        ("streaming.trigger_s", acc.streamMs("triggerExecution") / 1e3, "s"),
        ("streaming.addBatch_s", acc.streamMs("addBatch") / 1e3, "s"),
        ("streaming.queryPlanning_s", acc.streamMs("queryPlanning") / 1e3, "s"),
        ("streaming.walCommit_s", acc.streamMs("walCommit") / 1e3, "s"),
        ("streaming.commitOffsets_s", acc.streamMs("commitOffsets") / 1e3, "s"),
        ("streaming.latestOffset_s", acc.streamMs("latestOffset") / 1e3, "s"),
        ("streaming.state_rows", acc.stateRows.values.sum.toDouble, "rows"),
        ("streaming.state_mb", acc.stateBytes.values.sum / mb, "MB"),
      )
    }
  }

  /** Every span with its self time, for the spans file. */
  def spansJson: Seq[Map[String, Any]] = {
    val all = allSpans.sortBy(_.start)
    val self = Span.selfTimes(all)
    val t0 = all.headOption.map(_.start).getOrElse(0L)
    all.map { s =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "label" -> s.label,
        "start_ms" -> (s.start - t0) / 1e6, "dur_ms" -> s.dur / 1e6,
        "self_ms" -> self(s.id) / 1e6)
    }
  }

  /** Self time summed by span name, in seconds. */
  def selfByName: Map[String, Double] = {
    val all = allSpans
    val self = Span.selfTimes(all)
    all.groupBy(_.name).map { case (k, ss) => k -> ss.map(x => self(x.id)).sum / 1e9 }
  }
}
