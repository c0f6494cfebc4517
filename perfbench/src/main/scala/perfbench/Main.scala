package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run in one JVM:
  *
  * {{{
  * perfbench.Main --workload W --seed N --seconds S --trace 0|1 --data DIR --out DIR
  * }}}
  *
  * Set-up (session, staging, warm-up and the output-check pass) runs first.
  * The measured part starts with the workload's once-per-run work, then runs
  * whole passes over the workload's fixed inputs until `S` seconds have
  * passed, and at least three (a fixed count where passes are long, so the
  * median always sits at the same warmth). With `--trace 1` the measured
  * part is instead four passes, untraced-traced-traced-untraced, with the
  * once-per-run work traced before the first traced pass: the per-layer
  * metrics are totals over that traced work, and the report carries the
  * tracing overhead. The report is `DIR/report.json`; the traced run also
  * writes every span, with its self time, to `DIR/spans.json`.
  */
object Main {
  private def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt.get("trace").contains("1")
    val data = opt("data")
    val out = opt("out")
    Files.createDirectories(Paths.get(out))

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors
    var t = System.nanoTime()
    val spark = graft.Sessions.local("perfbench", cpus = cores.toString)
    val sessionS = since(t)

    val names = Workloads.Named.get(workload)
    val wl: Workload =
      if (workload == "kv_ops") new KvOps(spark, data, seed)
      else new NamedQueries(spark, data, seed,
        names.getOrElse(sys.error(s"unknown workload $workload")), s"$out/check",
        s"$out/data")
    val runner = new Runner
    t = System.nanoTime(); wl.stage(); val stageS = since(t)
    t = System.nanoTime(); wl.warmup(runner); val warmupS = since(t)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val passes = mutable.ArrayBuffer.empty[(Double, Boolean)]
    def onePass(traced: Boolean): Double = {
      runner.pass = passes.size
      wl.next(passes.size)
      val p0 = System.nanoTime()
      wl.pass(runner)
      passes += ((since(p0), traced))
      passes.last._1
    }
    runner.pass = 0
    val traceReport: Seq[(String, Any)] = if (!trace) {
      wl.once(runner)
      val start = System.nanoTime()
      while (passes.size < 3 || since(start) < seconds) onePass(traced = false)
      Nil
    } else {
      // one untraced-traced-traced-untraced block, so the two medians see the
      // same warmth; the once-per-run work runs traced, before the first
      // traced pass
      val tracer = new Tracer(spark)
      val untraced, traced = mutable.ArrayBuffer.empty[Double]
      var gcMs = 0L
      var tracedWallS = 0.0
      ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
      def tracedPart(body: => Unit): Unit = {
        Thread.sleep(300) // let the listener bus deliver the untraced events first
        val gc0 = gcMillis
        val t0 = System.nanoTime()
        tracer.install()
        runner.spans = tracer
        body
        runner.spans = NoSpans
        tracedWallS += since(t0)
        tracer.finish()
        gcMs += gcMillis - gc0
      }
      untraced += onePass(traced = false)
      tracedPart {
        runner.pass = passes.size
        wl.once(runner)
        traced += onePass(traced = true)
        traced += onePass(traced = true)
      }
      untraced += onePass(traced = false)
      val tracedOps = runner.timedOps.filter(o => passes.lift(o.pass).exists(_._2))
      val layers = tracer.layers(tracedWallS, cores,
        tracedOps.filter(o => KvOp.ReadKinds(o.kind)).map(_.rows).sum,
        KvOp.ReadKinds, KvOp.WriteKinds) ++ Seq(
        ("setup.session_s", sessionS, "s"),
        ("setup.stage_s", stageS, "s"),
        ("setup.warmup_s", warmupS, "s"),
        ("jvm.gc_s", gcMs / 1e3, "s"),
        ("jvm.heap_peak_mb", ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(_.getType == java.lang.management.MemoryType.HEAP)
          .map(_.getPeakUsage.getUsed).sum / 1048576.0, "MB"),
        ("trace.untraced_pass_s", Stats.median(untraced.toSeq), "s"),
        ("trace.traced_pass_s", Stats.median(traced.toSeq), "s"),
        ("trace.overhead_s", Stats.median(traced.toSeq) - Stats.median(untraced.toSeq), "s"))
      Files.writeString(Paths.get(s"$out/spans.json"), Json(tracer.spansJson))
      Seq(
        "layers" -> layers.map { case (k, v, u) => Json.obj("name" -> k, "value" -> v, "unit" -> u) },
        "self_s" -> tracer.selfByName)
    }

    runner.pass = -1
    wl.finalCheck(runner)

    val report = Json.obj(Seq(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "cores" -> cores, "data" -> data,
      "setup" -> Json.obj("setup_s" -> setupS, "session_s" -> sessionS,
        "stage_s" -> stageS, "warmup_s" -> warmupS),
      "passes" -> passes.map { case (w, tr) => Json.obj("wall_s" -> w, "traced" -> tr) },
      "ops" -> runner.ops.map(o => Json.obj("kind" -> o.kind, "name" -> o.name,
        "pass" -> o.pass, "s" -> o.seconds, "ok" -> o.ok, "rows" -> o.rows)),
      "failures" -> runner.failures,
      "checks" -> names.getOrElse(Nil),
      "peak_rss_mb" -> peakRssMb) ++ traceReport: _*)
    Files.writeString(Paths.get(s"$out/report.json"), Json(report))
    spark.stop()
  }

  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** The process's peak resident set (VmHWM), in MB. */
  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)
}
