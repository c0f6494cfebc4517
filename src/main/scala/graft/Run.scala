package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one query runner behind Bench, Verify, QProf and ScaleBench: build a
  * named `SparkEntry.queries` query on a dir and run it to a sink, timed.
  *   - The clock covers building and sinking only. `clearCache()` runs after
  *     it stops, in a `finally`: queries are self-contained, so no run pays
  *     the memory pressure of what earlier runs persisted.
  *   - Each run carries one fresh job tag, removed in a `finally`. The threads
  *     a run starts inherit it (broadcast, async query-stage and streaming
  *     micro-batch jobs), so its jobs are `statusTracker.getJobIdsForTag(tag)`.
  *   - A failed run returns its error; an unknown query name throws at once.
  */
object Run {
  /** Timed scale-factor dir of the harnesses (`SPARK_GRAFT_SF_DIR`). */
  val sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** Warm-up dir (`SPARK_GRAFT_WARM_DIR`): the smallest SF, so a warm-up pass
    * pays JIT and whole-stage-codegen compilation, not data. */
  val warmDir: String = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")

  /** Executes the full plan (incl. top-level sorts/projects that a count()
    * would let Catalyst drop) without writing anything. */
  val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()

  /** The whole result as one parquet file set under `path` (Verify's dump). */
  def parquet(path: String): DataFrame => Unit =
    _.coalesce(1).write.mode("overwrite").parquet(path)

  /** Prefix of the job tag every run carries. */
  val TagPrefix = "graft-run-"
  private val runs = new AtomicLong

  /** One finished run: its job tag, the seconds it took to build and sink its
    * query, and the error it threw, if any. */
  final case class Result(tag: String, seconds: Double, error: Option[Throwable]) {
    /** The run's seconds, or its error rethrown. */
    def get: Double = error.fold(seconds)(e => throw e)
  }

  def apply(spark: SparkSession, name: String, dir: String,
      sink: DataFrame => Unit = noop): Result = {
    val query = SparkEntry.queries(name)
    val sc = spark.sparkContext
    val tag = TagPrefix + runs.incrementAndGet()
    sc.addJobTag(tag)
    try {
      val t0 = System.nanoTime()
      val error = try { sink(query(spark, dir)); None } catch { case e: Throwable => Some(e) }
      Result(tag, (System.nanoTime() - t0) / 1e9, error)
    } finally {
      try spark.sharedState.cacheManager.clearCache()
      finally sc.removeJobTag(tag)
    }
  }

  /** Seconds of `n` runs of `name` on `dir`, each handed to `after` once it
    * succeeds; the first failed run's error is thrown. */
  def times(spark: SparkSession, name: String, dir: String, n: Int)(
      after: Result => Unit = _ => ()): Seq[Double] =
    (1 to n).map { _ =>
      val r = Run(spark, name, dir)
      val s = r.get
      after(r)
      s
    }

  /** Min of `n` runs: single runs on a shared machine carry ±30% noise. */
  def best(spark: SparkSession, name: String, dir: String, n: Int): Double =
    times(spark, name, dir, n)().min
}
