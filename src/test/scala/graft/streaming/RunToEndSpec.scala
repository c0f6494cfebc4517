package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

import graft.{Run, SparkFixture}

/** `Streaming.runToEnd`, the one way a streaming query here starts and
  * ends: it returns only after the last watermark flush, and leaves no
  * active stream and no checkpoint behind, on success and on failure. */
class RunToEndSpec extends AnyFunSuite with SparkFixture {
  /** 400 events, 15 min apart over ~4 days, on 20 keys. */
  private def events: DataFrame = spark.range(400).select(col("id"),
    (col("id") % 20).as("k"), timestamp_seconds(lit(1704067200L) + col("id") * 900).as("ts"))

  /** A staged replay of [[events]] plus its sentinel (key −1). */
  private def replay(tag: String): DataFrame =
    Streaming.replay(spark, "run-to-end-spec", tag)(events, ts => Row(-1L, -1L, ts))

  private def hourly(df: DataFrame): DataFrame =
    df.groupBy(window(col("ts"), "1 hour"), col("k")).agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w"), col("k"), col("n"))

  private def ckptDirs(): Set[String] =
    Option(new java.io.File(Streaming.CkptRoot).list()).fold(Set.empty[String])(_.toSet)

  private def messages(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
      .map(x => Option(x.getMessage).getOrElse("")).toSeq

  test("runToEnd returns after the final flush, with no stream or checkpoint left") {
    val before = ckptDirs()
    val q = Streaming.runToEnd(spark, hourly(replay("agg").withWatermark("ts", "30 minutes"))
      .writeStream.format("memory").queryName("run_to_end_agg").outputMode("append"))
    assert(spark.table("run_to_end_agg").collect().toSet == hourly(events).collect().toSet)
    assert(spark.streams.active.isEmpty)
    // [4 chunks] [sentinel] then the no-data batch whose watermark flushes
    assert(q.recentProgress.map(_.numInputRows).toSeq == Seq(400L, 1L, 0L))
    assert(ckptDirs() == before)
  }

  test("a batch that throws surfaces from runToEnd, with no stream or checkpoint left") {
    val before = ckptDirs()
    val e = intercept[Exception] {
      Streaming.runToEnd(spark, replay("fail").writeStream.foreachBatch {
        (_: DataFrame, id: Long) => if (id == 1) throw new IllegalStateException("boom in batch 1")
      })
    }
    assert(messages(e).exists(_.contains("boom in batch 1")), messages(e).mkString(" | "))
    assert(spark.streams.active.isEmpty)
    assert(ckptDirs() == before)
  }

  /** Every path under this JVM's staging root (the parent of each
    * [[Streaming.stagedPath]]), relative to it. */
  private def stagedFiles(): Set[String] = {
    val root = new java.io.File(Streaming.stagedPath("any", sfDir)).getParentFile.toPath
    if (!java.nio.file.Files.isDirectory(root)) Set.empty
    else {
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala.map(root.relativize(_).toString).toSet finally walk.close()
    }
  }

  /** Runs `name` once, which stages its replay, then again: neither run
    * may leave a checkpoint dir behind, and the second must leave the
    * staging root as the first left it. */
  private def secondRunLeavesNothing(name: String): Unit = {
    val ckptBefore = ckptDirs()
    val first = Run(spark, name, sfDir)
    assert(first.error.isEmpty, first.error)
    val stagedBefore = stagedFiles()
    assert(stagedBefore.nonEmpty, s"$name staged nothing")
    val r = Run(spark, name, sfDir)
    assert(r.error.isEmpty, r.error)
    assert(stagedFiles() == stagedBefore)
    assert(ckptDirs() == ckptBefore)
  }

  test("a run of q_stream_kv_sink leaves no checkpoint dir behind") {
    secondRunLeavesNothing("q_stream_kv_sink")
  }

  test("a run of q_stream_state_reader leaves no checkpoint dir behind") {
    secondRunLeavesNothing("q_stream_state_reader")
  }
}
