package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

import graft.SparkEntry

/** A benchmark workload: stage its inputs, warm up (and write what the
  * output check reads), then run one full pass per call. */
trait Workload {
  def stage(): Unit
  def warmup(r: Runner): Unit
  /** Draws the inputs of pass `pass`, before its timing starts. */
  def next(pass: Int): Unit = ()
  def pass(r: Runner): Unit
  /** Timed work done once per run instead of once per pass. */
  def once(r: Runner): Unit = ()
  def finalCheck(r: Runner): Unit = ()
}

/** A workload of named `SparkEntry` queries. The seed fixes the order the
  * queries run in; each pass runs every query once, executing its full
  * physical plan and discarding the rows. The warm-up runs each query once
  * and writes its result as parquet under `checkDir`, which the output
  * check compares with the DuckDB oracle's digest. The queries of
  * [[NamedQueries.Restaging]] read the data through a link of their own for
  * each pass, under `linkDir`. */
final class NamedQueries(spark: SparkSession, data: String, seed: Long,
    names: Seq[String], checkDir: String, linkDir: String) extends Workload {
  val order: Seq[String] = new scala.util.Random(seed).shuffle(names)
  private var passData = data

  def stage(): Unit = ()

  private def dirOf(n: String): String =
    if (NamedQueries.Restaging(n)) passData else data

  def warmup(r: Runner): Unit = {
    next(-1)
    order.foreach { n =>
      r.query("check", n)(SparkEntry.queries(n)(spark, dirOf(n)))(
        _.write.mode("overwrite").parquet(s"$checkDir/$n"))
      spark.sharedState.cacheManager.clearCache()
    }
  }

  override def next(pass: Int): Unit = {
    val link = java.nio.file.Paths.get(linkDir, s"pass$pass")
    java.nio.file.Files.createDirectories(link.getParent)
    java.nio.file.Files.createSymbolicLink(link, java.nio.file.Paths.get(data))
    passData = link.toString
  }

  def pass(r: Runner): Unit = order.foreach { n =>
    r.query("query", n)(SparkEntry.queries(n)(spark, dirOf(n)))(NamedQueries.drain)
    // queries are self-contained: drop what they persisted
    spark.sharedState.cacheManager.clearCache()
  }
}

object NamedQueries {
  /** Queries that stage a KV table named after their data dir and write to
    * it on every run: `q_stream_kv_cdc` stages `nation`, appends three upsert
    * waves and streams the changelog from offset 0. Run twice on one dir, the
    * second run finds the table staged and streams a changelog three commits
    * longer; a fresh dir for each pass makes every pass stage afresh. */
  val Restaging: Set[String] = Set("q_stream_kv_cdc")

  /** Execute the DataFrame's already-planned physical plan and discard its
    * rows — the work of a `noop` sink without planning a second query. */
  def drain(df: DataFrame): Unit = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("perfbench"))(
      qe.executedPlan.execute().foreach(_ => ()))
  }
}

object Workloads {
  /** One query per engine layer the KV traffic leaves idle: an
    * execution-bound profile (task time a multiple of its wall: operators,
    * codegen kernels, shuffle), an iterative loop of tens of small jobs (a
    * third or more of its wall outside any job: driver loop and per-job
    * floor), and a micro-batch stream over the KV CDC source (per-batch
    * planning, WAL and commit). */
  val Olap: Seq[String] = Seq("q_approx_stats", "q_connected_components", "q_stream_kv_cdc")

  val Named: Map[String, Seq[String]] = Map("olap" -> Olap)
}

/** Writes `SparkEntry.oracleSql` for every named-workload query as one JSON
  * object: `perfbench.Oracles <out.json>` (make_digests.py reads it). */
object Oracles {
  def main(args: Array[String]): Unit = {
    val names = Workloads.Named.values.flatten.toSeq.sorted
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args(0)),
      Json(scala.collection.immutable.ListMap(names.map(n => n -> SparkEntry.oracleSql(n)): _*)))
  }
}
