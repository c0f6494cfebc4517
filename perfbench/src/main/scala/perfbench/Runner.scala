package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame

/** One timed client operation. `kind` is its class (a KV op kind, or
  * `query` for a named query), `rows` what it returned to the client. */
final case class Op(kind: String, name: String, pass: Int, seconds: Double,
    ok: Boolean, rows: Long)

/** Where spans go: nowhere in an end-to-end run, into a [[Tracer]] in a
  * traced one. `body` receives the new span's id. */
trait Spans {
  def span[T](name: String, label: String, parent: Int)(body: Int => T): T
}

object NoSpans extends Spans {
  def span[T](name: String, label: String, parent: Int)(body: Int => T): T = body(0)
}

/** Closed-loop client: runs one operation at a time on the calling thread
  * and records its wall time. Every operation is planned the same way with
  * tracing on or off — the phases are forced in order (build, analyze,
  * optimize, plan, execute); a traced run only adds the spans around them. */
final class Runner(var spans: Spans = NoSpans) {
  val ops = mutable.ArrayBuffer.empty[Op]
  val failures = mutable.ArrayBuffer.empty[String]
  /** Pass index recorded with each op; negative for untimed work. */
  var pass: Int = -1

  /** A query the client plans and runs: build the DataFrame, force each
    * planning phase, then run it with `run`. */
  def query[T](kind: String, name: String)(build: => DataFrame)(run: DataFrame => T): Option[T] =
    timed(kind, name) { qid =>
      val df = spans.span("build", name, qid)(_ => build)
      val qe = df.queryExecution
      spans.span("analyze", name, qid)(_ => qe.analyzed)
      spans.span("optimize", name, qid)(_ => qe.optimizedPlan)
      spans.span("plan", name, qid)(_ => qe.executedPlan)
      spans.span("execute", name, qid)(_ => run(df))
    }

  /** An operation that is not one planned query (a write, a delete). */
  def action[T](kind: String, name: String)(body: => T): Option[T] =
    timed(kind, name)(qid => spans.span("execute", name, qid)(_ => body))

  private def timed[T](kind: String, name: String)(body: Int => T): Option[T] = {
    val t0 = System.nanoTime()
    val res = try Right(spans.span("query", s"$kind:$name", 0)(body))
      catch { case NonFatal(e) => Left(e) }
    val dt = (System.nanoTime() - t0) / 1e9
    res.left.foreach(e => failures += s"$kind:$name threw ${e.getClass.getSimpleName}: " +
      Option(e.getMessage).getOrElse("").take(300))
    ops += Op(kind, name, pass, dt, res.isRight, 0L)
    res.toOption
  }

  /** Record what the last op returned and whether it matched the model —
    * called after the op's timing has stopped. */
  def verdict(rows: Long, ok: Boolean, detail: => String): Unit = {
    val last = ops.remove(ops.length - 1)
    if (!ok) failures += s"${last.kind}:${last.name} wrong result: $detail"
    ops += last.copy(ok = last.ok && ok, rows = rows)
  }

  def timedOps: Seq[Op] = ops.filter(_.pass >= 0).toSeq
}
