package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guard against copied derivations in the query code. A derivation that
  * two queries share gets one definition that both call (`lifeTable`,
  * `chainCounts`, `Pipeline.wordStats`, ...), so a fix made to it can't
  * reach one copy and miss another.
  *
  * The scan reads every source file of `operators` and
  * `streaming/Streaming.scala` up to each file's `val oracles` map (the
  * DuckDB SQL is the reference and is left alone). Lines are trimmed; blank lines, comment lines, `|`
  * stripMargin lines and lines under 4 characters break a window. Each
  * line belongs to the query entry (`"q_…" ->`) or top-level `def` it
  * sits in. A finding is an 8-line window found in two different owners.
  */
class CopyGuardSpec extends AnyFunSuite {
  private val Width = 8
  private val Owner =
    """^ {4}"(q_\w+)"\s*->|^ {2}(?:private(?:\[\w+\])?\s+)?def\s+(\w+)""".r

  private case class Win(text: String, owner: String, file: String, line: Int)

  /** Every kept 8-line window of `file`, with its owner and first line. */
  private def windows(file: Path): Seq[Win] = {
    val lines = Files.readAllLines(file).asScala
      .takeWhile(!_.startsWith("  val oracles"))
    val out = Seq.newBuilder[Win]
    var owner: Option[String] = None
    var run = Vector.empty[(Int, String)]
    def flush(): Unit = {
      for (o <- owner; w <- run.sliding(Width) if w.size == Width)
        out += Win(w.map(_._2).mkString("\n"), o, file.getFileName.toString, w.head._1)
      run = Vector.empty
    }
    lines.zipWithIndex.foreach { case (raw, i) =>
      Owner.findPrefixMatchOf(raw).foreach { m =>
        flush()
        owner = Option(m.group(1)).orElse(Option(m.group(2)))
      }
      val l = raw.trim
      if (l.length < 4 || Seq("//", "/*", "*", "|").exists(l.startsWith)) flush()
      else run :+= (i + 1 -> l)
    }
    flush()
    out.result()
  }

  test("no 8-line window of query code is copied into two queries or defs") {
    val src = Paths.get("src/main/scala/graft")
    val files = Files.list(src.resolve("operators")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString) :+
      src.resolve("streaming/Streaming.scala")
    val all = files.flatMap(windows)
    assert(Set("q_users_scan", "q_stream_cusum").subsetOf(all.map(_.owner).toSet))
    val shared = all.groupBy(_.text).values.toSeq
      .filter(_.map(_.owner).distinct.size > 1)
    val report = shared.groupBy(_.map(_.owner).distinct.sorted)
      .toSeq.sortBy(_._1.mkString(" ")).map { case (owners, groups) =>
        val at = owners.map { o =>
          val first = groups.flatten.filter(_.owner == o).minBy(_.line)
          s"$o (${first.file}:${first.line})"
        }
        s"${at.mkString(" + ")}: ${groups.size} shared windows"
      }
    if (shared.nonEmpty) fail(
      s"${shared.size} 8-line windows are copied across owners; give each " +
        s"derivation one definition:\n${report.mkString("\n")}")
  }
}
