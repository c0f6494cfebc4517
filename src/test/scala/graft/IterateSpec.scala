package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Iterate

/** The shared driver loop of the graph operators. */
class IterateSpec extends AnyFunSuite with SparkFixture {
  test("upTo: never more than max rounds, stops at the first converged round with that round's state") {
    var calls = 0
    // never converges: exactly max rounds, each one applied
    assert(Iterate.upTo(5, 0) { s => calls += 1; (s + 1, false) } == 5)
    assert(calls == 5)
    calls = 0
    assert(Iterate.upTo(0, 7) { s => calls += 1; (s + 1, false) } == 7)
    assert(calls == 0)
    // converges in round 3: rounds 4.. never run, and the state returned is
    // the one round 3 produced, not its input
    calls = 0
    val out = Iterate.upTo(10, (0, "init")) { case (i, _) =>
      calls += 1
      ((i + 1, s"round${i + 1}"), i + 1 == 3)
    }
    assert(out == ((3, "round3")))
    assert(calls == 3)
    // convergence reported in the last allowed round still stops there
    calls = 0
    assert(Iterate.upTo(3, 0) { s => calls += 1; (s + 1, s + 1 == 3) } == 3)
    assert(calls == 3)
  }

  test("minLabelJump: fixed-round labels on a long path and a triangle") {
    import spark.implicits._
    val path = (1L to 11L).map(w => (w, w + 1))
    val tri = Seq((20L, 21L), (21L, 22L), (20L, 22L))
    val e = (path ++ tri).toDF("w1", "w2")
    val und = e.union(e.select($"w2", $"w1")).localCheckpoint(true)
    val lbl0 = und.select($"w1".as("w")).distinct()
      .select($"w", $"w".as("comp")).localCheckpoint(true)
    def labels(rounds: Int): Map[Long, Long] =
      Iterate.minLabelJump(und, lbl0, rounds).as[(Long, Long)].collect().toMap
    // On the path 1–2–…–12 a round takes w to max(1, w − 2) after round 1
    // and max(1, w − 6) after round 2: the 12-node path (longer than 2²)
    // is still unconverged after 2 rounds, and converged after 3.
    val tri20 = Map(20L -> 20L, 21L -> 20L, 22L -> 20L)
    assert(labels(1) == (1L to 12L).map(w => w -> math.max(1L, w - 2)).toMap ++ tri20)
    assert(labels(2) == (1L to 12L).map(w => w -> math.max(1L, w - 6)).toMap ++ tri20)
    assert(labels(3) == (1L to 12L).map(_ -> 1L).toMap ++ tri20)
  }

  /** The relational rounds minLabelJump used to run as Spark jobs — a
    * union, a group-by min and a self-join, two checkpoints per round —
    * kept as the reference its one-task kernel must reproduce. */
  private def relationalRounds(und: DataFrame, lbl: DataFrame, rounds: Int): DataFrame =
    Iterate.upTo(rounds, lbl) { l =>
      val m = l.union(
          und.join(l.select(col("w").as("w2"), col("comp")), "w2")
            .select(col("w1").as("w"), col("comp")))
        .groupBy("w").agg(min("comp").as("comp"))
        .localCheckpoint(true)
      val j = m.select(col("w").as("jw"), col("comp").as("jc"))
      (m.join(j, m("comp") === col("jw"))
        .select(m("w").as("w"), col("jc").as("comp"))
        .localCheckpoint(true), false)
    }

  test("minLabelJump: the one-task kernel equals the relational rounds on random graphs") {
    import spark.implicits._
    // A graph: random edges over nodes 0..n (duplicates included) plus a
    // path of 12..40 nodes, longer than 2^3, so rounds 1 and 3 stay
    // unconverged; only some nodes get a label row, so edges run into
    // unlabelled nodes.
    val genGraph: Gen[(Seq[(Int, Int)], Seq[Int])] = for {
      n <- Gen.choose(1, 30)
      es <- Gen.listOf(Gen.zip(Gen.choose(0, n), Gen.choose(0, n)))
      dup <- Gen.someOf(es)
      pathLen <- Gen.choose(12, 40)
      labelled <- Gen.someOf(0 to n + pathLen)
    } yield ((n + 1 until n + pathLen).map(w => (w, w + 1)) ++ es ++ dup, labelled.toSeq)
    // Spark orders strings by UTF-8 bytes: "\uFFFD" < "😀" there, while
    // String.compareTo (UTF-16 units) puts "😀" (\uD83D\uDE00) first.
    assert("\uFFFD".compareTo("😀") > 0)
    def name(i: Int) = Map(0 -> "\uFFFD", 1 -> "😀").getOrElse(i, s"n$i")
    // Long keys: node 2 is a null key and node 3 has a null label.
    def id(i: Int) = if (i == 2) None else Some(i.toLong)
    def und(e: DataFrame) = e.union(e.select($"w2", $"w1")).localCheckpoint(true)
    def rows(df: DataFrame) =
      df.collect().map(r => (r.get(0), r.get(1))).sortBy(_.toString).toSeq
    def same(und: DataFrame, lbl: DataFrame, rounds: Seq[Int]): Unit =
      rounds.foreach { r =>
        assert(rows(Iterate.minLabelJump(und, lbl, r)) == rows(relationalRounds(und, lbl, r)),
          s"rounds=$r")
      }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(6),
      Prop.forAll(genGraph) { case (es, labelled) =>
        same(und(es.map { case (a, b) => (id(a), id(b)) }.toDF("w1", "w2")),
          labelled.map(w => (id(w), if (w == 3) None else Some(w * 7919L % 101)))
            .toDF("w", "comp").localCheckpoint(true), Seq(0, 1, 3, 8))
        same(und(es.map { case (a, b) => (name(a), name(b)) }.toDF("w1", "w2")),
          labelled.map(w => (name(w), name(w))).toDF("w", "comp").localCheckpoint(true),
          Seq(0, 1, 3, 8))
        true
      })
    assert(res.passed, res.status)
    // a 600-node path outruns 8 rounds (~2^9 hops): still unconverged
    val path = und((1L until 600L).map(w => (w, w + 1)).toDF("w1", "w2"))
    val l0 = (1L to 600L).map(w => (w, w)).toDF("w", "comp").localCheckpoint(true)
    same(path, l0, Seq(8))
    assert(Iterate.minLabelJump(path, l0, 8).select("comp").distinct().count() > 1)
    // the pair the two string orders disagree on: Spark's order labels
    // both nodes "\uFFFD"
    val pair = und(Seq(("\uFFFD", "😀")).toDF("w1", "w2"))
    val p0 = Seq("\uFFFD", "😀").map(w => (w, w)).toDF("w", "comp")
    assert(Iterate.minLabelJump(pair, p0, 1).as[(String, String)].collect().toMap ==
      Map("\uFFFD" -> "\uFFFD", "😀" -> "\uFFFD"))
  }
}
