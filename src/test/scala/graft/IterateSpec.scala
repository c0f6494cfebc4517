package graft

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
}
