package graft

import org.scalatest.funsuite.AnyFunSuite

/** The env-knob parser behind SPARK_GRAFT_CPUS and SPARK_GRAFT_REPS. */
class SessionsSpec extends AnyFunSuite {
  test("positiveInt: unset gives the default, a positive integer is taken, anything else fails naming the variable") {
    assert(Sessions.positiveInt("SPARK_GRAFT_CPUS", None, 4) == 4)
    assert(Sessions.positiveInt("SPARK_GRAFT_CPUS", Some("32"), 4) == 32)
    for (bad <- Seq("four", "0")) {
      val e = intercept[IllegalArgumentException](
        Sessions.positiveInt("SPARK_GRAFT_REPS", Some(bad), 3))
      assert(e.getMessage.contains("SPARK_GRAFT_REPS"), e.getMessage)
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }
}
