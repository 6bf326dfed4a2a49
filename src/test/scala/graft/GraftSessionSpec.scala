package graft

import org.scalatest.funsuite.AnyFunSuite

/** The numeric env knobs (SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_REPS) go
  * through [[GraftSession.positiveInt]], so a bad value fails before any
  * session is built, with a message that names the knob. */
class GraftSessionSpec extends AnyFunSuite {
  private def reps(v: String): Int =
    GraftSession.positiveInt("SPARK_GRAFT_BENCH_REPS", 3,
      Map("SPARK_GRAFT_BENCH_REPS" -> v))

  test("positiveInt: unset gives the default, an integer >= 1 is taken") {
    assert(GraftSession.positiveInt("SPARK_GRAFT_BENCH_REPS", 3, Map.empty) == 3)
    assert(reps("1") == 1)
    assert(reps("5") == 5)
  }

  test("positiveInt: 0, negative and non-integer values fail naming the knob") {
    for (bad <- Seq("0", "-1", "abc", "2.5", "")) {
      val e = intercept[IllegalArgumentException](reps(bad))
      assert(e.getMessage.contains("SPARK_GRAFT_BENCH_REPS"), bad)
      assert(e.getMessage.contains(s"'$bad'"), bad)
    }
  }
}
