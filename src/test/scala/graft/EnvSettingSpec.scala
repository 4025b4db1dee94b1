package graft

import org.scalatest.funsuite.AnyFunSuite

/** GraftSession.positiveIntEnv — the one parser behind SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_BENCH_REPS and SPARK_GRAFT_BENCH_LIFECYCLE_REPS: unset
  * means the default, anything that is not a positive integer fails
  * loudly instead of falling back to it. */
class EnvSettingSpec extends AnyFunSuite {
  private def parse(raw: Option[String], default: Int = 3): Int =
    GraftSession.positiveIntEnv("SPARK_GRAFT_X", default, Map("SPARK_GRAFT_X" -> raw).collect {
      case (k, Some(v)) => k -> v
    }.get)

  test("unset yields the default; a positive integer (trimmed) is taken as is") {
    assert(parse(None) === 3)
    assert(parse(None, default = 1) === 1)
    assert(parse(Some("1")) === 1)
    assert(parse(Some(" 12 ")) === 12)
  }

  test("malformed, zero and negative values fail loudly, naming the variable") {
    Seq("abc", "", "2.5", "0", "-3").foreach { raw =>
      val e = intercept[IllegalArgumentException](parse(Some(raw)))
      assert(e.getMessage.contains("SPARK_GRAFT_X"), s"'$raw': ${e.getMessage}")
    }
  }
}
