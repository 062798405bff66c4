package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins SparkEntry.envInt, the one parser of the numeric environment
  * overrides (SPARK_GRAFT_CPUS and the Bench knobs): a bad value fails at
  * the override, naming the variable.
  */
class EnvIntSpec extends AnyFunSuite {
  private def parse(raw: Option[String]): Int =
    SparkEntry.envInt("SPARK_GRAFT_X", 7, 1, 64,
      env = raw.fold(Map.empty[String, String])(v => Map("SPARK_GRAFT_X" -> v)).get)

  test("envInt: default when unset, parsed value in range, rejects the rest by name") {
    assert(parse(None) == 7)
    assert(parse(Some("32")) == 32)
    assert(parse(Some(" 1 ")) == 1)
    assert(parse(Some("64")) == 64)
    for (bad <- Seq("abc", "", "4.5", "0", "-1", "65", "99999999999")) {
      val e = intercept[IllegalArgumentException](parse(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_X"), s"'$bad': ${e.getMessage}")
      assert(e.getMessage.contains("[1, 64]"), s"'$bad': ${e.getMessage}")
    }
  }
}
