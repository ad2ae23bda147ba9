package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session builder's `SPARK_GRAFT_*` knobs: shipping defaults when
  * unset, bad values refused before any session exists, and one line
  * naming every active override. */
class GraftSessionSpec extends AnyFunSuite {

  test("unset knobs keep the shipping defaults; valid overrides pass through") {
    assert(GraftSession.knobs(Map.empty) == (("2", "1024", "true")))
    assert(GraftSession.knobs(Map(
      "SPARK_GRAFT_FOC_VERSION" -> "1",
      "SPARK_GRAFT_LIST_THRESHOLD" -> "32",
      "SPARK_GRAFT_RDD_COMPRESS" -> "false")) == (("1", "32", "false")))
  }

  test("out-of-range knob values are refused") {
    Seq("SPARK_GRAFT_FOC_VERSION" -> "0",
      "SPARK_GRAFT_FOC_VERSION" -> "3",
      "SPARK_GRAFT_LIST_THRESHOLD" -> "0",
      "SPARK_GRAFT_LIST_THRESHOLD" -> "-5",
      "SPARK_GRAFT_LIST_THRESHOLD" -> "many",
      "SPARK_GRAFT_RDD_COMPRESS" -> "yes").foreach { kv =>
      val e = intercept[IllegalArgumentException](GraftSession.knobs(Map(kv)))
      assert(e.getMessage.contains(kv._1), e.getMessage)
    }
  }

  test("one line lists every active SPARK_GRAFT_* override, none when unset") {
    assert(GraftSession.overridesLine(Map("PATH" -> "/bin")).isEmpty)
    val line = GraftSession.overridesLine(Map(
      "SPARK_GRAFT_RDD_COMPRESS" -> "false", "SPARK_GRAFT_CPUS" -> "4",
      "HOME" -> "/home/x"))
    assert(line.exists(l => !l.contains("\n") &&
      l.endsWith("SPARK_GRAFT_CPUS=4, SPARK_GRAFT_RDD_COMPRESS=false")), line)
  }
}
