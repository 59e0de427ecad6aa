package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** `ScaleCheck`'s `SPARK_GRAFT_SCALECHECK_OUT` lines are JSON for any
  * dir string: quotes and backslashes in a path are escaped, not
  * spliced into the line.
  */
class ScaleCheckSpec extends AnyFunSuite {
  test("a dir containing a quote and a backslash round-trips through the JSON line") {
    val dirs = Seq("/data/sf\"0.1", "C:\\corpora\\sfx10")
    val line = ScaleCheck.jsonLine("q03_top_revenue", dirs,
      Seq(0.12345, 1.5), Seq(1.0864), passes = 2, calib = 0.2184)
    assert(!line.contains("\n"))
    val j = new ObjectMapper().readTree(line)
    assert(j.get("query").asText == "q03_top_revenue")
    assert((0 until j.get("dirs").size).map(j.get("dirs").get(_).asText) == dirs)
    assert((0 until j.get("sec").size).map(j.get("sec").get(_).asDouble) ==
      Seq(0.123, 1.5))
    assert(j.get("decade_exponents").get(0).asDouble == 1.086)
    assert(j.get("passes").asInt == 2)
    assert(j.get("calib_spark").asDouble == 0.218)
  }
}
