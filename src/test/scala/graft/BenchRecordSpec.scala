package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Bench's stdout record is read by machines from the tail of its
  * output: it must stay one JSON line whatever the attempts or the
  * default locale. */
class BenchRecordSpec extends AnyFunSuite {
  test("Bench.record is one Jackson-parseable line with queries and " +
    "tries per key, crashes negated, under a comma-decimal locale") {
    val results = Seq(
      "agg_groupby" -> Seq((0.5, 10L), (0.25, 10L), (0.75, 10L)),
      "win_rank" -> Seq((1.5, 3L), (0.125, -1L)))
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    val line = try Bench.record(results, "/data/sf \"0.1\"")
      finally java.util.Locale.setDefault(saved)
    assert(!line.contains('\n'), line)
    val rec = new ObjectMapper().readTree(line)
    assert(rec.get("metric").asText == "total")
    assert(rec.get("sf").asText == "/data/sf \"0.1\"")
    // median of the clean key; the crashed key reports its slowest try
    assert(rec.get("queries").get("agg_groupby").asDouble == 0.5)
    assert(rec.get("queries").get("win_rank").asDouble == 1.5)
    assert(rec.get("value").asDouble == 2.0)
    def tries(k: String) = {
      val a = rec.get("tries").get(k)
      (0 until a.size).map(a.get(_).asDouble)
    }
    assert(tries("agg_groupby") == Seq(0.5, 0.25, 0.75))
    assert(tries("win_rank") == Seq(1.5, -0.125))
  }
}
