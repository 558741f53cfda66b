package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Pins the driver-facing bench contract (r17 verdict item 1): the
  * bench's stdout line must be ONE strict-JSON object carrying total,
  * per-query seconds, sf and cpus — parsed here with Jackson exactly
  * the way a `json.loads(last_line)` driver would. */
class BenchJsonSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  test("compactLine is one strict-JSON line with the contract fields") {
    val mins = Seq("q1_agg" -> 0.1234, "tpch01" -> 1.5,
      "q245_wide_quantiles" -> 0.31519, "broken_q" -> -1.0)
    val line = Bench.compactLine(mins, 1.9386, "/data/sf0.1",
      32, contaminated = false, errors = Seq("broken_q"))
    assert(!line.contains("\n"), "must be a single line")
    val node = mapper.readTree(line) // throws on malformed JSON
    assert(node.get("metric").asText() == "total")
    assert(math.abs(node.get("value").asDouble() - 1.9386) < 1e-9)
    assert(node.get("unit").asText() == "sec")
    assert(node.get("sf").asText() == "/data/sf0.1")
    assert(node.get("cpus").asInt() == 32)
    assert(!node.get("contaminated").asBoolean())
    val qs = node.get("queries")
    assert(qs.size() == 4)
    assert(math.abs(qs.get("q1_agg").asDouble() - 0.1234) < 1e-9)
    assert(math.abs(qs.get("q245_wide_quantiles").asDouble() - 0.3152) < 1e-9)
    assert(qs.get("broken_q").asDouble() == -1.0)
    assert(node.get("errors").get(0).asText() == "broken_q")
  }

  test("compactLine survives a comma-decimal default locale") {
    // the locale-sensitive path really would break the JSON...
    assert(Bench.fmt(1.5, java.util.Locale.GERMANY) == "1,5000")
    // ...and the default the line uses is locale-independent
    assert(Bench.fmt(1.5) == "1.5000")
    val line = Bench.compactLine(Seq("q" -> 1.5), 1.5, "d", 8,
      contaminated = true, errors = Nil)
    val node = mapper.readTree(line)
    assert(node.get("value").asDouble() == 1.5)
    assert(node.get("contaminated").asBoolean())
  }

  test("compactLine escapes quotes and backslashes in sf and error names") {
    val dir = "C:\\bench \"sf0.1\"\\data"
    val err = "q\"odd\\name"
    val line = Bench.compactLine(Seq(err -> -1.0), 0.0, dir, 4,
      contaminated = false, errors = Seq(err))
    assert(!line.contains("\n"), "must be a single line")
    val node = mapper.readTree(line)
    assert(node.get("sf").asText() == dir)
    assert(node.get("errors").get(0).asText() == err)
    assert(node.get("queries").get(err).asDouble() == -1.0)
  }

  test("jsonStr round-trips multi-line SQL and every control character") {
    // oracle_sql.json carries SQL with newlines, tabs and quotes
    val sql = "SELECT 'a\"b' AS x,\r\n\t\\ FROM t" +
      (0 until 0x20).map(_.toChar).mkString
    val enc = Bench.jsonStr(sql)
    assert(!enc.exists(_ < ' '), "raw control char in the encoding")
    assert(mapper.readTree(enc).asText() == sql)
  }

  test("cpus parses as a positive integer and fails loudly otherwise") {
    assert(Bench.parseCpus("8") == 8)
    assert(Bench.parseCpus(" 32 ") == 32)
    Seq("", "eight", "4.5", "0", "-2", "4,\"x\":1").foreach { bad =>
      intercept[IllegalArgumentException](Bench.parseCpus(bad))
    }
  }
}
