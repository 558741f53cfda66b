package graft

import graft.tools.Soak.{entry, factors, mergeLedger, parseLedger, writeLedger}
import java.nio.file.{Files, Path, Paths}
import org.json4s.jackson.JsonMethods.compact
import org.scalatest.funsuite.AnyFunSuite

/** Pins the soak ledgers (`BENCH_sf1.json`, `BENCH_100x.json`): the
  * cumulative merge carries prior entries forward exactly as written,
  * with their `solo` provenance flag; re-measured entries take the
  * batch's numbers and flag; an unreadable prior ledger is never
  * overwritten. */
class SoakLedgerSpec extends AnyFunSuite {
  private val ledger =
    """{"replicas":10,"cpus":16,"contaminated":false,"queries":{""" +
      """"q1":{"sf01_sec":0.500,"sf1_sec":2.000,"ratio":4.000,"solo":true},""" +
      """"q2":{"sf01_sec":0.250,"sf1_sec":1.000,"ratio":4.000}}}"""

  private def rendered(es: Seq[(String, org.json4s.JObject)]) =
    es.map { case (q, e) => q -> compact(e) }

  private def tmpLedger(content: String): Path = {
    val p = Files.createTempFile("soak_ledger", ".json")
    p.toFile.deleteOnExit()
    Files.write(p, content.getBytes("UTF-8"))
  }

  test("parseLedger reads entries in file order, numbers as written") {
    assert(rendered(parseLedger(ledger)) == Seq(
      "q1" -> """{"sf01_sec":0.500,"sf1_sec":2.000,"ratio":4.000,"solo":true}""",
      "q2" -> """{"sf01_sec":0.250,"sf1_sec":1.000,"ratio":4.000}"""))
  }

  test("mergeLedger keeps each prior entry's solo flag") {
    val f = factors(10)
    val merged = mergeLedger(parseLedger(ledger), Seq(
      "q2" -> entry(f, Seq(0.3, 1.2), None, solo = false),
      "q3" -> entry(f, Seq(0.1, 0.9), None, solo = true)))
    assert(rendered(merged) == Seq(
      "q1" -> """{"sf01_sec":0.500,"sf1_sec":2.000,"ratio":4.000,"solo":true}""",
      "q2" -> """{"sf01_sec":0.300,"sf1_sec":1.200,"ratio":4.000,"solo":false}""",
      "q3" -> """{"sf01_sec":0.100,"sf1_sec":0.900,"ratio":9.000,"solo":true}"""))
  }

  test("a 100x entry carries three scales, their ratios and row counts") {
    val e = entry(factors(100), Seq(1.0, 2.0, 10.0),
      Some((Seq(5L, 50L, 500L), Seq(1L, 10L, 100L))), solo = false)
    assert(compact(e) == """{"sf01_sec":1.000,"sf1_sec":2.000,""" +
      """"sf10_sec":10.000,"ratio_10x":2.000,"ratio_100x_over_10x":5.000,""" +
      """"ratio_100x":10.000,"rows_in":[5,50,500],"rows_out":[1,10,100],""" +
      """"solo":false}""")
  }

  test("committed ledgers round-trip unchanged through parse, merge, write") {
    // whitespace aside, the rewritten `queries` object must be the
    // committed one byte for byte: names, 3-decimal values, solo
    // presence and key order
    def queries(json: String) = {
      val s = json.replaceAll("\\s", "")
      s.substring(s.indexOf("\"queries\":"))
    }
    for (name <- Seq("BENCH_sf1.json", "BENCH_100x.json")) {
      val committed = new String(Files.readAllBytes(Paths.get(name)), "UTF-8")
      val p = tmpLedger(committed)
      val n = writeLedger(p, Nil, Nil)
      assert(n == parseLedger(committed).size, name)
      assert(queries(new String(Files.readAllBytes(p), "UTF-8")) ==
        queries(committed), name)
    }
    assert(parseLedger(new String(Files.readAllBytes(
      Paths.get("BENCH_sf1.json")), "UTF-8")).size == 257)
  }

  test("an unreadable prior ledger raises and is left untouched") {
    val fresh = Seq("q1" -> entry(factors(10), Seq(0.1, 0.5), None, solo = false))
    for (bad <- Seq("not json", """{"queries":[1,2]}""",
        """{"queries":{"q1":3}}""")) {
      val p = tmpLedger(bad)
      intercept[Exception](writeLedger(p, Nil, fresh))
      assert(new String(Files.readAllBytes(p), "UTF-8") == bad)
    }
  }
}
