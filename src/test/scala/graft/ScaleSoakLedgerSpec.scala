package graft

import graft.tools.ScaleSoak.{LedgerEntry, mergeLedger, parseLedger}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the `BENCH_sf1.json` ledger merge: entries a batch did not
  * re-measure are carried forward with their own `solo` provenance
  * flag; re-measured entries take the batch's numbers and flag. */
class ScaleSoakLedgerSpec extends AnyFunSuite {
  private val ledger =
    """{"replicas":10,"cpus":16,"contaminated":false,"queries":{""" +
      """"q1":{"sf01_sec":0.500,"sf1_sec":2.000,"ratio":4.000,"solo":true},""" +
      """"q2":{"sf01_sec":0.250,"sf1_sec":1.000,"ratio":4.000}}}"""

  test("parseLedger reads times and the solo flag in file order") {
    assert(parseLedger(ledger) == Seq(
      "q1" -> LedgerEntry(0.5, 2.0, Some(true)),
      "q2" -> LedgerEntry(0.25, 1.0, None)))
    assert(parseLedger("not json").isEmpty)
  }

  test("mergeLedger keeps each prior entry's solo flag") {
    val merged = mergeLedger(parseLedger(ledger),
      Seq("q2" -> ((0.3, 1.2)), "q3" -> ((0.1, 0.9))), soloRerun = Set("q3"))
    assert(merged == Seq(
      "q1" -> LedgerEntry(0.5, 2.0, Some(true)),
      "q2" -> LedgerEntry(0.3, 1.2, Some(false)),
      "q3" -> LedgerEntry(0.1, 0.9, Some(true))))
  }
}
