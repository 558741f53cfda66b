package graft

import org.scalatest.funsuite.AnyFunSuite

/** The shared contention canary's flag and heal rules, driven by a
  * scripted probe (no Spark): a sample is the min of two probes, a span
  * is flagged above 3× the run's minimum sample, and a flagged span
  * heals only when its fresh sample is clean. */
class CanarySpec extends AnyFunSuite {

  /** A canary whose probes return `times` in order. */
  private def scripted(times: Double*): Canary = {
    val it = times.iterator
    new Canary(() => Some(it.next()))
  }

  test("a flagged __init sample heals by re-sampling alone") {
    val c = scripted(0.9, 0.8, 0.1, 0.1, 0.1, 0.1, /* re-sample */ 0.1, 0.2)
    c.sample(Canary.Init)
    c.sample("q1")
    c.sample("q2")
    assert(c.flagged == Vector(Canary.Init))
    val heals = c.heal[Int](_ => fail("__init has no work to re-run"))
    assert(heals == Vector(Canary.Heal[Int](Canary.Init, None,
      perturbed = Vector(0.8), fresh = Vector(0.1))))
    assert(c.flagged.isEmpty)
    assert(c.samples == Seq("q1" -> 0.1, "q2" -> 0.1, Canary.Init -> 0.1))
  }

  test("a flagged query span heals only when its fresh canary is clean") {
    // q1's fresh canary is still slow: no heal, the flag stays
    val dirty = scripted(0.1, 0.1, 0.5, 0.5, /* re-sample */ 0.4, 0.5)
    dirty.sample("q0"); dirty.sample("q1")
    var reruns = 0
    assert(dirty.heal { _ => reruns += 1; Some(7) }.isEmpty)
    assert(reruns == 1)
    assert(dirty.flagged == Vector("q1"))

    // clean fresh canary: the re-run's measurement is kept
    val clean = scripted(0.1, 0.1, 0.5, 0.5, /* re-sample */ 0.1, 0.1)
    clean.sample("q0"); clean.sample("q1")
    assert(clean.heal(q => Some(q.length)) ==
      Vector(Canary.Heal(span = "q1", retry = Some(2),
        perturbed = Vector(0.5), fresh = Vector(0.1))))
    assert(clean.flagged.isEmpty)

    // clean fresh canary but a failed re-run: no heal
    val failed = scripted(0.1, 0.1, 0.5, 0.5, 0.1, 0.1)
    failed.sample("q0"); failed.sample("q1")
    assert(failed.heal[Int](_ => None).isEmpty)
    assert(failed.flagged == Vector("q1"))
  }

  test("sustained contention stays flagged") {
    // every span after q0 runs on a loaded machine, re-runs included
    val c = scripted(Seq(0.1, 0.1) ++ Seq.fill(8)(0.6): _*)
    Seq("q0", "q1", "q2").foreach(c.sample)
    assert(c.flagged == Vector("q1", "q2"))
    assert(c.heal(q => Some(q)).isEmpty)
    assert(c.flagged == Vector("q1", "q2"))
    assert(c.baseline == 0.1)
  }

  test("warm() probes until three probes plateau, at most 60") {
    var n = 0
    val ramp = new Canary(() => { n += 1; Some(math.pow(0.5, n)) })
    ramp.warm()
    assert(n == 60) // a still-descending ramp never plateaus
    n = 0
    val flat = new Canary(() => { n += 1; Some(if (n < 5) 1.0 / n else 0.1) })
    flat.warm()
    assert(n == 7)
    assert(flat.samples.isEmpty) // warm-up probes are not samples
  }
}
