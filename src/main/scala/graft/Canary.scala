package graft

import org.apache.spark.sql.SparkSession

/** Contention canary shared by [[Bench]] and the scale soak
  * ([[graft.tools.Soak]]).
  *
  * Sustained machine-wide contention slows every rep of a query
  * uniformly, which no rep-spread check can see (round 7: q23 reported
  * 4.16 s vs 0.58 s idle). So a fixed, trivially cheap job is sampled
  * right after each measured span; its baseline is the minimum sample
  * anywhere in the run (a contended start can't hide later contention),
  * and any sample above 3× that baseline brands its span as contended.
  * Each sample is the min of two back-to-back probes: a one-off GC pause
  * in the µs-scale canary itself shouldn't brand the span, while
  * sustained contention slows both probes and still trips.
  *
  * Self-healing (round 9): one transient host hiccup out of a few
  * hundred spans shouldn't brand a whole run. [[heal]] re-runs each
  * flagged span at the end; if its fresh canary is clean the re-run
  * replaces the perturbed measurement and the flag clears, while under
  * sustained contention the fresh canary trips again and the run stays
  * honestly contaminated. Every heal is returned so callers record it:
  * a healed run stays distinguishable from a never-flagged one.
  *
  * `probe` runs the canary job once and returns its seconds, or None
  * when the job failed. */
final class Canary(probe: () => Option[Double]) {
  private val canarySamples =
    scala.collection.mutable.ArrayBuffer.empty[(String, Double)]

  /** (span label, seconds) in sampling order. */
  def samples: Seq[(String, Double)] = canarySamples.toSeq

  def baseline: Double =
    if (canarySamples.isEmpty) 0.0 else canarySamples.map(_._2).min

  private def contended(t: Double, base: Double) = base > 0 && t > 3.0 * base

  /** Samples the canary for the span just measured. */
  def sample(label: String): Unit = {
    val ts = Seq(probe(), probe()).flatten
    if (ts.nonEmpty) canarySamples += (label -> ts.min)
  }

  /** Labels with a sample above 3× the run's baseline, first-seen order. */
  def flagged: Vector[String] = {
    val base = baseline
    canarySamples.collect { case (l, t) if contended(t, base) => l }
      .distinct.toVector
  }

  /** Untimed warm-up until the probe plateaus. The JVM keeps re-tiering
    * the scheduler and codegen paths for many executions, so a fixed
    * dozen warm reps still left early samples 2-3.5× the late-run
    * baseline (round 9: ramp 0.43 → 0.12 s across the run), which the
    * 3× rule then false-flagged on an idle machine. Warm until the last
    * three probes lie within 1.3× of each other — a still-descending ramp
    * keeps failing this — capped at 60 probes so a genuinely loaded
    * machine exits slow and still trips the 3× check downstream. */
  def warm(): Unit = {
    val window = scala.collection.mutable.Queue.empty[Double]
    var n = 0
    while (n < 60 && !(window.size == 3 && window.max <= window.min * 1.3)) {
      probe().foreach { t =>
        window.enqueue(t)
        if (window.size > 3) window.dequeue()
      }
      n += 1
    }
  }

  /** Re-runs every flagged span, then re-samples its canary. The span
    * heals when the fresh sample is clean and the re-run succeeded:
    * `rerun(label)` returns the new measurement, or None when it failed.
    * A [[Canary.Init]] span has no work and heals by re-sampling alone.
    * A heal drops the span's perturbed samples, so [[flagged]] reflects
    * the re-run. */
  def heal[R](rerun: String => Option[R]): Vector[Canary.Heal[R]] =
    flagged.flatMap { label =>
      val retry = if (label == Canary.Init) None else Some(rerun(label))
      val before = canarySamples.length
      sample(label)
      val fresh = canarySamples.drop(before).map(_._2).toVector
      val base = baseline
      if (fresh.exists(contended(_, base)) || retry.exists(_.isEmpty)) None
      else {
        val perturbed = canarySamples.collect {
          case (l, t) if l == label && contended(t, base) => t
        }.toVector
        canarySamples.filterInPlace { case (l, t) =>
          l != label || !contended(t, base)
        }
        Some(Canary.Heal(label, retry.flatten, perturbed, fresh))
      }
    }
}

object Canary {
  /** The label of the samples taken before any span is measured. */
  val Init = "__init"

  /** One healed span: the re-run's measurement (None for [[Init]]), the
    * perturbed canary samples it replaced and the fresh ones. */
  final case class Heal[R](span: String, retry: Option[R],
      perturbed: Vector[Double], fresh: Vector[Double])

  /** The canary job: a real (never cached) but trivially cheap
    * `nation`-by-region count whose cost is the scheduler plus one small
    * scan, so any 3× drift is the machine, not the plan. Forced like the
    * benched queries ([[Bench.force]]). `Tables.nation` hits the parquet
    * schema cache once the table has been read, so the canary launches
    * no schema-inference job. */
  def nation(spark: SparkSession, dir: String): Canary = new Canary(() => {
    val t0 = System.nanoTime()
    try {
      Bench.force(graft.queries.Tables.nation(spark, dir).groupBy("n_regionkey")
        .count().filter(org.apache.spark.sql.functions.col("count") >= 0))
      Some((System.nanoTime() - t0) / 1e9)
    } catch { case _: Throwable => None }
  })
}
