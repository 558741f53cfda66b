package graft
import org.apache.spark.sql.SparkSession

/** Benchmark surface. Contract: prints ONE JSON line on stdout
  * (`{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`)
  * AND writes the identical JSON (plus per-query rep detail) to
  * `target/bench.json`, so a driver whose stdout capture is polluted by
  * Spark/sbt noise can always parse the file.
  *
  * Noise handling (round-6 verdict: a contended machine made that
  * round's bench unusable and min-of-2 couldn't reject it): three timed
  * reps per query, and any query whose rep spread (max/min) exceeds 3×
  * — the signature of machine-wide contention, not plan cost — is
  * automatically re-run with up to two extra reps. Reported value is
  * the min across all reps (steady-state execution; codegen/JIT/GC
  * amortize at cluster scale); the file records every rep and the final
  * spread so a still-noisy round is visible instead of silent.
  *
  * Contention canary ([[Canary]], shared with the scale soak): a fixed
  * trivial query runs after every catalog query, and any sample > 3× the
  * run's minimum brands that span as contended. A flagged span is re-run
  * at the end and heals when its fresh canary is clean. If any span stays
  * contended the run self-reports `"contaminated": true` plus the
  * offending spans in both the stdout line and bench.json — a poisoned
  * run flags itself instead of masquerading as a regression.
  *
  * Failed queries (round-7 advice: timeOnce swallowed Throwable, so a
  * broken query's time-to-failure entered the min as a bogus fast rep):
  * each rep carries an ok flag; failed reps are recorded as -1 in the
  * reps JSON, excluded from the min, and a query with zero successful
  * reps reports -1 with its name under `"errors"`.
  *
  * Timing action (round 9): a `noop`-format write, NOT `df.count()`.
  * Catalyst prunes under a bare count — unused window expressions
  * vanish and a left join whose right side is aggregate-unique on the
  * join key is eliminated outright — so eleven catalog queries (both
  * as-of joins, the left join, shift/sliding windows, tpch09, the
  * backtest) were being timed on a fraction of their pipeline. The
  * noop sink requires every output column and discards rows at the
  * executor, which is also the honest comparison against the
  * reference baseline: that engine materializes full results. */
object Bench {
  /** The benched action: force full evaluation of every output column. */
  def force(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** Locale.ROOT by default: the f-interpolator is locale-sensitive
    * and a comma-decimal locale would emit invalid JSON. */
  private[graft] def fmt(d: Double,
      locale: java.util.Locale = java.util.Locale.ROOT): String =
    String.format(locale, "%.4f", Double.box(d))

  /** `s` as a JSON string literal, quotes and escapes included. */
  private[graft] def jsonStr(s: String): String =
    "\"" + new String(com.fasterxml.jackson.core.io.JsonStringEncoder
      .getInstance.quoteAsString(s)) + "\""

  /** `SPARK_GRAFT_CPUS` as a core count; anything else fails the run
    * before it starts instead of emitting an unparseable bench line. */
  private[graft] def parseCpus(s: String): Int =
    s.trim.toIntOption.filter(_ > 0).getOrElse(throw new
      IllegalArgumentException(s"SPARK_GRAFT_CPUS must be a positive " +
        s"integer, got '$s'"))

  /** The driver-parseable bench line (r17 verdict item 1): COMPACT —
    * contract fields only (total, per-query seconds, sf, cpus, plus the
    * contamination flag and failed-query names, both tiny and
    * load-bearing for interpreting the numbers). Every diagnostic
    * (canary samples, reps, spreads, heals) lives ONLY in
    * `target/bench.json`. MUST stay a single line: the driver parses
    * the last stdout line of the run (see `build.sbt`'s
    * `showSuccess := false`, which keeps sbt from printing its
    * `[success] Total time ...` trailer after this). */
  private[graft] def compactLine(mins: Seq[(String, Double)], total: Double,
      sfDir: String, cpus: Int, contaminated: Boolean,
      errors: Seq[String]): String = {
    val qs = mins.map { case (k, v) => s"${jsonStr(k)}:${fmt(v)}" }
      .mkString("{", ",", "}")
    val errJson = errors.map(jsonStr).mkString("[", ",", "]")
    s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
      s""""queries":$qs,"sf":${jsonStr(sfDir)},"cpus":$cpus,""" +
      s""""contaminated":$contaminated,"errors":$errJson}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = parseCpus(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    // A/B hook for conf experiments (r17): `SPARK_GRAFT_EXTRA_CONF` is
    // `key=value;key=value`. The driver never sets it, so the recorded
    // bench always runs the defaults below.
    val extraConf = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(';')).map(_.trim).filter(_.contains("="))
      .map { kv => val i = kv.indexOf('='); (kv.take(i), kv.drop(i + 1)) }
    // r17 ADVICE: a leftover A/B env var would silently perturb a
    // recorded bench — make any non-default session loudly visible.
    extraConf.foreach { case (k, v) =>
      println(s"[bench] WARNING non-default session conf from " +
        s"SPARK_GRAFT_EXTRA_CONF: $k=$v")
    }
    val spark = extraConf.foldLeft(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")) {
        case (b, (k, v)) => b.config(k, v)
      }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm the page cache + codegen/JIT once so per-query times measure
    // steady-state execution, not first-touch I/O.
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try graft.queries.Tables.t(spark, sfDir, t).count()
      catch { case _: Throwable => () }
    }
    def timeOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok = try { force(fn(spark, sfDir)); true }
               catch { case _: Throwable => false }
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    // contention canary (graft.Canary): warmed to a plateau, then two
    // __init samples witness the pre-sweep machine state
    val canary = Canary.nation(spark, sfDir)
    canary.warm()
    (1 to 2).foreach(_ => canary.sample(Canary.Init))
    val reps = scala.collection.mutable.LinkedHashMap.empty[String, Vector[(Double, Boolean)]]
    // dev subset runs (comma-separated names); the recorded per-round
    // bench always runs the full catalog (driver sets no filter)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val benched = only match {
      case Some(names) => SparkEntry.queries.view.filterKeys(names).toMap
      case None => SparkEntry.queries
    }
    benched.foreach { case (name, fn) =>
      timeOnce(fn) // untimed warmup: per-plan codegen + JIT land here,
                   // keeping rep spread a pure contention signal
      var times = Vector.fill(3)(timeOnce(fn))
      // spread > 3× (over successful reps) means at least one rep hit
      // external contention; two extra reps give the min a clean shot
      def okTimes = times.collect { case (t, true) => t }
      var extra = 0
      while (okTimes.size >= 2 &&
             okTimes.max / math.max(okTimes.min, 1e-9) > 3.0 && extra < 2) {
        times :+= timeOnce(fn); extra += 1
      }
      reps(name) = times
      canary.sample(name) // canary AFTER the query: times the span it just ran in
    }
    // re-run each flagged span at the end (Canary.heal); a healed
    // query's retry reps replace its perturbed ones, and the replaced
    // reps and canary samples land in bench.json's `heals`
    val heals = canary.heal { name =>
      val fn = benched(name)
      timeOnce(fn)
      val retry = Vector.fill(3)(timeOnce(fn))
      if (retry.exists(_._2)) Some(retry) else None
    }.map { h =>
      val orig = reps.getOrElse(h.span, Vector.empty)
      h.retry.foreach(reps(h.span) = _)
      (h, orig)
    }
    val mins = reps.map { case (k, v) =>
      val ok = v.collect { case (t, true) => t }
      k -> (if (ok.nonEmpty) ok.min else -1.0)
    }
    val errors = mins.collect { case (k, v) if v < 0 => k }.toVector
    val total = mins.values.filter(_ >= 0).sum
    val contaminatedSpans = canary.flagged
    val contaminated = contaminatedSpans.nonEmpty
    val qs = mins.map { case (k, v) => s"${jsonStr(k)}:${fmt(v)}" }
      .mkString("{", ",", "}")
    def repArr(v: Vector[(Double, Boolean)]) =
      v.map { case (t, ok) => if (ok) fmt(t) else "-1" }.mkString("[", ",", "]")
    val repsJson = reps.map { case (k, v) => s"${jsonStr(k)}:${repArr(v)}" }
      .mkString("{", ",", "}")
    // spread = max/min over the 3 fastest successful reps: the stability
    // of the reported min. Slower reps (first-build I/O inside a query, a
    // contention spike already answered by the extra reps) stay visible
    // in the full rep list without branding a stable min as noisy.
    val spreads = reps.map { case (k, v) =>
      val ok = v.collect { case (t, true) => t }
      val best = ok.sorted.take(3)
      val sp = if (best.isEmpty) 0.0 else best.max / math.max(best.min, 1e-9)
      s"${jsonStr(k)}:${fmt(sp)}"
    }.mkString("{", ",", "}")
    def strArr(v: Vector[String]) = v.map(jsonStr).mkString("[", ",", "]")
    val canaryJson = s"""{"baseline":${fmt(canary.baseline)},"samples":[${
      canary.samples.map { case (l, t) => s"""[${jsonStr(l)},${fmt(t)}]""" }.mkString(",")}]}"""
    val healsJson = heals.map { case (h, o) =>
      s"""{"span":${jsonStr(h.span)},"orig_reps":${repArr(o)},""" +
        s""""retry_reps":${repArr(h.retry.getOrElse(Vector.empty))},""" +
        s""""orig_canary":[${h.perturbed.map(fmt(_)).mkString(",")}],""" +
        s""""retry_canary":[${h.fresh.map(fmt(_)).mkString(",")}]}"""
    }.mkString("[", ",", "]")
    val flags = s""""contaminated":$contaminated,"contaminated_spans":${
      strArr(contaminatedSpans)},"healed_spans":${
      strArr(heals.map(_._1.span))},"errors":${strArr(errors)}"""
    val line = compactLine(mins.toSeq, total, sfDir, cpus, contaminated,
      errors)
    val full = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"sf":${jsonStr(sfDir)},"cpus":$cpus,$flags,"canary":$canaryJson,"reps":$repsJson,"spread":$spreads,"heals":$healsJson}"""
    val out = java.nio.file.Paths.get("target/bench.json")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out, full.getBytes("UTF-8"))
    // full diagnostics (healed/contaminated spans) stay visible in the
    // run log via stderr, keeping stdout's last line the parse target
    Console.err.println(s"[bench] $flags")
    spark.stop()
    // the contract line, printed after spark.stop() so NOTHING can
    // follow it on stdout (r17 verdict item 1: the driver parses the
    // last stdout line, which used to be sbt's `[success]` trailer)
    println(line)
  }
}
