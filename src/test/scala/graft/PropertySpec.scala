package graft

import graft.api.OrderedStream
import graft.plans.AsofDirection
import graft.ts.{SlidingWindow, TumblingWindow}
import org.apache.spark.sql.functions._
import scala.util.Random

/** Randomized property checks (seeded, deterministic): operators vs
  * brute-force scalar reference implementations on generated data. */
class PropertySpec extends SparkSpecBase {

  private val rnd = new Random(42)

  private def randEvents(n: Int, keys: Int): Seq[(String, Double, Double)] =
    (1 to n).map { _ =>
      (s"k${rnd.nextInt(keys)}",
        math.floor(rnd.nextDouble() * 1000) / 10.0, // 0.0..99.9, dedup-able
        math.floor(rnd.nextDouble() * 100))
    }.distinctBy(p => (p._1, p._2)) // unique (key, time): asof/window ties
                                    // would otherwise be order-dependent

  test("asof join equals brute-force reference on random data (5 trials)") {
    val s = spark
    import s.implicits._
    for (trial <- 1 to 5) {
      val left = randEvents(80, 4)
      val right = randEvents(60, 4)
      val l = new OrderedStream(left.toDF("k", "t", "v"), "t")
      val r = new OrderedStream(right.toDF("k", "t", "q"), "t")
      val got = l.asofJoin(r, "k").df
        .select("k", "t", "v", "q").collect()
        .map(x => (x.getString(0), x.getDouble(1), x.getDouble(2),
          Option(x.get(3)).map(_.asInstanceOf[Double])))
        .toSet
      // brute force: latest right at or before t for the same key
      val expect = left.map { case (k, t, v) =>
        val m = right.filter(p => p._1 == k && p._2 <= t)
          .sortBy(_._2).lastOption.map(_._3)
        (k, t, v, m)
      }.toSet
      assert(got == expect, s"trial $trial")
    }
  }

  test("pagerank equals dense power iteration on a random graph") {
    val s = spark
    import s.implicits._
    val n = 12
    val edges = (for (u <- 0 until n; v <- 0 until n
                      if u != v && rnd.nextDouble() < 0.3)
      yield (u, v, 1.0 + rnd.nextInt(5))).toSeq
    val pr = graft.graph.GraphOps.pagerank(
        edges.toDF("s", "t", "w"), "s", "t", "w",
        (0 until n).toDF("id"), "id", iterations = 6)
      .as[(Int, Double)].collect().toMap
    // dense reference: r' = reset + d * Pᵀ r
    val outW = Array.tabulate(n)(u => edges.filter(_._1 == u).map(_._3).sum)
    var r = Array.fill(n)(1.0 / n)
    for (_ <- 1 to 6) {
      val nx = Array.fill(n)(0.15 / n)
      edges.foreach { case (u, v, w) =>
        nx(v) += 0.85 * (w / outW(u)) * r(u)
      }
      r = nx
    }
    (0 until n).foreach { v =>
      assert(math.abs(pr(v) - r(v)) < 1e-9, s"node $v: ${pr(v)} vs ${r(v)}")
    }
  }

  test("kmeans assignment equals brute-force nearest centroid on random vectors") {
    val s = spark
    import s.implicits._
    val pts = (0 until 60).map(i =>
      (i, Seq.fill(8)(math.floor(rnd.nextDouble() * 100) / 10)))
    val cents = (0 until 5).map(c =>
      (c, Seq.fill(8)(math.floor(rnd.nextDouble() * 100) / 10)))
    val got = graft.vector.KMeans.assign(
        pts.toDF("id", "v"), "id", "v",
        cents.toDF("cid", "cv"), "cid", "cv")
      .select("id", "cluster").as[(Int, Int)].collect().toMap
    pts.foreach { case (i, v) =>
      val best = cents.map { case (c, cv) =>
        (v.zip(cv).map { case (a, b) => (a - b) * (a - b) }.sum, c)
      }.min // (dist, cid) lexicographic: ties toward the lowest cid
      assert(got(i) == best._2, s"point $i")
    }
  }

  test("forward asof join equals brute-force reference on random data (5 trials)") {
    val s = spark
    import s.implicits._
    for (trial <- 1 to 5) {
      val left = randEvents(80, 4)
      val right = randEvents(60, 4)
      val l = new OrderedStream(left.toDF("k", "t", "v"), "t")
      val r = new OrderedStream(right.toDF("k", "t", "q"), "t")
      val got = l.asofJoin(r, "k", direction = AsofDirection.Forward).df
        .select("k", "t", "v", "q").collect()
        .map(x => (x.getString(0), x.getDouble(1), x.getDouble(2),
          Option(x.get(3)).map(_.asInstanceOf[Double])))
        .toSet
      // brute force: earliest right at or after t for the same key
      val expect = left.map { case (k, t, v) =>
        val m = right.filter(p => p._1 == k && p._2 >= t)
          .sortBy(_._2).headOption.map(_._3)
        (k, t, v, m)
      }.toSet
      assert(got == expect, s"trial $trial")
    }
  }

  test("sliding window count equals per-row brute force on random data") {
    val s = spark
    import s.implicits._
    val ev = randEvents(150, 3)
    val os = new OrderedStream(ev.toDF("k", "t", "v"), "t")
    val got = os.windowedTransform(SlidingWindow(7.5), "k",
      Map("n" -> count(lit(1)))).df
      .select("k", "t", "n").collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getLong(2)).toMap
    // mirror the operator's microsecond quantization (range frames take
    // long offsets), else double subtraction shifts boundaries by 1 ulp
    def us(t: Double) = (t * 1e6).toLong
    val expect = ev.map { case (k, t, _) =>
      (k, t) -> ev.count(p =>
        p._1 == k && us(p._2) >= us(t) - 7500000L && us(p._2) <= us(t)).toLong
    }.toMap
    assert(got == expect)
  }

  test("tumbling window sums equal per-bucket brute force") {
    val s = spark
    import s.implicits._
    val ev = randEvents(200, 3)
    val os = new OrderedStream(ev.toDF("k", "t", "v"), "t")
    val got = os.windowedTransform(TumblingWindow(10.0), "k",
      Map("sv" -> sum(col("v")))).df
      .select("k", "window_start", "sv").collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    val expect = ev.groupBy(p => (p._1, math.floor(p._2 / 10.0) * 10.0))
      .map { case (kw, rows) => kw -> rows.map(_._3).sum }
    assert(got.keySet == expect.keySet)
    got.foreach { case (kw, v) => assert(math.abs(v - expect(kw)) < 1e-9, kw) }
  }

  test("CEP pattern matches equal brute-force enumeration on random data") {
    val s = spark
    import s.implicits._
    val ev = randEvents(60, 3)
    val os = new OrderedStream(ev.toDF("k", "t", "v"), "t")
    // two-step with a cross-event predicate
    val got = os.patternRecognize(
      Seq("a" -> "a.v < 50", "b" -> "b.v > a.v + 20"), maxSpan = 15L, by = "k")
      .select("k", "a_t", "b_t").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
    val expect = (for {
      (k1, t1, v1) <- ev if v1 < 50
      (k2, t2, v2) <- ev
      if k2 == k1 && t2 > t1 && t2 <= t1 + 15.0 && v2 > v1 + 20
    } yield (k1, t1, t2)).toSet
    assert(got == expect)
  }

  test("3-event CEP chain equals brute-force triple enumeration") {
    val s = spark
    import s.implicits._
    val ev = randEvents(40, 2)
    val os = new OrderedStream(ev.toDF("k", "t", "v"), "t")
    val got = os.patternRecognize(
      Seq("a" -> "a.v < 40", "b" -> "b.v >= 40", "c" -> "c.v > b.v"),
      maxSpan = 25L, by = "k")
      .select("k", "a_t", "b_t", "c_t").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))).toSet
    val expect = (for {
      (k1, t1, v1) <- ev if v1 < 40
      (k2, t2, v2) <- ev if k2 == k1 && t2 > t1 && t2 <= t1 + 25.0 && v2 >= 40
      (k3, t3, v3) <- ev if k3 == k1 && t3 > t2 && t3 <= t1 + 25.0 && v3 > v2
    } yield (k1, t1, t2, t3)).toSet
    assert(got == expect)
  }

  test("typed and SQL CEP entries agree on random data") {
    val s = spark
    import s.implicits._
    val ev = randEvents(60, 3)
    val os = new OrderedStream(ev.toDF("k", "t", "v"), "t")
    val sqlForm = os.patternRecognize(
      Seq("a" -> "a.v < 50", "b" -> "b.v > a.v + 20"), maxSpan = 15L, by = "k")
      .select("k", "a_t", "b_t").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
    val nfaForm = graft.ts.Cep.nfaPatternRecognize(os,
      Seq(
        ("a", (r: org.apache.spark.sql.Row) => r.getDouble(2) < 50,
          (_: org.apache.spark.sql.Row, _: Map[String, org.apache.spark.sql.Row]) => true),
        ("b", (_: org.apache.spark.sql.Row) => true,
          (r: org.apache.spark.sql.Row, ctx: Map[String, org.apache.spark.sql.Row]) =>
            r.getDouble(2) > ctx("a").getDouble(2) + 20)),
      maxSpan = 15.0, by = "k")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(nfaForm == sqlForm)
  }

  test("NFA CEP guards: live-state cap and match cap trip independently") {
    val s = spark
    import s.implicits._
    // 120 rows, one key, all inside one span, every predicate true:
    // a 2-event all-matches pattern holds up to n-1 live states and
    // emits O(n²) matches. Round 8 de-conflated the two bounds: output
    // streams (never buffered per key), so matches don't count against
    // the live cap; a separate opt-in maxMatchesPerKey bounds output.
    val burst = (1 to 120).map(i => ("hot", i.toDouble, 1.0))
    val os = new OrderedStream(burst.toDF("k", "t", "v"), "t")
    def run(liveCap: Int, matchCap: Long = -1L) =
      graft.ts.Cep.nfaPatternRecognize(os,
        Seq(
          ("a", (_: org.apache.spark.sql.Row) => true,
            (_: org.apache.spark.sql.Row, _: Map[String, org.apache.spark.sql.Row]) => true),
          ("b", (_: org.apache.spark.sql.Row) => true,
            (_: org.apache.spark.sql.Row, _: Map[String, org.apache.spark.sql.Row]) => true)),
        maxSpan = 1000.0, by = "k", maxLiveStatesPerKey = liveCap,
        maxMatchesPerKey = matchCap).count()
    // live states reach 119 > 100 → live-state guard trips
    val exLive = intercept[org.apache.spark.SparkException] { run(100) }
    assert(exLive.getCause.getMessage.contains("CEP state blow-up"))
    // live fits in 500, but 7140 matches > 1000 → match guard trips
    val exMatch = intercept[org.apache.spark.SparkException] {
      run(500, matchCap = 1000L)
    }
    assert(exMatch.getCause.getMessage.contains("CEP match blow-up"))
    // live cap 500 alone: matches stream out, the burst completes with
    // all n*(n-1)/2 matches even though they dwarf the live cap
    assert(run(500) == 120L * 119 / 2)
  }

  test("SQL CEP output is the key, then each event's payload, with source types") {
    val s = spark
    import s.implicits._
    // a hot and a cold key, so a partition sees a key change mid-stream
    val rows = (1 to 40).map(i => ("hot", i.toDouble, i.toDouble, i)) ++
      (1 to 10).map(i => ("cold", i.toDouble, i.toDouble, i))
    val src = rows.toDF("k", "t", "v", "n")
    val out = new OrderedStream(src, "t").patternRecognize(
      Seq("a" -> "a.v < 30", "b" -> "b.v > a.v + 5"), maxSpan = 100L, by = "k")
    val expectFields = src.schema("k") +: Seq("a", "b").flatMap(e =>
      Seq("t", "v", "n").map(c => src.schema(c).copy(name = s"${e}_$c")))
    assert(out.schema.map(f => (f.name, f.dataType)) ==
      expectFields.map(f => (f.name, f.dataType)))
    val got = out.select("k", "a_n", "b_n").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    val brute = (for {
      (k1, t1, v1, n1) <- rows if v1 < 30
      (k2, t2, v2, n2) <- rows
      if k2 == k1 && t2 > t1 && t2 <= t1 + 100.0 && v2 > v1 + 5
    } yield (k1, n1, n2)).toSet
    assert(got == brute)
  }

  test("SQL CEP builds without running a job, then matches sparse data exactly") {
    val s = spark
    import s.implicits._
    val ev = randEvents(60, 3)
    val os = new OrderedStream(ev.toDF("k", "t", "v"), "t")
    var out: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring {
      out = os.patternRecognize(
        Seq("a" -> "a.v < 50", "b" -> "b.v > a.v + 20"), maxSpan = 15L, by = "k")
    } == 0)
    val expect = (for {
      (k1, t1, v1) <- ev if v1 < 50
      (k2, t2, v2) <- ev
      if k2 == k1 && t2 > t1 && t2 <= t1 + 15.0 && v2 > v1 + 20
    } yield 1).size
    assert(out.count() == expect)
  }

  test("SQL CEP drops null-time and null-key rows, like brute force") {
    val s = spark
    import s.implicits._
    // every fourth time and every seventh key null
    val ev = randEvents(80, 3).zipWithIndex.map { case ((k, t, v), i) =>
      (Option.when(i % 7 != 3)(k), Option.when(i % 4 != 1)(t), v)
    }
    val os = new OrderedStream(ev.toDF("k", "t", "v"), "t")
    val got = os.patternRecognize(
      Seq("a" -> "a.v < 50", "b" -> "b.v > a.v + 10"), maxSpan = 20L, by = "k")
      .select("k", "a_t", "b_t").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
    val known = ev.collect { case (Some(k), Some(t), v) => (k, t, v) }
    val expect = (for {
      (k1, t1, v1) <- known if v1 < 50
      (k2, t2, v2) <- known
      if k2 == k1 && t2 > t1 && t2 <= t1 + 20.0 && v2 > v1 + 10
    } yield (k1, t1, t2)).toSet
    assert(expect.nonEmpty)
    assert(got == expect)
  }

  test("minhash similarity estimate tracks true jaccard (monotone check)") {
    val s = spark
    import s.implicits._
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val mut10 = (1 to 60).map(i => if (i % 10 == 0) s"x$i" else s"w$i").mkString(" ")
    val mut2 = (1 to 60).map(i => if (i % 2 == 0) s"x$i" else s"w$i").mkString(" ")
    val sigs = Seq((1L, base), (2L, mut10), (3L, mut2)).toDF("doc_id", "text")
      .select(col("doc_id"),
        graft.dedup.Dedup.minhashSig(col("text"), 64, 3).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def est(a: Seq[Long], b: Seq[Long]) =
      a.zip(b).count(p => p._1 == p._2).toDouble / a.length
    val close = est(sigs(1L), sigs(2L))   // ~90% token overlap
    val far = est(sigs(1L), sigs(3L))     // ~50% token overlap
    assert(close > far)
    assert(close > 0.4 && far < 0.5)
  }

  test("spanDedup equals brute-force reference on random corpora (3 trials)") {
    val s = spark
    import s.implicits._
    val vocab = Vector("a", "b", "c", "d", "e")
    for (trial <- 1 to 3) {
      // small vocab + short docs force real cross-doc span collisions
      val docs = (1L to 30L).map(i =>
        (i, (1 to 3 + rnd.nextInt(9)).map(_ => vocab(rnd.nextInt(5)))
          .mkString(" ")))
      val w = 2 + rnd.nextInt(2) // span width 2 or 3
      val got = graft.text.Curation
        .spanDedup(docs.toDF("doc_id", "text"), "doc_id", "text", w, 2L)
        .collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
        .toMap
      // brute force over the same chunking
      val chunked = docs.map { case (id, t) =>
        id -> t.split("\\s+").filter(_.nonEmpty).grouped(w)
          .map(_.mkString(" ")).toVector
      }
      val df = chunked.flatMap { case (id, sp) => sp.distinct.map(_ -> id) }
        .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
      val expect = chunked.map { case (id, sp) =>
        val kept = sp.filter(x => df(x) < 2)
        id -> ((kept.mkString(" "), sp.size.toLong,
          (sp.size - kept.size).toLong))
      }.toMap
      assert(got == expect, s"trial $trial (w=$w)")
    }
  }

  test("bigramLmScore equals brute-force reference on random corpora") {
    val s = spark
    import s.implicits._
    val vocab = Vector("a", "b", "c", "d")
    def gen(n: Int) = (1 to n).map(_ =>
      (1 to 2 + rnd.nextInt(6)).map(_ => vocab(rnd.nextInt(4))).mkString(" "))
    val train = gen(12).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val score = gen(6).zipWithIndex.map { case (t, i) => (100L + i, t) }
    val got = graft.text.CorpusOps.bigramLmScore(
        train.toDF("doc_id", "text"), score.toDF("doc_id", "text"),
        "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    def bigrams(t: String) = {
      val tk = t.split("\\s+").filter(_.nonEmpty)
      tk.zip(tk.drop(1)).toVector
    }
    val c2 = train.flatMap(d => bigrams(d._2)).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val c1 = c2.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val v = train.flatMap(_._2.split("\\s+")).filter(_.nonEmpty).distinct.size
    score.foreach { case (id, t) =>
      val bg = bigrams(t)
      val (n, mean) = got(id)
      assert(n == bg.size.toLong)
      if (bg.isEmpty) assert(mean == 0.0)
      else {
        // mirror Det.dsum's scale-12 per-term rounding
        val exp = bg.map { b =>
          val p = (c2.getOrElse(b, 0L) + 1).toDouble /
            (c1.getOrElse(b._1, 0L) + v).toDouble
          BigDecimal(math.rint(p * 1e12).toLong)
        }.sum.toDouble / 1e12 / bg.size
        assert(math.abs(mean - exp) < 1e-15, s"doc $id: $mean vs $exp")
      }
    }
  }

  // ---- round-10 corpus-frequency tier ---------------------------------

  /** Scalar gaps-and-islands reference: merge sorted flagged window
    * starts into maximal (span_i, start, len, n_windows) spans. */
  private def bruteIslands(byDoc: Map[Long, Seq[Long]], w: Int)
      : Set[(Long, Long, Long, Long, Long)] =
    byDoc.filter(_._2.nonEmpty).flatMap { case (id, starts0) =>
      val starts = starts0.sorted
      val islands = scala.collection.mutable.ArrayBuffer
        .empty[scala.collection.mutable.ArrayBuffer[Long]]
      var maxEnd = Long.MinValue
      for (st <- starts) {
        if (islands.isEmpty || st > maxEnd)
          islands += scala.collection.mutable.ArrayBuffer(st)
        else islands.last += st
        maxEnd = math.max(maxEnd, st + w)
      }
      islands.zipWithIndex.map { case (g, i) =>
        (id, (i + 1).toLong, g.min, g.max + w - g.min, g.length.toLong)
      }
    }.toSet

  private def randDocs(nDocs: Int, alphabet: Int): Seq[(Long, String)] =
    (1L to nDocs.toLong).map { id =>
      val n = 6 + rnd.nextInt(20)
      (id, (1 to n).map(_ => s"w${rnd.nextInt(alphabet)}").mkString(" "))
    }

  test("dupSubstringSpans equals brute-force window scan (5 trials)") {
    val s = spark
    import s.implicits._
    val w = 3
    for (trial <- 1 to 5) {
      val docs = randDocs(8, 5) // tiny alphabet: dense window collisions
      val wins = docs.flatMap { case (id, t) =>
        t.split(" ").sliding(w).filter(_.length == w).zipWithIndex
          .map { case (win, i) => (id, i.toLong, win.mkString(" ")) }
      }
      val df2 = wins.groupBy(_._3).view
        .mapValues(_.map(_._1).distinct.size).toMap
      val flagged = wins.filter(p => df2(p._3) >= 2)
        .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
      val got = graft.text.Curation.dupSubstringSpans(
          docs.toDF("doc_id", "text"), "doc_id", "text", w, 2L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      assert(got == bruteIslands(flagged, w), s"trial $trial")
    }
  }

  test("contaminationSpans equals brute-force window scan (5 trials)") {
    val s = spark
    import s.implicits._
    val w = 3
    for (trial <- 1 to 5) {
      val train = randDocs(6, 5)
      val test = randDocs(4, 5).map { case (id, t) => (id + 100L, t) }
      def winsOf(t: String) =
        t.split(" ").sliding(w).filter(_.length == w).map(_.mkString(" "))
      val testSet = test.flatMap(p => winsOf(p._2)).toSet
      val flagged = train.map { case (id, t) =>
        id -> winsOf(t).zipWithIndex.collect {
          case (win, i) if testSet(win) => i.toLong }.toSeq
      }.toMap
      val got = graft.text.Curation.contaminationSpans(
          train.toDF("doc_id", "text"), test.toDF("doc_id", "text"),
          "doc_id", "text", w)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      assert(got == bruteIslands(flagged, w), s"trial $trial")
    }
  }

  test("misraGries survivors cover every item above n/(cap+1) (20 trials)") {
    for (trial <- 1 to 20) {
      val n = 200 + rnd.nextInt(400)
      val cap = 3 + rnd.nextInt(8)
      // Zipf-ish skew so genuine heavy items exist at small capacities
      val stream = (1 to n).map(_ => s"v${(rnd.nextInt(30) * rnd.nextDouble()).toInt}")
      val survivors = graft.agg.HeavyHitters
        .misraGries(stream.iterator, cap).toSet
      val counts = stream.groupBy(identity).view.mapValues(_.size).toMap
      val mustSurvive = counts.filter(_._2 > n.toDouble / (cap + 1)).keySet
      assert(mustSurvive.subsetOf(survivors),
        s"trial $trial: lost ${mustSurvive.diff(survivors)} (n=$n cap=$cap)")
    }
  }

  test("exactHeavyHitters equals groupBy across partition layouts") {
    val s = spark
    import s.implicits._
    val rows = (1 to 600).map(_ => s"t${(rnd.nextInt(25) * rnd.nextDouble()).toInt}")
    for (parts <- Seq(1, 3, 13)) {
      val items = rows.toDF("item").repartition(parts)
      val n = rows.size
      val threshold = math.max(1L, n / 12L)
      val exact = rows.groupBy(identity).view.mapValues(_.size.toLong)
        .filter(_._2 >= threshold).toMap
      val got = graft.agg.HeavyHitters
        .exactHeavyHitters(items, "item", 12L, 16)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == exact, s"parts=$parts")
    }
  }
  test("asof join with time ties equals brute force in every direction (seeded)") {
    import graft.plans.AsofDirection
    import graft.plans.AsofDirection._
    import graft.ts.AsofJoin
    import scala.math.Ordering.Double.TotalOrdering
    val s = spark
    import s.implicits._
    val tieRnd = new Random(7)
    // few distinct times per key, so both sides tie often; some null
    // payloads, which order first among tied right rows
    def rows(n: Int) = (1 to n).map { _ =>
      (s"k${tieRnd.nextInt(3)}", tieRnd.nextInt(12).toDouble,
        if (tieRnd.nextInt(6) == 0) None else Some(tieRnd.nextInt(5).toDouble))
    }
    // payload tuples (t, q) in the operator's order: ascending, nulls first
    val byPayload: Ordering[(Double, Option[Double])] = Ordering.Tuple2
    for (trial <- 1 to 3; tol <- Seq(None, Some(2L))) {
      val left = rows(40)
      val right = rows(40)
      val l = new OrderedStream(left.toDF("k", "t", "v"), "t")
      val r = new OrderedStream(right.toDF("k", "t", "q"), "t")
      def ok(dt: Double) = tol.forall(dt <= _)
      // backward: MAX (t, q) at or before; forward: MIN at or after;
      // nearest: backward vs MIN strictly after, a |dt| tie to backward
      def expect(dir: AsofDirection) = left.map { case (k, t, v) =>
        val same = right.filter(_._1 == k).map(p => (p._2, p._3))
        val b = same.filter(_._1 <= t).maxOption(byPayload).filter(p => ok(t - p._1))
        val f = same.filter(p => if (dir == Nearest) p._1 > t else p._1 >= t)
          .minOption(byPayload).filter(p => ok(p._1 - t))
        val (m, d) = dir match {
          case Backward => (b, None)
          case Forward => (f, None)
          case Nearest => (b, f) match {
            case (Some(x), Some(y)) if t - x._1 <= y._1 - t => (b, Some("b"))
            case (_, Some(_)) => (f, Some("f"))
            case _ => (b, b.map(_ => "b"))
          }
        }
        (k, t, v, m.map(_._1), m.flatMap(_._2), d)
      }.sorted
      for (dir <- Seq(Backward, Forward, Nearest)) {
        val out = AsofJoin(l, r, "k", dir, tolerance = tol).df
        val got = out.collect().map { x =>
          (x.getString(0), x.getDouble(1),
            Option(x.get(2)).map(_.asInstanceOf[Double]),
            Option(x.get(3)).map(_.asInstanceOf[Double]),
            Option(x.get(4)).map(_.asInstanceOf[Double]),
            if (dir == Nearest) Option(x.getString(5)) else None)
        }.toSeq.sorted
        assert(got == expect(dir), s"trial $trial, $dir, tolerance $tol")
      }
    }
  }
}
