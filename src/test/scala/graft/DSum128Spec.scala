package graft

import graft.functions.Det
import org.apache.spark.sql.functions._

/** [[graft.functions.DSum128]] — the int128 engine behind Det.dsum. */
class DSum128Spec extends SparkSpecBase {
  private def raw(xs: Seq[java.lang.Long], parts: Int = 4) = {
    val s = spark
    import s.implicits._
    xs.toDF("x").repartition(parts) // force partial + merge paths
      .agg(call_function("dsum128", col("x")).as("s"))
      .head()
  }

  test("dsum128 = BigInteger sum across carries, negatives, and merges") {
    val cases: Seq[Seq[java.lang.Long]] = Seq(
      Seq(1L, 2L, 3L),
      Seq(-1L, -2L, 3L),
      // sums crossing the signed-64 boundary exercise the low-lane carry
      Seq.fill(5)(java.lang.Long.valueOf(1L << 62)),
      Seq.fill(9)(java.lang.Long.valueOf(-(1L << 62))),
      // alternating signs around zero: hi lane must track sign extension
      Seq((1L << 62), -(1L << 62), 7L, -7L, (1L << 61)),
      Seq.tabulate(1000)(i => java.lang.Long.valueOf(i.toLong * 1000003L - 500L))
    )
    for (xs <- cases) {
      val expect = xs.map(x => java.math.BigInteger.valueOf(x))
        .foldLeft(java.math.BigInteger.ZERO)(_ add _)
      val got = raw(xs).getDecimal(0)
      assert(new java.math.BigDecimal(expect).compareTo(got) == 0,
        s"sum of $xs: expected $expect got $got")
    }
  }

  test("dsum128 null semantics match SUM: nulls skipped, all-null is null") {
    assert(raw(Seq(java.lang.Long.valueOf(5L), null, java.lang.Long.valueOf(7L)))
      .getDecimal(0).longValueExact() == 12L)
    assert(raw(Seq(null, null)).isNullAt(0))
  }

  test("dsum128 sums every integral width exactly") {
    assert(spark.sql("SELECT dsum128(x) FROM VALUES (1), (2) AS t(x)")
      .head().getDecimal(0).longValueExact() == 3L)
    Seq("TINYINT", "SMALLINT", "INT", "BIGINT").foreach { t =>
      val r = spark.sql(s"SELECT dsum128(CAST(x AS $t)) FROM VALUES (-128), (127), (-1) AS v(x)")
      assert(r.head().getDecimal(0).longValueExact() == -2L, t)
    }
    // past the input type's own range: the sum is widened, not wrapped
    assert(spark.sql("SELECT dsum128(x) FROM VALUES (2147483647), (2147483647) AS t(x)")
      .head().getDecimal(0).longValueExact() == 4294967294L)
  }

  test("dsum128 over a non-integral column fails analysis and starts no job") {
    Seq("STRING", "DOUBLE", "DECIMAL(10,2)", "BOOLEAN").foreach { t =>
      val jobs = jobsDuring {
        intercept[org.apache.spark.sql.AnalysisException](spark.sql(
          s"SELECT dsum128(CAST(x AS $t)) FROM VALUES (1), (2) AS v(x)").collect())
      }
      assert(jobs == 0, t)
    }
  }

  test("Det.dsum equals the decimal(25,0) reference form bit-for-bit") {
    val s = spark
    import s.implicits._
    val df = (1 to 5000).map { i =>
      (i % 7, i * 13.37 - 3000.123)
    }.toDF("k", "v").repartition(4)
    val p = lit(1e6)
    val ref = df.groupBy("k").agg(
      (sum(bround(col("v") * p, 0).cast("decimal(25,0)")).cast("double") / p).as("r"))
    val got = df.groupBy("k").agg(Det.dsum(col("v")).as("g"))
    val bad = ref.join(got, "k").filter(col("r") =!= col("g")).count()
    assert(bad == 0)
    // empty group via filter: global agg over zero rows is null either way
    val e = df.filter(col("k") > 100).agg(Det.dsum(col("v"))).head()
    assert(e.isNullAt(0))
  }

  test("Det.dsumWeighted(v, n) equals dsum over n exploded copies bit-for-bit") {
    // the exactness contract the q131 pre-aggregation rewrite rests on:
    // summing a value with integer multiplicity n must produce the SAME
    // int128 total as summing n physical copies (weights up to the
    // per-key repeat factors a corpus shows, values in (0, 1] like the
    // bigram probabilities)
    val s = spark
    import s.implicits._
    val rows = (1 to 2000).map { i =>
      (i % 11, 1.0 / (1 + (i * 7) % 97), 1L + (i * 13) % 29)
    }
    val grouped = rows.toDF("k", "v", "n").repartition(4)
    val exploded = rows.flatMap { case (k, v, n) =>
      Seq.fill(n.toInt)((k, v))
    }.toDF("k", "v").repartition(4)
    val a = grouped.groupBy("k")
      .agg(Det.dsumWeighted(col("v"), col("n"), 12).as("x"))
    val b = exploded.groupBy("k").agg(Det.dsum(col("v"), 12).as("x"))
    val bad = a.withColumnRenamed("x", "ax").join(b, "k")
      .filter(col("ax") =!= col("x")).count()
    assert(bad == 0)
    // checked variant agrees on in-range input and rejects a wrapping
    // weight loudly
    val c = grouped.groupBy("k")
      .agg(Det.dsumWeightedChecked(col("v"), col("n"), 12).as("x"))
    assert(a.exceptAll(c).count() == 0)
    val boom = intercept[Exception] {
      Seq((1.0, Long.MaxValue / 2)).toDF("v", "n")
        .agg(Det.dsumWeightedChecked(col("v"), col("n"), 12)).collect()
    }
    assert(boom.getMessage.contains("dsumWeighted overflow") ||
      Option(boom.getCause).exists(_.getMessage.contains("dsumWeighted overflow")))
    // a large-magnitude NEGATIVE weight must trip the same guard: the
    // unsigned-ness bug made the guard product negative and let the
    // scaled multiply wrap silently (round-11 ADVICE regression)
    val boomNeg = intercept[Exception] {
      Seq((1.0, -(Long.MaxValue / 2))).toDF("v", "n")
        .agg(Det.dsumWeightedChecked(col("v"), col("n"), 12)).collect()
    }
    assert(boomNeg.getMessage.contains("dsumWeighted overflow") ||
      Option(boomNeg.getCause).exists(_.getMessage.contains("dsumWeighted overflow")))
  }
}
