package graft.ts

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Regular-grid resampling with gap fill — the time-series
  * normalization step the reference's ordered-stream tier feeds into
  * (windowed transforms assume regular buckets; real event streams are
  * irregular). Two fill modes:
  *
  *   - [[locf]]: last observation carried forward (step function).
  *   - [[interp]]: exact linear interpolation between the surrounding
  *     observed buckets.
  *
  * Shape, per key: one row per `width`-second bucket between that key's
  * first and last observation (keys never bleed into each other's
  * spans). Bucket assignment is exact integer floor-division on epoch
  * micros — no float time math, so engines agree bit-for-bit.
  *
  * Scale: one map-combined aggregate per (key, bucket), a per-key span
  * aggregate (key-sized), a grid explode (span/width rows per key — the
  * CALLER bounds grid density by choosing `width`, same bounded-block
  * contract as the dedup tier), and per-key window fills that reuse the
  * grid join's hash partitioning. Nothing driver-side; no key ever
  * compares against another key's rows, so skew is bounded by the
  * densest single key's span.
  *
  * Interpolation determinism: the fill value is computed as
  * `(v0·(b1−b) + v1·(b−b0)) / (b1−b0)` with bucket INDICES (exact
  * integers) cast to double — IEEE ops in one fixed shape, mirrored
  * verbatim in the oracle SQL, so both engines round identically at
  * every step (same discipline as functions.Det: no reassociation, no
  * transcendentals). */
object Resample {

  /** Exact bucket start: floor(epoch_us / width) * width, as timestamp. */
  private def bucketExpr(tsCol: String, widthSec: Long) = {
    val w = widthSec * 1000000L
    timestamp_micros((unix_micros(col(tsCol)) / w).cast("long") * w)
  }

  /** Observed buckets: n_obs plus the LAST value in the bucket by
    * (ts, tieBreak...) — the struct max makes the pick deterministic
    * when several events share the bucket (ties on ts resolved by the
    * caller's tieBreak columns; pass the event PK). */
  private def observed(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, widthSec: Long, tieBreak: Seq[String]) = {
    val ord = struct(
      (col(tsCol) +: tieBreak.map(col)) :+ col(valueCol): _*)
    df.groupBy(col(keyCol), bucketExpr(tsCol, widthSec).as("__b"))
      .agg(count(lit(1)).as("n_obs"),
        max(ord).getField(valueCol).as("__v"))
  }

  /** Per-key regular grid joined to the observed buckets; `__bi` is the
    * integer bucket index (exact interpolation coordinate). */
  private def gridded(obs: DataFrame, keyCol: String, widthSec: Long) = {
    val w = widthSec * 1000000L
    val grid = obs.groupBy(col(keyCol))
      .agg(min(col("__b")).as("__mn"), max(col("__b")).as("__mx"))
      .select(col(keyCol), explode(expr(
        s"sequence(__mn, __mx, interval $widthSec second)")).as("__b"))
    grid.join(obs, Seq(keyCol, "__b"), "left")
      .withColumn("__bi", (unix_micros(col("__b")) / w).cast("long"))
  }

  /** Last-observation-carried-forward resample. Output: key, `bucket`,
    * `n_obs` (0 on gap rows), `value` (filled), `filled` (1 = gap). */
  def locf(df: DataFrame, keyCol: String, tsCol: String, valueCol: String,
      widthSec: Long, tieBreak: Seq[String] = Nil): DataFrame = {
    require(widthSec > 0, s"width must be positive, got $widthSec")
    val g = gridded(observed(df, keyCol, tsCol, valueCol, widthSec,
      tieBreak), keyCol, widthSec)
    val win = Window.partitionBy(col(keyCol)).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.select(col(keyCol), col("__b").as("bucket"),
        coalesce(col("n_obs"), lit(0L)).as("n_obs"),
        last(col("__v"), ignoreNulls = true).over(win).as("value"),
        col("n_obs").isNull.cast("long").as("filled"))
  }

  /** Linear-interpolation resample. Observed buckets keep their (last)
    * value; gap buckets interpolate between the surrounding observed
    * buckets. The span always starts and ends on an observed bucket, so
    * every gap has both neighbors and the output has no nulls. */
  def interp(df: DataFrame, keyCol: String, tsCol: String, valueCol: String,
      widthSec: Long, tieBreak: Seq[String] = Nil): DataFrame = {
    require(widthSec > 0, s"width must be positive, got $widthSec")
    val g = gridded(observed(df, keyCol, tsCol, valueCol, widthSec,
      tieBreak), keyCol, widthSec)
    val obsPoint = when(col("n_obs").isNotNull,
      struct(col("__bi"), col("__v")))
    val back = Window.partitionBy(col(keyCol)).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // next-observed via the REVERSED running frame, not first() over
    // [current, unboundedFollowing]: Spark's UnboundedFollowing frame
    // re-scans to the partition end per row — O(rows²) per key.
    // __b is unique per key (grid buckets), so the reversed last()
    // picks the identical row.
    val fwd = Window.partitionBy(col(keyCol)).orderBy(col("__b").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val p0 = last(obsPoint, ignoreNulls = true).over(back)
    val p1 = last(obsPoint, ignoreNulls = true).over(fwd)
    val b = col("__bi").cast("double")
    val b0 = p0.getField("__bi").cast("double")
    val b1 = p1.getField("__bi").cast("double")
    val v0 = p0.getField("__v")
    val v1 = p1.getField("__v")
    val filled = when(col("n_obs").isNull,
      (v0 * (b1 - b) + v1 * (b - b0)) / (b1 - b0)).otherwise(col("__v"))
    g.select(col(keyCol), col("__b").as("bucket"),
        coalesce(col("n_obs"), lit(0L)).as("n_obs"),
        filled.as("value"),
        col("n_obs").isNull.cast("long").as("filled"))
  }

  /** Per-key trailing EWMA over irregular event buckets — the
    * exponentially-decayed activity feature (half-life = one bucket)
    * quant pipelines compute next to OHLCV/backtest (reference app
    * repertoire): for each OBSERVED (key, bucket b) row,
    *   ewma = Σ_{0 ≤ b − bⱼ ≤ horizon} vⱼ · 2^−(b−bⱼ)
    * over the key's per-bucket value sums vⱼ. Gaps need no
    * materialized rows — the exponent uses bucket DISTANCE, so an
    * absent bucket simply contributes nothing and the decay spans it.
    *
    * Engine-exactness, by construction rather than tolerance: the
    * horizon-truncated sum IS the defined semantics (2^−50 ≈ 9e−16
    * relative — truncation far below any signal, but defined, so both
    * engines compute the SAME finite sum); each term is vⱼ · 2^−k with
    * integer k (a power of two scales the mantissa exactly); and the
    * fold runs in ascending-bucket order on both sides (Spark
    * `aggregate` over a frame-ordered collect_list ≡ DuckDB list fold),
    * so every intermediate IEEE add is identical.
    *
    * Scale shape: one map-combined (key, bucket) sum, then ONE per-key
    * range-frame window whose state is ≤ horizon (bucket, value) pairs
    * — bounded amplification, the Trailing-cover contract; keys never
    * compare across. Returns (keyCol, bucket, v, ewma). */
  def ewma(df: DataFrame, keyCol: String, tsCol: String, valueCol: String,
      widthSec: Long, horizon: Int = 50): DataFrame = {
    require(widthSec > 0, s"width must be positive, got $widthSec")
    require(horizon >= 0 && horizon <= 1000,
      s"horizon out of range: $horizon")
    val w = widthSec * 1000000L
    // Det.dsum: the per-bucket value sum must be partition-order-free
    // or the downstream IEEE fold inherits a nondeterministic seed
    val obs = df
      .filter(col(valueCol).isNotNull)
      .groupBy(col(keyCol),
        (unix_micros(col(tsCol)) / w).cast("long").as("bucket"))
      .agg(graft.functions.Det.dsum(col(valueCol).cast("double"), 6)
        .as("v"))
    val frame = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
      .rangeBetween(-horizon.toLong, 0)
    obs
      .withColumn("__hist",
        collect_list(struct(col("bucket").as("b"), col("v"))).over(frame))
      .withColumn("ewma", expr(
        "aggregate(__hist, cast(0.0 as double), " +
          "(acc, p) -> acc + p.v * power(0.5, cast(bucket - p.b as double)))"))
      .select(col(keyCol), col("bucket"), col("v"), col("ewma"))
  }
}
