package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series smoothing and anomaly scoring over keyed event streams —
  * the monitoring layer a metrics pipeline grows once the windowed
  * aggregates exist (the reference stops at raw per-minute aggregates,
  * spark_jobs/streaming_job.py:114-125; smoothing/outliers are the
  * obvious next consumer of that table).
  *
  * Both operators are ONE window pass over a (key, time) shuffle — the
  * same exchange the metrics aggregation already pays — and both are
  * pure codegen'd arithmetic inside the pass: no UDFs, no state beyond
  * the window frame, nothing driver-side. At 100 TB the cost is the one
  * hash exchange on the key; the per-key work is linear and
  * frame-bounded (EWMA's frame is K rows regardless of history length).
  */
object TimeSeries {

  /** The exact weight sequence ewma() uses (1, α, α², …): shared with
    * oracle builders so both sides embed the identical doubles. */
  def ewmaWeights(alpha: Double, k: Int): Seq[Double] =
    Iterator.iterate(1.0)(_ * alpha).take(k).toSeq

  /** Finite-horizon exponentially weighted moving average: over the last
    * `k` observations per key (order: time, then id for total order),
    * ewma = Σ_j α^j·x_{t-j} / Σ_j α^j with j = 0..k-1 restricted to rows
    * that exist (the leading edge re-normalizes instead of padding with
    * zeros — the standard "adjust=True" convention).
    *
    * The infinite-horizon recursive EWMA needs a sequential scan Spark's
    * window algebra can't express without a per-key serial pass; the
    * k-term truncation keeps the whole thing a FIXED set of `lag`
    * columns — one ordered window, k codegen'd multiply-adds per row,
    * identical arithmetic on any engine with `lag` (the tail weight
    * α^k of what it discards is <2% for k=16, α=0.75). Weights are
    * summed in the SAME left-to-right j order on both engines so the
    * double fold order can't drift. */
  def ewma(df: DataFrame, keyCol: String, timeCol: String, idCol: String,
      valueCol: String, alpha: Double, k: Int): DataFrame = {
    require(alpha > 0 && alpha < 1, "alpha in (0,1)")
    require(k >= 1 && k <= 64, "k in [1,64]")
    val w = Window.partitionBy(col(keyCol)).orderBy(col(timeCol), col(idCol))
    // Weights by iterated multiplication, not math.pow: for a dyadic
    // alpha (0.75 = 3/4) every product is exactly representable, so the
    // weight doubles are bit-identical to the decimal literals the
    // oracle SQL embeds — the whole EWMA is then the same IEEE operation
    // sequence on both engines, not merely close.
    val weights = ewmaWeights(alpha, k)
    // j=0 is the current row; lag(j) is null inside the first j rows of
    // the key, where that term (and its weight) drops out of both sums.
    val terms = (0 until k).map { j =>
      val x = if (j == 0) col(valueCol) else lag(col(valueCol), j).over(w)
      (x * lit(weights(j)), when(x.isNotNull, lit(weights(j))).otherwise(lit(0.0)))
    }
    val num = terms.map(_._1).reduceLeft((a, b) => a + coalesce(b, lit(0.0)))
    val den = terms.map(_._2).reduceLeft(_ + _)
    df.select(col(keyCol), col(timeCol), col(idCol), col(valueCol),
      round(num / den, 6).as("ewma"))
  }

  /** Per-key z-score outliers: z = (x - avg_key)/stddev_samp_key. The
    * per-key moments come from a map-side-combined grouped aggregate
    * (|keys| rows) broadcast back onto the corpus — NOT a full-frame
    * window, which would materialize every row of a key inside one task
    * (fatal for low-cardinality keys: one event_type at 100 TB is
    * billions of rows). This shape keeps the scan fully parallel and the
    * only exchange is the tiny aggregate. Emits only |z| ≥ `threshold`
    * rows; output size follows the anomaly rate, not the corpus.
    *
    * Membership is decided on the ROUNDED score: avg/stddev fold doubles
    * in partition order, so raw z differs across engines in the last few
    * ulps — a raw-z threshold could flip a row exactly at the boundary
    * while the displayed (rounded) values still agree. Filtering on the
    * same 6-decimal value the row carries keeps the kept-set a pure
    * function of the emitted data. */
  def zscoreOutliers(df: DataFrame, keyCol: String, idCol: String,
      valueCol: String, threshold: Double): DataFrame = {
    val moments = df.groupBy(col(keyCol))
      .agg(avg(col(valueCol)).as("__m"),
        stddev_samp(col(valueCol)).as("__sd"))
    df.join(broadcast(moments), Seq(keyCol))
      .select(col(keyCol), col(idCol), col(valueCol),
        round((col(valueCol) - col("__m")) / col("__sd"), 6).as("z"))
      .filter(abs(col("z")) >= threshold)
  }

  /** Robust (median/MAD) outlier detection — the heavy-tail-safe twin of
    * [[zscoreOutliers]]: mean/stddev are themselves dragged by the
    * outliers they're meant to find, while the median and the median
    * absolute deviation have a 50% breakdown point. robust_z =
    * (v − median) / (1.4826·MAD), the standard normal-consistency
    * scaling. Two exact-percentile aggregates per key (each a tiny
    * per-key frame broadcast back over the scan) — the same
    * broadcast-moments shape the z-score plan guard pins, never a
    * whole-corpus window. */
  /** Classical additive decomposition of an hourly count series: trend =
    * centered (2·half+1)-point moving average restricted to COMPLETE
    * windows, seasonal = hour-of-period mean of the detrended series kept
    * as a ratio of exact integers (Σ((2h+1)n − wsum) / (2h+1)m), residual
    * = the rest. Every output is integer sums plus a fixed IEEE
    * expression tree → hash-gates. One keyed collapse to (key, bucket);
    * windows and aggregates run over the collapsed frame only. */
  def decompose(df: DataFrame, tsCol: String, keyCol: String,
      period: Int = 24, half: Int = 12): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val width = 2 * half + 1
    val c = df
      .select(col(keyCol),
        expr(s"unix_micros($tsCol) div 3600000000L").as("bucket"))
      .groupBy(col(keyCol), col("bucket")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
      .rowsBetween(-half, half)
    val base = c.select(col(keyCol), col("bucket"), col("n"),
        sum(col("n")).over(w).as("wsum"),
        count(lit(1)).over(w).as("wcnt"))
      .filter(col("wcnt") === width)
      .withColumn("hod", col("bucket") % period)
    val seas = base.groupBy(col(keyCol), col("hod"))
      .agg(sum(lit(width) * col("n") - col("wsum")).as("s_num"),
        (count(lit(1)) * width).as("s_den"))
    base.join(seas, Seq(keyCol, "hod"))
      .select(col(keyCol), col("bucket"), col("n"),
        (col("wsum") / width.toDouble).as("trend"),
        (col("s_num").cast("double") / col("s_den")).as("seasonal"),
        (col("n") - col("wsum") / width.toDouble -
          col("s_num").cast("double") / col("s_den")).as("residual"))
  }

  /** LTTB-style downsampling (Steinarsson 2013), the fixed-rate variant
    * that replaces the sequential previous-SELECTED anchor with the
    * previous bucket's AVERAGE so every bucket decides independently
    * (one pass, no cross-bucket dependency — the price is a slightly
    * different, still shape-preserving selection): per bucket keep the
    * point with the largest triangle area against the neighbor bucket
    * averages. Averages are single divisions of DECIMAL/long sums; the
    * area is one fixed IEEE tree per row; argmax ties break on earliest
    * ts via struct ordering — all engine-exact. Interior buckets only
    * (no neighbors → no triangle). */
  def downsampleLttb(df: DataFrame, tsCol: String, keyCol: String,
      valueCol: String, widthSec: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rows = df.select(col(keyCol),
      expr(s"unix_micros($tsCol) div 1000000L").as("x"),
      col(valueCol).as("y"),
      expr(s"unix_micros($tsCol) div ${widthSec * 1000000L}L").as("bucket"))
    val b = rows.groupBy(col(keyCol), col("bucket"))
      .agg((sum(col("x")).cast("double") / count(lit(1))).as("ax"),
        (sum(col("y").cast("decimal(27,6)")).cast("double") / count(lit(1)))
          .as("ay"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
    val nb = b.select(col(keyCol), col("bucket"),
      lag(col("ax"), 1).over(w).as("px"), lag(col("ay"), 1).over(w).as("py"),
      lead(col("ax"), 1).over(w).as("nx"), lead(col("ay"), 1).over(w).as("ny"),
      lag(col("bucket"), 1).over(w).as("pb"),
      lead(col("bucket"), 1).over(w).as("nb"))
      // averages must come from ADJACENT buckets: a gap in the series
      // would otherwise anchor the triangle on a far-away average
      .filter(col("pb") === col("bucket") - 1 && col("nb") === col("bucket") + 1)
    rows.join(nb, Seq(keyCol, "bucket"))
      .select(col(keyCol), col("bucket"), col("x"), col("y"),
        abs((col("px") - col("nx")) * (col("y") - col("py")) -
          (col("px") - col("x")) * (col("ny") - col("py"))).as("area"))
      .groupBy(col(keyCol), col("bucket"))
      .agg(max(struct(col("area"), (-col("x")).as("negx"), col("y"))).as("m"))
      .select(col(keyCol), col("bucket"),
        (-col("m.negx")).cast("long").as("ts_s"), col("m.y").as("value"),
        col("m.area").as("area"))
  }

  def madOutliers(df: DataFrame, keyCol: String, idCol: String,
      valueCol: String, threshold: Double): DataFrame = {
    val med = df.groupBy(col(keyCol))
      .agg(percentile(col(valueCol), lit(0.5)).as("__med"))
    val mad = df.join(broadcast(med), Seq(keyCol))
      .groupBy(col(keyCol), col("__med"))
      .agg(percentile(abs(col(valueCol) - col("__med")), lit(0.5)).as("__mad"))
    df.join(broadcast(mad), Seq(keyCol))
      .select(col(keyCol), col(idCol), col(valueCol),
        round((col(valueCol) - col("__med")) / (lit(1.4826) * col("__mad")), 6)
          .as("robust_z"))
      .filter(abs(col("robust_z")) > threshold)
  }

  /** Fixed-width OHLC resampling bars (open/high/low/close + count and a
    * decimal-exact volume) — the downsampling pass that turns a raw event
    * stream into per-window bars. ONE map-side-combined aggregate over a
    * codegen'd bucket projection: open/close come from min_by/max_by on
    * the (ts, tie-break id) struct, so no per-bucket window sort ever
    * materializes, and the whole operator is a single keyed shuffle of
    * already-reduced partials. Bucket = integer floor-division of the
    * micro-epoch, identical arithmetic on both engines. */
  def ohlcBars(df: DataFrame, tsCol: String, idCol: String,
      valueCol: String, widthSec: Long): DataFrame = {
    val order = struct(col(tsCol), col(idCol))
    df.select(floor(unix_micros(col(tsCol)) / (widthSec * 1000000L))
          .cast("long").as("bucket"),
        col(tsCol), col(idCol), col(valueCol))
      .groupBy(col("bucket"))
      .agg(
        min_by(col(valueCol), order).as("open"),
        max(col(valueCol)).as("high"),
        min(col(valueCol)).as("low"),
        max_by(col(valueCol), order).as("close"),
        count(lit(1)).as("n_events"),
        sum(col(valueCol).cast("decimal(28,6)")).as("volume"))
  }

  /** Per-series autocorrelation at lags 1..maxLag over a regular-bucket
    * count series — the seasonality detector that tells a forecaster (or
    * the [[ohlcBars]]/seasonal-naive consumers) WHICH period to model:
    * a daily cycle shows up as a peak at lag 24 on hourly buckets.
    *
    * acf_k = Σ (x_t − m)(x_{t−k} − m) / Σ (x_t − m)², computed over the
    * observed bucket rows in bucket order (documented: gaps are skipped,
    * not zero-filled — compose with [[GapFill]] first when the grid must
    * be dense).
    *
    * Scale shape: the raw stream collapses to (key, bucket, count) by ONE
    * map-side-combined aggregate — the only corpus-sized exchange. Every
    * window after that runs on the collapsed frame, bounded by
    * series × observed buckets (hours, not events), and partitioned by
    * key. The mean joins back as a broadcast, the lag products fold in a
    * grouped sum. Double fold order is the single engine-variant step,
    * absorbed by the 6-decimal round (the zscoreOutliers precedent). */
  def acfBuckets(df: DataFrame, keyCol: String, tsCol: String,
      bucketSec: Long, maxLag: Int): DataFrame = {
    require(maxLag >= 1 && maxLag <= 48, "maxLag in [1,48]")
    val c = df
      .select(col(keyCol),
        floor(unix_micros(col(tsCol)) / (bucketSec * 1000000L))
          .cast("long").as("bucket"))
      .groupBy(col(keyCol), col("bucket"))
      .agg(count(lit(1)).cast("double").as("x"))
    val m = c.groupBy(col(keyCol)).agg(avg(col("x")).as("__m"))
    val d = c.join(broadcast(m), Seq(keyCol))
      .select(col(keyCol), col("bucket"), (col("x") - col("__m")).as("d"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
    val lagged = d.select(Seq(col(keyCol), col("d")) ++
      (1 to maxLag).map(k => lag(col("d"), k).over(w).as(s"__l$k")): _*)
    val aggs = sum(col("d") * col("d")).as("__den") +:
      (1 to maxLag).flatMap(k => Seq(
        sum(col("d") * col(s"__l$k")).as(s"__num$k"),
        count(col(s"__l$k")).as(s"__n$k")))
    val sums = lagged.groupBy(col(keyCol)).agg(aggs.head, aggs.tail: _*)
    sums.select(col(keyCol), explode(array((1 to maxLag).map(k =>
        struct(lit(k).as("lag"),
          round(col(s"__num$k") / col("__den"), 6).as("acf"),
          col(s"__n$k").as("n_pairs"))): _*)).as("__a"))
      .select(col(keyCol), col("__a.lag").as("lag"),
        col("__a.acf").as("acf"), col("__a.n_pairs").as("n_pairs"))
  }

  /** Dominant-period detection by autocorrelation argmax — the step
    * that CLOSES the seasonal-modeling loop: [[holtSeasonal]] and the
    * seasonal-naive baseline both take `period` as an input, and this
    * op derives it from the data (the standard ACF-peak heuristic —
    * Box & Jenkins' identification stage): per key, the lag in
    * [minLag, maxLag] with the highest autocorrelation, requiring
    * `minPairs` overlapping observations so a long-lag fluke on tiny
    * overlap can't win; `is_seasonal` flags keys whose best ACF clears
    * `threshold` (the consumer's trust gate). Ties break on the
    * SHORTER lag — the fundamental period beats its own harmonics at
    * equal (rounded) correlation.
    *
    * Scale shape and determinism ride [[acfBuckets]] unchanged: one
    * corpus-sized keyed collapse, maxLag window lags, one aggregate;
    * the argmax is a row_number window over key × maxLag rows on the
    * ROUNDED acf (identical doubles both engines, so the pick is
    * exact). Returns (key, period, acf, n_pairs, is_seasonal). */
  def periodDetect(df: DataFrame, keyCol: String, tsCol: String,
      bucketSec: Long, maxLag: Int = 48, minLag: Int = 2,
      minPairs: Long = 8L, threshold: Double = 0.3): DataFrame = {
    require(minLag >= 1 && maxLag > minLag, "1 <= minLag < maxLag")
    val a = acfBuckets(df, keyCol, tsCol, bucketSec, maxLag)
      .filter(col("lag") >= minLag && col("n_pairs") >= minPairs)
    val byKey = Window.partitionBy(col(keyCol))
      .orderBy(col("acf").desc, col("lag"))
    a.withColumn("__rn", row_number().over(byKey))
      .filter(col("__rn") === 1)
      .select(col(keyCol), col("lag").as("period"), col("acf"),
        col("n_pairs"), (col("acf") >= threshold).as("is_seasonal"))
  }

  /** Level-shift (step-change) detection over a regular-bucket count
    * series: at every bucket, compare the mean of the w buckets ending
    * just before it against the mean of the w buckets starting at it —
    * the moving-window "edge detector" that flags regime changes a
    * z-score on single points can't see (each post-shift point is
    * ordinary; the LEVEL moved).
    *
    * Emits every full-window bucket with both means, the shift, and an
    * `is_shift` flag (|shift| ≥ threshold) rather than only the flagged
    * rows, so the threshold stays a consumer-side choice. Same scale
    * posture as [[acfBuckets]]: one corpus-sized keyed aggregate, then
    * per-key frame windows over the collapsed (key, bucket) rows; the
    * frame aggregation folds in sorted bucket order on both engines, so
    * the means are deterministic. */
  /** Two-sided CUSUM (Page 1954) drift detection per key — the
    * change-point monitor for SMALL PERSISTENT shifts that
    * [[levelShift]]'s windowed before/after contrast misses: each
    * bucket's deviation from the key's baseline mean accumulates, and an
    * alarm fires when the cumulative drift clears the decision
    * threshold `h`.
    *
    * The recurrence S⁺_t = max(0, S⁺_{t−1} + dev_t) is re-expressed
    * relationally as S⁺_t = P_t − min(0, min_{j≤t} P_j) (prefix sum
    * minus running minimum) — two per-key ordered windows, no loop. To
    * stay exact-integer, every term is scaled by the baseline bucket
    * count b: dev = b·x_t − S1 ∓ slack·b where S1 = Σ baseline counts,
    * so the whole trace is BIGINT arithmetic and hash-gates. The
    * baseline is the key's first `base` buckets; monitoring starts
    * after it.
    *
    * All windows are PARTITIONED BY key (bucket counts per key are
    * bounded by the time range, not the corpus), the baseline is one
    * keyed aggregate joined back — nothing corpus-scale crosses a
    * single task. Returns (key, bucket, n, b, cusum_up_scaled,
    * cusum_dn_scaled, alarm_up, alarm_dn); the scaled values divide by
    * b for the conventional units. */
  def cusum(df: DataFrame, keyCol: String, tsCol: String, bucketSec: Long,
      base: Int, slack: Long, h: Long): DataFrame = {
    require(base >= 1, "base >= 1")
    val c = df
      .select(col(keyCol),
        floor(unix_micros(col(tsCol)) / (bucketSec * 1000000L))
          .cast("long").as("bucket"))
      .groupBy(col(keyCol), col("bucket"))
      .agg(count(lit(1)).as("n"))
    val byKey = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
    val ranked = c.select(col(keyCol), col("bucket"), col("n"),
      row_number().over(byKey).as("__rn"))
    val baseAgg = ranked.filter(col("__rn") <= base)
      .groupBy(col(keyCol))
      .agg(sum(col("n")).as("__s1"), count(lit(1)).as("b"))
    val run = byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val p = ranked.filter(col("__rn") > base)
      .join(baseAgg, Seq(keyCol))
      .select(col(keyCol), col("bucket"), col("n"), col("b"),
        (col("b") * col("n") - col("__s1") - lit(slack) * col("b")).as("__dup"),
        (col("__s1") - lit(slack) * col("b") - col("b") * col("n")).as("__ddn"))
      .select(col(keyCol), col("bucket"), col("n"), col("b"),
        sum(col("__dup")).over(run).as("__pup"),
        sum(col("__ddn")).over(run).as("__pdn"))
    p.select(col(keyCol), col("bucket"), col("n"), col("b"),
        (col("__pup") - least(lit(0L), min(col("__pup")).over(run)))
          .as("cusum_up_scaled"),
        (col("__pdn") - least(lit(0L), min(col("__pdn")).over(run)))
          .as("cusum_dn_scaled"))
      .withColumn("alarm_up", col("cusum_up_scaled") >= lit(h) * col("b"))
      .withColumn("alarm_dn", col("cusum_dn_scaled") >= lit(h) * col("b"))
  }

  /** Holt linear-trend smoothing (double exponential smoothing) over a
    * regular-bucket count series — the EXACT infinite-horizon recursive
    * recurrence, not a truncation. [[ewma]] documents why the recursive
    * form resists window algebra: l_t depends on l_{t−1}. The answer is
    * that the recurrence
    *
    *   l_t = α·x_t + (1−α)(l_{t−1} + b_{t−1})
    *   b_t = β(l_t − l_{t−1}) + (1−β)·b_{t−1}
    *
    * is an AFFINE map s_t = M·s_{t−1} + c_t on the state s = (l, b) with
    * a CONSTANT matrix M = [[1−α, 1−α], [−αβ, 1−αβ]] and per-row vector
    * c_t = (α·x_t, αβ·x_t). Affine-map composition is associative, so
    * the per-key prefix composition runs as a Hillis–Steele doubling
    * scan: ⌈log₂ n⌉ rounds of v_t ← v_t + M^(2^r)·v_{t−2^r}, each ONE
    * per-key window `lag` over the already-sorted frame — the single
    * (key, bucket) exchange is paid once and every round reuses its
    * sort. The left segment of every combine spans positions > 1
    * exactly when the lag exists, so its composed matrix is the
    * position-independent constant M^(2^r), computed once per round by
    * driver-side repeated squaring and embedded as literals; the
    * initial state s_1 = (x_1, 0) rides as position 1's vector under a
    * zero matrix, which the scan then carries into every prefix.
    *
    * Scale shape: the corpus collapses to (key, bucket, n) in one
    * map-side-combined aggregate (the only data-sized stage, identical
    * to [[cusum]]); the scan frames are series × buckets rows,
    * partitioned by key, and the round count grows with log₂ of the
    * LONGEST series — 17 rounds covers a decade of hourly buckets. The
    * collapsed frame is localCheckpoint'ed: the round count needs its
    * max series length, and the boundary keeps ⌈log₂ n⌉ chained windows
    * from re-optimizing the scan lineage (the graph_leiden lesson).
    *
    * Both engines evaluate algebraically identical but differently
    * associated IEEE trees (the oracle recurses sequentially); the
    * drift is ulps-scale and absorbed by the 6-decimal round, with
    * `+ 0.0` canonicalizing −0.0 (the Similarity precedent). Returns
    * (key, bucket, n, level, trend, forecast_next = l + b). */
  def holt(df: DataFrame, keyCol: String, tsCol: String, bucketSec: Long,
      alpha: Double, beta: Double, maxLevels: Int = 24): DataFrame =
    holtScan(collapse(df, keyCol, tsCol, bucketSec), Seq(keyCol),
      alpha, beta, maxLevels)

  /** Per-phase SEASONAL Holt — the Holt–Winters-class hybrid for series
    * with both a cycle and a drift: stratify the collapsed series by
    * phase = bucket mod `period` and run the IDENTICAL doubling scan
    * partitioned by (key, phase). Each phase's subseries (one
    * observation per cycle) learns its own level (the seasonal profile)
    * AND its own trend (the cycle-over-cycle drift — the per-phase
    * trend IS the recombined trend component: on a seasonal+trend
    * series every phase drifts by the same per-period increment, which
    * the stratified scan estimates without cross-phase mixing).
    * `forecast_next` forecasts the phase's NEXT occurrence (bucket +
    * period). Returns (key, bucket, phase, n, level, trend,
    * forecast_next) — the [[holt]] shape plus phase. */
  def holtSeasonal(df: DataFrame, keyCol: String, tsCol: String,
      bucketSec: Long, alpha: Double, beta: Double, period: Int,
      maxLevels: Int = 24): DataFrame = {
    require(period >= 2, "period >= 2")
    val c = collapse(df, keyCol, tsCol, bucketSec)
      .withColumn("phase", pmod(col("bucket"), lit(period.toLong)))
    holtScan(c, Seq(keyCol, "phase"), alpha, beta, maxLevels)
  }

  /** Theta-method forecasting (Assimakopoulos & Nikolopoulos 2000, the
    * M3-competition winner): decompose the per-key series into the
    * θ=0 line (the OLS linear trend) and the θ=2 line z_t = 2·y_t −
    * trend_t, smooth z with SES, and forecast the average of the
    * extrapolated trend and the (flat) SES level. Fixed smoothing
    * α (default 0.5 — dyadic, so every scan coefficient is exactly
    * representable) keeps the whole method deterministic.
    *
    * Cross-engine exactness: the OLS moments accumulate as 38-digit
    * decimals of integer (t, n) products (fold-order free), so slope =
    * num/den and intercept are single fixed IEEE trees — bit-identical;
    * z and the trend line are fixed trees over those; only the SES
    * recursion associates differently under the doubling scan, absorbed
    * by the 6-decimal round (the holt/kalman precedent). The forecast
    * combines the ROUNDED ses so both engines read the same input.
    *
    * Scale shape: the [[collapse]] is the only corpus-sized stage; OLS
    * is one map-side-combinable aggregate (|keys| rows, broadcast
    * back); the SES is the ⌈log₂ n⌉-round [[affineScan]]. Returns
    * (key, bucket, n, trend, ses, forecast_next). */
  def theta(df: DataFrame, keyCol: String, tsCol: String, bucketSec: Long,
      alpha: Double = 0.5, maxLevels: Int = 24): DataFrame = {
    require(alpha > 0 && alpha < 1, "alpha in (0,1)")
    val byKey = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
    val idx = collapse(df, keyCol, tsCol, bucketSec)
      .select(col(keyCol), col("bucket"), col("n"),
        (row_number().over(byKey).cast("long") - 1L).as("__t"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val ols = idx.groupBy(col(keyCol)).agg(
      count(lit(1)).as("__m"),
      sum(col("__t")).as("__st"),
      sum(col("n")).as("__sy"),
      sum(dec(col("__t")) * dec(col("n"))).as("__sty"),
      sum(dec(col("__t")) * dec(col("__t"))).as("__stt"))
    val num = dec(col("__m")) * col("__sty") - dec(col("__st")) * dec(col("__sy"))
    val den = dec(col("__m")) * col("__stt") - dec(col("__st")) * dec(col("__st"))
    val withLine = idx.join(broadcast(ols), Seq(keyCol))
      .withColumn("__ib", when(den === dec(lit(0L)), lit(0.0))
        .otherwise(num.cast("double") / den.cast("double")))
      .withColumn("__ia",
        (col("__sy").cast("double") - col("__ib") * col("__st").cast("double"))
          / col("__m").cast("double"))
      .withColumn("__z", lit(2.0) * col("n").cast("double")
        - (col("__ia") + col("__ib") * col("__t").cast("double")))
    val base = withLine.select(col(keyCol), col("bucket"), col("n"),
      col("__t"), col("__ia"), col("__ib"), col("__z"),
      when(col("__t") === 0L, lit(0.0)).otherwise(lit(1 - alpha)).as("__a"),
      when(col("__t") === 0L, col("__z"))
        .otherwise(lit(alpha) * col("__z")).as("__b"))
    affineScan(base, Seq(keyCol), maxLevels)
      .select(col(keyCol), col("bucket"), col("n"),
        (round(col("__ia") + col("__ib") * col("__t").cast("double"), 6)
          + lit(0.0)).as("trend"),
        (round(col("__b"), 6) + lit(0.0)).as("ses"),
        (round(lit(0.5) * (col("__ia")
            + col("__ib") * (col("__t").cast("double") + lit(1.0)))
          + lit(0.5) * round(col("__b"), 6), 6) + lit(0.0))
          .as("forecast_next"))
  }

  /** The (key..., bucket, n) collapse shared by the Holt family — the
    * only corpus-sized stage, materialized at the boundary. */
  private def collapse(df: DataFrame, keyCol: String, tsCol: String,
      bucketSec: Long): DataFrame =
    Rounds.checkpoint(df.select(col(keyCol),
        floor(unix_micros(col(tsCol)) / (bucketSec * 1000000L))
          .cast("long").as("bucket"))
      .groupBy(col(keyCol), col("bucket"))
      .agg(count(lit(1)).as("n")))

  /** The doubling-scan core over an already-collapsed (keyCols...,
    * bucket, n) frame — [[holt]] runs it per key, [[holtSeasonal]] per
    * (key, phase). */
  private def holtScan(c: DataFrame, keyCols: Seq[String],
      alpha: Double, beta: Double, maxLevels: Int): DataFrame = {
    require(alpha > 0 && alpha < 1, "alpha in (0,1)")
    require(beta > 0 && beta < 1, "beta in (0,1)")
    val g = keyCols.map(col)
    // max over an EMPTY frame is one NULL row — treat as length 1 so
    // rounds = 0 and the (empty) pipeline still returns the correct
    // empty-schema frame instead of NPE-ing on getLong.
    val maxNRow = c.groupBy(g: _*).count()
      .agg(max(col("count"))).head()
    val maxN = if (maxNRow.isNullAt(0)) 1L else maxNRow.getLong(0)
    val rounds = Iterator.from(0).dropWhile(r => (1L << r) < maxN).next()
    require(rounds <= maxLevels,
      s"series length $maxN needs $rounds doubling rounds > maxLevels=$maxLevels")
    val byKey = Window.partitionBy(g: _*).orderBy(col("bucket"))
    val x = col("n").cast("double")
    var cur = c.select(g :+ col("bucket") :+ col("n") :+
        row_number().over(byKey).as("__rn"): _*)
      .select(g :+ col("bucket") :+ col("n") :+ col("__rn") :+
        when(col("__rn") === 1, x).otherwise(lit(alpha) * x).as("__v1") :+
        when(col("__rn") === 1, lit(0.0))
          .otherwise(lit(alpha * beta) * x).as("__v2"): _*)
    // M^(2^r) by exact driver-side repeated squaring of the constant M.
    var p = (1 - alpha, 1 - alpha, -alpha * beta, 1 - alpha * beta)
    for (r <- 0 until rounds) {
      val off = 1 << r
      val (l1, l2) = (lag(col("__v1"), off).over(byKey),
        lag(col("__v2"), off).over(byKey))
      cur = cur.select(g :+ col("bucket") :+ col("n") :+ col("__rn") :+
        when(l1.isNull, col("__v1"))
          .otherwise(col("__v1") + lit(p._1) * l1 + lit(p._2) * l2).as("__v1") :+
        when(l1.isNull, col("__v2"))
          .otherwise(col("__v2") + lit(p._3) * l1 + lit(p._4) * l2).as("__v2"): _*)
      p = (p._1 * p._1 + p._2 * p._3, p._1 * p._2 + p._2 * p._4,
        p._3 * p._1 + p._4 * p._3, p._3 * p._2 + p._4 * p._4)
    }
    cur.select(g :+ col("bucket") :+ col("n") :+
      (round(col("__v1"), 6) + lit(0.0)).as("level") :+
      (round(col("__v2"), 6) + lit(0.0)).as("trend") :+
      (round(col("__v1") + col("__v2"), 6) + lit(0.0)).as("forecast_next"): _*)
  }

  /** Banded matrix profile (Yeh et al., ICDM'16's profile restricted to
    * a ±band neighborhood) over a regular-bucket count series: for every
    * length-`w` window of consecutive observed buckets, the most similar
    * OTHER window within `band` positions (at least `excl` away — the
    * standard exclusion zone that stops a window matching its own
    * overlap), scored by Pearson correlation of the two windows, which
    * is monotone in z-normalized Euclidean distance
    * (dist² = 2w(1 − r)): the motif/novelty detector — a low best-corr
    * window is a shape the neighborhood never repeats.
    *
    * Exactness: windows come from integer counts, so S = Σx, Q = Σx²
    * and every pairwise dot product are exact BIGINTs;
    * r = (w·dot − S_i·S_j) / sqrt((w·Q_i − S_i²)·(w·Q_j − S_j²)) is ONE
    * integer-fed IEEE tree (single sqrt of the exact BIGINT product,
    * single division) — bit-identical on both engines, so raw doubles
    * gate and the argmax tie (higher r, then lower neighbor) is exact.
    * Zero-variance windows carry no shape and are excluded (their r is
    * undefined; both sides filter denSq > 0).
    *
    * Scale shape: ONE map-side-combined collapse to (key, bucket, n) is
    * the only corpus-sized stage; windows are `w` per-key `lead`s over
    * the collapsed frame (dense rank positions — gaps are skipped, the
    * [[acfBuckets]] convention); candidate pairs come from exploding
    * the `excl..band` offset literals and ONE keyed equi-join on
    * (key, pos+d) — series × (band−excl+1) rows, partitioned by key,
    * never a within-key cross join; the best match folds in a grouped
    * max. Work is O(n·band·w) spread over the key partitioning. */
  def matrixProfileBanded(df: DataFrame, keyCol: String, tsCol: String,
      bucketSec: Long, w: Int = 16, excl: Int = 4, band: Int = 48)
      : DataFrame = {
    require(w >= 2 && w <= 64, "w in [2,64]")
    require(excl >= 1 && band > excl, "1 <= excl < band")
    val c = df
      .select(col(keyCol),
        floor(unix_micros(col(tsCol)) / (bucketSec * 1000000L))
          .cast("long").as("bucket"))
      .groupBy(col(keyCol), col("bucket"))
      .agg(count(lit(1)).as("n"))
    val byKey = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
    val xs = (0 until w).map(t =>
      (if (t == 0) col("n") else lead(col("n"), t).over(byKey)).as(s"__x$t"))
    // materialize once: the frame is read three times (pair left, pair
    // right, and the mirrored union re-executes the join otherwise —
    // the plan audit showed 8 parquet scans without this)
    val wnd = Rounds.checkpoint(c
      .select(Seq(col(keyCol), col("bucket"),
        row_number().over(byKey).as("__pos")) ++ xs: _*)
      .filter(col(s"__x${w - 1}").isNotNull)
      .select(col(keyCol), col("bucket"), col("__pos"),
        (0 until w).map(t => col(s"__x$t")).reduce(_ + _).as("__s"),
        (0 until w).map(t => col(s"__x$t") * col(s"__x$t")).reduce(_ + _)
          .as("__q"),
        array((0 until w).map(t => col(s"__x$t")): _*).as("__xs"))
      .withColumn("__den", lit(w.toLong) * col("__q") - col("__s") * col("__s"))
      .filter(col("__den") > 0))
    val offsets = explode(sequence(lit(excl), lit(band))).as("__d")
    val left = wnd.select(col(keyCol), col("bucket"), col("__pos"),
      col("__s"), col("__den"), col("__xs"))
    val right = wnd.select(col(keyCol).as("__k2"),
      col("bucket").as("__b2"), col("__pos").as("__p2"),
      col("__s").as("__s2"), col("__den").as("__den2"),
      col("__xs").as("__xs2"))
    // exact BIGINT dot product, expanded (stays in codegen; w terms)
    val dot = (0 until w).map(t =>
      element_at(col("__xs"), t + 1) * element_at(col("__xs2"), t + 1))
      .reduce(_ + _)
    // Cast EACH den to double before the product: den ~ w·Σn² so
    // per-bucket counts near 1e4 push den·den2 past 2^63 and the exact
    // BIGINT product errors under ANSI at scale. The oracle applies the
    // identical tree (CAST(a.den AS DOUBLE) * CAST(b.den AS DOUBLE)).
    val corr = (lit(w.toLong) * dot - col("__s") * col("__s2"))
      .cast("double") /
      sqrt(col("__den").cast("double") * col("__den2").cast("double"))
    val pairs = left.select(col(keyCol), col("bucket"), col("__pos"),
        col("__s"), col("__den"), col("__xs"), offsets)
      .join(right, col(keyCol) === col("__k2") &&
        col("__pos") + col("__d") === col("__p2"))
      .select(col(keyCol), col("bucket"), col("__pos"), col("__b2"),
        col("__p2"), corr.as("__r"))
    // pair sims computed ONCE (each undirected pair feeds both
    // endpoints' minima); without the checkpoint the mirrored branch
    // re-executes the band join
    val pinned = Rounds.checkpoint(pairs)
    val both = pinned.unionAll(pinned.select(col(keyCol),
      col("__b2").as("bucket"), col("__p2").as("__pos"),
      col("bucket").as("__b2"), col("__pos").as("__p2"), col("__r")))
    both.groupBy(col(keyCol), col("bucket"))
      .agg(max(struct(col("__r"), (-col("__p2")).as("__np"),
        (-col("__b2")).as("__nb"))).as("__m"))
      .select(col(keyCol), col("bucket"),
        (-col("__m.__nb")).as("nn_bucket"),
        col("__m.__r").as("best_corr"),
        (lit(2.0 * w) * (lit(1.0) - col("__m.__r"))).as("dist2"))
  }

  /** Rolling-origin one-step backtest of [[holt]] against the seasonal-
    * naive baseline — the evaluation loop a forecaster actually runs
    * before trusting a model: at every observed bucket, the Holt
    * forecast MADE AT THE PREVIOUS bucket (forecast_next, the op's
    * contract output — rounded, as consumers receive it) and the
    * seasonal-naive forecast (the count `period` positions earlier,
    * the [[acfBuckets]] position convention) are scored against the
    * actual; per key the MAEs meet in a winner flag. Rows are evaluable
    * once both forecasts exist (position > period).
    *
    * Scale shape: rides [[holt]]'s collapsed frame — two window lags
    * and one keyed aggregate on (key, bucket) rows, nothing
    * corpus-sized past the collapse. Naive errors are exact integers;
    * Holt's error sum is accumulated doubles → round(…,6) on both
    * sides (the suite's accumulation convention). */
  def holtBacktest(df: DataFrame, keyCol: String, tsCol: String,
      bucketSec: Long, alpha: Double, beta: Double,
      period: Int = 24): DataFrame = {
    val h = holt(df, keyCol, tsCol, bucketSec, alpha, beta)
    val byKey = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
    val ev = h.select(col(keyCol), col("bucket"), col("n"),
        lag(col("forecast_next"), 1).over(byKey).as("__fh"),
        lag(col("n"), period).over(byKey).as("__fn"))
      .filter(col("__fh").isNotNull && col("__fn").isNotNull)
    ev.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_evals"),
        round(sum(abs(col("n").cast("double") - col("__fh"))) /
          count(lit(1)), 6).as("mae_holt"),
        round(sum(abs(col("n") - col("__fn"))).cast("double") /
          count(lit(1)), 6).as("mae_naive"))
      .withColumn("holt_wins", col("mae_holt") < col("mae_naive"))
  }

  /** [[holtBacktest]] extended with the [[holtSeasonal]] model — the
    * three-way eval (Holt, seasonal-naive, per-phase seasonal Holt)
    * that decides which forecaster a key actually trusts: plain Holt
    * wins pure-trend keys, naive wins pure-cycle keys, and the
    * stratified model is built to win seasonal+trend. Rows are
    * evaluable where ALL THREE forecasts exist; the winner tie-breaks
    * seasonal_holt > holt > naive (a tie means the simpler model isn't
    * WORSE, but the flag answers "may I ship the hybrid").
    *
    * Scale shape: all three models ride the same (key, bucket, n)
    * collapse; the seasonal forecast is one extra window lag
    * partitioned by (key, phase) and one keyed equi-join of two
    * collapse-sized frames. Returns (key, n_evals, mae_holt,
    * mae_naive, mae_sholt, winner). */
  def seasonalBacktest(df: DataFrame, keyCol: String, tsCol: String,
      bucketSec: Long, alpha: Double, beta: Double,
      period: Int = 24): DataFrame = {
    val h = holt(df, keyCol, tsCol, bucketSec, alpha, beta)
    val hs = holtSeasonal(df, keyCol, tsCol, bucketSec, alpha, beta, period)
    val byKey = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
    val byPhase = Window.partitionBy(col(keyCol), col("phase"))
      .orderBy(col("bucket"))
    val a = h.select(col(keyCol), col("bucket"), col("n"),
      lag(col("forecast_next"), 1).over(byKey).as("__fh"),
      lag(col("n"), period).over(byKey).as("__fn"))
    val b = hs.select(col(keyCol), col("bucket"),
      lag(col("forecast_next"), 1).over(byPhase).as("__fs"))
    val ev = a.join(b, Seq(keyCol, "bucket"))
      .filter(col("__fh").isNotNull && col("__fn").isNotNull &&
        col("__fs").isNotNull)
    ev.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_evals"),
        round(sum(abs(col("n").cast("double") - col("__fh"))) /
          count(lit(1)), 6).as("mae_holt"),
        round(sum(abs(col("n") - col("__fn"))).cast("double") /
          count(lit(1)), 6).as("mae_naive"),
        round(sum(abs(col("n").cast("double") - col("__fs"))) /
          count(lit(1)), 6).as("mae_sholt"))
      .withColumn("winner",
        when(col("mae_sholt") <= col("mae_holt") &&
          col("mae_sholt") <= col("mae_naive"), lit("seasonal_holt"))
          .when(col("mae_holt") <= col("mae_naive"), lit("holt"))
          .otherwise(lit("naive")))
  }

  /** AR(2) forecasting by Yule-Walker estimation over a keyed
    * regular-bucket count series — the classical autoregressive
    * complement to [[holt]] (trend), [[holtSeasonal]] (cycle) and
    * [[kalman]] (state space): an oscillatory/mean-reverting series
    * (x_t − μ) = φ₁(x_{t−1} − μ) + φ₂(x_{t−2} − μ) + ε_t is exactly
    * the regime all three of those model poorly. The Yule-Walker
    * equations give the coefficients in closed form from the first two
    * autocorrelations ([[acfBuckets]]' estimator):
    * φ₁ = r₁(1 − r₂)/(1 − r₁²), φ₂ = (r₂ − r₁²)/(1 − r₁²).
    *
    * Determinism: μ, r₁, r₂ are accumulated doubles → each rounds at 6
    * decimals (the acfBuckets contract convention), after which the φ
    * algebra and every per-row forecast μ + φ₁·d_t + φ₂·d_{t−1} are
    * fixed IEEE trees over bit-identical inputs on both engines. A key
    * with a degenerate denominator (constant series: Σd² = 0; or
    * |1 − r₁²| below 1e-9 after rounding) falls back to the mean
    * forecast (φ₁ = φ₂ = 0) — the guard lives INSIDE the rounded-input
    * algebra so both engines take the same branch.
    *
    * Scale shape: one map-side-combined collapse is the only
    * corpus-sized stage ([[acfBuckets]]' shape); then two window lags
    * and one keyed aggregate over (key, bucket) rows, the per-key model
    * frame broadcast back. No recursion at all — AR(2)'s one-step
    * forecast needs only the two observed lags, never a scan.
    * Returns (key, bucket, n, phi1, phi2, mu, forecast_next) where
    * forecast_next is the forecast for the NEXT observed position,
    * null until both lags exist. */
  def ar2(df: DataFrame, keyCol: String, tsCol: String,
      bucketSec: Long): DataFrame = {
    val c = collapse(df, keyCol, tsCol, bucketSec)
    val byKey = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
    val m = c.groupBy(col(keyCol))
      .agg(round(avg(col("n").cast("double")), 6).as("__mu"))
    val d = c.join(broadcast(m), Seq(keyCol))
      .select(col(keyCol), col("bucket"), col("n"), col("__mu"),
        (col("n").cast("double") - col("__mu")).as("__d"))
    val lagged = d
      .withColumn("__l1", lag(col("__d"), 1).over(byKey))
      .withColumn("__l2", lag(col("__d"), 2).over(byKey))
    val phi = ar2Phi(lagged, keyCol)
    lagged.join(broadcast(phi), Seq(keyCol))
      .select(col(keyCol), col("bucket"), col("n"),
        (round(col("__p1"), 6) + lit(0.0)).as("phi1"),
        (round(col("__p2"), 6) + lit(0.0)).as("phi2"),
        col("__mu").as("mu"),
        when(col("__l1").isNotNull,
          round(col("__mu") + col("__p1") * col("__d") +
            col("__p2") * col("__l1"), 6) + lit(0.0))
          .as("forecast_next"))
  }

  /** The per-key Yule-Walker closed form shared by [[ar2]] and
    * [[ar2Forecast]]: from a deviation frame carrying (__d, __l1, __l2),
    * one keyed aggregate of the lag-product sums, r₁/r₂ rounded at 6
    * (the engine-equivalence boundary), φ as fixed IEEE trees with the
    * degenerate guard inside the rounded algebra. Returns
    * (key, __p1, __p2) — UNROUNDED φ (consumers round for display). */
  private def ar2Phi(lagged: DataFrame, keyCol: String): DataFrame = {
    val sums = lagged.groupBy(col(keyCol)).agg(
      sum(col("__d") * col("__d")).as("__den"),
      sum(col("__d") * col("__l1")).as("__n1"),
      sum(col("__d") * col("__l2")).as("__n2"))
    val r1 = when(col("__den") > 0, round(col("__n1") / col("__den"), 6))
    val r2 = when(col("__den") > 0, round(col("__n2") / col("__den"), 6))
    sums.select(col(keyCol), r1.as("__r1"), r2.as("__r2"))
      .select(col(keyCol), col("__r1"), col("__r2"),
        (lit(1.0) - col("__r1") * col("__r1")).as("__pd"))
      .select(col(keyCol),
        when(col("__r1").isNotNull && col("__r2").isNotNull &&
            abs(col("__pd")) >= 1e-9,
          col("__r1") * (lit(1.0) - col("__r2")) / col("__pd"))
          .otherwise(lit(0.0)).as("__p1"),
        when(col("__r1").isNotNull && col("__r2").isNotNull &&
            abs(col("__pd")) >= 1e-9,
          (col("__r2") - col("__r1") * col("__r1")) / col("__pd"))
          .otherwise(lit(0.0)).as("__p2"))
  }

  /** Multi-step AR(2) forecasting — [[ar2]]'s model rolled h steps past
    * each key's last observed bucket: with deviations g, the forecast
    * recurrence ĝ_{k} = φ₁·ĝ_{k−1} + φ₂·ĝ_{k−2} starts from the last two
    * OBSERVED deviations (ĝ₀ = d_T, ĝ₋₁ = d_{T−1}) and each step's
    * output is μ + ĝ_k — the h-step-ahead path a capacity planner
    * actually reads off the model (oscillations damp toward μ at the
    * rate the estimated roots dictate).
    *
    * Determinism: the recurrence is evaluated as a chain of PROJECTED
    * columns (one per step — linear plan, never an exponentially
    * substituted expression tree), each step one mul-add tree over the
    * unrounded φ and previous steps' unrounded values; the oracle's
    * recursive CTE evaluates the identical tree shape per step, so raw
    * doubles agree bit-for-bit and only the emitted forecast rounds.
    * Keys with a single observed bucket have no d_{T−1} and emit
    * nothing (documented; the mean-only fallback is [[ar2]]'s job).
    *
    * Scale shape: the collapse is the only corpus-sized stage; the
    * model frame is one row per key (two window lags + the [[ar2Phi]]
    * aggregate + a last-two pick via row_number desc), and the h steps
    * are h literal column projections over that one-row-per-key frame —
    * driver holds nothing, h is a bounded knob.
    * Returns (key, step ∈ [1,h], bucket = last_bucket + step,
    * forecast). */
  def ar2Forecast(df: DataFrame, keyCol: String, tsCol: String,
      bucketSec: Long, h: Int = 12): DataFrame = {
    require(h >= 1 && h <= 96, "h in [1,96]")
    val c = collapse(df, keyCol, tsCol, bucketSec)
    val byKey = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
    val byKeyDesc = Window.partitionBy(col(keyCol))
      .orderBy(col("bucket").desc)
    val m = c.groupBy(col(keyCol))
      .agg(round(avg(col("n").cast("double")), 6).as("__mu"))
    val d = c.join(broadcast(m), Seq(keyCol))
      .select(col(keyCol), col("bucket"), col("__mu"),
        (col("n").cast("double") - col("__mu")).as("__d"))
    val lagged = d
      .withColumn("__l1", lag(col("__d"), 1).over(byKey))
      .withColumn("__l2", lag(col("__d"), 2).over(byKey))
    val phi = ar2Phi(lagged, keyCol)
    val last2 = d.withColumn("__rnd", row_number().over(byKeyDesc))
      .filter(col("__rnd") <= 2)
      .groupBy(col(keyCol))
      .agg(max(when(col("__rnd") === 1, col("__d"))).as("__d0"),
        max(when(col("__rnd") === 2, col("__d"))).as("__d1"),
        max(when(col("__rnd") === 1, col("bucket"))).as("__lastb"),
        max(col("__mu")).as("__mu"),
        count(lit(1)).as("__nlast"))
      .filter(col("__nlast") >= 2) // single-bucket keys emit nothing
    var frame = last2.join(broadcast(phi), Seq(keyCol))
      .withColumn("__g1", col("__p1") * col("__d0") + col("__p2") * col("__d1"))
    if (h >= 2)
      frame = frame.withColumn("__g2",
        col("__p1") * col("__g1") + col("__p2") * col("__d0"))
    for (k <- 3 to h)
      frame = frame.withColumn(s"__g$k",
        col("__p1") * col(s"__g${k - 1}") + col("__p2") * col(s"__g${k - 2}"))
    frame
      .select(col(keyCol), col("__mu"), col("__lastb"),
        posexplode(array((1 to h).map(k => col(s"__g$k")): _*))
          .as(Seq("__s0", "__g")))
      .select(col(keyCol), (col("__s0") + 1).as("step"),
        (col("__lastb") + col("__s0") + 1).as("bucket"),
        (round(col("__mu") + col("__g"), 6) + lit(0.0)).as("forecast"))
  }

  /** ARI(2,1) — [[ar2]] composed with FIRST DIFFERENCING (d = 1
    * integration): the Yule-Walker AR(2) is fit to z_t = n_t − n_{t−1}
    * instead of the levels, and the one-step forecast integrates back
    * from the last observed level, ŷ_{t+1} = n_t + ẑ_{t+1}. This is the
    * regime a trending AND oscillating key needs: differencing removes
    * the trend (a unit root the level AR(2) would chase with φ near the
    * stationarity boundary), the AR(2) models the residual oscillation, and a
    * pure-linear-trend key degrades gracefully — constant differences
    * give Σd² = 0, the [[ar2Phi]] guard zeroes φ, and the forecast
    * becomes the drift extrapolation n_t + μz (naive-with-drift), both
    * engines taking the branch on the same rounded inputs.
    *
    * Determinism: μz (mean difference), r₁, r₂ round at 6 exactly as in
    * [[ar2]]; the integration adds one exact int→double cast and one
    * addition to the fixed IEEE forecast tree. Keys with a single
    * observed bucket have no difference at all and emit nothing (the
    * [[ar2Forecast]] convention); the first bucket of each surviving
    * key carries null lags and a null forecast.
    *
    * Scale shape: identical to [[ar2]] — the collapse is the only
    * corpus-sized stage; differencing is one more window lag on the
    * (key, bucket) frame, the model attach a broadcast of one row per
    * key. Returns (key, bucket, n, phi1, phi2, mu, forecast_next) with
    * mu = the mean DIFFERENCE (the drift) and forecast_next the
    * integrated level forecast for the next observed position. */
  def ari2(df: DataFrame, keyCol: String, tsCol: String,
      bucketSec: Long): DataFrame = {
    val c = collapse(df, keyCol, tsCol, bucketSec)
    val byKey = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
    val z = c.withColumn("__z",
      (col("n") - lag(col("n"), 1).over(byKey)).cast("double"))
    val m = z.filter(col("__z").isNotNull).groupBy(col(keyCol))
      .agg(round(avg(col("__z")), 6).as("__mu"))
    val d = z.join(broadcast(m), Seq(keyCol))
      .select(col(keyCol), col("bucket"), col("n"), col("__mu"),
        (col("__z") - col("__mu")).as("__d"))
    val lagged = d
      .withColumn("__l1", lag(col("__d"), 1).over(byKey))
      .withColumn("__l2", lag(col("__d"), 2).over(byKey))
    val phi = ar2Phi(lagged, keyCol)
    lagged.join(broadcast(phi), Seq(keyCol))
      .select(col(keyCol), col("bucket"), col("n"),
        (round(col("__p1"), 6) + lit(0.0)).as("phi1"),
        (round(col("__p2"), 6) + lit(0.0)).as("phi2"),
        col("__mu").as("mu"),
        when(col("__d").isNotNull && col("__l1").isNotNull,
          round(col("n").cast("double") + col("__mu") +
            col("__p1") * col("__d") + col("__p2") * col("__l1"), 6)
            + lit(0.0))
          .as("forecast_next"))
  }

  /** [[seasonalBacktest]] extended with the [[ar2]] model — the
    * four-way rolling-origin eval (Holt, seasonal-naive, per-phase
    * seasonal Holt, Yule-Walker AR(2)) that completes the classical
    * forecasting bake-off: AR(2) is built to win oscillatory /
    * mean-reverting keys that trend and cycle models both miss. Rows
    * are evaluable where ALL FOUR forecasts exist; winner tie-breaks
    * ar2 > seasonal_holt > holt > naive (prefer the model that wins
    * outright; on ties prefer the richer dynamics only when not
    * worse).
    *
    * Scale shape: all four models ride the same (key, bucket, n)
    * collapse; AR(2) adds two window lags and one keyed aggregate —
    * no recursion, no extra corpus-sized stage. Error sums are
    * accumulated doubles → round(…,6) both engines (naive's is exact
    * integer). Returns (key, n_evals, mae_holt, mae_naive, mae_sholt,
    * mae_ar2, winner). */
  def ar2Backtest(df: DataFrame, keyCol: String, tsCol: String,
      bucketSec: Long, alpha: Double, beta: Double,
      period: Int = 24): DataFrame = {
    val h = holt(df, keyCol, tsCol, bucketSec, alpha, beta)
    val hs = holtSeasonal(df, keyCol, tsCol, bucketSec, alpha, beta, period)
    val ar = ar2(df, keyCol, tsCol, bucketSec)
    val byKey = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
    val byPhase = Window.partitionBy(col(keyCol), col("phase"))
      .orderBy(col("bucket"))
    val a = h.select(col(keyCol), col("bucket"), col("n"),
      lag(col("forecast_next"), 1).over(byKey).as("__fh"),
      lag(col("n"), period).over(byKey).as("__fn"))
    val b = hs.select(col(keyCol), col("bucket"),
      lag(col("forecast_next"), 1).over(byPhase).as("__fs"))
    val r = ar.select(col(keyCol), col("bucket"),
      lag(col("forecast_next"), 1).over(byKey).as("__fa"))
    val ev = a.join(b, Seq(keyCol, "bucket")).join(r, Seq(keyCol, "bucket"))
      .filter(col("__fh").isNotNull && col("__fn").isNotNull &&
        col("__fs").isNotNull && col("__fa").isNotNull)
    ev.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_evals"),
        round(sum(abs(col("n").cast("double") - col("__fh"))) /
          count(lit(1)), 6).as("mae_holt"),
        round(sum(abs(col("n") - col("__fn"))).cast("double") /
          count(lit(1)), 6).as("mae_naive"),
        round(sum(abs(col("n").cast("double") - col("__fs"))) /
          count(lit(1)), 6).as("mae_sholt"),
        round(sum(abs(col("n").cast("double") - col("__fa"))) /
          count(lit(1)), 6).as("mae_ar2"))
      .withColumn("winner",
        when(col("mae_ar2") <= col("mae_sholt") &&
          col("mae_ar2") <= col("mae_holt") &&
          col("mae_ar2") <= col("mae_naive"), lit("ar2"))
          .when(col("mae_sholt") <= col("mae_holt") &&
            col("mae_sholt") <= col("mae_naive"), lit("seasonal_holt"))
          .when(col("mae_holt") <= col("mae_naive"), lit("holt"))
          .otherwise(lit("naive")))
  }

  /** [[ar2Backtest]] extended with the [[ari2]] model — the five-way
    * rolling-origin eval (Holt, seasonal-naive, per-phase seasonal
    * Holt, level AR(2), differenced ARI(2,1)) that completes the
    * classical bake-off with the integrated model: ARI(2) is built to
    * win keys that trend AND oscillate, where the level AR(2) chases
    * the unit root and Holt misses the cycle. Rows are evaluable where
    * ALL FIVE forecasts exist; winner tie-breaks ari2 > ar2 >
    * seasonal_holt > holt > naive (prefer the richer dynamics only
    * when not worse — the established convention one model deeper).
    *
    * Scale shape: all five models ride the same (key, bucket, n)
    * collapse; ARI(2) adds three window lags (one difference + two
    * deviation lags) and one keyed aggregate — nothing corpus-sized
    * beyond the shared collapse. Returns (key, n_evals, mae_holt,
    * mae_naive, mae_sholt, mae_ar2, mae_ari2, winner). */
  def ari2Backtest(df: DataFrame, keyCol: String, tsCol: String,
      bucketSec: Long, alpha: Double, beta: Double,
      period: Int = 24): DataFrame = {
    val h = holt(df, keyCol, tsCol, bucketSec, alpha, beta)
    val hs = holtSeasonal(df, keyCol, tsCol, bucketSec, alpha, beta, period)
    val ar = ar2(df, keyCol, tsCol, bucketSec)
    val ari = ari2(df, keyCol, tsCol, bucketSec)
    val byKey = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
    val byPhase = Window.partitionBy(col(keyCol), col("phase"))
      .orderBy(col("bucket"))
    val a = h.select(col(keyCol), col("bucket"), col("n"),
      lag(col("forecast_next"), 1).over(byKey).as("__fh"),
      lag(col("n"), period).over(byKey).as("__fn"))
    val b = hs.select(col(keyCol), col("bucket"),
      lag(col("forecast_next"), 1).over(byPhase).as("__fs"))
    val r = ar.select(col(keyCol), col("bucket"),
      lag(col("forecast_next"), 1).over(byKey).as("__fa"))
    val ri = ari.select(col(keyCol), col("bucket"),
      lag(col("forecast_next"), 1).over(byKey).as("__fi"))
    val ev = a.join(b, Seq(keyCol, "bucket")).join(r, Seq(keyCol, "bucket"))
      .join(ri, Seq(keyCol, "bucket"))
      .filter(col("__fh").isNotNull && col("__fn").isNotNull &&
        col("__fs").isNotNull && col("__fa").isNotNull &&
        col("__fi").isNotNull)
    ev.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_evals"),
        round(sum(abs(col("n").cast("double") - col("__fh"))) /
          count(lit(1)), 6).as("mae_holt"),
        round(sum(abs(col("n") - col("__fn"))).cast("double") /
          count(lit(1)), 6).as("mae_naive"),
        round(sum(abs(col("n").cast("double") - col("__fs"))) /
          count(lit(1)), 6).as("mae_sholt"),
        round(sum(abs(col("n").cast("double") - col("__fa"))) /
          count(lit(1)), 6).as("mae_ar2"),
        round(sum(abs(col("n").cast("double") - col("__fi"))) /
          count(lit(1)), 6).as("mae_ari2"))
      .withColumn("winner",
        when(col("mae_ari2") <= col("mae_ar2") &&
          col("mae_ari2") <= col("mae_sholt") &&
          col("mae_ari2") <= col("mae_holt") &&
          col("mae_ari2") <= col("mae_naive"), lit("ari2"))
          .when(col("mae_ar2") <= col("mae_sholt") &&
            col("mae_ar2") <= col("mae_holt") &&
            col("mae_ar2") <= col("mae_naive"), lit("ar2"))
          .when(col("mae_sholt") <= col("mae_holt") &&
            col("mae_sholt") <= col("mae_naive"), lit("seasonal_holt"))
          .when(col("mae_holt") <= col("mae_naive"), lit("holt"))
          .otherwise(lit("naive")))
  }

  /** Multi-step ARI(2,1) forecasting — [[ari2]]'s model rolled h steps
    * past each key's last observed bucket, with the integration the
    * differenced model requires: the AR(2) recurrence runs on the
    * DIFFERENCE deviations (ĝ_k = φ₁·ĝ_{k−1} + φ₂·ĝ_{k−2}, seeded from
    * the last two observed deviations), each step's difference forecast
    * is ẑ_{T+k} = μz + ĝ_k, and the LEVEL forecast accumulates them
    * back from the last level: ŷ_{T+k} = n_T + k·μz + Σ_{j≤k} ĝ_j.
    * A trending-and-oscillating key therefore forecasts a drift line
    * with a damping oscillation around it; a pure-linear key (φ = 0 via
    * the degenerate guard) forecasts the exact drift extrapolation
    * n_T + k·μz.
    *
    * Determinism: the ĝ chain and its running sum are PROJECTED columns
    * (one per step — linear plan, the [[ar2Forecast]] discipline); the
    * emitted forecast is round(n_T + k·μz + s_k, 6) over the identical
    * left-associated IEEE tree the oracle's recursive CTE replays
    * (k·μz is an exact-integer-valued double times the rounded drift on
    * both engines). Keys with fewer than two observed difference
    * deviations (< 3 buckets) emit nothing — the [[ar2Forecast]]
    * convention one difference deeper.
    *
    * Scale shape: identical to [[ari2]] — the collapse is the only
    * corpus-sized stage; the forecast frame is one row per key wide and
    * h columns deep before the explode. Returns
    * (key, step, bucket, forecast). */
  def ari2Forecast(df: DataFrame, keyCol: String, tsCol: String,
      bucketSec: Long, h: Int = 12): DataFrame = {
    require(h >= 1 && h <= 96, "h in [1,96]")
    val c = collapse(df, keyCol, tsCol, bucketSec)
    val byKey = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
    val byKeyDesc = Window.partitionBy(col(keyCol))
      .orderBy(col("bucket").desc)
    val z = c.withColumn("__z",
      (col("n") - lag(col("n"), 1).over(byKey)).cast("double"))
    val m = z.filter(col("__z").isNotNull).groupBy(col(keyCol))
      .agg(round(avg(col("__z")), 6).as("__mu"))
    val d = z.join(broadcast(m), Seq(keyCol))
      .select(col(keyCol), col("bucket"), col("n"), col("__mu"),
        (col("__z") - col("__mu")).as("__d"))
    val lagged = d
      .withColumn("__l1", lag(col("__d"), 1).over(byKey))
      .withColumn("__l2", lag(col("__d"), 2).over(byKey))
    val phi = ar2Phi(lagged, keyCol)
    // last two observed DEVIATIONS plus the last LEVEL: every bucket
    // after the first carries a deviation, so rnd = 1 is the key's last
    // bucket and its n is the integration base n_T
    val last2 = d.filter(col("__d").isNotNull)
      .withColumn("__rnd", row_number().over(byKeyDesc))
      .filter(col("__rnd") <= 2)
      .groupBy(col(keyCol))
      .agg(max(when(col("__rnd") === 1, col("__d"))).as("__d0"),
        max(when(col("__rnd") === 2, col("__d"))).as("__d1"),
        max(when(col("__rnd") === 1, col("bucket"))).as("__lastb"),
        max(when(col("__rnd") === 1, col("n"))).as("__nT"),
        max(col("__mu")).as("__mu"),
        count(lit(1)).as("__nlast"))
      .filter(col("__nlast") >= 2) // < 3 buckets: no ARI(2) seed, emit nothing
    var frame = last2.join(broadcast(phi), Seq(keyCol))
      .withColumn("__g1", col("__p1") * col("__d0") + col("__p2") * col("__d1"))
      .withColumn("__s1", col("__g1"))
    if (h >= 2)
      frame = frame
        .withColumn("__g2",
          col("__p1") * col("__g1") + col("__p2") * col("__d0"))
        .withColumn("__s2", col("__s1") + col("__g2"))
    for (k <- 3 to h)
      frame = frame
        .withColumn(s"__g$k",
          col("__p1") * col(s"__g${k - 1}") + col("__p2") * col(s"__g${k - 2}"))
        .withColumn(s"__s$k", col(s"__s${k - 1}") + col(s"__g$k"))
    frame
      .select(col(keyCol), col("__mu"), col("__lastb"), col("__nT"),
        posexplode(array((1 to h).map(k => col(s"__s$k")): _*))
          .as(Seq("__s0", "__sv")))
      .select(col(keyCol), (col("__s0") + 1).as("step"),
        (col("__lastb") + col("__s0") + 1).as("bucket"),
        (round(col("__nT").cast("double") +
          (col("__s0") + 1).cast("double") * col("__mu") + col("__sv"), 6)
          + lit(0.0)).as("forecast"))
  }

  /** Per-step Kalman coefficients for the local-level model
    * (x_t = x_{t−1} + w_t, w ~ N(0,q); y_t = x_t + v_t, v ~ N(0,r)) —
    * shared with the oracle builder so both engines embed the IDENTICAL
    * doubles. The gain/variance recursion
    *
    *   P⁻ = P_{t−1} + q;  K_t = P⁻/(P⁻+r);  P_t = (1−K_t)·P⁻
    *
    * is DATA-INDEPENDENT (the discrete Riccati recursion), so the whole
    * gain schedule is computed once driver-side; it contracts toward
    * its fixpoint geometrically (ratio (1−K*)², typically < 50 steps).
    * In doubles the iterates can oscillate forever within a few ulps of
    * the fixpoint, so the schedule is FROZEN once a step moves P by ≤ 4
    * ulps (or at `cap`): positions past m reuse entry m. The frozen
    * literal list IS the model on both engines — each looks
    * coefficients up by min(position, m), so exactness never depends on
    * the recursion continuing. Returns (gains K_1..K_m with K_1 = 1
    * (l_1 = y_1, P_1 = r), smoother coefficients C_t = P_t/(P_t+q) for
    * the RTS backward pass). */
  def kalmanCoeffs(q: Double, r: Double, cap: Int = 512)
      : (Seq[Double], Seq[Double]) = {
    require(q > 0 && r > 0, "q, r > 0")
    val ks = scala.collection.mutable.ArrayBuffer(1.0)
    val cs = scala.collection.mutable.ArrayBuffer[Double]()
    var p = r
    cs += p / (p + q)
    var done = false
    while (!done && ks.size < cap) {
      val pp = p + q
      val k = pp / (pp + r)
      ks += k
      val np = (1 - k) * pp
      done = np == p || math.abs(np - p) <= 4 * math.ulp(p)
      p = np
      cs += p / (p + q)
    }
    (ks.toSeq, cs.toSeq)
  }

  /** Per-step coefficients for the LOCAL-LINEAR-TREND Kalman model
    * (state (level, slope); F = [[1,1],[0,1]], H = [1,0],
    * Q = diag(qL, qS), obs noise r) — the 2×2 matrix Riccati recursion,
    * data-independent like [[kalmanCoeffs]] and frozen the same way
    * (all three P entries move ≤ 4 ulps, or `cap`). P₁ = diag(r, r)
    * with x₁ = (y₁, 0) ⇒ K₁ = (1, 0). Returns the gain schedules
    * (k1 = level gain, k2 = slope gain), both length m. */
  def kalmanTrendCoeffs(qL: Double, qS: Double, r: Double, cap: Int = 512)
      : (Seq[Double], Seq[Double]) = {
    require(qL > 0 && qS > 0 && r > 0, "qL, qS, r > 0")
    var (p11, p12, p22) = (r, 0.0, r)
    val k1s = scala.collection.mutable.ArrayBuffer(1.0)
    val k2s = scala.collection.mutable.ArrayBuffer(0.0)
    var done = false
    while (!done && k1s.size < cap) {
      val pp11 = p11 + 2 * p12 + p22 + qL
      val pp12 = p12 + p22
      val pp22 = p22 + qS
      val s = pp11 + r
      val k1 = pp11 / s
      val k2 = pp12 / s
      k1s += k1; k2s += k2
      val n11 = (1 - k1) * pp11
      val n12 = (1 - k1) * pp12
      val n22 = pp22 - k2 * pp12
      done = (n11 == p11 || math.abs(n11 - p11) <= 4 * math.ulp(p11)) &&
        (n12 == p12 || math.abs(n12 - p12) <= 4 * math.ulp(math.abs(p12) max 1e-300)) &&
        (n22 == p22 || math.abs(n22 - p22) <= 4 * math.ulp(p22))
      p11 = n11; p12 = n12; p22 = n22
    }
    (k1s.toSeq, k2s.toSeq)
  }

  /** Exact local-linear-trend Kalman filter — [[holt]]'s model class
    * with OPTIMAL time-varying gains instead of fixed (α, β) smoothing:
    * x_t = (I − K_t H)·F·x_{t−1} + K_t·y_t on the state (level, slope),
    * A_t = [[1−k1, 1−k1], [−k2, 1−k2]]. This is the per-row affine
    * scan at full MATRIX generality ([[affineScanMat]]): every row
    * carries its own 2×2 map + 2-vector and the scan composes matrix
    * products pairwise in ⌈log₂ n⌉ window-lag rounds — the machinery
    * [[kalman]] exercised for scalars and holt for a constant matrix.
    * Gain schedules ride as literal-array lookups ([[kalmanTrendCoeffs]],
    * identical doubles both engines). Scale shape identical to holt;
    * oracle replays the recursion sequentially; 6-decimal round absorbs
    * the association ulps. Returns
    * (key, bucket, n, level, slope, forecast_next). */
  def kalmanTrend(df: DataFrame, keyCol: String, tsCol: String,
      bucketSec: Long, qL: Double, qS: Double, r: Double,
      maxLevels: Int = 24): DataFrame = {
    val (k1s, k2s) = kalmanTrendCoeffs(qL, qS, r)
    val m = k1s.length
    val byKey = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
    def lu(v: Seq[Double]) = element_at(array(v.map(lit): _*),
      least(col("__rn"), lit(m)).cast("int"))
    val base = collapse(df, keyCol, tsCol, bucketSec)
      .select(col(keyCol), col("bucket"), col("n"),
        row_number().over(byKey).as("__rn"))
      .withColumn("__k1", lu(k1s)).withColumn("__k2", lu(k2s))
      .select(col(keyCol), col("bucket"), col("n"), col("__rn"),
        (lit(1.0) - col("__k1")).as("__a11"),
        (lit(1.0) - col("__k1")).as("__a12"),
        (-col("__k2")).as("__a21"),
        // A₁ must be the ZERO matrix (x₁ = (y₁, 0) regardless of the
        // pre-series state); k1₁ = 1, k2₁ = 0 zero every entry except
        // a22 = 1 − k2 — handled explicitly.
        when(col("__rn") === 1, lit(0.0))
          .otherwise(lit(1.0) - col("__k2")).as("__a22"),
        (col("__k1") * col("n").cast("double")).as("__b1"),
        (col("__k2") * col("n").cast("double")).as("__b2"))
    affineScanMat(base, Seq(keyCol), maxLevels)
      .select(col(keyCol), col("bucket"), col("n"),
        (round(col("__b1"), 6) + lit(0.0)).as("level"),
        (round(col("__b2"), 6) + lit(0.0)).as("slope"),
        (round(col("__b1") + col("__b2"), 6) + lit(0.0)).as("forecast_next"))
  }

  /** [[affineScan]] at 2×2 matrix generality: rows carry
    * (__a11..__a22, __b1, __b2); composition is the matrix product and
    * affine apply — (A, b) ∘ (A', b') = (A·A', A·b' + b) — in
    * ⌈log₂ n⌉ window-lag rounds over the one (key, bucket) exchange. */
  private def affineScanMat(frame: DataFrame, keyCols: Seq[String],
      maxLevels: Int): DataFrame = {
    val g = keyCols.map(col)
    val maxNRow = frame.groupBy(g: _*).count().agg(max(col("count"))).head()
    val maxN = if (maxNRow.isNullAt(0)) 1L else maxNRow.getLong(0)
    val rounds = Iterator.from(0).dropWhile(r => (1L << r) < maxN).next()
    require(rounds <= maxLevels,
      s"series length $maxN needs $rounds doubling rounds > maxLevels=$maxLevels")
    val w = Window.partitionBy(g: _*).orderBy(col("bucket"))
    val acols = Seq("__a11", "__a12", "__a21", "__a22", "__b1", "__b2")
    val others = frame.columns.filterNot(acols.toSet).map(col).toSeq
    var cur = frame
    for (r <- 0 until rounds) {
      val off = 1 << r
      val l = acols.map(c => c -> lag(col(c), off).over(w)).toMap
      def keep(c: String, v: Column) = when(l("__a11").isNull, col(c))
        .otherwise(v).as(c)
      cur = cur.select(others ++ Seq(
        keep("__a11", col("__a11") * l("__a11") + col("__a12") * l("__a21")),
        keep("__a12", col("__a11") * l("__a12") + col("__a12") * l("__a22")),
        keep("__a21", col("__a21") * l("__a11") + col("__a22") * l("__a21")),
        keep("__a22", col("__a21") * l("__a12") + col("__a22") * l("__a22")),
        keep("__b1", col("__a11") * l("__b1") + col("__a12") * l("__b2") +
          col("__b1")),
        keep("__b2", col("__a21") * l("__b1") + col("__a22") * l("__b2") +
          col("__b2"))): _*)
    }
    cur
  }

  /** Exact Kalman filter (local-level model) over a keyed bucket-count
    * series — the state-space generalization of [[ewma]] whose gain
    * ADAPTS per step: early observations are weighted by the exact
    * time-varying gain K_t (high while the state is uncertain), decaying
    * to the steady-state gain the Riccati fixpoint defines. l_t =
    * (1−K_t)·l_{t−1} + K_t·y_t.
    *
    * This is the [[holt]] doubling scan GENERALIZED to time-varying
    * coefficients: holt's left-segment matrix is position-independent
    * (constant M ⇒ M^(2^r) embedded per round); here the per-row affine
    * map (a_t, b_t) = (1−K_t, K_t·y_t) differs by position, so each row
    * CARRIES its composed map and the scan composes pairwise —
    * (a, b) ∘ (a', b') = (a·a', a·b' + b) — in ⌈log₂ n⌉ window-lag
    * rounds over the one (key, bucket) exchange ([[affineScan]]). The
    * gain schedule itself rides as a ≤m-element literal array lookup
    * (m ≈ 40 at fixpoint), never a join.
    *
    * Scale shape identical to [[holt]]: one map-side-combined collapse
    * is the only corpus-sized stage; scan frames are series × buckets
    * rows partitioned by key; log₂(longest series) rounds. Both engines
    * evaluate algebraically identical but differently associated trees
    * (the oracle recurses sequentially) — 6-decimal round absorbs the
    * ulps, `+ 0.0` canonicalizes −0.0; the `gain` column is the literal
    * itself, bit-identical by construction. Returns
    * (key, bucket, n, gain, level). */
  def kalman(df: DataFrame, keyCol: String, tsCol: String,
      bucketSec: Long, q: Double, r: Double, maxLevels: Int = 24)
      : DataFrame = {
    val (ks, _) = kalmanCoeffs(q, r)
    val base = kalmanBase(collapse(df, keyCol, tsCol, bucketSec), keyCol, ks)
    val scanned = affineScan(base, Seq(keyCol), maxLevels)
    scanned.select(col(keyCol), col("bucket"), col("n"),
      col("__k").as("gain"),
      (round(col("__b"), 6) + lit(0.0)).as("level"))
  }

  /** Fixed-interval RTS smoother over [[kalman]]'s filtered levels — the
    * backward pass that revises every estimate with the FULL series
    * (s_t = (1−C_t)·l_t + C_t·s_{t+1}, base s_T = l_T): the smoothing a
    * batch pipeline runs that a streaming filter can't. The smoother
    * coefficients C_t = P_t/(P_t+q) come from the same data-independent
    * Riccati recursion; the recurrence is the SAME per-row affine
    * composition run over the DESCENDING bucket order — [[affineScan]]
    * in both directions is the whole forward-backward state-space pass.
    * Inputs to the backward pass are the filter's CONTRACT outputs (the
    * 6-decimal-rounded levels, as consumers receive them — the
    * [[holtBacktest]] convention), so both engines start from
    * bit-identical doubles. Returns (key, bucket, n, level, smooth). */
  def kalmanSmooth(df: DataFrame, keyCol: String, tsCol: String,
      bucketSec: Long, q: Double, r: Double, maxLevels: Int = 24)
      : DataFrame = {
    val (_, cs) = kalmanCoeffs(q, r)
    // boundary: the backward scan chains ⌈log₂ n⌉ more windows onto the
    // forward scan's lineage
    val filt = Rounds.checkpoint(kalman(df, keyCol, tsCol, bucketSec, q, r, maxLevels))
    val byKey = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
    val m = cs.length
    val cc = element_at(array(cs.map(lit): _*),
      least(col("__rn"), lit(m)).cast("int"))
    val base = filt
      .select(col(keyCol), col("bucket"), col("n"), col("level"),
        row_number().over(byKey).as("__rn"),
        count(lit(1)).over(Window.partitionBy(col(keyCol))).as("__cnt"))
      .withColumn("__c",
        when(col("__rn") === col("__cnt"), lit(0.0)).otherwise(cc))
      .select(col(keyCol), col("bucket"), col("n"), col("level"),
        col("__c").as("__a"),
        when(col("__rn") === col("__cnt"), col("level"))
          .otherwise((lit(1.0) - col("__c")) * col("level")).as("__b"))
    affineScan(base, Seq(keyCol), maxLevels, descending = true)
      .select(col(keyCol), col("bucket"), col("n"), col("level"),
        (round(col("__b"), 6) + lit(0.0)).as("smooth"))
  }

  /** (key, bucket, n) collapse → per-row affine coefficients for the
    * Kalman recurrence: __k is the literal-array gain lookup by
    * min(rn, m); rn = 1 gets K_1 = 1 so (a, b) = (0, y_1) seeds the
    * scan uniformly. */
  private def kalmanBase(c: DataFrame, keyCol: String, ks: Seq[Double])
      : DataFrame = {
    val byKey = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
    val m = ks.length
    val kc = element_at(array(ks.map(lit): _*),
      least(col("__rn"), lit(m)).cast("int"))
    c.select(col(keyCol), col("bucket"), col("n"),
        row_number().over(byKey).as("__rn"))
      .withColumn("__k", kc)
      .select(col(keyCol), col("bucket"), col("n"), col("__rn"), col("__k"),
        (lit(1.0) - col("__k")).as("__a"),
        (col("__k") * col("n").cast("double")).as("__b"))
  }

  /** General per-row affine-recurrence scan: every row of `frame`
    * carries its own map (__a, __b); composition
    * (a, b) ∘ (a_prev, b_prev) = (a·a_prev, a·b_prev + b) is associative,
    * so the per-key prefix (suffix, when `descending`) composition runs
    * as ⌈log₂ n⌉ Hillis–Steele rounds of ONE window `lag` each — all
    * rounds reuse the single (key, bucket) sort. After the scan __b IS
    * the recurrence value at each row. The round count comes from the
    * longest per-key series (max over an empty frame ⇒ 0 rounds, the
    * [[holtScan]] empty-guard). Generalizes holtScan — which exploits
    * its CONSTANT matrix to embed M^(2^r) per round — to coefficient
    * schedules that vary by position (Kalman gains, RTS smoothing). */
  private def affineScan(frame: DataFrame, keyCols: Seq[String],
      maxLevels: Int, descending: Boolean = false): DataFrame = {
    val g = keyCols.map(col)
    val maxNRow = frame.groupBy(g: _*).count().agg(max(col("count"))).head()
    val maxN = if (maxNRow.isNullAt(0)) 1L else maxNRow.getLong(0)
    val rounds = Iterator.from(0).dropWhile(r => (1L << r) < maxN).next()
    require(rounds <= maxLevels,
      s"series length $maxN needs $rounds doubling rounds > maxLevels=$maxLevels")
    val ord = if (descending) col("bucket").desc else col("bucket").asc
    val w = Window.partitionBy(g: _*).orderBy(ord)
    val others = frame.columns.filterNot(Set("__a", "__b")).map(col).toSeq
    var cur = frame
    for (r <- 0 until rounds) {
      val off = 1 << r
      val la = lag(col("__a"), off).over(w)
      val lb = lag(col("__b"), off).over(w)
      cur = cur.select(others :+
        when(la.isNull, col("__a")).otherwise(col("__a") * la).as("__a") :+
        when(la.isNull, col("__b"))
          .otherwise(col("__a") * lb + col("__b")).as("__b"): _*)
    }
    cur
  }

  def levelShift(df: DataFrame, keyCol: String, tsCol: String,
      bucketSec: Long, w: Int, threshold: Double): DataFrame = {
    require(w >= 1, "w >= 1")
    val c = df
      .select(col(keyCol),
        floor(unix_micros(col(tsCol)) / (bucketSec * 1000000L))
          .cast("long").as("bucket"))
      .groupBy(col(keyCol), col("bucket"))
      .agg(count(lit(1)).cast("double").as("x"))
    val byKey = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
    val pre = byKey.rowsBetween(-w, -1)
    val post = byKey.rowsBetween(Window.currentRow, w - 1)
    c.select(col(keyCol), col("bucket"),
        avg(col("x")).over(pre).as("__pre"),
        count(col("x")).over(pre).as("__npre"),
        avg(col("x")).over(post).as("__post"),
        count(col("x")).over(post).as("__npost"))
      .filter(col("__npre") === w && col("__npost") === w)
      .select(col(keyCol), col("bucket"),
        round(col("__pre"), 6).as("pre_mean"),
        round(col("__post"), 6).as("post_mean"),
        round(col("__post") - col("__pre"), 6).as("shift"))
      .withColumn("is_shift", abs(col("shift")) >= threshold)
  }
}
