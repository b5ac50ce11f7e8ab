package graft
package queries

import graft.ops._
import org.apache.spark.sql.functions._
import Fixtures._

/** Time series over `events`. */
object TsQueries {
  /** DuckDB replica of Similarity.kmeansQuantized (K=8, `iters` update
    * rounds): the same int8 quantization as the ann_quantized oracle, then
    * the Lloyd's recurrence unrolled CTE-for-CTE — assignment by exact
    * integer squared distance (ties → low cid), centroid update by
    * round(avg) back onto the int8 grid (`+ 0.0` canonicalizes −0.0),
    * and a final assignment aggregated per cluster. */
  /** Shared CTEs of the additive decomposition (hourly collapse → windowed
    * trend → integer-ratio seasonal → `dc` (event_type, bucket, n, trend,
    * seasonal, residual)), composed by ts_decompose and the residual-
    * anomaly oracle. */
  private val decomposeCtes: String =
    """c AS (SELECT event_type, epoch_us(ts) // 3600000000 AS bucket,
      |        CAST(count(*) AS BIGINT) AS n
      |      FROM events GROUP BY 1, 2),
      |w AS (SELECT event_type, bucket, n,
      |       CAST(sum(n) OVER win AS BIGINT) AS wsum,
      |       count(*) OVER win AS wcnt
      |      FROM c
      |      WINDOW win AS (PARTITION BY event_type ORDER BY bucket
      |                     ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
      |b AS (SELECT event_type, bucket, n, wsum, bucket % 24 AS hod
      |      FROM w WHERE wcnt = 25),
      |se AS (SELECT event_type, hod,
      |        CAST(sum(25 * n - wsum) AS BIGINT) AS s_num,
      |        CAST(count(*) * 25 AS BIGINT) AS s_den
      |       FROM b GROUP BY 1, 2),
      |dc AS (SELECT b.event_type AS event_type, b.bucket AS bucket, b.n AS n,
      |        b.wsum / 25.0 AS trend,
      |        CAST(s_num AS DOUBLE) / s_den AS seasonal,
      |        b.n - b.wsum / 25.0 - CAST(s_num AS DOUBLE) / s_den AS residual
      |       FROM b JOIN se ON b.event_type = se.event_type AND b.hod = se.hod)""".stripMargin

  /** Kalman filter / RTS smoother oracles, generated from the SAME
    * coefficient doubles TimeSeries.kalmanCoeffs computed (exact decimal
    * expansions — DuckDB parses each literal back to the identical
    * double). The filter recursion replays sequentially with gains
    * looked up by least(rn, m); the smoother adds a BACKWARD recursion
    * from each key's last position over the 6-decimal-rounded levels —
    * the same contract doubles the engine's backward scan consumes. */
  private def kalmanOracleSql(q: Double, r: Double,
      smooth: Boolean): String = {
    val (ks, cs) = graft.ops.TimeSeries.kalmanCoeffs(q, r)
    def d(x: Double) = new java.math.BigDecimal(x).toPlainString
    def values(v: Seq[Double]) = v.zipWithIndex
      .map { case (x, i) => s"(${i + 1}, CAST(${d(x)} AS DOUBLE))" }
      .mkString(",\n           ")
    val head =
      s"""WITH RECURSIVE c AS (
         |  SELECT event_type, epoch_us(ts) // 3600000000 AS bucket,
         |         CAST(count(*) AS BIGINT) AS n
         |  FROM events GROUP BY 1, 2),
         |rk AS (SELECT event_type, bucket, n,
         |        row_number() OVER (PARTITION BY event_type ORDER BY bucket) AS rn
         |       FROM c),
         |g(grn, k) AS (SELECT * FROM (VALUES
         |           ${values(ks)}) t(grn, k)),
         |rec AS (
         |  SELECT event_type, bucket, n, rn,
         |         CAST(n AS DOUBLE) AS l, CAST(1.0 AS DOUBLE) AS k
         |  FROM rk WHERE rn = 1
         |  UNION ALL
         |  SELECT rk.event_type, rk.bucket, rk.n, rk.rn,
         |         (1.0 - g.k) * rec.l + g.k * rk.n, g.k
         |  FROM rec JOIN rk ON rk.event_type = rec.event_type
         |                  AND rk.rn = rec.rn + 1
         |           JOIN g ON g.grn = least(rk.rn, ${ks.length}))""".stripMargin
    if (!smooth)
      s"""$head
         |SELECT event_type, bucket, n, k AS gain,
         |       round(l, 6) + 0 AS level
         |FROM rec""".stripMargin
    else
      s"""$head,
         |recm AS MATERIALIZED (SELECT * FROM rec),
         |cg(crn, cv) AS (SELECT * FROM (VALUES
         |           ${values(cs)}) t(crn, cv)),
         |cnt AS MATERIALIZED (
         |  SELECT event_type, max(rn) AS tmax FROM rk GROUP BY 1),
         |rec2 AS (
         |  SELECT r.event_type, r.bucket, r.n, r.rn,
         |         round(r.l, 6) + 0 AS level, round(r.l, 6) + 0 AS s
         |  FROM recm r JOIN cnt ON cnt.event_type = r.event_type
         |                      AND r.rn = cnt.tmax
         |  UNION ALL
         |  SELECT r.event_type, r.bucket, r.n, r.rn, round(r.l, 6) + 0,
         |         cg.cv * rec2.s + (1.0 - cg.cv) * (round(r.l, 6) + 0)
         |  FROM rec2 JOIN recm r ON r.event_type = rec2.event_type
         |                       AND r.rn = rec2.rn - 1
         |            JOIN cg ON cg.crn = least(r.rn, ${cs.length}))
         |SELECT event_type, bucket, n, level, round(s, 6) + 0 AS smooth
         |FROM rec2""".stripMargin
  }

  /** Local-linear-trend Kalman oracle: the 2-state recursion replayed
    * sequentially with the identical matrix-Riccati gain literals
    * (kalmanTrendCoeffs — exact decimal expansions), in the same
    * distributed affine form the engine's matrix rows apply. */
  private def kalmanTrendOracleSql(qL: Double, qS: Double,
      r: Double): String = {
    val (k1s, k2s) = graft.ops.TimeSeries.kalmanTrendCoeffs(qL, qS, r)
    def d(x: Double) = new java.math.BigDecimal(x).toPlainString
    val gvals = k1s.indices.map(i =>
      s"(${i + 1}, CAST(${d(k1s(i))} AS DOUBLE), CAST(${d(k2s(i))} AS DOUBLE))")
      .mkString(",\n           ")
    s"""WITH RECURSIVE c AS (
       |  SELECT event_type, epoch_us(ts) // 3600000000 AS bucket,
       |         CAST(count(*) AS BIGINT) AS n
       |  FROM events GROUP BY 1, 2),
       |rk AS (SELECT event_type, bucket, n,
       |        row_number() OVER (PARTITION BY event_type ORDER BY bucket) AS rn
       |       FROM c),
       |g(grn, k1, k2) AS (SELECT * FROM (VALUES
       |           $gvals) t(grn, k1, k2)),
       |rec AS (
       |  SELECT event_type, bucket, n, rn,
       |         CAST(n AS DOUBLE) AS l, CAST(0.0 AS DOUBLE) AS b
       |  FROM rk WHERE rn = 1
       |  UNION ALL
       |  SELECT rk.event_type, rk.bucket, rk.n, rk.rn,
       |         (1.0 - g.k1) * rec.l + (1.0 - g.k1) * rec.b + g.k1 * rk.n,
       |         -g.k2 * rec.l + (1.0 - g.k2) * rec.b + g.k2 * rk.n
       |  FROM rec JOIN rk ON rk.event_type = rec.event_type
       |                  AND rk.rn = rec.rn + 1
       |           JOIN g ON g.grn = least(rk.rn, ${k1s.length}))
       |SELECT event_type, bucket, n,
       |       round(l, 6) + 0 AS level,
       |       round(b, 6) + 0 AS slope,
       |       round(l + b, 6) + 0 AS forecast_next
       |FROM rec""".stripMargin
  }

  /** EWMA oracle, generated from the SAME weight doubles TimeSeries.ewma
    * multiplies with (α dyadic ⇒ each weight is exact, and
    * BigDecimal(double) prints its exact decimal expansion — the literal
    * DuckDB parses back to the identical double). Term order mirrors the
    * Scala reduceLeft, so both engines run the same IEEE sequence. */
  private val ewmaOracleSql: String = {
    val weights = graft.ops.TimeSeries.ewmaWeights(0.75, 8)
      .map(w => new java.math.BigDecimal(w).toPlainString)
    val lags = (1 until 8)
      .map(j => s"lag(value, $j) OVER win AS l$j").mkString(",\n         ")
    val num = (s"value * ${weights(0)}" +:
      (1 until 8).map(j => s"coalesce(l$j * ${weights(j)}, 0.0)"))
      .mkString(" + ")
    val den = (s"${weights(0)}" +:
      (1 until 8).map(j =>
        s"CASE WHEN l$j IS NOT NULL THEN ${weights(j)} ELSE 0.0 END"))
      .mkString(" + ")
    s"""WITH w AS (
       |  SELECT user_id, ts, event_id, value,
       |         $lags
       |  FROM events
       |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id))
       |SELECT user_id, ts, event_id, value,
       |       round(($num) / ($den), 6) AS ewma
       |FROM w""".stripMargin
  }

  /** Banded-matrix-profile oracle: the identical exact-integer window
    * statistics and pair correlation, with the band as a range join and
    * the argmax as a row_number pick — generated for the same (w, excl,
    * band) the engine runs. */
  private def matrixProfileOracleSql(w: Int, excl: Int, band: Int): String = {
    val leads = (1 until w)
      .map(t => s"lead(n, $t) OVER win AS x$t").mkString(",\n         ")
    val cols = "n" +: (1 until w).map(t => s"x$t")
    val s = cols.mkString(" + ")
    val q = cols.map(c => s"$c * $c").mkString(" + ")
    val dot = cols.map(c => s"a.$c * b.$c").mkString(" + ")
    s"""WITH c AS (SELECT event_type, epoch_us(ts) // 3600000000 AS bucket,
       |             CAST(count(*) AS BIGINT) AS n
       |           FROM events GROUP BY 1, 2),
       |w0 AS (SELECT event_type, bucket, row_number() OVER win AS pos, n,
       |         $leads
       |       FROM c WINDOW win AS (PARTITION BY event_type ORDER BY bucket)),
       |wf AS (SELECT *, ($s) AS s, $w * ($q) - ($s) * ($s) AS den
       |       FROM w0 WHERE x${w - 1} IS NOT NULL
       |         AND $w * ($q) - ($s) * ($s) > 0),
       |pairs AS (SELECT a.event_type, a.bucket, a.pos,
       |            b.bucket AS b2, b.pos AS p2,
       |            CAST($w * ($dot) - a.s * b.s AS DOUBLE) /
       |              sqrt(CAST(a.den AS DOUBLE) * CAST(b.den AS DOUBLE)) AS r
       |          FROM wf a JOIN wf b ON a.event_type = b.event_type
       |            AND b.pos BETWEEN a.pos + $excl AND a.pos + $band),
       |mirr AS (SELECT event_type, bucket, pos, b2, p2, r FROM pairs
       |         UNION ALL
       |         SELECT event_type, b2, p2, bucket, pos, r FROM pairs)
       |SELECT event_type, bucket, b2 AS nn_bucket, r AS best_corr,
       |       ${2.0 * w} * (1.0 - r) AS dist2
       |FROM (SELECT *, row_number() OVER (PARTITION BY event_type, bucket
       |        ORDER BY r DESC, p2) AS rn FROM mirr)
       |WHERE rn = 1""".stripMargin
  }

  val cases: Seq[Case] = Seq(
    // Linear interpolation over the same hourly grid (one per-key ordered
    // exchange, two window frames — forward prev, backward next).
    Case("ts_interpolate", { (s, dir) =>
      val ev = t(s, dir, "events")
        .select((col("user_id") % 23).as("ukey"), col("ts"), col("value"))
      GapFill.interpolateLinear(ev, "ukey", "ts", "value", bucketSeconds = 3600L)
    },
      // epoch_ms // is DuckDB floor division = Spark's unix_millis div for
      // the positive fixture epochs; IGNORE NULLS last_value is the LOCF.
      Some("""WITH obs AS (
        |  SELECT user_id % 23 AS ukey, epoch_ms(ts) // 3600000 AS bucket,
        |         max(value) AS v
        |  FROM events GROUP BY 1, 2),
        |spans AS (SELECT ukey, min(bucket) AS b0, max(bucket) AS b1
        |          FROM obs GROUP BY ukey),
        |grid AS (SELECT ukey, unnest(range(b0, b1 + 1)) AS bucket FROM spans),
        |j AS (SELECT g.ukey, g.bucket, o.v
        |      FROM grid g LEFT JOIN obs o USING (ukey, bucket)),
        |n AS (SELECT ukey, bucket, v,
        |        last_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS)
        |          OVER back AS pb,
        |        last_value(v IGNORE NULLS) OVER back AS pv,
        |        first_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS)
        |          OVER fwd AS nb,
        |        first_value(v IGNORE NULLS) OVER fwd AS nv
        |      FROM j
        |      WINDOW back AS (PARTITION BY ukey ORDER BY bucket
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |             fwd AS (PARTITION BY ukey ORDER BY bucket
        |               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT ukey, bucket,
        |       CASE WHEN v IS NOT NULL THEN v
        |            ELSE pv + (nv - pv) * (bucket - pb) / (nb - pb) END AS value_interp,
        |       v IS NULL AS is_gap
        |FROM n""".stripMargin)),

    // Finite-horizon EWMA (α=0.75, k=8) per user: one ordered window,
    // k codegen'd multiply-adds per row, the identical IEEE operation
    // sequence as the oracle (weights are exact dyadic doubles).
    Case("ts_ewma", (s, dir) =>
      TimeSeries.ewma(t(s, dir, "events"), keyCol = "user_id", timeCol = "ts",
        idCol = "event_id", valueCol = "value", alpha = 0.75, k = 8),
      Some(ewmaOracleSql)),

    // Per-type z-score outliers (|z| ≥ 2 after 6-decimal rounding —
    // membership decided on the rounded value both engines emit).
    Case("ts_zscore", (s, dir) =>
      TimeSeries.zscoreOutliers(t(s, dir, "events"), keyCol = "event_type",
        idCol = "event_id", valueCol = "value", threshold = 2.0),
      // Same rounded-z membership rule as the operator: the filter reads
      // the 6-decimal value the row carries, so kept-set and display agree.
      Some("""WITH s AS (SELECT event_type, avg(value) AS m,
        |                  stddev_samp(value) AS sd
        |           FROM events GROUP BY event_type)
        |SELECT e.event_type, e.event_id, e.value,
        |       round((e.value - s.m) / s.sd, 6) AS z
        |FROM events e JOIN s USING (event_type)
        |WHERE abs(round((e.value - s.m) / s.sd, 6)) >= 2.0""".stripMargin)),

    // Seasonal-naive forecast evaluation: each hourly event count is
    // "forecast" by the count 24 hours earlier (self-join on the shifted
    // bucket — robust to grid gaps where a row-lag would misalign);
    // integer counts make the errors exact. The baseline every real
    // forecaster must beat, and the drift signal when abs_err jumps.
    Case("ts_seasonal_naive", { (s, dir) =>
      val c = t(s, dir, "events")
        .select(col("event_type"),
          expr("unix_micros(ts) div 3600000000L").as("bucket"))
        .groupBy(col("event_type"), col("bucket")).agg(count(lit(1)).as("n"))
      val f = c.select(col("event_type"), (col("bucket") + 24).as("bucket"),
        col("n").as("forecast"))
      c.join(f, Seq("event_type", "bucket"))
        .select(col("event_type"), col("bucket"), col("n"), col("forecast"),
          abs(col("n") - col("forecast")).as("abs_err"))
    },
      Some("""WITH c AS (SELECT event_type, epoch_us(ts) // 3600000000 AS bucket,
        |             CAST(count(*) AS BIGINT) AS n
        |           FROM events GROUP BY 1, 2)
        |SELECT a.event_type AS event_type, a.bucket AS bucket, a.n AS n,
        |       f.n AS forecast, abs(a.n - f.n) AS abs_err
        |FROM c AS a JOIN c AS f
        |  ON f.event_type = a.event_type AND f.bucket = a.bucket - 24""".stripMargin)),

    // Classical additive decomposition of the hourly count series
    // (trend = centered 25-point moving average, seasonal = hour-of-day
    // mean of the detrended series, residual = the rest). Trend rows are
    // restricted to COMPLETE windows so the seasonal mean stays a ratio
    // of exact integers (Σ(25n − wsum) / 25m) — every output is integer
    // sums plus a fixed IEEE expression tree, so it hash-gates. Cost:
    // one keyed collapse to (type, hour) then windows/aggregates over
    // the collapsed frame, never the raw events.
    Case("ts_decompose", (s, dir) =>
      TimeSeries.decompose(t(s, dir, "events"), "ts", "event_type"),
      // Same complete-window restriction and integer-ratio seasonal mean;
      // residual written as the identical left-associated IEEE expression.
      Some(s"WITH $decomposeCtes\nSELECT * FROM dc")),

    // LTTB-style visual downsampling (6 h buckets, neighbor-average
    // anchors): the point per bucket with the largest triangle area —
    // single-division averages, per-row area trees, struct-argmax.
    Case("ts_downsample", (s, dir) =>
      TimeSeries.downsampleLttb(t(s, dir, "events"), tsCol = "ts",
        keyCol = "event_type", valueCol = "value", widthSec = 21600L),
      // Same neighbor-average anchors and area expression; argmax replayed
      // as a row_number with the identical (area DESC, x, y DESC) order.
      Some("""WITH r AS (SELECT event_type, epoch_us(ts) // 1000000 AS x, value AS y,
        |             epoch_us(ts) // 21600000000 AS bucket FROM events),
        |b AS (SELECT event_type, bucket,
        |       CAST(sum(x) AS DOUBLE) / count(*) AS ax,
        |       CAST(sum(CAST(y AS DECIMAL(27,6))) AS DOUBLE) / count(*) AS ay
        |      FROM r GROUP BY 1, 2),
        |nbr AS (SELECT event_type, bucket,
        |        lag(ax) OVER w AS px, lag(ay) OVER w AS py,
        |        lead(ax) OVER w AS nx, lead(ay) OVER w AS ny,
        |        lag(bucket) OVER w AS pb, lead(bucket) OVER w AS nb
        |       FROM b WINDOW w AS (PARTITION BY event_type ORDER BY bucket)),
        |g AS (SELECT * FROM nbr WHERE pb = bucket - 1 AND nb = bucket + 1),
        |a AS (SELECT r.event_type, r.bucket, r.x, r.y,
        |       abs((px - nx) * (y - py) - (px - x) * (ny - py)) AS area
        |      FROM r JOIN g ON r.event_type = g.event_type AND r.bucket = g.bucket),
        |rk AS (SELECT event_type, bucket, x, y, area,
        |        row_number() OVER (PARTITION BY event_type, bucket
        |                           ORDER BY area DESC, x, y DESC) AS rn FROM a)
        |SELECT event_type, bucket, CAST(x AS BIGINT) AS ts_s, y AS value, area
        |FROM rk WHERE rn = 1""".stripMargin)),

    // Decomposition-residual anomalies: the residual channel of
    // ts_decompose scored with the robust median/MAD z (madOutliers) —
    // seasonality-aware anomaly detection, vs ts_mad_outliers' raw-value
    // screen. The decomposed frame is pinned: med/MAD broadcasts and
    // the final join are three references.
    Case("ts_decompose_anomaly", { (s, dir) =>
      val d = Rounds.checkpoint(TimeSeries.decompose(t(s, dir, "events"), "ts", "event_type"),
        eager = false)
      TimeSeries.madOutliers(d, keyCol = "event_type", idCol = "bucket",
        valueCol = "residual", threshold = 3.0)
    },
      // Decompose CTEs + the ts_mad_outliers med/MAD shape on residual.
      Some(s"""WITH $decomposeCtes,
         |med AS (SELECT event_type, quantile_cont(residual, 0.5) AS med
         |        FROM dc GROUP BY 1),
         |mad AS (SELECT d.event_type, med,
         |          quantile_cont(abs(residual - med), 0.5) AS mad
         |        FROM dc d JOIN med USING (event_type)
         |        GROUP BY d.event_type, med),
         |f AS (SELECT d.event_type, d.bucket, d.residual,
         |        round((d.residual - m.med) / (1.4826 * m.mad), 6) AS robust_z
         |      FROM dc d JOIN mad m USING (event_type))
         |SELECT * FROM f WHERE abs(robust_z) > 3.0""".stripMargin)),

    // Robust median/MAD outliers (50% breakdown point — the heavy-tail-
    // safe twin of ts_zscore): two exact-percentile broadcasts, no
    // corpus window.
    Case("ts_mad_outliers", (s, dir) =>
      TimeSeries.madOutliers(t(s, dir, "events"), keyCol = "event_type",
        idCol = "event_id", valueCol = "value", threshold = 3.0),
      Some("""WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
        |             FROM events GROUP BY 1),
        |mad AS (SELECT e.event_type, med,
        |          quantile_cont(abs(value - med), 0.5) AS mad
        |        FROM events e JOIN med USING (event_type)
        |        GROUP BY e.event_type, med),
        |f AS (SELECT e.event_type, e.event_id, e.value,
        |        round((e.value - m.med) / (1.4826 * m.mad), 6) AS robust_z
        |      FROM events e JOIN mad m USING (event_type))
        |SELECT * FROM f WHERE abs(robust_z) > 3.0""".stripMargin)),

    // 5-minute OHLC resampling bars over the event stream: one map-side-
    // combined aggregate (open/close via min_by/max_by on (ts, event_id),
    // volume in DECIMAL) — no per-bucket window sort.
    Case("ts_ohlc_bars", (s, dir) =>
      // volume (scale-6 decimal) crosses the gate as integer MICROS; the
      // o/h/l/c doubles are raw pass-through values (identical bits on
      // both sides), so they stay doubles.
      TimeSeries.ohlcBars(t(s, dir, "events"), tsCol = "ts",
          idCol = "event_id", valueCol = "value", widthSec = 300L)
        .withColumn("volume_micros", (col("volume") * 1000000).cast("long"))
        .drop("volume"),
      // Same micro-epoch floor-division buckets; open/close replicated via
      // twin row_numbers over the unique (ts, event_id) order.
      Some("""WITH e AS (SELECT epoch_us(ts) // 300000000 AS bucket, ts, event_id, value
        |           FROM events),
        |r AS (SELECT bucket, value,
        |        row_number() OVER (PARTITION BY bucket ORDER BY ts, event_id) AS ra,
        |        row_number() OVER (PARTITION BY bucket ORDER BY ts DESC, event_id DESC) AS rd
        |      FROM e),
        |agg AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_events,
        |          max(value) AS high, min(value) AS low,
        |          CAST(sum(CAST(value AS DECIMAL(28,6))) * 1000000 AS BIGINT)
        |            AS volume_micros
        |        FROM e GROUP BY bucket)
        |SELECT a.bucket AS bucket, o.value AS open, a.high, a.low,
        |       c.value AS close, a.n_events, a.volume_micros
        |FROM agg a JOIN r o ON o.bucket = a.bucket AND o.ra = 1
        |           JOIN r c ON c.bucket = a.bucket AND c.rd = 1""".stripMargin)),

    // Autocorrelation of the hourly count series at lags 1..6 — the
    // seasonality detector feeding ts_seasonal_naive's period choice.
    // One corpus-sized keyed aggregate; all windows run over the
    // collapsed (series, bucket) frame.
    Case("ts_acf", (s, dir) =>
      TimeSeries.acfBuckets(t(s, dir, "events"), keyCol = "event_type",
        tsCol = "ts", bucketSec = 3600L, maxLag = 6),
      // Same hourly-count series, mean-centered lag products; double fold
      // order absorbed by round(,6) as in ts_zscore.
      Some {
      val lagDefs = (1 to 6)
        .map(k => s"lag(d, $k) OVER w AS l$k").mkString(",\n        ")
      val sums = (1 to 6)
        .map(k => s"sum(d * l$k) AS num$k, count(l$k) AS np$k")
        .mkString(",\n        ")
      val rows = (1 to 6).map(k =>
        s"SELECT event_type, $k AS lag, round(num$k / den, 6) AS acf, np$k AS n_pairs FROM s")
        .mkString("\n|", "\n|UNION ALL ", "")
      s"""WITH c AS (SELECT event_type, epoch_us(ts) // 3600000000 AS bucket,
         |             CAST(count(*) AS DOUBLE) AS x
         |           FROM events GROUP BY 1, 2),
         |m AS (SELECT event_type, avg(x) AS m FROM c GROUP BY 1),
         |d AS (SELECT c.event_type, bucket, x - m.m AS d
         |      FROM c JOIN m USING (event_type)),
         |l AS (SELECT event_type, d,
         |        $lagDefs
         |      FROM d WINDOW w AS (PARTITION BY event_type ORDER BY bucket)),
         |s AS (SELECT event_type, sum(d * d) AS den,
         |        $sums
         |      FROM l GROUP BY 1)$rows""".stripMargin
    }),

    // Dominant-period detection (ACF argmax over lags 2..48, >= 8
    // overlapping pairs): derives the `period` input holtSeasonal and
    // seasonal-naive consume; ties break on the shorter lag so the
    // fundamental beats its harmonics.
    Case("ts_period_detect", (s, dir) =>
      TimeSeries.periodDetect(t(s, dir, "events"), keyCol = "event_type",
        tsCol = "ts", bucketSec = 3600L, maxLag = 48),
      // The ts_acf computation widened to lags 2..48, then the argmax pick
      // on the ROUNDED acf (ties -> shorter lag), >= 8 pairs required.
      Some {
      val maxLag = 48
      val lagDefs = (1 to maxLag)
        .map(k => s"lag(d, $k) OVER w AS l$k").mkString(",\n        ")
      val sums = (1 to maxLag)
        .map(k => s"sum(d * l$k) AS num$k, count(l$k) AS np$k")
        .mkString(",\n        ")
      val rows = (2 to maxLag).map(k =>
        s"SELECT event_type, $k AS lag, round(num$k / den, 6) AS acf, np$k AS n_pairs FROM s")
        .mkString("\n|acfr AS (", "\n|UNION ALL ", "),")
      s"""WITH c AS (SELECT event_type, epoch_us(ts) // 3600000000 AS bucket,
         |             CAST(count(*) AS DOUBLE) AS x
         |           FROM events GROUP BY 1, 2),
         |m AS (SELECT event_type, avg(x) AS m FROM c GROUP BY 1),
         |d AS (SELECT c.event_type, bucket, x - m.m AS d
         |      FROM c JOIN m USING (event_type)),
         |l AS (SELECT event_type, d,
         |        $lagDefs
         |      FROM d WINDOW w AS (PARTITION BY event_type ORDER BY bucket)),
         |s AS (SELECT event_type, sum(d * d) AS den,
         |        $sums
         |      FROM l GROUP BY 1),$rows
         |r AS (SELECT event_type, lag, acf, n_pairs,
         |        row_number() OVER (PARTITION BY event_type
         |          ORDER BY acf DESC, lag) AS rn
         |      FROM acfr WHERE n_pairs >= 8)
         |SELECT event_type, CAST(lag AS INT) AS period, acf, n_pairs,
         |       acf >= 0.3 AS is_seasonal
         |FROM r WHERE rn = 1""".stripMargin
    }),

    // Moving-window level-shift detector over hourly counts: every
    // full-window bucket with pre/post means and the step size; the
    // regime-change signal ts_zscore's point outliers can't see.
    Case("ts_level_shift", (s, dir) =>
      TimeSeries.levelShift(t(s, dir, "events"), keyCol = "event_type",
        tsCol = "ts", bucketSec = 3600L, w = 6, threshold = 3.0),
      // Same frame windows over the same collapsed hourly series; both
      // engines fold the frame in sorted bucket order.
      Some("""WITH c AS (SELECT event_type, epoch_us(ts) // 3600000000 AS bucket,
        |             CAST(count(*) AS DOUBLE) AS x
        |           FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, bucket,
        |        avg(x) OVER pre AS pre, count(x) OVER pre AS npre,
        |        avg(x) OVER post AS post, count(x) OVER post AS npost
        |      FROM c WINDOW
        |        pre AS (PARTITION BY event_type ORDER BY bucket
        |                ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING),
        |        post AS (PARTITION BY event_type ORDER BY bucket
        |                 ROWS BETWEEN CURRENT ROW AND 5 FOLLOWING))
        |SELECT event_type, bucket, round(pre, 6) AS pre_mean,
        |       round(post, 6) AS post_mean, round(post - pre, 6) AS shift,
        |       abs(round(post - pre, 6)) >= 3.0 AS is_shift
        |FROM w WHERE npre = 6 AND npost = 6""".stripMargin)),

    // Two-sided CUSUM drift monitor per event type: hourly counts
    // against the first 24 buckets' baseline, slack 2/bucket, alarm at
    // 8 bucket-units of accumulated drift. Exact-integer (b-scaled)
    // prefix-sum-minus-running-min — no recurrence loop.
    Case("ts_cusum", (s, dir) =>
      TimeSeries.cusum(t(s, dir, "events"), keyCol = "event_type",
        tsCol = "ts", bucketSec = 3600L, base = 24, slack = 2L, h = 8L),
      // The same b-scaled integer CUSUM trace: prefix sums and running
      // minima over per-key ordered windows.
      Some("""WITH c AS (SELECT event_type, epoch_us(ts) // 3600000000 AS bucket,
        |             CAST(count(*) AS BIGINT) AS n
        |           FROM events GROUP BY 1, 2),
        |rk AS (SELECT event_type, bucket, n,
        |        row_number() OVER (PARTITION BY event_type ORDER BY bucket) AS rn
        |       FROM c),
        |ba AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS s1,
        |        CAST(count(*) AS BIGINT) AS b
        |       FROM rk WHERE rn <= 24 GROUP BY event_type),
        |p AS (SELECT rk.event_type, rk.bucket, rk.n, ba.b,
        |       sum(ba.b * rk.n - ba.s1 - 2 * ba.b) OVER w AS pup,
        |       sum(ba.s1 - 2 * ba.b - ba.b * rk.n) OVER w AS pdn
        |      FROM rk JOIN ba USING (event_type) WHERE rn > 24
        |      WINDOW w AS (PARTITION BY rk.event_type ORDER BY rk.bucket
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |f AS (SELECT event_type, bucket, n, b,
        |       CAST(pup - least(0, min(pup) OVER w) AS BIGINT) AS cusum_up_scaled,
        |       CAST(pdn - least(0, min(pdn) OVER w) AS BIGINT) AS cusum_dn_scaled
        |      FROM p WINDOW w AS (PARTITION BY event_type ORDER BY bucket
        |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_type, bucket, n, b, cusum_up_scaled, cusum_dn_scaled,
        |       cusum_up_scaled >= 8 * b AS alarm_up,
        |       cusum_dn_scaled >= 8 * b AS alarm_dn
        |FROM f""".stripMargin)),

    // Holt linear-trend smoothing over hourly counts — the EXACT
    // infinite-horizon recursive recurrence ts_ewma truncates, run as a
    // log₂(n)-round associative affine scan (constant-matrix powers by
    // driver squaring, one per-key window lag per round, one exchange
    // total). α=1/2, β=1/4 keep every element-map coefficient dyadic.
    Case("ts_holt", (s, dir) =>
      TimeSeries.holt(t(s, dir, "events"), keyCol = "event_type",
        tsCol = "ts", bucketSec = 3600L, alpha = 0.5, beta = 0.25),
      // The same Holt recurrence run SEQUENTIALLY via a recursive CTE —
      // the independent formulation of what the Spark side computes as a
      // doubling scan. Algebraically identical, differently associated
      // IEEE trees; round(…,6) + 0 absorbs the ulps and kills −0.0.
      Some("""WITH RECURSIVE c AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS bucket,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |rk AS (SELECT event_type, bucket, n,
        |        row_number() OVER (PARTITION BY event_type ORDER BY bucket) AS rn
        |       FROM c),
        |rec AS (
        |  SELECT event_type, bucket, n, rn,
        |         CAST(n AS DOUBLE) AS l, CAST(0 AS DOUBLE) AS b
        |  FROM rk WHERE rn = 1
        |  UNION ALL
        |  SELECT rk.event_type, rk.bucket, rk.n, rk.rn,
        |         0.5 * rk.n + 0.5 * (rec.l + rec.b),
        |         0.25 * ((0.5 * rk.n + 0.5 * (rec.l + rec.b)) - rec.l)
        |           + 0.75 * rec.b
        |  FROM rec JOIN rk ON rk.event_type = rec.event_type
        |                  AND rk.rn = rec.rn + 1)
        |SELECT event_type, bucket, n,
        |       round(l, 6) + 0 AS level,
        |       round(b, 6) + 0 AS trend,
        |       round(l + b, 6) + 0 AS forecast_next
        |FROM rec""".stripMargin)),

    // Rolling-origin one-step backtest: Holt's contract forecasts vs
    // the seasonal-naive baseline, per-key MAEs + winner flag — the
    // model-trust gate run before a forecaster ships.
    Case("ts_forecast_backtest", (s, dir) =>
      TimeSeries.holtBacktest(t(s, dir, "events"), keyCol = "event_type",
        tsCol = "ts", bucketSec = 3600L, alpha = 0.5, beta = 0.25,
        period = 24),
      // Backtest replayed over the same recursive Holt CTE: the previous
      // row's rounded contract forecast and the position-24 naive lag,
      // exact-integer naive error sum, rounded Holt error sum.
      Some("""WITH RECURSIVE c AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS bucket,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |rk AS (SELECT event_type, bucket, n,
        |        row_number() OVER (PARTITION BY event_type ORDER BY bucket) AS rn
        |       FROM c),
        |rec AS (
        |  SELECT event_type, bucket, n, rn,
        |         CAST(n AS DOUBLE) AS l, CAST(0 AS DOUBLE) AS b
        |  FROM rk WHERE rn = 1
        |  UNION ALL
        |  SELECT rk.event_type, rk.bucket, rk.n, rk.rn,
        |         0.5 * rk.n + 0.5 * (rec.l + rec.b),
        |         0.25 * ((0.5 * rk.n + 0.5 * (rec.l + rec.b)) - rec.l)
        |           + 0.75 * rec.b
        |  FROM rec JOIN rk ON rk.event_type = rec.event_type
        |                  AND rk.rn = rec.rn + 1),
        |fc AS (SELECT event_type, rn, round(l + b, 6) + 0 AS f FROM rec),
        |ev AS (SELECT rk.event_type, rk.n, fc.f AS fh, p.n AS fn
        |       FROM rk
        |       JOIN fc ON fc.event_type = rk.event_type AND fc.rn = rk.rn - 1
        |       JOIN rk p ON p.event_type = rk.event_type AND p.rn = rk.rn - 24)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_evals,
        |       round(sum(abs(n - fh)) / count(*), 6) AS mae_holt,
        |       round(CAST(sum(abs(n - fn)) AS BIGINT) / count(*), 6) AS mae_naive,
        |       round(sum(abs(n - fh)) / count(*), 6) <
        |         round(CAST(sum(abs(n - fn)) AS BIGINT) / count(*), 6)
        |         AS holt_wins
        |FROM ev GROUP BY event_type""".stripMargin)),

    // Per-phase SEASONAL Holt (daily cycle over hourly buckets): the
    // SAME doubling scan partitioned by (key, bucket mod 24) — each
    // phase learns its seasonal level and its cycle-over-cycle trend.
    Case("ts_holt_seasonal", (s, dir) =>
      TimeSeries.holtSeasonal(t(s, dir, "events"), keyCol = "event_type",
        tsCol = "ts", bucketSec = 3600L, alpha = 0.5, beta = 0.25,
        period = 24),
      // The ts_holt recurrence replayed per (key, phase) stratum.
      Some("""WITH RECURSIVE c AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS bucket,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |rk AS (SELECT event_type, bucket % 24 AS phase, bucket, n,
        |        row_number() OVER (PARTITION BY event_type, bucket % 24
        |                           ORDER BY bucket) AS rn
        |       FROM c),
        |rec AS (
        |  SELECT event_type, phase, bucket, n, rn,
        |         CAST(n AS DOUBLE) AS l, CAST(0 AS DOUBLE) AS b
        |  FROM rk WHERE rn = 1
        |  UNION ALL
        |  SELECT rk.event_type, rk.phase, rk.bucket, rk.n, rk.rn,
        |         0.5 * rk.n + 0.5 * (rec.l + rec.b),
        |         0.25 * ((0.5 * rk.n + 0.5 * (rec.l + rec.b)) - rec.l)
        |           + 0.75 * rec.b
        |  FROM rec JOIN rk ON rk.event_type = rec.event_type
        |                  AND rk.phase = rec.phase
        |                  AND rk.rn = rec.rn + 1)
        |SELECT event_type, phase, bucket, n,
        |       round(l, 6) + 0 AS level,
        |       round(b, 6) + 0 AS trend,
        |       round(l + b, 6) + 0 AS forecast_next
        |FROM rec""".stripMargin)),

    // Three-way backtest: Holt vs seasonal-naive vs per-phase seasonal
    // Holt, per-key MAEs + winner (tie-break seasonal_holt > holt >
    // naive). The planted-key spec pins the hybrid beating BOTH
    // baselines on a seasonal+trend series.
    Case("ts_backtest_seasonal", (s, dir) =>
      TimeSeries.seasonalBacktest(t(s, dir, "events"),
        keyCol = "event_type", tsCol = "ts", bucketSec = 3600L,
        alpha = 0.5, beta = 0.25, period = 24),
      Some("""WITH RECURSIVE c AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS bucket,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |rk AS (SELECT event_type, bucket, n,
        |        row_number() OVER (PARTITION BY event_type ORDER BY bucket) AS rn
        |       FROM c),
        |rec AS (
        |  SELECT event_type, bucket, n, rn,
        |         CAST(n AS DOUBLE) AS l, CAST(0 AS DOUBLE) AS b
        |  FROM rk WHERE rn = 1
        |  UNION ALL
        |  SELECT rk.event_type, rk.bucket, rk.n, rk.rn,
        |         0.5 * rk.n + 0.5 * (rec.l + rec.b),
        |         0.25 * ((0.5 * rk.n + 0.5 * (rec.l + rec.b)) - rec.l)
        |           + 0.75 * rec.b
        |  FROM rec JOIN rk ON rk.event_type = rec.event_type
        |                  AND rk.rn = rec.rn + 1),
        |rks AS (SELECT event_type, bucket % 24 AS phase, bucket, n,
        |         row_number() OVER (PARTITION BY event_type, bucket % 24
        |                            ORDER BY bucket) AS rn
        |        FROM c),
        |recs AS (
        |  SELECT event_type, phase, bucket, n, rn,
        |         CAST(n AS DOUBLE) AS l, CAST(0 AS DOUBLE) AS b
        |  FROM rks WHERE rn = 1
        |  UNION ALL
        |  SELECT rks.event_type, rks.phase, rks.bucket, rks.n, rks.rn,
        |         0.5 * rks.n + 0.5 * (recs.l + recs.b),
        |         0.25 * ((0.5 * rks.n + 0.5 * (recs.l + recs.b)) - recs.l)
        |           + 0.75 * recs.b
        |  FROM recs JOIN rks ON rks.event_type = recs.event_type
        |                    AND rks.phase = recs.phase
        |                    AND rks.rn = recs.rn + 1),
        |fc AS (SELECT event_type, rn, round(l + b, 6) + 0 AS f FROM rec),
        |fs AS (SELECT event_type, phase, rn, round(l + b, 6) + 0 AS f
        |       FROM recs),
        |ev AS (SELECT rk.event_type, rk.n, fc.f AS fh, p.n AS fn, f2.f AS fsv
        |       FROM rk
        |       JOIN fc ON fc.event_type = rk.event_type AND fc.rn = rk.rn - 1
        |       JOIN rk p ON p.event_type = rk.event_type AND p.rn = rk.rn - 24
        |       JOIN rks rr ON rr.event_type = rk.event_type
        |                  AND rr.bucket = rk.bucket
        |       JOIN fs f2 ON f2.event_type = rr.event_type
        |                 AND f2.phase = rr.phase AND f2.rn = rr.rn - 1),
        |agg AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_evals,
        |          round(sum(abs(n - fh)) / count(*), 6) AS mae_holt,
        |          round(CAST(sum(abs(n - fn)) AS BIGINT) / count(*), 6)
        |            AS mae_naive,
        |          round(sum(abs(n - fsv)) / count(*), 6) AS mae_sholt
        |        FROM ev GROUP BY event_type)
        |SELECT event_type, n_evals, mae_holt, mae_naive, mae_sholt,
        |       CASE WHEN mae_sholt <= mae_holt AND mae_sholt <= mae_naive
        |              THEN 'seasonal_holt'
        |            WHEN mae_holt <= mae_naive THEN 'holt'
        |            ELSE 'naive' END AS winner
        |FROM agg""".stripMargin)),

    // Banded matrix profile over hourly counts: each window's best match
    // within ±48 positions (exclusion 4) by exact-integer Pearson corr
    // — motif/novelty detection. One keyed equi-join on exploded
    // offsets; never a within-key cross join.
    Case("ts_matrix_profile", (s, dir) =>
      TimeSeries.matrixProfileBanded(t(s, dir, "events"),
        keyCol = "event_type", tsCol = "ts", bucketSec = 3600L,
        w = 16, excl = 4, band = 48),
      // Banded matrix profile replayed: exact-integer window stats, range-
      // join band, identical single-sqrt correlation tree (generator above).
      Some(matrixProfileOracleSql(w = 16, excl = 4,
      band = 48))),

    // Exact Kalman filter (local-level model) over hourly counts: the
    // ts_holt doubling scan GENERALIZED to time-varying coefficients —
    // each row carries its own affine map (1−K_t, K_t·y_t), composed
    // pairwise in ⌈log₂ n⌉ window-lag rounds; the data-independent gain
    // schedule (Riccati recursion to its double fixpoint, ~40 steps)
    // rides as a literal-array lookup on BOTH engines.
    Case("ts_kalman", (s, dir) =>
      TimeSeries.kalman(t(s, dir, "events"), keyCol = "event_type",
        tsCol = "ts", bucketSec = 3600L, q = 2.0, r = 8.0),
      // Kalman recursion replayed sequentially with the identical Riccati
      // gain literals (generator above).
      Some(kalmanOracleSql(q = 2.0, r = 8.0, smooth = false))),

    // Fixed-interval RTS smoother: the SAME per-row affine scan run
    // BACKWARD over the filter's contract (rounded) levels with the
    // Riccati C_t schedule — the full forward-backward state-space
    // pass, each direction one ⌈log₂ n⌉-round scan on the one
    // (key, bucket) exchange.
    Case("ts_kalman_smooth", (s, dir) =>
      TimeSeries.kalmanSmooth(t(s, dir, "events"), keyCol = "event_type",
        tsCol = "ts", bucketSec = 3600L, q = 2.0, r = 8.0),
      // Forward recursion + backward RTS recursion from each key's last
      // position, both over the same literal coefficient tables.
      Some(kalmanOracleSql(q = 2.0, r = 8.0, smooth = true))),

    // Local-linear-trend Kalman: holt's model class with OPTIMAL
    // time-varying gains — the affine scan at full 2x2 MATRIX
    // generality (per-row matrix products composed in log rounds);
    // the matrix Riccati schedule rides as two literal-array lookups.
    Case("ts_kalman_trend", (s, dir) =>
      TimeSeries.kalmanTrend(t(s, dir, "events"), keyCol = "event_type",
        tsCol = "ts", bucketSec = 3600L, qL = 2.0, qS = 0.125, r = 8.0),
      // The 2-state recursion replayed with the matrix-Riccati gain
      // literals (generator above).
      Some(kalmanTrendOracleSql(qL = 2.0, qS = 0.125,
      r = 8.0))),

    // Yule-Walker AR(2) over hourly counts: φ from the first two
    // autocorrelations in closed form (rounded-at-6 r₁/r₂ make the φ
    // algebra a fixed IEEE tree on both engines), one-step forecasts
    // from the two observed lags — no recursion, no scan; the
    // oscillatory-regime complement to holt/seasonal/kalman.
    Case("ts_ar2", (s, dir) =>
      TimeSeries.ar2(t(s, dir, "events"), keyCol = "event_type",
        tsCol = "ts", bucketSec = 3600L),
      // Yule-Walker AR(2) replayed: same collapse, rounded mean and
      // rounded lag-1/lag-2 autocorrelations, identical closed-form φ
      // tree and per-row forecast (window lags, no recursion).
      Some("""WITH c AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS bucket,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |mu AS (SELECT event_type, round(avg(CAST(n AS DOUBLE)), 6) AS mu
        |       FROM c GROUP BY event_type),
        |d AS (SELECT c.event_type, bucket, n, mu,
        |        CAST(n AS DOUBLE) - mu AS d,
        |        lag(CAST(n AS DOUBLE) - mu, 1) OVER w AS l1,
        |        lag(CAST(n AS DOUBLE) - mu, 2) OVER w AS l2
        |      FROM c JOIN mu ON mu.event_type = c.event_type
        |      WINDOW w AS (PARTITION BY c.event_type ORDER BY bucket)),
        |s AS (SELECT event_type, sum(d*d) AS den, sum(d*l1) AS n1,
        |        sum(d*l2) AS n2
        |      FROM d GROUP BY event_type),
        |r AS (SELECT event_type,
        |        CASE WHEN den > 0 THEN round(n1/den, 6) END AS r1,
        |        CASE WHEN den > 0 THEN round(n2/den, 6) END AS r2
        |      FROM s),
        |f AS (SELECT event_type,
        |        CASE WHEN r1 IS NOT NULL AND r2 IS NOT NULL
        |               AND abs(1.0 - r1*r1) >= 1e-9
        |             THEN r1 * (1.0 - r2) / (1.0 - r1*r1)
        |             ELSE 0.0 END AS p1,
        |        CASE WHEN r1 IS NOT NULL AND r2 IS NOT NULL
        |               AND abs(1.0 - r1*r1) >= 1e-9
        |             THEN (r2 - r1*r1) / (1.0 - r1*r1)
        |             ELSE 0.0 END AS p2
        |      FROM r)
        |SELECT d.event_type, bucket, n,
        |       round(p1, 6) + 0 AS phi1, round(p2, 6) + 0 AS phi2, mu,
        |       CASE WHEN l1 IS NOT NULL
        |            THEN round(mu + p1 * d + p2 * l1, 6) + 0
        |       END AS forecast_next
        |FROM d JOIN f ON f.event_type = d.event_type""".stripMargin)),

    // Multi-step AR(2) forecasting: the model rolled h=12 steps past
    // each key's last observed bucket — the recurrence evaluated as a
    // chain of projected columns (linear plan), raw doubles bit-equal
    // to the oracle's recursive CTE, only the emitted forecast rounds.
    Case("ts_ar2_forecast", (s, dir) =>
      TimeSeries.ar2Forecast(t(s, dir, "events"), keyCol = "event_type",
        tsCol = "ts", bucketSec = 3600L, h = 12),
      // Three-way backtest replayed: the per-key Holt chain, the per-
      // (key, phase) seasonal chain, the position-24 naive lag — all
      // joined at the evaluable buckets; MAE comparisons on the SAME
      // rounded values the engine compares.
      // The h-step forecast recursion replayed as a recursive CTE over
      // the same rounded-input phi algebra: each step the identical
      // mul-add tree (p1*g + p2*gp) over unrounded doubles, rounded only
      // at emission — bit-exact both engines.
      Some("""WITH RECURSIVE c AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS bucket,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |mu AS (SELECT event_type, round(avg(CAST(n AS DOUBLE)), 6) AS mu
        |       FROM c GROUP BY event_type),
        |dd AS (SELECT c.event_type, bucket, mu,
        |        CAST(n AS DOUBLE) - mu AS d,
        |        lag(CAST(n AS DOUBLE) - mu, 1) OVER w AS l1,
        |        lag(CAST(n AS DOUBLE) - mu, 2) OVER w AS l2,
        |        row_number() OVER wd AS rnd
        |      FROM c JOIN mu ON mu.event_type = c.event_type
        |      WINDOW w AS (PARTITION BY c.event_type ORDER BY bucket),
        |             wd AS (PARTITION BY c.event_type ORDER BY bucket DESC)),
        |ss AS (SELECT event_type, sum(d*d) AS den, sum(d*l1) AS n1,
        |        sum(d*l2) AS n2
        |      FROM dd GROUP BY event_type),
        |rr2 AS (SELECT event_type,
        |        CASE WHEN den > 0 THEN round(n1/den, 6) END AS r1,
        |        CASE WHEN den > 0 THEN round(n2/den, 6) END AS r2
        |      FROM ss),
        |ph AS (SELECT event_type,
        |        CASE WHEN r1 IS NOT NULL AND r2 IS NOT NULL
        |               AND abs(1.0 - r1*r1) >= 1e-9
        |             THEN r1 * (1.0 - r2) / (1.0 - r1*r1)
        |             ELSE 0.0 END AS p1,
        |        CASE WHEN r1 IS NOT NULL AND r2 IS NOT NULL
        |               AND abs(1.0 - r1*r1) >= 1e-9
        |             THEN (r2 - r1*r1) / (1.0 - r1*r1)
        |             ELSE 0.0 END AS p2
        |      FROM rr2),
        |l2f AS (SELECT event_type,
        |         max(CASE WHEN rnd = 1 THEN d END) AS d0,
        |         max(CASE WHEN rnd = 2 THEN d END) AS d1,
        |         max(CASE WHEN rnd = 1 THEN bucket END) AS lastb,
        |         max(mu) AS mu, count(*) AS nl
        |        FROM dd WHERE rnd <= 2 GROUP BY event_type),
        |rec AS (
        |  SELECT l.event_type, 1 AS step, p1*d0 + p2*d1 AS g, d0 AS gp,
        |         lastb, mu, p1, p2
        |  FROM l2f l JOIN ph ON ph.event_type = l.event_type
        |  WHERE nl >= 2
        |  UNION ALL
        |  SELECT event_type, step + 1, p1*g + p2*gp, g, lastb, mu, p1, p2
        |  FROM rec WHERE step < 12)
        |SELECT event_type, CAST(step AS INT) AS step,
        |       lastb + step AS bucket, round(mu + g, 6) + 0 AS forecast
        |FROM rec""".stripMargin)),

    // Four-way rolling-origin backtest: Holt vs seasonal-naive vs
    // per-phase seasonal Holt vs Yule-Walker AR(2), per-key MAEs +
    // winner (tie-break ar2 > seasonal_holt > holt > naive). The
    // planted-key spec pins AR(2) beating all three on an oscillatory
    // series.
    Case("ts_backtest_ar2", (s, dir) =>
      TimeSeries.ar2Backtest(t(s, dir, "events"),
        keyCol = "event_type", tsCol = "ts", bucketSec = 3600L,
        alpha = 0.5, beta = 0.25, period = 24),
      // The four-way backtest: the seasonal replay plus the Yule-Walker
      // AR(2) forecast chain (windowed, no recursion), joined at rn-1.
      Some("""WITH RECURSIVE c AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS bucket,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |rk AS (SELECT event_type, bucket, n,
        |        row_number() OVER (PARTITION BY event_type ORDER BY bucket) AS rn
        |       FROM c),
        |rec AS (
        |  SELECT event_type, bucket, n, rn,
        |         CAST(n AS DOUBLE) AS l, CAST(0 AS DOUBLE) AS b
        |  FROM rk WHERE rn = 1
        |  UNION ALL
        |  SELECT rk.event_type, rk.bucket, rk.n, rk.rn,
        |         0.5 * rk.n + 0.5 * (rec.l + rec.b),
        |         0.25 * ((0.5 * rk.n + 0.5 * (rec.l + rec.b)) - rec.l)
        |           + 0.75 * rec.b
        |  FROM rec JOIN rk ON rk.event_type = rec.event_type
        |                  AND rk.rn = rec.rn + 1),
        |rks AS (SELECT event_type, bucket % 24 AS phase, bucket, n,
        |         row_number() OVER (PARTITION BY event_type, bucket % 24
        |                            ORDER BY bucket) AS rn
        |        FROM c),
        |recs AS (
        |  SELECT event_type, phase, bucket, n, rn,
        |         CAST(n AS DOUBLE) AS l, CAST(0 AS DOUBLE) AS b
        |  FROM rks WHERE rn = 1
        |  UNION ALL
        |  SELECT rks.event_type, rks.phase, rks.bucket, rks.n, rks.rn,
        |         0.5 * rks.n + 0.5 * (recs.l + recs.b),
        |         0.25 * ((0.5 * rks.n + 0.5 * (recs.l + recs.b)) - recs.l)
        |           + 0.75 * recs.b
        |  FROM recs JOIN rks ON rks.event_type = recs.event_type
        |                    AND rks.phase = recs.phase
        |                    AND rks.rn = recs.rn + 1),
        |mu AS (SELECT event_type, round(avg(CAST(n AS DOUBLE)), 6) AS mu
        |       FROM c GROUP BY event_type),
        |dd AS (SELECT c.event_type, bucket, n, mu,
        |        CAST(n AS DOUBLE) - mu AS d,
        |        lag(CAST(n AS DOUBLE) - mu, 1) OVER w AS l1,
        |        lag(CAST(n AS DOUBLE) - mu, 2) OVER w AS l2
        |      FROM c JOIN mu ON mu.event_type = c.event_type
        |      WINDOW w AS (PARTITION BY c.event_type ORDER BY bucket)),
        |ss AS (SELECT event_type, sum(d*d) AS den, sum(d*l1) AS n1,
        |        sum(d*l2) AS n2
        |      FROM dd GROUP BY event_type),
        |rr2 AS (SELECT event_type,
        |        CASE WHEN den > 0 THEN round(n1/den, 6) END AS r1,
        |        CASE WHEN den > 0 THEN round(n2/den, 6) END AS r2
        |      FROM ss),
        |ph AS (SELECT event_type,
        |        CASE WHEN r1 IS NOT NULL AND r2 IS NOT NULL
        |               AND abs(1.0 - r1*r1) >= 1e-9
        |             THEN r1 * (1.0 - r2) / (1.0 - r1*r1)
        |             ELSE 0.0 END AS p1,
        |        CASE WHEN r1 IS NOT NULL AND r2 IS NOT NULL
        |               AND abs(1.0 - r1*r1) >= 1e-9
        |             THEN (r2 - r1*r1) / (1.0 - r1*r1)
        |             ELSE 0.0 END AS p2
        |      FROM rr2),
        |fa AS (SELECT dd.event_type, bucket,
        |        CASE WHEN l1 IS NOT NULL
        |             THEN round(mu + p1 * d + p2 * l1, 6) + 0
        |        END AS f
        |       FROM dd JOIN ph ON ph.event_type = dd.event_type),
        |far AS (SELECT fa.event_type, rk.rn, fa.f
        |        FROM fa JOIN rk ON rk.event_type = fa.event_type
        |                       AND rk.bucket = fa.bucket),
        |fc AS (SELECT event_type, rn, round(l + b, 6) + 0 AS f FROM rec),
        |fs AS (SELECT event_type, phase, rn, round(l + b, 6) + 0 AS f
        |       FROM recs),
        |ev AS (SELECT rk.event_type, rk.n, fc.f AS fh, p.n AS fn,
        |         f2.f AS fsv, f3.f AS fav
        |       FROM rk
        |       JOIN fc ON fc.event_type = rk.event_type AND fc.rn = rk.rn - 1
        |       JOIN rk p ON p.event_type = rk.event_type AND p.rn = rk.rn - 24
        |       JOIN rks rr ON rr.event_type = rk.event_type
        |                  AND rr.bucket = rk.bucket
        |       JOIN fs f2 ON f2.event_type = rr.event_type
        |                 AND f2.phase = rr.phase AND f2.rn = rr.rn - 1
        |       JOIN far f3 ON f3.event_type = rk.event_type
        |                  AND f3.rn = rk.rn - 1
        |       WHERE f3.f IS NOT NULL),
        |agg AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_evals,
        |          round(sum(abs(n - fh)) / count(*), 6) AS mae_holt,
        |          round(CAST(sum(abs(n - fn)) AS BIGINT) / count(*), 6)
        |            AS mae_naive,
        |          round(sum(abs(n - fsv)) / count(*), 6) AS mae_sholt,
        |          round(sum(abs(n - fav)) / count(*), 6) AS mae_ar2
        |        FROM ev GROUP BY event_type)
        |SELECT event_type, n_evals, mae_holt, mae_naive, mae_sholt, mae_ar2,
        |       CASE WHEN mae_ar2 <= mae_sholt AND mae_ar2 <= mae_holt
        |              AND mae_ar2 <= mae_naive THEN 'ar2'
        |            WHEN mae_sholt <= mae_holt AND mae_sholt <= mae_naive
        |              THEN 'seasonal_holt'
        |            WHEN mae_holt <= mae_naive THEN 'holt'
        |            ELSE 'naive' END AS winner
        |FROM agg""".stripMargin)),

    // ARI(2,1): Yule-Walker AR(2) over FIRST DIFFERENCES, forecasts
    // integrated back from the last observed level — the trending-AND-
    // oscillating regime the level AR(2) chases with near-unit-root φ.
    // mu is the mean difference (the drift); a pure-trend key degrades
    // to naive-with-drift inside the rounded guard algebra.
    Case("ts_ari2", (s, dir) =>
      TimeSeries.ari2(t(s, dir, "events"), keyCol = "event_type",
        tsCol = "ts", bucketSec = 3600L),
      // The ts_ar2 chain over FIRST DIFFERENCES, forecasts integrated
      // back from the level: z = n - lag(n), mu over defined z only, the
      // identical rounded-r Yule-Walker algebra, and the emitted forecast
      // CAST(n AS DOUBLE) + mu + p1*d + p2*l1 — the same left-assoc IEEE
      // tree the engine projects.
      Some("""WITH c AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS bucket,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |z AS (SELECT event_type, bucket, n,
        |        CAST(n - lag(n, 1) OVER (PARTITION BY event_type
        |                                 ORDER BY bucket) AS DOUBLE) AS z
        |      FROM c),
        |mu AS (SELECT event_type, round(avg(z), 6) AS mu
        |       FROM z WHERE z IS NOT NULL GROUP BY event_type),
        |d AS (SELECT z.event_type, bucket, n, mu,
        |        z - mu AS d,
        |        lag(z - mu, 1) OVER w AS l1,
        |        lag(z - mu, 2) OVER w AS l2
        |      FROM z JOIN mu ON mu.event_type = z.event_type
        |      WINDOW w AS (PARTITION BY z.event_type ORDER BY bucket)),
        |s AS (SELECT event_type, sum(d*d) AS den, sum(d*l1) AS n1,
        |        sum(d*l2) AS n2
        |      FROM d GROUP BY event_type),
        |r AS (SELECT event_type,
        |        CASE WHEN den > 0 THEN round(n1/den, 6) END AS r1,
        |        CASE WHEN den > 0 THEN round(n2/den, 6) END AS r2
        |      FROM s),
        |f AS (SELECT event_type,
        |        CASE WHEN r1 IS NOT NULL AND r2 IS NOT NULL
        |               AND abs(1.0 - r1*r1) >= 1e-9
        |             THEN r1 * (1.0 - r2) / (1.0 - r1*r1)
        |             ELSE 0.0 END AS p1,
        |        CASE WHEN r1 IS NOT NULL AND r2 IS NOT NULL
        |               AND abs(1.0 - r1*r1) >= 1e-9
        |             THEN (r2 - r1*r1) / (1.0 - r1*r1)
        |             ELSE 0.0 END AS p2
        |      FROM r)
        |SELECT d.event_type, bucket, n,
        |       round(p1, 6) + 0 AS phi1, round(p2, 6) + 0 AS phi2, mu,
        |       CASE WHEN d IS NOT NULL AND l1 IS NOT NULL
        |            THEN round(CAST(n AS DOUBLE) + mu + p1 * d + p2 * l1, 6)
        |                 + 0
        |       END AS forecast_next
        |FROM d JOIN f ON f.event_type = d.event_type""".stripMargin)),

    // Five-way rolling-origin backtest: the four-way eval plus ARI(2,1)
    // (tie-break ari2 > ar2 > seasonal_holt > holt > naive). The
    // planted-key spec pins ARI(2) beating all four on a trend+cycle
    // series.
    Case("ts_backtest_ari2", (s, dir) =>
      TimeSeries.ari2Backtest(t(s, dir, "events"),
        keyCol = "event_type", tsCol = "ts", bucketSec = 3600L,
        alpha = 0.5, beta = 0.25, period = 24),
      // The four-way backtest extended with the differenced ARI(2,1)
      // chain (ts_ari2's CTEs), evaluated at the same rn-1 alignment.
      Some("""WITH RECURSIVE c AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS bucket,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |rk AS (SELECT event_type, bucket, n,
        |        row_number() OVER (PARTITION BY event_type ORDER BY bucket) AS rn
        |       FROM c),
        |rec AS (
        |  SELECT event_type, bucket, n, rn,
        |         CAST(n AS DOUBLE) AS l, CAST(0 AS DOUBLE) AS b
        |  FROM rk WHERE rn = 1
        |  UNION ALL
        |  SELECT rk.event_type, rk.bucket, rk.n, rk.rn,
        |         0.5 * rk.n + 0.5 * (rec.l + rec.b),
        |         0.25 * ((0.5 * rk.n + 0.5 * (rec.l + rec.b)) - rec.l)
        |           + 0.75 * rec.b
        |  FROM rec JOIN rk ON rk.event_type = rec.event_type
        |                  AND rk.rn = rec.rn + 1),
        |rks AS (SELECT event_type, bucket % 24 AS phase, bucket, n,
        |         row_number() OVER (PARTITION BY event_type, bucket % 24
        |                            ORDER BY bucket) AS rn
        |        FROM c),
        |recs AS (
        |  SELECT event_type, phase, bucket, n, rn,
        |         CAST(n AS DOUBLE) AS l, CAST(0 AS DOUBLE) AS b
        |  FROM rks WHERE rn = 1
        |  UNION ALL
        |  SELECT rks.event_type, rks.phase, rks.bucket, rks.n, rks.rn,
        |         0.5 * rks.n + 0.5 * (recs.l + recs.b),
        |         0.25 * ((0.5 * rks.n + 0.5 * (recs.l + recs.b)) - recs.l)
        |           + 0.75 * recs.b
        |  FROM recs JOIN rks ON rks.event_type = recs.event_type
        |                    AND rks.phase = recs.phase
        |                    AND rks.rn = recs.rn + 1),
        |mu AS (SELECT event_type, round(avg(CAST(n AS DOUBLE)), 6) AS mu
        |       FROM c GROUP BY event_type),
        |dd AS (SELECT c.event_type, bucket, n, mu,
        |        CAST(n AS DOUBLE) - mu AS d,
        |        lag(CAST(n AS DOUBLE) - mu, 1) OVER w AS l1,
        |        lag(CAST(n AS DOUBLE) - mu, 2) OVER w AS l2
        |      FROM c JOIN mu ON mu.event_type = c.event_type
        |      WINDOW w AS (PARTITION BY c.event_type ORDER BY bucket)),
        |ss AS (SELECT event_type, sum(d*d) AS den, sum(d*l1) AS n1,
        |        sum(d*l2) AS n2
        |      FROM dd GROUP BY event_type),
        |rr2 AS (SELECT event_type,
        |        CASE WHEN den > 0 THEN round(n1/den, 6) END AS r1,
        |        CASE WHEN den > 0 THEN round(n2/den, 6) END AS r2
        |      FROM ss),
        |ph AS (SELECT event_type,
        |        CASE WHEN r1 IS NOT NULL AND r2 IS NOT NULL
        |               AND abs(1.0 - r1*r1) >= 1e-9
        |             THEN r1 * (1.0 - r2) / (1.0 - r1*r1)
        |             ELSE 0.0 END AS p1,
        |        CASE WHEN r1 IS NOT NULL AND r2 IS NOT NULL
        |               AND abs(1.0 - r1*r1) >= 1e-9
        |             THEN (r2 - r1*r1) / (1.0 - r1*r1)
        |             ELSE 0.0 END AS p2
        |      FROM rr2),
        |fa AS (SELECT dd.event_type, bucket,
        |        CASE WHEN l1 IS NOT NULL
        |             THEN round(mu + p1 * d + p2 * l1, 6) + 0
        |        END AS f
        |       FROM dd JOIN ph ON ph.event_type = dd.event_type),
        |far AS (SELECT fa.event_type, rk.rn, fa.f
        |        FROM fa JOIN rk ON rk.event_type = fa.event_type
        |                       AND rk.bucket = fa.bucket),
        |zz AS (SELECT event_type, bucket, n,
        |        CAST(n - lag(n, 1) OVER (PARTITION BY event_type
        |                                 ORDER BY bucket) AS DOUBLE) AS z
        |      FROM c),
        |mui AS (SELECT event_type, round(avg(z), 6) AS mu
        |        FROM zz WHERE z IS NOT NULL GROUP BY event_type),
        |ddi AS (SELECT zz.event_type, bucket, n, mu,
        |         z - mu AS d,
        |         lag(z - mu, 1) OVER wi AS l1,
        |         lag(z - mu, 2) OVER wi AS l2
        |       FROM zz JOIN mui ON mui.event_type = zz.event_type
        |       WINDOW wi AS (PARTITION BY zz.event_type ORDER BY bucket)),
        |ssi AS (SELECT event_type, sum(d*d) AS den, sum(d*l1) AS n1,
        |         sum(d*l2) AS n2
        |       FROM ddi GROUP BY event_type),
        |rri AS (SELECT event_type,
        |         CASE WHEN den > 0 THEN round(n1/den, 6) END AS r1,
        |         CASE WHEN den > 0 THEN round(n2/den, 6) END AS r2
        |       FROM ssi),
        |phi AS (SELECT event_type,
        |         CASE WHEN r1 IS NOT NULL AND r2 IS NOT NULL
        |                AND abs(1.0 - r1*r1) >= 1e-9
        |              THEN r1 * (1.0 - r2) / (1.0 - r1*r1)
        |              ELSE 0.0 END AS p1,
        |         CASE WHEN r1 IS NOT NULL AND r2 IS NOT NULL
        |                AND abs(1.0 - r1*r1) >= 1e-9
        |              THEN (r2 - r1*r1) / (1.0 - r1*r1)
        |              ELSE 0.0 END AS p2
        |       FROM rri),
        |fi AS (SELECT ddi.event_type, bucket,
        |         CASE WHEN d IS NOT NULL AND l1 IS NOT NULL
        |              THEN round(CAST(n AS DOUBLE) + mu + p1 * d + p2 * l1,
        |                         6) + 0
        |         END AS f
        |        FROM ddi JOIN phi ON phi.event_type = ddi.event_type),
        |fir AS (SELECT fi.event_type, rk.rn, fi.f
        |        FROM fi JOIN rk ON rk.event_type = fi.event_type
        |                       AND rk.bucket = fi.bucket),
        |fc AS (SELECT event_type, rn, round(l + b, 6) + 0 AS f FROM rec),
        |fs AS (SELECT event_type, phase, rn, round(l + b, 6) + 0 AS f
        |       FROM recs),
        |ev AS (SELECT rk.event_type, rk.n, fc.f AS fh, p.n AS fn,
        |         f2.f AS fsv, f3.f AS fav, f4.f AS fiv
        |       FROM rk
        |       JOIN fc ON fc.event_type = rk.event_type AND fc.rn = rk.rn - 1
        |       JOIN rk p ON p.event_type = rk.event_type AND p.rn = rk.rn - 24
        |       JOIN rks rr ON rr.event_type = rk.event_type
        |                  AND rr.bucket = rk.bucket
        |       JOIN fs f2 ON f2.event_type = rr.event_type
        |                 AND f2.phase = rr.phase AND f2.rn = rr.rn - 1
        |       JOIN far f3 ON f3.event_type = rk.event_type
        |                  AND f3.rn = rk.rn - 1
        |       JOIN fir f4 ON f4.event_type = rk.event_type
        |                  AND f4.rn = rk.rn - 1
        |       WHERE f3.f IS NOT NULL AND f4.f IS NOT NULL),
        |agg AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_evals,
        |          round(sum(abs(n - fh)) / count(*), 6) AS mae_holt,
        |          round(CAST(sum(abs(n - fn)) AS BIGINT) / count(*), 6)
        |            AS mae_naive,
        |          round(sum(abs(n - fsv)) / count(*), 6) AS mae_sholt,
        |          round(sum(abs(n - fav)) / count(*), 6) AS mae_ar2,
        |          round(sum(abs(n - fiv)) / count(*), 6) AS mae_ari2
        |        FROM ev GROUP BY event_type)
        |SELECT event_type, n_evals, mae_holt, mae_naive, mae_sholt, mae_ar2,
        |       mae_ari2,
        |       CASE WHEN mae_ari2 <= mae_ar2 AND mae_ari2 <= mae_sholt
        |              AND mae_ari2 <= mae_holt AND mae_ari2 <= mae_naive
        |              THEN 'ari2'
        |            WHEN mae_ar2 <= mae_sholt AND mae_ar2 <= mae_holt
        |              AND mae_ar2 <= mae_naive THEN 'ar2'
        |            WHEN mae_sholt <= mae_holt AND mae_sholt <= mae_naive
        |              THEN 'seasonal_holt'
        |            WHEN mae_holt <= mae_naive THEN 'holt'
        |            ELSE 'naive' END AS winner
        |FROM agg""".stripMargin)),

    // Multi-step ARI(2,1) forecast: the differenced AR(2) chain rolled
    // 12 steps with the level integrated back (ŷ = n_T + k·μz + Σĝ) —
    // a drift line with damping oscillation; raw doubles hash-gate
    // (projected-column recurrence = the oracle's recursive CTE tree).
    Case("ts_ari2_forecast", (s, dir) =>
      TimeSeries.ari2Forecast(t(s, dir, "events"), keyCol = "event_type",
        tsCol = "ts", bucketSec = 3600L, h = 12),
      // The ts_ari2 difference/deviation chain, then the forecast
      // recurrence as a recursive CTE carrying (g, gp, s): g' = p1*g +
      // p2*gp, s' = s + g' — the identical left-assoc IEEE trees the
      // engine's projected columns build; the emitted level forecast is
      // round(CAST(nT AS DOUBLE) + step*mu + s, 6). Window names are
      // unique (wi/wdi): DuckDB flattens the WINDOW namespace inside
      // WITH RECURSIVE.
      Some("""WITH RECURSIVE c AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS bucket,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |zz AS (SELECT event_type, bucket, n,
        |        CAST(n - lag(n, 1) OVER (PARTITION BY event_type
        |                                 ORDER BY bucket) AS DOUBLE) AS z
        |      FROM c),
        |mui AS (SELECT event_type, round(avg(z), 6) AS mu
        |        FROM zz WHERE z IS NOT NULL GROUP BY event_type),
        |ddi AS (SELECT zz.event_type, bucket, n, mu,
        |         z - mu AS d,
        |         lag(z - mu, 1) OVER wi AS l1,
        |         lag(z - mu, 2) OVER wi AS l2,
        |         row_number() OVER wdi AS rnd
        |       FROM zz JOIN mui ON mui.event_type = zz.event_type
        |       WINDOW wi AS (PARTITION BY zz.event_type ORDER BY bucket),
        |              wdi AS (PARTITION BY zz.event_type
        |                      ORDER BY bucket DESC)),
        |ssi AS (SELECT event_type, sum(d*d) AS den, sum(d*l1) AS n1,
        |         sum(d*l2) AS n2
        |       FROM ddi GROUP BY event_type),
        |rri AS (SELECT event_type,
        |         CASE WHEN den > 0 THEN round(n1/den, 6) END AS r1,
        |         CASE WHEN den > 0 THEN round(n2/den, 6) END AS r2
        |       FROM ssi),
        |phi AS (SELECT event_type,
        |         CASE WHEN r1 IS NOT NULL AND r2 IS NOT NULL
        |                AND abs(1.0 - r1*r1) >= 1e-9
        |              THEN r1 * (1.0 - r2) / (1.0 - r1*r1)
        |              ELSE 0.0 END AS p1,
        |         CASE WHEN r1 IS NOT NULL AND r2 IS NOT NULL
        |                AND abs(1.0 - r1*r1) >= 1e-9
        |              THEN (r2 - r1*r1) / (1.0 - r1*r1)
        |              ELSE 0.0 END AS p2
        |       FROM rri),
        |l2f AS (SELECT event_type,
        |         max(CASE WHEN rnd = 1 THEN d END) AS d0,
        |         max(CASE WHEN rnd = 2 THEN d END) AS d1,
        |         max(CASE WHEN rnd = 1 THEN bucket END) AS lastb,
        |         max(CASE WHEN rnd = 1 THEN n END) AS nt,
        |         max(mu) AS mu, count(*) AS nl
        |        FROM ddi WHERE d IS NOT NULL AND rnd <= 2
        |        GROUP BY event_type),
        |rec AS (
        |  SELECT l.event_type, 1 AS step, p1*d0 + p2*d1 AS g, d0 AS gp,
        |         p1*d0 + p2*d1 AS s, lastb, nt, mu, p1, p2
        |  FROM l2f l JOIN phi ON phi.event_type = l.event_type
        |  WHERE nl >= 2
        |  UNION ALL
        |  SELECT event_type, step + 1, p1*g + p2*gp, g,
        |         s + (p1*g + p2*gp), lastb, nt, mu, p1, p2
        |  FROM rec WHERE step < 12)
        |SELECT event_type, CAST(step AS INT) AS step,
        |       lastb + step AS bucket,
        |       round(CAST(nt AS DOUBLE) + step * mu + s, 6) + 0 AS forecast
        |FROM rec""".stripMargin)),

    // Theta-method forecasting (OLS trend + SES of the theta2 line,
    // α=0.5 dyadic) per event type over hourly counts — the M3 winner
    // as a collapse + one broadcast OLS + the log-round SES scan.
    Case("ts_theta", (s, dir) =>
      TimeSeries.theta(t(s, dir, "events"), keyCol = "event_type",
        tsCol = "ts", bucketSec = 3600L),
      // Same OLS moment algebra in HUGEINT, the identical fixed IEEE
      // trees for slope/intercept/z/trend, and the SES recursion as a
      // recursive CTE — the doubling scan's association ulps absorbed by
      // the shared 6-decimal round (the holt precedent); the forecast
      // reads the ROUNDED ses on both sides.
      Some("""WITH RECURSIVE c AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS bucket,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |rk AS (SELECT event_type, bucket, n,
        |         row_number() OVER (PARTITION BY event_type
        |                            ORDER BY bucket) - 1 AS t
        |       FROM c),
        |o AS (SELECT event_type, count(*) AS m,
        |        CAST(sum(t) AS BIGINT) AS st, CAST(sum(n) AS BIGINT) AS sy,
        |        sum(CAST(t AS HUGEINT) * n) AS sty,
        |        sum(CAST(t AS HUGEINT) * t) AS stt
        |      FROM rk GROUP BY 1),
        |ab AS (SELECT event_type, m, st, sy,
        |        CASE WHEN m*stt - CAST(st AS HUGEINT)*st = 0 THEN 0.0
        |             ELSE CAST(m*sty - CAST(st AS HUGEINT)*sy AS DOUBLE)
        |                / CAST(m*stt - CAST(st AS HUGEINT)*st AS DOUBLE)
        |        END AS ib
        |      FROM o),
        |ab2 AS (SELECT event_type, ib,
        |         (CAST(sy AS DOUBLE) - ib * CAST(st AS DOUBLE))
        |           / CAST(m AS DOUBLE) AS ia
        |        FROM ab),
        |z AS (SELECT rk.event_type, bucket, n, t, ia, ib,
        |        2.0 * n - (ia + ib * t) AS z
        |      FROM rk JOIN ab2 ON ab2.event_type = rk.event_type),
        |rec AS (
        |  SELECT event_type, bucket, n, t, ia, ib, z, z AS s
        |  FROM z WHERE t = 0
        |  UNION ALL
        |  SELECT z.event_type, z.bucket, z.n, z.t, z.ia, z.ib, z.z,
        |         0.5 * z.z + 0.5 * rec.s
        |  FROM rec JOIN z ON z.event_type = rec.event_type
        |                 AND z.t = rec.t + 1)
        |SELECT event_type, bucket, n,
        |       round(ia + ib * t, 6) + 0 AS trend,
        |       round(s, 6) + 0 AS ses,
        |       round(0.5 * (ia + ib * (CAST(t AS DOUBLE) + 1.0))
        |             + 0.5 * round(s, 6), 6) + 0 AS forecast_next
        |FROM rec""".stripMargin)),
  )
}
