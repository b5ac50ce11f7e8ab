package graft
package queries

import graft.ops._
import org.apache.spark.sql.functions._
import Fixtures._

/** Batch twins of the streaming operators: the same plan minus the
  * watermark. StreamingSpec drives the watermarked forms. */
object StreamQueries {
  val cases: Seq[Case] = Seq(
    Case("stream_sliding_window", (s, dir) =>
      graft.streaming.StreamOps.slidingMetrics(t(s, dir, "events"),
        timeCol = "ts", keyCol = "event_type", valueCol = "value",
        duration = "2 minutes", slide = "1 minute", lateness = "10 minutes",
        streaming = false),
      Some("""WITH w AS (
        |  SELECT event_type, value,
        |         date_trunc('minute', ts) - i.i * INTERVAL 1 MINUTE AS window_start
        |  FROM events, unnest([0, 1]) AS i(i))
        |SELECT event_type, count(*) AS n_events, avg(value) AS avg_fare,
        |       window_start, window_start + INTERVAL 2 MINUTE AS window_end
        |FROM w GROUP BY event_type, window_start""".stripMargin)),

    Case("stream_session_window", (s, dir) =>
      graft.streaming.StreamOps.sessionMetrics(t(s, dir, "events"),
        timeCol = "ts", keyCol = "user_id", valueCol = "value",
        gap = "5 minutes", lateness = "10 minutes", streaming = false),
      Some("""WITH g AS (
        |  SELECT user_id, event_id, ts, value,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR ts - lag(ts) OVER w >= INTERVAL 5 MINUTE
        |              THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts, value,
        |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM g)
        |SELECT user_id, count(*) AS n_events, sum(value) AS session_fare,
        |       min(ts) AS session_start, max(ts) + INTERVAL 5 MINUTE AS session_end
        |FROM s GROUP BY user_id, sid""".stripMargin)),

    // Append-mode windowed aggregate (W3's complement — the output mode
    // most production sinks accept): each hourly (window × key) row
    // emitted exactly once when the watermark closes the window. Batch
    // twin gates here: the closed-window subset (window_end + lateness
    // <= max event time, the drained stream's final watermark).
    // StreamingSpec pins exactly-once emission per closed window across
    // epochs.
    Case("stream_append_close", (s, dir) =>
      graft.streaming.StreamOps.appendCloseWindows(t(s, dir, "events"),
        timeCol = "ts", keyCol = "event_type", idCol = "event_id",
        valueCol = "value", duration = "1 hour", lateness = "10 minutes",
        streaming = false),
      // The closed-window subset of the hourly window aggregate: the
      // final watermark is max(ts) - lateness, a window is emitted iff
      // window_end + lateness <= max(ts) — exact timestamp integer
      // comparisons on both engines.
      Some("""WITH w AS (
        |  SELECT event_type, date_trunc('hour', ts) AS window_start,
        |         date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
        |         count(event_id) AS total_trips, avg(value) AS average_fare
        |  FROM events GROUP BY 1, 2, 3),
        |m AS (SELECT max(ts) AS mx FROM events)
        |SELECT event_type, window_start, window_end, total_trips,
        |       average_fare
        |FROM w, m WHERE window_end + INTERVAL 10 MINUTE <= mx""".stripMargin)),

    Case("stream_dedup_exact", (s, dir) =>
      graft.streaming.StreamOps.dedupStream(
        t(s, dir, "events").unionAll(t(s, dir, "events")),
        timeCol = "ts", idCol = "event_id", lateness = "10 minutes",
        streaming = false),
      Some("""SELECT DISTINCT * FROM
        |  (SELECT * FROM events UNION ALL SELECT * FROM events)""".stripMargin)),

    // Windowed HLL distinct counting, batch twin of the streaming
    // cardinality monitor (state per open window = one mergeable sketch,
    // not the key set; countDistinct is unsupported in streaming aggs).
    // At the fixture's per-window cardinality the sketch is sparse-mode
    // EXACT, so it hash-gates against the exact oracle.
    Case("stream_distinct_window", (s, dir) =>
      graft.streaming.StreamOps.distinctPerWindow(t(s, dir, "events"),
        "ts", "user_id", duration = "1 hour", lateness = "10 minutes",
        streaming = false),
      Some("""SELECT date_trunc('hour', ts) AS window_start,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS approx_distinct,
        |       CAST(count(*) AS BIGINT) AS n_events
        |FROM events GROUP BY 1""".stripMargin)),

    // Conversion funnel (cross-event-type state machine): each purchase
    // attributed to the user's latest preceding view within 1 h. Batch
    // twin = one window pass; the flatMapGroupsWithState streaming form
    // is parity-pinned in StreamingSpec.
    Case("stream_funnel", (s, dir) =>
      graft.streaming.StreamOps.conversionFunnel(t(s, dir, "events"),
        timeCol = "ts", userCol = "user_id", idCol = "event_id",
        typeCol = "event_type", maxDelaySec = 3600L, lateness = "10 minutes",
        streaming = false),
      // Same strictly-preceding window and micro-epoch arithmetic as the
      // batch twin of the funnel state machine.
      Some("""WITH x AS (
        |  SELECT user_id, event_id, ts, event_type,
        |         max(CASE WHEN event_type = 'view' THEN ts END) OVER
        |           (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS view_ts
        |  FROM events)
        |SELECT user_id, event_id AS purchase_id, view_ts, ts AS purchase_ts,
        |       epoch(ts) - epoch(view_ts) AS latency_s
        |FROM x WHERE event_type = 'purchase' AND view_ts IS NOT NULL
        |  AND epoch(ts) - epoch(view_ts) <= 3600""".stripMargin)),

    // Stream-stream interval join, batch twin: every view within the 10
    // minutes before a purchase by the same user. Streaming semantics
    // (watermark-bounded two-sided state) pinned in StreamingSpec.
    Case("stream_interval_join", { (s, dir) =>
      val ev = t(s, dir, "events")
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
      val v = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("v_ts"))
      graft.streaming.StreamOps.intervalJoin(p, v, "user_id", "p_ts", "v_ts",
        maxDelaySec = 600, lateness = "10 minutes", streaming = false)
        .select(col("purchase_id"), col("view_id"))
    },
      Some("""SELECT p.event_id AS purchase_id, v.event_id AS view_id
        |FROM events p JOIN events v
        |  ON p.user_id = v.user_id
        | AND v.ts >= p.ts - INTERVAL 600 SECOND AND v.ts <= p.ts
        |WHERE p.event_type = 'purchase' AND v.event_type = 'view'""".stripMargin)),

    // Per-window heavy hitters, batch twin (exact). The streaming form is
    // a bounded Misra–Gries counter set per open window (state ≤ m keys
    // at ANY key cardinality) — both regimes pinned in StreamingSpec.
    Case("stream_topk", (s, dir) =>
      graft.streaming.StreamOps.topKPerWindow(t(s, dir, "events"),
        timeCol = "ts", keyCol = "event_type", duration = "1 minute",
        k = 3, m = 64, lateness = "10 minutes", streaming = false),
      Some("""WITH c AS (
        |  SELECT date_trunc('minute', ts) AS window_start,
        |         event_type AS key, CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT window_start, key, cnt,
        |         CAST(row_number() OVER (PARTITION BY window_start
        |           ORDER BY cnt DESC, key) AS BIGINT) AS rnk
        |  FROM c)
        |SELECT window_start, key, cnt, rnk FROM r WHERE rnk <= 3""".stripMargin)),

    // Online anomaly flags, batch twin: z-score against the key's
    // STRICTLY PRECEDING running profile (no future data vouches for the
    // past). The streaming form folds the same (n, Σv, Σv²) per key in
    // GroupState — bit-identical output, pinned in StreamingSpec.
    Case("stream_anomaly", (s, dir) =>
      graft.streaming.StreamOps.anomalyFlags(t(s, dir, "events"),
        timeCol = "ts", keyCol = "event_type", idCol = "event_id",
        valueCol = "value", threshold = 3.0, minN = 30L, streaming = false),
      Some("""WITH w AS (
        |  SELECT event_type, event_id, value,
        |         count(value) OVER win AS n_before,
        |         sum(value) OVER win AS s,
        |         sum(value * value) OVER win AS ss
        |  FROM events
        |  WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |k AS (
        |  SELECT event_type, event_id, value, n_before, s / n_before AS mean,
        |         (ss - s * s / n_before) / (n_before - 1) AS var
        |  FROM w WHERE n_before >= 30),
        |f AS (
        |  SELECT event_type, event_id, value, n_before,
        |         round((value - mean) / sqrt(var), 6) AS z
        |  FROM k WHERE var > 0)
        |SELECT * FROM f WHERE abs(z) > 3.0""".stripMargin)),

    // Per-day streaming quantile state: the mergeable fixed-grid sketch
    // as a windowed streaming aggregation (counts are algebraic, so the
    // state IS the sketch; bounded by occupied buckets, never rows),
    // then p50/p90/p99 read per window from the emitted state. Batch
    // mode of the identical plan gates here; StreamingSpec drives the
    // watermarked twin.
    Case("stream_quantile_sketch", { (s, dir) =>
      val sk = graft.streaming.StreamOps.quantileSketchStream(
        t(s, dir, "events"), "ts", round(col("value") * 100), width = 512L,
        duration = "1 day", lateness = "10 minutes", streaming = false)
      Profile.quantilesFromSketchBy(
        sk.select(col("window_start"), col("bucket"), col("cnt")),
        Seq("window_start"), 512L, Seq(50, 90, 99))
    },
      // Full sketch replay per day window: bucket counts, partitioned
      // cumulative walk, exact integer rank selection.
      Some("""WITH b AS (SELECT date_trunc('day', ts) AS window_start,
        |             CAST(round(value * 100) AS BIGINT) AS v FROM events),
        |sk AS (SELECT window_start, v // 512 AS bucket,
        |         CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY 1, 2),
        |cum AS (SELECT window_start, bucket,
        |          sum(cnt) OVER (PARTITION BY window_start
        |                         ORDER BY bucket) AS cum FROM sk),
        |nn AS (SELECT window_start, max(cum) AS n FROM cum GROUP BY 1),
        |qs(q_pct) AS (VALUES (50), (90), (99))
        |SELECT c.window_start, CAST(q_pct AS BIGINT) AS q_pct,
        |       CAST(nn.n AS BIGINT) AS n,
        |       min(bucket) AS est_bucket, min(bucket) * 512 AS estimate
        |FROM cum c JOIN nn USING (window_start), qs
        |WHERE c.cum >= (nn.n * q_pct + 99) // 100
        |GROUP BY 1, 2, 3""".stripMargin)),

    // Signed maintained state over a synthetic changelog (every event an
    // INSERT, every 7th event's row re-arriving as a DELETE): the batch
    // twin of the GroupState signed fold — one map-side-combinable
    // aggregation, exact integers, netted-out keys dropped. The
    // streaming twin + replace/tombstone sink + epoch-replay idempotency
    // are pinned in StreamingSpec.
    Case("stream_signed_state", { (s, dir) =>
      val ev = t(s, dir, "events").select(col("event_type"),
        col("event_id"), round(col("value") * 100).cast("long").as("v"))
      val changelog = ev.select(col("event_type"), col("v"), lit("I").as("op"))
        .unionAll(ev.filter(col("event_id") % 7 === 0)
          .select(col("event_type"), col("v"), lit("D").as("op")))
      graft.streaming.StreamOps.signedAggStream(changelog, "event_type",
        "op", col("v"), streaming = false)
    },
      // From-scratch recompute of the post-delta table — equality IS the
      // maintained-state guarantee (deletes ⊆ inserts by construction).
      Some("""WITH pd AS (SELECT event_type AS key,
        |              CAST(round(value * 100) AS BIGINT) AS v
        |            FROM events WHERE event_id % 7 <> 0)
        |SELECT key, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(v) AS BIGINT) AS sum_v
        |FROM pd GROUP BY 1""".stripMargin)),

    // Streaming SCD2 dimension maintenance, gated through its batch twin
    // (the plan-identical discipline every stream_* row follows): each
    // user's event stream becomes full version history — closed rows
    // carry (valid_from, valid_to) in micros, one open row per key.
    // Attrs pack as "type:cents" (no doubles/JSON cross the boundary).
    // StreamingSpec drives the GroupState twin + replace reconciliation.
    Case("stream_scd2", { (s, dir) =>
      val log = t(s, dir, "events").select(
        col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"),
        concat_ws(":", col("event_type"),
          round(col("value") * 100).cast("long")).as("attrs"))
      graft.streaming.StreamOps.scd2Stream(log, "user_id", "ts_us",
        "event_id", "attrs", streaming = false)
    },
      // SCD2 history replayed: one lead() per key over (ts, id), same
      // "type:cents" attrs packing.
      Some("""WITH l AS (SELECT CAST(user_id AS VARCHAR) AS key,
        |             epoch_us(ts) AS valid_from_us, event_id AS eid,
        |             event_type || ':' ||
        |               CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR)
        |               AS attrs
        |           FROM events)
        |SELECT key, valid_from_us, eid, attrs,
        |       lead(valid_from_us) OVER win AS valid_to_us,
        |       lead(valid_from_us) OVER win IS NULL AS is_current
        |FROM l
        |WINDOW win AS (PARTITION BY key ORDER BY valid_from_us, eid)""".stripMargin)),

    // Left-outer interval join: purchases with no view in the preceding
    // 10 min survive with a null view_id. The streaming form (null
    // emitted only once the right watermark clears the candidate
    // interval) is pinned in StreamingSpec.
    Case("stream_outer_join", { (s, dir) =>
      val ev = t(s, dir, "events")
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
      val v = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("v_ts"))
      graft.streaming.StreamOps.intervalJoin(p, v, "user_id", "p_ts", "v_ts",
        maxDelaySec = 600, lateness = "10 minutes", streaming = false,
        joinType = "left_outer")
        .select(col("purchase_id"), col("view_id"))
    },
      Some("""SELECT p.event_id AS purchase_id, v.event_id AS view_id
        |FROM events p LEFT JOIN events v
        |  ON p.user_id = v.user_id AND v.event_type = 'view'
        | AND v.ts >= p.ts - INTERVAL 600 SECOND AND v.ts <= p.ts
        |WHERE p.event_type = 'purchase'""".stripMargin)),
  )
}
