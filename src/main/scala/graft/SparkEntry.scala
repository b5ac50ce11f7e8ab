package graft

import graft.model.Schemas
import graft.ops._
import graft.sources.Sources
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftBridge

/** Driver contract (SURVEY.md §7): one `queries` entry per operator of the
  * engine's inventory, each with DuckDB-equivalent `oracleSql` where the
  * semantics are ANSI-SQL-expressible (hash-based signatures like MinHash/
  * SimHash/xxhash64-LSH are engine-defined → rows-only check).
  *
  * Naming groups:
  *   ref_*   — batch twins of the reference's own surface (SURVEY.md §2)
  *   q1_*    — flagship pricing aggregate
  *   rel_*   — relational extension (joins, window fns, set ops, functions)
  *   dedup_* — deduplication suite        text_* — text analysis
  *   ann_*   — similarity search          mm_*   — multimodal columns
  */
object SparkEntry {

  /** Fixture loader. `events.ts` has shipped in two physical shapes across
    * driver generations: TIMESTAMP(NANOS) (Spark reads only as a raw long
    * via nanosAsLong → truncate to micros, matching DuckDB's scan) and
    * plain TIMESTAMP(MICROS) without UTC adjustment (Spark reads as
    * TIMESTAMP_NTZ → reinterpret as session-UTC TimestampType, value-equal
    * to DuckDB's naive TIMESTAMP). Adapt on the observed schema so the
    * engine-side column is always a microsecond TimestampType. */
  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events")
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df0 = s.read.parquet(s"$dir/$name.parquet")
    val df =
      if (name == "events" &&
          df0.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        df0.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else df0
    // Any remaining NTZ column (o_orderdate, l_shipdate, micros-shape ts)
    // → session-UTC TimestampType, value-preserving under the UTC session.
    df.schema.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.TimestampNTZType => f.name
    }.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast("timestamp")))
  }

  /** Flagship query on sf=0.001 (driver smoke-checks rows>0): the
    * reference's per-city per-minute metrics, batch twin over `events`. */
  def entry(spark: SparkSession): DataFrame =
    refWindowAgg(spark, "/root/testdata/sf0.001")

  /** events(ts, event_type, event_id, value) plays the trip stream
    * (reference: spark_jobs/streaming_job.py:114-125). */
  private def refWindowAgg(s: SparkSession, dir: String): DataFrame =
    Metrics.windowedMetrics(
      Metrics.WindowSpec(timeCol = "ts", keyCol = "event_type",
        idCol = "event_id", valueCol = "value"),
      streaming = false)(t(s, dir, "events"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ── reference surface, batch twins ────────────────────────────────
    "ref_window_agg" -> ((s, dir) => refWindowAgg(s, dir)),

    "ref_accumulated_upsert" -> ((s, dir) =>
      Metrics.accumulatedMetrics(
        Metrics.WindowSpec(timeCol = "ts", keyCol = "event_type",
          idCol = "event_id", valueCol = "value"))(t(s, dir, "events"))),

    // P1/P2/P3 end-to-end: serialize events into the ride-event JSON wire
    // shape, parse with the declared schema, window-aggregate — proves the
    // from_json path yields the same metrics as querying columns directly.
    "ref_json_roundtrip_agg" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val payload = ev.select(to_json(struct(
        col("event_id").cast("string").as("trip_id"),
        col("event_type").as("city"),
        col("value").as("fare_amount"),
        col("ts").cast("double").as("event_timestamp"))).as("value"))
      val parsed = Ingest.consume(Schemas.rideEventSchema)(payload)
      Metrics.windowedMetrics(Metrics.WindowSpec(), streaming = false)(parsed)
    },

    "ref_json_extract" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("sum_k"), count(col("k")).as("n_events"))),

    "ref_cast_epoch" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"), col("ts").cast("double").as("epoch_s"))),

    // S7: the BI read path — scan + sort desc on the aggregate.
    "ref_sort_bi" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("total_trips"), avg(col("value")).as("average_fare"))
        .orderBy(col("total_trips").desc, col("user_id"))),

    // ── streaming operator batch twins (same plan minus watermark) ─────
    "stream_sliding_window" -> ((s, dir) =>
      graft.streaming.StreamOps.slidingMetrics(t(s, dir, "events"),
        timeCol = "ts", keyCol = "event_type", valueCol = "value",
        duration = "2 minutes", slide = "1 minute", lateness = "10 minutes",
        streaming = false)),

    "stream_session_window" -> ((s, dir) =>
      graft.streaming.StreamOps.sessionMetrics(t(s, dir, "events"),
        timeCol = "ts", keyCol = "user_id", valueCol = "value",
        gap = "5 minutes", lateness = "10 minutes", streaming = false)),

    // Append-mode windowed aggregate (W3's complement — the output mode
    // most production sinks accept): each hourly (window × key) row
    // emitted exactly once when the watermark closes the window. Batch
    // twin gates here: the closed-window subset (window_end + lateness
    // <= max event time, the drained stream's final watermark).
    // StreamingSpec pins exactly-once emission per closed window across
    // epochs.
    "stream_append_close" -> ((s, dir) =>
      graft.streaming.StreamOps.appendCloseWindows(t(s, dir, "events"),
        timeCol = "ts", keyCol = "event_type", idCol = "event_id",
        valueCol = "value", duration = "1 hour", lateness = "10 minutes",
        streaming = false)),

    "stream_dedup_exact" -> ((s, dir) =>
      graft.streaming.StreamOps.dedupStream(
        t(s, dir, "events").unionAll(t(s, dir, "events")),
        timeCol = "ts", idCol = "event_id", lateness = "10 minutes",
        streaming = false)),

    // Windowed HLL distinct counting, batch twin of the streaming
    // cardinality monitor (state per open window = one mergeable sketch,
    // not the key set; countDistinct is unsupported in streaming aggs).
    // At the fixture's per-window cardinality the sketch is sparse-mode
    // EXACT, so it hash-gates against the exact oracle.
    "stream_distinct_window" -> ((s, dir) =>
      graft.streaming.StreamOps.distinctPerWindow(t(s, dir, "events"),
        "ts", "user_id", duration = "1 hour", lateness = "10 minutes",
        streaming = false)),

    // Conversion funnel (cross-event-type state machine): each purchase
    // attributed to the user's latest preceding view within 1 h. Batch
    // twin = one window pass; the flatMapGroupsWithState streaming form
    // is parity-pinned in StreamingSpec.
    "stream_funnel" -> ((s, dir) =>
      graft.streaming.StreamOps.conversionFunnel(t(s, dir, "events"),
        timeCol = "ts", userCol = "user_id", idCol = "event_id",
        typeCol = "event_type", maxDelaySec = 3600L, lateness = "10 minutes",
        streaming = false)),

    // Stream-stream interval join, batch twin: every view within the 10
    // minutes before a purchase by the same user. Streaming semantics
    // (watermark-bounded two-sided state) pinned in StreamingSpec.
    "stream_interval_join" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
      val v = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("v_ts"))
      graft.streaming.StreamOps.intervalJoin(p, v, "user_id", "p_ts", "v_ts",
        maxDelaySec = 600, lateness = "10 minutes", streaming = false)
        .select(col("purchase_id"), col("view_id"))
    },


    // Per-window heavy hitters, batch twin (exact). The streaming form is
    // a bounded Misra–Gries counter set per open window (state ≤ m keys
    // at ANY key cardinality) — both regimes pinned in StreamingSpec.
    "stream_topk" -> ((s, dir) =>
      graft.streaming.StreamOps.topKPerWindow(t(s, dir, "events"),
        timeCol = "ts", keyCol = "event_type", duration = "1 minute",
        k = 3, m = 64, lateness = "10 minutes", streaming = false)),

    // Online anomaly flags, batch twin: z-score against the key's
    // STRICTLY PRECEDING running profile (no future data vouches for the
    // past). The streaming form folds the same (n, Σv, Σv²) per key in
    // GroupState — bit-identical output, pinned in StreamingSpec.
    "stream_anomaly" -> ((s, dir) =>
      graft.streaming.StreamOps.anomalyFlags(t(s, dir, "events"),
        timeCol = "ts", keyCol = "event_type", idCol = "event_id",
        valueCol = "value", threshold = 3.0, minN = 30L, streaming = false)),

    // Per-day streaming quantile state: the mergeable fixed-grid sketch
    // as a windowed streaming aggregation (counts are algebraic, so the
    // state IS the sketch; bounded by occupied buckets, never rows),
    // then p50/p90/p99 read per window from the emitted state. Batch
    // mode of the identical plan gates here; StreamingSpec drives the
    // watermarked twin.
    "stream_quantile_sketch" -> { (s, dir) =>
      val sk = graft.streaming.StreamOps.quantileSketchStream(
        t(s, dir, "events"), "ts", round(col("value") * 100), width = 512L,
        duration = "1 day", lateness = "10 minutes", streaming = false)
      Profile.quantilesFromSketchBy(
        sk.select(col("window_start"), col("bucket"), col("cnt")),
        Seq("window_start"), 512L, Seq(50, 90, 99))
    },

    // Signed maintained state over a synthetic changelog (every event an
    // INSERT, every 7th event's row re-arriving as a DELETE): the batch
    // twin of the GroupState signed fold — one map-side-combinable
    // aggregation, exact integers, netted-out keys dropped. The
    // streaming twin + replace/tombstone sink + epoch-replay idempotency
    // are pinned in StreamingSpec.
    "stream_signed_state" -> { (s, dir) =>
      val ev = t(s, dir, "events").select(col("event_type"),
        col("event_id"), round(col("value") * 100).cast("long").as("v"))
      val changelog = ev.select(col("event_type"), col("v"), lit("I").as("op"))
        .unionAll(ev.filter(col("event_id") % 7 === 0)
          .select(col("event_type"), col("v"), lit("D").as("op")))
      graft.streaming.StreamOps.signedAggStream(changelog, "event_type",
        "op", col("v"), streaming = false)
    },

    // Streaming SCD2 dimension maintenance, gated through its batch twin
    // (the plan-identical discipline every stream_* row follows): each
    // user's event stream becomes full version history — closed rows
    // carry (valid_from, valid_to) in micros, one open row per key.
    // Attrs pack as "type:cents" (no doubles/JSON cross the boundary).
    // StreamingSpec drives the GroupState twin + replace reconciliation.
    "stream_scd2" -> { (s, dir) =>
      val log = t(s, dir, "events").select(
        col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"),
        concat_ws(":", col("event_type"),
          round(col("value") * 100).cast("long")).as("attrs"))
      graft.streaming.StreamOps.scd2Stream(log, "user_id", "ts_us",
        "event_id", "attrs", streaming = false)
    },

    // ── flagship pricing aggregate (partial+final hash agg, 1 shuffle) ──
    "q1_pricing" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          sum(col("l_extendedprice")).as("sum_base_price"),
          sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          avg(col("l_quantity")).as("avg_qty"),
          avg(col("l_extendedprice")).as("avg_price"),
          avg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))),

    // ── relational extension ──────────────────────────────────────────
    // Dim tables broadcast: no shuffle of the orders fact.
    "rel_join_broadcast" -> ((s, dir) =>
      t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(sum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))),

    // Fact-to-fact equi-join: shuffled hash/sort-merge on the join key —
    // the shape AQE tunes at scale. Top-10 revenue orders, Q3-style.
    "rel_join_topk" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders").filter(col("o_orderdate") < to_timestamp(lit("1998-01-01"))),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)),

    // Bloom-prefiltered semi join: the scan-side might_contain probe
    // kills non-matching fact rows BEFORE the exchange; the exact semi
    // join then removes the fpp false positives, so the result is
    // byte-identical to the plain semi join (bloom = no false negatives).
    "rel_bloom_semi_join" -> ((s, dir) =>
      ops.BloomJoin.bloomSemiJoin(
        t(s, dir, "orders"), "o_custkey",
        t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING"),
        "c_custkey", expectedItems = 10000)
        .select(col("o_orderkey"), col("o_custkey"))),

    "rel_semi_join" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))),

    "rel_anti_join" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))),

    "rel_outer_join" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          sum(coalesce(col("o_totalprice"), lit(0.0))).as("lifetime_value"))),

    "rel_window_rank" -> { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("rnk").cast("long").as("rnk"))
    },

    "rel_window_lag" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("gap_us", unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
        .select(col("user_id"), col("event_id"), col("gap_us"))
    },

    // Distribution window functions over a deterministic total order.
    "rel_window_dist" -> { (s, dir) =>
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"),
          ntile(4).over(w).cast("long").as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"))
    },

    // RANGE frame (value-based, peers included) vs the ROWS frames above:
    // per-customer 30-day trailing spend, ordered by day number so both
    // engines share one numeric range semantics (no interval dialects).
    "rel_window_range" -> { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(unix_date(col("o_orderdate").cast("date")))
        .rangeBetween(-30, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          sum(col("o_totalprice")).over(w).as("sum_30d"))
    },

    // Range (point-in-interval) join: lineitem ship days probed against
    // order-derived promo windows [orderdate, orderdate + 1..14 days],
    // NO equi-key — the shape Spark plans as a quadratic nested loop and
    // RangeJoin rewrites into a bucket-expansion equi-join. Day numbers
    // are the shared integer axis (no interval dialects); oracle is the
    // plain BETWEEN theta-join.
    "rel_range_join" -> { (s, dir) =>
      val pts = t(s, dir, "lineitem").filter(col("l_linenumber") === 1)
        .select(col("l_orderkey").as("point_id"),
          datediff(col("l_shipdate").cast("date"), lit("1970-01-01").cast("date"))
            .cast("long").as("p_day"))
      val iv = t(s, dir, "orders").filter(col("o_orderkey") % 37 === 0)
        .select(col("o_orderkey").as("range_id"),
          datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
            .cast("long").as("lo_day"))
        .withColumn("hi_day", col("lo_day") + expr("range_id div 37 % 14 + 1"))
      RangeJoin.pointInInterval(pts, iv, "p_day", "lo_day", "hi_day",
          bucketWidth = 16L)
        .select(col("point_id"), col("range_id"), col("p_day"), col("lo_day"),
          col("hi_day"))
    },

    // Map-typed column round-trip: per-order linenumber→quantity map
    // built from sorted entries, then interrogated with element_at /
    // map_keys / map_values. The oracle never builds a map — it derives
    // the same scalars relationally, so the gate is on map SEMANTICS
    // (key order, lookup, fold), not engine representation. map_values
    // fold is exact: quantities are whole-number doubles.
    "rel_map_funcs" -> ((s, dir) =>
      t(s, dir, "lineitem")
        // the fixture repeats linenumbers within an order: collapse to
        // unique map keys first (map_from_entries throws on dup keys)
        .groupBy(col("l_orderkey"), col("l_linenumber"))
        .agg(sum(col("l_quantity")).as("qty"))
        .groupBy(col("l_orderkey"))
        .agg(map_from_entries(array_sort(collect_list(
          struct(col("l_linenumber"), col("qty"))))).as("m"))
        .select(col("l_orderkey"),
          size(col("m")).cast("long").as("n_lines"),
          element_at(col("m"), 1).as("q1"),
          array_join(transform(map_keys(col("m")), k => k.cast("string")), ",")
            .as("keys_csv"),
          aggregate(map_values(col("m")), lit(0.0d), (a, v) => a + v)
            .as("total_qty"))),

    // Wide→long unpivot (the inverse of rel_pivot): four per-line metrics
    // melted to (metric, value) rows, values passed through untouched.
    "rel_unpivot" -> ((s, dir) =>
      t(s, dir, "lineitem").filter(col("l_orderkey") % 500 === 0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"), col("l_tax"))
        .unpivot(
          ids = Array(col("l_orderkey"), col("l_linenumber")),
          values = Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          variableColumnName = "metric", valueColumnName = "value")),

    // Interval×interval overlap join, both sides bucket-expanded; the
    // canonical-bucket residual (bucket of max(lo_a, lo_b)) makes each
    // overlapping pair surface exactly once with NO distinct pass.
    "rel_interval_overlap" -> { (s, dir) =>
      def days(c: Column) =
        datediff(c.cast("date"), lit("1970-01-01").cast("date")).cast("long")
      val promos = t(s, dir, "orders").filter(col("o_orderkey") % 37 === 0)
        .select(col("o_orderkey").as("promo_id"),
          days(col("o_orderdate")).as("p_lo"))
        .withColumn("p_hi", col("p_lo") + expr("promo_id div 37 % 14 + 1"))
      val audits = t(s, dir, "orders").filter(col("o_orderkey") % 41 === 0)
        .select(col("o_orderkey").as("audit_id"),
          days(col("o_orderdate")).as("a_lo"))
        .withColumn("a_hi", col("a_lo") + expr("audit_id div 41 % 10 + 2"))
      RangeJoin.intervalOverlap(promos, audits, "p_lo", "p_hi", "a_lo", "a_hi",
          bucketWidth = 16L)
        .select(col("promo_id"), col("audit_id"), col("p_lo"), col("p_hi"),
          col("a_lo"), col("a_hi"))
    },

    "rel_union" -> ((s, dir) =>
      bigSpenders(s, dir).union(buildingCustomers(s, dir)).distinct()),
    "rel_intersect" -> ((s, dir) =>
      bigSpenders(s, dir).intersect(buildingCustomers(s, dir))),
    "rel_except" -> ((s, dir) =>
      bigSpenders(s, dir).except(buildingCustomers(s, dir))),

    "rel_rollup" -> ((s, dir) =>
      t(s, dir, "orders")
        .rollup(year(col("o_orderdate")).cast("long").as("o_year"), col("o_orderpriority"))
        .agg(sum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))),

    "rel_cube" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_rows"))),

    "rel_pivot" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("l_linestatus") === "O", 1L).otherwise(0L)).as("n_open"),
          sum(when(col("l_linestatus") === "F", 1L).otherwise(0L)).as("n_filled"),
          sum(when(col("l_linestatus") === "O", col("l_quantity"))).as("qty_open"),
          sum(when(col("l_linestatus") === "F", col("l_quantity"))).as("qty_filled"))),

    "rel_having" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice")).as("total_spent"), count(lit(1)).as("n_orders"))
        .filter(col("total_spent") > 1500000)),

    "rel_distinct" -> ((s, dir) =>
      t(s, dir, "lineitem").select(col("l_returnflag"), col("l_linestatus")).distinct()),

    "rel_string_funcs" -> ((s, dir) =>
      t(s, dir, "part")
        .filter(col("p_type").like("%O%"))
        .select(
          col("p_partkey"),
          upper(col("p_name")).as("name_upper"),
          substring(col("p_name"), 1, 8).as("name_prefix"),
          length(col("p_name")).cast("long").as("name_len"),
          concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"),
          regexp_replace(col("p_name"), " ", "_").as("name_snake"))),

    "rel_date_funcs" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(
          year(col("o_orderdate")).cast("long").as("o_year"),
          quarter(col("o_orderdate")).cast("long").as("o_quarter"))
        .agg(count(lit(1)).as("n_orders"), sum(col("o_totalprice")).as("revenue"))),

    "rel_math_funcs" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select(
          col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          abs(col("l_discount") - 0.05).as("disc_dev"),
          sqrt(col("l_quantity")).as("qty_sqrt"),
          floor(col("l_extendedprice")).as("price_floor"),
          ceil(col("l_extendedprice")).as("price_ceil"),
          greatest(col("l_tax"), col("l_discount")).as("max_rate"))),

    "rel_case_when" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(when(col("o_totalprice") < 100000, "small")
          .when(col("o_totalprice") < 300000, "medium")
          .otherwise("large").as("price_band"))
        .agg(count(lit(1)).as("n_orders"), avg(col("o_totalprice")).as("avg_price"))),

    // As-of (backward) join: for every purchase, the user's most recent
    // view at-or-before it (attribution). Right side pre-aggregated to
    // one row per (user, ts) — "the" row at a timestamp must be unique
    // for as-of to be well-defined. Oracle: DuckDB's native ASOF JOIN.
    "rel_asof_join" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("view_value"))
      AsOfJoin.asOfBackward(purchases, views, keyCol = "user_id",
        timeCol = "ts", payloadCols = Seq("view_value"))
    },

    // Forward as-of: each error's NEXT signup (inclusive, same single-
    // exchange plan mirrored) — DuckDB replays it as ASOF with <=.
    "rel_asof_forward" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val signups = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("signup_value"))
      AsOfJoin.asOfForward(errors, signups, keyCol = "user_id",
        timeCol = "ts", payloadCols = Seq("signup_value"))
    },

    // Nearest as-of (merge_asof direction='nearest'): closest signup
    // reading to each error by |Δt|, ties backward — both directional
    // carriers ride ONE window pass over the same single exchange, the
    // pick is per-row integer arithmetic on the two candidate times.
    "rel_asof_nearest" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val signups = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("signup_value"))
      AsOfJoin.asOfNearest(errors, signups, keyCol = "user_id",
        timeCol = "ts", payloadCols = Seq("signup_value"))
    },

    // Time-series densification: hourly grid per user-cohort with LOCF
    // fill across the gaps; the filled VALUE at every grid cell is the
    // gate, so bucketing, span bounds, and carry order all must agree.
    "rel_gap_fill" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .select((col("user_id") % 23).as("ukey"), col("ts"), col("value"))
      GapFill.fillForward(ev, "ukey", "ts", "value", bucketSeconds = 3600L)
    },

    // Linear interpolation over the same hourly grid (one per-key ordered
    // exchange, two window frames — forward prev, backward next).
    "ts_interpolate" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .select((col("user_id") % 23).as("ukey"), col("ts"), col("value"))
      GapFill.interpolateLinear(ev, "ukey", "ts", "value", bucketSeconds = 3600L)
    },

    // ── physical layout: pruning + bucketing (Layout scaladoc) ─────────
    // Write hive-partitioned, read one partition back: the predicate
    // must prune at directory level (OperatorSpec asserts the scan's
    // PartitionFilters), so I/O scales with the selected partition.
    // The oracle is the same filter+agg on the UNPARTITIONED table: any
    // row lost or duplicated by the write/read round-trip turns it red.
    "rel_partition_prune" -> { (s, dir) =>
      val path = layoutPath("li_by_flag")
      Layout.writePartitioned(
        t(s, dir, "lineitem").select(col("l_returnflag"), col("l_linestatus"),
          col("l_quantity"), col("l_extendedprice")),
        "l_returnflag", path)
      Layout.readPartition(s, path, "l_returnflag", "R")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"),
          (sum(col("l_quantity").cast("decimal(18,2)")) * 100).cast("long")
            .as("sum_qty_c"))
    },

    // Bucket both sides by the join key at write time, then join with
    // ZERO runtime exchange (OperatorSpec asserts no ShuffleExchange in
    // the executed plan) — the write-once/join-many amortization that
    // makes repeated fact-to-fact joins affordable at 100 TB.
    "rel_bucket_join" -> { (s, dir) =>
      Layout.saveBucketed(
        t(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity")),
        "graft_li_b" + tableSuffix, "l_orderkey", 8, layoutPath("li_b"))
      Layout.saveBucketed(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority")),
        "graft_ord_b" + tableSuffix, "o_orderkey", 8, layoutPath("ord_b"))
      Layout.bucketedJoin(s, "graft_li_b" + tableSuffix, "graft_ord_b" + tableSuffix,
          "l_orderkey", "o_orderkey")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          (sum(col("l_quantity").cast("decimal(18,2)")) * 100).cast("long")
            .as("sum_qty_c"))
    },

    // Batch sessionization (gap > 30 min splits a user's events): the
    // backfill twin of the streaming session window, hash-gated on every
    // session's span and exact decimal value sum.
    "rel_sessionize" -> ((s, dir) =>
      // The exact-decimal session value sum leaves the gate as integer
      // MICROS: a scale-6 decimal always renders with trailing zeros
      // ("0.010000"), which a checker that floats one side collapses to
      // "0.01" — scaled BIGINT is renderer-independent.
      Sessionize.sessionize(t(s, dir, "events"), "user_id", "ts", "value",
          gapSec = 1800.0)
        .withColumn("sum_value_micros",
          (col("sum_value") * 1000000).cast("long"))
        .drop("sum_value")),

    // Exact interpolated percentiles (percentile_cont semantics — the
    // non-sketch twin of rel_approx_quantile's gated t-digest).
    "rel_percentiles" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          percentile(col("o_totalprice"), lit(0.25)).as("p25"),
          percentile(col("o_totalprice"), lit(0.5)).as("p50"),
          percentile(col("o_totalprice"), lit(0.75)).as("p75"),
          count(lit(1)).as("n"))),

    // Navigation window functions with explicit frames: first/last/nth
    // over a deterministic order — o_orderkey is UNIQUE, so the frame
    // contents are a total order ((l_orderkey, l_linenumber) is not
    // unique in this fixture and would make first/nth ambiguous).
    "rel_window_nav" -> { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        first(col("o_totalprice")).over(w).as("first_price"),
        last(col("o_totalprice")).over(full).as("last_price"),
        nth_value(col("o_totalprice"), 2).over(full).as("second_price"))
    },

    // Count-min sketch, gated like the HLL/t-digest rows: the sketch is
    // the driver-mergeable summary (that boundedness IS the operator);
    // the gate asserts its two guarantees against exact counts computed
    // distributively — never under, within eps·N over (seed-fixed, so
    // deterministic; the estimates themselves are engine-defined).
    "rel_count_min" -> { (s, dir) =>
      import s.implicits._
      val li = t(s, dir, "lineitem")
      val eps = 0.001
      val sketch = li.stat.countMinSketch(col("l_partkey"), eps, 0.99, 42)
      val slack = math.ceil(eps * sketch.totalCount()).toLong
      val probes = (1L to 5L).toSeq
      val est = probes.map(k => (k, sketch.estimateCount(k))).toDF("probe_key", "est")
      li.filter(col("l_partkey").isin(probes: _*))
        .groupBy(col("l_partkey").as("probe_key"))
        .agg(count(lit(1)).as("exact_n"))
        .join(broadcast(est), Seq("probe_key"))
        .select(col("probe_key"), col("exact_n"),
          (col("est") >= col("exact_n")).as("never_under"),
          (col("est") <= col("exact_n") + slack).as("within_eps"))
    },

    // S-format round-trips through the oracle gate: write CSV/JSONL to
    // scratch, read back with the declared schema, aggregate — the
    // oracle aggregates the ORIGINAL table, so any value mangled by
    // serialization (double shortest-round-trip, nulls, quoting) flips
    // the hash.
    "src_csv_roundtrip" -> { (s, dir) =>
      val path = layoutPath("orders_csv")
      val src = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      Sources.writeCsv(src, path)
      // Read-back schema is DERIVED from the source frame, not hard-coded:
      // if the driver's fixture generation shifts a column's physical type,
      // the declared read shifts with it instead of silently re-casting.
      // The price sum leaves the gate as exact integer CENTS — a decimal
      // column renders scale-dependently ("x.00" vs "x.0") once a checker
      // materializes one side as float, so no decimal crosses the boundary.
      Sources.readCsv(s, path, src.schema)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          (sum(col("o_totalprice").cast("decimal(18,2)")) * 100).cast("long")
            .as("sum_price_cents"),
          min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
    },

    // Schema evolution: generation 1 writes (key, price); generation 2
    // appends (key, price, priority); a mergeSchema read unions the
    // schemas, backfilling generation-1 rows with NULL priority — the
    // lakehouse column-add path. The oracle reproduces the union from
    // the source table (priority visible only for the gen-2 half), so a
    // read that dropped either generation's column set turns the hash.
    "src_schema_evolution" -> { (s, dir) =>
      val path = layoutPath("orders_evo")
      val o = t(s, dir, "orders")
      o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(path)
      o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        .write.mode("append").parquet(path)
      s.read.option("mergeSchema", "true").parquet(path)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_rows"),
          (sum(col("o_totalprice").cast("decimal(18,2)")) * 100).cast("long")
            .as("sum_price_cents"))
    },

    "src_json_roundtrip" -> { (s, dir) =>
      val path = layoutPath("orders_json")
      val src = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      Sources.writeJsonLines(src, path)
      Sources.readJsonLines(s, path, src.schema)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          (sum(col("o_totalprice").cast("decimal(18,2)")) * 100).cast("long")
            .as("sum_price_cents"))
    },

    // binaryFile round-trip — the multimodal ingestion path: one opaque
    // .bin file per document (executor-side writes), read back via the
    // binaryFile source; id parsed from the path, byte length and
    // content md5 gated against the original strings. Any byte the
    // file/read cycle mangles (encoding, truncation, content cap) flips
    // the hash.
    "src_binaryfile" -> { (s, dir) =>
      val path = layoutPath("docs_bin")
      Sources.writeBinaryFiles(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", path)
      Sources.readBinaryFiles(s, path)
        .select(
          regexp_extract(col("path"), "(\\d+)\\.bin$", 1).cast("long")
            .as("doc_id"),
          col("length").as("n_bytes"),
          md5(col("content")).as("content_md5"))
    },

    "src_orc_roundtrip" -> { (s, dir) =>
      val path = layoutPath("orders_orc")
      Sources.writeOrc(t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")), path)
      Sources.readOrc(s, path)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          (sum(col("o_totalprice").cast("decimal(18,2)")) * 100).cast("long")
            .as("sum_price_cents"),
          min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
    },

    // SCD2 interval build: each (user, event) change row becomes a
    // [valid_from, valid_to) validity interval, NULL-open for current.
    "rel_scd2" -> ((s, dir) =>
      Profile.scd2(t(s, dir, "events"), "user_id", Seq("ts", "event_id"),
        Seq("event_type", "value"))
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("valid_from"), col("valid_to"), col("is_current"))),

    // Fixed-grid histogram of order totals: 16 buckets over [0, 400k).
    "rel_histogram" -> ((s, dir) =>
      Profile.histogram(t(s, dir, "orders"), "o_totalprice",
        lo = 0.0, hi = 400000.0, nBuckets = 16)),

    // PSI drift monitor between the pre-/post-1998 order cohorts: per-bin
    // smoothed-rate contributions plus the decimal-summed total — the
    // distribution-shift gate run between ingest batches.
    "rel_drift_psi" -> { (s, dir) =>
      val o = t(s, dir, "orders")
      Profile.psiDrift(
        o.filter(col("o_orderdate") < to_timestamp(lit("1998-01-01"))),
        o.filter(col("o_orderdate") >= to_timestamp(lit("1998-01-01"))),
        "o_totalprice", lo = 0.0, hi = 500000.0, nBuckets = 16)
    },

    // Winsorization of the fat-tailed price column into its per-flag
    // [p05, p95] band; the clipped sum accumulates in DECIMAL(18,2) so
    // the gate is fold-order-exact.
    "rel_winsorize" -> ((s, dir) =>
      Profile.winsorize(t(s, dir, "lineitem"), "l_returnflag",
          "l_extendedprice", pLo = 0.05, pHi = 0.95)
        .withColumn("sum_winsorized_c",
          (col("sum_winsorized") * 100).cast("long"))
        .drop("sum_winsorized")),

    // Incremental aggregate maintenance: the materialized view's state
    // (n, decimal sum) computed on the OLD partition is merged with the
    // DELTA batch's partials by pure algebra (sum of sums, sum of
    // counts) — never touching old rows again. The oracle recomputes
    // from the full table, so the gate proves the merge is lossless:
    // the property that lets a 100 TB rollup absorb a daily batch at
    // delta cost.
    "rel_delta_merge" -> { (s, dir) =>
      val o = t(s, dir, "orders")
      def part(df: DataFrame) = df.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("s"))
      val old = part(o.filter(col("o_orderkey") % 5 =!= 0))
      val delta = part(o.filter(col("o_orderkey") % 5 === 0))
      old.unionByName(delta)
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("n")).as("n_orders"),
          (sum(col("s")) * 100).cast("long").as("sum_price_cents"))
    },

    // Bucket-level sync checksums (the incremental-replication audit:
    // find WHICH key range changed without a full diff): per-bucket
    // order-independent sum of md5-derived row hashes. Digest columns
    // are ints + enum strings only — float formatting never enters the
    // hash, so both engines digest identical bytes. One map-side-
    // combined aggregate; at 100 TB each side computes its table's
    // checksum locally and only nBuckets rows cross the wire.
    "rel_bucket_checksums" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(expr("o_orderkey div 1000").as("bucket"),
          conv(substring(md5(concat_ws("|",
              col("o_orderkey"), col("o_custkey"),
              col("o_orderstatus"), col("o_orderpriority"))), 1, 8), 16, 10)
            .cast("long").as("h"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_rows"), sum(col("h")).as("checksum"))),

    // Incremental-sync detection: which buckets must be reprocessed —
    // the rel_bucket_checksums digest computed on BOTH synthetic
    // versions (the rel_table_diff fixtures) and full-outer-joined on
    // bucket; a bucket re-syncs iff its checksum or row count moved.
    // Only 2·nBuckets digest rows cross the wire — never the tables.
    // Incremental aggregate maintenance: the stored base state plus a
    // signed CDC delta (inserts +1, retractions −1) merged by plain
    // addition — the fact table is never rescanned — and gated EQUAL to
    // the oracle's from-scratch recompute of the post-delta table.
    // base = 95% of lineitem; inserts = the other 5%; deletes = the
    // base rows with l_orderkey % 17 == 0.
    "rel_incremental_agg" -> { (s, dir) =>
      val li = t(s, dir, "lineitem").select(col("l_returnflag"),
        col("l_linestatus"), col("l_orderkey"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
      val keys = Seq("l_returnflag", "l_linestatus")
      val base = li.filter(col("l_orderkey") % 20 =!= 0)
      val inserts = li.filter(col("l_orderkey") % 20 === 0)
      val deletes = base.filter(col("l_orderkey") % 17 === 0)
      Profile.mergeAggStates(Seq(
          Profile.signedAggState(base, keys, col("cents"), 1),
          Profile.signedAggState(inserts, keys, col("cents"), 1),
          Profile.signedAggState(deletes, keys, col("cents"), -1)), keys)
        .select(col("l_returnflag"), col("l_linestatus"), col("n_rows"),
          col("sum_v").as("sum_cents"),
          round(col("sum_v").cast("double") / col("n_rows"), 6)
            .as("avg_cents"))
    },

    // Incremental maintenance of a JOIN view — the delta-join identity:
    // with A_new = A ⊕ ΔA and B_new = B ⊕ ΔB,
    //   V_new = V_old ⊕ agg(ΔA ⋈ B_old) ⊕ agg(A_new ⋈ ΔB)
    // (the ΔA⋈ΔB cross term rides inside the second term). ΔA carries
    // signs (order inserts +1, retractions −1); customers gain rows
    // only. Neither fact table is rescanned beyond V_old's one-time
    // state; the gate is the oracle's from-scratch recompute of
    // A_new ⋈ B_new.
    "rel_mv_join" -> { (s, dir) =>
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val keys = Seq("c_nationkey")
      val aOld = o.filter(col("o_orderkey") % 10 =!= 0)
      val aIns = o.filter(col("o_orderkey") % 10 === 0)
      val aDel = aOld.filter(col("o_orderkey") % 13 === 0)
      val aNew = o.filter(col("o_orderkey") % 10 === 0 ||
        col("o_orderkey") % 13 =!= 0)
      val bOld = c.filter(col("c_custkey") % 8 =!= 0)
      val bIns = c.filter(col("c_custkey") % 8 === 0)
      // customer is the dim side: broadcast it so each delta term is a
      // map-side join + map-side-combined aggregate — no fact shuffle
      def j(a: org.apache.spark.sql.DataFrame,
          b: org.apache.spark.sql.DataFrame) =
        a.join(broadcast(b), col("o_custkey") === col("c_custkey"))
      Profile.mergeAggStates(Seq(
          Profile.signedAggState(j(aOld, bOld), keys, col("cents"), 1),
          Profile.signedAggState(j(aIns, bOld), keys, col("cents"), 1),
          Profile.signedAggState(j(aDel, bOld), keys, col("cents"), -1),
          Profile.signedAggState(j(aNew, bIns), keys, col("cents"), 1)), keys)
        .select(col("c_nationkey"), col("n_rows"),
          col("sum_v").as("sum_cents"))
    },

    // TWO-SIDED delta-join maintenance: B (customer) now retracts too.
    // With ΔA = aIns − aDel and ΔB = bIns − bDel,
    //   V_new = V_old ⊕ agg(ΔA ⋈ B_old) ⊕ agg(A_new ⋈ ΔB)
    // where the second term expands to the two signed frames
    // agg(A_new ⋈ bIns)⁺ ⊕ agg(A_new ⋈ bDel)⁻ — retracting a customer
    // retracts every order row it owns from the view, and a nation
    // whose rows net to zero vanishes (the mergeAggStates rule). Gate:
    // the oracle's from-scratch recompute of A_new ⋈ B_new.
    "rel_mv_join_2way" -> { (s, dir) =>
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val keys = Seq("c_nationkey")
      val aOld = o.filter(col("o_orderkey") % 10 =!= 0)
      val aIns = o.filter(col("o_orderkey") % 10 === 0)
      val aDel = aOld.filter(col("o_orderkey") % 13 === 0)
      val aNew = o.filter(col("o_orderkey") % 10 === 0 ||
        col("o_orderkey") % 13 =!= 0)
      val bOld = c.filter(col("c_custkey") % 8 =!= 0)
      val bIns = c.filter(col("c_custkey") % 8 === 0)
      val bDel = bOld.filter(col("c_custkey") % 9 === 0)
      def j(a: org.apache.spark.sql.DataFrame,
          b: org.apache.spark.sql.DataFrame) =
        a.join(broadcast(b), col("o_custkey") === col("c_custkey"))
      Profile.mergeAggStates(Seq(
          Profile.signedAggState(j(aOld, bOld), keys, col("cents"), 1),
          Profile.signedAggState(j(aIns, bOld), keys, col("cents"), 1),
          Profile.signedAggState(j(aDel, bOld), keys, col("cents"), -1),
          Profile.signedAggState(j(aNew, bIns), keys, col("cents"), 1),
          Profile.signedAggState(j(aNew, bDel), keys, col("cents"), -1)), keys)
        .select(col("c_nationkey"), col("n_rows"),
          col("sum_v").as("sum_cents"))
    },

    "rel_incremental_detect" -> { (s, dir) =>
      val o = t(s, dir, "orders")
      def digest(v: DataFrame, side: String) = v
        .select(expr("o_orderkey div 1000").as("bucket"),
          conv(substring(md5(concat_ws("|",
              col("o_orderkey"), col("o_custkey"),
              col("o_orderstatus"), col("o_orderpriority"))), 1, 8), 16, 10)
            .cast("long").as("h"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as(s"n_$side"), sum(col("h")).as(s"ck_$side"))
      val v1 = o.filter(col("o_orderkey") % 10 =!= 0)
      val v2 = o.filter(col("o_orderkey") % 7 =!= 0)
        .withColumn("o_orderstatus",
          when(col("o_orderkey") % 3 === 0, lit("X"))
            .otherwise(col("o_orderstatus")))
      digest(v1, "v1").join(digest(v2, "v2"), Seq("bucket"), "full_outer")
        .filter(!(col("ck_v1") <=> col("ck_v2")) ||
          !(col("n_v1") <=> col("n_v2")))
        .select(col("bucket"),
          coalesce(col("n_v1"), lit(0L)).as("n_v1"),
          coalesce(col("n_v2"), lit(0L)).as("n_v2"))
    },

    // One-pass per-column profile (nulls + exact distincts for every
    // column of orders).
    "rel_profile" -> ((s, dir) =>
      Profile.profile(t(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority"))),

    // Distribution windows the rel_* suite hadn't covered: ntile buckets
    // + the exact-rational percent_rank/cume_dist pair (ratios of ints —
    // identical doubles on both engines).
    "rel_window_ntile" -> { (s, dir) =>
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
      t(s, dir, "customer").select(
        col("c_custkey"), col("c_nationkey"),
        ntile(4).over(w).as("tile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"))
    },

    // HLL++ sketch. The estimate itself is engine-defined, so the gated
    // surface is quantitative: the engine computes BOTH the sketch and the
    // exact count and asserts the estimate lands within ±5%; the oracle's
    // exact counts + `true` make any out-of-bound estimate a hash mismatch.
    "rel_approx_distinct" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey")).as("approx"),
          countDistinct(col("l_partkey")).as("exact_parts"),
          countDistinct(col("l_orderkey")).as("exact_orders"))
        .select(col("l_returnflag"), col("exact_parts"), col("exact_orders"),
          (abs(col("approx") - col("exact_parts")).cast("double") /
            col("exact_parts") <= 0.05).as("approx_within_5pct"))),

    // t-digest-style sketch gated like the HLL row: the engine computes
    // both the approx and the exact median and asserts ±5%.
    "rel_approx_quantile" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(percentile_approx(col("o_totalprice"), lit(0.5), lit(10000)).as("approx_med"),
          median(col("o_totalprice")).as("exact_med"))
        .select(col("o_orderpriority"), col("exact_med"),
          (abs(col("approx_med") - col("exact_med")) / col("exact_med") <= 0.05)
            .as("approx_within_5pct"))),

    // ── array functions over the embedding column ──────────────────────
    "rel_array_funcs" -> ((s, dir) =>
      // float32 values widened to double at the gate (exact widening,
      // same bits both sides): a checker that upcasts only ONE side
      // would render 6.55f as "6.550000190734863" vs "6.55"
      t(s, dir, "embeddings")
        .select(
          col("vec_id"),
          size(col("embedding")).cast("long").as("dim"),
          element_at(col("embedding"), 1).cast("double").as("first_val"),
          element_at(col("embedding"), -1).cast("double").as("last_val"),
          array_max(col("embedding")).cast("double").as("max_val"),
          array_min(col("embedding")).cast("double").as("min_val"))),

    // ── statistics aggregates ──────────────────────────────────────────
    "rel_stats" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          median(col("o_totalprice")).as("median_price"),
          stddev_samp(col("o_totalprice")).as("sd_price"),
          var_samp(col("o_totalprice")).as("var_price"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"))),

    // Numeric band self-join (|Δprice| ≤ 0.5 — near-equal-amount record
    // matching): bucket quantization + 3-bucket fan equi-join, residual
    // exact filter — no nested loop (the range-join family's value-axis
    // member). The oracle runs the naive theta join; the engine's bucket
    // plan must reproduce its pairs exactly.
    "rel_band_join" -> { (s, dir) =>
      val o = t(s, dir, "orders")
      val l = o.select(col("o_orderkey").as("l_key"),
        col("o_totalprice").as("l_price"))
      val r = o.select(col("o_orderkey").as("r_key"),
        col("o_totalprice").as("r_price"))
      RangeJoin.bandJoin(l, r, "l_price", "r_price", width = 0.5)
        .filter(col("l_key") < col("r_key"))
        .select(col("l_key"), col("r_key"),
          (col("l_price") - col("r_price")).as("diff"))
    },

    // Mergeable-sketch distinct counting — the 100 TB architecture:
    // per-partition (per-segment) DataSketches HLL sketches, merged by
    // hll_union_agg into the global estimate. Gated like the
    // approx-quantile row: exact global distinct + a within-2% flag on
    // the merged estimate (sketch internals are engine-specific; the
    // MERGEABILITY and accuracy contract are what the gate pins).
    // Mergeable quantile sketch (q-digest-grid family): three per-shard
    // sketches built independently (one per returnflag), merged by pure
    // count addition — exactly associative, so the oracle may replay the
    // merge as one global aggregate — then six rank quantiles answered
    // from the merged state. The exact side reuses the same machinery at
    // width 1 (rank selection over the distinct-value frame), and the
    // within-width boolean is the sketch's unconditional guarantee, not
    // a distribution-dependent hope.
    "rel_quantile_merge" -> { (s, dir) =>
      val width = 4096L
      val li = t(s, dir, "lineitem").select(
        // round, not cast: the DOUBLE price x 100 sits one ulp under the
        // integer and a truncating cast loses a cent vs DuckDB's rounding
        round(col("l_extendedprice") * 100).cast("long").as("cents"),
        col("l_returnflag"))
      val shards = Seq("A", "N", "R").map(f =>
        Profile.quantileSketch(li.filter(col("l_returnflag") === f),
          col("cents"), width))
      val qs = Seq(10, 25, 50, 75, 90, 99)
      val est = Profile.quantilesFromSketch(
        Profile.mergeQuantileSketches(shards), width, qs)
      val exact = Profile.quantilesFromSketch(
        Profile.quantileSketch(li, col("cents"), 1L), 1L, qs)
        .select(col("q_pct"), col("estimate").as("exact_v"))
      est.join(exact, Seq("q_pct"))
        .select(col("q_pct"), col("n"), col("est_bucket"), col("estimate"),
          col("exact_v"),
          (col("exact_v") - col("estimate") >= 0 &&
            col("exact_v") - col("estimate") < width).as("within_width"))
    },

    // The heavy-tailed twin: squared cents span ~10 decades, where any
    // fixed grid either explodes the state or loses the tail. The
    // log-bucketed sketch (sign + exact exponent + 11-bit mantissa
    // prefix; never a float log) keeps the SAME additive merge algebra —
    // the three shard states merge by count addition — and gates the
    // unconditional guarantee at every percentile: the exact rank-r
    // value lies inside the selected bucket's [estimate, est_upper), and
    // the bucket's width is <= max(1, estimate >> 11) — within-width in
    // LOG space, for any distribution.
    // Retractable quantile sketch — the rel_incremental_agg discipline
    // applied to the family's own sketches: the signed bucket states of
    // (base +1, inserts +1, deletes −1) merge by addition, and the
    // maintained sketch's quantile walk must EQUAL the oracle's
    // from-scratch sketch of the post-delta table. Only the DELTA is
    // scanned beyond the stored base state at 100 TB.
    "rel_quantile_retract" -> { (s, dir) =>
      val p = 12
      val li = t(s, dir, "lineitem").select(col("l_orderkey"),
        round(col("l_extendedprice") * 100).cast("long").as("val"))
      val base = li.filter(col("l_orderkey") % 20 =!= 0)
      val inserts = li.filter(col("l_orderkey") % 20 === 0)
      val deletes = base.filter(col("l_orderkey") % 17 === 0)
      val merged = Profile.mergeSignedSketches(Seq(
        Profile.quantileLogSketchSigned(base, col("val"), p, 1),
        Profile.quantileLogSketchSigned(inserts, col("val"), p, 1),
        Profile.quantileLogSketchSigned(deletes, col("val"), p, -1)))
      Profile.quantilesFromLogSketch(merged, p,
        Seq(10, 25, 50, 75, 90, 99))
    },

    "rel_quantile_log" -> { (s, dir) =>
      val p = 12
      val li = t(s, dir, "lineitem").select(
        round(col("l_extendedprice") * 100).cast("long").as("cents"),
        col("l_returnflag"))
      val v = li.select((col("cents") * col("cents")).as("val"),
        col("l_returnflag"))
      val shards = Seq("A", "N", "R").map(f =>
        Profile.quantileLogSketch(v.filter(col("l_returnflag") === f),
          col("val"), p))
      val qs = Seq(10, 25, 50, 75, 90, 99)
      val est = Profile.quantilesFromLogSketch(
        Profile.mergeQuantileSketches(shards), p, qs)
      val exact = Profile.quantilesFromSketch(
        Profile.quantileSketch(v, col("val"), 1L), 1L, qs)
        .select(col("q_pct"), col("estimate").as("exact_v"))
      est.join(exact, Seq("q_pct"))
        .select(col("q_pct"), col("n"), col("est_bucket"), col("estimate"),
          col("est_upper"), col("exact_v"),
          (col("exact_v") >= col("estimate") &&
            col("exact_v") < col("est_upper")).as("within_bucket"),
          (col("est_upper") - col("estimate") <=
            greatest(lit(1L), shiftright(col("estimate"), p - 1)))
            .as("rel_width_ok"))
    },

    "rel_hll_merge" -> { (s, dir) =>
      val c = t(s, dir, "customer")
      val per = c.groupBy(col("c_mktsegment"))
        .agg(hll_sketch_agg(col("c_custkey")).as("sk"))
      val merged = per.agg(
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      val exact = c.agg(countDistinct(col("c_custkey")).as("n_exact"))
      exact.crossJoin(broadcast(merged))
        .select(col("n_exact"),
          (abs(col("est") - col("n_exact")) <=
            col("n_exact") * 0.02).as("merge_within_2pct"))
    },

    // Small-file compaction plan: per-day "files" (bytes proxied by row
    // count) packed into contiguous ~25 KB bins by cumulative-sum
    // bucketing — the planner a table service runs before rewriting a
    // fragmented partition. The window runs over the collapsed day
    // frame; integer cumsum, floor-division bin ids → hash-gates.
    "rel_compaction_plan" -> { (s, dir) =>
      val f = t(s, dir, "orders").groupBy(col("o_orderdate").as("day"))
        .agg((count(lit(1)) * 100).as("bytes"))
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      f.withColumn("cum", sum(col("bytes")).over(w))
        // integer floor division on longs, matching the oracle's exact
        // `//` — a double-division round-trip can misbin once cumulative
        // bytes approach ~1e16
        .withColumn("bin", expr("(cum - bytes) div 25000"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("total_bytes"),
          min(col("day")).as("min_day"), max(col("day")).as("max_day"))
    },

    // Deterministic column masking for governed exports: digits
    // structurally masked (length/format preserved) plus a stable md5
    // pseudonym — the same masking on every engine/rerun, so masked
    // extracts stay joinable on the pseudonym.
    "rel_masking" -> ((s, dir) =>
      t(s, dir, "customer")
        .select(col("c_custkey"),
          regexp_replace(col("c_name"), "[0-9]", "#").as("masked_name"),
          substring(md5(col("c_name")), 1, 12).as("pseudonym"),
          col("c_mktsegment"))),

    // k-anonymity / l-diversity audit over (nation, $1000 balance band)
    // quasi-identifiers with the market segment as the sensitive
    // attribute: one grouped aggregate, classes under k=5 or without
    // 3-diverse segments are the release blockers.
    // Bands run over the +$1000-shifted balance so the integer division
    // never sees a negative operand (Spark `div` truncates toward zero,
    // DuckDB `//` floors — they agree only on non-negatives).
    "rel_k_anonymity" -> ((s, dir) =>
      Profile.kAnonymity(
        t(s, dir, "customer").select(col("c_nationkey"),
          expr("(CAST(round(c_acctbal * 100) AS BIGINT) + 100000) div 100000")
            .as("bal_band"),
          col("c_mktsegment")),
        Seq("c_nationkey", "bal_band"), "c_mktsegment", k = 5, l = 3)),

    // Local-DP frequency estimation (k-ary randomized response, p=0.75
    // over the 5 market segments): deterministic md5 coins stand in for
    // the device RNG so both engines flip identically; debiased
    // estimates land next to the true counts. Dyadic p ⇒ exact q/(p−q)
    // literals.
    "rel_ldp_freq" -> ((s, dir) =>
      Profile.ldpFrequency(t(s, dir, "customer"), "c_custkey",
        "c_mktsegment",
        domain = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
          "MACHINERY"),
        pKeep = 0.75)),

    // Fellegi–Sunter probabilistic record linkage: sorted-neighborhood
    // candidates ($50 balance blocks, 3 neighbors), u-odds estimated
    // exactly from the corpus and reduced to ppm, match/non-match
    // decided by exact integer cross-multiplication (threshold odds
    // 10:1). Every output cell is integer/string/boolean.
    "dedup_er_pairs" -> { (s, dir) =>
      val prep = t(s, dir, "customer").select(
        col("c_custkey").as("rid"),
        col("c_nationkey"), col("c_mktsegment"),
        substring(col("c_name"), -2, 2).as("suffix2"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT) + 100000").as("cents"))
        .withColumn("bal_wide", expr("cents div 100000"))
        .withColumn("block", expr("cents div 5000"))
      Dedup.erScoredPairs(prep, "rid", "block", "cents",
        Seq("c_nationkey", "c_mktsegment", "suffix2", "bal_wide"),
        window = 3, thresholdNum = 10L, thresholdDen = 1L)
    },

    // Deequ-style release gate over orders: six constraints in ONE
    // aggregation pass (row floor, key-uniqueness deficit, completeness,
    // value domain, bound, format), plus referential containment of
    // custkeys as a second single-pass suite over the anti-join — the
    // whole audit is two scans regardless of how many checks ride.
    "rel_quality_checks" -> { (s, dir) =>
      val orders = t(s, dir, "orders")
      val base = Profile.qualityChecks(orders, Seq(
        ("row_count_min", count(lit(1)), (m: Column) => m >= 1000L),
        ("orderkey_unique",
          count(lit(1)) - countDistinct(col("o_orderkey")),
          (m: Column) => m === 0L),
        ("custkey_complete",
          sum(when(col("o_custkey").isNull, 1L).otherwise(0L)),
          (m: Column) => m === 0L),
        ("status_domain",
          sum(when(col("o_orderstatus").isin("O", "F", "P"), 0L).otherwise(1L)),
          (m: Column) => m === 0L),
        ("price_positive",
          sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)),
          (m: Column) => m === 0L),
        ("priority_format",
          sum(when(col("o_orderpriority").like("_-%"), 0L).otherwise(1L)),
          (m: Column) => m === 0L)))
      val orphans = orders.join(t(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"), "left_anti")
      base.unionAll(Profile.qualityChecks(orphans, Seq(
        ("custkey_referential", count(lit(1)), (m: Column) => m === 0L))))
    },

    // Key-skew profile of orders-per-customer — the operational report
    // behind salting/AQE decisions: Gini concentration of the key load
    // histogram plus the 5 heaviest keys with their load share. The
    // rank i over (x, key) is a TWO-LEVEL bucketed prefix count (the
    // pack_sequences formulation): intra-bucket row_numbers run
    // partitioned by (x, key-stripe), and only the COLLAPSED bucket
    // frame (one row per (load level, stripe) — stripeWidth× smaller
    // than the distinct-key frame, recurse another level if even that
    // is too wide) crosses a single-task ordered window. A direct
    // Window.orderBy over the distinct keys computes the same i but
    // serializes every key through one task — billions at 100 TB.
    // Integer sums, two single divisions → hash-gates.
    "rel_key_skew" -> { (s, dir) =>
      val stripeWidth = 4096L
      // persisted: the collapsed key frame feeds the intra-bucket rank,
      // the bucket-prefix branch, and the totals — one corpus aggregate,
      // not three (the bm25 lesson). The prefix side is NOT broadcast:
      // its worst case (diverse counts within a stripe) approaches the
      // key frame — the join keys match the intra window's partitioning,
      // so only the small side exchanges; AQE may still broadcast it at
      // runtime when it IS small.
      val cnt = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("x"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val ranked = TwoLevelRank.rank(cnt, Nil, Seq("x"),
          expr(s"o_custkey div $stripeWidth"), Seq("o_custkey"), "i")
        .select(col("o_custkey"), col("x"), col("i"))
      val tot = ranked.agg(sum(col("x")).as("sx"), count(lit(1)).as("nk"),
        sum(col("i") * col("x")).as("six"))
      ranked.crossJoin(broadcast(tot))
        .filter(col("i") > col("nk") - 5)
        .select(col("o_custkey"), col("x").as("n_orders"),
          (col("x").cast("double") / col("sx")).as("share"),
          ((lit(2) * col("six") - (col("nk") + 1) * col("sx")).cast("double") /
            (col("nk") * col("sx"))).as("gini"))
    },

    // Pairwise Pearson correlation matrix over lineitem's numeric
    // columns, ONE scan: all moment sums accumulate in DECIMAL (exact,
    // fold-order-free), then each corr is a fixed IEEE expression tree
    // over the exact sums — hash-gates where naive corr() would drift in
    // the last ulps of its running accumulation. The 3-row-per-group
    // "matrix" unpivots via explode over the aggregated frame, so the
    // scan+aggregate never re-runs per pair.
    "rel_corr_matrix" -> { (s, dir) =>
      // Asymmetric product widths: DuckDB computes a decimal product in
      // the RESULT width's storage int, so (13,6)×(13,6)=26 digits still
      // runs in INT64 and overflows — one 19,6 operand forces INT128.
      // Spark: decimal(19,6)×decimal(13,6) → decimal(33,12), same values.
      def d6(c: String) = col(c).cast("decimal(13,6)")
      def d19(c: String) = col(c).cast("decimal(19,6)")
      val a = t(s, dir, "lineitem").groupBy(col("l_returnflag")).agg(
        count(lit(1)).as("n"),
        sum(d6("l_quantity")).as("sq"),
        sum(d6("l_extendedprice")).as("sp"),
        sum(d6("l_discount")).as("sd"),
        sum(d19("l_quantity") * d6("l_quantity")).as("sqq"),
        sum(d19("l_extendedprice") * d6("l_extendedprice")).as("spp"),
        sum(d19("l_discount") * d6("l_discount")).as("sdd"),
        sum(d19("l_quantity") * d6("l_extendedprice")).as("sqp"),
        sum(d19("l_quantity") * d6("l_discount")).as("sqd"),
        sum(d19("l_extendedprice") * d6("l_discount")).as("spd"))
      def dd(c: String) = col(c).cast("double")
      def corrOf(sx: String, sy: String, sxy: String, sxx: String,
          syy: String) =
        (col("n") * dd(sxy) - dd(sx) * dd(sy)) /
          sqrt((col("n") * dd(sxx) - dd(sx) * dd(sx)) *
            (col("n") * dd(syy) - dd(sy) * dd(sy)))
      a.select(col("l_returnflag"), col("n"),
          explode(array(
            struct(lit("qty_price").as("pair"),
              corrOf("sq", "sp", "sqp", "sqq", "spp").as("corr")),
            struct(lit("qty_disc").as("pair"),
              corrOf("sq", "sd", "sqd", "sqq", "sdd").as("corr")),
            struct(lit("price_disc").as("pair"),
              corrOf("sp", "sd", "spd", "spp", "sdd").as("corr")))).as("pc"))
        .select(col("l_returnflag"), col("pc.pair").as("pair"), col("n"),
          col("pc.corr").as("corr"))
    },

    // ── skew mitigation (results provably equal the unsalted plan) ─────
    "skew_salted_join" -> { (s, dir) =>
      val dim = t(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      Skew.saltedJoin(t(s, dir, "orders"), dim, "o_custkey", salts = 8,
        bigIdCols = Seq("o_orderkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          // DECIMAL accumulation: exact, independent of the row order the
          // salted shuffle produces (see Skew doc).
          sum(col("o_totalprice").cast("decimal(38,6)")).cast("double").as("revenue"))
    },

    "skew_salted_agg" -> ((s, dir) =>
      Skew.saltedCountSum(t(s, dir, "orders"), "o_orderpriority", "o_totalprice",
        salts = 8, idCols = Seq("o_orderkey"))),

    // Native expressions through the SQL surface (FunctionRegistry). The
    // query installs them itself: a session built without
    // spark.sql.extensions=graft.GraftExtensions has none.
    "sql_native_funcs" -> { (s, dir) =>
      GraftBridge.applyFunctionExtensions(new GraftExtensions, s)
      t(s, dir, "embeddings").createOrReplaceTempView("embeddings")
      s.sql(
        """SELECT e.vec_id,
          |       cosine_sim(CAST(e.embedding AS ARRAY<DOUBLE>),
          |                  CAST(q.embedding AS ARRAY<DOUBLE>)) AS sim
          |FROM embeddings e
          |CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
          |WHERE e.vec_id <> 0""".stripMargin)
    },

    // Correlated scalar subquery through the SQL surface: orders costing
    // more than 2x their customer's average order. Verbatim-shared ANSI.
    // Round-5 registered functions through the SQL surface (struct field
    // access on text_repetition, array result of shingle_md5_keys) — the
    // same codepaths as the Column API, resolved by name via the registry.
    "sql_text_funcs" -> { (s, dir) =>
      GraftBridge.applyFunctionExtensions(new GraftExtensions, s)
      t(s, dir, "documents").createOrReplaceTempView("documents")
      s.sql(
        """SELECT doc_id,
          |       text_repetition(text).n_distinct AS n_distinct,
          |       CAST(size(shingle_md5_keys(text, 3)) AS BIGINT) AS n_shingles
          |FROM documents""".stripMargin)
    },

    "sql_correlated_subquery" -> { (s, dir) =>
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(sqlCorrelated)
    },

    // Grouped array aggregation, serialized to a join-string so the
    // output stays checker-sortable; order pinned by array_sort.
    "rel_agg_arrays" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          array_join(array_sort(collect_set(col("l_linestatus"))), ",").as("statuses"),
          countDistinct(col("l_linestatus")).as("n_statuses"))),

    // GROUPING SETS with grouping() disambiguation of "null because
    // aggregated" vs "null in the data".
    "rel_grouping_sets" -> { (s, dir) =>
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(sqlGroupingSets)
    },

    // ── SQL entry point (the reference exposes none — SURVEY.md §2.5) ──
    // The engine's spark.sql surface: same ANSI text runs on Spark and
    // the oracle verbatim. TPC-H Q5-style revenue per nation.
    "sql_entrypoint" -> { (s, dir) =>
      Seq("customer", "orders", "lineitem", "nation", "region")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(sqlQ5)
    },

    // EXISTS / NOT EXISTS / scalar subqueries through the SQL surface —
    // Catalyst rewrites them to semi/anti/scalar joins; the identical
    // text runs on both engines.
    "sql_exists_subquery" -> { (s, dir) =>
      Seq("customer", "orders").foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(sqlExists)
    },

    // LATERAL VIEW explode through the SQL surface (HiveQL spelling on
    // Spark, unnest on the oracle — same token relation).
    "sql_lateral_explode" -> { (s, dir) =>
      t(s, dir, "documents").createOrReplaceTempView("documents")
      s.sql("""SELECT lang, tok, count(*) AS n
              |FROM documents
              |LATERAL VIEW explode(split(trim(text), '\\s+')) x AS tok
              |GROUP BY lang, tok HAVING count(*) > 100""".stripMargin)
    },

    // Correlated LATERAL subquery join (Spark 4 + DuckDB share the
    // syntax verbatim): per-order aggregate computed in a lateral
    // derived table; Catalyst decorrelates it to a join + aggregate.
    "sql_lateral_join" -> { (s, dir) =>
      Seq("orders", "lineitem").foreach(n =>
        t(s, dir, n).createOrReplaceTempView(n))
      s.sql(sqlLateralJoin)
    },

    // Spark 4 native WITH RECURSIVE (transitive reachability over the
    // per-region rank chain) — the identical text runs on the oracle.
    "sql_recursive_cte" -> { (s, dir) =>
      t(s, dir, "nation").createOrReplaceTempView("nation")
      s.sql(sqlRecursive)
    },

    // Canonicalization pass (lowercase + whitespace collapse + trim) —
    // the normalize-before-exact-dedup stage; the md5 of the normalized
    // form pins every character of the transform. Zero shuffles.
    "text_normalize" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))).as("norm_md5"),
        length(col("text")).cast("long").as("len_before"),
        length(trim(regexp_replace(lower(col("text")), "\\s+", " ")))
          .cast("long").as("len_after"))),

    // Asymmetric shingle containment (doc-in-doc / quotation detection —
    // the relation Jaccard misses). df-capped candidates bound the join.
    // EXACT near-dup pairs by prefix filtering (SSJoin/PPJoin family) —
    // the deterministic complement to MinHash-LSH: candidates key on
    // each doc's RAREST tokens under the global df order (a pair with
    // Jaccard ≥ t provably shares a prefix token), then the sorted-hash
    // merge walk verifies. No recall knob, no bands: every qualifying
    // pair is generated.
    "dedup_prefix_filter" -> ((s, dir) =>
      Dedup.prefixFilterPairs(t(s, dir, "documents"), "doc_id", "text",
        minJaccard = 0.5)),

    "dedup_containment" -> ((s, dir) =>
      Dedup.shingleContainment(t(s, dir, "documents"), "doc_id", "text",
        n = 3, maxDf = 50, minShared = 3, minContainment = 0.8)),

    // ── dedup suite ───────────────────────────────────────────────────
    "dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(t(s, dir, "documents"), "text", "doc_id")
        .select(md5(col("text")).as("text_md5"), col("keeper_id"), col("n_copies"))),

    // xxhash64-based signatures: engine-defined, rows-only (pinned by
    // planted-dup tests + the hash-gated md5 twin below).
    "dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text",
        threshold = 0.0)),

    // Hash-gated oracle twin of the FULL MinHash+LSH pipeline: identical
    // stages (fused signature pass → narrow band self-join → signature
    // re-attach → agreement), engine-independent hashes (md5-derived base
    // hash, raw slice band keys) so DuckDB replicates every stage — the
    // real pipeline is verified end-to-end, not a simplification.
    "dedup_minhash_md5" -> ((s, dir) =>
      Dedup.minhashLshPairsMd5(t(s, dir, "documents"), "doc_id", "text")),

    // Chunks projected as scalar columns (one per 16-bit pigeonhole band):
    // array columns aren't sortable by the driver's checker.
    "dedup_simhash" -> ((s, dir) =>
      Dedup.withSimhash(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"),
          element_at(col("chunks"), 1).as("chunk0"),
          element_at(col("chunks"), 2).as("chunk1"),
          element_at(col("chunks"), 3).as("chunk2"),
          element_at(col("chunks"), 4).as("chunk3"))),

    // Hash-gated oracle twin of the SimHash pass: same fused expression,
    // same per-bit vote → sign → 16-bit pigeonhole chunks, but each
    // token's 64 hash bits come from md5 (first 8 digest bytes) so DuckDB
    // recomputes every chunk value bit-for-bit.
    "dedup_simhash_md5" -> ((s, dir) =>
      Dedup.withSimhash(t(s, dir, "documents"), "doc_id", "text", md5Base = true)
        .select(col("doc_id"),
          element_at(col("chunks"), 1).as("chunk0"),
          element_at(col("chunks"), 2).as("chunk1"),
          element_at(col("chunks"), 3).as("chunk2"),
          element_at(col("chunks"), 4).as("chunk3"))),

    // End-to-end dedup: LSH candidates → exact Jaccard verify (≥ 0.5) →
    // transitive closure into duplicate groups (keeper = min doc_id). The
    // oracle rebuilds the same groups with a recursive-CTE connected-
    // components walk over the all-pairs ≥ 0.5 edge set — the full
    // pipeline output is hash-gated, not just the pair list.
    "dedup_groups" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      Dedup.duplicateGroups(
        Dedup.jaccardVerifiedPairs(docs, "doc_id", "text",
          Dedup.minhashLshCandidates(docs, "doc_id", "text"),
          n = 3, threshold = 0.5))
    },

    // Duplicate-cluster size report over the same transitive groups: how
    // many clusters of each size and how many documents they absorb —
    // the dedup-health summary every corpus run publishes (a heavy tail
    // here means boilerplate; a spike at 2 means true near-dups). Two
    // keyed aggregates over the group frame; integer outputs.
    "dedup_group_stats" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      Dedup.duplicateGroups(
          Dedup.jaccardVerifiedPairs(docs, "doc_id", "text",
            Dedup.minhashLshCandidates(docs, "doc_id", "text"),
            n = 3, threshold = 0.5))
        .groupBy(col("group_id")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("group_size"))
        .agg(count(lit(1)).as("n_groups"), sum(col("sz")).as("n_docs"))
    },

    // Soft dedup (duplicate-aware loss reweighting): every document
    // kept, weight = 1/|duplicate cluster| over the same transitive
    // groups, singletons weigh 1 — the alternative to hard removal when
    // near-dups carry variation worth training on. One duplicate-sized
    // aggregate + one corpus left join; the weight is a single IEEE
    // division from exact integers.
    "dedup_soft_weight" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      Dedup.softDedupWeights(docs,
        Dedup.duplicateGroups(
          Dedup.jaccardVerifiedPairs(docs, "doc_id", "text",
            Dedup.minhashLshCandidates(docs, "doc_id", "text"),
            n = 3, threshold = 0.5)))
    },

    // Representative selection over the same groups: keep the longest
    // member per duplicate group (tie → smaller id), singletons pass
    // through — the deduplicated corpus itself, hash-gated end to end.
    "dedup_keep_best" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      Dedup.keepBest(docs,
        Dedup.duplicateGroups(
          Dedup.jaccardVerifiedPairs(docs, "doc_id", "text",
            Dedup.minhashLshCandidates(docs, "doc_id", "text"),
            n = 3, threshold = 0.5)))
    },

    // Exact-substring (span-level) dedup, window-hash formulation: the
    // repeated-span dictionary (8-token windows in ≥2 distinct docs)...
    "dedup_spans" -> ((s, dir) =>
      Dedup.repeatedSpans(t(s, dir, "documents"), "doc_id", "text",
        n = 8, minDocs = 2)),

    // Maximal-repeat (ExactSubstr-class) dictionary: every ≥32-token span
    // occurring ≥2 times that is left- AND right-maximal — the
    // suffix-tree-internal-node set, so nested duplicates report ONCE at
    // full length (never their sub-windows), found by hash-doubling group
    // refinement in log(cap) rounds over the duplicated-region subset
    // only. cap=128 exceeds the fixture's max doc length, so the loud
    // cap guard cannot fire here.
    "dedup_max_repeats" -> ((s, dir) =>
      Dedup.maxRepeats(t(s, dir, "documents"), "doc_id", "text",
        minLen = 32, cap = 128)),

    // ...and the per-doc duplicated-window ratio built on it — exchanges
    // carry 60-bit md5 keys, never span text; dup_ratio is one IEEE
    // division of exact integers so it hash-gates.
    "dedup_span_ratio" -> ((s, dir) =>
      Dedup.spanDupRatio(t(s, dir, "documents"), "doc_id", "text",
        n = 8, minDocs = 2)),

    // The cleaning step over the same dictionary: drop every token under
    // a repeated window, reassemble; md5 of the rebuilt text pins every
    // surviving token position.
    "dedup_span_scrub" -> ((s, dir) =>
      Dedup.scrubSpans(t(s, dir, "documents"), "doc_id", "text",
        n = 8, minDocs = 2)
        .select(col("doc_id"), md5(col("text_clean")).as("clean_md5"),
          col("n_tokens"), col("n_removed"))),

    // The keep-ONE-copy removal rule ("Deduplicating Training Data"'s
    // ExactSubstr action): the globally first occurrence of each
    // duplicated window keeps its tokens, every other occurrence is
    // scrubbed — where span_scrub removes all copies of boilerplate.
    "dedup_span_keepfirst" -> ((s, dir) =>
      Dedup.keepFirstSpans(t(s, dir, "documents"), "doc_id", "text", n = 8)
        .select(col("doc_id"), md5(col("text_clean")).as("clean_md5"),
          col("n_tokens"), col("n_removed"))),

    // The same keep-one-copy rule at MAXIMAL-repeat granularity — the
    // actual ExactSubstr deletion: each >= 32-token maximal repeat's
    // first occurrence keeps its tokens, later occurrences scrub the
    // FULL span (one 93-token span, never 62 overlapping 32-windows),
    // and nothing below the 32-token threshold is touched.
    "dedup_span_keepfirst_maximal" -> ((s, dir) =>
      Dedup.keepFirstMaximalSpans(t(s, dir, "documents"), "doc_id", "text",
        minLen = 32, cap = 128)
        .select(col("doc_id"), md5(col("text_clean")).as("clean_md5"),
          col("n_tokens"), col("n_removed"))),

    // Scale shape: LSH candidate generation → exact Jaccard verify, linear
    // in candidates (a block self-join on a data column would be quadratic
    // within the block — kept only as the pre-blocked-data primitive).
    // Threshold 0.5 sits in the fixture's empirical gap (no pair between
    // 0.07 and 0.9), where 16×4 LSH recall is 1 − (1−j⁴)¹⁶ ≈ 1, so the
    // verified output equals the oracle's all-pairs ≥ 0.5 scan.
    "dedup_ngram_jaccard" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      Dedup.jaccardVerifiedPairs(docs, "doc_id", "text",
        Dedup.minhashLshCandidates(docs, "doc_id", "text"),
        n = 3, threshold = 0.5)
    },

    // Fixture embeddings are random (no near-dups above any meaningful
    // threshold), so the verifiable surface is the deterministic LSH
    // bucketing itself — now fully hash-gated: the oracle recomputes every
    // bucket in DuckDB from the same plane matrix as SQL literals. Pair
    // extraction is pinned by OperatorSpec on planted duplicates.
    // Edit-distance near-dup in the scale shape: md5-base LSH candidates
    // (oracle-replicable end-to-end) verified by THRESHOLDED levenshtein —
    // linear in candidates, never block-quadratic (which measured 40 s at
    // sf0.1 vs <1 s for this shape). ASCII-scoped on both sides: Spark's
    // levenshtein edits code points while DuckDB's edits bytes — they
    // agree exactly when bytes == chars.
    "dedup_fuzzy_lev" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
        .filter(octet_length(col("text")) === length(col("text")))
      val cands = Dedup.minhashLshPairsMd5(docs, "doc_id", "text")
        .select(col("left_id"), col("right_id"))
      Dedup.levenshteinVerifiedPairs(docs, "doc_id", "text", cands, maxDistance = 60)
    },

    // Incremental dedup: the %7==0 docs play the day's new batch against
    // the rest as the standing corpus; md5-base so the oracle replicates
    // the full pipeline (bands → touching-new candidates → exact verify →
    // smallest corpus-or-earlier-new partner).
    "dedup_increment" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      Dedup.dedupIncrement(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0),
        "doc_id", "text", threshold = 0.5, md5Base = true)
    },

    // Boilerplate-line removal: the fixture has no newlines, so both
    // engines first segment each doc into deterministic 4-token lines
    // (the width at which the fixture's 31-word vocabulary actually
    // produces cross-doc repeats — ~11% of occurrences drop at sf0.01);
    // then lines in >1 distinct doc are removed everywhere and the doc
    // is reassembled. md5 pins content AND line order.
    "dedup_lines" -> { (s, dir) =>
      val lined = t(s, dir, "documents").select(col("doc_id"),
        expr("""array_join(
                  transform(sequence(0, (size(split(text, ' ')) - 1) div 4),
                    i -> array_join(slice(split(text, ' '), i * 4 + 1, 4), ' ')),
                  '\n')""").as("text"))
      Dedup.dedupLines(lined, "doc_id", "text", delimiter = "\n", maxDocs = 1)
        .select(col("doc_id"), md5(col("text_clean")).as("clean_md5"),
          col("n_lines"), col("n_dropped"))
    },

    // Content-defined chunking dedup: split every doc at md5-derived
    // content boundaries (w=8-char gram, divisor 16 → ~16-char chunks),
    // then find chunks shared across the corpus — the insertion-
    // resilient storage/transfer dedup fixed-offset blocking can't do.
    "dedup_cdc_chunks" -> ((s, dir) =>
      Dedup.cdcChunkDedup(t(s, dir, "documents"), "doc_id", "text",
        w = 8, d = 16)),

    "dedup_embedding_lsh" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .select(col("vec_id"),
          Similarity.lshBucket(col("v"), Similarity.hyperplanes(12, 64)).as("bucket"))),

    // SemDeDup: k-means topic clusters, then per-cluster cosine near-dup
    // pruning with a lower-id keep rule — the full routing AND the drop
    // verdicts hash-gate (integer-exact cosine test, see Dedup scaladoc).
    "dedup_semantic" -> ((s, dir) =>
      Dedup.semanticDedup(t(s, dir, "embeddings"), k = 8, iters = 2,
        tauNum = 3, tauDen = 10)),

    // ── similarity search ─────────────────────────────────────────────
    "ann_cosine_topk" -> ((s, dir) =>
      Similarity.bruteForceTopK(
        t(s, dir, "embeddings"),
        t(s, dir, "embeddings").filter(col("vec_id") < 8),
        k = 10)),

    // MMR diversity re-rank of the same 8-query panel: retrieve top-32
    // by exact cosine, then 8 greedy steps of λ·sim − (1−λ)·max-sim-to-
    // selected over the bounded Q×C frame. Raw doubles hash-gate (the
    // cosine + fixed-IEEE-tree discipline of ann_cosine_topk).
    "ann_mmr_rerank" -> ((s, dir) =>
      Similarity.mmrRerank(
        t(s, dir, "embeddings"),
        t(s, dir, "embeddings").filter(col("vec_id") < 8),
        candK = 32, k = 8)),

    // MMR over the SCALABLE retriever — the corpus-scale composition
    // the mmrRerank scaladoc promises: ivfTopK (routed cells, the only
    // corpus-sized stage) feeds the SAME Q×C-bounded re-rank frames.
    // IVF candidates are approximate, so the gate is per-query
    // containment of the IVF-MMR picks in the brute-force-MMR picks
    // (the ann_ivf_recall convention; tools/RecallProbe, source at commit
    // b627139, measured per-query 6–8 of 8 at sf0.01 and 5–8 at sf0.1 →
    // floor 4). The left join (not left_semi + groupBy) keeps a row for a
    // 0-hit query, so a recall collapse turns the gate red instead of
    // dropping the row.
    "ann_mmr_ivf" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 8)
      // nCells AND nProbe both derived (ceil(sqrt(N)) cells, probe half —
      // VERDICT r14 #3): pinning nProbe=8 under a derived cell count is
      // the measured recall-collapse mode (sf0.1: 45 cells, 8 probed →
      // containment 1/8; half-probing restores the gated floors).
      val approx = Similarity.mmrRerankFrom(emb,
        Similarity.ivfTopK(emb, qs, k = 32), k = 8)
      val exact = Similarity.mmrRerank(emb, qs, candK = 32, k = 8)
      exact.select(col("query_id"), col("neighbor_id"))
        .join(broadcast(approx.select(col("query_id").as("q2"),
          col("neighbor_id").as("n2"))),
          col("query_id") === col("q2") && col("neighbor_id") === col("n2"),
          "left")
        .groupBy(col("query_id"))
        .agg(sum(when(col("n2").isNotNull, 1L).otherwise(0L)).as("n_hits"))
        .select(col("query_id"), (col("n_hits") >= 4).as("mmr_ok"))
    },

    // Margin-based bitext mining (Artetxe & Schwenk '19) across the
    // even/odd embedding halves standing in for two languages: cosine
    // relative to both endpoints' k-NN neighborhoods, mutual-best pairs
    // only. Two brute-force retrievals are the only corpus-sized stages
    // (ivfTopK swaps in per direction at corpus scale); raw doubles
    // hash-gate (fixed IEEE margin tree over the sequential-fold
    // cosine).
    "ann_bitext_margin" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity.bitextMargin(
        e.filter(pmod(col("vec_id"), lit(2)) === 0),
        e.filter(pmod(col("vec_id"), lit(2)) === 1), k = 4)
    },

    // SYMMETRIC corpus×corpus bitext mining — the regime a real mining
    // pipeline runs: ivfTopK per direction (routed cells, no
    // corpus-sized broadcast either way) feeding the identical
    // margin/mutual tail. IVF retrieval is approximate, so the gate is
    // containment of the IVF miner's mutual pairs in the exact miner's
    // (the ann_mmr_ivf discipline): the engine asserts >= 60% of exact
    // pairs re-mined (measured: 144/161 = 0.894 at sf0.01, 550/639 =
    // 0.861 at sf0.1; floor 0.6) and the exact-pair COUNT itself is
    // oracle-replayed, so a recall collapse turns the flag false and
    // reds the row.
    "ann_bitext_ivf" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val src = e.filter(pmod(col("vec_id"), lit(2)) === 0)
      val tgt = e.filter(pmod(col("vec_id"), lit(2)) === 1)
      val exact = Similarity.bitextMargin(src, tgt, k = 4)
      // nCells is DERIVED (ceil(sqrt(N)) per direction — VERDICT r14 #3),
      // not fixed: the containment gate below re-verifies recall under
      // whatever cell count the sizing rule picks at each sf.
      val approx = Similarity.bitextMarginIvf(src, tgt, k = 4)
      exact.select(col("src_id"), col("tgt_id"))
        .join(approx.select(col("src_id").as("__s2"),
          col("tgt_id").as("__t2")),
          col("src_id") === col("__s2") && col("tgt_id") === col("__t2"),
          "left")
        .agg(count(lit(1)).as("n_exact"),
          // coalesce: sum over ZERO rows is NULL (ADVICE r14) — on a
          // degenerate fixture where the exact miner finds no pairs the
          // flag must be vacuously true (0 >= 0), never NULL, to match
          // the oracle's literal true.
          coalesce(sum(when(col("__s2").isNotNull, 1L).otherwise(0L)),
            lit(0L)).as("__found"))
        .select(col("n_exact"),
          (col("__found") * 10L >= col("n_exact") * 6L).as("bitext_ok"))
    },

    // Hybrid retrieval: RRF-fuse the lexical (integer-scaled-idf term
    // overlap, top-50) and vector (brute-force cosine, top-50) rankings
    // for the same 8-query panel; doc_id and vec_id index the same
    // corpus. The fusion itself touches only Q x K rows.
    "ann_hybrid_rrf" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val lex = TextAnalysis.idfOverlapRanks(docs,
        docs.filter(col("doc_id") < 8), "doc_id", "text", topK = 50)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
      val vec = Similarity.bruteForceTopK(
        t(s, dir, "embeddings"),
        t(s, dir, "embeddings").filter(col("vec_id") < 8), k = 50)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
      Similarity.rrfFuse(lex, vec, c = 60, topK = 10)
    },

    // Retrieval-quality MRR@20: per labeled query, the reciprocal rank
    // of the FIRST same-label candidate under exact brute-force cosine
    // ranking (rank > 20 ⇒ miss, rr = 0 — the standard @k convention).
    // The ranking is the bruteForceTopK shape (broadcast queries,
    // k-bounded heaps, Q×k rows shuffle); the label attach joins the
    // corpus label projection against the TINY Q×k frame (broadcast),
    // so nothing corpus-sized moves past the search. rr = 1/rank is one
    // exact IEEE division — hash-gates.
    "ann_mrr" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val qlab = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("label").as("qlabel"))
      val nn = Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 8), k = 20)
        .join(broadcast(qlab), Seq("query_id"))
      val labels = e.select(col("vec_id").as("neighbor_id"),
        col("label").as("nbr_label"))
      val firstRel = labels.join(broadcast(nn), Seq("neighbor_id"))
        .filter(col("nbr_label") === col("qlabel"))
        .groupBy(col("query_id"))
        .agg(min(col("rank")).cast("long").as("first_rel_rank"))
      // firstRel is ≤ |Q| rows by construction — broadcast explicitly
      // so the static plan is already the broadcast join AQE would pick
      qlab.join(broadcast(firstRel), Seq("query_id"), "left")
        .select(col("query_id"), col("qlabel").as("label"),
          coalesce(col("first_rel_rank"), lit(0L)).as("first_rel_rank"),
          when(col("first_rel_rank").isNull, lit(0.0))
            .otherwise(lit(1.0) / col("first_rel_rank")).as("rr"))
    },

    // NDCG@20 retrieval eval next to ann_mrr: binary same-label gains,
    // DCG and the ideal DCG (one window over each query's 20 rows —
    // re-rank by gain desc) accumulated as DECIMAL so the sums are
    // fold-order-free, ONE final division. Integer gains + fixed IEEE
    // log2 terms = the psi/chi2 gating pattern.
    "ann_ndcg" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val e = t(s, dir, "embeddings")
      val qlab = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("label").as("qlabel"))
      val nn = Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 8), k = 20)
        .join(broadcast(qlab), Seq("query_id"))
        .join(e.select(col("vec_id").as("neighbor_id"),
          col("label").as("nbr_label")), Seq("neighbor_id"))
      val g = nn.withColumn("gain",
        when(col("nbr_label") === col("qlabel"), 1L).otherwise(0L))
      val ideal = Window.partitionBy(col("query_id"))
        .orderBy(col("gain").desc, col("rank"))
      val d28 = "decimal(28,18)"
      g.withColumn("irank", row_number().over(ideal))
        .groupBy(col("query_id"), col("qlabel"))
        .agg(sum(col("gain")).as("n_rel"),
          sum((col("gain").cast("double") / log2(col("rank") + 1))
            .cast(d28)).as("dcg"),
          sum((col("gain").cast("double") / log2(col("irank") + 1))
            .cast(d28)).as("idcg"))
        .select(col("query_id"), col("qlabel").as("label"), col("n_rel"),
          when(col("idcg") === 0, lit(0.0))
            .otherwise(col("dcg").cast("double") / col("idcg").cast("double"))
            .as("ndcg"))
    },

    // Hard-negative mining (contrastive training data prep): top-10
    // most-similar DIFFERENT-label candidates per query — the negatives
    // just across the decision boundary. Label test fused into the
    // codegen'd projection before the k-bounded aggregation.
    "ann_hard_negatives" -> ((s, dir) =>
      Similarity.hardNegatives(
        t(s, dir, "embeddings"),
        t(s, dir, "embeddings").filter(col("vec_id") < 8), k = 10)),

    // Matryoshka-style dimension-truncation eval: recall@10 of the
    // 16-dim-prefix cosine ranking against the full 64-dim exact list —
    // the cheap-index-quality question every embedding pipeline asks
    // before storing truncated vectors. Both rankings are exact, so the
    // per-query hit count itself hash-gates (no ok-flag indirection).
    "ann_truncated_recall" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 8)
      val full = Similarity.bruteForceTopK(emb, qs, k = 10)
        .select(col("query_id"), col("neighbor_id"))
      val tr = emb.select(col("vec_id"),
        slice(col("embedding"), 1, 16).as("embedding"))
      val trunc = Similarity.bruteForceTopK(tr, tr.filter(col("vec_id") < 8), k = 10)
        .select(col("query_id").as("q2"), col("neighbor_id").as("n2"))
      full.join(trunc,
          col("query_id") === col("q2") && col("neighbor_id") === col("n2"),
          "left")
        .groupBy(col("query_id"))
        .agg(count(col("n2")).as("n_hits"))
    },

    "ann_lsh_topk" -> ((s, dir) =>
      Similarity.lshTopK(
        t(s, dir, "embeddings"),
        t(s, dir, "embeddings").filter(col("vec_id") < 8),
        k = 10)),

    "ann_ivf_topk" -> ((s, dir) =>
      Similarity.ivfTopK(
        t(s, dir, "embeddings"),
        t(s, dir, "embeddings").filter(col("vec_id") < 8),
        k = 10)),

    // Mean-pooled embedding per group (the embedding-pooling reduction a
    // training pipeline runs per domain/cluster): element-wise mean via
    // posexplode + groupBy(grp, pos). DECIMAL(30,15) accumulation makes
    // the double sums fold-order-independent on both engines (the
    // skew_salted_agg technique), so the means hash-gate exactly.
    "ann_mean_pool" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select((col("vec_id") % 4).as("grp"),
          posexplode(col("embedding").cast("array<double>")))
        .groupBy(col("grp"), col("pos"))
        .agg(count(lit(1)).as("n"),
          (sum(col("col").cast("decimal(30,15)")).cast("double") / count(lit(1)))
            .as("mean"))
        .select(col("grp"), col("pos").cast("long").as("pos"), col("n"), col("mean"))),

    // kNN label propagation: every 7th vector plays the unlabeled query
    // set, majority-vote over its 5 nearest labeled neighbors. Integer-
    // only output (votes + labels) — the float similarity never reaches
    // the result, so the gate is exact.
    "ann_knn_label" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity.knnLabel(
          e.filter(col("vec_id") % 7 =!= 0),
          e.filter(col("vec_id") % 7 === 0), k = 5)
        .join(e.select(col("vec_id").as("query_id"),
          col("label").as("true_label")), "query_id")
        .select(col("query_id"), col("true_label"),
          col("predicted_label"), col("votes"))
    },

    // Int8 scalar quantization: scales cancel in cosine, integer dots are
    // exact in double, and round-half-away-from-zero matches DuckDB's
    // Density clustering: grid-bucketed DBSCAN over the first two
    // embedding dims on a fixed integer grid (round(x·1000) — the shared
    // half-away-from-zero round). eps=30/minPts=4 sits where the fixture
    // splits ~393 core / ~24 border / ~83 noise, so all three kinds and
    // the min-label border rule are exercised; the oracle brute-forces
    // ALL pairs + a recursive component closure — an independent
    // algorithm from the engine's 3x3-cell probe + star contraction.
    "ann_dbscan" -> { (s, dir) =>
      val pts = t(s, dir, "embeddings").select(col("vec_id").as("id"),
        round(element_at(col("embedding"), 1).cast("double") * 1000)
          .cast("long").as("x"),
        round(element_at(col("embedding"), 2).cast("double") * 1000)
          .cast("long").as("y"))
      Similarity.dbscanGrid(pts, eps = 30L, minPts = 4)
        .select(col("id").as("vec_id"), col("x"), col("y"),
          col("kind"), col("cluster"))
    },

    // round() — so the oracle replicates the quantized ranking bit-exactly.
    "ann_quantized_topk" -> ((s, dir) =>
      Similarity.quantizedTopK(
        t(s, dir, "embeddings"),
        t(s, dir, "embeddings").filter(col("vec_id") < 8),
        k = 10)),

    // Quantitative gate for the approximate path: recall@10 of IVF against
    // the exact brute-force answer, per query. The oracle pins
    // `recall_ok = true` for every query id, so any query whose recall
    // drops below 0.4 turns the row red. The fixture embeddings are
    // uniform random — the adversarial case for any partitioning index
    // (neighbors-by-noise scatter across cells), so the defensible floor
    // here is 0.4 probing half the (derived, ceil-sqrt(N)) cells —
    // the same probed-fraction the original fixed 8-of-16 setting had.
    // On data that actually clusters the same index reaches recall 1.0
    // at nProbe=2 of 4 — that floor is pinned in OperatorSpec's
    // clustered-data test.
    "ann_ivf_recall" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 8)
      val exact = Similarity.bruteForceTopK(emb, qs, k = 10)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Similarity.ivfTopK(emb, qs, k = 10)
        .select(col("query_id").as("q2"), col("neighbor_id").as("n2"))
      exact.join(approx,
          col("query_id") === col("q2") && col("neighbor_id") === col("n2"), "left_semi")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_hits"))
        .select(col("query_id"), (col("n_hits") >= 4).as("recall_ok"))
    },

    // Hash-gated IVF twin on planted clusterable data: 4 tight, well-
    // separated clusters (cross-cluster cosine < 0.02, within > 0.99), so
    // at nProbe=2 every query's true top-5 provably lives in its probed
    // cells and the IVF list EQUALS the exact brute-force list — which the
    // oracle computes in DuckDB from the same vector literals. This pins
    // the approximate answer itself (routing + scoring + k-bounded merge);
    // ann_ivf_topk stays as the rows-only random-fixture twin.
    "ann_ivf_planted" -> { (s, dir) =>
      import s.implicits._
      val df = plantedClusterVectors.toDF("vec_id", "embedding")
      Similarity.ivfTopK(df, df.filter(col("vec_id") % 10 === 0), k = 5,
        nCells = 4, nProbe = 2, sampleN = 40)
    },

    // NN-descent k-NN graph on the planted clusters, hash-gated against
    // the EXACT brute-force graph the oracle computes from the same
    // vector literals: 40 nodes / 4 tight clusters, so two
    // neighbor-of-neighbor rounds provably reach every node's true top-5
    // (the ≤4k² candidate fan-out covers the 39-node corpus) and the
    // approximate graph EQUALS exact — pinning init, reverse capping,
    // candidate scoring, and the k-bounded merge, not just a recall
    // floor. Deterministic: seeded hash init, id tie-breaks.
    "ann_nndescent_planted" -> { (s, dir) =>
      import s.implicits._
      val df = plantedClusterVectors.toDF("vec_id", "embedding")
      Similarity.nnDescent(df, k = 5, rounds = 2)
    },

    // NN-descent on the real embedding fixture: per-query recall@10
    // floor vs the exact brute-force list (the ann_ivf_recall gating
    // convention — the oracle pins `true` for every query, so a recall
    // regression turns the gate red). The graph is built at internal
    // k=16 and queried at 10 — the standard build-wider-than-you-query
    // trick; this fixture is near-uniform random in 64 dims (the hardest
    // regime for descent: no neighborhood gradient), and the wider build
    // holds per-query hits ≥ 7 at every sf (r15 sweep: min 8 at
    // sf0.001, 9 at sf0.01, 7 at sf0.1 — the same margin the former
    // k=20 build had at 36% more candidate fan-out; a k=10 build
    // degraded to 2, and rounds=2 at k=20 landed ON the floor at 6).
    // Deterministic end-to-end, so the measured floor is stable.
    "ann_nndescent_recall" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 8)
      val exact = Similarity.bruteForceTopK(emb, qs, k = 10)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Similarity.nnDescent(emb, k = 16, rounds = 3)
        .filter(col("node_id") < 8 && col("rank") <= 10)
        .select(col("node_id").as("q2"), col("neighbor_id").as("n2"))
      exact.join(approx,
          col("query_id") === col("q2") && col("neighbor_id") === col("n2"),
          "left_semi")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_hits"))
        .select(col("query_id"), (col("n_hits") >= 6).as("recall_ok"))
    },

    // Radius search (all neighbors with cosine ≥ 0.2 — the "everything
    // closer than τ" mode top-k can't answer); threshold filtered inside
    // the codegen'd projection, no aggregate at all.
    "ann_range_search" -> ((s, dir) =>
      Similarity.rangeSearch(
        t(s, dir, "embeddings"),
        t(s, dir, "embeddings").filter(col("vec_id") < 8),
        minSim = 0.2)),

    // Product-quantization ANN (4 subspaces × 16 codes, 1 Lloyd round,
    // ADC scoring): vectors stored as 4 code ids, queries scored through
    // a broadcast distance table — all exact integer math, so the entire
    // index-build + query trace hash-gates.
    "ann_pq_topk" -> ((s, dir) =>
      Similarity.pqTopK(
        t(s, dir, "embeddings"),
        t(s, dir, "embeddings").filter(col("vec_id") < 8),
        k = 10)),

    // IVF-PQ (4 coarse cells route nProbe=2, PQ 4×16 scores the routed
    // candidates): the production ANN composition, fully deterministic
    // and hash-gated — cells, codebooks, codes, routing, and ADC ranks.
    "ann_ivfpq_topk" -> ((s, dir) =>
      Similarity.ivfPqTopK(
        t(s, dir, "embeddings"),
        t(s, dir, "embeddings").filter(col("vec_id") < 8),
        k = 10)),

    // Greedy k-center (farthest-first, Gonzalez) coreset selection over
    // the int8-quantized corpus: 6 centers picked to maximize embedding-
    // space coverage, with the final cover radius — the diversity-
    // maximizing data-selection pass. Integer distances + lowest-id tie
    // breaks make the whole selection trace hash-gateable.
    "sample_kcenter" -> ((s, dir) =>
      Similarity.kCenterQuantized(t(s, dir, "embeddings"), k = 6)),

    // Distributed Lloyd's k-means over the int8-quantized corpus (K=8,
    // 2 update rounds, init = the first K vectors): the coarse topic-
    // clustering pass run before mixture sampling / per-cluster dedup.
    // Quantization makes every distance and centroid update exact
    // integer math, so the full clustering trace (assignments AND
    // centroids) hash-gates against the oracle's unrolled recurrence.
    "ann_kmeans" -> ((s, dir) =>
      // The centroid grid vector leaves the gate as a CSV string: the
      // driver's checker compares scalar cells, not arrays — same boundary
      // rule as pack_chunks / text_vocab_encode.
      Similarity.kmeansQuantized(t(s, dir, "embeddings"), k = 8, iters = 2)
        .withColumn("centroid", array_join(
          col("centroid").cast("array<long>").cast("array<string>"), ","))),

    // Embedding-drift monitor: cluster the corpus once (the ann_kmeans
    // routing), then compare each cluster's mean vector between the
    // even-id and odd-id halves — the per-topic distribution-shift check
    // run between ingest batches (a healthy split drifts ~0; a cluster
    // whose halves diverge flags a changed source). Per-(cid,pos) sums
    // are exact integers; the mean difference is one IEEE division per
    // side and the cross-position Σd² fold is absorbed by round(,6) —
    // the pagerank δ precedent. Clusters missing a half are dropped
    // (drift undefined).
    "ann_centroid_drift" -> { (s, dir) =>
      val a = Similarity.kmeansAssignments(t(s, dir, "embeddings"),
        k = 8, iters = 2)
      val px = a.select(col("cid"), (col("vec_id") % 2 === 0).as("__even"),
        posexplode(col("qv")))
      val ag = px.groupBy(col("cid"), col("pos"))
        .agg(sum(when(col("__even"), col("col"))).as("se"),
          count(when(col("__even"), lit(1))).as("ne"),
          sum(when(!col("__even"), col("col"))).as("so"),
          count(when(!col("__even"), lit(1))).as("no"))
      val d = col("se") / col("ne") - col("so") / col("no")
      ag.filter(col("ne") > 0 && col("no") > 0)
        .groupBy(col("cid"))
        .agg(max(col("ne")).as("n_even"), max(col("no")).as("n_odd"),
          round(sum(d * d), 6).as("drift2"))
    },

    // Dominant principal direction by 2-round power iteration on the
    // quantized Gram matrix — integer-grid iterate, every reduction
    // exact, loadings hash-gated (see Similarity scaladoc).
    "ann_pca_power" -> ((s, dir) =>
      Similarity.pcaPowerQuantized(t(s, dir, "embeddings"), iters = 2)),

    // Centroid-silhouette cluster quality over the k-means routing:
    // exact-integer d², per-row sqrt/ratio trees, per-vector rows.
    "ann_silhouette" -> ((s, dir) =>
      Similarity.silhouetteQuantized(t(s, dir, "embeddings"), k = 8,
        iters = 2)),

    // All-but-the-top anisotropy correction: projection onto the PCA
    // direction + residual norm via ‖q‖² − (q·v)², per-row fixed IEEE
    // trees over the broadcast unit direction.
    "ann_whiten" -> ((s, dir) =>
      Similarity.removeDominantDirection(t(s, dir, "embeddings"), iters = 2)),

    // ── deterministic sampling (training-split stability at 100 TB) ───
    // Membership from md5(key), not rand(): same subset every run, every
    // partitioning, every engine — the oracle recomputes it row-for-row.
    "sample_consistent" -> ((s, dir) =>
      Sampling.consistentSample(t(s, dir, "documents"), "doc_id", 0.25)
        .select(col("doc_id"))),

    // Per-stratum fractions as one codegen'd CASE cutoff (downsample the
    // dominant language, keep all of a rare one).
    "sample_stratified" -> ((s, dir) =>
      Sampling.stratifiedSample(t(s, dir, "documents"), "doc_id", "lang",
        Map("en" -> 0.5, "es" -> 1.0), defaultFraction = 0.1)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))),

    // Data-dependent mixture: target 50/30/20 over three sources; the
    // kept doc_id SET is the gate (membership, not just counts), so the
    // in-plan cutoff arithmetic must match DuckDB double-for-double.
    "sample_mixture" -> ((s, dir) =>
      Sampling.mixtureSample(t(s, dir, "documents"), "doc_id", "source",
        Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
        .select(col("doc_id"), col("source"))),

    // Temperature-flattened mix (T=2) over the skewed language column
    // (en dominates ~2.2:1 over the rarest): weights derived IN-PLAN
    // from the observed counts as (n/N)^(1/T); same membership gate as
    // sample_mixture. The rarest language survives whole, en is thinned.
    "sample_temperature" -> ((s, dir) =>
      Sampling.temperatureSample(t(s, dir, "documents"), "doc_id", "lang",
        temperature = 2.0)
        .select(col("doc_id"), col("lang"))),

    // Poisson(1) bootstrap (the distributed bootstrap for massive data:
    // per-row replicate weights w ~ Poisson(1) instead of resampling —
    // one scan builds ALL replicates): the draw is the stable md5 key
    // salted by replicate id, the inverse CDF is integer thresholds on
    // the 1e6 grid, and each replicate total accumulates in DECIMAL —
    // every replicate is rerun/partition/engine-identical.
    "sample_bootstrap" -> { (s, dir) =>
      val reps = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          explode(array(lit(1), lit(2), lit(3))).as("rep"))
        .withColumn("u", Sampling.drawOf(
          concat(col("o_orderkey").cast("string"), lit(":"),
            col("rep").cast("string"))))
        .withColumn("w",
          when(col("u") < 367879, 0).when(col("u") < 735758, 1)
            .when(col("u") < 919698, 2).when(col("u") < 981011, 3)
            .when(col("u") < 996340, 4).otherwise(5))
      reps.groupBy(col("rep"))
        .agg(sum(col("w")).as("n_eff"),
          sum((col("w") * col("o_totalprice")).cast("decimal(38,6)"))
            .cast("double").as("boot_total"))
    },

    // Exact-size deterministic sample: the k smallest md5 draws (a
    // consistent sample is binomial-sized; eval sets often need EXACTLY
    // k). TakeOrdered is k-bounded per partition — no global sort.
    "sample_exact_k" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), md5(col("doc_id").cast("string")).as("h"))
        .orderBy(col("h"), col("doc_id")).limit(100)
        .select(col("doc_id"))),

    // Class-balanced downsample: every language kept at exactly the
    // MINORITY class size, the target derived IN-PLAN (1-row broadcast
    // min, no driver collect) and membership by seeded md5 rank — the
    // imbalance fix run before classifier fine-tuning. id_sum pins the
    // selected SET, not just the counts.
    "sample_balance" -> { (s, dir) =>
      val d = t(s, dir, "documents")
      val tgt = d.groupBy(col("lang")).agg(count(lit(1)).as("n"))
        .agg(min(col("n")).as("k"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      d.select(col("doc_id"), col("lang"))
        .withColumn("rk", row_number().over(w))
        .crossJoin(broadcast(tgt))
        .filter(col("rk") <= col("k"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
    },

    // Deterministic sharded negative sampling (contrastive-training
    // partners from a hash ring, not an RNG): rerun/partition/engine-
    // independent pairings, per-shard windows only.
    "sample_negatives" -> ((s, dir) =>
      Sampling.negativeSample(t(s, dir, "documents"), "doc_id",
        k = 2, nShards = 16)),

    // Deterministic per-group k-sample (the reservoir-sampling twin):
    // exactly 40 docs per language, selected by seeded md5 rank — the
    // oracle reproduces the identical 40, not just the count.
    "sample_reservoir" -> ((s, dir) =>
      Sampling.groupSample(t(s, dir, "documents"), "doc_id", "lang",
        k = 40, seed = 42L)
        .select(col("doc_id"), col("lang"), col("draw_rank"))),

    // 90/5/5 train/val/test assignment: one label per doc, stable under
    // rerun and weight rebalancing (cutoff partition of the same draw).
    "sample_split" -> ((s, dir) =>
      Sampling.splitAssign(t(s, dir, "documents"), "doc_id",
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .select(col("doc_id"), col("split"))),

    // Curriculum staging: difficulty stage 1..4 by per-language length
    // quartiles (shorter = easier; per-group cutoffs so verbose
    // languages don't monopolize the hard stages).
    "sample_curriculum" -> ((s, dir) =>
      Sampling.curriculumStages(
        t(s, dir, "documents").withColumn("n_tokens",
          size(split(trim(col("text")), "\\s+")).cast("long")),
        "lang", "n_tokens")
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("stage"))),

    // Domain-mixture plan: per-language weights + a 500k-token budget →
    // exact integer targets, epoch counts (up-sampled small sources run
    // multiple passes), and the final partial pass in ppm.
    "sample_mixture_plan" -> ((s, dir) =>
      Sampling.mixturePlan(t(s, dir, "documents"), "lang", "text",
        Seq("en" -> 2, "de" -> 3, "es" -> 3, "fr" -> 3, "zh" -> 1),
        budgetTokens = 500000L)),

    // Leak-free variant: near-duplicate docs adopt their group
    // representative's split, so no eval doc has a training near-twin —
    // the benchmark-leak guard run after dedup, before export.
    "sample_split_leakfree" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val groups = Dedup.duplicateGroups(
        Dedup.jaccardVerifiedPairs(docs, "doc_id", "text",
          Dedup.minhashLshCandidates(docs, "doc_id", "text"),
          n = 3, threshold = 0.5))
      Sampling.leakFreeSplit(docs, "doc_id",
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05), groups)
    },

    // ── text analysis ─────────────────────────────────────────────────
    "text_token_stats" -> ((s, dir) =>
      TextAnalysis.tokenStats(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("n_regex_tokens").cast("long").as("n_regex_tokens"),
          col("avg_token_len"))),

    // Per-language doc-length percentiles via the log sketch's
    // PARTITIONED walk — the corpus-profiling read a mixture pipeline
    // runs per shard and merges: sketch state is (lang, bucket, cnt),
    // the cumulative window is partitioned by lang (never a global
    // sort), and each estimate carries the exact-side containment gate.
    "text_length_quantiles_log" -> { (s, dir) =>
      val p = 6
      val d = t(s, dir, "documents").select(col("lang"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))
      val sk = d
        .select(col("lang"), Profile.logBucket(col("n_tok"), p).as("bucket"))
        .groupBy(col("lang"), col("bucket")).agg(count(lit(1)).as("cnt"))
      val qs = Seq(50, 90, 99)
      val est = Profile.quantilesFromLogSketchBy(sk, Seq("lang"), p, qs)
      val exSk = d.select(col("lang"), col("n_tok").as("bucket"))
        .groupBy(col("lang"), col("bucket")).agg(count(lit(1)).as("cnt"))
      val exact = Profile.quantilesFromSketchBy(exSk, Seq("lang"), 1L, qs)
        .select(col("lang"), col("q_pct"), col("estimate").as("exact_v"))
      est.join(exact, Seq("lang", "q_pct"))
        .select(col("lang"), col("q_pct"), col("n"), col("est_bucket"),
          col("estimate"), col("est_upper"), col("exact_v"),
          (col("exact_v") >= col("estimate") &&
            col("exact_v") < col("est_upper")).as("within_bucket"))
    },

    "text_quality" -> ((s, dir) =>
      TextAnalysis.qualityScore(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("punct_ratio"), col("upper_ratio"), col("stopword_ratio"),
          col("avg_word_len"))),

    "text_langid" -> ((s, dir) =>
      TextAnalysis.languageId(t(s, dir, "documents"))
        .select(col("doc_id"), col("predicted_lang"),
          col("lang_score").cast("long").as("lang_score"))),

    "text_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprint(t(s, dir, "documents"))
        .select(col("doc_id"), col("fingerprint"))),

    // Feature-hashing linear classifier: integer weights until one IEEE
    // division, so the score hash-gates exactly; the derived weight table
    // is the documented stand-in for trained parameters.
    "text_quality_clf" -> ((s, dir) =>
      TextAnalysis.hashedLinearScore(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_tokens"), col("raw_score"),
          col("quality"), col("keep"))),

    // Ordered admission rules with first-fail reason codes; the fixture
    // exercises too_short, no_stopword, and pass.
    "text_filter_chain" -> ((s, dir) =>
      TextAnalysis.filterChain(t(s, dir, "documents"))
        .select(col("doc_id"), col("reason"), col("keep"))),

    // Char-level BPE merge learning over the word-frequency table: 5
    // unrolled count→argmax→merge iterations; the oracle replicates the
    // recurrence CTE-for-CTE, so every learned merge and weighted count
    // is hash-gated.
    // WordPiece-style greedy MaxMatch subword inference against a
    // corpus-derived vocab (top-24 words + top-16 4-grams + all chars):
    // the longest vocab token wins at every position. Runs over the
    // DISTINCT-word frame only — the corpus contributes one grouped
    // count.
    "text_maxmatch" -> ((s, dir) =>
      TextAnalysis.maxMatchTokenize(t(s, dir, "documents"))),

    // SentencePiece-style unigram LM — the third tokenizer family (BPE
    // learns merges, WordPiece matches greedily, unigram SEARCHES: each
    // word takes its max-likelihood Viterbi split under EM-reweighted
    // piece probabilities). The oracle replays the identical bounded DP
    // round-for-round (ln-sum scores accumulate in path order — the same
    // fixed-IEEE-tree convention pmi/psi gate on; ties break on the path
    // string in both engines).
    "text_unigram_lm" -> ((s, dir) =>
      TextAnalysis.unigramTokenize(t(s, dir, "documents"),
        maxTokLen = 6, topSubs = 24, rounds = 8)),

    // The apply half of the unigram tokenizer (mirrors text_bpe_tokens):
    // per-doc word and piece counts — segment once per DISTINCT word,
    // the corpus joins on word.
    "text_unigram_encode" -> { (s, dir) =>
      val paths = TextAnalysis.unigramWordPaths(t(s, dir, "documents"),
          maxTokLen = 6, topSubs = 24, rounds = 8)
        .select(col("word"),
          size(split(col("path"), "\u001f")).cast("long").as("n_tokens"))
      t(s, dir, "documents")
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("word"))
        .filter(length(col("word")) > 0)
        .join(paths, Seq("word"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("n_tokens")).as("n_unigram_tokens"))
    },

    // Unicode NFC canonical composition over a planted decomposed
    // suffix ("élève" spelled with combining acutes composes to the
    // 2-byte form; precomposed "é" and the NFC-invariant ligature "ffi"
    // pin the no-op cases). Engine: native codegen'd expression over the
    // JVM Normalizer; oracle: DuckDB's utf8proc nfc_normalize — two
    // independent Unicode implementations agreeing byte-for-byte. The
    // canonicalization every byte-level dedup/content-hash needs first:
    // composed and decomposed spellings of the same text are different
    // bytes.
    "text_nfc_planted" -> ((s, dir) => {
      val planted = concat(col("text"),
        lit(" e\u0301le\u0301ve \u00e9 \ufb03"))
      val n = graft.functions.textnative.nfc_normalize(planted)
      t(s, dir, "documents").select(col("doc_id"),
        octet_length(encode(planted, "UTF-8")).cast("long").as("bytes_before"),
        octet_length(encode(n, "UTF-8")).cast("long").as("bytes_after"),
        md5(encode(n, "UTF-8")).as("nfc_md5"))
    }),

    "text_bpe_merges" -> ((s, dir) =>
      TextAnalysis.bpeMerges(t(s, dir, "documents"), iterations = 5)),

    // The apply half of the tokenizer: every distinct word's segmentation
    // after the 5 learned merges (encode once per unique word; the corpus
    // then joins on word) — the final token state of the same loop.
    "text_bpe_encode" -> ((s, dir) =>
      // Token list → space-joined string at the gate boundary (tokens are
      // word fragments, never containing whitespace): scalar cells only.
      TextAnalysis.bpeEncodeWords(t(s, dir, "documents"), iterations = 5)
        .withColumn("tokens", array_join(col("tokens"), " "))),

    // Corpus token counting THROUGH the learned tokenizer: per-word
    // segment lengths broadcast-join onto the exploded corpus (the
    // |vocab|-scale merge walk never touches corpus-scale rows).
    "text_bpe_tokens" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val enc = TextAnalysis.bpeEncodeWords(docs, iterations = 5)
        .select(col("word"), col("n_tokens"))
      docs.select(col("doc_id"),
          explode(split(trim(col("text")), "\\s+")).as("word"))
        .join(broadcast(enc), Seq("word"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("n_tokens")).as("n_bpe_tokens"))
    },

    // Byte-level (GPT-2-class) BPE: merges learned over UTF-8 BYTES in
    // hex space — base vocabulary is the 256 byte values, so nothing is
    // ever out-of-vocabulary (multi-byte scripts decompose to bytes) and
    // the oracle replays every merge in the same uppercase-hex rendering
    // both engines share.
    "text_bpe_bytes" -> ((s, dir) =>
      TextAnalysis.bpeBytesMerges(t(s, dir, "documents"), iterations = 5)),

    // The apply half at byte level, plus the round-trip the design
    // guarantees: unhex(concat(tokens)) decodes back to the word —
    // asserted as a gated boolean column on BOTH engines.
    "text_bpe_bytes_encode" -> ((s, dir) =>
      TextAnalysis.bpeBytesEncodeWords(t(s, dir, "documents"), iterations = 5)
        .withColumn("tokens", array_join(col("tokens"), " "))
        .withColumn("roundtrip",
          decode(unhex(regexp_replace(col("tokens"), " ", "")), "UTF-8")
            === col("word"))),

    // Packing-efficiency report over the pack_sequences layout: per
    // sequence, how many docs START in it and how many of their tokens
    // it anchors — the utilization metric every packing pipeline
    // publishes (and the waste signal that motivates best-fit variants).
    "pack_efficiency" -> ((s, dir) =>
      Training.packSequences(t(s, dir, "documents"), "doc_id", "text",
          capacity = 512)
        .groupBy(col("seq_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("assigned_tokens"),
          (sum(col("n_tokens")) / lit(512.0)).as("utilization"))),

    // Vocabulary build + id encoding at V=20 < the fixture's 31 distinct
    // terms, so the OOV (-1) path is exercised; md5 of the id CSV pins
    // every position of every encoded sequence.
    "text_vocab_encode" -> ((s, dir) =>
      TextAnalysis.vocabEncode(t(s, dir, "documents"), vocabSize = 20)
        .select(col("doc_id"), md5(col("ids_csv")).as("ids_md5"),
          col("n_tokens"), col("n_oov"))),

    // PII scrub over fixture text with deterministic synthetic PII mixed
    // in (the fixture corpus itself is a clean word salad — appending
    // id-derived emails/IPs/phones on BOTH sides exercises nonzero match
    // counts and the sequential redaction, which an all-zeros run would
    // not). ASCII-scoped md5 of the scrubbed text pins the exact
    // replacement output, not just the counts.
    "text_pii_scrub" -> ((s, dir) =>
      TextAnalysis.piiScrub(
          t(s, dir, "documents").withColumn("text", concat(
            col("text"),
            when(col("doc_id") % 3 === 0,
              concat(lit(" u"), col("doc_id").cast("string"), lit("@ex-a.org")))
              .otherwise(lit("")),
            when(col("doc_id") % 5 === 0, lit(" b.c@mail.example.com")).otherwise(lit("")),
            when(col("doc_id") % 4 === 0,
              concat(lit(" 10.2."), (col("doc_id") % 256).cast("string"), lit(".9")))
              .otherwise(lit("")),
            when(col("doc_id") % 7 === 0, lit(" +44 20 7946 0958")).otherwise(lit("")))))
        .select(col("doc_id"), col("n_emails"), col("n_ips"), col("n_phones"),
          md5(col("scrubbed")).as("scrubbed_md5"))),

    "text_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionStats(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_tokens"), col("top_token_frac"),
          col("distinct_ratio"), col("dup_2gram_frac"))),

    "text_term_stats" -> ((s, dir) =>
      TextAnalysis.termStats(t(s, dir, "documents"))
        .select(col("doc_id"), col("top_term"), col("tf"), col("df"))),

    // Collocation mining: PMI of adjacent token pairs vs independence —
    // ratios of exact corpus counts, two keyed aggregates, no window.
    "text_pmi" -> ((s, dir) =>
      TextAnalysis.pmiPairs(t(s, dir, "documents"), minPairN = 20)),

    // Inverted-index build (token → df + bounded ascending postings):
    // the posting lists come out of the k-bounded TopKAggregator, never a
    // collect_list — O(k) state per token even for stopwords.
    "text_inverted_index" -> ((s, dir) =>
      // Posting list → CSV string at the gate boundary: scalar cells only.
      TextAnalysis.invertedIndex(t(s, dir, "documents"))
        .withColumn("postings",
          array_join(col("postings").cast("array<string>"), ","))),

    // BM25 ranking over the same tf/df/length statistics: each doc's best
    // term with its score rounded to 6 decimals; the arithmetic is
    // written operation-for-operation as the oracle evaluates it.
    "text_bm25" -> ((s, dir) =>
      TextAnalysis.bm25(t(s, dir, "documents"))),

    // Hashing-trick featurization: terms -> 1024 stable md5 buckets,
    // exact per-doc bucket counts; no vocabulary pass, no broadcast.
    "text_feature_hash" -> ((s, dir) =>
      TextAnalysis.featureHash(t(s, dir, "documents"), "doc_id", "text",
        dim = 1024)),

    // ROUGE-1/2 generation-eval metric over a deterministic (i, i+1)
    // pairing — the fixture's stand-in for a (model-output, reference)
    // eval manifest; clipped match counts are exact integers, P/R/F1
    // three IEEE divisions the oracle reproduces bit-for-bit.
    "text_rouge" -> { (s, dir) =>
      val d = t(s, dir, "documents")
      val pairs = d.select(col("doc_id").as("cand_id"))
        .join(d.select(col("doc_id").as("ref_id")),
          col("ref_id") === col("cand_id") + 1)
      TextAnalysis.rougeN(d, pairs, "doc_id", "text", ns = Seq(1, 2))
    },

    // BLEU over the same adjacent-pair eval manifest: clipped n-gram
    // precisions (n=1..4, exact integer counts — the text_rouge pair
    // frame), brevity penalty, geometric mean. Each p_n is one IEEE
    // division (raw doubles gate); bp/bleu pass through exp/pow so
    // both leave rounded to 6 decimals on both engines.
    "text_bleu" -> { (s, dir) =>
      val d = t(s, dir, "documents")
      val pairs = d.select(col("doc_id").as("cand_id"))
        .join(d.select(col("doc_id").as("ref_id")),
          col("ref_id") === col("cand_id") + 1)
      TextAnalysis.bleu(d, pairs, "doc_id", "text", maxN = 4)
    },

    // chrF2 over a sampled eval manifest (every 5th doc vs its
    // neighbor): character n-grams (orders 1..6, whitespace stripped),
    // per-order clipped P/R with CLOSED-FORM totals (len−n+1 — no
    // totals aggregate), uniform averages, β=2 harmonic combine. Exact
    // integer matches; ratios/averages/chrf2 are fixed IEEE trees —
    // raw doubles gate.
    "text_chrf" -> { (s, dir) =>
      val d = t(s, dir, "documents")
      val pairs = d.select(col("doc_id").as("cand_id"))
        .filter(col("cand_id") % 5 === 0)
        .join(d.select(col("doc_id").as("ref_id")),
          col("ref_id") === col("cand_id") + 1)
      TextAnalysis.chrF(d, pairs, "doc_id", "text", maxN = 6, beta = 2.0)
    },

    // ROUGE-L over a sampled eval manifest (every 7th doc vs its
    // neighbor): LCS-based P/R/F1 — order-aware where ROUGE-1/2's
    // clipped bags are not. The LCS runs as a codegen'd per-pair DP; the
    // oracle computes the same LCS by a longest-chain recursion over the
    // match-position set (an independent formulation of the same value).
    "text_rouge_l" -> { (s, dir) =>
      val d = t(s, dir, "documents")
      val pairs = d.select(col("doc_id").as("cand_id"))
        .filter(col("cand_id") % 7 === 0)
        .join(d.select(col("doc_id").as("ref_id")),
          col("ref_id") === col("cand_id") + 1)
      TextAnalysis.rougeL(d, pairs)
    },

    // Deterministic 15% MLM masking over (doc_id, position) md5 draws;
    // md5 of the rebuilt sequence pins every mask position and survivor.
    "pack_mlm_mask" -> ((s, dir) =>
      Training.mlmMask(t(s, dir, "documents"), "doc_id", "text", pct = 15)),

    // ── training-data preparation ─────────────────────────────────────
    "pack_chunks" -> ((s, dir) =>
      Training.chunkDocuments(t(s, dir, "documents"), "doc_id", "text", chunkTokens = 32)
        .select(col("doc_id"), col("chunk_id"), col("n_chunk_tokens"),
          md5(col("chunk_text")).as("chunk_md5"))),

    "pack_sequences" -> ((s, dir) =>
      Training.packSequences(t(s, dir, "documents"), "doc_id", "text",
        capacity = 512, bucketSize = 64)),

    // Document-boundary mask for packed sequences: each training
    // sequence's doc start offsets — the attention doc-mask /
    // position-id reset points a packed-batch trainer consumes (without
    // them, attention bleeds across concatenated documents). Offsets
    // within a sequence are strictly increasing (every doc holds ≥ 1
    // token), and the list leaves as a joined CSV string (ARRAY never
    // crosses the gate — the boundary rule). groupBy(seq_id) state is
    // bounded by capacity+1 docs per sequence at any corpus size.
    "pack_boundaries" -> ((s, dir) =>
      Training.packSequences(t(s, dir, "documents"), "doc_id", "text",
          capacity = 512, bucketSize = 64)
        .groupBy(col("seq_id"))
        .agg(count(lit(1)).as("n_docs"),
          array_join(transform(array_sort(collect_list(
            struct(col("seq_offset"), col("doc_id")))),
            x => x("seq_offset").cast("string")), ",").as("boundaries"))),

    // Per-source quota selection: top 30 docs per language by token
    // count (desc, ties by doc_id) — the per-source quality-quota cut
    // of a mixture pipeline. The per-lang rank is the TWO-LEVEL
    // bucketed prefix count (ops.TwoLevelRank partitioned by lang): a
    // hot source (real corpora are ~90% one language) never serializes
    // through one task, unlike a plain row_number over PARTITION BY
    // lang, whose hot partition IS the corpus.
    "sample_quality_quota" -> { (s, dir) =>
      val len = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
        .withColumn("__neg", -col("n_tokens"))
      TwoLevelRank.rank(len, Seq("lang"), Seq("__neg"),
          expr("doc_id div 4096"), Seq("doc_id"), "rnk")
        .filter(col("rnk") <= 30)
        .select(col("lang"), col("doc_id"), col("n_tokens"), col("rnk"))
    },

    // Seeded epoch permutation: position is a pure function of
    // (seed, doc_id), reproduced row-for-row by the oracle's row_number
    // over the same md5 key.
    "pack_shuffle" -> ((s, dir) =>
      Training.epochShuffle(t(s, dir, "documents"), "doc_id", seed = 42L)
        .select(col("doc_id"), col("shuffle_pos"))),

    // End-to-end packing materialization: the concatenated sequence text
    // itself is md5-pinned, so assignment AND ordering are both gated.
    "pack_build" -> ((s, dir) =>
      Training.buildSequences(t(s, dir, "documents"), "doc_id", "text",
        capacity = 512, bucketSize = 64)
        .select(col("seq_id"), col("n_docs"), col("n_tokens"),
          md5(col("seq_text")).as("seq_md5"))),

    // Length-bucketed shelf packing: same-length docs share a sequence
    // (⌊cap/L⌋ each), so no doc straddles a boundary and waste is
    // capacity mod L per shelf — every assignment integer-gated.
    "pack_shelves" -> ((s, dir) =>
      Training.packShelves(t(s, dir, "documents"), "doc_id", "text",
        capacity = 512, bucketSize = 64L)),

    // Decontamination against a benchmark slice (doc_id % 97 == 0), with
    // planted leaks: the benchmark docs re-enter the corpus under
    // doc_id+1000000, so the gate proves BOTH directions — leaked copies
    // are flagged contaminated with full n-gram overlap, and the
    // untouched corpus majority scores its true (usually zero) overlap.
    "decon_ngram" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 97 === 0)
      val corpus = docs.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"), col("text"))
        .unionAll(bench.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Training.decontaminate(corpus, bench, "doc_id", "text", n = 8)
        .select(col("doc_id"), col("n_ngrams"), col("n_hits"), col("contaminated"))
    },

    // Fuzzy decontamination: planted bench copies are PERTURBED (a
    // prepended token), so exact n-gram probes weaken but MinHash
    // signatures still collide — LSH candidates against the bench side
    // only, then exact shingle-Jaccard ≥ 0.5 verification.
    "decon_fuzzy" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 97 === 0)
      val corpus = docs.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"), col("text"))
        .unionAll(bench.select((col("doc_id") + 1000000L).as("doc_id"),
          concat(lit("zq "), col("text")).as("text")))
      Training.decontaminateFuzzy(corpus, bench, "doc_id", "text")
    },

    // Bloom-prefiltered twin of decon_ngram, same planted fixture: the
    // bench key set rides a fixed-memory bloom instead of a broadcast
    // (the 100 TB eval-suite path); exact verify removes false
    // positives, so the gate is the SAME oracle — the prefilter must be
    // invisible in the rows.
    "decon_bloom" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 97 === 0)
      val corpus = docs.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"), col("text"))
        .unionAll(bench.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Training.decontaminateBloom(corpus, bench, "doc_id", "text", n = 8)
        .select(col("doc_id"), col("n_ngrams"), col("n_hits"), col("contaminated"))
    },

    // Embedding-space decontamination: vectors 0-15 stand in for the
    // benchmark set; every other vector is corpus. Broadcast bench +
    // BroadcastNestedLoopJoin — the corpus side never shuffles.
    "decon_embed" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Training.deconEmbed(e.filter(col("vec_id") >= 16),
        e.filter(col("vec_id") < 16), "vec_id", "embedding", tau = 0.2)
    }),

    // DSIR importance weights: hashed-bigram likelihood ratio of the
    // English subset (the "target domain") vs the whole corpus.
    "sample_dsir" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Training.dsirWeights(docs, docs.filter(col("lang") === "en"),
        "doc_id", "text", nBuckets = 64, alpha = 0.5)
    }),

    // ── multimodal columns ────────────────────────────────────────────
    "mm_meta" -> ((s, dir) =>
      Multimodal.mediaMeta(Multimodal.asMedia(t(s, dir, "documents"), "doc_id", "text"))
        .select(col("media_id"), col("mime"), col("n_bytes"), col("content_md5"))),

    // Perceptual-hash duplicate grouping: stride-sampled 8×8 grid (the
    // decode stub), REAL 4×4 low-frequency DCT-II with literal weights,
    // 8th-smallest threshold, 15-bit hash, keyed group-back. ASCII
    // payloads only (byte positions must equal char positions).
    "mm_phash" -> ((s, dir) =>
      Multimodal.phashGroups(Multimodal.asMedia(
        t(s, dir, "documents").filter(
          octet_length(col("text")) === length(col("text")) &&
            octet_length(col("text")) > 0),
        "doc_id", "text"))),

    // pHash NEAR-duplicate grouping (Hamming ≤ 2): pigeonhole banding
    // over the DISTINCT-hash frame (≤ 2^15 rows at any corpus size),
    // bit_count(xor) verify, components via the gated log-round CC —
    // the tolerance perceptual hashing exists for (mm_phash's exact
    // grouping is defeated by a one-bit wobble). Oracle: all-pairs
    // Hamming + recursive min-label closure, independent machinery.
    "mm_phash_near" -> ((s, dir) =>
      Multimodal.phashNearGroups(Multimodal.asMedia(
        t(s, dir, "documents").filter(
          octet_length(col("text")) === length(col("text")) &&
            octet_length(col("text")) > 0),
        "doc_id", "text"), hammingD = 2)),

    // Constellation/landmark audio fingerprint matching (Wang '03):
    // stub spectrogram -> integer band-energy peaks (two window passes)
    // -> landmark hashes (bounded dt explode + keyed equi-join) ->
    // stop-hash guard -> consistent-offset vote. All integer — exact
    // hash gate; finds the offset copies of the same "recording".
    "mm_audio_fingerprint" -> ((s, dir) =>
      Multimodal.audioFingerprint(Multimodal.asMedia(
        t(s, dir, "documents").filter(
          octet_length(col("text")) === length(col("text")) &&
            octet_length(col("text")) > 0),
        "doc_id", "text"))),

    // WebDataset-style shard layout (4 KiB shards over the fake media
    // payloads): every object's (shard, offset) via the two-level
    // distributed prefix sum — no corpus-wide single-task window.
    "mm_shards" -> ((s, dir) =>
      Multimodal.shardManifest(
        Multimodal.asMedia(t(s, dir, "documents"), "doc_id", "text"),
        shardBytes = 4096L)),

    // Scoped to ASCII payloads on BOTH sides: the engine slices the binary
    // payload by bytes while DuckDB's substr() is character-based — they
    // agree exactly when bytes == chars, so the query and the oracle each
    // filter to octet_length == char_length instead of silently assuming it.
    "mm_frames" -> ((s, dir) =>
      Multimodal.frameSample(
        Multimodal.asMedia(
          t(s, dir, "documents").filter(octet_length(col("text")) === length(col("text"))),
          "doc_id", "text"), chunkBytes = 64)
        .select(col("media_id"), col("frame_id").cast("long").as("frame_id"),
          col("frame_len"), md5(col("frame_bytes")).as("frame_md5"))),

    // TRUE-binary frame sampling — no ASCII scoping: the payload is
    // unhex(md5(text)) ++ UTF-8(text), so every document carries 16
    // leading bytes spanning 0x00–0xFF that are NOT valid UTF-8 — the
    // engine's byte-based substring over BinaryType is what's under
    // test (a char-based slice would shear on the first multi-byte
    // run). DuckDB 1.0 has no BLOB substring/md5, so the gate compares
    // md5 of the frame's HEX rendering: 1 byte ⇔ 2 hex chars exactly,
    // making the oracle's octet slicing expressible as substr over the
    // hex string (Spark hex() and DuckDB hex() are both uppercase).
    "mm_frames_binary" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          concat(unhex(md5(col("text"))), encode(col("text"), "UTF-8"))
            .as("payload"))
      Multimodal.frameSample(
        Multimodal.asMedia(docs, "doc_id", "payload"), chunkBytes = 16)
        .select(col("media_id"), col("frame_id").cast("long").as("frame_id"),
          col("frame_len"), md5(hex(col("frame_bytes"))).as("frame_hex_md5"))
    }),

    // REAL ustar-format WebDataset shards, assembled fully in-plan from
    // non-UTF-8 binary payloads (the mm_frames_binary convention) and
    // gated on the md5 of each archive's hex rendering — the oracle
    // rebuilds the byte-exact archives (headers, octal sizes, POSIX
    // checksums, padding, end blocks) in hex space. `tar tf` lists the
    // emitted shards; the spec round-trips members back out by offset
    // slicing.
    "mm_tar_shards" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          concat(unhex(md5(col("text"))), encode(col("text"), "UTF-8"))
            .as("payload"))
      Multimodal.tarShards(
        Multimodal.asMedia(docs, "doc_id", "payload"), shardBytes = 65536L)
    }),

    // The READ path of the tar shards, gated end-to-end: write real
    // archives in-plan, slice every member back out by 512-aligned
    // offsets, parse names and octal sizes from the headers — and the
    // recovered payloads must md5-match ground truth the oracle computes
    // directly from the source rows (it never sees the archives, so any
    // write- OR read-side byte error turns the gate red).
    "src_tar_roundtrip" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          concat(unhex(md5(col("text"))), encode(col("text"), "UTF-8"))
            .as("payload"))
      val tars = Multimodal.tarShardBytes(
        Multimodal.asMedia(docs, "doc_id", "payload"), shardBytes = 65536L)
      Multimodal.tarMemberSlices(tars)
        .select(expr("cast(split(name, '\\\\.')[0] as long)").as("media_id"),
          col("size"), md5(hex(col("payload"))).as("payload_hex_md5"))
    }),

    // Byte-delta scene cuts over a planted frame stream (two 16-byte
    // scenes, three frames each): ≥4 differing bytes vs the previous
    // frame opens a new scene. Per-media windows only; the hex-level
    // comparison replays verbatim in the oracle.
    "mm_scene_detect" -> ((s, dir) => {
      // Frames slice the ENCODED bytes (substring over BinaryType is
      // byte-based), matching the oracle's octet slicing of
      // hex(text::BLOB) — a multi-byte character in the first 32 chars
      // no longer shears the frame boundary (the char-based slice would;
      // the adjacent mm_frames_binary query exists to pin exactly this
      // byte-vs-char distinction). The length() >= 32 filter is shared
      // verbatim with the oracle, so membership matches even where
      // chars ≠ bytes.
      val d = t(s, dir, "documents").filter(length(col("text")) >= 32)
      val bin = encode(col("text"), "UTF-8")
      val a = substring(bin, 1, 16)
      val b = substring(bin, 17, 16)
      Multimodal.sceneDetect(
        Multimodal.asMedia(
          d.select(col("doc_id"), concat(a, a, a, b, b, b).as("payload")),
          "doc_id", "payload"),
        chunkBytes = 16, minDiffBytes = 4)
    }),

    // Overlapping windows (audio framing: window 48, hop 16) — the
    // window > hop shape frameSample's tumbling chunks can't express.
    "mm_audio_windows" -> ((s, dir) =>
      Multimodal.windowSample(
        Multimodal.asMedia(
          t(s, dir, "documents").filter(octet_length(col("text")) === length(col("text"))),
          "doc_id", "text"), windowBytes = 48, hopBytes = 16)
        .select(col("media_id"), col("win_id").cast("long").as("win_id"),
          col("win_len"), md5(col("win_bytes")).as("win_md5"))),

    // ViT-style 2D patch grid (width 32, patch 4 ⇒ 8 tiles per 128-byte
    // patch-row): every tile md5-pinned with its grid position.
    "mm_patches" -> ((s, dir) =>
      Multimodal.patchSample(
        Multimodal.asMedia(
          t(s, dir, "documents").filter(octet_length(col("text")) === length(col("text"))),
          "doc_id", "text"), width = 32, patch = 4)
        .select(col("media_id"), col("patch_row"), col("patch_col"),
          md5(col("patch_bytes")).as("patch_md5"))),

    // Resize stub (every 4th byte), hash-gated: for ASCII payloads the
    // byte stride equals a character stride, so DuckDB rebuilds the
    // identical downsampled payload and its md5.
    "mm_resize" -> ((s, dir) =>
      Multimodal.resizeStub(s,
        Multimodal.asMedia(
          t(s, dir, "documents").filter(
            octet_length(col("text")) === length(col("text")) &&
              octet_length(col("text")) > 0),
          "doc_id", "text"), stride = 4).toDF()
        .select(col("media_id"), col("n_bytes_out"),
          md5(col("resized")).as("resized_md5"))),

    // mapPartitions decode stub, now fully hash-gated: the stub's float
    // feature f_i = (byte_i + i)/255f round-trips exactly back to the
    // source byte via round(f*255) - i (the float rounding error is
    // ~1e-5, far under the 0.5 round threshold), so the oracle recomputes
    // width/height/frames from byte length and the feature bytes from the
    // text itself. Scoped to non-empty ASCII payloads on both sides
    // (DuckDB's substr/ascii are char-based). Every column is a sortable
    // scalar (driver-checker requirement).
    "mm_decode_features" -> ((s, dir) =>
      Multimodal.decodeStub(s,
        Multimodal.asMedia(
          t(s, dir, "documents").filter(
            octet_length(col("text")) === length(col("text")) &&
              octet_length(col("text")) > 0),
          "doc_id", "text")).toDF()
        .select(col("media_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_frames").cast("long").as("n_frames"),
          array_join(transform(col("feature"),
            (f, i) => (round(f.cast("double") * 255) - i).cast("long").cast("string")), ",")
            .as("feature_bytes"))),

    // REAL PNG decode through the full multimodal path (VERDICT r14 #5):
    // deterministic grayscale gradients (pixel i = (31·doc_id + i) mod
    // 256) are encoded to real PNGs by the JDK codec, written as binary
    // files, read back through the binaryFile source, and decoded by
    // decodePng — an actual DEFLATE inflate + PNG defilter in the
    // documented mapPartitions seam. The gate pins the RECOVERED pixel
    // bytes (full lowercase hex, not just a hash) against the oracle's
    // replay of the generator formula: PNG is lossless, so any codec
    // drift, raster transpose, or band mixup reds the row.
    "mm_decode_png" -> { (s, dir) =>
      val specs = t(s, dir, "documents").select(
        col("doc_id").as("media_id"),
        (lit(8) + pmod(col("doc_id"), lit(8))).cast("int").as("width"),
        (lit(8) + pmod(col("doc_id") * 3, lit(8))).cast("int").as("height"),
        (col("doc_id") * 31).as("seed"))
      val path = layoutPath("png_fixture")
      Sources.writeBinaryFiles(Multimodal.encodePngGray(s, specs).toDF(),
        "media_id", "png", path)
      val media = Sources.readBinaryFiles(s, path).select(
        regexp_extract(col("path"), "(\\d+)\\.bin$", 1).cast("long")
          .as("media_id"),
        col("content").as("media"), lit("image/png").as("mime"),
        col("length").as("n_bytes"))
      Multimodal.decodePng(s, media).toDF()
        .select(col("media_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          lower(hex(col("pixels"))).as("pixel_hex"))
    },

    // ── wave 7: time series, layout, semi-structured, LM statistics ────

    // Left-outer interval join: purchases with no view in the preceding
    // 10 min survive with a null view_id. The streaming form (null
    // emitted only once the right watermark clears the candidate
    // interval) is pinned in StreamingSpec.
    "stream_outer_join" -> { (s, dir) =>
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

    // Finite-horizon EWMA (α=0.75, k=8) per user: one ordered window,
    // k codegen'd multiply-adds per row, the identical IEEE operation
    // sequence as the oracle (weights are exact dyadic doubles).
    "ts_ewma" -> ((s, dir) =>
      TimeSeries.ewma(t(s, dir, "events"), keyCol = "user_id", timeCol = "ts",
        idCol = "event_id", valueCol = "value", alpha = 0.75, k = 8)),

    // Per-type z-score outliers (|z| ≥ 2 after 6-decimal rounding —
    // membership decided on the rounded value both engines emit).
    "ts_zscore" -> ((s, dir) =>
      TimeSeries.zscoreOutliers(t(s, dir, "events"), keyCol = "event_type",
        idCol = "event_id", valueCol = "value", threshold = 2.0)),

    // Seasonal-naive forecast evaluation: each hourly event count is
    // "forecast" by the count 24 hours earlier (self-join on the shifted
    // bucket — robust to grid gaps where a row-lag would misalign);
    // integer counts make the errors exact. The baseline every real
    // forecaster must beat, and the drift signal when abs_err jumps.
    "ts_seasonal_naive" -> { (s, dir) =>
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

    // Classical additive decomposition of the hourly count series
    // (trend = centered 25-point moving average, seasonal = hour-of-day
    // mean of the detrended series, residual = the rest). Trend rows are
    // restricted to COMPLETE windows so the seasonal mean stays a ratio
    // of exact integers (Σ(25n − wsum) / 25m) — every output is integer
    // sums plus a fixed IEEE expression tree, so it hash-gates. Cost:
    // one keyed collapse to (type, hour) then windows/aggregates over
    // the collapsed frame, never the raw events.
    "ts_decompose" -> ((s, dir) =>
      TimeSeries.decompose(t(s, dir, "events"), "ts", "event_type")),

    // LTTB-style visual downsampling (6 h buckets, neighbor-average
    // anchors): the point per bucket with the largest triangle area —
    // single-division averages, per-row area trees, struct-argmax.
    "ts_downsample" -> ((s, dir) =>
      TimeSeries.downsampleLttb(t(s, dir, "events"), tsCol = "ts",
        keyCol = "event_type", valueCol = "value", widthSec = 21600L)),

    // Decomposition-residual anomalies: the residual channel of
    // ts_decompose scored with the robust median/MAD z (madOutliers) —
    // seasonality-aware anomaly detection, vs ts_mad_outliers' raw-value
    // screen. The decomposed frame is persisted: med/MAD broadcasts and
    // the final join are three references.
    "ts_decompose_anomaly" -> { (s, dir) =>
      val d = TimeSeries.decompose(t(s, dir, "events"), "ts", "event_type")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      TimeSeries.madOutliers(d, keyCol = "event_type", idCol = "bucket",
        valueCol = "residual", threshold = 3.0)
    },

    // Robust median/MAD outliers (50% breakdown point — the heavy-tail-
    // safe twin of ts_zscore): two exact-percentile broadcasts, no
    // corpus window.
    "ts_mad_outliers" -> ((s, dir) =>
      TimeSeries.madOutliers(t(s, dir, "events"), keyCol = "event_type",
        idCol = "event_id", valueCol = "value", threshold = 3.0)),

    // 5-minute OHLC resampling bars over the event stream: one map-side-
    // combined aggregate (open/close via min_by/max_by on (ts, event_id),
    // volume in DECIMAL) — no per-bucket window sort.
    "ts_ohlc_bars" -> ((s, dir) =>
      // volume (scale-6 decimal) crosses the gate as integer MICROS; the
      // o/h/l/c doubles are raw pass-through values (identical bits on
      // both sides), so they stay doubles.
      TimeSeries.ohlcBars(t(s, dir, "events"), tsCol = "ts",
          idCol = "event_id", valueCol = "value", widthSec = 300L)
        .withColumn("volume_micros", (col("volume") * 1000000).cast("long"))
        .drop("volume")),

    // Autocorrelation of the hourly count series at lags 1..6 — the
    // seasonality detector feeding ts_seasonal_naive's period choice.
    // One corpus-sized keyed aggregate; all windows run over the
    // collapsed (series, bucket) frame.
    "ts_acf" -> ((s, dir) =>
      TimeSeries.acfBuckets(t(s, dir, "events"), keyCol = "event_type",
        tsCol = "ts", bucketSec = 3600L, maxLag = 6)),

    // Dominant-period detection (ACF argmax over lags 2..48, >= 8
    // overlapping pairs): derives the `period` input holtSeasonal and
    // seasonal-naive consume; ties break on the shorter lag so the
    // fundamental beats its harmonics.
    "ts_period_detect" -> ((s, dir) =>
      TimeSeries.periodDetect(t(s, dir, "events"), keyCol = "event_type",
        tsCol = "ts", bucketSec = 3600L, maxLag = 48)),

    // 2-D Pareto frontier (maximize price AND recency) over raw orders —
    // the multi-objective selection primitive, run corpus-sized (no
    // pre-aggregation) so the two-level bucketed plan is exercised on
    // the full table. DECIMAL price and integer epoch keep the frontier
    // exact; the oracle is the independent quadratic NOT-EXISTS
    // dominance formulation.
    "rel_skyline" -> { (s, dir) =>
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,2)").as("price"),
        unix_timestamp(col("o_orderdate")).as("odate_s"))
      // price exits as integer cents (decimal renders scale-dependently
      // once a checker floats one side — e.g. a frontier price of x.40).
      Skyline.frontier(o, "price", "odate_s", buckets = 32)
        .withColumn("price_cents", (col("price") * 100).cast("long"))
        .drop("price")
    },

    // URL-canonicalization dedup (the C4/CCNet crawl-prep pass): raw
    // page URLs synthesized in-plan from document attributes with the
    // full zoo of spelling variants (case-shifted www hosts, default
    // ports, utm/fbclid tracking params, shuffled query order,
    // fragments, trailing slashes), then collapsed by Web.canonicalizeUrl
    // — a zero-shuffle projection — and deduplicated with one keyed
    // aggregate. The oracle re-derives the same canonical form with
    // DuckDB string/list functions, so every rule is value-gated.
    "dedup_url" -> { (s, dir) =>
      val d = t(s, dir, "documents")
      val item = col("doc_id") % 40
      val page = col("doc_id") % 5
      val hostCase = when(col("doc_id") % 2 === 0,
        concat(lit("WWW."), upper(col("source")), lit(".Example.COM")))
        .otherwise(concat(lit("www."), col("source"), lit(".example.com")))
      val port = when(col("doc_id") % 4 === 0, lit(":443")).otherwise(lit(""))
      val slash = when(col("doc_id") % 5 === 0, lit("/")).otherwise(lit(""))
      val baseQ = when(col("doc_id") % 3 === 0,
        concat(lit("page="), page, lit("&q="), col("lang")))
        .otherwise(concat(lit("q="), col("lang"), lit("&page="), page))
      val track = when(col("doc_id") % 2 === 1,
        concat(lit("&utm_source=feed&fbclid=x"), col("doc_id")))
        .otherwise(lit(""))
      val frag = when(col("doc_id") % 7 === 0, lit("#sec")).otherwise(lit(""))
      val raw = concat(lit("HTTPS://"), hostCase, port,
        lit("/catalog/item-"), item, slash, lit("?"), baseQ, track, frag)
      d.select(col("doc_id"), Web.canonicalizeUrl(raw).as("canonical_url"))
        .groupBy(col("canonical_url"))
        .agg(min(col("doc_id")).as("rep_doc"), count(lit(1)).as("n_docs"))
    },

    // CCNet head/middle/tail perplexity tertiles per language —
    // histogram-binned thresholds (the published pipeline's own shape,
    // and the one that never sorts a whole language in one task).
    "text_ccnet_buckets" -> ((s, dir) =>
      TextAnalysis.perplexityBuckets(t(s, dir, "documents"))),

    // Moving-window level-shift detector over hourly counts: every
    // full-window bucket with pre/post means and the step size; the
    // regime-change signal ts_zscore's point outliers can't see.
    "ts_level_shift" -> ((s, dir) =>
      TimeSeries.levelShift(t(s, dir, "events"), keyCol = "event_type",
        tsCol = "ts", bucketSec = 3600L, w = 6, threshold = 3.0)),

    // Two-sided CUSUM drift monitor per event type: hourly counts
    // against the first 24 buckets' baseline, slack 2/bucket, alarm at
    // 8 bucket-units of accumulated drift. Exact-integer (b-scaled)
    // prefix-sum-minus-running-min — no recurrence loop.
    "ts_cusum" -> ((s, dir) =>
      TimeSeries.cusum(t(s, dir, "events"), keyCol = "event_type",
        tsCol = "ts", bucketSec = 3600L, base = 24, slack = 2L, h = 8L)),

    // Holt linear-trend smoothing over hourly counts — the EXACT
    // infinite-horizon recursive recurrence ts_ewma truncates, run as a
    // log₂(n)-round associative affine scan (constant-matrix powers by
    // driver squaring, one per-key window lag per round, one exchange
    // total). α=1/2, β=1/4 keep every element-map coefficient dyadic.
    "ts_holt" -> ((s, dir) =>
      TimeSeries.holt(t(s, dir, "events"), keyCol = "event_type",
        tsCol = "ts", bucketSec = 3600L, alpha = 0.5, beta = 0.25)),

    // Rolling-origin one-step backtest: Holt's contract forecasts vs
    // the seasonal-naive baseline, per-key MAEs + winner flag — the
    // model-trust gate run before a forecaster ships.
    "ts_forecast_backtest" -> ((s, dir) =>
      TimeSeries.holtBacktest(t(s, dir, "events"), keyCol = "event_type",
        tsCol = "ts", bucketSec = 3600L, alpha = 0.5, beta = 0.25,
        period = 24)),

    // Per-phase SEASONAL Holt (daily cycle over hourly buckets): the
    // SAME doubling scan partitioned by (key, bucket mod 24) — each
    // phase learns its seasonal level and its cycle-over-cycle trend.
    "ts_holt_seasonal" -> ((s, dir) =>
      TimeSeries.holtSeasonal(t(s, dir, "events"), keyCol = "event_type",
        tsCol = "ts", bucketSec = 3600L, alpha = 0.5, beta = 0.25,
        period = 24)),

    // Three-way backtest: Holt vs seasonal-naive vs per-phase seasonal
    // Holt, per-key MAEs + winner (tie-break seasonal_holt > holt >
    // naive). The planted-key spec pins the hybrid beating BOTH
    // baselines on a seasonal+trend series.
    "ts_backtest_seasonal" -> ((s, dir) =>
      TimeSeries.seasonalBacktest(t(s, dir, "events"),
        keyCol = "event_type", tsCol = "ts", bucketSec = 3600L,
        alpha = 0.5, beta = 0.25, period = 24)),

    // Banded matrix profile over hourly counts: each window's best match
    // within ±48 positions (exclusion 4) by exact-integer Pearson corr
    // — motif/novelty detection. One keyed equi-join on exploded
    // offsets; never a within-key cross join.
    "ts_matrix_profile" -> ((s, dir) =>
      TimeSeries.matrixProfileBanded(t(s, dir, "events"),
        keyCol = "event_type", tsCol = "ts", bucketSec = 3600L,
        w = 16, excl = 4, band = 48)),

    // Exact Kalman filter (local-level model) over hourly counts: the
    // ts_holt doubling scan GENERALIZED to time-varying coefficients —
    // each row carries its own affine map (1−K_t, K_t·y_t), composed
    // pairwise in ⌈log₂ n⌉ window-lag rounds; the data-independent gain
    // schedule (Riccati recursion to its double fixpoint, ~40 steps)
    // rides as a literal-array lookup on BOTH engines.
    "ts_kalman" -> ((s, dir) =>
      TimeSeries.kalman(t(s, dir, "events"), keyCol = "event_type",
        tsCol = "ts", bucketSec = 3600L, q = 2.0, r = 8.0)),

    // Fixed-interval RTS smoother: the SAME per-row affine scan run
    // BACKWARD over the filter's contract (rounded) levels with the
    // Riccati C_t schedule — the full forward-backward state-space
    // pass, each direction one ⌈log₂ n⌉-round scan on the one
    // (key, bucket) exchange.
    "ts_kalman_smooth" -> ((s, dir) =>
      TimeSeries.kalmanSmooth(t(s, dir, "events"), keyCol = "event_type",
        tsCol = "ts", bucketSec = 3600L, q = 2.0, r = 8.0)),

    // Local-linear-trend Kalman: holt's model class with OPTIMAL
    // time-varying gains — the affine scan at full 2x2 MATRIX
    // generality (per-row matrix products composed in log rounds);
    // the matrix Riccati schedule rides as two literal-array lookups.
    "ts_kalman_trend" -> ((s, dir) =>
      TimeSeries.kalmanTrend(t(s, dir, "events"), keyCol = "event_type",
        tsCol = "ts", bucketSec = 3600L, qL = 2.0, qS = 0.125, r = 8.0)),

    // Yule-Walker AR(2) over hourly counts: φ from the first two
    // autocorrelations in closed form (rounded-at-6 r₁/r₂ make the φ
    // algebra a fixed IEEE tree on both engines), one-step forecasts
    // from the two observed lags — no recursion, no scan; the
    // oscillatory-regime complement to holt/seasonal/kalman.
    "ts_ar2" -> ((s, dir) =>
      TimeSeries.ar2(t(s, dir, "events"), keyCol = "event_type",
        tsCol = "ts", bucketSec = 3600L)),

    // Multi-step AR(2) forecasting: the model rolled h=12 steps past
    // each key's last observed bucket — the recurrence evaluated as a
    // chain of projected columns (linear plan), raw doubles bit-equal
    // to the oracle's recursive CTE, only the emitted forecast rounds.
    "ts_ar2_forecast" -> ((s, dir) =>
      TimeSeries.ar2Forecast(t(s, dir, "events"), keyCol = "event_type",
        tsCol = "ts", bucketSec = 3600L, h = 12)),

    // Four-way rolling-origin backtest: Holt vs seasonal-naive vs
    // per-phase seasonal Holt vs Yule-Walker AR(2), per-key MAEs +
    // winner (tie-break ar2 > seasonal_holt > holt > naive). The
    // planted-key spec pins AR(2) beating all three on an oscillatory
    // series.
    "ts_backtest_ar2" -> ((s, dir) =>
      TimeSeries.ar2Backtest(t(s, dir, "events"),
        keyCol = "event_type", tsCol = "ts", bucketSec = 3600L,
        alpha = 0.5, beta = 0.25, period = 24)),

    // ARI(2,1): Yule-Walker AR(2) over FIRST DIFFERENCES, forecasts
    // integrated back from the last observed level — the trending-AND-
    // oscillating regime the level AR(2) chases with near-unit-root φ.
    // mu is the mean difference (the drift); a pure-trend key degrades
    // to naive-with-drift inside the rounded guard algebra.
    "ts_ari2" -> ((s, dir) =>
      TimeSeries.ari2(t(s, dir, "events"), keyCol = "event_type",
        tsCol = "ts", bucketSec = 3600L)),

    // Five-way rolling-origin backtest: the four-way eval plus ARI(2,1)
    // (tie-break ari2 > ar2 > seasonal_holt > holt > naive). The
    // planted-key spec pins ARI(2) beating all four on a trend+cycle
    // series.
    "ts_backtest_ari2" -> ((s, dir) =>
      TimeSeries.ari2Backtest(t(s, dir, "events"),
        keyCol = "event_type", tsCol = "ts", bucketSec = 3600L,
        alpha = 0.5, beta = 0.25, period = 24)),

    // Multi-step ARI(2,1) forecast: the differenced AR(2) chain rolled
    // 12 steps with the level integrated back (ŷ = n_T + k·μz + Σĝ) —
    // a drift line with damping oscillation; raw doubles hash-gate
    // (projected-column recurrence = the oracle's recursive CTE tree).
    "ts_ari2_forecast" -> ((s, dir) =>
      TimeSeries.ari2Forecast(t(s, dir, "events"), keyCol = "event_type",
        tsCol = "ts", bucketSec = 3600L, h = 12)),

    // Monthly cohort retention over orders: cohort = month of a
    // customer's first order, offset grid counts distinct actives.
    // Integer month algebra (year*12+month) both engines share; counts
    // only, so exact at any scale.
    "rel_retention_cohort" -> ((s, dir) =>
      Behavior.retentionCohort(t(s, dir, "orders"),
        entityCol = "o_custkey", dateCol = "o_orderdate")),

    // First-order Markov transition matrix over each user's ordered
    // event stream (ts with event_id tiebreak): counts + row-normalized
    // probabilities (exact-long division, bit-identical across engines).
    "rel_transition_matrix" -> ((s, dir) =>
      Behavior.transitionMatrix(t(s, dir, "events"), entityCol = "user_id",
        tsCol = "ts", idCol = "event_id", typeCol = "event_type")),

    // Ordered multi-step funnel signup→view→click→purchase with the
    // earliest-greedy completion rule (strict >). Distinct from
    // stream_funnel, which attributes each purchase to its latest
    // preceding view — this one counts users reaching each PREFIX.
    "rel_funnel_steps" -> ((s, dir) =>
      Behavior.funnelSteps(t(s, dir, "events"), entityCol = "user_id",
        tsCol = "ts", typeCol = "event_type",
        steps = Seq("signup", "view", "click", "purchase"))),

    // Neyman-optimal stratified allocation of a 1000-row audit sample
    // across order priorities: σ from exact integer-cents moments, the
    // one cross-engine float (the stratum-sum denominator) rounded to 6
    // decimals before the floor per the rounded-algebra convention.
    "sample_neyman" -> ((s, dir) =>
      Sampling.neymanAllocation(t(s, dir, "orders"),
        stratumCol = "o_orderpriority", valueCol = "o_totalprice",
        totalN = 1000L)),

    // PPS Poisson sampling: inclusion ∝ order value, membership by the
    // integer md5 draw vs round(π·1e6) — an integer-vs-integer gate
    // both engines decide identically.
    "sample_pps" -> ((s, dir) =>
      Sampling.ppsSample(t(s, dir, "orders"), keyCol = "o_orderkey",
        valueCol = "o_totalprice", totalN = 1000L)),

    // Theta-method forecasting (OLS trend + SES of the theta2 line,
    // α=0.5 dyadic) per event type over hourly counts — the M3 winner
    // as a collapse + one broadcast OLS + the log-round SES scan.
    "ts_theta" -> ((s, dir) =>
      TimeSeries.theta(t(s, dir, "events"), keyCol = "event_type",
        tsCol = "ts", bucketSec = 3600L)),

    // Decile lift / cumulative gains over order values — global rank
    // via the two-level prefix op (never a corpus-wide ORDER BY
    // window), ntile boundaries reproduced exactly, gain/lift as fixed
    // IEEE trees over exact integer-cents sums.
    "rel_decile_lift" -> ((s, dir) =>
      Profile.decileLift(t(s, dir, "orders"), keyCol = "o_orderkey",
        valueCol = col("o_totalprice"), n = 10)),

    // Benford first-digit audit over order totals — the classic
    // data-quality screen for fabricated numeric columns. Digits come
    // from the INTEGER cents string (never from double formatting, which
    // engines render differently); expected log10(1+1/d) and the rounded
    // observed fractions absorb libm variance.
    // Two-sample KS drift test on the same pre/post-1998 split as
    // rel_drift_psi — binning-free, exact integer CDF cross-products,
    // prefix ranks two-level (never a global window).
    "rel_ks_test" -> { (s, dir) =>
      val o = t(s, dir, "orders")
      Profile.ksTest(
        o.filter(col("o_orderdate") < to_timestamp(lit("1998-01-01"))),
        o.filter(col("o_orderdate") >= to_timestamp(lit("1998-01-01"))),
        round(col("o_totalprice") * 100))
    },

    // Corpus-wide Spearman rank correlation (price cents × quantity),
    // tie-corrected via doubled average ranks; the rank prefix rides
    // the two-level op — no global ORDER BY window anywhere.
    "rel_spearman" -> ((s, dir) =>
      Profile.spearman(t(s, dir, "lineitem"),
        round(col("l_extendedprice") * 100), col("l_quantity"))),

    // Pearson χ² independence audit: market segment × region over the
    // customer-nation join. Integer counts; e and each cell contrib are
    // fixed IEEE expressions; χ² total decimal-accumulated.
    "rel_chi2" -> { (s, dir) =>
      val c = t(s, dir, "customer").join(t(s, dir, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      Profile.chi2(c.select(col("c_mktsegment").as("a"),
        col("n_regionkey").as("b")), "a", "b")
        .select(col("a").as("segment"), col("b").as("region"), col("o"),
          col("e"), col("contrib"), col("chi2_total"), col("dof"))
    },

    // Gini concentration of order spend per priority class — ranked-
    // prefix-sum identity on exact integer cents, one final division.
    "rel_gini" -> ((s, dir) =>
      Profile.gini(t(s, dir, "orders"), "o_orderpriority",
        round(col("o_totalprice") * 100))),

    // EXACT per-group median by distributed rank-select (two-level rank
    // + middle-rank filter) — no global sort, no percentile sketch; the
    // even-n midpoint is one IEEE division over exact integer cents.
    "rel_exact_median" -> ((s, dir) =>
      Profile.exactMedian(
        t(s, dir, "lineitem").select(col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"),
          col("l_orderkey"), col("l_linenumber")),
        "l_returnflag", col("cents"), Seq("l_orderkey", "l_linenumber"))),

    "rel_benford" -> { (s, dir) =>
      val cents = round(col("o_totalprice") * 100).cast("long")
      val d = t(s, dir, "orders")
        .select(substring(cents.cast("string"), 1, 1).as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      val tot = broadcast(d.agg(sum(col("n")).cast("double").as("__t")))
      d.crossJoin(tot).select(col("digit"), col("n"),
        round(col("n") / col("__t"), 6).as("obs_frac"),
        round(log10(lit(1.0) + lit(1.0) / col("digit").cast("double")), 6)
          .as("exp_frac"))
    },

    // ColBERT-style MaxSim late-interaction retrieval: embeddings play
    // 5-token multi-vector documents (did = vec_id div 5, pos = mod);
    // every 25th document queries the rest for its top-3.
    "ann_maxsim_topk" -> { (s, dir) =>
      val toks = t(s, dir, "embeddings").select(
        expr("vec_id div 5").as("did"), (col("vec_id") % 5).as("dpos"),
        col("embedding").cast("array<double>").as("dvec"))
      val qtoks = toks.filter(col("did") % 25 === 0).select(
        col("did").as("qid"), col("dpos").as("qpos"),
        col("dvec").as("qvec"))
      Similarity.maxSimTopK(toks, qtoks, k = 3)
    },

    // CLIP-score filtering of image-text pairs (the LAION-style
    // multimodal curation gate): adjacent embeddings play the two
    // modalities of one pair; a keyed equi-join brings a pair's sides
    // together and the codegen'd cosine scores it. Emits every pair
    // with its score and kept flag (threshold stays a consumer choice).
    "mm_clip_filter" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val img = e.filter(col("vec_id") % 2 === 0)
        .select(expr("vec_id div 2").as("pair_id"), col("v").as("img_v"))
      val txt = e.filter(col("vec_id") % 2 === 1)
        .select(expr("(vec_id - 1) div 2").as("pair_id"), col("v").as("txt_v"))
      img.join(txt, Seq("pair_id"))
        .select(col("pair_id"),
          round(Similarity.cosine(col("img_v"), col("txt_v")), 6)
            .as("clip_score"))
        .withColumn("kept", col("clip_score") >= 0.1)
    },

    // Null-safe equality join (`<=>`): the null group joins itself
    // instead of falling out — Catalyst still plans it as an equi-join
    // (EqualNullSafe is a join key, not a filter), so it shuffles on the
    // key like any other join rather than degrading to nested-loop.
    "rel_nullsafe_join" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val nk = when(col("event_type") === "error", lit(null))
        .otherwise(col("event_type"))
      val a = ev.groupBy(nk.as("etype")).agg(sum(col("value")).as("sum_value"))
      val b = ev.groupBy(nk.as("etype")).agg(count(lit(1)).as("n_events"))
      a.join(b, a("etype") <=> b("etype"))
        .select(a("etype"), col("sum_value"), col("n_events"))
    },

    // Semi-structured VARIANT through the SQL surface: parse_json once
    // into Spark's binary variant encoding, then typed path extraction
    // (variant_get) — no schema inference pass over the corpus, missing
    // paths are NULL via try_variant_get, and the parse + both gets stay
    // one codegen'd projection. At 100 TB this is the schema-on-read
    // path for ragged event payloads.
    "sql_variant" -> { (s, dir) =>
      t(s, dir, "events").createOrReplaceTempView("events")
      s.sql(
        """SELECT event_type,
          |       sum(variant_get(parse_json(props), '$.k', 'bigint')) AS sum_k,
          |       count(try_variant_get(parse_json(props), '$.missing', 'string')) AS n_miss,
          |       count(1) AS n_events
          |FROM events GROUP BY event_type""".stripMargin)
    },

    // Z-order (Morton) clustered write + 2-D box read-back: the oracle is
    // the same box filter + agg on the ORIGINAL table, so any row the
    // clustered round-trip loses or mangles turns the gate red. The
    // file-level skipping the layout exists for is asserted in
    // OperatorSpec (box touches a strict subset of files; a 1-D sort
    // cannot do that for both dimensions at once).
    "rel_zorder" -> { (s, dir) =>
      val path = layoutPath("orders_zorder")
      Layout.zorderWrite(t(s, dir, "orders"),
        col("o_custkey"),
        floor(col("o_totalprice") / 1000.0).cast("long"),
        bits = 15, nFiles = 16, path)
      s.read.parquet(path)
        .filter(col("o_custkey").between(100, 199) &&
          col("o_totalprice") >= 50000.0 && col("o_totalprice") < 150000.0)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          (sum(col("o_totalprice").cast("decimal(18,2)")) * 100).cast("long")
            .as("sum_price_cents"))
    },

    // Weighted sampling without replacement (Efraimidis–Spirakis):
    // inclusion odds ∝ n_chars, selection a pure function of the key set,
    // executed as TakeOrdered (k-bounded, no global sort).
    "sample_weighted" -> ((s, dir) =>
      Sampling.weightedSample(t(s, dir, "documents"), keyCol = "doc_id",
        weightCol = "n_chars", k = 50)
        .select(col("doc_id"), col("n_chars"), col("es_key"))),

    // Unigram entropy per document (H = ln N − Σ n·ln n / N): the
    // distribution-shape quality signal, over the same collapsed
    // (doc, term) tf rows as term_stats.
    "text_entropy" -> ((s, dir) =>
      TextAnalysis.tokenEntropy(t(s, dir, "documents"))),

    // Corpus bigram LM statistics: top continuation per head token with
    // exact integer pair/head counts.
    "text_bigram_lm" -> ((s, dir) =>
      TextAnalysis.bigramModel(t(s, dir, "documents"))),

    // Bigram-LM perplexity per document (the CCNet-style quality filter):
    // add-k smoothed corpus LM, each doc scored by its own transitions.
    "text_perplexity" -> ((s, dir) =>
      TextAnalysis.perplexity(t(s, dir, "documents"))),

    // Interpolated Kneser–Ney bigram probabilities (type-count
    // continuation smoothing, the KenLM default) — exact integer counts,
    // one IEEE expression per bigram, hash-gated.
    "text_kneser_ney" -> ((s, dir) =>
      TextAnalysis.kneserNey(t(s, dir, "documents"))),

    // RAKE keyword scoring (Rose et al. 2010): phrases are maximal
    // stopword-free runs; word degree sums the lengths of the phrases
    // each occurrence sits in, score = deg/freq. One token explode, one
    // doc-partitioned running-count window to assign phrase ids, then
    // vocabulary-sized aggregates — integer counts, single division.
    "text_rake" -> ((s, dir) =>
      TextAnalysis.rake(t(s, dir, "documents"), stopwords = Seq("a", "the"))),

    // Per-doc top-3 TF-IDF terms (smoothed sklearn idf), ties by term —
    // one persisted explode, vocabulary-sized df, 1-row N broadcast.
    "text_tfidf_topk" -> ((s, dir) =>
      TextAnalysis.tfidfTopK(t(s, dir, "documents"), k = 3)),

    // Dunning G² collocations — the significance-weighted companion to
    // text_pmi; fixed 4-term contingency tree per bigram.
    "text_collocation_llr" -> ((s, dir) =>
      TextAnalysis.collocationLlr(t(s, dir, "documents"))),

    // Sequence-length bucketing (padding-efficiency prep): ntile(8) over
    // the total (len, doc_id) order; per-bucket padding waste =
    // max_len·n − Σlen. The rank behind the ntile is the TWO-LEVEL
    // bucketed prefix count (ops.TwoLevelRank — intra-stripe windows
    // partitioned by (len, doc-stripe); only the collapsed (len, stripe)
    // frame crosses the one ordered window), and the bucket id is exact
    // integer ntile arithmetic from (rank, N) — a direct
    // `ntile(8).over(Window.orderBy(len, doc_id))` computes the same
    // buckets but serializes EVERY document through one task.
    "sample_length_bucket" -> { (s, dir) =>
      val len = t(s, dir, "documents")
        .select(col("doc_id"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("len"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val ranked = TwoLevelRank.rank(len, Nil, Seq("len"),
        expr("doc_id div 4096"), Seq("doc_id"), "__i")
      val tot = len.agg(count(lit(1)).as("__n"))
      ranked.crossJoin(broadcast(tot))
        .withColumn("bucket",
          TwoLevelRank.ntileFromRank(col("__i"), col("__n"), 8))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"), min(col("len")).as("min_len"),
          max(col("len")).as("max_len"), sum(col("len")).as("sum_len"))
        .withColumn("padding_waste",
          col("max_len") * col("n_docs") - col("sum_len"))
    },

    // ── wave 8: graph analytics + warehouse CDC ───────────────────────

    // Degree distribution of the part co-purchase graph (parts sharing
    // an order). The self-join fan-out is bounded per order (≤ C(7,2)
    // pairs for TPC-H line counts), so the edge build is linear.
    "graph_degree_dist" -> ((s, dir) =>
      Graph.degreeDistribution(coPurchaseEdges(s, dir))),

    // Exactly-once triangle count over canonically oriented edges: two
    // equi-joins close wedges, no pair materialized twice.
    "graph_triangles" -> ((s, dir) =>
      Graph.triangleStats(coPurchaseEdges(s, dir))),

    // 3-iteration PageRank over the bidirectional customer↔supplier
    // trade graph. Suppliers are namespaced by NEGATION (supplier k is
    // node −(k+1), strictly negative even for key 0): customer keys are
    // ≥ 0 at every scale factor, so the two id spaces stay disjoint no
    // matter how large the keys grow — unlike an additive constant,
    // which o_custkey silently overruns around sf ≥ 67. Unrolled
    // declarative plan; N and out-degrees in-plan; every node emitted
    // (no top-k ordering on a near-tied double).
    "graph_pagerank" -> { (s, dir) =>
      // e pinned at the QUERY site (r15 second pass): the fwd/rev union
      // references the trade-pair distinct twice, and exchange reuse
      // does NOT collapse the duplicate across union legs (plan audit:
      // reused=0 — the tradePairs scaladoc's reuse note predates AQE's
      // per-leg re-planning). Pinning here leaves tradePairs'
      // single-reference consumers (hits, pagerank_directed) untaxed,
      // the measured reason its own persist was rejected.
      val e = tradePairs(s, dir).localCheckpoint()
      val fwd = e.select(col("c").as("src"), (-col("su") - 1).as("dst"))
      val rev = e.select((-col("su") - 1).as("src"), col("c").as("dst"))
      Graph.pagerank(fwd.unionAll(rev), "src", "dst", iters = 3, damping = 0.85)
    },

    // Personalized PageRank seeded on customers 1..5 over the undirected
    // trade graph: restart mass returns to the seed set, so scores rank
    // graph proximity TO those customers (random-walk-with-restart — the
    // seed-expansion / recommendation primitive). Same unrolled plan
    // shape as graph_pagerank; oracle replays the recurrence.
    "graph_ppr" -> { (s, dir) =>
      import s.implicits._
      // pinned for the two-leg union — same receipt as graph_pagerank
      val e = tradePairs(s, dir).localCheckpoint()
      val fwd = e.select(col("c").as("src"), (-col("su") - 1).as("dst"))
      val rev = e.select((-col("su") - 1).as("src"), col("c").as("dst"))
      val seeds = Seq(1L, 2L, 3L, 4L, 5L).toDF("node")
      Graph.personalizedPagerank(fwd.unionAll(rev), "src", "dst", seeds,
        iters = 3, damping = 0.85)
    },

    // Weighted PageRank over the bidirectional trade graph: each edge
    // carries the (customer, supplier) trade count, so rank flows in
    // proportion to relationship VOLUME instead of uniform 1/outdeg —
    // the variant co-occurrence/trade graphs actually use. Same
    // unrolled plan shape as graph_pagerank; oracle replays the
    // weighted recurrence.
    "graph_pagerank_weighted" -> { (s, dir) =>
      // pinned for the two-leg union — same receipt as graph_pagerank
      val e = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey").as("c"), col("l_suppkey").as("su"))
        .agg(count(lit(1)).cast("double").as("w"))
        .localCheckpoint()
      val fwd = e.select(col("c").as("src"), (-col("su") - 1).as("dst"), col("w"))
      val rev = e.select((-col("su") - 1).as("src"), col("c").as("dst"), col("w"))
      Graph.pagerankWeighted(fwd.unionAll(rev), "src", "dst", "w",
        iters = 3, damping = 0.85)
    },

    // PageRank over the DIRECTED customer→supplier graph: suppliers have
    // no outgoing edges, so every one of them is a dangling sink — the
    // query exercises the Σ pr(dangling)/N redistribution (without it,
    // ~half the mass would leak per iteration). Oracle: the same
    // unrolled-CTE recurrence with the dangling term.
    "graph_pagerank_directed" -> { (s, dir) =>
      val e = tradePairs(s, dir)
      Graph.pagerank(e.select(col("c").as("src"), (-col("su") - 1).as("dst")),
        "src", "dst", iters = 3, damping = 0.85, redistributeDangling = true)
    },

    // Bounded SCC coloring over the directed trade graph: customers buy
    // from suppliers (c → su), returns flow back (su → c on 'R'
    // lineitems), so cycles exist exactly where a pair trades in both
    // directions. f/b min-label rounds = 3; {f=b} groups are true SCC
    // subsets, the unresolved remainder rides as a constant column.
    "graph_scc_bounded" -> { (s, dir) =>
      // ONE join + ONE keyed aggregate build both edge directions: the
      // (c, su) pair collapses with a has-return flag, then fwd edges
      // come from every pair and back-edges from the flagged ones (the
      // two join+distinct passes this replaces scanned lineitem twice).
      // pairs is pinned (r15 second pass): the union below reads it
      // twice and AQE only reuses the BROADCAST side across the legs —
      // the plan audit showed each leg re-running the orders⋈lineitem
      // shuffle+aggregate (PLANS.md: two separate pair-agg Exchanges,
      // one ReusedExchange only for the orders broadcast).
      val pairs = t(s, dir, "orders").join(t(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey").as("c"), (-col("l_suppkey") - 1).as("su"))
        .agg(max(when(col("l_returnflag") === "R", 1).otherwise(0)).as("r"))
        .localCheckpoint()
      val ed = pairs.select(col("c").as("src"), col("su").as("dst"))
        .unionAll(pairs.filter(col("r") === 1)
          .select(col("su").as("src"), col("c").as("dst")))
      Graph.sccBounded(ed, "src", "dst", rounds = 3)
    },

    // The same trade graph decomposed to CONVERGENCE: FW-BW coloring
    // peels exact SCCs until no node is unresolved — the honest-partial
    // caveat of graph_scc_bounded closed. The oracle computes the TRUE
    // decomposition independently via recursive transitive closure
    // (mutual-reachability representatives), so the gate proves the
    // peeling loop lands on the exact answer, not just a fixpoint.
    "graph_scc_converged" -> { (s, dir) =>
      // pairs pinned for the two-leg union — same plan-audit receipt as
      // graph_scc_bounded above (r15 second pass)
      val pairs = t(s, dir, "orders").join(t(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey").as("c"), (-col("l_suppkey") - 1).as("su"))
        .agg(max(when(col("l_returnflag") === "R", 1).otherwise(0)).as("r"))
        .localCheckpoint()
      val ed = pairs.select(col("c").as("src"), col("su").as("dst"))
        .unionAll(pairs.filter(col("r") === 1)
          .select(col("su").as("src"), col("c").as("dst")))
      Graph.sccConverge(ed, "src", "dst")
    },

    // HITS hubs/authorities over the directed customer→supplier graph
    // (customers only buy, suppliers only sell — pure hub and pure
    // authority sides make the scores interpretable). 3 unrolled
    // iterations, L∞ (max) normalization so the normalizer is
    // fold-order-independent; the oracle replicates the recurrence
    // term for term.
    "graph_hits" -> { (s, dir) =>
      val e = tradePairs(s, dir)
      // tradePairs is already distinct over (c, su) and the orientation
      // map is injective, so the op-level dedup pass is skipped (r16)
      Graph.hits(e.select(col("c").as("src"), (-col("su") - 1).as("dst")),
        "src", "dst", iters = 3, edgesDistinct = true)
    },

    // Degree assortativity (Newman 2002): Pearson r of endpoint degrees
    // over both edge orientations — every moment sum is an exact long,
    // one IEEE expression at the end. r16: every moment over the
    // SYMMETRIZED list folds onto one orientation — sym holds each edge
    // (a,b) as both (a,b) and (b,a), so count(sym) = 2·|e|,
    // Σ_sym du = Σ_e (d_a + d_b), Σ_sym du² = Σ_e (d_a² + d_b²),
    // Σ_sym du·dv = 2·Σ_e d_a·d_b, and sy/syy equal sx/sxx by the same
    // symmetry. ONE deg join pass over |E| rows and ONE grouped-free
    // aggregate replace two joins over 2|E| rows; every BIGINT lands on
    // the same exact value, so the final IEEE expression (with sy/syy
    // substituted by their provably-equal twins) is bit-identical.
    "graph_assortativity" -> { (s, dir) =>
      val e = coPurchaseEdges(s, dir) // already persisted at the op
      val deg = e.select(col("a").as("node"))
        .unionAll(e.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("d"))
      val p = e
        .join(deg.select(col("node").as("a"), col("d").as("da")), Seq("a"))
        .join(deg.select(col("node").as("b"), col("d").as("db")), Seq("b"))
      val m = p.agg((lit(2L) * count(lit(1))).as("m"),
        sum(col("da") + col("db")).as("sx"),
        sum(col("da") * col("da") + col("db") * col("db")).as("sxx"),
        (lit(2L) * sum(col("da") * col("db"))).as("sxy"))
      m.select(col("m"),
        ((col("m") * col("sxy") - col("sx") * col("sx")).cast("double") /
          sqrt((col("m") * col("sxx") - col("sx") * col("sx")).cast("double") *
            (col("m") * col("sxx") - col("sx") * col("sx")).cast("double")))
          .as("assortativity"))
    },

    // Local clustering coefficient from the canonical triangle join —
    // per-node triangle credit via one explode, wedge capacity from the
    // degree frame; integer counts, one division.
    "graph_clustering_coeff" -> ((s, dir) =>
      Graph.clusteringCoefficient(coPurchaseEdges(s, dir))),

    // Triangle count under the degree-ordered orientation — hash-gated
    // equal to graph_triangles' id-ordered count (both are total-order
    // orientations of the same graph), while bounding wedge fan-out by
    // √|E| per node — the form that survives a hot hub at 100× scale.
    "graph_triangles_deg" -> ((s, dir) =>
      Graph.triangleCountByDegree(coPurchaseEdges(s, dir))),

    // Snapshot diff between two synthetic versions of orders (drop key
    // multiples of 10 from v1, of 7 from v2; bump price on multiples of
    // 3): every non-unchanged key with its classification. The oracle
    // classifies RELATIONALLY (IS DISTINCT FROM on the columns), so the
    // md5 row-hash shortcut inside the operator is itself under test.
    "rel_table_diff" -> { (s, dir) =>
      val o = t(s, dir, "orders")
      val v1 = o.filter(col("o_orderkey") % 10 =!= 0)
      val v2 = o.filter(col("o_orderkey") % 7 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 3 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")))
      Profile.snapshotDiff(v1, v2, "o_orderkey",
        Seq("o_custkey", "o_orderstatus", "o_totalprice"))
        .filter(col("change_type") =!= "unchanged")
    },

    // Deterministic random walks (node2vec corpus generator) over the
    // support-2 co-purchase graph: 4 md5-driven steps from every node,
    // the full path CSV gated position by position.
    "graph_random_walk" -> ((s, dir) =>
      Graph.randomWalks(coPurchaseEdges(s, dir), len = 4, seed = 42L)),

    // 3-round multi-source BFS from the %97 seed set: hop distances for
    // every node within 3 hops (min-plus relaxation, per-round persist).
    "graph_bfs" -> { (s, dir) =>
      val ed = coPurchaseEdges(s, dir)
      val seeds = ed.select(col("a").as("node"))
        .unionAll(ed.select(col("b").as("node"))).distinct()
        .filter(col("node") % 97 === 0)
      Graph.bfsDistances(ed, seeds, rounds = 3)
    },

    // Item-item CF recommendations: per part, top-5 co-purchased parts
    // by true cosine over per-order count vectors (support = the exact
    // inner product the edge build already sums; norms = per-part
    // sum of squared order counts). Edge frame and norms only - nothing
    // basket-sized moves.
    "graph_item_cf" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val norms = li.groupBy(col("ok"), col("pk")).agg(count(lit(1)).as("c"))
        .groupBy(col("pk").as("node")).agg(sum(col("c") * col("c")).as("ssq"))
      Graph.itemItemCosine(
        coPurchaseWeighted(s, dir).select(col("a"), col("b"), col("__n").as("w")),
        norms, topK = 5)
    },

    // Minimum spanning forest (Boruvka rounds) of the weighted
    // co-purchase graph under the strict (w, a, b) order - the unique
    // MSF, so the oracle's independent unrolled replay must produce the
    // identical edge set.
    "graph_mst_boruvka" -> ((s, dir) =>
      Graph.mstBoruvka(
        coPurchaseWeighted(s, dir).select(col("a"), col("b"), col("__n").as("w")))),

    // Weighted shortest paths (3-round Bellman-Ford min-plus) over the
    // customer<->supplier trade graph, edge weight = lineitem count per
    // pair: the weighted generalization of graph_bfs, exact integer
    // distances over <=3-hop paths from the %97 seed customers.
    "graph_sssp_weighted" -> { (s, dir) =>
      // e pinned (r15 second pass): the union below references it twice
      // and exchange reuse does NOT collapse the duplicated
      // orders⋈lineitem aggregate across union legs (the graph_scc plan
      // audit receipt) — so even adj's ONE persist materialization paid
      // the build twice.
      val e = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey").as("c"), col("l_suppkey").as("su"))
        .agg(count(lit(1)).as("w"))
        .localCheckpoint()
      // persisted: the relaxation joins this frame once per round (and
      // the seed set derives from it) — without the cache each round
      // re-runs the orders⋈lineitem build (the bfsDistances discipline)
      val adj = e.select(col("c").as("src"), (-col("su") - 1).as("dst"), col("w"))
        .unionAll(e.select((-col("su") - 1).as("src"), col("c").as("dst"), col("w")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val seeds = adj.select(col("src").as("node")).distinct()
        .filter(col("node") >= 0 && col("node") % 97 === 0)
      Graph.ssspBounded(adj, seeds, rounds = 3)
    },

    // Diameter lower bound by double-sweep BFS: sweep 1 from the
    // smallest node, sweep 2 from the farthest node it reaches (tie →
    // smallest id); one exact-integer row. Two bounded single-source
    // BFS passes — the 1-row pivot between them is a broadcast.
    "graph_diameter" -> ((s, dir) =>
      Graph.diameterDoubleSweep(coPurchaseEdges(s, dir), rounds = 3)),

    // Bounded closeness centrality from the same seed set as graph_bfs:
    // per-seed 3-hop BFS balls in one keyed pass, then
    // (reached−1)/Σdist — integer sums, one division, hash-gated.
    "graph_closeness" -> { (s, dir) =>
      val ed = coPurchaseEdges(s, dir)
      val seeds = ed.select(col("a").as("node"))
        .unionAll(ed.select(col("b").as("node"))).distinct()
        .filter(col("node") % 97 === 0)
      Graph.closenessBounded(ed, seeds, rounds = 3)
    },

    // Seed-sampled bounded Brandes betweenness (3-hop, same seed set):
    // σ forward in exact integers, δ backward as the unrolled dependency
    // recurrence, round(,6) absorbing δ's last-ulp fold drift.
    "graph_betweenness" -> { (s, dir) =>
      val ed = coPurchaseEdges(s, dir)
      val seeds = ed.select(col("a").as("node"))
        .unionAll(ed.select(col("b").as("node"))).distinct()
        .filter(col("node") % 97 === 0)
      Graph.betweennessBounded(ed, seeds)
    },

    // 2 rounds of 2-core peeling over the co-purchase graph (drop
    // degree<2 nodes, recount on the induced subgraph) — the densest-
    // region filter, fixed-round for oracle replay.
    "graph_kcore" -> ((s, dir) =>
      Graph.kCorePeel(coPurchaseEdges(s, dir), k = 2, rounds = 2)),

    // 2 rounds of 3-truss peeling (drop edges in no triangle, recount on
    // the induced subgraph) — the edge-level densification one notch
    // above graph_kcore; fixed-round for oracle replay, support
    // recomputed on the final subgraph (0 marks a further round's prey).
    "graph_ktruss" -> ((s, dir) =>
      Graph.kTrussPeel(coPurchaseEdges(s, dir), k = 3, rounds = 2)),

    // Partition quality of the 3-round label-prop communities: Newman
    // modularity from integer counts, total decimal-summed.
    "graph_modularity" -> { (s, dir) =>
      val ed = coPurchaseEdges(s, dir) // already persisted at the op
      Graph.modularity(ed, Graph.labelPropagationNodes(ed, rounds = 3))
    },

    // One synchronized Louvain local-move pass from singleton
    // communities: each node joins the neighbor maximizing the
    // integer-scaled modularity gain 2m·w − d_i·d_j (ties → lowest
    // neighbor id, stay put unless the gain is positive).
    "graph_louvain_move" -> ((s, dir) =>
      Graph.louvainLocalMove(coPurchaseEdges(s, dir))),

    // The multi-level step that gives Louvain its power: coarsen by the
    // local-move communities (parallel edges → integer weights, internal
    // edges → self-loops), rerun the synchronized local move on the
    // weighted coarse graph, compose back. Gains stay exact integers
    // (DECIMAL/HUGEINT — weighted terms grow as m²); the oracle replays
    // both levels.
    "graph_louvain_multilevel" -> ((s, dir) =>
      Graph.louvainTwoLevel(coPurchaseEdges(s, dir))),

    // Leiden-style connectivity refinement over the two-level Louvain
    // partition: every community split into the connected components of
    // its induced subgraph, so the Leiden guarantee (no disconnected
    // community) holds; modularity can only rise. The oracle replays the
    // identical Louvain chain, then closes components with an independent
    // recursive transitive closure.
    "graph_leiden" -> ((s, dir) =>
      Graph.leidenRefine(coPurchaseEdges(s, dir), edgesCanonical = true)),

    // The Leiden GUARANTEES themselves, gated at corpus scale: every
    // refined community connected (re-verified by a second, independent
    // component closure over the within-refined edges) and exact-integer
    // modularity non-decrease vs the unrefined Louvain partition
    // (Q·4m² = Σ 4m·l_c − d_c², a BIGINT comparison). The oracle
    // recomputes both invariants with its own recursive closures.
    "graph_leiden_quality" -> ((s, dir) =>
      Graph.leidenQuality(coPurchaseEdges(s, dir), edgesCanonical = true)),

    // Link prediction by neighbor-set Jaccard: candidates only through
    // shared neighbors (the wedge envelope), score a ratio of exact
    // integers via inclusion-exclusion.
    "graph_jaccard_neighbors" -> ((s, dir) =>
      Graph.neighborJaccard(coPurchaseEdges(s, dir),
        minCommon = 2, minJaccard = 0.25)),

    // 3-round synchronous min-label propagation over the co-purchase
    // graph: each node ends holding the min node id within 3 hops — the
    // fixed-round, oracle-replayable community/component pass (the
    // converging doubling variant lives in dedup_groups).
    "graph_components_lp" -> ((s, dir) =>
      Graph.labelPropagation(coPurchaseEdges(s, dir), rounds = 3)),

    // TRUE connected components by alternating large-star/small-star
    // contraction (SoCC'14) — O(log² n) rounds regardless of component
    // diameter, where min-label propagation pays one shuffle per hop.
    // The oracle is an INDEPENDENT algorithm (recursive transitive
    // closure to a fixpoint), so the gate checks the answer, not the
    // round structure.
    "graph_cc_twostars" -> ((s, dir) =>
      Graph.ccTwoStars(coPurchaseEdges(s, dir))),

    // Bipartiteness + 2-coloring via the double cover: two CC closures
    // (log-round, never diameter-bounded BFS); color anchored at each
    // component's min node. Odd-cycle components emit NULL colors and
    // is_bipartite=false.
    "graph_bipartite" -> ((s, dir) =>
      Graph.bipartiteColor(coPurchaseEdges(s, dir))),

    // Luby maximal independent set — O(log n) bulk-parallel rounds of
    // deterministic-priority symmetry breaking; every node decided
    // (in/out + round), replayable exactly.
    "graph_mis" -> ((s, dir) =>
      Graph.lubyMis(coPurchaseEdges(s, dir))),

    // Jones–Plassmann greedy coloring: fixed deterministic priorities,
    // each round's local-minimum vertices take the smallest color their
    // colored neighbors don't use — bulk-parallel greedy coloring,
    // replayable round-for-round; active edges only shrink.
    "graph_coloring" -> ((s, dir) =>
      Graph.jonesPlassmann(coPurchaseEdges(s, dir))),

    // CDC changelog apply: events as an I/U/D log keyed by user; latest
    // op by (ts, event_id) wins, terminal deletes drop the key.
    "rel_cdc_apply" -> { (s, dir) =>
      val log = t(s, dir, "events").select(
        col("user_id"),
        when(col("event_type") === "signup", "I")
          .when(col("event_type") === "error", "D")
          .otherwise("U").as("op"),
        col("ts"), col("event_id"), col("value"))
      Profile.cdcApply(log, "user_id", "op", Seq("ts", "event_id"), Seq("value"))
    },

    // Snapshot read / time travel: the same I/U/D log viewed as an
    // append-only commit log (version = day of month), read AT version 15
    // — per key the latest (version, ts, event_id) commit <= 15 wins, a
    // terminal delete hides the key. One keyed argmax; cdc_apply above is
    // the v = latest special case of this read.
    "rel_snapshot_read" -> { (s, dir) =>
      val log = t(s, dir, "events").select(
        col("user_id"),
        dayofmonth(col("ts")).as("v"),
        when(col("event_type") === "signup", "I")
          .when(col("event_type") === "error", "D")
          .otherwise("U").as("op"),
        col("ts"), col("event_id"), col("value"))
      Profile.snapshotAt(log, "user_id", "v", Seq("ts", "event_id"), "op",
        Seq("value"), v = 15L)
    },
  )

  /** Part pairs co-occurring in ≥ 2 orders, canonically oriented (a < b)
    * — the edge list for the graph_* queries. The support threshold is
    * the standard market-basket sparsifier, and it is what keeps the
    * graph workable at ANY scale: the raw co-occurrence graph densifies
    * with the data (sf0.1 already has 1.2M distinct pairs, avg degree
    * ~90, ~50M wedges — the triangle join on it stalls DuckDB and Spark
    * alike), while the support-2 graph stays at a few thousand edges
    * because random pairs rarely repeat. Real co-purchase analytics
    * always mine ABOVE a support floor for exactly this reason. */
  /** Distinct customer↔supplier trade pairs — the node pair stream the
    * graph_pagerank* queries orient. */
  private def tradePairs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("su"))
      .distinct()
    // (No query-boundary persist here, unlike coPurchaseEdges: every
    // consumer immediately re-distincts and persists inside the Graph op.
    // A persist layer HERE was measured to cost the single-reference
    // consumers (hits, pagerank_directed) 0.4-0.6 s and win nothing; the
    // double-reference consumers — pagerank's and ppr's fwd/rev unions,
    // whose duplicated distinct AQE does NOT collapse across union legs
    // (r15 second-pass plan audit; an earlier note here claimed
    // otherwise) — pin the result with localCheckpoint at their own
    // query sites instead.)

  /** [[coPurchaseEdges]] with the support count kept — the weighted edge
    * frame item-item CF scores over (⟨v_a, v_b⟩ = Σ_orders cnt_a·cnt_b,
    * exactly the pair count this build sums). One-shot, unpersisted:
    * its single consumer aggregates it immediately. */
  private def coPurchaseWeighted(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    // Pair formation is PER ORDER over the sorted raw part list — ONE
    // keyed shuffle (group straight to the per-order array, duplicates
    // kept) where the previous form stacked a (ok,pk) multiplicity agg
    // under the (ok) collect (two shuffles; and before that, a lineitem
    // self-join). Strict ps[i]<ps[j] occurrence pairs at weight 1 give
    // the SAME support total: for a<b in a sorted-with-duplicates array
    // every occurrence of a precedes every occurrence of b, so an order
    // contributes exactly cnt(a)·cnt(b) such pairs — the weight the
    // multiplicity form attached explicitly (A/B'd bit-identical, edge
    // build 1.26→1.03 s cold at sf0.1). Pair fan-out stays bounded by
    // C(lines, 2) ≤ 21 per order; the transform lambda runs once per
    // PAIR, the shape the bigram-LM fix proved sub-second at corpus
    // scale.
    val ps = col("ps")
    val pairs = flatten(transform(sequence(lit(1), size(ps) - 1), i =>
      transform(slice(ps, lit(1), i), x =>
        struct(x.as("a"), element_at(ps, i + 1).as("b")))))
    li.groupBy(col("ok"))
      .agg(sort_array(collect_list(col("pk"))).as("ps"))
      .filter(size(ps) >= 2)
      .select(explode(pairs).as("p"))
      .filter(col("p.a") < col("p.b"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= 2)
  }

  // Emits strictly-canonical distinct edges (a < b, one row per pair —
  // the groupBy(a,b) output under the a < b pair filter). The leiden
  // consumers pass edgesCanonical = true so their within-frame closures
  // skip the dedup exchange; the DIRECT closure consumers
  // (graph_cc_twostars, graph_bipartite) measured +11 %/+25 % with the
  // skip and keep the default: this cached frame is 32-partitioned, so
  // without the dedup's AQE-sized exchange the closure's round-0
  // checkpoint lands as 32/96 fixture-tiny partitions (tools/PartProbe,
  // source at commit b627139: 96 vs 1 on the bipartite union) and the
  // per-round scheduling overhead outweighs the saved shuffle at the
  // measured scale (r16 receipt).
  private[graft] def coPurchaseEdges(s: SparkSession, dir: String): DataFrame =
    coPurchaseWeighted(s, dir)
      .select(col("a"), col("b"))
      // Persisted at the edge frame itself (not only the symmetrized
      // copies the Graph ops persist internally): every graph_* query
      // ALSO derives an aux frame from it (seed set, node list, degree
      // frame), and without this the aux materialization re-executes
      // the whole build — graph_bfs paid it 2-3× per sample. The
      // support-2 edge list is the frame the docstring argues stays
      // small at any scale, so the cache is a few thousand rows.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  private def bigSpenders(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").filter(col("o_totalprice") > 400000)
      .select(col("o_custkey").as("custkey")).distinct()
  private def buildingCustomers(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("custkey")).distinct()

  /** The LSH top-k oracle replicates the ENTIRE approximate pipeline in
    * DuckDB — hyperplane sign-bit bucketing included — by materializing
    * the deterministic plane matrix (Similarity.hyperplanes(8, 64), the
    * exact planes lshTopK uses) as SQL literals. Java's Double.toString is
    * shortest-round-trip, so DuckDB parses each literal back to the
    * identical double; dot products fold left-to-right on both sides.
    * This upgrades ann_lsh_topk from "no_oracle" to a full hash gate: the
    * approximate answer itself is verified, not just its row count. */
  private def sqlDoubleArray(xs: Seq[Double]): String =
    xs.map(d => java.lang.Double.toString(d)).mkString("[", ", ", "]::DOUBLE[]")

  /** CTE chain `e, planes, b` computing every vector's sign-bit bucket
    * from a literal plane matrix — shared by the two LSH oracles. */
  private def bucketCtes(planes: Seq[Seq[Double]]): String = {
    val planeRows = planes.zipWithIndex
      .map { case (p, i) => s"($i, ${sqlDoubleArray(p)})" }.mkString(", ")
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |planes(pid, p) AS (VALUES $planeRows),
       |b AS (
       |  SELECT vec_id, v,
       |         sum(CASE WHEN list_reduce(list_transform(range(0, len(v)), i -> v[i+1] * p[i+1]), (x,y) -> x + y) >= 0
       |                  THEN CAST(1 AS BIGINT) << pid ELSE 0 END) AS bucket
       |  FROM e, planes GROUP BY vec_id, v)""".stripMargin
  }

  private val lshOracleSql: String =
    s"""WITH ${bucketCtes(Similarity.hyperplanes(8, 64))},
       |q AS (SELECT vec_id AS qid, v AS qv, bucket FROM b WHERE vec_id < 8),
       |p2 AS (SELECT qid, b.vec_id AS nid,
       |        list_reduce(list_transform(range(0, len(qv)), i -> b.v[i+1] * qv[i+1]), (x,y) -> x + y) /
       |        (sqrt(list_reduce(list_transform(range(0, len(qv)), i -> b.v[i+1] * b.v[i+1]), (x,y) -> x + y)) *
       |         sqrt(list_reduce(list_transform(range(0, len(qv)), i -> qv[i+1] * qv[i+1]), (x,y) -> x + y))) AS sim
       |      FROM q JOIN b ON q.bucket = b.bucket AND b.vec_id <> qid)
       |SELECT qid AS query_id, nid AS neighbor_id, CAST(rnk AS INT) AS rank, sim
       |FROM (SELECT qid, nid, sim, row_number() OVER (PARTITION BY qid
       |        ORDER BY sim DESC, nid) AS rnk FROM p2)
       |WHERE rnk <= 10""".stripMargin

  /** Same plane-literal technique for the embedding near-dup bucketing
    * query (12 planes): every bucket value is recomputed by DuckDB. */
  private val embeddingLshOracleSql: String =
    s"""WITH ${bucketCtes(Similarity.hyperplanes(12, 64))}
       |SELECT vec_id, CAST(bucket AS BIGINT) AS bucket FROM b""".stripMargin

  /** Planted clusterable vectors for the IVF hash gate: 4 clusters of 10
    * in dim 8, cluster c centered at 10·e_c with deterministic per-
    * coordinate jitter ≤ 0.06 — tight within, near-orthogonal across, so
    * k-means (any reasonable run) recovers the clusters and nProbe=2
    * recall is provably 1.0. Doubles round-trip through Double.toString
    * literals, so the DuckDB twin computes over identical values. */
  private[graft] def plantedClusterVectors: Seq[(Long, Seq[Double])] =
    for {
      c <- 0 until 4
      i <- 0 until 10
    } yield {
      val id = (c * 10 + i).toLong
      (id, Seq.tabulate(8) { j =>
        (if (j == c) 10.0 else 0.0) + 0.01 * ((id * 8 + j) % 7)
      })
    }

  private def hexOf(s: String): String =
    s.getBytes("UTF-8").map(b => f"$b%02X").mkString

  /** Byte-exact hex-space replay of [[graft.ops.Multimodal.tarShards]]:
    * ustar headers (constant fields precomputed as hex literals, octal
    * size/name per member), the POSIX checksum folded over the header's
    * 512 hex pairs, NUL padding, ordered member concatenation per shard,
    * and the 1024-byte end-of-archive marker. */
  private val mmTarShardsOracleSql: String = {
    val nul = "\u0000"
    val midHex = hexOf("0000644" + nul + "0000000" + nul + "0000000" + nul)
    val mtimeHex = hexOf("00000000000" + nul)
    val spacesHex = hexOf("        ")
    val magicHex = hexOf("0" + (nul * 100) + "ustar" + nul + "00")
    val tailZeros = 32 + 32 + 8 + 8 + 155 + 12
    s"""WITH d AS (SELECT doc_id AS media_id,
       |        upper(md5(text)) || hex(text) AS phex,
       |        16 + octet_length(text::BLOB) AS n_bytes
       |      FROM documents),
       |h AS (SELECT media_id, phex, n_bytes,
       |        hex(lpad(CAST(media_id AS VARCHAR), 12, '0') || '.bin')
       |          || repeat('00', 84) AS name_hex,
       |        hex(lpad(to_base(n_bytes, 8), 11, '0')) || '00' AS size_hex,
       |        512 + ((n_bytes + 511) // 512) * 512 AS padded,
       |        ((n_bytes + 511) // 512) * 512 - n_bytes AS pad
       |      FROM d),
       |hh AS (SELECT media_id, phex, n_bytes, padded, pad,
       |        name_hex || '$midHex' || size_hex || '$mtimeHex'
       |          || '$spacesHex' || '$magicHex'
       |          || repeat('00', $tailZeros) AS hsp,
       |        name_hex, size_hex
       |       FROM h),
       |ck AS (SELECT *, list_sum(list_transform(range(0, 512),
       |          i -> CAST('0x' || substr(hsp, CAST(i * 2 + 1 AS INT), 2)
       |                 AS INT))) AS chk
       |       FROM hh),
       |mem AS (SELECT media_id, padded,
       |         name_hex || '$midHex' || size_hex || '$mtimeHex'
       |           || hex(lpad(to_base(CAST(chk AS BIGINT), 8), 6, '0')) || '0020'
       |           || '$magicHex' || repeat('00', $tailZeros)
       |           || phex || repeat('00', CAST(pad AS INT)) AS mhex
       |        FROM ck),
       |asg AS (SELECT media_id, mhex,
       |         coalesce(sum(padded) OVER (ORDER BY media_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |           // 65536 AS shard_id
       |        FROM mem),
       |sh AS (SELECT shard_id,
       |         CAST(count(*) AS BIGINT) AS n_members,
       |         string_agg(mhex, '' ORDER BY media_id)
       |           || repeat('00', 1024) AS thex
       |       FROM asg GROUP BY shard_id)
       |SELECT CAST(shard_id AS BIGINT) AS shard_id, n_members,
       |       CAST(length(thex) // 2 AS BIGINT) AS tar_len,
       |       md5(thex) AS tar_hex_md5
       |FROM sh""".stripMargin
  }

  // Exact brute-force 5-NN graph over ALL planted nodes — what a
  // converged NN-descent must equal on this fixture (see
  // ann_nndescent_planted's plan note).
  private val nnDescentPlantedOracleSql: String = {
    val rows = plantedClusterVectors
      .map { case (id, v) => s"($id, ${sqlDoubleArray(v)})" }.mkString(", ")
    s"""WITH pv(vec_id, v) AS (VALUES $rows),
       |p2 AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
       |        list_reduce(list_transform(range(0, len(a.v)), i -> b.v[i+1] * a.v[i+1]), (x,y) -> x + y) /
       |        (sqrt(list_reduce(list_transform(range(0, len(a.v)), i -> b.v[i+1] * b.v[i+1]), (x,y) -> x + y)) *
       |         sqrt(list_reduce(list_transform(range(0, len(a.v)), i -> a.v[i+1] * a.v[i+1]), (x,y) -> x + y))) AS sim
       |      FROM pv a JOIN pv b ON a.vec_id <> b.vec_id)
       |SELECT CAST(qid AS BIGINT) AS node_id, CAST(nid AS BIGINT) AS neighbor_id,
       |       CAST(rnk AS INT) AS rank, sim
       |FROM (SELECT qid, nid, sim, row_number() OVER (PARTITION BY qid
       |        ORDER BY sim DESC, nid) AS rnk FROM p2)
       |WHERE rnk <= 5""".stripMargin
  }

  /** Full replay of the unigram-LM tokenizer: candidate vocab, both
    * Viterbi passes UNROLLED round-for-round (one CTE per relaxation
    * round — the per-(word,pos) argmax can't live inside a recursive
    * CTE, which forbids mid-recursion aggregation), the EM usage
    * re-estimate between them, and the final piece rollup. Scores are
    * the identical ln-sum trees the engine builds; ties break ORDER BY
    * score DESC, path DESC = the engine's max(struct(score, path)). */
  private def unigramCtes(maxTokLen: Int, topSubs: Int,
      rounds: Int): String = {
    def viterbiCtes(tag: String, edges: String): String =
      (s"""s${tag}_0 AS MATERIALIZED (SELECT word, 0 AS pos, CAST(0.0 AS DOUBLE) AS score,
          |        '' AS path FROM wf)""".stripMargin +:
        (1 to rounds).map { r =>
          s"""s${tag}_$r AS MATERIALIZED (SELECT word, pos, score, path FROM (
             |  SELECT word, pos, score, path,
             |    row_number() OVER (PARTITION BY word, pos
             |      ORDER BY score DESC, path DESC) AS rn
             |  FROM (SELECT word, pos, score, path FROM s${tag}_${r - 1}
             |        UNION ALL
             |        SELECT s.word, e.tpos AS pos, s.score + e.lp AS score,
             |               s.path || chr(31) || e.tok AS path
             |        FROM s${tag}_${r - 1} s
             |        JOIN $edges e ON s.word = e.word AND s.pos = e.fpos))
             |  WHERE rn = 1)""".stripMargin
        }).mkString(",\n")
    s"""WITH
       |tk AS (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
       |       FROM documents),
       |wf AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM tk
       |       WHERE length(word) > 0 GROUP BY word),
       |ch AS (SELECT substr(word, CAST(i AS INT), 1) AS tok,
       |              CAST(sum(freq) AS BIGINT) AS sfreq
       |       FROM wf, unnest(range(1, length(word) + 1)) AS u(i) GROUP BY 1),
       |sub AS (SELECT tok, sfreq FROM (
       |         SELECT substr(word, CAST(i AS INT), CAST(l AS INT)) AS tok,
       |                CAST(sum(freq) AS BIGINT) AS sfreq
       |         FROM wf,
       |              unnest(range(1, length(word))) AS u(i),
       |              unnest(range(2, $maxTokLen + 1)) AS v(l)
       |         WHERE length(word) >= 2 AND l <= length(word) - i + 1
       |         GROUP BY 1)
       |        ORDER BY sfreq DESC, tok LIMIT $topSubs),
       |v0 AS MATERIALIZED (SELECT tok, sfreq FROM ch UNION ALL SELECT tok, sfreq FROM sub),
       |t0 AS (SELECT sum(sfreq) AS tt FROM v0),
       |lp0 AS (SELECT tok, ln(CAST(sfreq AS DOUBLE)) - ln(CAST(tt AS DOUBLE)) AS lp
       |        FROM v0, t0),
       |cand AS MATERIALIZED (SELECT wf.word, CAST(fp AS INT) AS fpos,
       |                CAST(fp + tl AS INT) AS tpos,
       |                substr(wf.word, CAST(fp + 1 AS INT), CAST(tl AS INT)) AS sub
       |         FROM wf,
       |              unnest(range(0, length(wf.word))) AS p(fp),
       |              unnest(range(1, $maxTokLen + 1)) AS l(tl)
       |         WHERE tl <= length(wf.word) - fp),
       |e0 AS MATERIALIZED (SELECT c.word, c.fpos, c.tpos, lp0.tok, lp0.lp
       |       FROM cand c JOIN lp0 ON c.sub = lp0.tok),
       |${viterbiCtes("0", "e0")},
       |fin0 AS MATERIALIZED (SELECT s.word, wf.freq, substr(s.path, 2) AS path
       |         FROM s0_$rounds s
       |         JOIN wf ON s.word = wf.word AND s.pos = length(wf.word)),
       |us AS (SELECT tok, CAST(sum(freq) AS BIGINT) AS u FROM (
       |        SELECT unnest(string_split(path, chr(31))) AS tok, freq
       |        FROM fin0) GROUP BY tok),
       |v1 AS (SELECT v0.tok, coalesce(us.u, 0) + 1 AS uf
       |       FROM v0 LEFT JOIN us ON v0.tok = us.tok),
       |t1 AS (SELECT sum(uf) AS tt FROM v1),
       |lp1 AS (SELECT tok, ln(CAST(uf AS DOUBLE)) - ln(CAST(tt AS DOUBLE)) AS lp
       |        FROM v1, t1),
       |e1 AS MATERIALIZED (SELECT c.word, c.fpos, c.tpos, lp1.tok, lp1.lp
       |       FROM cand c JOIN lp1 ON c.sub = lp1.tok),
       |${viterbiCtes("1", "e1")},
       |fin1 AS MATERIALIZED (SELECT s.word, wf.freq, substr(s.path, 2) AS path
       |         FROM s1_$rounds s
       |         JOIN wf ON s.word = wf.word AND s.pos = length(wf.word))""".stripMargin
  }

  private def unigramLmOracleSql(maxTokLen: Int, topSubs: Int,
      rounds: Int): String =
    s"""${unigramCtes(maxTokLen, topSubs, rounds)}
       |SELECT tok AS token, CAST(length(tok) AS BIGINT) AS tok_len,
       |       CAST(count(DISTINCT word) AS BIGINT) AS n_words,
       |       CAST(sum(freq) AS BIGINT) AS corpus_occ
       |FROM (SELECT word, freq, unnest(string_split(path, chr(31))) AS tok
       |      FROM fin1)
       |GROUP BY tok""".stripMargin

  // The apply half: per-word piece counts from the SAME converged
  // segmentation, joined back to the corpus word stream.
  private def unigramEncodeOracleSql(maxTokLen: Int, topSubs: Int,
      rounds: Int): String =
    s"""${unigramCtes(maxTokLen, topSubs, rounds)},
       |wt AS (SELECT word,
       |         1 + length(path) - length(replace(path, chr(31), '')) AS n_tokens
       |       FROM fin1),
       |dw AS (SELECT doc_id,
       |         unnest(string_split_regex(trim(text), '\\s+')) AS word
       |       FROM documents)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(sum(n_tokens) AS BIGINT) AS n_unigram_tokens
       |FROM dw JOIN wt USING (word)
       |WHERE length(word) > 0 GROUP BY doc_id""".stripMargin

  private val ivfPlantedOracleSql: String = {
    val rows = plantedClusterVectors
      .map { case (id, v) => s"($id, ${sqlDoubleArray(v)})" }.mkString(", ")
    s"""WITH pv(vec_id, v) AS (VALUES $rows),
       |q AS (SELECT vec_id AS qid, v AS qv FROM pv WHERE vec_id % 10 = 0),
       |p2 AS (SELECT qid, pv.vec_id AS nid,
       |        list_reduce(list_transform(range(0, len(qv)), i -> pv.v[i+1] * qv[i+1]), (x,y) -> x + y) /
       |        (sqrt(list_reduce(list_transform(range(0, len(qv)), i -> pv.v[i+1] * pv.v[i+1]), (x,y) -> x + y)) *
       |         sqrt(list_reduce(list_transform(range(0, len(qv)), i -> qv[i+1] * qv[i+1]), (x,y) -> x + y))) AS sim
       |      FROM q JOIN pv ON pv.vec_id <> qid)
       |SELECT CAST(qid AS BIGINT) AS query_id, CAST(nid AS BIGINT) AS neighbor_id,
       |       CAST(rnk AS INT) AS rank, sim
       |FROM (SELECT qid, nid, sim, row_number() OVER (PARTITION BY qid
       |        ORDER BY sim DESC, nid) AS rnk FROM p2)
       |WHERE rnk <= 5""".stripMargin
  }

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

  /** Shared int8-quantization CTEs (`e` raw vectors → `s` (vec_id, qv)) —
    * the DuckDB replica of vectornative.quantize_int8, composed by every
    * quantized-analytics oracle (k-means, SemDeDup, PCA power iteration). */
  private val quantizeCtes: String =
    """e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |s AS (SELECT vec_id,
      |    CASE WHEN list_max(list_transform(v, x -> abs(x))) = 0
      |         THEN list_transform(v, x -> 0.0)
      |         ELSE list_transform(v, x -> round(x / (list_max(list_transform(v, y -> abs(y))) / 127))) END AS qv
      |  FROM e)""".stripMargin

  /** Shared CTE chain of the quantized-k-means recurrence (quantize →
    * init → `iters` assign/update rounds → final assignment s{iters+1}
    * with (vec_id, qv, cid)) — composed by the kmeans oracle and the
    * SemDeDup oracle so the clustering replay can't drift between them. */
  private def kmeansCtes(iters: Int): String = {
    def assign(src: String, cents: String, out: Int): String =
      s"""a$out AS (SELECT vec_id, qv, $cents.cid AS cid, row_number() OVER (PARTITION BY vec_id ORDER BY
         |  list_reduce(list_transform(range(0, len(qv)), i -> (qv[i+1]-cv[i+1])*(qv[i+1]-cv[i+1])), (x,y) -> x+y), $cents.cid) AS rk
         |  FROM $src, $cents),
         |s$out AS (SELECT vec_id, qv, cid FROM a$out WHERE rk = 1)""".stripMargin
    def update(n: Int): String =
      s"""x$n AS (SELECT cid, i AS pos, qv[CAST(i+1 AS INT)] AS val
         |  FROM s$n, unnest(range(0, len(qv))) AS u(i)),
         |m$n AS (SELECT cid, pos, round(avg(val)) + 0.0 AS cval FROM x$n GROUP BY cid, pos),
         |c$n AS (SELECT cid, list(cval ORDER BY pos) AS cv FROM m$n GROUP BY cid)""".stripMargin
    val rounds = (1 to iters).map(i =>
      assign(if (i == 1) "s" else s"s${i - 1}", s"c${i - 1}", i) + ",\n" + update(i))
      .mkString(",\n")
    val fin = iters + 1
    s"""WITH $quantizeCtes,
       |c0 AS (SELECT vec_id AS cid, qv AS cv FROM s WHERE vec_id < 8),
       |$rounds,
       |${assign(s"s$iters", s"c$iters", fin)}""".stripMargin
  }

  private def kmeansOracleSql(iters: Int): String = {
    val fin = iters + 1
    s"""${kmeansCtes(iters)}
       |SELECT s$fin.cid AS cid, CAST(count(*) AS BIGINT) AS n_members,
       |       CAST(sum(vec_id) AS BIGINT) AS id_sum,
       |       CAST(min(vec_id) AS BIGINT) AS min_id,
       |       array_to_string(list_transform(c$iters.cv,
       |         x -> CAST(CAST(x AS BIGINT) AS VARCHAR)), ',') AS centroid
       |FROM s$fin JOIN c$iters ON s$fin.cid = c$iters.cid
       |GROUP BY s$fin.cid, c$iters.cv""".stripMargin
  }

  /** Greedy k-center oracle: the farthest-first recurrence unrolled —
    * seed = lowest vec_id, then k−1 rounds of (argmax of min-distance,
    * ties → lowest id; pointwise min-distance update). Distances on the
    * shared int8 grid, so every comparison is exact. */
  private def kCenterOracleSql(k: Int): String = {
    def d2(qv: String, cv: String): String =
      s"list_reduce(list_transform(range(0, len($qv)), i -> ($qv[i+1]-$cv[i+1])*($qv[i+1]-$cv[i+1])), (x,y) -> x+y)"
    val rounds = (2 to k).map { r =>
      val prev = s"m${r - 1}"
      s"""c$r AS (SELECT vec_id AS cid, qv AS cv, mind FROM $prev
         |        ORDER BY mind DESC, vec_id LIMIT 1),
         |m$r AS (SELECT $prev.vec_id, $prev.qv,
         |         least($prev.mind, ${d2(s"$prev.qv", s"c$r.cv")}) AS mind
         |        FROM $prev, c$r)""".stripMargin
    }.mkString(",\n")
    val sel = (2 to k).map(r =>
      s"UNION ALL SELECT CAST($r AS BIGINT), cid, CAST(mind AS BIGINT) FROM c$r")
      .mkString("\n")
    s"""WITH $quantizeCtes,
       |c1 AS (SELECT vec_id AS cid, qv AS cv FROM s ORDER BY vec_id LIMIT 1),
       |m1 AS (SELECT s.vec_id, s.qv, ${d2("s.qv", "c1.cv")} AS mind
       |       FROM s, c1),
       |$rounds,
       |cov AS (SELECT CAST(max(mind) AS BIGINT) AS radius,
       |         CAST(sum(mind) AS BIGINT) AS sum_mind,
       |         CAST(count(*) AS BIGINT) AS n_points FROM m$k),
       |sel AS (SELECT CAST(1 AS BIGINT) AS sel_order, cid AS center_id,
       |         CAST(0 AS BIGINT) AS picked_dist FROM c1
       |$sel)
       |SELECT sel.sel_order, sel.center_id, sel.picked_dist,
       |       cov.radius, cov.sum_mind, cov.n_points
       |FROM sel, cov""".stripMargin
  }

  /** Silhouette oracle: replay the k-means routing (shared CTEs), then
    * per-vector distances to all final centroids and the (b−a)/max(a,b)
    * score — the same per-row expression as silhouetteQuantized. */
  private def silhouetteOracleSql(iters: Int): String = {
    val fin = iters + 1
    s"""${kmeansCtes(iters)},
       |dd AS (SELECT s$fin.vec_id, s$fin.cid, c$iters.cid AS cc,
       |        list_reduce(list_transform(range(0, len(qv)),
       |          i -> (qv[i+1]-cv[i+1])*(qv[i+1]-cv[i+1])), (x,y) -> x+y) AS d2
       |       FROM s$fin, c$iters),
       |ab AS (SELECT vec_id, cid,
       |        min(CASE WHEN cc = cid THEN d2 END) AS a2,
       |        min(CASE WHEN cc <> cid THEN d2 END) AS b2
       |       FROM dd GROUP BY vec_id, cid)
       |SELECT vec_id, cid, sqrt(a2) AS a, sqrt(b2) AS b,
       |       CASE WHEN greatest(sqrt(a2), sqrt(b2)) > 0
       |            THEN (sqrt(b2) - sqrt(a2)) / greatest(sqrt(a2), sqrt(b2))
       |            ELSE 0.0 END AS s
       |FROM ab""".stripMargin
  }

  /** PCA power-iteration oracle: Gram matrix from the shared quantize
    * CTEs, then `iters` unrolled multiply/rescale rounds on the same
    * 10⁶ integer grid as Similarity.pcaPowerQuantized. */
  /** Shared CTE chain of the power-iteration recurrence (quantize → Gram
    * → `iters` multiply/rescale rounds ending at v{iters}), composed by
    * the PCA oracle and the whitening oracle. */
  private def pcaCtes(iters: Int): String = {
    val rounds = (1 to iters).map { k =>
      val prev = s"v${k - 1}"
      s"""w$k AS (SELECT g.i, sum(g.g * $prev.v) AS w
         |       FROM g JOIN $prev ON g.j = $prev.j GROUP BY g.i),
         |m$k AS (SELECT max(abs(w)) AS mx FROM w$k),
         |v$k AS (SELECT i AS j,
         |         CASE WHEN mx > 0 THEN round(w / mx * 1000000.0, 0)
         |              ELSE 0.0 END AS v
         |       FROM w$k, m$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH $quantizeCtes,
       |g AS (SELECT a.i, b.j, CAST(sum(qv[CAST(a.i+1 AS INT)] * qv[CAST(b.j+1 AS INT)]) AS DOUBLE) AS g
       |      FROM s, unnest(range(0, len(qv))) AS a(i), unnest(range(0, len(qv))) AS b(j)
       |      GROUP BY a.i, b.j),
       |v0 AS (SELECT i AS j, 1000000.0 AS v FROM (SELECT DISTINCT i FROM g)),
       |$rounds""".stripMargin
  }

  private def pcaPowerOracleSql(iters: Int): String =
    s"""${pcaCtes(iters)}
       |SELECT j AS pos,
       |       CASE WHEN ss > 0 THEN v / sqrt(ss) ELSE 0.0 END AS loading
       |FROM v$iters, (SELECT sum(v * v) AS ss FROM v$iters)""".stripMargin

  /** Whitening oracle: unit direction from the shared PCA CTEs, then the
    * same fixed-order dot products and the ‖q‖² − proj² residual. */
  private def whitenOracleSql(iters: Int): String =
    s"""${pcaCtes(iters)},
       |varr AS (SELECT list(CASE WHEN ss > 0 THEN v / sqrt(ss) ELSE 0.0 END
       |                      ORDER BY j) AS v
       |         FROM v$iters, (SELECT sum(v * v) AS ss FROM v$iters)),
       |pr AS (SELECT vec_id,
       |        list_reduce(list_transform(range(0, len(qv)),
       |          i -> qv[CAST(i+1 AS INT)] * v[CAST(i+1 AS INT)]), (a,b) -> a + b) AS proj,
       |        list_reduce(list_transform(qv, z -> z*z), (a,b) -> a + b) AS qq
       |       FROM s, varr)
       |SELECT vec_id, proj, sqrt(qq - proj * proj) AS res_norm FROM pr""".stripMargin

  /** SemDeDup oracle: replay the k-means routing (shared CTEs), then the
    * same integer-exact within-cluster cosine test and lower-id drop rule
    * as Dedup.semanticDedup. */
  private def semanticDedupOracleSql(iters: Int, tauNum: Int,
      tauDen: Int): String = {
    val fin = iters + 1
    s"""${kmeansCtes(iters)},
       |pr AS (SELECT x.vec_id AS ida, y.vec_id AS idb,
       |        list_reduce(list_transform(range(0, len(x.qv)),
       |          i -> x.qv[CAST(i+1 AS INT)]*y.qv[CAST(i+1 AS INT)]), (p,q) -> p+q) AS dot,
       |        list_reduce(list_transform(x.qv, z -> z*z), (p,q) -> p+q) AS na2,
       |        list_reduce(list_transform(y.qv, z -> z*z), (p,q) -> p+q) AS nb2
       |      FROM s$fin x JOIN s$fin y ON x.cid = y.cid AND x.vec_id < y.vec_id),
       |dup AS (SELECT idb AS vec_id, CAST(count(*) AS BIGINT) AS n_dup_lower FROM pr
       |        WHERE dot >= 0 AND dot*dot*${tauDen * tauDen} >= ${tauNum * tauNum}*na2*nb2
       |        GROUP BY idb)
       |SELECT s.vec_id, s.cid, d.vec_id IS NULL AS kept,
       |       coalesce(d.n_dup_lower, CAST(0 AS BIGINT)) AS n_dup_lower
       |FROM s$fin s LEFT JOIN dup d ON s.vec_id = d.vec_id""".stripMargin
  }

  /** DuckDB replica of the ENTIRE md5-twin MinHash+LSH pipeline
    * (minhashLshPairsMd5): the seeded (a·h+b) mod p family as 64 literal
    * rows, shingling via list slices, base hash = integer of the first 8
    * md5 hex digits, per-band slice-string bucket keys, candidate
    * self-join, and position-agreement estimated Jaccard. */
  /** Shared md5-base MinHash-LSH candidate CTE chain (hash family →
    * tokens → shingles → md5-base hashes → signatures → bands → distinct
    * candidate pairs) over `docsSrc`, a FROM-able (doc_id, text) source.
    * Docs with fewer than 3 tokens produce no shingles, hence no
    * signature rows — the same exclusion the engine's pre-filter makes
    * explicit. Used by both the minhash md5 twin and the
    * levenshtein-verify oracle so the candidate generation can't drift
    * between them. */
  /** BPE-merge oracle: k unrolled count→argmax→merge iterations as a CTE
    * chain, replicating TextAnalysis.bpeMerges recurrence CTE-for-CTE
    * (windows flattened two-deep because DuckDB rejects nested window
    * calls). */
  /** Shared CTE chain of the BPE recurrence (vocab → char state t0 →
    * k count/argmax/merge rounds ending in token state t{k}) — composed
    * by both the learn oracle (reads m1..mk) and the encode oracle
    * (reads t{k}), mirroring TextAnalysis.bpeLoop. */
  private def bpeIterCtes(iterations: Int): String =
    (1 to iterations).map { i =>
      val j = i - 1
      s"""p$i AS (SELECT tok AS a, lead(tok) OVER (PARTITION BY word ORDER BY pos) AS b, freq FROM t$j),
         |c$i AS (SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt FROM p$i
         |       WHERE b IS NOT NULL AND a <> b GROUP BY a, b),
         |m$i AS (SELECT a, b, cnt FROM c$i ORDER BY cnt DESC, a, b LIMIT 1),
         |s$i AS (SELECT word, freq, pos, tok,
         |         tok = (SELECT a FROM m$i) AND
         |         lead(tok) OVER (PARTITION BY word ORDER BY pos) = (SELECT b FROM m$i) AS sel
         |       FROM t$j),
         |s${i}b AS (SELECT word, freq, pos, tok, sel,
         |          lag(sel) OVER (PARTITION BY word ORDER BY pos) AS prev_sel
         |        FROM s$i),
         |t$i AS (SELECT word, freq,
         |         row_number() OVER (PARTITION BY word ORDER BY pos) AS pos,
         |         CASE WHEN coalesce(sel, false) THEN tok || (SELECT b FROM m$i) ELSE tok END AS tok
         |       FROM s${i}b WHERE NOT coalesce(prev_sel, false))""".stripMargin
    }.mkString(",\n")

  private def bpeCtes(iterations: Int): String =
    s"""vocab AS (
       |  SELECT tok AS word, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM documents)
       |  GROUP BY tok),
       |t0 AS (
       |  SELECT word, freq, i AS pos, word[i] AS tok
       |  FROM vocab, unnest(range(1, len(word) + 1)) AS u(i)),
       |${bpeIterCtes(iterations)}""".stripMargin

  /** Byte-level twin: identical iteration CTEs, but t0 symbolizes each
    * word's UTF-8 BYTES as 2-hex-char symbols (DuckDB hex(VARCHAR) and
    * Spark hex(encode(.,'UTF-8')) agree byte-for-byte, both uppercase). */
  private def bpeBytesCtes(iterations: Int): String =
    s"""vocab AS (
       |  SELECT tok AS word, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM documents)
       |  GROUP BY tok HAVING len(tok) > 0),
       |t0 AS (
       |  SELECT word, freq, i AS pos, substr(hex(word), 2*i - 1, 2) AS tok
       |  FROM vocab, unnest(range(1, len(hex(word)) // 2 + 1)) AS u(i)),
       |${bpeIterCtes(iterations)}""".stripMargin

  private def bpeBytesOracleSql(iterations: Int): String = {
    val unions = (1 to iterations).map { i =>
      if (i == 1) s"SELECT CAST(1 AS BIGINT) AS iter, a || ' ' || b AS pair, cnt FROM m1"
      else s"SELECT $i, a || ' ' || b, cnt FROM m$i"
    }.mkString("\nUNION ALL ")
    s"""WITH ${bpeBytesCtes(iterations)}
       |SELECT * FROM (
       |$unions)""".stripMargin
  }

  private def bpeBytesEncodeOracleSql(iterations: Int): String =
    s"""WITH ${bpeBytesCtes(iterations)}
       |SELECT word, freq, string_agg(tok, ' ' ORDER BY pos) AS tokens,
       |       CAST(count(*) AS BIGINT) AS n_tokens,
       |       decode(from_hex(replace(string_agg(tok, ' ' ORDER BY pos),
       |         ' ', ''))) = word AS roundtrip
       |FROM t$iterations GROUP BY word, freq""".stripMargin

  private def bpeOracleSql(iterations: Int): String = {
    val unions = (1 to iterations).map { i =>
      if (i == 1) s"SELECT CAST(1 AS BIGINT) AS iter, a || ' ' || b AS pair, cnt FROM m1"
      else s"SELECT $i, a || ' ' || b, cnt FROM m$i"
    }.mkString("\nUNION ALL ")
    s"""WITH ${bpeCtes(iterations)}
       |SELECT * FROM (
       |$unions)""".stripMargin
  }

  private def bpeEncodeOracleSql(iterations: Int): String =
    s"""WITH ${bpeCtes(iterations)}
       |SELECT word, freq, string_agg(tok, ' ' ORDER BY pos) AS tokens,
       |       CAST(count(*) AS BIGINT) AS n_tokens
       |FROM t$iterations GROUP BY word, freq""".stripMargin

  private def md5LshCandCtes(docsSrc: String): String = {
    val famRows = graft.ops.Dedup.hashFamily(64).zipWithIndex
      .map { case ((a, b), i) => s"($i, $a, $b)" }.mkString(", ")
    s"""fam(hid, a, b) AS (VALUES $famRows),
       |tk AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM $docsSrc),
       |sh AS (SELECT doc_id, array_to_string(toks[i+1:i+3], ' ') AS s
       |       FROM tk, unnest(range(0, greatest(len(toks) - 2, 0))) AS u(i)),
       |hs AS (SELECT doc_id, CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) % 2147483647 AS h
       |       FROM sh),
       |sig AS (SELECT doc_id, hid, min((a * h + b) % 2147483647) AS m
       |        FROM hs, fam GROUP BY doc_id, hid),
       |sigl AS (SELECT doc_id, list(m ORDER BY hid) AS sig FROM sig GROUP BY doc_id),
       |banded AS (SELECT doc_id, b AS band_id,
       |             array_to_string(sig[b * 4 + 1 : b * 4 + 4], ',') AS bkey
       |           FROM sigl, unnest(range(0, 16)) AS u(b)),
       |cand AS (SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id
       |         FROM banded l JOIN banded r
       |           ON l.band_id = r.band_id AND l.bkey = r.bkey AND l.doc_id < r.doc_id)""".stripMargin
  }

  private val minhashMd5OracleSql: String =
    s"""WITH ${md5LshCandCtes("documents")},
       |pairs AS (SELECT left_id, right_id,
       |            len(list_filter(range(64), i -> ls.sig[i+1] = rs.sig[i+1])) / 64.0 AS est_jaccard
       |          FROM cand
       |          JOIN sigl ls ON ls.doc_id = left_id
       |          JOIN sigl rs ON rs.doc_id = right_id)
       |SELECT left_id, right_id, est_jaccard FROM pairs""".stripMargin

  private val dedupFuzzyLevOracleSql: String =
    s"""WITH docs0 AS (SELECT doc_id, text FROM documents
       |               WHERE strlen(text) = length(text)),
       |${md5LshCandCtes("docs0")}
       |SELECT c.left_id, c.right_id,
       |       CAST(levenshtein(lt.text, rt.text) AS BIGINT) AS lev
       |FROM cand c
       |JOIN docs0 lt ON lt.doc_id = c.left_id
       |JOIN docs0 rt ON rt.doc_id = c.right_id
       |WHERE levenshtein(lt.text, rt.text) <= 60""".stripMargin

  /** Incremental-dedup oracle: the shared md5 LSH candidate chain,
    * restricted to pairs touching a new (%7==0) doc, exact-verified by
    * string-set 3-gram Jaccard (counts equal the engine's sorted-hash
    * merge — the dedup_ngram_jaccard precedent), then each new doc's
    * smallest corpus-or-earlier-new partner. */
  private val dedupIncrementOracleSql: String =
    s"""WITH ${md5LshCandCtes("documents")},
       |sets AS (SELECT doc_id, list_distinct(list_transform(
       |           range(0, greatest(len(toks) - 2, 0)),
       |           i -> array_to_string(toks[CAST(i + 1 AS INT):CAST(i + 3 AS INT)], ' '))) AS sh
       |         FROM tk),
       |ver AS (SELECT c.left_id, c.right_id FROM cand c
       |        JOIN sets l ON l.doc_id = c.left_id
       |        JOIN sets r ON r.doc_id = c.right_id
       |        WHERE (c.left_id % 7 = 0 OR c.right_id % 7 = 0)
       |          AND CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE) /
       |              len(list_distinct(list_concat(l.sh, r.sh))) >= 0.5),
       |m AS (SELECT left_id AS doc_id, right_id AS other FROM ver
       |      UNION ALL SELECT right_id AS doc_id, left_id AS other FROM ver),
       |agg AS (SELECT doc_id, min(other) AS dup_of FROM m
       |        WHERE other % 7 <> 0 OR other < doc_id GROUP BY doc_id)
       |SELECT n.doc_id, a.dup_of IS NOT NULL AS is_duplicate, a.dup_of
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 7 = 0) n
       |LEFT JOIN agg a ON a.doc_id = n.doc_id""".stripMargin

  private val sqlCorrelated: String =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders o
      |WHERE o_totalprice > 2 * (SELECT avg(o_totalprice) FROM orders i
      |                          WHERE i.o_custkey = o.o_custkey)""".stripMargin

  private val sqlGroupingSets: String =
    """SELECT o_orderpriority, o_orderstatus,
      |       CAST(grouping(o_orderpriority) AS BIGINT) AS g_prio,
      |       CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
      |       count(*) AS n_orders
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())""".stripMargin

  /** ANSI SQL shared verbatim by the engine (spark.sql) and the oracle. */
  /** Recursive CTE shared VERBATIM between Spark 4's native WITH
    * RECURSIVE and DuckDB: per-region rank chains (each node has at most
    * one successor and one predecessor, so UNION ALL terminates and
    * produces no duplicate paths), then downstream reachability per
    * start node. */
  private val sqlRecursive: String =
    """WITH RECURSIVE ranked AS (
      |  SELECT n_nationkey, n_regionkey,
      |         row_number() OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) AS rk
      |  FROM nation),
      |edges AS (
      |  SELECT a.n_nationkey AS src, b.n_nationkey AS dst
      |  FROM ranked a JOIN ranked b
      |    ON a.n_regionkey = b.n_regionkey AND b.rk = a.rk + 1),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM edges
      |  UNION ALL
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
      |SELECT src, CAST(count(*) AS BIGINT) AS n_reachable,
      |       CAST(max(dst) AS BIGINT) AS farthest
      |FROM reach GROUP BY src""".stripMargin

  private val sqlLateralJoin: String =
    """SELECT o_orderkey, t.n_items, t.max_price
      |FROM orders o, LATERAL (SELECT CAST(count(*) AS BIGINT) AS n_items,
      |                               max(l_extendedprice) AS max_price
      |                        FROM lineitem WHERE l_orderkey = o_orderkey) t
      |WHERE o_orderkey % 37 = 0""".stripMargin

  private val sqlQ5: String =
    """SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS revenue,
      |       count(*) AS n_lineitems
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |GROUP BY n_name""".stripMargin

  // Identical text on both engines: customers with a >150k order but no
  // urgent one, plus a scalar-subquery global benchmark value.
  private val sqlExists: String =
    """SELECT c_custkey, c_mktsegment,
      |       (SELECT count(*) FROM orders WHERE o_totalprice > 150000) AS n_big_orders
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 150000)
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND o.o_orderpriority = '1-URGENT')""".stripMargin

  /** Per-process scratch root for the Layout write/read-back queries.
    *
    * MUST be unique per JVM: these queries write a path and read it back
    * within one plan, so a FIXED shared path (the pre-r6
    * `/tmp/graft-layout/<name>`) lets any concurrent process — driver
    * verify, driver bench, sbt test — overwrite the input mid-flight.
    * That race was the adjudicated root cause of four red r5 rows
    * (same group count, wrong aggregates: rows_match ∧ ¬hash_match).
    * `createTempDirectory` gives an OS-unique root; deleteOnExit keeps
    * /tmp bounded across repeated runs. */
  private lazy val layoutRoot: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-layout-")
    dir.toFile.deleteOnExit()
    dir.toString
  }

  private def layoutPath(name: String): String = layoutRoot + "/" + name

  /** Per-process suffix for metastore table names (bucketed tables): two
    * concurrent JVMs each registering `graft_li_b` would collide if a
    * shared catalog were ever configured, and DROP TABLE IF EXISTS from
    * one would yank the other's table. The pid makes names disjoint. */
  private lazy val tableSuffix: String =
    "_p" + java.lang.ProcessHandle.current().pid()

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

  /** pHash oracle: the identical stride-sampled grid, the identical DCT
    * as Σ pixel · literal (the SAME doubles Multimodal.phashDctWeights
    * computed, as exact decimal expansions — no libm on either engine),
    * the 8th-smallest threshold via list_sort, integer hash assembly,
    * and the grouping replayed. */
  /** The pHash CTE chain (m → g → f → h → ph) shared by the exact and
    * near-grouping oracles — ph = (media_id, dc, phash). */
  private def phashCte(): String = {
    val w = graft.ops.Multimodal.phashDctWeights()
    def lit(d: Double) = new java.math.BigDecimal(d).toPlainString
    val px = (0 until 64).map(i =>
      s"CAST(ord(substr(text, 1 + ($i * n) // 64, 1)) AS BIGINT) AS p$i")
      .mkString(",\n         ")
    val fs = (0 until 16).map { k =>
      (0 until 64).map(i => s"p$i * ${lit(w(k)(i))}").mkString(" + ") +
        s" AS f$k"
    }.mkString(",\n         ")
    val sorted = (1 until 16).map(k => s"round(f$k, 6)").mkString("[", ", ", "]")
    val bits = (1 until 16).map(k =>
      s"CASE WHEN round(f$k, 6) > med THEN ${1L << (k - 1)} ELSE 0 END")
      .mkString(" + ")
    s"""m AS (SELECT doc_id AS media_id, text, strlen(text) AS n
       |           FROM documents
       |           WHERE strlen(text) = length(text)
       |             AND strlen(text) > 0),
       |g AS (SELECT media_id,
       |         $px
       |      FROM m),
       |f AS (SELECT media_id,
       |         $fs
       |      FROM g),
       |h AS (SELECT *, list_sort($sorted)[8] AS med FROM f),
       |ph AS (SELECT media_id, f0 AS dc,
       |         CAST($bits AS BIGINT) AS phash FROM h)""".stripMargin
  }

  private def phashOracleSql(): String =
    s"""WITH ${phashCte()},
       |gr AS (SELECT phash, CAST(count(*) AS BIGINT) AS n_same,
       |         min(media_id) AS keeper_id FROM ph GROUP BY phash)
       |SELECT ph.media_id, ph.phash, ph.dc, gr.n_same, gr.keeper_id
       |FROM ph JOIN gr USING (phash)""".stripMargin

  /** Hamming-≤d oracle: ALL-PAIRS bit_count(xor) over the distinct
    * hashes (fixture-scale brute force — independent of the engine's
    * pigeonhole banding), components by recursive min-label closure. */
  private def phashNearOracleSql(d: Int): String =
    s"""WITH RECURSIVE ${phashCte()},
       |hs AS (SELECT DISTINCT phash FROM ph),
       |e AS (SELECT a.phash AS src, b.phash AS dst
       |      FROM hs a JOIN hs b ON a.phash <> b.phash
       |        AND bit_count(xor(a.phash, b.phash)) <= $d),
       |reach AS (
       |  SELECT phash AS node, phash AS r FROM hs
       |  UNION
       |  SELECT e.src AS node, p.r AS r FROM e JOIN reach p ON e.dst = p.node),
       |lbl AS (SELECT node, min(r) AS lbl FROM reach GROUP BY node),
       |wg AS (SELECT ph.media_id, ph.phash, l.lbl AS group_id
       |       FROM ph JOIN lbl l ON ph.phash = l.node),
       |gr AS (SELECT group_id, CAST(count(*) AS BIGINT) AS n_group,
       |         min(media_id) AS keeper_id FROM wg GROUP BY group_id)
       |SELECT wg.media_id, wg.phash, wg.group_id, gr.n_group, gr.keeper_id
       |FROM wg JOIN gr USING (group_id)""".stripMargin

  /** Unrolled Luby-MIS oracle: `rounds` blocks of (winner = beats every
    * active neighbor under the same deterministic (π, id) order) →
    * (retire winners + neighborhoods) → (shrink the active graph), all
    * MATERIALIZED (an inlined chain re-evaluates exponentially — the
    * unigram-DP lesson). Rounds past convergence are empty no-ops; if
    * the last active set is non-empty the oracle raises via error()
    * instead of emitting a non-maximal set (the Borůvka pattern). */
  private def lubyMisOracleSql(rounds: Int): String = {
    def pri(x: String, r: Int): String =
      s"(($x % 1000000007) * 2654435761 + $r * 40503) % 1000000007"
    val blocks = (0 until rounds).map { r =>
      s"""sym$r AS (SELECT a AS u, b AS w FROM e$r
         |          UNION ALL SELECT b, a FROM e$r),
         |wins$r AS MATERIALIZED (
         |  SELECT v.node FROM a$r v
         |  WHERE NOT EXISTS (SELECT 1 FROM sym$r s WHERE s.u = v.node
         |    AND (${pri("s.w", r)} < ${pri("v.node", r)}
         |      OR (${pri("s.w", r)} = ${pri("v.node", r)} AND s.w < v.node)))),
         |ret$r AS MATERIALIZED (
         |  SELECT node FROM wins$r
         |  UNION
         |  SELECT s.w AS node FROM sym$r s SEMI JOIN wins$r ww ON s.u = ww.node),
         |out$r AS (SELECT rt.node,
         |    rt.node IN (SELECT node FROM wins$r) AS in_mis, $r AS round
         |  FROM ret$r rt),
         |a${r + 1} AS MATERIALIZED (
         |  SELECT node FROM a$r ANTI JOIN ret$r USING (node)),
         |e${r + 1} AS MATERIALIZED (
         |  SELECT e.a, e.b FROM e$r e
         |  SEMI JOIN a${r + 1} x ON e.a = x.node
         |  SEMI JOIN a${r + 1} y ON e.b = y.node)""".stripMargin
    }.mkString(",\n")
    val union = (0 until rounds).map(r => s"SELECT * FROM out$r")
      .mkString("\n  UNION ALL ")
    s"""WITH $coPurchaseCte,
       |e0 AS MATERIALIZED (SELECT a, b FROM ed),
       |a0 AS MATERIALIZED (SELECT a AS node FROM ed
       |                    UNION SELECT b FROM ed),
       |$blocks,
       |conv_chk AS (SELECT CASE WHEN count(*) > 0 THEN error(
       |    'luby oracle: a$rounds non-empty - $rounds unrolled rounds did ' ||
       |    'not converge; raise the unroll') ELSE 0 END AS ok FROM a$rounds)
       |SELECT node, in_mis, round FROM ($union)
       |WHERE (SELECT ok FROM conv_chk) = 0""".stripMargin
  }

  /** Unrolled Jones–Plassmann oracle: `rounds` blocks of (winner =
    * precedes every uncolored neighbor under the FIXED (π, id) order) →
    * (smallest missing color among colored neighbors via the sorted-
    * rank gap scan) → (shrink the active graph), all MATERIALIZED (the
    * lubyMisOracleSql discipline, incl. the error() convergence guard
    * with the same round budget as the engine call). */
  private def jonesPlassmannOracleSql(rounds: Int): String = {
    def pri(x: String): String = s"($x % 1000000007) * 2654435761 % 1000000007"
    val blocks = (0 until rounds).map { r =>
      s"""sym$r AS (SELECT a AS u, b AS w FROM e$r
         |          UNION ALL SELECT b, a FROM e$r),
         |wins$r AS MATERIALIZED (
         |  SELECT v.node FROM a$r v
         |  WHERE NOT EXISTS (SELECT 1 FROM sym$r s WHERE s.u = v.node
         |    AND (${pri("s.w")} < ${pri("v.node")}
         |      OR (${pri("s.w")} = ${pri("v.node")} AND s.w < v.node)))),
         |used$r AS MATERIALIZED (
         |  SELECT DISTINCT s.u, c.color
         |  FROM fullsym s
         |  SEMI JOIN wins$r ww ON s.u = ww.node
         |  JOIN col$r c ON c.node = s.w),
         |ranked$r AS (SELECT u, color,
         |    row_number() OVER (PARTITION BY u ORDER BY color) - 1 AS idx
         |  FROM used$r),
         |miss$r AS (SELECT u,
         |    coalesce(min(CASE WHEN color <> idx THEN idx END), count(*)) AS c
         |  FROM ranked$r GROUP BY u),
         |newc$r AS MATERIALIZED (
         |  SELECT w.node, CAST(coalesce(m.c, 0) AS BIGINT) AS color,
         |         $r AS round
         |  FROM wins$r w LEFT JOIN miss$r m ON m.u = w.node),
         |col${r + 1} AS MATERIALIZED (
         |  SELECT node, color FROM col$r
         |  UNION ALL SELECT node, color FROM newc$r),
         |a${r + 1} AS MATERIALIZED (
         |  SELECT node FROM a$r ANTI JOIN wins$r USING (node)),
         |e${r + 1} AS MATERIALIZED (
         |  SELECT e.a, e.b FROM e$r e
         |  SEMI JOIN a${r + 1} x ON e.a = x.node
         |  SEMI JOIN a${r + 1} y ON e.b = y.node)""".stripMargin
    }.mkString(",\n")
    val union = (0 until rounds).map(r => s"SELECT * FROM newc$r")
      .mkString("\n  UNION ALL ")
    s"""WITH $coPurchaseCte,
       |e0 AS MATERIALIZED (SELECT a, b FROM ed),
       |fullsym AS MATERIALIZED (SELECT a AS u, b AS w FROM ed
       |                         UNION ALL SELECT b, a FROM ed),
       |a0 AS MATERIALIZED (SELECT a AS node FROM ed
       |                    UNION SELECT b FROM ed),
       |col0 AS (SELECT CAST(NULL AS BIGINT) AS node,
       |                CAST(NULL AS BIGINT) AS color WHERE false),
       |$blocks,
       |conv_chk AS (SELECT CASE WHEN count(*) > 0 THEN error(
       |    'jp oracle: a$rounds non-empty - $rounds unrolled rounds did ' ||
       |    'not converge; raise the unroll') ELSE 0 END AS ok FROM a$rounds)
       |SELECT node, color, round FROM ($union)
       |WHERE (SELECT ok FROM conv_chk) = 0""".stripMargin
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

  /** Unrolled-greedy MMR oracle: the same candidate retrieval as the
    * ann_cosine_topk oracle (top-candK by the sequential-fold cosine),
    * then k chained CTE blocks each doing one greedy step — per query,
    * argmax of λ·sim − (1−λ)·max_{s∈selected} pairSim over the not-yet-
    * selected candidates. λ/μ enter as the exact decimal expansions of
    * the SAME doubles the Spark side multiplies with (the ewmaOracleSql
    * precedent), so both engines run identical IEEE trees and the raw
    * doubles hash-gate unrounded. */
  private def mmrOracleSql(candK: Int, k: Int, lambda: Double,
      mu: Double): String = {
    val L = new java.math.BigDecimal(lambda).toPlainString
    val M = new java.math.BigDecimal(mu).toPlainString
    def cos(a: String, b: String): String =
      s"list_reduce(list_transform(range(0, len($a)), i -> $a[i+1] * $b[i+1]), (x,y) -> x + y) / " +
        s"(sqrt(list_reduce(list_transform(range(0, len($a)), i -> $a[i+1] * $a[i+1]), (x,y) -> x + y)) * " +
        s"sqrt(list_reduce(list_transform(range(0, len($b)), i -> $b[i+1] * $b[i+1]), (x,y) -> x + y)))"
    val steps = (2 to k).map { s =>
      val prev = s"sel${s - 1}"
      s"""s$s AS (
         |  SELECT qid, $s AS step, nid, sim, redundancy, mmr FROM (
         |    SELECT c.qid, c.nid, c.sim, r.redundancy,
         |           $L * c.sim - $M * r.redundancy AS mmr,
         |           row_number() OVER (PARTITION BY c.qid
         |             ORDER BY $L * c.sim - $M * r.redundancy DESC, c.nid) AS rn
         |    FROM cand c
         |    JOIN (SELECT pp.qid, pp.nid, max(pp.psim) AS redundancy
         |          FROM pp JOIN $prev p ON pp.qid = p.qid AND pp.oid = p.nid
         |          GROUP BY 1, 2) r ON r.qid = c.qid AND r.nid = c.nid
         |    ANTI JOIN $prev ON c.qid = $prev.qid AND c.nid = $prev.nid)
         |  WHERE rn = 1),
         |sel$s AS (SELECT qid, nid FROM $prev
         |          UNION ALL SELECT qid, nid FROM s$s)""".stripMargin
    }.mkString(",\n")
    val union = (1 to k).map(s => s"SELECT * FROM s$s").mkString("\n  UNION ALL ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 8),
       |p AS (SELECT qid, e.vec_id AS nid, ${cos("e.v", "qv")} AS sim
       |      FROM q, e WHERE e.vec_id <> qid),
       |cand AS (SELECT qid, nid, sim FROM (
       |    SELECT qid, nid, sim, row_number() OVER (PARTITION BY qid
       |      ORDER BY sim DESC, nid) AS rnk FROM p) WHERE rnk <= $candK),
       |ce AS (SELECT cand.qid, cand.nid, cand.sim, e.v
       |       FROM cand JOIN e ON e.vec_id = cand.nid),
       |pp AS (SELECT a.qid, a.nid, b.nid AS oid, ${cos("a.v", "b.v")} AS psim
       |       FROM ce a JOIN ce b ON a.qid = b.qid AND a.nid <> b.nid),
       |s1 AS (SELECT qid, 1 AS step, nid, sim, 0.0 AS redundancy,
       |         $L * sim - $M * 0.0 AS mmr FROM (
       |    SELECT qid, nid, sim, row_number() OVER (PARTITION BY qid
       |      ORDER BY $L * sim - $M * 0.0 DESC, nid) AS rn FROM cand)
       |  WHERE rn = 1),
       |sel1 AS (SELECT qid, nid FROM s1),
       |$steps
       |SELECT qid AS query_id, step, nid AS neighbor_id, sim, redundancy, mmr
       |FROM ($union)""".stripMargin
  }

  /** Shared CTE prefix: the canonical co-purchase edge set (distinct part
    * pairs sharing an order, a < b). */
  /** Unrolled-Borůvka MSF oracle: `rounds` blocks of (per-component min
    * edge under (w, oa, ob)) → (recursive reachability over the selected
    * pseudoforest) → (contract + per-pair lightest prune) — the same
    * recurrence Graph.mstBoruvka runs, with the per-round component
    * merge done by an independent transitive closure instead of star
    * contraction. Rounds beyond convergence are empty no-ops, so the
    * unroll count only needs to EXCEED the true round count (components
    * at least halve per round: 20 covers ~10⁶-component forests, the
    * same bound Graph.mstBoruvka's maxRounds default allows) — and a
    * convergence assertion makes a too-small unroll FAIL the oracle run
    * loudly instead of emitting a silently partial forest: if any edge
    * survives the final contraction, the last CTE raises via error(). */
  private def boruvkaOracleSql(rounds: Int): String = {
    val blocks = (1 to rounds).map { k =>
      val p = s"e${k - 1}"
      s"""s$k AS MATERIALIZED (SELECT DISTINCT ca, cb, w, oa, ob FROM (
         |        SELECT ca, cb, w, oa, ob,
         |          row_number() OVER (PARTITION BY comp ORDER BY w, oa, ob) AS rn
         |        FROM (SELECT ca AS comp, ca, cb, w, oa, ob FROM $p
         |              UNION ALL SELECT cb AS comp, ca, cb, w, oa, ob FROM $p))
         |       WHERE rn = 1),
         |r$k AS (
         |  SELECT node, node AS r FROM
         |    (SELECT ca AS node FROM s$k UNION SELECT cb FROM s$k)
         |  UNION
         |  SELECT sy.src, p.r FROM (SELECT ca AS src, cb AS dst FROM s$k
         |        UNION ALL SELECT cb AS src, ca AS dst FROM s$k) sy
         |        JOIN r$k p ON sy.dst = p.node),
         |m$k AS MATERIALIZED (SELECT node, min(r) AS nc FROM r$k GROUP BY node),
         |e$k AS MATERIALIZED (SELECT ca, cb, w, oa, ob FROM (
         |        SELECT least(xa, xb) AS ca, greatest(xa, xb) AS cb, w, oa, ob,
         |          row_number() OVER (PARTITION BY least(xa, xb), greatest(xa, xb)
         |            ORDER BY w, oa, ob) AS rn
         |        FROM (SELECT coalesce(ma.nc, e.ca) AS xa,
         |                coalesce(mb.nc, e.cb) AS xb, e.w, e.oa, e.ob
         |              FROM $p e LEFT JOIN m$k ma ON e.ca = ma.node
         |                        LEFT JOIN m$k mb ON e.cb = mb.node)
         |        WHERE xa <> xb)
         |       WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val forest = (1 to rounds)
      .map(k => s"SELECT oa, ob, w FROM s$k").mkString(" UNION ")
    s"""WITH RECURSIVE li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |edw AS MATERIALIZED (SELECT x.pk AS a, y.pk AS b, CAST(count(*) AS BIGINT) AS w
       |        FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
       |        GROUP BY x.pk, y.pk HAVING count(*) >= 2),
       |e0 AS MATERIALIZED (SELECT a AS ca, b AS cb, w, a AS oa, b AS ob FROM edw),
       |$blocks,
       |conv_chk AS (SELECT CASE WHEN count(*) > 0 THEN error(
       |    'boruvka oracle: e$rounds non-empty - $rounds unrolled rounds did ' ||
       |    'not converge; raise the unroll') ELSE 0 END AS ok FROM e$rounds)
       |SELECT oa AS a, ob AS b, w FROM ($forest)
       |WHERE (SELECT ok FROM conv_chk) = 0""".stripMargin
  }

  /** Two-level Louvain replay ending in fl(node, d, lbl) — shared by the
    * multilevel oracle and the Leiden refinement oracle so the base
    * partition cannot drift between them. */
  private val louvainMlCtes: String =
    """sym AS (SELECT a AS i, b AS j FROM ed
      |        UNION ALL SELECT b AS i, a AS j FROM ed),
      |deg AS (SELECT i AS node, count(*) AS d FROM sym GROUP BY i),
      |mm AS (SELECT count(*) AS m FROM ed),
      |g AS (SELECT sym.i, sym.j, 2 * mm.m - di.d * dj.d AS g
      |      FROM sym JOIN deg di ON di.node = sym.i
      |      JOIN deg dj ON dj.node = sym.j, mm),
      |r AS (SELECT i, j,
      |        row_number() OVER (PARTITION BY i ORDER BY g DESC, j) AS rk
      |      FROM g WHERE g > 0),
      |lbl AS (SELECT deg.node, deg.d, coalesce(r1.j, deg.node) AS lbl
      |        FROM deg LEFT JOIN (SELECT i, j FROM r WHERE rk = 1) r1
      |        ON deg.node = r1.i),
      |ce AS (SELECT least(la.lbl, lb.lbl) AS ca,
      |         greatest(la.lbl, lb.lbl) AS cb,
      |         CAST(count(*) AS BIGINT) AS w
      |       FROM ed JOIN lbl la ON ed.a = la.node
      |       JOIN lbl lb ON ed.b = lb.node GROUP BY 1, 2),
      |symw AS (SELECT ca AS i, cb AS j, w FROM ce WHERE ca <> cb
      |         UNION ALL SELECT cb, ca, w FROM ce WHERE ca <> cb),
      |degw AS (SELECT i AS snode, CAST(sum(w) AS BIGINT) AS d FROM (
      |          SELECT i, w FROM symw
      |          UNION ALL SELECT ca AS i, 2 * w AS w FROM ce WHERE ca = cb)
      |         GROUP BY 1),
      |g2 AS (SELECT symw.i, symw.j,
      |         2 * mm.m::HUGEINT * symw.w - di.d::HUGEINT * dj.d AS g
      |       FROM symw JOIN degw di ON di.snode = symw.i
      |       JOIN degw dj ON dj.snode = symw.j, mm),
      |r2 AS (SELECT i, j,
      |         row_number() OVER (PARTITION BY i ORDER BY g DESC, j) AS rk
      |       FROM g2 WHERE g > 0),
      |lbl2 AS (SELECT degw.snode, coalesce(r1.j, degw.snode) AS l2
      |         FROM degw LEFT JOIN (SELECT i, j FROM r2 WHERE rk = 1) r1
      |         ON degw.snode = r1.i),
      |fl AS (SELECT lbl.node, lbl.d, lbl2.l2 AS lbl
      |       FROM lbl JOIN lbl2 ON lbl.lbl = lbl2.snode)""".stripMargin

  /** louvainRollup replay over a (node, d, lbl) CTE `frame`. */
  private def communityRollupSql(frame: String): String =
    s""",mem AS (SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_members,
       |         CAST(min(node) AS BIGINT) AS min_node,
       |         CAST(sum(d) AS BIGINT) AS deg_sum
       |        FROM $frame GROUP BY lbl),
       |intr AS (SELECT la.lbl AS community,
       |          CAST(count(*) AS BIGINT) AS internal_edges
       |         FROM ed JOIN $frame la ON ed.a = la.node
       |         JOIN $frame lb ON ed.b = lb.node
       |         WHERE la.lbl = lb.lbl GROUP BY la.lbl)
       |SELECT mem.community, mem.n_members, mem.min_node, mem.deg_sum,
       |       coalesce(intr.internal_edges, 0) AS internal_edges
       |FROM mem LEFT JOIN intr ON mem.community = intr.community""".stripMargin

  private val coPurchaseCte: String =
    """li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |ed AS (SELECT x.pk AS a, y.pk AS b
      |       FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
      |       GROUP BY x.pk, y.pk HAVING count(*) >= 2)""".stripMargin

  /** PageRank oracle: the same fixed-iteration recurrence unrolled into
    * chained CTEs. All constants are CAST to DOUBLE so DuckDB's
    * decimal-literal arithmetic can't diverge from Spark's double ops
    * ((1 − 0.85) in DECIMAL is exactly 0.15; in DOUBLE it is
    * 0.15000000000000002 — the value Spark computes). */
  /** Unrolled-CTE PageRank recurrence over the `ed(src, dst)` CTE built
    * by `edgesCte` — the identical arithmetic, operation order, and
    * (when `dangling`) Σ pr(dangling)/N redistribution as Graph.pagerank,
    * so the gate verifies the recurrence itself, not just row counts. */
  private def pagerankOracle(edgesCte: String, dangling: Boolean): String = {
    val d = "CAST(0.85 AS DOUBLE)"
    val base = "(CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))"
    val iters = (1 to 3).map { i =>
      val prev = s"r${i - 1}"
      val contrib =
        s"""c$i AS (SELECT ed.dst AS node_id, sum($prev.pr / od.odeg) AS c
           |  FROM ed JOIN $prev ON ed.src = $prev.node_id
           |          JOIN od ON ed.src = od.src
           |  GROUP BY ed.dst)""".stripMargin
      if (dangling)
        s"""dg$i AS (SELECT coalesce(sum(pr), 0.0) AS dm FROM $prev
           |  LEFT JOIN od ON $prev.node_id = od.src WHERE od.src IS NULL),
           |$contrib,
           |r$i AS (SELECT nodes.node_id,
           |    $base / n.nn + $d * (coalesce(c$i.c, 0.0) + dg$i.dm / n.nn) AS pr
           |  FROM nodes LEFT JOIN c$i USING (node_id) CROSS JOIN n CROSS JOIN dg$i)""".stripMargin
      else
        s"""$contrib,
           |r$i AS (SELECT nodes.node_id,
           |    $base / n.nn + $d * coalesce(c$i.c, 0.0) AS pr
           |  FROM nodes LEFT JOIN c$i USING (node_id) CROSS JOIN n)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgesCte,
       |nodes AS (SELECT src AS node_id FROM ed UNION SELECT dst FROM ed),
       |n AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM nodes),
       |od AS (SELECT src, CAST(count(*) AS DOUBLE) AS odeg FROM ed GROUP BY src),
       |r0 AS (SELECT node_id, CAST(1 AS DOUBLE) / n.nn AS pr
       |       FROM nodes CROSS JOIN n),
       |$iters
       |SELECT node_id, round(pr, 6) AS pr FROM r3""".stripMargin
  }

  /** Supplier k is node −(k+1) (negation namespace, strictly negative
    * even for key 0 — disjoint from the ≥ 0 customer keys at every
    * scale factor, unlike an additive constant). */
  private val tradePairsCte: String =
    """e AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS su
      |      FROM orders JOIN lineitem ON o_orderkey = l_orderkey)""".stripMargin

  private val pagerankOracleSql: String = pagerankOracle(
    s"""$tradePairsCte,
       |ed AS (SELECT c AS src, -su - 1 AS dst FROM e
       |       UNION ALL SELECT -su - 1 AS src, c AS dst FROM e)""".stripMargin,
    dangling = false)

  private val pagerankDirectedOracleSql: String = pagerankOracle(
    s"""$tradePairsCte,
       |ed AS (SELECT c AS src, -su - 1 AS dst FROM e)""".stripMargin,
    dangling = true)

  /** Weighted-PageRank oracle: the same unrolled recurrence with
    * pr·w/Σw_out contributions — identical operand order to
    * Graph.pagerankWeighted's `pr * w / ow`. */
  private val pagerankWeightedOracleSql: String = {
    val d = "CAST(0.85 AS DOUBLE)"
    val base = "(CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))"
    val iters = (1 to 3).map { i =>
      val prev = s"r${i - 1}"
      s"""c$i AS (SELECT ed.dst AS node_id, sum($prev.pr * ed.w / ow.ow) AS c
         |  FROM ed JOIN $prev ON ed.src = $prev.node_id
         |          JOIN ow ON ed.src = ow.src
         |  GROUP BY ed.dst),
         |r$i AS (SELECT nodes.node_id,
         |    $base / n.nn + $d * coalesce(c$i.c, 0.0) AS pr
         |  FROM nodes LEFT JOIN c$i USING (node_id) CROSS JOIN n)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT o_custkey AS c, l_suppkey AS su,
       |           CAST(count(*) AS DOUBLE) AS w
       |       FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |       GROUP BY o_custkey, l_suppkey),
       |ed AS (SELECT c AS src, -su - 1 AS dst, w FROM e
       |       UNION ALL SELECT -su - 1 AS src, c AS dst, w FROM e),
       |nodes AS (SELECT src AS node_id FROM ed UNION SELECT dst FROM ed),
       |n AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM nodes),
       |ow AS (SELECT src, sum(w) AS ow FROM ed GROUP BY src),
       |r0 AS (SELECT node_id, CAST(1 AS DOUBLE) / n.nn AS pr
       |       FROM nodes CROSS JOIN n),
       |$iters
       |SELECT node_id, round(pr, 6) AS pr FROM r3""".stripMargin
  }

  /** Personalized-PageRank oracle: identical unrolled recurrence with the
    * restart vector (uniform over seeds∩nodes) in place of 1/N. */
  private val pprOracleSql: String = {
    val d = "CAST(0.85 AS DOUBLE)"
    val base = "(CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))"
    val iters = (1 to 3).map { i =>
      val prev = s"r${i - 1}"
      s"""c$i AS (SELECT ed.dst AS node_id, sum($prev.pr / od.odeg) AS c
         |  FROM ed JOIN $prev ON ed.src = $prev.node_id
         |          JOIN od ON ed.src = od.src
         |  GROUP BY ed.dst),
         |r$i AS (SELECT rst.node_id,
         |    $base * rst.r + $d * coalesce(c$i.c, 0.0) AS pr
         |  FROM rst LEFT JOIN c$i USING (node_id))""".stripMargin
    }.mkString(",\n")
    s"""WITH $tradePairsCte,
       |ed AS (SELECT c AS src, -su - 1 AS dst FROM e
       |       UNION ALL SELECT -su - 1 AS src, c AS dst FROM e),
       |nodes AS (SELECT src AS node_id FROM ed UNION SELECT dst FROM ed),
       |od AS (SELECT src, CAST(count(*) AS DOUBLE) AS odeg FROM ed GROUP BY src),
       |sg AS (SELECT node_id FROM nodes WHERE node_id IN (1, 2, 3, 4, 5)),
       |sn AS (SELECT CAST(count(*) AS DOUBLE) AS s FROM sg),
       |rst AS (SELECT nodes.node_id,
       |    CASE WHEN sg.node_id IS NOT NULL THEN CAST(1 AS DOUBLE) / sn.s
       |         ELSE CAST(0 AS DOUBLE) END AS r
       |  FROM nodes LEFT JOIN sg USING (node_id) CROSS JOIN sn),
       |r0 AS (SELECT node_id, r AS pr FROM rst),
       |$iters
       |SELECT node_id, round(pr, 6) AS ppr FROM r3""".stripMargin
  }

  /** HITS oracle: the identical unrolled recurrence (auth ← Σ_in hub,
    * hub ← Σ_out auth, each side divided by its max) over the same
    * directed trade edges; max-normalization keeps the normalizer
    * fold-order-independent, per Graph.hits. */
  private val hitsOracleSql: String = {
    val iters = (1 to 3).map { i =>
      s"""ar$i AS (SELECT ed.dst AS node, sum(h${i - 1}.hub) AS a
         |  FROM ed JOIN h${i - 1} ON ed.src = h${i - 1}.node GROUP BY ed.dst),
         |af$i AS (SELECT nodes.node, coalesce(ar$i.a, 0.0) AS a
         |  FROM nodes LEFT JOIN ar$i USING (node)),
         |am$i AS (SELECT max(a) AS mx FROM af$i),
         |a$i AS (SELECT node, a / mx AS auth FROM af$i CROSS JOIN am$i),
         |hr$i AS (SELECT ed.src AS node, sum(a$i.auth) AS h
         |  FROM ed JOIN a$i ON ed.dst = a$i.node GROUP BY ed.src),
         |hf$i AS (SELECT nodes.node, coalesce(hr$i.h, 0.0) AS h
         |  FROM nodes LEFT JOIN hr$i USING (node)),
         |hm$i AS (SELECT max(h) AS mx FROM hf$i),
         |h$i AS (SELECT node, h / mx AS hub FROM hf$i CROSS JOIN hm$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH $tradePairsCte,
       |ed AS (SELECT c AS src, -su - 1 AS dst FROM e),
       |nodes AS (SELECT src AS node FROM ed UNION SELECT dst FROM ed),
       |h0 AS (SELECT node, CAST(1 AS DOUBLE) AS hub FROM nodes),
       |$iters
       |SELECT a3.node AS node_id, round(a3.auth, 6) AS auth,
       |       round(h3.hub, 6) AS hub
       |FROM a3 JOIN h3 USING (node)""".stripMargin
  }

  /** Random-walk oracle: the identical md5-driven step recurrence over
    * the identical sorted adjacency, unrolled per step. */
  private val randomWalkOracleSql: String = {
    val steps = (1 to 4).map { i =>
      val prev = s"w${i - 1}"
      s"""s$i AS (SELECT start, path,
         |  nbrs[CAST(CAST(('0x' || substr(md5(concat(42, '-', start, '-', $i, '-', cur)), 1, 8)) AS BIGINT)
         |       % len(nbrs) AS INT) + 1] AS nxt
         |  FROM $prev JOIN nb ON $prev.cur = nb.node),
         |w$i AS (SELECT start, nxt AS cur,
         |        path || ',' || CAST(nxt AS VARCHAR) AS path FROM s$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH $coPurchaseCte,
       |nb AS (SELECT node, list_sort(list(nbr)) AS nbrs FROM
       |       (SELECT a AS node, b AS nbr FROM ed
       |        UNION ALL SELECT b AS node, a AS nbr FROM ed) GROUP BY node),
       |w0 AS (SELECT node AS start, node AS cur, CAST(node AS VARCHAR) AS path FROM nb),
       |$steps
       |SELECT start, path AS walk FROM w4""".stripMargin
  }

  // ────────────────────────────────────────────────────────────────────
  def oracleSql: Map[String, String] = Map(
    "sql_entrypoint" -> sqlQ5,
    "sql_exists_subquery" -> sqlExists,
    "sql_recursive_cte" -> sqlRecursive,
    "sql_lateral_join" -> sqlLateralJoin,
    "sql_correlated_subquery" -> sqlCorrelated,
    "rel_grouping_sets" -> sqlGroupingSets,

    // Same strictly-preceding window and micro-epoch arithmetic as the
    // batch twin of the funnel state machine.
    "stream_funnel" ->
      """WITH x AS (
        |  SELECT user_id, event_id, ts, event_type,
        |         max(CASE WHEN event_type = 'view' THEN ts END) OVER
        |           (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS view_ts
        |  FROM events)
        |SELECT user_id, event_id AS purchase_id, view_ts, ts AS purchase_ts,
        |       epoch(ts) - epoch(view_ts) AS latency_s
        |FROM x WHERE event_type = 'purchase' AND view_ts IS NOT NULL
        |  AND epoch(ts) - epoch(view_ts) <= 3600""".stripMargin,

    // Wave 7 ─────────────────────────────────────────────────────────

    "stream_outer_join" ->
      """SELECT p.event_id AS purchase_id, v.event_id AS view_id
        |FROM events p LEFT JOIN events v
        |  ON p.user_id = v.user_id AND v.event_type = 'view'
        | AND v.ts >= p.ts - INTERVAL 600 SECOND AND v.ts <= p.ts
        |WHERE p.event_type = 'purchase'""".stripMargin,

    "ts_ewma" -> ewmaOracleSql,

    // Same rounded-z membership rule as the operator: the filter reads
    // the 6-decimal value the row carries, so kept-set and display agree.
    "ts_zscore" ->
      """WITH s AS (SELECT event_type, avg(value) AS m,
        |                  stddev_samp(value) AS sd
        |           FROM events GROUP BY event_type)
        |SELECT e.event_type, e.event_id, e.value,
        |       round((e.value - s.m) / s.sd, 6) AS z
        |FROM events e JOIN s USING (event_type)
        |WHERE abs(round((e.value - s.m) / s.sd, 6)) >= 2.0""".stripMargin,

    "ts_seasonal_naive" ->
      """WITH c AS (SELECT event_type, epoch_us(ts) // 3600000000 AS bucket,
        |             CAST(count(*) AS BIGINT) AS n
        |           FROM events GROUP BY 1, 2)
        |SELECT a.event_type AS event_type, a.bucket AS bucket, a.n AS n,
        |       f.n AS forecast, abs(a.n - f.n) AS abs_err
        |FROM c AS a JOIN c AS f
        |  ON f.event_type = a.event_type AND f.bucket = a.bucket - 24""".stripMargin,

    // Same complete-window restriction and integer-ratio seasonal mean;
    // residual written as the identical left-associated IEEE expression.
    "ts_decompose" -> s"WITH $decomposeCtes\nSELECT * FROM dc",

    // Same neighbor-average anchors and area expression; argmax replayed
    // as a row_number with the identical (area DESC, x, y DESC) order.
    "ts_downsample" ->
      """WITH r AS (SELECT event_type, epoch_us(ts) // 1000000 AS x, value AS y,
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
        |FROM rk WHERE rn = 1""".stripMargin,

    // Decompose CTEs + the ts_mad_outliers med/MAD shape on residual.
    "ts_decompose_anomaly" ->
      s"""WITH $decomposeCtes,
         |med AS (SELECT event_type, quantile_cont(residual, 0.5) AS med
         |        FROM dc GROUP BY 1),
         |mad AS (SELECT d.event_type, med,
         |          quantile_cont(abs(residual - med), 0.5) AS mad
         |        FROM dc d JOIN med USING (event_type)
         |        GROUP BY d.event_type, med),
         |f AS (SELECT d.event_type, d.bucket, d.residual,
         |        round((d.residual - m.med) / (1.4826 * m.mad), 6) AS robust_z
         |      FROM dc d JOIN mad m USING (event_type))
         |SELECT * FROM f WHERE abs(robust_z) > 3.0""".stripMargin,

    "ts_mad_outliers" ->
      """WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
        |             FROM events GROUP BY 1),
        |mad AS (SELECT e.event_type, med,
        |          quantile_cont(abs(value - med), 0.5) AS mad
        |        FROM events e JOIN med USING (event_type)
        |        GROUP BY e.event_type, med),
        |f AS (SELECT e.event_type, e.event_id, e.value,
        |        round((e.value - m.med) / (1.4826 * m.mad), 6) AS robust_z
        |      FROM events e JOIN mad m USING (event_type))
        |SELECT * FROM f WHERE abs(robust_z) > 3.0""".stripMargin,

    // Same micro-epoch floor-division buckets; open/close replicated via
    // twin row_numbers over the unique (ts, event_id) order.
    "ts_ohlc_bars" ->
      """WITH e AS (SELECT epoch_us(ts) // 300000000 AS bucket, ts, event_id, value
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
        |           JOIN r c ON c.bucket = a.bucket AND c.rd = 1""".stripMargin,

    // Same hourly-count series, mean-centered lag products; double fold
    // order absorbed by round(,6) as in ts_zscore.
    "ts_acf" -> {
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
    },

    // The ts_acf computation widened to lags 2..48, then the argmax pick
    // on the ROUNDED acf (ties -> shorter lag), >= 8 pairs required.
    "ts_period_detect" -> {
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
    },

    // Independent quadratic dominance formulation — the two-level
    // bucketed plan must reproduce the textbook NOT-EXISTS answer.
    "rel_skyline" ->
      """WITH s AS (SELECT o_orderkey,
        |             CAST(o_totalprice AS DECIMAL(18,2)) AS price,
        |             CAST(epoch(o_orderdate) AS BIGINT) AS odate_s
        |           FROM orders)
        |SELECT o_orderkey, CAST(price * 100 AS BIGINT) AS price_cents,
        |       odate_s FROM s p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM s q
        |  WHERE q.price >= p.price AND q.odate_s >= p.odate_s
        |    AND (q.price > p.price OR q.odate_s > p.odate_s))""".stripMargin,

    // Same synthetic raw URLs, same master regex (groups 1/2/3/5), same
    // canonicalization rules re-expressed with DuckDB list functions.
    "dedup_url" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    'HTTPS://' ||
        |    CASE WHEN doc_id % 2 = 0
        |         THEN 'WWW.' || upper(source) || '.Example.COM'
        |         ELSE 'www.' || source || '.example.com' END ||
        |    CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END ||
        |    '/catalog/item-' || CAST(doc_id % 40 AS VARCHAR) ||
        |    CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END || '?' ||
        |    CASE WHEN doc_id % 3 = 0
        |         THEN 'page=' || CAST(doc_id % 5 AS VARCHAR) || '&q=' || lang
        |         ELSE 'q=' || lang || '&page=' || CAST(doc_id % 5 AS VARCHAR) END ||
        |    CASE WHEN doc_id % 2 = 1
        |         THEN '&utm_source=feed&fbclid=x' || CAST(doc_id AS VARCHAR)
        |         ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0 THEN '#sec' ELSE '' END AS url
        |  FROM documents),
        |p AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?([^#]*))?.*', 1)) AS scheme,
        |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?([^#]*))?.*', 2)) AS rawhost,
        |    regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?([^#]*))?.*', 3) AS rawpath,
        |    regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?([^#]*))?.*', 5) AS rawq
        |  FROM raw),
        |c AS (
        |  SELECT doc_id,
        |    scheme || '://' ||
        |    CASE WHEN scheme = 'http'
        |           THEN regexp_replace(regexp_replace(rawhost, '^www\.', ''), ':80$', '')
        |         WHEN scheme = 'https'
        |           THEN regexp_replace(regexp_replace(rawhost, '^www\.', ''), ':443$', '')
        |         ELSE regexp_replace(rawhost, '^www\.', '') END ||
        |    CASE WHEN rawpath = '' THEN '/'
        |         ELSE regexp_replace(rawpath, '(.)/$', '\1') END ||
        |    CASE WHEN kept = '' THEN '' ELSE '?' || kept END AS canonical_url
        |  FROM (SELECT *, array_to_string(list_sort(list_filter(
        |          string_split(rawq, '&'),
        |          q -> q <> '' AND NOT regexp_matches(q, '^(utm_[^=]*|fbclid|gclid|ref)='))),
        |          '&') AS kept
        |        FROM p))
        |SELECT canonical_url, min(doc_id) AS rep_doc, count(*) AS n_docs
        |FROM c GROUP BY 1""".stripMargin,

    // The text_perplexity model CTE verbatim, then the identical
    // histogram-bin boundary arithmetic (3·cum ≥ n / 3·cum ≥ 2n).
    "text_ccnet_buckets" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |ix AS (SELECT doc_id, toks, unnest(range(0, len(toks) - 1)) AS i
        |       FROM tk WHERE len(toks) >= 2),
        |dbc AS (SELECT doc_id, toks[i + 1] AS w1, toks[i + 2] AS w2, count(*) AS n
        |        FROM ix GROUP BY 1, 2, 3),
        |mm AS (SELECT w1, w2, sum(n) AS pair_n FROM dbc GROUP BY w1, w2),
        |hh AS (SELECT w1, w2, pair_n,
        |             sum(pair_n) OVER (PARTITION BY w1) AS head_n FROM mm),
        |v AS (SELECT CAST(count(DISTINCT w1) AS DOUBLE) AS vsz FROM mm),
        |sc AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
        |         sum(n * ln((pair_n + 0.5) / (head_n + 0.5 * vsz))) AS lp
        |       FROM dbc JOIN hh USING (w1, w2), v GROUP BY doc_id),
        |sl AS (SELECT s.doc_id, d.lang,
        |         round(exp(-lp / n_bigrams), 6) AS ppl,
        |         CAST(floor(round(exp(-lp / n_bigrams), 6) * 8) AS BIGINT) AS bin
        |       FROM sc s JOIN documents d USING (doc_id)),
        |bins AS (SELECT lang, bin, count(*) AS c FROM sl GROUP BY 1, 2),
        |cum AS (SELECT lang, bin, sum(c) OVER (PARTITION BY lang ORDER BY bin
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |        FROM bins),
        |n AS (SELECT lang, count(*) AS n FROM sl GROUP BY 1),
        |b AS (SELECT cum.lang,
        |        min(CASE WHEN cum * 3 >= n.n THEN bin END) AS b1,
        |        min(CASE WHEN cum * 3 >= n.n * 2 THEN bin END) AS b2
        |      FROM cum JOIN n USING (lang) GROUP BY 1)
        |SELECT s.doc_id, s.lang, s.ppl,
        |       CASE WHEN s.bin <= b.b1 THEN 'head'
        |            WHEN s.bin <= b.b2 THEN 'middle'
        |            ELSE 'tail' END AS bucket
        |FROM sl s JOIN b USING (lang)""".stripMargin,

    // Same frame windows over the same collapsed hourly series; both
    // engines fold the frame in sorted bucket order.
    "ts_level_shift" ->
      """WITH c AS (SELECT event_type, epoch_us(ts) // 3600000000 AS bucket,
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
        |FROM w WHERE npre = 6 AND npost = 6""".stripMargin,

    // The same b-scaled integer CUSUM trace: prefix sums and running
    // minima over per-key ordered windows.
    "ts_cusum" ->
      """WITH c AS (SELECT event_type, epoch_us(ts) // 3600000000 AS bucket,
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
        |FROM f""".stripMargin,

    // The same Holt recurrence run SEQUENTIALLY via a recursive CTE —
    // the independent formulation of what the Spark side computes as a
    // doubling scan. Algebraically identical, differently associated
    // IEEE trees; round(…,6) + 0 absorbs the ulps and kills −0.0.
    "ts_holt" ->
      """WITH RECURSIVE c AS (
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
        |FROM rec""".stripMargin,

    // Banded matrix profile replayed: exact-integer window stats, range-
    // join band, identical single-sqrt correlation tree (generator above).
    "ts_matrix_profile" -> matrixProfileOracleSql(w = 16, excl = 4,
      band = 48),

    // Kalman recursion replayed sequentially with the identical Riccati
    // gain literals (generator above).
    "ts_kalman" -> kalmanOracleSql(q = 2.0, r = 8.0, smooth = false),

    // Forward recursion + backward RTS recursion from each key's last
    // position, both over the same literal coefficient tables.
    "ts_kalman_smooth" -> kalmanOracleSql(q = 2.0, r = 8.0, smooth = true),

    // The 2-state recursion replayed with the matrix-Riccati gain
    // literals (generator above).
    "ts_kalman_trend" -> kalmanTrendOracleSql(qL = 2.0, qS = 0.125,
      r = 8.0),

    // Yule-Walker AR(2) replayed: same collapse, rounded mean and
    // rounded lag-1/lag-2 autocorrelations, identical closed-form φ
    // tree and per-row forecast (window lags, no recursion).
    "ts_ar2" ->
      """WITH c AS (
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
        |FROM d JOIN f ON f.event_type = d.event_type""".stripMargin,

    // The ts_ar2 chain over FIRST DIFFERENCES, forecasts integrated
    // back from the level: z = n - lag(n), mu over defined z only, the
    // identical rounded-r Yule-Walker algebra, and the emitted forecast
    // CAST(n AS DOUBLE) + mu + p1*d + p2*l1 — the same left-assoc IEEE
    // tree the engine projects.
    "ts_ari2" ->
      """WITH c AS (
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
        |FROM d JOIN f ON f.event_type = d.event_type""".stripMargin,

    // The ts_holt recurrence replayed per (key, phase) stratum.
    "ts_holt_seasonal" ->
      """WITH RECURSIVE c AS (
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
        |FROM rec""".stripMargin,

    // Three-way backtest replayed: the per-key Holt chain, the per-
    // (key, phase) seasonal chain, the position-24 naive lag — all
    // joined at the evaluable buckets; MAE comparisons on the SAME
    // rounded values the engine compares.
    // The h-step forecast recursion replayed as a recursive CTE over
    // the same rounded-input phi algebra: each step the identical
    // mul-add tree (p1*g + p2*gp) over unrounded doubles, rounded only
    // at emission — bit-exact both engines.
    "ts_ar2_forecast" ->
      """WITH RECURSIVE c AS (
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
        |FROM rec""".stripMargin,

    // The four-way backtest: the seasonal replay plus the Yule-Walker
    // AR(2) forecast chain (windowed, no recursion), joined at rn-1.
    "ts_backtest_ar2" ->
      """WITH RECURSIVE c AS (
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
        |FROM agg""".stripMargin,

    // The four-way backtest extended with the differenced ARI(2,1)
    // chain (ts_ari2's CTEs), evaluated at the same rn-1 alignment.
    "ts_backtest_ari2" ->
      """WITH RECURSIVE c AS (
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
        |FROM agg""".stripMargin,

    // The ts_ari2 difference/deviation chain, then the forecast
    // recurrence as a recursive CTE carrying (g, gp, s): g' = p1*g +
    // p2*gp, s' = s + g' — the identical left-assoc IEEE trees the
    // engine's projected columns build; the emitted level forecast is
    // round(CAST(nT AS DOUBLE) + step*mu + s, 6). Window names are
    // unique (wi/wdi): DuckDB flattens the WINDOW namespace inside
    // WITH RECURSIVE.
    "ts_ari2_forecast" ->
      """WITH RECURSIVE c AS (
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
        |FROM rec""".stripMargin,

    // Same integer month algebra (year*12+month-1) as the operator; the
    // (entity, month) distinct makes the grid count exact without a
    // countDistinct.
    "rel_retention_cohort" ->
      """WITH a AS (SELECT DISTINCT o_custkey AS c,
        |             CAST(year(o_orderdate)*12 + month(o_orderdate) - 1
        |                  AS INT) AS m
        |           FROM orders),
        |c0 AS (SELECT c, min(m) AS m0 FROM a GROUP BY c)
        |SELECT CAST(m0 // 12 AS INT) AS cohort_year,
        |       CAST(m0 % 12 + 1 AS INT) AS cohort_month,
        |       CAST(m - m0 AS INT) AS month_offset,
        |       count(*) AS n_customers
        |FROM a JOIN c0 USING (c)
        |GROUP BY 1, 2, 3""".stripMargin,

    // Same (ts, event_id) total order as the operator's lag window; the
    // probability divides exact longs (the window sum is cast off
    // HUGEINT before the division, which both engines then do in
    // double).
    "rel_transition_matrix" ->
      """WITH x AS (SELECT event_type,
        |             lag(event_type) OVER (PARTITION BY user_id
        |               ORDER BY ts, event_id) AS prev
        |           FROM events),
        |tm AS (SELECT prev AS prev_type, event_type AS next_type,
        |              count(*) AS n
        |       FROM x WHERE prev IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, next_type, n,
        |       CAST(n AS DOUBLE)
        |         / CAST(sum(n) OVER (PARTITION BY prev_type) AS DOUBLE)
        |         AS p
        |FROM tm""".stripMargin,

    // Earliest-greedy prefix completion, strict > at every hop — the
    // scalar-min join chain is the literal definition the engine's
    // array_min/filter chain computes.
    "rel_funnel_steps" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |            WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS (SELECT s1.user_id, min(e.ts) AS t2
        |       FROM s1 JOIN events e ON e.user_id = s1.user_id
        |        AND e.event_type = 'view' AND e.ts > s1.t1
        |       GROUP BY s1.user_id),
        |s3 AS (SELECT s2.user_id, min(e.ts) AS t3
        |       FROM s2 JOIN events e ON e.user_id = s2.user_id
        |        AND e.event_type = 'click' AND e.ts > s2.t2
        |       GROUP BY s2.user_id),
        |s4 AS (SELECT s3.user_id, min(e.ts) AS t4
        |       FROM s3 JOIN events e ON e.user_id = s3.user_id
        |        AND e.event_type = 'purchase' AND e.ts > s3.t3
        |       GROUP BY s3.user_id)
        |SELECT 1 AS step_idx, 'signup' AS step,
        |       (SELECT count(*) FROM s1) AS n_users
        |UNION ALL SELECT 2, 'view', (SELECT count(*) FROM s2)
        |UNION ALL SELECT 3, 'click', (SELECT count(*) FROM s3)
        |UNION ALL SELECT 4, 'purchase', (SELECT count(*) FROM s4)""".stripMargin,

    // Same md5 draw as sample_consistent; π is the fixed tree
    // (n·cents)/Σcents over exactly-converted doubles and membership is
    // the integer draw < round(π·1e6) comparison.
    "sample_pps" ->
      """WITH tt AS (SELECT CAST(sum(CAST(round(o_totalprice*100) AS HUGEINT))
        |                        AS DOUBLE) AS tot
        |            FROM orders)
        |SELECT o_orderkey,
        |       CAST(round(least(1.0,
        |         1000.0 * CAST(round(o_totalprice*100) AS BIGINT)
        |           / (SELECT tot FROM tt)) * 1000000.0) AS BIGINT) AS pi_ppm
        |FROM orders
        |WHERE CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
        |           AS BIGINT) % 1000000
        |      < CAST(round(least(1.0,
        |          1000.0 * CAST(round(o_totalprice*100) AS BIGINT)
        |            / (SELECT tot FROM tt)) * 1000000.0) AS BIGINT)""".stripMargin,

    // Same OLS moment algebra in HUGEINT, the identical fixed IEEE
    // trees for slope/intercept/z/trend, and the SES recursion as a
    // recursive CTE — the doubling scan's association ulps absorbed by
    // the shared 6-decimal round (the holt precedent); the forecast
    // reads the ROUNDED ses on both sides.
    "ts_theta" ->
      """WITH RECURSIVE c AS (
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
        |FROM rec""".stripMargin,

    // ntile(10) over (cents DESC, key) is exactly the engine's
    // two-level rank + ntileFromRank; gains/lifts are the same fixed
    // division trees over exact integer sums.
    "rel_decile_lift" ->
      """WITH v AS (SELECT o_orderkey AS k,
        |             CAST(round(o_totalprice*100) AS BIGINT) AS c
        |           FROM orders),
        |r AS (SELECT k, c, ntile(10) OVER (ORDER BY c DESC, k) AS decile
        |      FROM v),
        |d AS (SELECT decile, count(*) AS n_rows,
        |        sum(CAST(c AS HUGEINT)) AS sc
        |      FROM r GROUP BY 1),
        |t AS (SELECT count(*) AS nr, sum(CAST(c AS HUGEINT)) AS tc FROM v)
        |SELECT CAST(decile AS INT) AS decile, n_rows,
        |       CAST(sum(n_rows) OVER w AS BIGINT) AS cum_rows,
        |       CAST(sum(sc) OVER w AS DOUBLE)
        |         / CAST((SELECT tc FROM t) AS DOUBLE) AS gain,
        |       (CAST(sum(sc) OVER w AS DOUBLE)
        |          / CAST((SELECT tc FROM t) AS DOUBLE))
        |         / (CAST(sum(n_rows) OVER w AS DOUBLE)
        |            / CAST((SELECT nr FROM t) AS DOUBLE)) AS lift
        |FROM d
        |WINDOW w AS (ORDER BY decile
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,

    // Integer-cents moments in HUGEINT (exact, fold-order free), one
    // correctly-rounded cast to double for the variance — σ is then
    // bit-identical to the engine's decimal path; the stratum-sum share
    // rounds to 6 decimals before the floor, same as the operator.
    "sample_neyman" ->
      """WITH p AS (SELECT o_orderpriority AS stratum,
        |             count(*) AS n_pop,
        |             sum(CAST(round(o_totalprice*100) AS HUGEINT)) AS s1,
        |             sum(CAST(round(o_totalprice*100) AS HUGEINT)
        |               * CAST(round(o_totalprice*100) AS HUGEINT)) AS s2
        |           FROM orders GROUP BY 1),
        |w AS (SELECT stratum, n_pop,
        |        sqrt(CASE WHEN n_pop > 1
        |          THEN CAST(n_pop*s2 - s1*s1 AS DOUBLE)
        |             / CAST(n_pop*(n_pop-1) AS DOUBLE)
        |          ELSE 0.0 END) / 100.0 AS sigma
        |      FROM p)
        |SELECT stratum, n_pop, round(sigma, 6) AS sigma,
        |       CAST(floor(1000.0 * round(n_pop * sigma
        |         / (SELECT sum(n_pop * sigma) FROM w), 6)) AS BIGINT)
        |         AS alloc
        |FROM w""".stripMargin,

    "ts_backtest_seasonal" ->
      """WITH RECURSIVE c AS (
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
        |FROM agg""".stripMargin,

    // Backtest replayed over the same recursive Holt CTE: the previous
    // row's rounded contract forecast and the position-24 naive lag,
    // exact-integer naive error sum, rounded Holt error sum.
    "ts_forecast_backtest" ->
      """WITH RECURSIVE c AS (
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
        |FROM ev GROUP BY event_type""".stripMargin,

    // Merged distinct-value CDF steps, integer cross-products, one
    // division and one critical-value comparison.
    "rel_ks_test" ->
      """WITH av AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v
        |            FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'),
        |bv AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v
        |       FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'),
        |m AS (SELECT v, CAST(sum(c1) AS BIGINT) AS c1,
        |        CAST(sum(c2) AS BIGINT) AS c2 FROM (
        |        SELECT v, count(*) AS c1, 0 AS c2 FROM av GROUP BY v
        |        UNION ALL SELECT v, 0, count(*) FROM bv GROUP BY v)
        |      GROUP BY v),
        |p AS (SELECT v, c1, c2,
        |        sum(c1) OVER w AS f1, sum(c2) OVER w AS f2 FROM m
        |      WINDOW w AS (ORDER BY v
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |t AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
        |        CAST(sum(c2) AS BIGINT) AS n2 FROM m),
        |d AS (SELECT t.n1, t.n2,
        |        CAST(max(abs(f1 * t.n2 - f2 * t.n1)) AS BIGINT) AS d_num
        |      FROM p, t GROUP BY t.n1, t.n2)
        |SELECT n1, n2, d_num,
        |       CAST(d_num AS DOUBLE) / CAST(n1::HUGEINT * n2 AS DOUBLE) AS d,
        |       CAST(d_num AS DOUBLE) / CAST(n1::HUGEINT * n2 AS DOUBLE) >
        |         1.358 * sqrt(CAST(n1 + n2 AS DOUBLE) /
        |                      CAST(n1::HUGEINT * n2 AS DOUBLE)) AS reject_05
        |FROM d""".stripMargin,

    // Doubled average ranks per distinct value (2B + c + 1), exact
    // HUGEINT moments, one numerator cast and two sqrt's.
    "rel_spearman" ->
      """WITH v AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS vx,
        |             CAST(l_quantity AS BIGINT) AS vy FROM lineitem),
        |rx AS (SELECT vx,
        |        2 * coalesce(sum(c) OVER (ORDER BY vx
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |          + c + 1 AS dx
        |       FROM (SELECT vx, count(*) AS c FROM v GROUP BY vx)),
        |ry AS (SELECT vy,
        |        2 * coalesce(sum(c) OVER (ORDER BY vy
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |          + c + 1 AS dy
        |       FROM (SELECT vy, count(*) AS c FROM v GROUP BY vy)),
        |j AS (SELECT rx.dx, ry.dy FROM v JOIN rx USING (vx) JOIN ry USING (vy)),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(dx) AS sx,
        |        sum(dy) AS sy, sum(dx * dx) AS sxx, sum(dy * dy) AS syy,
        |        sum(dx * dy) AS sxy FROM j)
        |SELECT n,
        |       CAST(n * sxy - sx * sy AS DOUBLE) /
        |       (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
        |        sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS rho
        |FROM s""".stripMargin,

    // Marginals joined back per cell; both engines true-divide the same
    // exact integer products, χ² total decimal-summed over all cells.
    "rel_chi2" ->
      """WITH p AS (SELECT c_mktsegment AS a, n_regionkey AS b
        |           FROM customer JOIN nation ON c_nationkey = n_nationkey),
        |cells AS (SELECT a, b, CAST(count(*) AS BIGINT) AS o FROM p GROUP BY a, b),
        |rt AS (SELECT a, CAST(sum(o) AS BIGINT) AS ra FROM cells GROUP BY a),
        |ct AS (SELECT b, CAST(sum(o) AS BIGINT) AS cb FROM cells GROUP BY b),
        |tt AS (SELECT CAST(sum(o) AS BIGINT) AS n,
        |        count(DISTINCT a) AS na, count(DISTINCT b) AS nb FROM cells),
        |y AS (SELECT cells.a, cells.b, cells.o,
        |        CAST(rt.ra::HUGEINT * ct.cb AS DOUBLE) / tt.n AS e,
        |        (cells.o - CAST(rt.ra::HUGEINT * ct.cb AS DOUBLE) / tt.n) *
        |        (cells.o - CAST(rt.ra::HUGEINT * ct.cb AS DOUBLE) / tt.n) /
        |        (CAST(rt.ra::HUGEINT * ct.cb AS DOUBLE) / tt.n) AS contrib,
        |        CAST((tt.na - 1) * (tt.nb - 1) AS BIGINT) AS dof
        |      FROM cells JOIN rt USING (a) JOIN ct USING (b), tt)
        |SELECT a AS segment, b AS region, o, e, contrib,
        |       CAST(sum(CAST(contrib AS DECIMAL(28,12))) OVER () AS DOUBLE)
        |         AS chi2_total,
        |       dof
        |FROM y""".stripMargin,

    // Ranked prefix sums in HUGEINT, the identical one-shot division.
    "rel_gini" ->
      """WITH v AS (SELECT o_orderpriority AS g,
        |             CAST(round(o_totalprice * 100) AS BIGINT) AS x
        |           FROM orders),
        |r AS (SELECT g, x,
        |        row_number() OVER (PARTITION BY g ORDER BY x) AS i FROM v),
        |a AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(x) AS BIGINT) AS sum_v, sum(i * x) AS s1
        |      FROM r GROUP BY g)
        |SELECT g AS o_orderpriority, n, sum_v,
        |       CAST(2 * s1 - (n + 1) * sum_v::HUGEINT AS DOUBLE) /
        |       CAST(n * sum_v::HUGEINT AS DOUBLE) AS gini
        |FROM a""".stripMargin,

    // Middle-rank selection replayed with a plain partitioned window
    // (the fixture groups are small; the engine's two-level form exists
    // for the corpus-scale group the window can't survive).
    "rel_exact_median" ->
      """WITH v AS (SELECT l_returnflag AS g,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
        |         l_orderkey, l_linenumber FROM lineitem),
        |r AS (SELECT g, v, row_number() OVER (PARTITION BY g
        |        ORDER BY v, l_orderkey, l_linenumber) AS r FROM v),
        |n AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY g)
        |SELECT r.g AS l_returnflag, n.n,
        |       CAST(min(v) AS BIGINT) AS median_lo,
        |       CAST(max(v) AS BIGINT) AS median_hi,
        |       CAST(min(v) + max(v) AS DOUBLE) / 2 AS median
        |FROM r JOIN n USING (g)
        |WHERE r = (n + 1) // 2 OR r = n // 2 + 1
        |GROUP BY r.g, n.n""".stripMargin,

    // Digits from the integer cents string, never double formatting.
    "rel_benford" ->
      """WITH d AS (SELECT substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
        |                    AS VARCHAR), 1, 1) AS digit,
        |                  count(*) AS n
        |           FROM orders GROUP BY 1),
        |tt AS (SELECT CAST(sum(n) AS DOUBLE) AS t FROM d)
        |SELECT digit, n, round(n / tt.t, 6) AS obs_frac,
        |       round(log10(1 + 1.0 / CAST(digit AS DOUBLE)), 6) AS exp_frac
        |FROM d, tt""".stripMargin,

    // Same sequential-cosine formulation as ann_cosine_topk; the
    // per-document sum folds over list(m ORDER BY qpos), matching the
    // operator's sorted-array reduce term for term.
    "ann_maxsim_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |tok AS (SELECT vec_id // 5 AS did, vec_id % 5 AS pos, v FROM e),
        |q AS (SELECT did AS qid, pos AS qpos, v AS qv FROM tok WHERE did % 25 = 0),
        |p AS (SELECT qid, t.did AS did, qpos,
        |        max(list_reduce(list_transform(range(0, len(qv)), i -> t.v[i+1] * qv[i+1]), (x,y) -> x + y) /
        |        (sqrt(list_reduce(list_transform(range(0, len(qv)), i -> t.v[i+1] * t.v[i+1]), (x,y) -> x + y)) *
        |         sqrt(list_reduce(list_transform(range(0, len(qv)), i -> qv[i+1] * qv[i+1]), (x,y) -> x + y)))) AS m
        |      FROM q JOIN tok t ON t.did <> q.qid
        |      GROUP BY qid, t.did, qpos),
        |s AS (SELECT qid, did,
        |        list_reduce([0.0] || list(m ORDER BY qpos), (x, y) -> x + y) AS score
        |      FROM p GROUP BY qid, did),
        |r AS (SELECT qid, did, score, row_number() OVER (PARTITION BY qid
        |        ORDER BY score DESC, did) AS rnk FROM s)
        |SELECT qid AS query_id, did AS doc_id, CAST(rnk AS INT) AS rank,
        |       round(score, 6) AS score
        |FROM r WHERE rnk <= 3""".stripMargin,

    // Same pairing, same sequential cosine, same rounded threshold.
    "mm_clip_filter" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |img AS (SELECT vec_id // 2 AS pair_id, v AS iv FROM e WHERE vec_id % 2 = 0),
        |txt AS (SELECT (vec_id - 1) // 2 AS pair_id, v AS tv FROM e WHERE vec_id % 2 = 1),
        |c AS (SELECT pair_id,
        |        round(list_reduce(list_transform(range(0, len(iv)), i -> iv[i+1] * tv[i+1]), (x,y) -> x + y) /
        |        (sqrt(list_reduce(list_transform(range(0, len(iv)), i -> iv[i+1] * iv[i+1]), (x,y) -> x + y)) *
        |         sqrt(list_reduce(list_transform(range(0, len(iv)), i -> tv[i+1] * tv[i+1]), (x,y) -> x + y))), 6) AS clip_score
        |      FROM img JOIN txt USING (pair_id))
        |SELECT pair_id, clip_score, clip_score >= 0.1 AS kept FROM c""".stripMargin,

    "rel_nullsafe_join" ->
      """WITH a AS (SELECT nullif(event_type, 'error') AS etype,
        |                  sum(value) AS sum_value
        |           FROM events GROUP BY 1),
        |     b AS (SELECT nullif(event_type, 'error') AS etype,
        |                  count(*) AS n_events
        |           FROM events GROUP BY 1)
        |SELECT a.etype, a.sum_value, b.n_events
        |FROM a JOIN b ON a.etype IS NOT DISTINCT FROM b.etype""".stripMargin,

    "sql_variant" ->
      """SELECT event_type,
        |       CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
        |       count(json_extract_string(props, '$.missing')) AS n_miss,
        |       count(*) AS n_events
        |FROM events GROUP BY event_type""".stripMargin,

    // The oracle reads the ORIGINAL table — the clustered write/read
    // round-trip must preserve every row inside the box.
    "rel_zorder" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |         AS sum_price_cents
        |FROM orders
        |WHERE o_custkey BETWEEN 100 AND 199
        |  AND o_totalprice >= 50000.0 AND o_totalprice < 150000.0
        |GROUP BY o_orderstatus""".stripMargin,

    // Identical draw (md5 prefix), identical u^(1/w) formula; ORDER on
    // the raw double, 6-decimal round on the emitted score.
    "sample_weighted" ->
      """WITH d AS (
        |  SELECT doc_id, n_chars,
        |         pow((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |              % 1000000 + 1) / 1000000.0, 1.0 / n_chars) AS raw
        |  FROM documents)
        |SELECT doc_id, n_chars, round(raw, 6) AS es_key
        |FROM d ORDER BY raw DESC, doc_id LIMIT 50""".stripMargin,

    "text_entropy" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        |             FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS n
        |       FROM tok GROUP BY doc_id, term)
        |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
        |       count(*) AS n_distinct,
        |       round(ln(sum(n)) - sum(n * ln(n)) / sum(n), 6) AS entropy
        |FROM tf GROUP BY doc_id""".stripMargin,

    "text_bigram_lm" ->
      """WITH tk AS (SELECT string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |ix AS (SELECT toks, unnest(range(0, len(toks) - 1)) AS i
        |       FROM tk WHERE len(toks) >= 2),
        |p AS (SELECT toks[i + 1] AS w1, toks[i + 2] AS w2 FROM ix),
        |c AS (SELECT w1, w2, count(*) AS pair_n FROM p GROUP BY w1, w2),
        |r AS (SELECT w1, w2, pair_n,
        |             CAST(sum(pair_n) OVER (PARTITION BY w1) AS BIGINT) AS head_n,
        |             row_number() OVER (PARTITION BY w1 ORDER BY pair_n DESC, w2) AS rn
        |      FROM c)
        |SELECT w1, w2 AS top_next, pair_n, head_n FROM r WHERE rn = 1""".stripMargin,

    // Same bigram type frame; the KN probability replicates the engine's
    // expression tree term-for-term over the exact integer counts.
    "text_kneser_ney" ->
      """WITH tk AS (SELECT string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |ix AS (SELECT toks, unnest(range(0, len(toks) - 1)) AS i
        |       FROM tk WHERE len(toks) >= 2),
        |p AS (SELECT toks[i + 1] AS w1, toks[i + 2] AS w2 FROM ix),
        |bi AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM p GROUP BY w1, w2),
        |fwd AS (SELECT w1, CAST(sum(c) AS BIGINT) AS cw1,
        |               CAST(count(*) AS BIGINT) AS n1_fwd FROM bi GROUP BY w1),
        |bwd AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1_bwd FROM bi GROUP BY w2),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n1_all FROM bi)
        |SELECT bi.w1, bi.w2, bi.c,
        |       (greatest(bi.c - 0.75, 0.0) +
        |        0.75 * n1_fwd * (CAST(n1_bwd AS DOUBLE) / n1_all)) / cw1 AS pkn
        |FROM bi JOIN fwd ON bi.w1 = fwd.w1
        |        JOIN bwd ON bi.w2 = bwd.w2
        |        CROSS JOIN tot""".stripMargin,

    // Same margins and the identical guarded 4-term G² tree.
    "text_collocation_llr" ->
      """WITH tk AS (SELECT string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |ix AS (SELECT toks, unnest(range(0, len(toks) - 1)) AS i
        |       FROM tk WHERE len(toks) >= 2),
        |p AS (SELECT toks[i + 1] AS w1, toks[i + 2] AS w2 FROM ix),
        |bi AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM p GROUP BY w1, w2),
        |fwd AS (SELECT w1, CAST(sum(c) AS BIGINT) AS cw1 FROM bi GROUP BY w1),
        |bwd AS (SELECT w2, CAST(sum(c) AS BIGINT) AS cw2 FROM bi GROUP BY w2),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM bi)
        |SELECT bi.w1, bi.w2, bi.c,
        |  2.0 * (CASE WHEN c > 0 AND (cw1 * cw2) / n > 0
        |              THEN c * ln(c / ((cw1 * cw2) / n)) ELSE 0.0 END
        |       + CASE WHEN cw1 - c > 0 AND (cw1 * (n - cw2)) / n > 0
        |              THEN (cw1 - c) * ln((cw1 - c) / ((cw1 * (n - cw2)) / n)) ELSE 0.0 END
        |       + CASE WHEN cw2 - c > 0 AND ((n - cw1) * cw2) / n > 0
        |              THEN (cw2 - c) * ln((cw2 - c) / (((n - cw1) * cw2) / n)) ELSE 0.0 END
        |       + CASE WHEN n - cw1 - cw2 + c > 0 AND ((n - cw1) * (n - cw2)) / n > 0
        |              THEN (n - cw1 - cw2 + c) * ln((n - cw1 - cw2 + c) / (((n - cw1) * (n - cw2)) / n)) ELSE 0.0 END) AS llr
        |FROM bi JOIN fwd USING (w1) JOIN bwd USING (w2) CROSS JOIN tot""".stripMargin,

    "sample_length_bucket" ->
      """WITH len AS (SELECT doc_id,
        |        CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS l
        |      FROM documents),
        |b AS (SELECT doc_id, l, ntile(8) OVER (ORDER BY l, doc_id) AS bucket FROM len)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(min(l) AS BIGINT) AS min_len, CAST(max(l) AS BIGINT) AS max_len,
        |       CAST(sum(l) AS BIGINT) AS sum_len,
        |       CAST(max(l) * count(*) - sum(l) AS BIGINT) AS padding_waste
        |FROM b GROUP BY bucket""".stripMargin,

    // Same persisted-type-frame statistics and ln/rank expressions.
    "text_tfidf_topk" ->
      """WITH tk AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        |            FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |       FROM tk GROUP BY doc_id, term),
        |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tf),
        |sc AS (SELECT tf.doc_id, tf.term, tf.tf,
        |        tf.tf * (ln(CAST(n_docs + 1 AS DOUBLE) / (df + 1)) + 1.0) AS score
        |       FROM tf JOIN dfq USING (term) CROSS JOIN n),
        |r AS (SELECT doc_id, term, tf, score,
        |       row_number() OVER (PARTITION BY doc_id
        |                          ORDER BY score DESC, term) AS rk
        |      FROM sc)
        |SELECT doc_id, term, tf, score, CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 3""".stripMargin,

    // Same running-stopword-count segmentation and integer aggregates.
    "text_rake" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |            FROM documents),
        |tok AS (SELECT doc_id, i AS pos, toks[i + 1] AS w
        |        FROM (SELECT doc_id, toks, unnest(range(0, len(toks))) AS i FROM tk)),
        |seg AS (SELECT doc_id, pos, w,
        |         sum(CASE WHEN w IN ('a','the') THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY doc_id ORDER BY pos) AS pid
        |        FROM tok),
        |ns AS (SELECT doc_id, pid, w FROM seg WHERE w NOT IN ('a','the')),
        |pl AS (SELECT doc_id, pid, CAST(count(*) AS BIGINT) AS plen
        |       FROM ns GROUP BY 1, 2)
        |SELECT w AS word, CAST(count(*) AS BIGINT) AS freq,
        |       CAST(sum(plen) AS BIGINT) AS deg,
        |       CAST(sum(plen) AS DOUBLE) / count(*) AS score
        |FROM ns JOIN pl USING (doc_id, pid) GROUP BY w""".stripMargin,

    // Same corpus LM as text_bigram_lm, scored per document with the
    // identical add-k formula; ln-sum fold order absorbed by round(,6).
    "text_perplexity" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |ix AS (SELECT doc_id, toks, unnest(range(0, len(toks) - 1)) AS i
        |       FROM tk WHERE len(toks) >= 2),
        |dbc AS (SELECT doc_id, toks[i + 1] AS w1, toks[i + 2] AS w2, count(*) AS n
        |        FROM ix GROUP BY 1, 2, 3),
        |m AS (SELECT w1, w2, sum(n) AS pair_n FROM dbc GROUP BY w1, w2),
        |h AS (SELECT w1, w2, pair_n,
        |             sum(pair_n) OVER (PARTITION BY w1) AS head_n FROM m),
        |v AS (SELECT CAST(count(DISTINCT w1) AS DOUBLE) AS vsz FROM m),
        |sc AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
        |         sum(n * ln((pair_n + 0.5) / (head_n + 0.5 * vsz))) AS lp
        |       FROM dbc JOIN h USING (w1, w2), v GROUP BY doc_id)
        |SELECT doc_id, n_bigrams, round(lp, 6) AS logprob,
        |       round(exp(-lp / n_bigrams), 6) AS ppl FROM sc""".stripMargin,

    // Brute-force kNN + majority vote, replicated relationally with the
    // same (sim DESC, nid) neighbor order and (votes DESC, label) vote
    // tie-break.
    "ann_knn_label" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv, label AS tl FROM e WHERE vec_id % 7 = 0),
        |c AS (SELECT vec_id, v, label FROM e WHERE vec_id % 7 <> 0),
        |p AS (SELECT qid, c.vec_id AS nid, c.label AS nl,
        |        list_reduce(list_transform(range(0, len(qv)), i -> c.v[i+1] * qv[i+1]), (x,y) -> x + y) /
        |        (sqrt(list_reduce(list_transform(range(0, len(qv)), i -> c.v[i+1] * c.v[i+1]), (x,y) -> x + y)) *
        |         sqrt(list_reduce(list_transform(range(0, len(qv)), i -> qv[i+1] * qv[i+1]), (x,y) -> x + y))) AS sim
        |      FROM q, c),
        |r AS (SELECT qid, nl, row_number() OVER (PARTITION BY qid
        |        ORDER BY sim DESC, nid) AS rnk FROM p),
        |vt AS (SELECT qid, nl, count(*) AS votes FROM r WHERE rnk <= 5 GROUP BY qid, nl),
        |w AS (SELECT qid, nl, votes, row_number() OVER (PARTITION BY qid
        |        ORDER BY votes DESC, nl) AS rn FROM vt)
        |SELECT w.qid AS query_id, q.tl AS true_label,
        |       w.nl AS predicted_label, votes
        |FROM w JOIN q ON w.qid = q.qid WHERE rn = 1""".stripMargin,

    // Wave 8 ─────────────────────────────────────────────────────────

    "graph_degree_dist" ->
      s"""WITH $coPurchaseCte,
         |deg AS (SELECT node, count(*) AS degree
         |        FROM (SELECT a AS node FROM ed UNION ALL SELECT b FROM ed)
         |        GROUP BY node)
         |SELECT degree, count(*) AS n_nodes FROM deg GROUP BY degree""".stripMargin,

    "graph_triangles" ->
      s"""WITH $coPurchaseCte,
         |tri AS (SELECT count(*) AS n_triangles
         |        FROM ed e1 JOIN ed e2 ON e1.b = e2.a
         |                   JOIN ed e3 ON e3.a = e1.a AND e3.b = e2.b),
         |nn AS (SELECT count(DISTINCT node) AS n_nodes
         |       FROM (SELECT a AS node FROM ed UNION ALL SELECT b FROM ed)),
         |ne AS (SELECT count(*) AS n_edges FROM ed)
         |SELECT nn.n_nodes, ne.n_edges, tri.n_triangles FROM nn, ne, tri""".stripMargin,

    "graph_assortativity" ->
      s"""WITH $coPurchaseCte,
         |sym AS (SELECT a AS u, b AS v FROM ed
         |        UNION ALL SELECT b AS u, a AS v FROM ed),
         |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d
         |        FROM (SELECT a AS node FROM ed UNION ALL SELECT b FROM ed)
         |        GROUP BY node),
         |p AS (SELECT x.d AS du, y.d AS dv
         |      FROM sym JOIN deg x ON sym.u = x.node
         |               JOIN deg y ON sym.v = y.node),
         |mm AS (SELECT CAST(count(*) AS BIGINT) AS m,
         |        CAST(sum(du) AS BIGINT) AS sx, CAST(sum(dv) AS BIGINT) AS sy,
         |        CAST(sum(du * dv) AS BIGINT) AS sxy,
         |        CAST(sum(du * du) AS BIGINT) AS sxx,
         |        CAST(sum(dv * dv) AS BIGINT) AS syy FROM p)
         |SELECT m, CAST(m * sxy - sx * sy AS DOUBLE) /
         |          sqrt(CAST(m * sxx - sx * sx AS DOUBLE) *
         |               CAST(m * syy - sy * sy AS DOUBLE)) AS assortativity
         |FROM mm""".stripMargin,

    "graph_clustering_coeff" ->
      s"""WITH $coPurchaseCte,
         |t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |      FROM ed e1 JOIN ed e2 ON e1.b = e2.a
         |                 JOIN ed e3 ON e3.a = e1.a AND e3.b = e2.b),
         |tn AS (SELECT unnest([x, y, z]) AS node FROM t),
         |tri AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM tn GROUP BY node),
         |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
         |        FROM (SELECT a AS node FROM ed UNION ALL SELECT b FROM ed)
         |        GROUP BY node)
         |SELECT deg.node, deg.deg, coalesce(tri.n_tri, CAST(0 AS BIGINT)) AS n_tri,
         |       CASE WHEN deg.deg >= 2
         |            THEN CAST(coalesce(tri.n_tri, 0) AS DOUBLE) * 2
         |                 / (deg.deg * (deg.deg - 1))
         |            ELSE 0.0 END AS lcc
         |FROM deg LEFT JOIN tri ON deg.node = tri.node""".stripMargin,

    "graph_bfs" ->
      s"""WITH $coPurchaseCte,
         |sym AS (SELECT a AS src, b AS dst FROM ed
         |        UNION ALL SELECT b AS src, a AS dst FROM ed),
         |seeds AS (SELECT DISTINCT src AS node FROM sym WHERE src % 97 = 0),
         |d0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM seeds),
         |d1 AS (SELECT node, min(dist) AS dist FROM (
         |        SELECT node, dist FROM d0 UNION ALL
         |        SELECT s.dst AS node, d.dist + 1 AS dist
         |        FROM d0 d JOIN sym s ON d.node = s.src) GROUP BY node),
         |d2 AS (SELECT node, min(dist) AS dist FROM (
         |        SELECT node, dist FROM d1 UNION ALL
         |        SELECT s.dst AS node, d.dist + 1 AS dist
         |        FROM d1 d JOIN sym s ON d.node = s.src) GROUP BY node),
         |d3 AS (SELECT node, min(dist) AS dist FROM (
         |        SELECT node, dist FROM d2 UNION ALL
         |        SELECT s.dst AS node, d.dist + 1 AS dist
         |        FROM d2 d JOIN sym s ON d.node = s.src) GROUP BY node)
         |SELECT node, CAST(dist AS BIGINT) AS dist FROM d3""".stripMargin,

    "graph_mst_boruvka" -> boruvkaOracleSql(20),

    // Same weighted pair build (support kept), per-item squared-count
    // norms, one cosine division, (score DESC, rec) top-5 window.
    "graph_item_cf" ->
      s"""WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |edw AS (SELECT x.pk AS a, y.pk AS b, CAST(count(*) AS BIGINT) AS w
         |        FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
         |        GROUP BY x.pk, y.pk HAVING count(*) >= 2),
         |ssq AS (SELECT pk AS node, CAST(sum(c * c) AS BIGINT) AS ssq FROM
         |        (SELECT ok, pk, count(*) AS c FROM li GROUP BY 1, 2)
         |        GROUP BY pk),
         |sym AS (SELECT a AS item, b AS rec, w FROM edw
         |        UNION ALL SELECT b AS item, a AS rec, w FROM edw),
         |sc AS (SELECT s.item, s.rec, s.w AS support,
         |         CAST(s.w AS DOUBLE) /
         |           sqrt(CAST(na.ssq * nb.ssq AS DOUBLE)) AS score
         |       FROM sym s JOIN ssq na ON na.node = s.item
         |                  JOIN ssq nb ON nb.node = s.rec)
         |SELECT item, rec, support, score, CAST(rnk AS INT) AS rank
         |FROM (SELECT *, row_number() OVER (PARTITION BY item
         |        ORDER BY score DESC, rec) AS rnk FROM sc)
         |WHERE rnk <= 5""".stripMargin,

    // The identical 3-round min-plus recurrence with weights, unrolled.
    "graph_sssp_weighted" ->
      """WITH tw AS (SELECT o_custkey AS c, l_suppkey AS su,
        |        CAST(count(*) AS BIGINT) AS w
        |      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |      GROUP BY 1, 2),
        |adj AS (SELECT c AS src, -su - 1 AS dst, w FROM tw
        |        UNION ALL SELECT -su - 1 AS src, c AS dst, w FROM tw),
        |seeds AS (SELECT DISTINCT c AS node FROM tw WHERE c % 97 = 0),
        |d0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM seeds),
        |d1 AS (SELECT node, min(dist) AS dist FROM (
        |        SELECT node, dist FROM d0 UNION ALL
        |        SELECT a.dst AS node, d.dist + a.w AS dist
        |        FROM d0 d JOIN adj a ON d.node = a.src) GROUP BY node),
        |d2 AS (SELECT node, min(dist) AS dist FROM (
        |        SELECT node, dist FROM d1 UNION ALL
        |        SELECT a.dst AS node, d.dist + a.w AS dist
        |        FROM d1 d JOIN adj a ON d.node = a.src) GROUP BY node),
        |d3 AS (SELECT node, min(dist) AS dist FROM (
        |        SELECT node, dist FROM d2 UNION ALL
        |        SELECT a.dst AS node, d.dist + a.w AS dist
        |        FROM d2 d JOIN adj a ON d.node = a.src) GROUP BY node)
        |SELECT node, CAST(dist AS BIGINT) AS dist FROM d3""".stripMargin,

    // Double-sweep replay: both bounded BFS recurrences unrolled, the
    // pivot (farthest node, tie smallest id) as ORDER BY ... LIMIT 1.
    "graph_diameter" ->
      s"""WITH $coPurchaseCte,
         |sym AS (SELECT a AS src, b AS dst FROM ed
         |        UNION ALL SELECT b AS src, a AS dst FROM ed),
         |u AS (SELECT least(min(a), min(b)) AS node FROM ed),
         |e0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM u),
         |e1 AS (SELECT node, min(dist) AS dist FROM (
         |        SELECT node, dist FROM e0 UNION ALL
         |        SELECT s.dst AS node, d.dist + 1 AS dist
         |        FROM e0 d JOIN sym s ON d.node = s.src) GROUP BY node),
         |e2 AS (SELECT node, min(dist) AS dist FROM (
         |        SELECT node, dist FROM e1 UNION ALL
         |        SELECT s.dst AS node, d.dist + 1 AS dist
         |        FROM e1 d JOIN sym s ON d.node = s.src) GROUP BY node),
         |e3 AS (SELECT node, min(dist) AS dist FROM (
         |        SELECT node, dist FROM e2 UNION ALL
         |        SELECT s.dst AS node, d.dist + 1 AS dist
         |        FROM e2 d JOIN sym s ON d.node = s.src) GROUP BY node),
         |v AS (SELECT node FROM e3 ORDER BY dist DESC, node ASC LIMIT 1),
         |f0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM v),
         |f1 AS (SELECT node, min(dist) AS dist FROM (
         |        SELECT node, dist FROM f0 UNION ALL
         |        SELECT s.dst AS node, d.dist + 1 AS dist
         |        FROM f0 d JOIN sym s ON d.node = s.src) GROUP BY node),
         |f2 AS (SELECT node, min(dist) AS dist FROM (
         |        SELECT node, dist FROM f1 UNION ALL
         |        SELECT s.dst AS node, d.dist + 1 AS dist
         |        FROM f1 d JOIN sym s ON d.node = s.src) GROUP BY node),
         |f3 AS (SELECT node, min(dist) AS dist FROM (
         |        SELECT node, dist FROM f2 UNION ALL
         |        SELECT s.dst AS node, d.dist + 1 AS dist
         |        FROM f2 d JOIN sym s ON d.node = s.src) GROUP BY node)
         |SELECT u.node AS start_node, v.node AS far_node,
         |       CAST(max(f3.dist) AS BIGINT) AS diameter_lb,
         |       CAST(count(*) AS BIGINT) AS n_reached
         |FROM f3, u, v GROUP BY u.node, v.node""".stripMargin,

    "graph_closeness" ->
      s"""WITH $coPurchaseCte,
         |sym AS (SELECT a AS src, b AS dst FROM ed
         |        UNION ALL SELECT b AS src, a AS dst FROM ed),
         |seeds AS (SELECT DISTINCT src AS node FROM sym WHERE src % 97 = 0),
         |d0 AS (SELECT node AS seed, node, CAST(0 AS BIGINT) AS dist FROM seeds),
         |d1 AS (SELECT seed, node, min(dist) AS dist FROM (
         |        SELECT seed, node, dist FROM d0 UNION ALL
         |        SELECT d.seed, s.dst AS node, d.dist + 1 AS dist
         |        FROM d0 d JOIN sym s ON d.node = s.src) GROUP BY seed, node),
         |d2 AS (SELECT seed, node, min(dist) AS dist FROM (
         |        SELECT seed, node, dist FROM d1 UNION ALL
         |        SELECT d.seed, s.dst AS node, d.dist + 1 AS dist
         |        FROM d1 d JOIN sym s ON d.node = s.src) GROUP BY seed, node),
         |d3 AS (SELECT seed, node, min(dist) AS dist FROM (
         |        SELECT seed, node, dist FROM d2 UNION ALL
         |        SELECT d.seed, s.dst AS node, d.dist + 1 AS dist
         |        FROM d2 d JOIN sym s ON d.node = s.src) GROUP BY seed, node)
         |SELECT seed, CAST(count(*) AS BIGINT) AS n_reached,
         |       CAST(sum(dist) AS BIGINT) AS sum_dist,
         |       CASE WHEN sum(dist) > 0
         |            THEN CAST(count(*) - 1 AS DOUBLE) / sum(dist)
         |            ELSE 0.0 END AS closeness
         |FROM d3 GROUP BY seed""".stripMargin,

    // Same per-seed BFS layers; σ/δ recurrences replayed join-for-join.
    "graph_betweenness" ->
      s"""WITH $coPurchaseCte,
         |sym AS (SELECT a AS src, b AS dst FROM ed
         |        UNION ALL SELECT b AS src, a AS dst FROM ed),
         |seeds AS (SELECT DISTINCT src AS node FROM sym WHERE src % 97 = 0),
         |d0 AS (SELECT node AS seed, node, CAST(0 AS BIGINT) AS dist FROM seeds),
         |d1 AS (SELECT seed, node, min(dist) AS dist FROM (
         |        SELECT seed, node, dist FROM d0 UNION ALL
         |        SELECT d.seed, s.dst AS node, d.dist + 1 AS dist
         |        FROM d0 d JOIN sym s ON d.node = s.src) GROUP BY seed, node),
         |d2 AS (SELECT seed, node, min(dist) AS dist FROM (
         |        SELECT seed, node, dist FROM d1 UNION ALL
         |        SELECT d.seed, s.dst AS node, d.dist + 1 AS dist
         |        FROM d1 d JOIN sym s ON d.node = s.src) GROUP BY seed, node),
         |df AS (SELECT seed, node, min(dist) AS dist FROM (
         |        SELECT seed, node, dist FROM d2 UNION ALL
         |        SELECT d.seed, s.dst AS node, d.dist + 1 AS dist
         |        FROM d2 d JOIN sym s ON d.node = s.src) GROUP BY seed, node),
         |s0 AS (SELECT seed, node, CAST(1 AS BIGINT) AS sigma FROM df WHERE dist = 0),
         |s1 AS (SELECT df.seed, df.node, CAST(sum(s0.sigma) AS BIGINT) AS sigma
         |       FROM df JOIN sym ON df.node = sym.dst
         |            JOIN s0 ON s0.seed = df.seed AND s0.node = sym.src
         |       WHERE df.dist = 1 GROUP BY df.seed, df.node),
         |s2 AS (SELECT df.seed, df.node, CAST(sum(s1.sigma) AS BIGINT) AS sigma
         |       FROM df JOIN sym ON df.node = sym.dst
         |            JOIN s1 ON s1.seed = df.seed AND s1.node = sym.src
         |       WHERE df.dist = 2 GROUP BY df.seed, df.node),
         |s3 AS (SELECT df.seed, df.node, CAST(sum(s2.sigma) AS BIGINT) AS sigma
         |       FROM df JOIN sym ON df.node = sym.dst
         |            JOIN s2 ON s2.seed = df.seed AND s2.node = sym.src
         |       WHERE df.dist = 3 GROUP BY df.seed, df.node),
         |b3 AS (SELECT seed, node, sigma, 0.0 AS delta FROM s3),
         |c2 AS (SELECT s2.seed, s2.node,
         |        sum((s2.sigma / b3.sigma) * (1.0 + b3.delta)) AS d
         |       FROM s2 JOIN sym ON s2.node = sym.src
         |            JOIN b3 ON b3.seed = s2.seed AND b3.node = sym.dst
         |       GROUP BY s2.seed, s2.node),
         |b2 AS (SELECT s2.seed, s2.node, s2.sigma, coalesce(c2.d, 0.0) AS delta
         |       FROM s2 LEFT JOIN c2 ON c2.seed = s2.seed AND c2.node = s2.node),
         |c1 AS (SELECT s1.seed, s1.node,
         |        sum((s1.sigma / b2.sigma) * (1.0 + b2.delta)) AS d
         |       FROM s1 JOIN sym ON s1.node = sym.src
         |            JOIN b2 ON b2.seed = s1.seed AND b2.node = sym.dst
         |       GROUP BY s1.seed, s1.node),
         |b1 AS (SELECT s1.seed, s1.node, s1.sigma, coalesce(c1.d, 0.0) AS delta
         |       FROM s1 LEFT JOIN c1 ON c1.seed = s1.seed AND c1.node = s1.node)
         |SELECT node, round(sum(delta), 6) AS betweenness
         |FROM (SELECT node, delta FROM b1 UNION ALL
         |      SELECT node, delta FROM b2 UNION ALL
         |      SELECT node, delta FROM b3)
         |GROUP BY node""".stripMargin,

    "graph_kcore" ->
      s"""WITH $coPurchaseCte,
         |sym0 AS (SELECT a AS n, b AS m FROM ed
         |         UNION ALL SELECT b AS n, a AS m FROM ed),
         |d1 AS (SELECT n, count(*) AS d FROM sym0 GROUP BY n),
         |k1 AS (SELECT n FROM d1 WHERE d >= 2),
         |s1 AS (SELECT s.n, s.m FROM sym0 s
         |       JOIN k1 x ON s.n = x.n JOIN k1 y ON s.m = y.n),
         |d2 AS (SELECT n, count(*) AS d FROM s1 GROUP BY n),
         |k2 AS (SELECT n FROM d2 WHERE d >= 2),
         |s2 AS (SELECT s.n, s.m FROM s1 s
         |       JOIN k2 x ON s.n = x.n JOIN k2 y ON s.m = y.n)
         |SELECT n AS node, CAST(count(*) AS BIGINT) AS degree
         |FROM s2 GROUP BY n""".stripMargin,

    // Two unrolled 3-truss rounds: triangles enumerated u<v<w over the
    // canonical edge list, three sides per triangle → per-edge support,
    // inner-join (support ≥ k−2 = 1) filter, then the final-subgraph
    // support recount with coalesce-0 for triangle-less survivors.
    "graph_ktruss" ->
      s"""WITH $coPurchaseCte,
         |t1 AS (SELECT e1.a AS u, e1.b AS v, e2.b AS w
         |       FROM ed e1 JOIN ed e2 ON e2.a = e1.b
         |                  JOIN ed e3 ON e3.a = e1.a AND e3.b = e2.b),
         |s1 AS (SELECT a, b, count(*) AS s FROM (
         |         SELECT u AS a, v AS b FROM t1
         |         UNION ALL SELECT u AS a, w AS b FROM t1
         |         UNION ALL SELECT v AS a, w AS b FROM t1)
         |       GROUP BY a, b),
         |r1 AS (SELECT e.a, e.b FROM ed e
         |       JOIN s1 ON s1.a = e.a AND s1.b = e.b AND s1.s >= 1),
         |t2 AS (SELECT e1.a AS u, e1.b AS v, e2.b AS w
         |       FROM r1 e1 JOIN r1 e2 ON e2.a = e1.b
         |                  JOIN r1 e3 ON e3.a = e1.a AND e3.b = e2.b),
         |s2 AS (SELECT a, b, count(*) AS s FROM (
         |         SELECT u AS a, v AS b FROM t2
         |         UNION ALL SELECT u AS a, w AS b FROM t2
         |         UNION ALL SELECT v AS a, w AS b FROM t2)
         |       GROUP BY a, b),
         |r2 AS (SELECT e.a, e.b FROM r1 e
         |       JOIN s2 ON s2.a = e.a AND s2.b = e.b AND s2.s >= 1),
         |t3 AS (SELECT e1.a AS u, e1.b AS v, e2.b AS w
         |       FROM r2 e1 JOIN r2 e2 ON e2.a = e1.b
         |                  JOIN r2 e3 ON e3.a = e1.a AND e3.b = e2.b),
         |s3 AS (SELECT a, b, count(*) AS s FROM (
         |         SELECT u AS a, v AS b FROM t3
         |         UNION ALL SELECT u AS a, w AS b FROM t3
         |         UNION ALL SELECT v AS a, w AS b FROM t3)
         |       GROUP BY a, b)
         |SELECT e.a, e.b, CAST(coalesce(s3.s, 0) AS BIGINT) AS support
         |FROM r2 e LEFT JOIN s3 ON s3.a = e.a AND s3.b = e.b""".stripMargin,

    "graph_jaccard_neighbors" ->
      s"""WITH $coPurchaseCte,
         |sym AS (SELECT a AS n, b AS m FROM ed
         |        UNION ALL SELECT b AS n, a AS m FROM ed),
         |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY n),
         |c AS (SELECT s1.m AS x, s2.m AS y, CAST(count(*) AS BIGINT) AS common
         |      FROM (SELECT n, m FROM sym) s1
         |      JOIN (SELECT n, m FROM sym) s2 ON s1.n = s2.n AND s1.m < s2.m
         |      GROUP BY s1.m, s2.m HAVING count(*) >= 2)
         |SELECT c.x AS a, c.y AS b, c.common,
         |       c.common / (da.d + db.d - c.common) AS jaccard
         |FROM c JOIN deg da ON da.n = c.x JOIN deg db ON db.n = c.y
         |WHERE c.common / (da.d + db.d - c.common) >= 0.25""".stripMargin,

    // Same l3 label recurrence, then Q = Σ_c [L_c/m − (d_c/2m)²].
    "graph_modularity" ->
      s"""WITH $coPurchaseCte,
         |sym AS (SELECT a AS src, b AS dst FROM ed
         |        UNION ALL SELECT b AS src, a AS dst FROM ed),
         |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM sym),
         |l1 AS (SELECT node, min(lbl) AS lbl FROM (
         |        SELECT node, lbl FROM l0 UNION ALL
         |        SELECT s.dst AS node, l.lbl AS lbl FROM l0 l JOIN sym s ON l.node = s.src)
         |       GROUP BY node),
         |l2 AS (SELECT node, min(lbl) AS lbl FROM (
         |        SELECT node, lbl FROM l1 UNION ALL
         |        SELECT s.dst AS node, l.lbl AS lbl FROM l1 l JOIN sym s ON l.node = s.src)
         |       GROUP BY node),
         |l3 AS (SELECT node, min(lbl) AS lbl FROM (
         |        SELECT node, lbl FROM l2 UNION ALL
         |        SELECT s.dst AS node, l.lbl AS lbl FROM l2 l JOIN sym s ON l.node = s.src)
         |       GROUP BY node),
         |m AS (SELECT CAST(count(*) AS DOUBLE) AS m FROM ed),
         |w AS (SELECT la.lbl AS community, CAST(count(*) AS BIGINT) AS l_c
         |      FROM ed JOIN l3 la ON ed.a = la.node JOIN l3 lb ON ed.b = lb.node
         |      WHERE la.lbl = lb.lbl GROUP BY la.lbl),
         |d AS (SELECT l3.lbl AS community, CAST(count(*) AS BIGINT) AS d_c
         |      FROM (SELECT a AS node FROM ed UNION ALL SELECT b FROM ed) n
         |      JOIN l3 ON n.node = l3.node GROUP BY l3.lbl),
         |c AS (SELECT d.community, coalesce(w.l_c, 0) AS l_c, d.d_c,
         |        coalesce(w.l_c, 0) / m.m - (d.d_c / (2.0 * m.m)) * (d.d_c / (2.0 * m.m)) AS contrib
         |      FROM d LEFT JOIN w ON d.community = w.community, m)
         |SELECT community, l_c, d_c, contrib,
         |       CAST(sum(CAST(contrib AS DECIMAL(28,18))) OVER () AS DOUBLE) AS q_total
         |FROM c""".stripMargin,

    // The same scaled-integer gain 2m − d_i·d_j (w = 1), argmax by
    // row_number(ORDER BY g DESC, j) — the relational replay of the
    // struct-max tie-break.
    "graph_louvain_move" ->
      s"""WITH $coPurchaseCte,
         |sym AS (SELECT a AS i, b AS j FROM ed
         |        UNION ALL SELECT b AS i, a AS j FROM ed),
         |deg AS (SELECT i AS node, count(*) AS d FROM sym GROUP BY i),
         |mm AS (SELECT count(*) AS m FROM ed),
         |g AS (SELECT sym.i, sym.j, 2 * mm.m - di.d * dj.d AS g
         |      FROM sym JOIN deg di ON di.node = sym.i
         |      JOIN deg dj ON dj.node = sym.j, mm),
         |r AS (SELECT i, j,
         |        row_number() OVER (PARTITION BY i ORDER BY g DESC, j) AS rk
         |      FROM g WHERE g > 0),
         |lbl AS (SELECT deg.node, deg.d, coalesce(r1.j, deg.node) AS lbl
         |        FROM deg LEFT JOIN (SELECT i, j FROM r WHERE rk = 1) r1
         |        ON deg.node = r1.i),
         |mem AS (SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_members,
         |         CAST(min(node) AS BIGINT) AS min_node,
         |         CAST(sum(d) AS BIGINT) AS deg_sum
         |        FROM lbl GROUP BY lbl),
         |intr AS (SELECT la.lbl AS community,
         |          CAST(count(*) AS BIGINT) AS internal_edges
         |         FROM ed JOIN lbl la ON ed.a = la.node
         |         JOIN lbl lb ON ed.b = lb.node
         |         WHERE la.lbl = lb.lbl GROUP BY la.lbl)
         |SELECT mem.community, mem.n_members, mem.min_node, mem.deg_sum,
         |       coalesce(intr.internal_edges, 0) AS internal_edges
         |FROM mem LEFT JOIN intr ON mem.community = intr.community""".stripMargin,

    // Level 1 verbatim, then the weighted coarse pass: community-pair
    // edge weights (self-loops counted twice into weighted degree),
    // HUGEINT gains 2m·w − d_i·d_j, same argmax tie-break, composed
    // rollup over the original edges.
    "graph_louvain_multilevel" ->
      s"""WITH $coPurchaseCte,
         |$louvainMlCtes
         |${communityRollupSql("fl")}""".stripMargin,

    // Leiden-style connectivity refinement: replay the identical
    // two-level Louvain chain, then split each community into the
    // connected components of its OWN induced subgraph (recursive
    // transitive closure over within-community edges only — an
    // independent algorithm from the engine's star contraction), and
    // roll up the refined labels.
    "graph_leiden" ->
      s"""WITH RECURSIVE $coPurchaseCte,
         |$louvainMlCtes,
         |wce AS MATERIALIZED (SELECT ed.a, ed.b FROM ed
         |        JOIN fl la ON ed.a = la.node
         |        JOIN fl lb ON ed.b = lb.node WHERE la.lbl = lb.lbl),
         |wsym AS MATERIALIZED (SELECT a AS src, b AS dst FROM wce
         |         UNION ALL SELECT b AS src, a AS dst FROM wce),
         |reach AS (
         |  SELECT src AS node, src AS r FROM (SELECT DISTINCT src FROM wsym)
         |  UNION
         |  SELECT s.src AS node, p.r AS r
         |  FROM wsym s JOIN reach p ON s.dst = p.node),
         |cmp AS (SELECT node, min(r) AS c FROM reach GROUP BY node),
         |fl2 AS (SELECT fl.node, fl.d, coalesce(cmp.c, fl.node) AS lbl
         |        FROM fl LEFT JOIN cmp ON fl.node = cmp.node)
         |${communityRollupSql("fl2")}""".stripMargin,

    // Same chain, then BOTH Leiden invariants recomputed independently:
    // a second recursive closure over the within-REFINED edges for
    // connectivity, and the exact scaled-integer modularity
    // Q·4m² = Σ_c (4m·l_c − d_c²) on each side of the refinement.
    "graph_leiden_quality" ->
      s"""WITH RECURSIVE $coPurchaseCte,
         |$louvainMlCtes,
         |wce AS MATERIALIZED (SELECT ed.a, ed.b FROM ed
         |        JOIN fl la ON ed.a = la.node
         |        JOIN fl lb ON ed.b = lb.node WHERE la.lbl = lb.lbl),
         |wsym AS MATERIALIZED (SELECT a AS src, b AS dst FROM wce
         |         UNION ALL SELECT b AS src, a AS dst FROM wce),
         |reach AS (
         |  SELECT src AS node, src AS r FROM (SELECT DISTINCT src FROM wsym)
         |  UNION
         |  SELECT s.src AS node, p.r AS r
         |  FROM wsym s JOIN reach p ON s.dst = p.node),
         |cmp AS (SELECT node, min(r) AS c FROM reach GROUP BY node),
         |fl2 AS MATERIALIZED (
         |  SELECT fl.node, fl.d, coalesce(cmp.c, fl.node) AS lbl
         |  FROM fl LEFT JOIN cmp ON fl.node = cmp.node),
         |wce2 AS MATERIALIZED (SELECT ed.a, ed.b FROM ed
         |        JOIN fl2 la ON ed.a = la.node
         |        JOIN fl2 lb ON ed.b = lb.node WHERE la.lbl = lb.lbl),
         |wsym2 AS MATERIALIZED (SELECT a AS src, b AS dst FROM wce2
         |         UNION ALL SELECT b AS src, a AS dst FROM wce2),
         |reach2 AS (
         |  SELECT src AS node, src AS r FROM (SELECT DISTINCT src FROM wsym2)
         |  UNION
         |  SELECT s.src AS node, p.r AS r
         |  FROM wsym2 s JOIN reach2 p ON s.dst = p.node),
         |cmp2 AS (SELECT node, min(r) AS c FROM reach2 GROUP BY node),
         |rl AS (SELECT fl2.lbl, coalesce(cmp2.c, fl2.node) AS c2
         |       FROM fl2 LEFT JOIN cmp2 ON fl2.node = cmp2.node),
         |disc AS (SELECT CAST(count(*) AS BIGINT) AS n_disc FROM (
         |           SELECT lbl FROM rl GROUP BY lbl
         |           HAVING count(DISTINCT c2) > 1)),
         |lc1 AS (SELECT la.lbl AS community, count(*) AS l_c FROM ed
         |        JOIN fl la ON ed.a = la.node
         |        JOIN fl lb ON ed.b = lb.node
         |        WHERE la.lbl = lb.lbl GROUP BY 1),
         |dc1 AS (SELECT lbl AS community, sum(d) AS d_c FROM fl GROUP BY 1),
         |q1 AS (SELECT CAST(sum(4 * mm.m * coalesce(lc1.l_c, 0) -
         |                 dc1.d_c * dc1.d_c) AS BIGINT) AS q_lou,
         |         CAST(count(*) AS BIGINT) AS n_lou
         |       FROM dc1 LEFT JOIN lc1 USING (community), mm),
         |lc2 AS (SELECT la.lbl AS community, count(*) AS l_c FROM ed
         |        JOIN fl2 la ON ed.a = la.node
         |        JOIN fl2 lb ON ed.b = lb.node
         |        WHERE la.lbl = lb.lbl GROUP BY 1),
         |dc2 AS (SELECT lbl AS community, sum(d) AS d_c FROM fl2 GROUP BY 1),
         |q2 AS (SELECT CAST(sum(4 * mm.m * coalesce(lc2.l_c, 0) -
         |                 dc2.d_c * dc2.d_c) AS BIGINT) AS q_lei,
         |         CAST(count(*) AS BIGINT) AS n_lei
         |       FROM dc2 LEFT JOIN lc2 USING (community), mm)
         |SELECT q1.n_lou AS n_comm_louvain, q2.n_lei AS n_comm_leiden,
         |       disc.n_disc AS n_disconnected,
         |       disc.n_disc = 0 AS all_connected,
         |       q1.q_lou AS q_scaled_louvain, q2.q_lei AS q_scaled_leiden,
         |       q2.q_lei >= q1.q_lou AS q_non_decrease
         |FROM q1, q2, disc""".stripMargin,

    // Independent of the engine's star-contraction rounds: min-reachable
    // id per node via a recursive transitive closure to the fixpoint.
    "graph_cc_twostars" ->
      s"""WITH RECURSIVE $coPurchaseCte,
         |sym AS (SELECT a AS src, b AS dst FROM ed
         |        UNION ALL SELECT b AS src, a AS dst FROM ed),
         |reach AS (
         |  SELECT src AS node, src AS r FROM (SELECT DISTINCT src FROM sym)
         |  UNION
         |  SELECT s.src AS node, p.r AS r
         |  FROM sym s JOIN reach p ON s.dst = p.node),
         |lbl AS (SELECT node, min(r) AS lbl FROM reach GROUP BY node)
         |SELECT lbl AS component, CAST(count(*) AS BIGINT) AS n_nodes,
         |       CAST(max(node) AS BIGINT) AS max_node
         |FROM lbl GROUP BY lbl""".stripMargin,

    // Luby rounds replayed with the same deterministic priorities
    // (generator above; error() if the unroll is ever too small).
    // Unroll to the engine's round budget (lubyMis maxRounds = 20): a
    // graph converging in 13-20 rounds must pass on BOTH sides, not
    // pass the engine and error() in the oracle. Converged rounds are
    // empty materialized no-ops, so the extra blocks cost ~nothing.
    "graph_mis" -> lubyMisOracleSql(rounds = 20),

    // Jones-Plassmann rounds replayed with the same fixed priorities
    // and the same sorted-rank smallest-missing-color scan (generator
    // above; round budget matches the engine's maxRounds=64).
    "graph_coloring" -> jonesPlassmannOracleSql(rounds = 64),

    // Double-cover bipartiteness replayed independently: one recursive
    // min-label closure over the original edges (components), one over
    // the lifted 2v+parity edges (cover labels); color and the
    // bipartite flag are the same label comparisons the engine makes.
    "graph_bipartite" ->
      s"""WITH RECURSIVE $coPurchaseCte,
         |sym AS (SELECT a AS src, b AS dst FROM ed
         |        UNION ALL SELECT b AS src, a AS dst FROM ed),
         |reach AS (
         |  SELECT src AS node, src AS r FROM (SELECT DISTINCT src FROM sym)
         |  UNION
         |  SELECT s.src AS node, p.r AS r
         |  FROM sym s JOIN reach p ON s.dst = p.node),
         |lbl AS (SELECT node, min(r) AS lbl FROM reach GROUP BY node),
         |dbl AS (SELECT a * 2 AS src, b * 2 + 1 AS dst FROM ed
         |        UNION ALL SELECT b * 2 + 1, a * 2 FROM ed
         |        UNION ALL SELECT a * 2 + 1, b * 2 FROM ed
         |        UNION ALL SELECT b * 2, a * 2 + 1 FROM ed),
         |reach2 AS (
         |  SELECT src AS node, src AS r FROM (SELECT DISTINCT src FROM dbl)
         |  UNION
         |  SELECT s.src AS node, p.r AS r
         |  FROM dbl s JOIN reach2 p ON s.dst = p.node),
         |lbl2 AS (SELECT node, min(r) AS lbl FROM reach2 GROUP BY node)
         |SELECT l.node, l.lbl AS component,
         |       CASE WHEN l0.lbl <> l1.lbl THEN
         |         CASE WHEN l0.lbl = l.lbl * 2 THEN 0 ELSE 1 END
         |       END AS color,
         |       l0.lbl <> l1.lbl AS is_bipartite
         |FROM lbl l
         |JOIN lbl2 l0 ON l0.node = l.node * 2
         |JOIN lbl2 l1 ON l1.node = l.node * 2 + 1""".stripMargin,

    // The identical 3-round min-label recurrence, unrolled: closed
    // neighborhood = self ∪ in-neighbors over the symmetrized edges.
    "graph_components_lp" ->
      s"""WITH $coPurchaseCte,
         |sym AS (SELECT a AS src, b AS dst FROM ed
         |        UNION ALL SELECT b AS src, a AS dst FROM ed),
         |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM sym),
         |l1 AS (SELECT node, min(lbl) AS lbl FROM (
         |        SELECT node, lbl FROM l0 UNION ALL
         |        SELECT s.dst AS node, l.lbl AS lbl FROM l0 l JOIN sym s ON l.node = s.src)
         |       GROUP BY node),
         |l2 AS (SELECT node, min(lbl) AS lbl FROM (
         |        SELECT node, lbl FROM l1 UNION ALL
         |        SELECT s.dst AS node, l.lbl AS lbl FROM l1 l JOIN sym s ON l.node = s.src)
         |       GROUP BY node),
         |l3 AS (SELECT node, min(lbl) AS lbl FROM (
         |        SELECT node, lbl FROM l2 UNION ALL
         |        SELECT s.dst AS node, l.lbl AS lbl FROM l2 l JOIN sym s ON l.node = s.src)
         |       GROUP BY node)
         |SELECT lbl AS component, CAST(count(*) AS BIGINT) AS n_nodes,
         |       CAST(max(node) AS BIGINT) AS max_node
         |FROM l3 GROUP BY lbl""".stripMargin,

    "graph_pagerank" -> pagerankOracleSql,
    "graph_pagerank_weighted" -> pagerankWeightedOracleSql,
    "graph_ppr" -> pprOracleSql,

    "graph_pagerank_directed" -> pagerankDirectedOracleSql,

    // Forward/backward 3-round min-label coloring, both recurrences
    // unrolled; f=b groups only, unresolved count as a constant column.
    "graph_scc_bounded" -> {
      def rounds(pre: String, push: (String, String) => String): String =
        (1 to 3).map { i =>
          val prev = s"$pre${i - 1}"
          s"""$pre$i AS (SELECT node, min(lbl) AS lbl FROM (
             |  SELECT node, lbl FROM $prev
             |  UNION ALL ${push(prev, "ed")})
             | GROUP BY node)""".stripMargin
        }.mkString(",\n")
      val fwd = rounds("f", (l, e) =>
        s"SELECT $e.dst AS node, $l.lbl AS lbl FROM $l JOIN $e ON $l.node = $e.src")
      val bwd = rounds("b", (l, e) =>
        s"SELECT $e.src AS node, $l.lbl AS lbl FROM $l JOIN $e ON $l.node = $e.dst")
      s"""WITH $tradePairsCte,
         |r AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS su
         |      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |      WHERE l_returnflag = 'R'),
         |ed AS (SELECT c AS src, -su - 1 AS dst FROM e
         |       UNION ALL SELECT -su - 1 AS src, c AS dst FROM r),
         |nd AS (SELECT DISTINCT node FROM
         |       (SELECT src AS node FROM ed UNION ALL SELECT dst FROM ed)),
         |f0 AS (SELECT node, node AS lbl FROM nd),
         |b0 AS (SELECT node, node AS lbl FROM nd),
         |$fwd,
         |$bwd,
         |j AS (SELECT f3.node, f3.lbl AS f, b3.lbl AS b
         |      FROM f3 JOIN b3 ON f3.node = b3.node),
         |un AS (SELECT count(*) AS n_unresolved FROM j WHERE f <> b)
         |SELECT f AS scc, CAST(count(*) AS BIGINT) AS n_nodes,
         |       CAST(max(node) AS BIGINT) AS max_node, un.n_unresolved
         |FROM j, un WHERE f = b GROUP BY f, un.n_unresolved""".stripMargin
    },

    // Independent ground truth: full transitive closure (recursive CTE
    // to fixpoint), SCC representative = min over mutual-reachability
    // partners — no peeling, no coloring, a different algorithm
    // entirely, so agreement is evidence of correctness rather than of
    // shared bugs.
    "graph_scc_converged" ->
      s"""WITH RECURSIVE $tradePairsCte,
         |rr AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS su
         |      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |      WHERE l_returnflag = 'R'),
         |ed AS (SELECT c AS src, -su - 1 AS dst FROM e
         |       UNION ALL SELECT -su - 1 AS src, c AS dst FROM rr),
         |nd AS (SELECT DISTINCT node FROM
         |       (SELECT src AS node FROM ed UNION ALL SELECT dst FROM ed)),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM ed
         |  UNION
         |  SELECT r.src, ed.dst FROM reach r JOIN ed ON r.dst = ed.src),
         |mut AS (SELECT a.src AS node, a.dst AS u
         |        FROM reach a JOIN reach b ON a.src = b.dst AND a.dst = b.src),
         |rep AS (SELECT nd.node,
         |          least(nd.node, coalesce(min(mut.u), nd.node)) AS scc
         |        FROM nd LEFT JOIN mut ON nd.node = mut.node
         |        GROUP BY nd.node)
         |SELECT scc, CAST(count(*) AS BIGINT) AS n_nodes,
         |       CAST(max(node) AS BIGINT) AS max_node
         |FROM rep GROUP BY scc""".stripMargin,
    "graph_hits" -> hitsOracleSql,

    // The SAME degree-ordered orientation (tie-break by id), replicated
    // relationally: any orientation disagreement shows up as a different
    // wedge set and a different count.
    "graph_triangles_deg" ->
      s"""WITH $coPurchaseCte,
         |deg AS (SELECT n, count(*) AS d FROM
         |        (SELECT a AS n FROM ed UNION ALL SELECT b AS n FROM ed)
         |        GROUP BY n),
         |o AS (SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND ed.a < ed.b)
         |                  THEN ed.a ELSE ed.b END AS x,
         |             CASE WHEN da.d < db.d OR (da.d = db.d AND ed.a < ed.b)
         |                  THEN ed.b ELSE ed.a END AS y
         |      FROM ed JOIN deg da ON da.n = ed.a JOIN deg db ON db.n = ed.b),
         |o2 AS (SELECT o.x, o.y, deg.d AS dy FROM o JOIN deg ON deg.n = o.y),
         |w AS (SELECT e1.x, e1.y AS u, e2.y AS v
         |      FROM o2 e1 JOIN o2 e2 ON e1.x = e2.x
         |      WHERE e1.dy < e2.dy OR (e1.dy = e2.dy AND e1.y < e2.y))
         |SELECT count(*) AS n_triangles
         |FROM w JOIN o ON o.x = w.u AND o.y = w.v""".stripMargin,

    "graph_random_walk" -> randomWalkOracleSql,

    // Relational classification (IS DISTINCT FROM per column) — the
    // operator's md5 row-hash must reach the same verdicts.
    "rel_delta_merge" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |         AS sum_price_cents
        |FROM orders GROUP BY 1""".stripMargin,

    "sample_exact_k" ->
      """SELECT doc_id FROM documents
        |ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 100""".stripMargin,

    // The STRONG gate for view maintenance: the oracle recomputes the
    // post-delta table from scratch — the incremental signed-state merge
    // must land on the identical aggregate.
    "rel_incremental_agg" ->
      """WITH cur AS (
        |  SELECT l_returnflag, l_linestatus,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem
        |  WHERE NOT (l_orderkey % 20 <> 0 AND l_orderkey % 17 = 0))
        |SELECT l_returnflag, l_linestatus,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents,
        |       round(CAST(sum(cents) AS BIGINT) / count(*), 6) AS avg_cents
        |FROM cur GROUP BY 1, 2""".stripMargin,

    // From-scratch recompute of the post-delta join view — the strong
    // gate for the delta-join identity.
    "rel_mv_join" ->
      """WITH an AS (SELECT o_custkey,
        |              CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |            FROM orders
        |            WHERE o_orderkey % 10 = 0 OR o_orderkey % 13 <> 0),
        |bn AS (SELECT c_custkey, c_nationkey FROM customer)
        |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM an JOIN bn ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin,

    "rel_mv_join_2way" ->
      """WITH an AS (SELECT o_custkey,
        |              CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |            FROM orders
        |            WHERE o_orderkey % 10 = 0 OR o_orderkey % 13 <> 0),
        |bn AS (SELECT c_custkey, c_nationkey FROM customer
        |       WHERE c_custkey % 8 = 0
        |          OR (c_custkey % 8 <> 0 AND c_custkey % 9 <> 0))
        |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM an JOIN bn ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin,

    "rel_incremental_detect" ->
      """WITH v1 AS (SELECT * FROM orders WHERE o_orderkey % 10 <> 0),
        |v2 AS (SELECT o_orderkey, o_custkey,
        |        CASE WHEN o_orderkey % 3 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
        |        o_orderpriority FROM orders WHERE o_orderkey % 7 <> 0),
        |d1 AS (SELECT o_orderkey // 1000 AS bucket, CAST(count(*) AS BIGINT) AS n_v1,
        |        CAST(sum(CAST(('0x' || substr(md5(
        |          CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR)
        |          || '|' || o_orderstatus || '|' || o_orderpriority), 1, 8)) AS BIGINT))
        |          AS BIGINT) AS ck_v1
        |       FROM v1 GROUP BY 1),
        |d2 AS (SELECT o_orderkey // 1000 AS bucket, CAST(count(*) AS BIGINT) AS n_v2,
        |        CAST(sum(CAST(('0x' || substr(md5(
        |          CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR)
        |          || '|' || o_orderstatus || '|' || o_orderpriority), 1, 8)) AS BIGINT))
        |          AS BIGINT) AS ck_v2
        |       FROM v2 GROUP BY 1)
        |SELECT coalesce(d1.bucket, d2.bucket) AS bucket,
        |       coalesce(n_v1, CAST(0 AS BIGINT)) AS n_v1,
        |       coalesce(n_v2, CAST(0 AS BIGINT)) AS n_v2
        |FROM d1 FULL OUTER JOIN d2 ON d1.bucket = d2.bucket
        |WHERE ck_v1 IS DISTINCT FROM ck_v2 OR n_v1 IS DISTINCT FROM n_v2""".stripMargin,

    "rel_bucket_checksums" ->
      """SELECT o_orderkey // 1000 AS bucket, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CAST(('0x' || substr(md5(
        |         CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR)
        |         || '|' || o_orderstatus || '|' || o_orderpriority), 1, 8)) AS BIGINT))
        |         AS BIGINT) AS checksum
        |FROM orders GROUP BY 1""".stripMargin,

    "rel_table_diff" ->
      """WITH v1 AS (SELECT * FROM orders WHERE o_orderkey % 10 <> 0),
        |v2 AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |         CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1.0
        |              ELSE o_totalprice END AS o_totalprice
        |       FROM orders WHERE o_orderkey % 7 <> 0)
        |SELECT coalesce(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
        |       CASE WHEN v1.o_orderkey IS NULL THEN 'added'
        |            WHEN v2.o_orderkey IS NULL THEN 'deleted'
        |            ELSE 'changed' END AS change_type
        |FROM v1 FULL JOIN v2 ON v1.o_orderkey = v2.o_orderkey
        |WHERE v1.o_orderkey IS NULL OR v2.o_orderkey IS NULL
        |   OR v1.o_custkey IS DISTINCT FROM v2.o_custkey
        |   OR v1.o_orderstatus IS DISTINCT FROM v2.o_orderstatus
        |   OR v1.o_totalprice IS DISTINCT FROM v2.o_totalprice""".stripMargin,

    "rel_cdc_apply" ->
      """WITH log AS (SELECT user_id,
        |         CASE event_type WHEN 'signup' THEN 'I'
        |              WHEN 'error' THEN 'D' ELSE 'U' END AS op,
        |         ts, event_id, value FROM events),
        |r AS (SELECT user_id, op, value,
        |        row_number() OVER (PARTITION BY user_id
        |                           ORDER BY ts DESC, event_id DESC) AS rn,
        |        count(*) OVER (PARTITION BY user_id) AS n_ops
        |      FROM log)
        |SELECT user_id, op AS last_op, value, CAST(n_ops AS BIGINT) AS n_ops
        |FROM r WHERE rn = 1 AND op <> 'D'""".stripMargin,

    // The same log read at version 15: only commits with day(ts) <= 15
    // participate; latest (v, ts, event_id) per key wins.
    "rel_snapshot_read" ->
      """WITH log AS (SELECT user_id, day(ts) AS v,
        |         CASE event_type WHEN 'signup' THEN 'I'
        |              WHEN 'error' THEN 'D' ELSE 'U' END AS op,
        |         ts, event_id, value FROM events WHERE day(ts) <= 15),
        |r AS (SELECT user_id, v, op, value,
        |        row_number() OVER (PARTITION BY user_id
        |            ORDER BY v DESC, ts DESC, event_id DESC) AS rn
        |      FROM log)
        |SELECT user_id, CAST(v AS BIGINT) AS last_version, op AS last_op, value
        |FROM r WHERE rn = 1 AND op <> 'D'""".stripMargin,

    "rel_percentiles" ->
      """SELECT o_orderpriority,
        |       quantile_cont(o_totalprice, 0.25) AS p25,
        |       quantile_cont(o_totalprice, 0.5) AS p50,
        |       quantile_cont(o_totalprice, 0.75) AS p75,
        |       count(*) AS n
        |FROM orders GROUP BY o_orderpriority""".stripMargin,

    "rel_window_nav" ->
      """SELECT o_custkey, o_orderkey,
        |       first_value(o_totalprice) OVER w AS first_price,
        |       last_value(o_totalprice) OVER wf AS last_price,
        |       nth_value(o_totalprice, 2) OVER wf AS second_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey),
        |       wf AS (PARTITION BY o_custkey ORDER BY o_orderkey
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin,

    // The sketch's guarantees hold by construction (seed-fixed): the
    // oracle pins the exact counts and expects both booleans true.
    "rel_count_min" ->
      """SELECT l_partkey AS probe_key, count(*) AS exact_n,
        |       true AS never_under, true AS within_eps
        |FROM lineitem WHERE l_partkey BETWEEN 1 AND 5
        |GROUP BY l_partkey""".stripMargin,

    "src_csv_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |         AS sum_price_cents,
        |       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders GROUP BY o_orderstatus""".stripMargin,

    "src_schema_evolution" ->
      """SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END AS o_orderpriority,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |         AS sum_price_cents
        |FROM orders GROUP BY 1""".stripMargin,

    "src_json_roundtrip" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |         AS sum_price_cents
        |FROM orders GROUP BY o_orderpriority""".stripMargin,

    // Byte length + md5 computed from the ORIGINAL strings (duck md5 of
    // a VARCHAR hashes its UTF-8 bytes, octet_length(encode(..)) counts
    // them — the same bytes the .bin files carry).
    "src_binaryfile" ->
      """SELECT doc_id,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |       md5(text) AS content_md5
        |FROM documents""".stripMargin,

    "src_orc_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |         AS sum_price_cents,
        |       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders GROUP BY o_orderstatus""".stripMargin,

    "rel_scd2" ->
      """SELECT user_id, event_id, event_type, ts AS valid_from,
        |       lead(ts) OVER w AS valid_to,
        |       lead(ts) OVER w IS NULL AS is_current
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin,

    // width = (400000 - 0) / 16 = 25000 exactly; same floor arithmetic
    "rel_histogram" ->
      """SELECT CAST(floor((o_totalprice - 0.0) / 25000.0) AS BIGINT) AS bucket,
        |       count(*) AS n_rows, min(o_totalprice) AS min_val,
        |       max(o_totalprice) AS max_val
        |FROM orders WHERE o_totalprice >= 0.0 AND o_totalprice < 400000.0
        |GROUP BY 1""".stripMargin,

    "rel_drift_psi" ->
      """WITH rb AS (SELECT CAST(least(greatest(floor((o_totalprice - 0.0) / 31250.0), 0.0), 15.0) AS BIGINT) AS bucket,
        |         CAST(count(*) AS BIGINT) AS n_ref
        |       FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01' GROUP BY 1),
        |cb AS (SELECT CAST(least(greatest(floor((o_totalprice - 0.0) / 31250.0), 0.0), 15.0) AS BIGINT) AS bucket,
        |         CAST(count(*) AS BIGINT) AS n_cur
        |       FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01' GROUP BY 1),
        |sp AS (SELECT i AS bucket FROM unnest(range(0, 16)) AS u(i)),
        |j AS (SELECT sp.bucket AS bucket, coalesce(n_ref, 0) AS n_ref,
        |        coalesce(n_cur, 0) AS n_cur
        |      FROM sp LEFT JOIN rb ON sp.bucket = rb.bucket
        |            LEFT JOIN cb ON sp.bucket = cb.bucket),
        |k AS (SELECT bucket, n_ref, n_cur,
        |        (n_ref + 0.5) / (sum(n_ref) OVER () + 0.5 * 16) AS p,
        |        (n_cur + 0.5) / (sum(n_cur) OVER () + 0.5 * 16) AS q
        |      FROM j)
        |SELECT bucket, n_ref, n_cur, (p - q) * ln(p / q) AS psi_contrib,
        |       CAST(sum(CAST((p - q) * ln(p / q) AS DECIMAL(28,18))) OVER () AS DOUBLE) AS psi_total
        |FROM k""".stripMargin,

    "rel_winsorize" ->
      """WITH cuts AS (SELECT l_returnflag,
        |         quantile_cont(l_extendedprice, 0.05) AS cut_lo,
        |         quantile_cont(l_extendedprice, 0.95) AS cut_hi
        |       FROM lineitem GROUP BY l_returnflag)
        |SELECT l.l_returnflag AS l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CASE WHEN l_extendedprice < cut_lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_lo,
        |       CAST(sum(CASE WHEN l_extendedprice > cut_hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_hi,
        |       CAST(sum(CAST(least(greatest(l_extendedprice, cut_lo), cut_hi)
        |                     AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_winsorized_c
        |FROM lineitem l JOIN cuts c ON l.l_returnflag = c.l_returnflag
        |GROUP BY l.l_returnflag""".stripMargin,

    "rel_profile" ->
      """SELECT 'o_orderkey' AS column_name, count(*) AS n_rows,
        |       CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |       count(DISTINCT o_orderkey) AS n_distinct FROM orders
        |UNION ALL
        |SELECT 'o_custkey', count(*),
        |       CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       count(DISTINCT o_custkey) FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', count(*),
        |       CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       count(DISTINCT o_orderstatus) FROM orders
        |UNION ALL
        |SELECT 'o_totalprice', count(*),
        |       CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       count(DISTINCT o_totalprice) FROM orders
        |UNION ALL
        |SELECT 'o_orderdate', count(*),
        |       CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       count(DISTINCT o_orderdate) FROM orders
        |UNION ALL
        |SELECT 'o_orderpriority', count(*),
        |       CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       count(DISTINCT o_orderpriority) FROM orders""".stripMargin,

    "sample_split" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |      % 1000000 AS draw FROM documents)
        |SELECT doc_id,
        |       CASE WHEN draw < 900000 THEN 'train'
        |            WHEN draw < 950000 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM d""".stripMargin,

    // quantile_cont = Spark's interpolated percentile (rel_percentiles
    // precedent); the boolean-sum stage expression is identical.
    "sample_curriculum" ->
      """WITH n AS (SELECT doc_id, lang,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |q AS (SELECT lang, quantile_cont(n_tokens, 0.25) AS q1,
        |        quantile_cont(n_tokens, 0.5) AS q2,
        |        quantile_cont(n_tokens, 0.75) AS q3
        |      FROM n GROUP BY lang)
        |SELECT doc_id, n.lang, n_tokens,
        |       CAST(1 + CAST(n_tokens > q1 AS INT) + CAST(n_tokens > q2 AS INT)
        |            + CAST(n_tokens > q3 AS INT) AS BIGINT) AS stage
        |FROM n JOIN q USING (lang)""".stripMargin,

    // Same integer div arithmetic over the per-lang token counts.
    "sample_mixture_plan" ->
      """WITH n AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY lang),
        |w(lang, w) AS (VALUES ('en', 2), ('de', 3), ('es', 3), ('fr', 3), ('zh', 1)),
        |t AS (SELECT n.lang, n.n_docs, n.n_tokens,
        |        (500000 * w) // 12 AS target_tokens
        |      FROM n JOIN w USING (lang)),
        |ep AS (SELECT *, (target_tokens + n_tokens - 1) // n_tokens AS n_epochs
        |       FROM t)
        |SELECT lang, n_docs, n_tokens,
        |       CAST(target_tokens AS BIGINT) AS target_tokens,
        |       CAST(n_epochs AS BIGINT) AS n_epochs,
        |       CAST(CASE WHEN n_epochs = 0 THEN 0 ELSE
        |            ((target_tokens - (n_epochs - 1) * n_tokens) * 1000000)
        |            // n_tokens END AS BIGINT) AS last_epoch_ppm
        |FROM ep""".stripMargin,

    // Recursive groups + the sample_split draw; group members adopt the
    // representative's (min id) split.
    "sample_split_leakfree" ->
      """WITH RECURSIVE
        |s AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(0, len(w) - 2),
        |           i -> array_to_string(w[i+1:i+3], ' '))) AS sh
        |  FROM (SELECT doc_id,
        |          string_split_regex(trim(text), '\s+') AS w FROM documents)),
        |p AS (
        |  SELECT l.doc_id AS a, r.doc_id AS b
        |  FROM s l JOIN s r ON l.doc_id < r.doc_id
        |  WHERE CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE) /
        |          len(list_distinct(list_concat(l.sh, r.sh))) >= 0.5),
        |e AS (SELECT a, b FROM p UNION SELECT b, a FROM p
        |      UNION SELECT a, a FROM p UNION SELECT b, b FROM p),
        |reach(a, b) AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
        |g AS (SELECT a AS doc_id, min(b) AS gid FROM reach GROUP BY a),
        |d AS (SELECT doc_id,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |      % 1000000 AS draw FROM documents),
        |sp AS (SELECT doc_id,
        |    CASE WHEN draw < 900000 THEN 'train'
        |         WHEN draw < 950000 THEN 'val'
        |         ELSE 'test' END AS split FROM d),
        |rep AS (SELECT gid, min(doc_id) AS rep FROM g GROUP BY gid),
        |rs AS (SELECT g.doc_id, spr.split AS rep_split
        |       FROM g JOIN rep USING (gid) JOIN sp spr ON spr.doc_id = rep.rep)
        |SELECT sp.doc_id, COALESCE(rs.rep_split, sp.split) AS split,
        |       rs.rep_split IS NOT NULL AND rs.rep_split <> sp.split AS reassigned
        |FROM sp LEFT JOIN rs ON rs.doc_id = sp.doc_id""".stripMargin,

    "sql_lateral_explode" ->
      """WITH tok AS (SELECT lang,
        |    unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents)
        |SELECT lang, tok, count(*) AS n FROM tok
        |GROUP BY lang, tok HAVING count(*) > 100""".stripMargin,

    // Layout round-trips: the oracle reads the ORIGINAL unpartitioned /
    // unbucketed table — any row the write/read cycle loses, duplicates,
    // or mangles turns the hash red.
    "rel_partition_prune" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT)
        |         AS sum_qty_c
        |FROM lineitem WHERE l_returnflag = 'R'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "rel_bucket_join" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT)
        |         AS sum_qty_c
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,

    // Same boundary rule (STRICT > 30 min on the exact micro-epoch
    // doubles); ties in ts can't split a session, so no id tiebreak is
    // needed (Sessionize scaladoc).
    "rel_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, ts, value, epoch(ts) AS es,
        |         lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |  FROM events),
        |m AS (SELECT user_id, ts, value,
        |        CASE WHEN prev IS NULL OR es - prev > 1800.0 THEN 1 ELSE 0 END AS is_new
        |      FROM e),
        |s AS (SELECT user_id, ts, value,
        |        sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |      FROM m)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |       count(*) AS n_events, min(ts) AS session_start,
        |       max(ts) AS session_end,
        |       CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
        |         AS sum_value_micros
        |FROM s GROUP BY user_id, session_id""".stripMargin,

    "rel_window_ntile" ->
      """SELECT c_custkey, c_nationkey,
        |       CAST(ntile(4) OVER w AS INT) AS tile,
        |       percent_rank() OVER w AS pct_rank,
        |       cume_dist() OVER w AS cume
        |FROM customer
        |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)""".stripMargin,

    "sample_reservoir" ->
      """WITH r AS (
        |  SELECT doc_id, lang,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY md5('42-' || CAST(doc_id AS VARCHAR)), doc_id) AS draw_rank
        |  FROM documents)
        |SELECT doc_id, lang, CAST(draw_rank AS BIGINT) AS draw_rank
        |FROM r WHERE draw_rank <= 40""".stripMargin,

    // Literal-for-literal the same double arithmetic as TextAnalysis.bm25
    // (left-associative, identical constant folds), rounded to 6 decimals
    // on both engines.
    "text_feature_hash" ->
      """SELECT doc_id,
        |       CAST('0x' || substr(md5(term), 1, 15) AS BIGINT) % 1024 AS bucket,
        |       CAST(count(*) AS BIGINT) AS tf
        |FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        |      FROM documents)
        |GROUP BY 1, 2""".stripMargin,

    // Clipped n-gram overlap (ROUGE-N): counts exact integers; the p/r
    // divisions and the F1 composed from the p/r columns are the same
    // IEEE double expression tree the engine builds.
    // Independent LCS formulation: longest chain over the match-position
    // set (i ascending, j ascending) via a deduplicating recursion —
    // max(k) per pair IS the LCS length the engine's per-pair DP computes.
    "text_rouge_l" ->
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        |pairs AS (
        |  SELECT d1.doc_id AS cand_id, d2.doc_id AS ref_id
        |  FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 1
        |  WHERE d1.doc_id % 7 = 0),
        |ca AS MATERIALIZED (
        |  SELECT doc_id, i, w[i] AS t
        |  FROM (SELECT doc_id, unnest(range(1, len(w) + 1)) AS i, w FROM tok)),
        |m AS MATERIALIZED (
        |  SELECT p.cand_id, p.ref_id, a.i AS i, b.i AS j
        |  FROM pairs p JOIN ca a ON a.doc_id = p.cand_id
        |               JOIN ca b ON b.doc_id = p.ref_id AND b.t = a.t),
        |ch AS (
        |  SELECT cand_id, ref_id, i, j, 1 AS k FROM m
        |  UNION
        |  SELECT m.cand_id, m.ref_id, m.i, m.j, ch.k + 1
        |  FROM ch JOIN m ON m.cand_id = ch.cand_id AND m.ref_id = ch.ref_id
        |                AND m.i > ch.i AND m.j > ch.j),
        |lcs AS (SELECT cand_id, ref_id, max(k) AS l FROM ch GROUP BY 1, 2),
        |lens AS (SELECT doc_id, len(w) AS n FROM tok),
        |pr AS (
        |  SELECT p.cand_id, p.ref_id,
        |         CAST(coalesce(lcs.l, 0) AS BIGINT) AS lcs_len,
        |         CAST(la.n AS BIGINT) AS cand_total,
        |         CAST(lb.n AS BIGINT) AS ref_total,
        |         CAST(coalesce(lcs.l, 0) AS DOUBLE) / la.n AS rouge_p,
        |         CAST(coalesce(lcs.l, 0) AS DOUBLE) / lb.n AS rouge_r
        |  FROM pairs p
        |  JOIN lens la ON la.doc_id = p.cand_id
        |  JOIN lens lb ON lb.doc_id = p.ref_id
        |  LEFT JOIN lcs ON lcs.cand_id = p.cand_id AND lcs.ref_id = p.ref_id)
        |SELECT cand_id, ref_id, lcs_len, cand_total, ref_total,
        |       rouge_p, rouge_r,
        |       CASE WHEN rouge_p + rouge_r = 0.0 THEN 0.0
        |            ELSE 2.0 * rouge_p * rouge_r / (rouge_p + rouge_r)
        |       END AS rouge_f1
        |FROM pr""".stripMargin,

    "text_rouge" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, 1 AS n, unnest(w) AS g FROM tok
        |  UNION ALL
        |  SELECT doc_id, 2 AS n,
        |         unnest(list_transform(range(0, len(w) - 1),
        |           i -> array_to_string(w[i+1:i+2], ' '))) AS g
        |  FROM tok WHERE len(w) >= 2),
        |cnt AS (SELECT doc_id, n, g, count(*) AS c FROM grams GROUP BY 1, 2, 3),
        |tot AS (SELECT doc_id, n, sum(c) AS tot FROM cnt GROUP BY 1, 2),
        |pairs AS (
        |  SELECT d1.doc_id AS cand_id, d2.doc_id AS ref_id
        |  FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 1),
        |base AS (SELECT cand_id, ref_id, v.n
        |         FROM pairs, (VALUES (1), (2)) v(n)),
        |m AS (SELECT p.cand_id, p.ref_id, cl.n,
        |             sum(least(cl.c, cr.c)) AS mm
        |      FROM pairs p
        |      JOIN cnt cl ON cl.doc_id = p.cand_id
        |      JOIN cnt cr ON cr.doc_id = p.ref_id
        |        AND cr.n = cl.n AND cr.g = cl.g
        |      GROUP BY 1, 2, 3),
        |pr AS (
        |  SELECT b.cand_id, b.ref_id, CAST(b.n AS INTEGER) AS n,
        |         CAST(coalesce(m.mm, 0) AS BIGINT) AS match_n,
        |         CAST(tc.tot AS BIGINT) AS cand_total,
        |         CAST(tr.tot AS BIGINT) AS ref_total,
        |         CAST(coalesce(m.mm, 0) AS DOUBLE) / CAST(tc.tot AS DOUBLE) AS rouge_p,
        |         CAST(coalesce(m.mm, 0) AS DOUBLE) / CAST(tr.tot AS DOUBLE) AS rouge_r
        |  FROM base b
        |  JOIN tot tc ON tc.doc_id = b.cand_id AND tc.n = b.n
        |  JOIN tot tr ON tr.doc_id = b.ref_id AND tr.n = b.n
        |  LEFT JOIN m ON m.cand_id = b.cand_id AND m.ref_id = b.ref_id
        |    AND m.n = b.n)
        |SELECT cand_id, ref_id, n, match_n, cand_total, ref_total,
        |       rouge_p, rouge_r,
        |       CASE WHEN rouge_p + rouge_r = 0.0 THEN 0.0
        |            ELSE 2.0 * rouge_p * rouge_r / (rouge_p + rouge_r)
        |       END AS rouge_f1
        |FROM pr""".stripMargin,

    // Identical char-gram clipped counting (orders 1..6, closed-form
    // totals), identical fixed IEEE trees for ratios/averages/chrf2.
    "text_chrf" -> {
      val gramBlocks = (1 to 6).map { n =>
        s"""SELECT id, $n AS n,
           |       unnest(list_transform(range(1, CAST(len - ${n - 1} AS BIGINT) + 1),
           |         i -> substr(t, CAST(i AS INTEGER), $n))) AS g
           |FROM bl WHERE len >= $n""".stripMargin
      }.mkString("\n  UNION ALL\n")
      val matchCols = (1 to 6).map(n =>
        s"CAST(coalesce(max(CASE WHEN n = $n THEN mm END), 0) AS BIGINT) AS match_$n")
        .mkString(",\n         ")
      val rp = (1 to 6).map(n =>
        s"CAST(match_$n AS DOUBLE) / CAST(cand_len - ${n - 1} AS DOUBLE)")
        .mkString(" + ")
      val rr = (1 to 6).map(n =>
        s"CAST(match_$n AS DOUBLE) / CAST(ref_len - ${n - 1} AS DOUBLE)")
        .mkString(" + ")
      s"""WITH b AS (SELECT doc_id AS id,
         |             regexp_replace(text, '[ \\t\\n\\r\\f]+', '', 'g') AS t
         |           FROM documents),
         |bl AS (SELECT id, t, CAST(length(t) AS BIGINT) AS len FROM b),
         |grams AS (
         |  $gramBlocks),
         |cnt AS (SELECT id, n, g, count(*) AS c FROM grams GROUP BY 1, 2, 3),
         |pairs AS (
         |  SELECT d1.doc_id AS cand_id, d2.doc_id AS ref_id
         |  FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 1
         |  WHERE d1.doc_id % 5 = 0),
         |m AS (SELECT p.cand_id, p.ref_id, cl.n,
         |             sum(least(cl.c, cr.c)) AS mm
         |      FROM pairs p
         |      JOIN cnt cl ON cl.id = p.cand_id
         |      JOIN cnt cr ON cr.id = p.ref_id AND cr.n = cl.n AND cr.g = cl.g
         |      GROUP BY 1, 2, 3),
         |piv AS (SELECT p.cand_id, p.ref_id,
         |         $matchCols
         |        FROM pairs p LEFT JOIN m ON m.cand_id = p.cand_id
         |          AND m.ref_id = p.ref_id
         |        GROUP BY 1, 2),
         |wl AS (SELECT piv.*, c.len AS cand_len, r.len AS ref_len
         |       FROM piv JOIN bl c ON c.id = piv.cand_id
         |       JOIN bl r ON r.id = piv.ref_id
         |       WHERE least(c.len, r.len) >= 6),
         |pr AS (SELECT *, ($rp) / 6.0 AS avg_p, ($rr) / 6.0 AS avg_r FROM wl)
         |SELECT cand_id, ref_id, cand_len, ref_len,
         |       match_1, match_2, match_3, match_4, match_5, match_6,
         |       avg_p, avg_r,
         |       CASE WHEN 4.0 * avg_p + avg_r = 0.0 THEN 0.0
         |            ELSE 5.0 * avg_p * avg_r / (4.0 * avg_p + avg_r)
         |       END AS chrf2
         |FROM pr""".stripMargin
    },

    // Identical clipped counting at n=1..4 + brevity penalty; bp/bleu
    // round(…,6) on both sides (exp/pow cross libm), p_n raw single
    // divisions of exact integers.
    "text_bleu" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, 1 AS n, unnest(w) AS g FROM tok
        |  UNION ALL
        |  SELECT doc_id, 2 AS n,
        |         unnest(list_transform(range(0, len(w) - 1),
        |           i -> array_to_string(w[i+1:i+2], ' '))) AS g
        |  FROM tok WHERE len(w) >= 2
        |  UNION ALL
        |  SELECT doc_id, 3 AS n,
        |         unnest(list_transform(range(0, len(w) - 2),
        |           i -> array_to_string(w[i+1:i+3], ' '))) AS g
        |  FROM tok WHERE len(w) >= 3
        |  UNION ALL
        |  SELECT doc_id, 4 AS n,
        |         unnest(list_transform(range(0, len(w) - 3),
        |           i -> array_to_string(w[i+1:i+4], ' '))) AS g
        |  FROM tok WHERE len(w) >= 4),
        |cnt AS (SELECT doc_id, n, g, count(*) AS c FROM grams GROUP BY 1, 2, 3),
        |tot AS (SELECT doc_id, n, sum(c) AS tot FROM cnt GROUP BY 1, 2),
        |pairs AS (
        |  SELECT d1.doc_id AS cand_id, d2.doc_id AS ref_id
        |  FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 1),
        |m AS (SELECT p.cand_id, p.ref_id, cl.n,
        |             sum(least(cl.c, coalesce(cr.c, 0))) AS mm,
        |             sum(cl.c) AS ct
        |      FROM pairs p
        |      JOIN cnt cl ON cl.doc_id = p.cand_id
        |      LEFT JOIN cnt cr ON cr.doc_id = p.ref_id
        |        AND cr.n = cl.n AND cr.g = cl.g
        |      GROUP BY 1, 2, 3),
        |piv AS (SELECT cand_id, ref_id,
        |          CAST(max(CASE WHEN n = 1 THEN mm END) AS BIGINT) AS match_1,
        |          CAST(max(CASE WHEN n = 2 THEN mm END) AS BIGINT) AS match_2,
        |          CAST(max(CASE WHEN n = 3 THEN mm END) AS BIGINT) AS match_3,
        |          CAST(max(CASE WHEN n = 4 THEN mm END) AS BIGINT) AS match_4,
        |          CAST(max(CASE WHEN n = 1 THEN ct END) AS BIGINT) AS ct1,
        |          CAST(max(CASE WHEN n = 2 THEN ct END) AS BIGINT) AS ct2,
        |          CAST(max(CASE WHEN n = 3 THEN ct END) AS BIGINT) AS ct3,
        |          CAST(max(CASE WHEN n = 4 THEN ct END) AS BIGINT) AS ct4
        |        FROM m GROUP BY 1, 2
        |        HAVING max(CASE WHEN n = 4 THEN ct END) IS NOT NULL),
        |pr AS (SELECT piv.cand_id, piv.ref_id,
        |         ct1 AS cand_len, CAST(rl.tot AS BIGINT) AS ref_len,
        |         match_1, match_2, match_3, match_4,
        |         CAST(match_1 AS DOUBLE) / CAST(ct1 AS DOUBLE) AS p_1,
        |         CAST(match_2 AS DOUBLE) / CAST(ct2 AS DOUBLE) AS p_2,
        |         CAST(match_3 AS DOUBLE) / CAST(ct3 AS DOUBLE) AS p_3,
        |         CAST(match_4 AS DOUBLE) / CAST(ct4 AS DOUBLE) AS p_4
        |       FROM piv JOIN (SELECT doc_id, tot FROM tot WHERE n = 1) rl
        |         ON rl.doc_id = piv.ref_id)
        |SELECT cand_id, ref_id, cand_len, ref_len,
        |       match_1, match_2, match_3, match_4, p_1, p_2, p_3, p_4,
        |       round(CASE WHEN cand_len >= ref_len THEN 1.0
        |             ELSE exp(1.0 - CAST(ref_len AS DOUBLE) /
        |                      CAST(cand_len AS DOUBLE)) END, 6) AS bp,
        |       CASE WHEN match_1 = 0 OR match_2 = 0 OR match_3 = 0
        |              OR match_4 = 0 THEN 0.0
        |            ELSE round((CASE WHEN cand_len >= ref_len THEN 1.0
        |                   ELSE exp(1.0 - CAST(ref_len AS DOUBLE) /
        |                            CAST(cand_len AS DOUBLE)) END) *
        |                 pow(p_1 * p_2 * p_3 * p_4, 0.25), 6)
        |       END AS bleu
        |FROM pr""".stripMargin,

    // The identical (doc_id, position) md5 draw, mask rebuild ordered by
    // position, counts exact.
    "pack_mlm_mask" ->
      """WITH w AS (SELECT doc_id,
        |        string_split_regex(trim(text), '\s+') AS ws FROM documents),
        |p AS (SELECT doc_id, ws, unnest(range(0, len(ws))) AS i FROM w),
        |m AS (SELECT doc_id, i,
        |        CASE WHEN CAST('0x' || substr(md5(doc_id || ':' || i), 1, 15)
        |               AS BIGINT) % 100 < 15 THEN 1 ELSE 0 END AS f,
        |        ws[i + 1] AS tok FROM p)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(sum(f) AS BIGINT) AS n_masked,
        |       md5(string_agg(CASE WHEN f = 1 THEN '[MASK]' ELSE tok END,
        |         ' ' ORDER BY i)) AS masked_md5
        |FROM m GROUP BY doc_id""".stripMargin,

    "text_bm25" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        |            FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY doc_id, term),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
        |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |corpus AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |                  CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl),
        |scored AS (
        |  SELECT t.doc_id, t.term, t.tf, d.df, l.dl,
        |         round(ln(1.0 + (c.n_docs - CAST(d.df AS DOUBLE) + 0.5) / (CAST(d.df AS DOUBLE) + 0.5))
        |           * (CAST(t.tf AS DOUBLE) * (1.2 + 1.0))
        |           / (CAST(t.tf AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * CAST(l.dl AS DOUBLE) / c.avgdl)), 6) AS score
        |  FROM tf t JOIN dfreq d USING (term) JOIN dl l USING (doc_id) CROSS JOIN corpus c),
        |top AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rn
        |        FROM scored)
        |SELECT doc_id, term AS top_term, tf, df, dl, score FROM top WHERE rn = 1""".stripMargin,

    // width 32, patch 4: tile (pr, pc) = 4 substrings of 4 chars at
    // pr*128 + r*32 + pc*4 (ASCII-scoped, as every mm_* oracle).
    "mm_patches" ->
      """WITH d AS (SELECT doc_id, text, strlen(text) AS n FROM documents
        |           WHERE strlen(text) = length(text)),
        |p AS (SELECT doc_id, text, unnest(range(0, (n // 128) * 8)) AS pi FROM d),
        |q AS (SELECT doc_id, text, pi // 8 AS pr, pi % 8 AS pc FROM p)
        |SELECT doc_id AS media_id, CAST(pr AS BIGINT) AS patch_row,
        |       CAST(pc AS BIGINT) AS patch_col,
        |       md5(substr(text, CAST(pr*128 + pc*4 + 1 AS INT), 4)
        |        || substr(text, CAST(pr*128 + 32 + pc*4 + 1 AS INT), 4)
        |        || substr(text, CAST(pr*128 + 64 + pc*4 + 1 AS INT), 4)
        |        || substr(text, CAST(pr*128 + 96 + pc*4 + 1 AS INT), 4)) AS patch_md5
        |FROM q""".stripMargin,

    "rel_agg_arrays" ->
      """SELECT l_returnflag,
        |       array_to_string(list_sort(list(DISTINCT l_linestatus)), ',') AS statuses,
        |       count(DISTINCT l_linestatus) AS n_statuses
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "rel_array_funcs" ->
      """SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
        |       CAST(embedding[1] AS DOUBLE) AS first_val,
        |       CAST(embedding[-1] AS DOUBLE) AS last_val,
        |       CAST(list_max(embedding) AS DOUBLE) AS max_val,
        |       CAST(list_min(embedding) AS DOUBLE) AS min_val
        |FROM embeddings""".stripMargin,

    "rel_stats" ->
      """SELECT o_orderpriority,
        |       median(o_totalprice) AS median_price,
        |       stddev_samp(o_totalprice) AS sd_price,
        |       var_samp(o_totalprice) AS var_price,
        |       min(o_totalprice) AS min_price,
        |       max(o_totalprice) AS max_price
        |FROM orders GROUP BY o_orderpriority""".stripMargin,

    // Naive theta form — DuckDB's IEJoin handles it at oracle scale; the
    // engine must reproduce the exact pair set through its bucket plan.
    "rel_band_join" ->
      """SELECT a.o_orderkey AS l_key, b.o_orderkey AS r_key,
        |       a.o_totalprice - b.o_totalprice AS diff
        |FROM orders a JOIN orders b
        |  ON a.o_orderkey < b.o_orderkey
        | AND abs(a.o_totalprice - b.o_totalprice) <= 0.5""".stripMargin,

    // The oracle pins the exact count and asserts the engine's merged
    // sketch landed inside the tolerance (the rel_approx_quantile gate
    // pattern: TRUE is only reproduced if the estimate is within 2%).
    "rel_hll_merge" ->
      """SELECT CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_exact,
        |       TRUE AS merge_within_2pct
        |FROM customer""".stripMargin,

    // The merge of the three shard sketches equals one global bucket
    // aggregate BY ASSOCIATIVITY — the oracle exploits exactly that; the
    // exact side is the identical rank walk at width 1.
    "rel_quantile_merge" ->
      """WITH li AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |            FROM lineitem),
        |sk AS (SELECT cents // 4096 AS bucket, CAST(count(*) AS BIGINT) AS cnt
        |       FROM li GROUP BY 1),
        |cum AS (SELECT bucket, sum(cnt) OVER (ORDER BY bucket) AS cum FROM sk),
        |nn AS (SELECT CAST(max(cum) AS BIGINT) AS n FROM cum),
        |qs(q_pct) AS (VALUES (10),(25),(50),(75),(90),(99)),
        |est AS (SELECT q_pct, nn.n, min(bucket) AS est_bucket FROM cum, nn, qs
        |        WHERE cum >= (nn.n * q_pct + 99) // 100 GROUP BY q_pct, nn.n),
        |dv AS (SELECT cents AS v, CAST(count(*) AS BIGINT) AS c FROM li GROUP BY 1),
        |cv AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM dv),
        |ex AS (SELECT q_pct, min(v) AS exact_v FROM cv, nn, qs
        |       WHERE cum >= (nn.n * q_pct + 99) // 100 GROUP BY q_pct)
        |SELECT CAST(est.q_pct AS BIGINT) AS q_pct, est.n, est.est_bucket,
        |       est.est_bucket * 4096 AS estimate, ex.exact_v,
        |       ex.exact_v - est.est_bucket * 4096 >= 0 AND
        |       ex.exact_v - est.est_bucket * 4096 < 4096 AS within_width
        |FROM est JOIN ex USING (q_pct)""".stripMargin,

    // The log-grid bucket replayed with the same exact integer ops:
    // e = binary digit count - 1, prefix = val >> max(e-11, 0),
    // bucket = e*4096 + prefix; decode = shifts of the bucket's split.
    // All values here are positive, so the mirror branches are inert.
    // From-scratch sketch of the POST-DELTA table — the engine side is
    // the incrementally maintained signed state; equality here IS the
    // IVM guarantee.
    "rel_quantile_retract" ->
      """WITH li AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS val,
        |                   l_orderkey
        |            FROM lineitem),
        |pd AS (SELECT val FROM li
        |       WHERE l_orderkey % 20 = 0
        |          OR (l_orderkey % 20 <> 0 AND l_orderkey % 17 <> 0)),
        |bk AS (SELECT val, CAST(length(bin(val)) - 1 AS BIGINT) AS e FROM pd),
        |b2 AS (SELECT val, e, greatest(e - 11, 0) AS s FROM bk),
        |sk AS (SELECT e * 4096 + (val >> s) AS bucket,
        |         CAST(count(*) AS BIGINT) AS cnt FROM b2 GROUP BY 1),
        |cum AS (SELECT bucket, sum(cnt) OVER (ORDER BY bucket) AS cum FROM sk),
        |nn AS (SELECT CAST(max(cum) AS BIGINT) AS n FROM cum),
        |qs(q_pct) AS (VALUES (10),(25),(50),(75),(90),(99)),
        |est AS (SELECT q_pct, nn.n, min(bucket) AS est_bucket FROM cum, nn, qs
        |        WHERE cum >= (nn.n * q_pct + 99) // 100 GROUP BY q_pct, nn.n),
        |dec AS (SELECT q_pct, n, est_bucket, est_bucket % 4096 AS pfx,
        |          greatest(est_bucket // 4096 - 11, 0) AS s2 FROM est)
        |SELECT CAST(q_pct AS BIGINT) AS q_pct, n, est_bucket,
        |       (pfx << s2) AS estimate,
        |       ((pfx + 1) << s2) AS est_upper
        |FROM dec""".stripMargin,

    "rel_quantile_log" ->
      """WITH li AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |            FROM lineitem),
        |v AS (SELECT cents * cents AS val FROM li),
        |bk AS (SELECT val, CAST(length(bin(val)) - 1 AS BIGINT) AS e FROM v),
        |b2 AS (SELECT val, e, greatest(e - 11, 0) AS s FROM bk),
        |sk AS (SELECT e * 4096 + (val >> s) AS bucket,
        |         CAST(count(*) AS BIGINT) AS cnt FROM b2 GROUP BY 1),
        |cum AS (SELECT bucket, sum(cnt) OVER (ORDER BY bucket) AS cum FROM sk),
        |nn AS (SELECT CAST(max(cum) AS BIGINT) AS n FROM cum),
        |qs(q_pct) AS (VALUES (10),(25),(50),(75),(90),(99)),
        |est AS (SELECT q_pct, nn.n, min(bucket) AS est_bucket FROM cum, nn, qs
        |        WHERE cum >= (nn.n * q_pct + 99) // 100 GROUP BY q_pct, nn.n),
        |dec AS (SELECT q_pct, n, est_bucket, est_bucket // 4096 AS e2,
        |          est_bucket % 4096 AS pfx,
        |          greatest(est_bucket // 4096 - 11, 0) AS s2 FROM est),
        |dd AS (SELECT q_pct, n, est_bucket, (pfx << s2) AS estimate,
        |         ((pfx + 1) << s2) AS est_upper FROM dec),
        |dv AS (SELECT val AS v2, CAST(count(*) AS BIGINT) AS c FROM v GROUP BY 1),
        |cv AS (SELECT v2, sum(c) OVER (ORDER BY v2) AS cum FROM dv),
        |ex AS (SELECT q_pct, min(v2) AS exact_v FROM cv, nn, qs
        |       WHERE cum >= (nn.n * q_pct + 99) // 100 GROUP BY q_pct)
        |SELECT CAST(dd.q_pct AS BIGINT) AS q_pct, dd.n, dd.est_bucket,
        |       dd.estimate, dd.est_upper, ex.exact_v,
        |       ex.exact_v >= dd.estimate AND ex.exact_v < dd.est_upper
        |         AS within_bucket,
        |       dd.est_upper - dd.estimate <=
        |         greatest(1, dd.estimate >> 11) AS rel_width_ok
        |FROM dd JOIN ex USING (q_pct)""".stripMargin,

    "rel_compaction_plan" ->
      """WITH f AS (SELECT o_orderdate AS day, CAST(count(*) * 100 AS BIGINT) AS bytes
        |           FROM orders GROUP BY 1),
        |c AS (SELECT day, bytes,
        |       CAST(sum(bytes) OVER (ORDER BY day) AS BIGINT) AS cum FROM f)
        |SELECT CAST((cum - bytes) // 25000 AS BIGINT) AS bin,
        |       CAST(count(*) AS BIGINT) AS n_files,
        |       CAST(sum(bytes) AS BIGINT) AS total_bytes,
        |       min(day) AS min_day, max(day) AS max_day
        |FROM c GROUP BY 1""".stripMargin,

    "rel_quality_checks" ->
      """WITH m AS (SELECT count(*) AS row_cnt,
        |        count(*) - count(DISTINCT o_orderkey) AS dup_keys,
        |        sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS null_cust,
        |        sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 0 ELSE 1 END)
        |          AS bad_status,
        |        sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS bad_price,
        |        sum(CASE WHEN o_orderpriority LIKE '_-%' THEN 0 ELSE 1 END)
        |          AS bad_prio
        |      FROM orders),
        |orph AS (SELECT count(*) AS c FROM orders o
        |         ANTI JOIN customer ON o.o_custkey = c_custkey)
        |SELECT 'row_count_min' AS check_name, CAST(row_cnt AS BIGINT) AS metric,
        |       row_cnt >= 1000 AS passed FROM m
        |UNION ALL SELECT 'orderkey_unique', CAST(dup_keys AS BIGINT),
        |       dup_keys = 0 FROM m
        |UNION ALL SELECT 'custkey_complete', CAST(null_cust AS BIGINT),
        |       null_cust = 0 FROM m
        |UNION ALL SELECT 'status_domain', CAST(bad_status AS BIGINT),
        |       bad_status = 0 FROM m
        |UNION ALL SELECT 'price_positive', CAST(bad_price AS BIGINT),
        |       bad_price = 0 FROM m
        |UNION ALL SELECT 'priority_format', CAST(bad_prio AS BIGINT),
        |       bad_prio = 0 FROM m
        |UNION ALL SELECT 'custkey_referential', CAST(c AS BIGINT),
        |       c = 0 FROM orph""".stripMargin,

    "rel_masking" ->
      """SELECT c_custkey,
        |       regexp_replace(c_name, '[0-9]', '#', 'g') AS masked_name,
        |       substr(md5(c_name), 1, 12) AS pseudonym,
        |       c_mktsegment
        |FROM customer""".stripMargin,

    "rel_k_anonymity" ->
      """SELECT c_nationkey,
        |       (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 100000 AS bal_band,
        |       CAST(count(*) AS BIGINT) AS class_size,
        |       CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_sensitive,
        |       count(*) >= 5 AS k_anonymous,
        |       count(DISTINCT c_mktsegment) >= 3 AS l_diverse
        |FROM customer
        |GROUP BY 1, 2""".stripMargin,

    // k-RR replayed: the identical md5 coins (keep test vs the exact
    // integer threshold 750000; fake pick skips the true position), the
    // same dyadic debias literals.
    "rel_ldp_freq" ->
      """WITH dom(pos, seg) AS (SELECT * FROM (VALUES
        |    (1, 'AUTOMOBILE'), (2, 'BUILDING'), (3, 'FURNITURE'),
        |    (4, 'HOUSEHOLD'), (5, 'MACHINERY')) t(pos, seg)),
        |c AS (SELECT CAST(c_custkey AS VARCHAR) AS id, c_mktsegment AS v,
        |        d.pos AS tpos
        |      FROM customer JOIN dom d ON d.seg = c_mktsegment),
        |r AS (SELECT id, v, tpos,
        |        CAST(('0x' || substr(md5(id), 1, 8)) AS BIGINT) % 1000000 AS u,
        |        CAST(('0x' || substr(md5(id || ':f'), 1, 8)) AS BIGINT)
        |          % 1000000 % 4 AS f0
        |      FROM c),
        |rep AS (SELECT v,
        |          CASE WHEN u < 750000 THEN v
        |               ELSE (SELECT seg FROM dom WHERE pos =
        |                 CASE WHEN f0 + 1 < tpos THEN f0 + 1 ELSE f0 + 2 END)
        |          END AS rseg
        |        FROM r),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM rep),
        |cr AS (SELECT rseg AS segment, CAST(count(*) AS BIGINT) AS n_reported
        |       FROM rep GROUP BY 1),
        |tr AS (SELECT v AS segment, CAST(count(*) AS BIGINT) AS n_true
        |       FROM rep GROUP BY 1)
        |SELECT coalesce(cr.segment, tr.segment) AS segment,
        |       coalesce(cr.n_reported, 0) AS n_reported,
        |       coalesce(tr.n_true, 0) AS n_true,
        |       round((CAST(coalesce(cr.n_reported, 0) AS DOUBLE)
        |         - tot.n * CAST(0.0625 AS DOUBLE))
        |         / CAST(0.6875 AS DOUBLE), 6) + 0 AS n_est
        |FROM cr FULL OUTER JOIN tr ON cr.segment = tr.segment, tot""".stripMargin,

    // The full FS pipeline replayed: same SNM leads, same exact-ppm u
    // odds (HUGEINT, true floor //), same cross-multiplied 10:1 verdict.
    "dedup_er_pairs" ->
      """WITH prep AS (SELECT c_custkey AS rid, c_nationkey, c_mktsegment,
        |        substr(c_name, length(c_name) - 1, 2) AS suffix2,
        |        CAST(round(c_acctbal * 100) AS BIGINT) + 100000 AS cents
        |      FROM customer),
        |p2 AS (SELECT *, cents // 100000 AS bal_wide, cents // 5000 AS block
        |       FROM prep),
        |u1 AS (SELECT (sum(CAST(c AS HUGEINT) * (c - 1)) * 1000000) //
        |              (CAST(sum(c) AS HUGEINT) * (sum(c) - 1)) AS ppm
        |       FROM (SELECT count(*) AS c FROM p2 GROUP BY c_nationkey)),
        |u2 AS (SELECT (sum(CAST(c AS HUGEINT) * (c - 1)) * 1000000) //
        |              (CAST(sum(c) AS HUGEINT) * (sum(c) - 1)) AS ppm
        |       FROM (SELECT count(*) AS c FROM p2 GROUP BY c_mktsegment)),
        |u3 AS (SELECT (sum(CAST(c AS HUGEINT) * (c - 1)) * 1000000) //
        |              (CAST(sum(c) AS HUGEINT) * (sum(c) - 1)) AS ppm
        |       FROM (SELECT count(*) AS c FROM p2 GROUP BY suffix2)),
        |u4 AS (SELECT (sum(CAST(c AS HUGEINT) * (c - 1)) * 1000000) //
        |              (CAST(sum(c) AS HUGEINT) * (sum(c) - 1)) AS ppm
        |       FROM (SELECT count(*) AS c FROM p2 GROUP BY bal_wide)),
        |ld AS (SELECT rid AS left_id, c_nationkey AS l1, c_mktsegment AS l2,
        |         suffix2 AS l3, bal_wide AS l4, j,
        |         CASE j WHEN 1 THEN lead(rid, 1) OVER w
        |                WHEN 2 THEN lead(rid, 2) OVER w
        |                ELSE lead(rid, 3) OVER w END AS right_id,
        |         CASE j WHEN 1 THEN lead(c_nationkey, 1) OVER w
        |                WHEN 2 THEN lead(c_nationkey, 2) OVER w
        |                ELSE lead(c_nationkey, 3) OVER w END AS r1,
        |         CASE j WHEN 1 THEN lead(c_mktsegment, 1) OVER w
        |                WHEN 2 THEN lead(c_mktsegment, 2) OVER w
        |                ELSE lead(c_mktsegment, 3) OVER w END AS r2,
        |         CASE j WHEN 1 THEN lead(suffix2, 1) OVER w
        |                WHEN 2 THEN lead(suffix2, 2) OVER w
        |                ELSE lead(suffix2, 3) OVER w END AS r3,
        |         CASE j WHEN 1 THEN lead(bal_wide, 1) OVER w
        |                WHEN 2 THEN lead(bal_wide, 2) OVER w
        |                ELSE lead(bal_wide, 3) OVER w END AS r4
        |       FROM p2 CROSS JOIN (SELECT unnest([1, 2, 3]) AS j)
        |       WINDOW w AS (PARTITION BY block, j ORDER BY cents, rid)),
        |ag AS (SELECT left_id, right_id,
        |         l1 IS NOT DISTINCT FROM r1 AS a1,
        |         l2 IS NOT DISTINCT FROM r2 AS a2,
        |         l3 IS NOT DISTINCT FROM r3 AS a3,
        |         l4 IS NOT DISTINCT FROM r4 AS a4
        |       FROM ld WHERE right_id IS NOT NULL)
        |SELECT left_id, right_id,
        |  concat(CASE WHEN a1 THEN '1' ELSE '0' END,
        |         CASE WHEN a2 THEN '1' ELSE '0' END,
        |         CASE WHEN a3 THEN '1' ELSE '0' END,
        |         CASE WHEN a4 THEN '1' ELSE '0' END) AS pattern,
        |  CAST((CASE WHEN a1 THEN 1 ELSE 0 END) + (CASE WHEN a2 THEN 1 ELSE 0 END)
        |     + (CASE WHEN a3 THEN 1 ELSE 0 END) + (CASE WHEN a4 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_agree,
        |  (CASE WHEN a1 THEN CAST(9000000 AS HUGEINT) ELSE 1000000 END *
        |   CASE WHEN a2 THEN 9000000 ELSE 1000000 END *
        |   CASE WHEN a3 THEN 9000000 ELSE 1000000 END *
        |   CASE WHEN a4 THEN 9000000 ELSE 1000000 END) * 1 >=
        |  (10 * CASE WHEN a1 THEN u1.ppm ELSE 1000000 - u1.ppm END *
        |   10 * CASE WHEN a2 THEN u2.ppm ELSE 1000000 - u2.ppm END *
        |   10 * CASE WHEN a3 THEN u3.ppm ELSE 1000000 - u3.ppm END *
        |   10 * CASE WHEN a4 THEN u4.ppm ELSE 1000000 - u4.ppm END) * 10
        |    AS is_match
        |FROM ag, u1, u2, u3, u4""".stripMargin,

    "sample_balance" ->
      """WITH tgt AS (SELECT min(n) AS k FROM (
        |       SELECT lang, count(*) AS n FROM documents GROUP BY lang)),
        |r AS (SELECT doc_id, lang,
        |       row_number() OVER (PARTITION BY lang
        |         ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |      FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM r, tgt WHERE rk <= k GROUP BY lang""".stripMargin,

    "rel_key_skew" ->
      """WITH cnt AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS x
        |             FROM orders GROUP BY 1),
        |r AS (SELECT o_custkey, x,
        |             row_number() OVER (ORDER BY x, o_custkey) AS i FROM cnt),
        |t AS (SELECT CAST(sum(x) AS BIGINT) AS sx, CAST(count(*) AS BIGINT) AS nk,
        |             CAST(sum(i * x) AS BIGINT) AS six FROM r)
        |SELECT o_custkey, x AS n_orders,
        |       CAST(x AS DOUBLE) / sx AS share,
        |       CAST(2 * six - (nk + 1) * sx AS DOUBLE) / (nk * sx) AS gini
        |FROM r CROSS JOIN t WHERE i > nk - 5""".stripMargin,

    // Same DECIMAL moment sums and the same left-associated IEEE corr
    // expression; the 3 pair rows come from the single aggregated CTE.
    "rel_corr_matrix" ->
      """WITH a AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  sum(CAST(l_quantity AS DECIMAL(13,6))) AS sq,
        |  sum(CAST(l_extendedprice AS DECIMAL(13,6))) AS sp,
        |  sum(CAST(l_discount AS DECIMAL(13,6))) AS sd,
        |  sum(CAST(l_quantity AS DECIMAL(19,6)) * CAST(l_quantity AS DECIMAL(13,6))) AS sqq,
        |  sum(CAST(l_extendedprice AS DECIMAL(19,6)) * CAST(l_extendedprice AS DECIMAL(13,6))) AS spp,
        |  sum(CAST(l_discount AS DECIMAL(19,6)) * CAST(l_discount AS DECIMAL(13,6))) AS sdd,
        |  sum(CAST(l_quantity AS DECIMAL(19,6)) * CAST(l_extendedprice AS DECIMAL(13,6))) AS sqp,
        |  sum(CAST(l_quantity AS DECIMAL(19,6)) * CAST(l_discount AS DECIMAL(13,6))) AS sqd,
        |  sum(CAST(l_extendedprice AS DECIMAL(19,6)) * CAST(l_discount AS DECIMAL(13,6))) AS spd
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, 'qty_price' AS pair, n,
        |  (n * CAST(sqp AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sp AS DOUBLE)) /
        |  sqrt((n * CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE)) *
        |       (n * CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))) AS corr
        |FROM a
        |UNION ALL
        |SELECT l_returnflag, 'qty_disc' AS pair, n,
        |  (n * CAST(sqd AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sd AS DOUBLE)) /
        |  sqrt((n * CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE)) *
        |       (n * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))) AS corr
        |FROM a
        |UNION ALL
        |SELECT l_returnflag, 'price_disc' AS pair, n,
        |  (n * CAST(spd AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sd AS DOUBLE)) /
        |  sqrt((n * CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE)) *
        |       (n * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))) AS corr
        |FROM a""".stripMargin,

    "skew_salted_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,

    "skew_salted_agg" ->
      """SELECT o_orderpriority, count(*) AS n_rows,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        |FROM orders GROUP BY o_orderpriority""".stripMargin,

    "sql_native_funcs" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
        |SELECT e.vec_id,
        |       list_reduce(list_transform(range(0, len(e.v)), i -> e.v[i+1] * qv[i+1]), (x,y) -> x + y) /
        |       (sqrt(list_reduce(list_transform(range(0, len(e.v)), i -> e.v[i+1] * e.v[i+1]), (x,y) -> x + y)) *
        |        sqrt(list_reduce(list_transform(range(0, len(qv)), i -> qv[i+1] * qv[i+1]), (x,y) -> x + y))) AS sim
        |FROM e, q WHERE e.vec_id <> 0""".stripMargin,
    "ref_window_agg" ->
      """SELECT event_type, count(event_id) AS total_trips, avg(value) AS average_fare,
        |       date_trunc('minute', ts) + INTERVAL 1 MINUTE AS last_updated
        |FROM events GROUP BY event_type, date_trunc('minute', ts)""".stripMargin,

    // The closed-window subset of the hourly window aggregate: the
    // final watermark is max(ts) - lateness, a window is emitted iff
    // window_end + lateness <= max(ts) — exact timestamp integer
    // comparisons on both engines.
    "stream_append_close" ->
      """WITH w AS (
        |  SELECT event_type, date_trunc('hour', ts) AS window_start,
        |         date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
        |         count(event_id) AS total_trips, avg(value) AS average_fare
        |  FROM events GROUP BY 1, 2, 3),
        |m AS (SELECT max(ts) AS mx FROM events)
        |SELECT event_type, window_start, window_end, total_trips,
        |       average_fare
        |FROM w, m WHERE window_end + INTERVAL 10 MINUTE <= mx""".stripMargin,

    "ref_accumulated_upsert" ->
      """WITH w AS (
        |  SELECT event_type, date_trunc('minute', ts) + INTERVAL 1 MINUTE AS last_updated,
        |         count(event_id) AS total_trips, avg(value) AS average_fare
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, total_trips, average_fare, last_updated FROM (
        |  SELECT event_type,
        |         CAST(sum(total_trips) OVER (PARTITION BY event_type) AS BIGINT) AS total_trips,
        |         average_fare, last_updated,
        |         row_number() OVER (PARTITION BY event_type ORDER BY last_updated DESC) AS rn
        |  FROM w) WHERE rn = 1""".stripMargin,

    "ref_json_roundtrip_agg" ->
      """SELECT event_type AS city, count(event_id) AS total_trips, avg(value) AS average_fare,
        |       date_trunc('minute', ts) + INTERVAL 1 MINUTE AS last_updated
        |FROM events GROUP BY event_type, date_trunc('minute', ts)""".stripMargin,

    "ref_json_extract" ->
      """SELECT event_type, CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
        |       count(props->>'k') AS n_events
        |FROM events GROUP BY event_type""".stripMargin,

    "ref_cast_epoch" ->
      "SELECT event_id, epoch(ts) AS epoch_s FROM events",

    "ref_sort_bi" ->
      """SELECT user_id, count(*) AS total_trips, avg(value) AS average_fare
        |FROM events GROUP BY user_id ORDER BY total_trips DESC, user_id""".stripMargin,

    // From-scratch recompute of the post-delta table — equality IS the
    // maintained-state guarantee (deletes ⊆ inserts by construction).
    "stream_signed_state" ->
      """WITH pd AS (SELECT event_type AS key,
        |              CAST(round(value * 100) AS BIGINT) AS v
        |            FROM events WHERE event_id % 7 <> 0)
        |SELECT key, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(v) AS BIGINT) AS sum_v
        |FROM pd GROUP BY 1""".stripMargin,

    // SCD2 history replayed: one lead() per key over (ts, id), same
    // "type:cents" attrs packing.
    "stream_scd2" ->
      """WITH l AS (SELECT CAST(user_id AS VARCHAR) AS key,
        |             epoch_us(ts) AS valid_from_us, event_id AS eid,
        |             event_type || ':' ||
        |               CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR)
        |               AS attrs
        |           FROM events)
        |SELECT key, valid_from_us, eid, attrs,
        |       lead(valid_from_us) OVER win AS valid_to_us,
        |       lead(valid_from_us) OVER win IS NULL AS is_current
        |FROM l
        |WINDOW win AS (PARTITION BY key ORDER BY valid_from_us, eid)""".stripMargin,

    // Full sketch replay per day window: bucket counts, partitioned
    // cumulative walk, exact integer rank selection.
    "stream_quantile_sketch" ->
      """WITH b AS (SELECT date_trunc('day', ts) AS window_start,
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
        |GROUP BY 1, 2, 3""".stripMargin,

    "stream_topk" ->
      """WITH c AS (
        |  SELECT date_trunc('minute', ts) AS window_start,
        |         event_type AS key, CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT window_start, key, cnt,
        |         CAST(row_number() OVER (PARTITION BY window_start
        |           ORDER BY cnt DESC, key) AS BIGINT) AS rnk
        |  FROM c)
        |SELECT window_start, key, cnt, rnk FROM r WHERE rnk <= 3""".stripMargin,

    "stream_anomaly" ->
      """WITH w AS (
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
        |SELECT * FROM f WHERE abs(z) > 3.0""".stripMargin,

    "stream_distinct_window" ->
      """SELECT date_trunc('hour', ts) AS window_start,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS approx_distinct,
        |       CAST(count(*) AS BIGINT) AS n_events
        |FROM events GROUP BY 1""".stripMargin,

    "stream_sliding_window" ->
      """WITH w AS (
        |  SELECT event_type, value,
        |         date_trunc('minute', ts) - i.i * INTERVAL 1 MINUTE AS window_start
        |  FROM events, unnest([0, 1]) AS i(i))
        |SELECT event_type, count(*) AS n_events, avg(value) AS avg_fare,
        |       window_start, window_start + INTERVAL 2 MINUTE AS window_end
        |FROM w GROUP BY event_type, window_start""".stripMargin,

    "stream_session_window" ->
      """WITH g AS (
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
        |FROM s GROUP BY user_id, sid""".stripMargin,

    "stream_dedup_exact" ->
      """SELECT DISTINCT * FROM
        |  (SELECT * FROM events UNION ALL SELECT * FROM events)""".stripMargin,

    "stream_interval_join" ->
      """SELECT p.event_id AS purchase_id, v.event_id AS view_id
        |FROM events p JOIN events v
        |  ON p.user_id = v.user_id
        | AND v.ts >= p.ts - INTERVAL 600 SECOND AND v.ts <= p.ts
        |WHERE p.event_type = 'purchase' AND v.event_type = 'view'""".stripMargin,


    "rel_approx_quantile" ->
      """SELECT o_orderpriority, median(o_totalprice) AS exact_med,
        |       true AS approx_within_5pct
        |FROM orders GROUP BY o_orderpriority""".stripMargin,

    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |       sum(l_quantity) AS sum_qty,
        |       sum(l_extendedprice) AS sum_base_price,
        |       sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
        |       avg(l_quantity) AS avg_qty,
        |       avg(l_extendedprice) AS avg_price,
        |       avg(l_discount) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "rel_join_broadcast" ->
      """SELECT r_name, sum(o_totalprice) AS revenue, count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,

    "rel_join_topk" ->
      """SELECT o_orderkey, o_orderdate,
        |       sum(l_extendedprice * (1 - l_discount)) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,

    "rel_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 400000)""".stripMargin,

    // The oracle is the PLAIN semi join: the bloom prefilter must be
    // invisible in the result (no false negatives; exact join removes
    // false positives) — any bloom-induced row loss turns this red.
    "rel_bloom_semi_join" ->
      """SELECT o_orderkey, o_custkey FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer
        |                    WHERE c_mktsegment = 'BUILDING')""".stripMargin,

    "rel_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)""".stripMargin,

    "rel_outer_join" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        |       sum(coalesce(o_totalprice, 0)) AS lifetime_value
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey""".stripMargin,

    "rel_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         CAST(row_number() OVER (PARTITION BY o_custkey
        |           ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk
        |  FROM orders) WHERE rnk <= 3""".stripMargin,

    "rel_window_lag" ->
      """SELECT user_id, event_id,
        |       epoch_us(ts) - epoch_us(lag(ts, 1) OVER (PARTITION BY user_id
        |         ORDER BY ts, event_id)) AS gap_us
        |FROM events""".stripMargin,

    "rel_window_dist" ->
      """SELECT o_orderpriority, o_orderkey,
        |       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |       percent_rank() OVER w AS pct_rank,
        |       cume_dist() OVER w AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice, o_orderkey)""".stripMargin,

    // date - DATE '1970-01-01' is DuckDB's integer day number = Spark's
    // unix_date; Spark sum(DECIMAL(15,2)) and DuckDB sum over the RANGE
    // frame agree digit-for-digit (exact decimal accumulation).
    "rel_window_range" ->
      """SELECT o_orderkey, o_custkey,
        |       sum(o_totalprice) OVER (PARTITION BY o_custkey
        |         ORDER BY CAST(o_orderdate AS DATE) - DATE '1970-01-01'
        |         RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS sum_30d
        |FROM orders""".stripMargin,

    // epoch_ms // is DuckDB floor division = Spark's unix_millis div for
    // the positive fixture epochs; IGNORE NULLS last_value is the LOCF.
    "ts_interpolate" ->
      """WITH obs AS (
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
        |FROM n""".stripMargin,

    "rel_gap_fill" ->
      """WITH obs AS (
        |  SELECT user_id % 23 AS ukey, epoch_ms(ts) // 3600000 AS bucket,
        |         max(value) AS v
        |  FROM events GROUP BY 1, 2),
        |spans AS (SELECT ukey, min(bucket) AS b0, max(bucket) AS b1
        |          FROM obs GROUP BY ukey),
        |grid AS (SELECT ukey, unnest(range(b0, b1 + 1)) AS bucket FROM spans),
        |j AS (SELECT g.ukey, g.bucket, o.v
        |      FROM grid g LEFT JOIN obs o USING (ukey, bucket))
        |SELECT ukey, bucket,
        |       last_value(v IGNORE NULLS) OVER (PARTITION BY ukey ORDER BY bucket
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled,
        |       v IS NULL AS is_gap
        |FROM j""".stripMargin,

    // Relational derivation of the same per-order scalars the map ops
    // compute: q1 via a keyed CASE max, keys_csv via ordered string_agg,
    // total via sum (exact — whole-number doubles).
    "rel_map_funcs" ->
      """WITH uniq AS (
        |  SELECT l_orderkey, l_linenumber, sum(l_quantity) AS qty
        |  FROM lineitem GROUP BY l_orderkey, l_linenumber)
        |SELECT l_orderkey,
        |       CAST(count(*) AS BIGINT) AS n_lines,
        |       max(CASE WHEN l_linenumber = 1 THEN qty END) AS q1,
        |       string_agg(CAST(l_linenumber AS VARCHAR), ',' ORDER BY l_linenumber)
        |         AS keys_csv,
        |       sum(qty) AS total_qty
        |FROM uniq GROUP BY l_orderkey""".stripMargin,

    "rel_unpivot" ->
      """WITH base AS (
        |  SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
        |         l_discount, l_tax
        |  FROM lineitem WHERE l_orderkey % 500 = 0)
        |SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value FROM base
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM base
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM base
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM base""".stripMargin,

    // Oracle is the direct BETWEEN theta-join the bucket expansion must
    // reproduce pair-for-pair; day numbers via date subtraction (DuckDB's
    // DATE - DATE = integer days = Spark datediff).
    "rel_range_join" ->
      """WITH pts AS (
        |  SELECT l_orderkey AS point_id,
        |         CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS p_day
        |  FROM lineitem WHERE l_linenumber = 1),
        |iv AS (
        |  SELECT o_orderkey AS range_id,
        |         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS lo_day,
        |         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
        |              + ((o_orderkey // 37) % 14) + 1 AS BIGINT) AS hi_day
        |  FROM orders WHERE o_orderkey % 37 = 0)
        |SELECT point_id, range_id, p_day, lo_day, hi_day
        |FROM pts JOIN iv ON p_day BETWEEN lo_day AND hi_day""".stripMargin,

    "rel_interval_overlap" ->
      """WITH promos AS (
        |  SELECT o_orderkey AS promo_id,
        |         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS p_lo,
        |         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
        |              + ((o_orderkey // 37) % 14) + 1 AS BIGINT) AS p_hi
        |  FROM orders WHERE o_orderkey % 37 = 0),
        |audits AS (
        |  SELECT o_orderkey AS audit_id,
        |         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS a_lo,
        |         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
        |              + ((o_orderkey // 41) % 10) + 2 AS BIGINT) AS a_hi
        |  FROM orders WHERE o_orderkey % 41 = 0)
        |SELECT promo_id, audit_id, p_lo, p_hi, a_lo, a_hi
        |FROM promos JOIN audits ON p_lo <= a_hi AND a_lo <= p_hi""".stripMargin,

    "rel_union" ->
      """SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000
        |UNION
        |SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'""".stripMargin,

    "rel_intersect" ->
      """SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000
        |INTERSECT
        |SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'""".stripMargin,

    "rel_except" ->
      """SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000
        |EXCEPT
        |SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'""".stripMargin,

    "rel_rollup" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, o_orderpriority,
        |       sum(o_totalprice) AS revenue, count(*) AS n_orders
        |FROM orders GROUP BY ROLLUP (1, 2)""".stripMargin,

    "rel_cube" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |       count(*) AS n_rows
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,

    "rel_pivot" ->
      """SELECT l_returnflag,
        |       CAST(sum(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
        |       CAST(sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
        |       sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS qty_open,
        |       sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS qty_filled
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "rel_having" ->
      """SELECT o_custkey, sum(o_totalprice) AS total_spent, count(*) AS n_orders
        |FROM orders GROUP BY o_custkey HAVING sum(o_totalprice) > 1500000""".stripMargin,

    "rel_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",

    "rel_asof_join" ->
      """WITH v AS (
        |  SELECT user_id, ts, max(value) AS view_value
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |p AS (
        |  SELECT event_id, user_id, ts, value
        |  FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.ts, p.value,
        |       v.ts AS asof_time, v.view_value AS asof_view_value
        |FROM p ASOF LEFT JOIN v
        |  ON p.user_id = v.user_id AND p.ts >= v.ts""".stripMargin,

    "rel_asof_forward" ->
      """WITH v AS (
        |  SELECT user_id, ts, max(value) AS signup_value
        |  FROM events WHERE event_type = 'signup' GROUP BY 1, 2),
        |p AS (
        |  SELECT event_id, user_id, ts, value
        |  FROM events WHERE event_type = 'error')
        |SELECT p.event_id, p.user_id, p.ts, p.value,
        |       v.ts AS asof_time, v.signup_value AS asof_signup_value
        |FROM p ASOF LEFT JOIN v
        |  ON p.user_id = v.user_id AND p.ts <= v.ts""".stripMargin,

    // Nearest = min(|Δt|) with ties to the backward match. The oracle
    // takes both directional extrema inclusively; at an exact-time tie
    // bt = ft = ts both forms resolve to the same right row with
    // dir = backward, so the engine's exclusive forward frame (the
    // equal-time right row rides the backward carrier) is immaterial.
    "rel_asof_nearest" ->
      """WITH v AS (
        |  SELECT user_id, ts AS rt, max(value) AS signup_value
        |  FROM events WHERE event_type = 'signup' GROUP BY 1, 2),
        |p AS (
        |  SELECT event_id, user_id, ts, value
        |  FROM events WHERE event_type = 'error'),
        |b AS (SELECT p.event_id, max(v.rt) AS bt
        |      FROM p JOIN v ON v.user_id = p.user_id AND v.rt <= p.ts
        |      GROUP BY 1),
        |f AS (SELECT p.event_id, min(v.rt) AS ft
        |      FROM p JOIN v ON v.user_id = p.user_id AND v.rt >= p.ts
        |      GROUP BY 1),
        |n AS (SELECT p.event_id, p.user_id, p.ts, p.value, b.bt, f.ft,
        |        CASE WHEN b.bt IS NOT NULL AND (f.ft IS NULL
        |               OR (p.ts - b.bt) <= (f.ft - p.ts)) THEN b.bt
        |             ELSE f.ft END AS mt
        |      FROM p LEFT JOIN b USING (event_id) LEFT JOIN f USING (event_id))
        |SELECT n.event_id, n.user_id, n.ts, n.value,
        |       n.mt AS asof_time, v.signup_value AS asof_signup_value,
        |       CASE WHEN n.mt IS NULL THEN NULL
        |            WHEN n.bt IS NOT NULL AND (n.ft IS NULL
        |              OR (n.ts - n.bt) <= (n.ft - n.ts)) THEN 'backward'
        |            ELSE 'forward' END AS asof_dir
        |FROM n LEFT JOIN v ON v.user_id = n.user_id AND v.rt = n.mt""".stripMargin,

    "rel_approx_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
        |       count(DISTINCT l_orderkey) AS exact_orders,
        |       true AS approx_within_5pct
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "rel_string_funcs" ->
      """SELECT p_partkey, upper(p_name) AS name_upper,
        |       substr(p_name, 1, 8) AS name_prefix,
        |       CAST(length(p_name) AS BIGINT) AS name_len,
        |       concat_ws('-', p_brand, p_type) AS brand_type,
        |       replace(p_name, ' ', '_') AS name_snake
        |FROM part WHERE p_type LIKE '%O%'""".stripMargin,

    "rel_date_funcs" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |       CAST(quarter(o_orderdate) AS BIGINT) AS o_quarter,
        |       count(*) AS n_orders, sum(o_totalprice) AS revenue
        |FROM orders GROUP BY 1, 2""".stripMargin,

    "rel_math_funcs" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |       abs(l_discount - 0.05) AS disc_dev,
        |       sqrt(l_quantity) AS qty_sqrt,
        |       CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
        |       CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
        |       greatest(l_tax, l_discount) AS max_rate
        |FROM lineitem""".stripMargin,

    "rel_case_when" ->
      """SELECT CASE WHEN o_totalprice < 100000 THEN 'small'
        |            WHEN o_totalprice < 300000 THEN 'medium'
        |            ELSE 'large' END AS price_band,
        |       count(*) AS n_orders, avg(o_totalprice) AS avg_price
        |FROM orders GROUP BY 1""".stripMargin,

    "dedup_exact" ->
      """SELECT md5(text) AS text_md5, min(doc_id) AS keeper_id,
        |       count(*) AS n_copies
        |FROM documents GROUP BY text""".stripMargin,

    "dedup_groups" ->
      """WITH RECURSIVE
        |s AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(0, len(w) - 2),
        |           i -> array_to_string(w[i+1:i+3], ' '))) AS sh
        |  FROM (SELECT doc_id,
        |          string_split_regex(trim(text), '\s+') AS w FROM documents)),
        |p AS (
        |  SELECT l.doc_id AS a, r.doc_id AS b
        |  FROM s l JOIN s r ON l.doc_id < r.doc_id
        |  WHERE CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE) /
        |          len(list_distinct(list_concat(l.sh, r.sh))) >= 0.5),
        |e AS (SELECT a, b FROM p UNION SELECT b, a FROM p
        |      UNION SELECT a, a FROM p UNION SELECT b, b FROM p),
        |reach(a, b) AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a)
        |SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS group_id
        |FROM reach GROUP BY a""".stripMargin,

    // Same recursive-CTE groups, then the cluster-size distribution.
    "dedup_group_stats" ->
      """WITH RECURSIVE
        |s AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(0, len(w) - 2),
        |           i -> array_to_string(w[i+1:i+3], ' '))) AS sh
        |  FROM (SELECT doc_id,
        |          string_split_regex(trim(text), '\s+') AS w FROM documents)),
        |p AS (
        |  SELECT l.doc_id AS a, r.doc_id AS b
        |  FROM s l JOIN s r ON l.doc_id < r.doc_id
        |  WHERE CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE) /
        |          len(list_distinct(list_concat(l.sh, r.sh))) >= 0.5),
        |e AS (SELECT a, b FROM p UNION SELECT b, a FROM p
        |      UNION SELECT a, a FROM p UNION SELECT b, b FROM p),
        |reach(a, b) AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
        |g AS (SELECT a AS doc_id, min(b) AS gid FROM reach GROUP BY a),
        |sz AS (SELECT gid, CAST(count(*) AS BIGINT) AS group_size
        |       FROM g GROUP BY gid)
        |SELECT group_size, CAST(count(*) AS BIGINT) AS n_groups,
        |       CAST(sum(group_size) AS BIGINT) AS n_docs
        |FROM sz GROUP BY group_size""".stripMargin,

    // Same recursive-CTE groups, then every doc weighted 1/|cluster|
    // (singletons 1) — one left join, one DOUBLE/DOUBLE division.
    "dedup_soft_weight" ->
      """WITH RECURSIVE
        |s AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(0, len(w) - 2),
        |           i -> array_to_string(w[i+1:i+3], ' '))) AS sh
        |  FROM (SELECT doc_id,
        |          string_split_regex(trim(text), '\s+') AS w FROM documents)),
        |p AS (
        |  SELECT l.doc_id AS a, r.doc_id AS b
        |  FROM s l JOIN s r ON l.doc_id < r.doc_id
        |  WHERE CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE) /
        |          len(list_distinct(list_concat(l.sh, r.sh))) >= 0.5),
        |e AS (SELECT a, b FROM p UNION SELECT b, a FROM p
        |      UNION SELECT a, a FROM p UNION SELECT b, b FROM p),
        |reach(a, b) AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
        |g AS (SELECT a AS doc_id, min(b) AS gid FROM reach GROUP BY a),
        |sz AS (SELECT gid, CAST(count(*) AS BIGINT) AS group_size
        |       FROM g GROUP BY gid),
        |m AS (SELECT g.doc_id, sz.group_size FROM g JOIN sz ON g.gid = sz.gid)
        |SELECT d.doc_id,
        |       COALESCE(m.group_size, CAST(1 AS BIGINT)) AS group_size,
        |       CAST(1.0 AS DOUBLE) /
        |         CAST(COALESCE(m.group_size, 1) AS DOUBLE) AS weight
        |FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id""".stripMargin,

    // Same recursive-CTE groups as dedup_groups, then the argmax
    // representative per group plus the anti-joined singleton pass-through.
    "dedup_keep_best" ->
      """WITH RECURSIVE
        |s AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(0, len(w) - 2),
        |           i -> array_to_string(w[i+1:i+3], ' '))) AS sh
        |  FROM (SELECT doc_id,
        |          string_split_regex(trim(text), '\s+') AS w FROM documents)),
        |p AS (
        |  SELECT l.doc_id AS a, r.doc_id AS b
        |  FROM s l JOIN s r ON l.doc_id < r.doc_id
        |  WHERE CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE) /
        |          len(list_distinct(list_concat(l.sh, r.sh))) >= 0.5),
        |e AS (SELECT a, b FROM p UNION SELECT b, a FROM p
        |      UNION SELECT a, a FROM p UNION SELECT b, b FROM p),
        |reach(a, b) AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
        |g AS (SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS group_id
        |      FROM reach GROUP BY a),
        |j AS (SELECT d.doc_id, g.group_id, d.n_chars
        |      FROM documents d JOIN g USING (doc_id)),
        |reps AS (SELECT doc_id, group_id, n_chars,
        |           CAST(count(*) OVER (PARTITION BY group_id) AS BIGINT) AS group_size,
        |           row_number() OVER (PARTITION BY group_id
        |             ORDER BY n_chars DESC, doc_id) AS rn
        |         FROM j)
        |SELECT doc_id, group_id, group_size, n_chars
        |FROM reps WHERE rn = 1
        |UNION ALL
        |SELECT d.doc_id, d.doc_id AS group_id, CAST(1 AS BIGINT) AS group_size,
        |       d.n_chars
        |FROM documents d ANTI JOIN g USING (doc_id)""".stripMargin,

    "dedup_spans" ->
      """WITH w AS (SELECT doc_id,
        |         string_split_regex(trim(text), '\s+') AS w FROM documents),
        |sp AS (SELECT doc_id, unnest(list_transform(range(0, len(w) - 7),
        |         i -> array_to_string(w[i+1:i+8], ' '))) AS span FROM w)
        |SELECT span, CAST(count(*) AS BIGINT) AS n_occurrences,
        |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM sp GROUP BY span HAVING count(DISTINCT doc_id) >= 2""".stripMargin,

    // Brute force over the pruned candidate space: windows of EVERY length
    // 32..128 from positions whose 32-window recurs (a longer repeat's
    // start is always such a position — the same pruning theorem the
    // engine uses), grouped per (length, content), then the identical
    // left/right maximality predicate the engine's divergence semantics
    // implement (doc start/end count as unextendable).
    "dedup_max_repeats" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
        |           FROM documents),
        |w0 AS (SELECT doc_id, unnest(range(0, len(tk) - 31)) AS pos, tk,
        |         len(tk) AS n FROM d WHERE len(tk) >= 32),
        |k0 AS (SELECT doc_id, pos, tk, n,
        |         md5(array_to_string(tk[pos+1:pos+32], ' ')) AS k FROM w0),
        |rep0 AS (SELECT k FROM k0 GROUP BY k HAVING count(*) >= 2),
        |p AS (SELECT k0.* FROM k0 SEMI JOIN rep0 USING (k)),
        |wins AS (SELECT doc_id, pos, tk, n,
        |           unnest(generate_series(32, least(128, n - pos))) AS l FROM p),
        |kw AS (SELECT doc_id, pos, n, l,
        |         md5(array_to_string(tk[pos+1:pos+l], ' ')) AS k,
        |         CASE WHEN pos + l < n THEN tk[pos+l+1] END AS nxt,
        |         CASE WHEN pos > 0 THEN tk[pos] END AS prv,
        |         (pos + l = n) AS at_end, (pos = 0) AS at_start
        |       FROM wins),
        |grp AS (SELECT l, k, CAST(count(*) AS BIGINT) AS n_occ,
        |          CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |          bool_or(at_end) AS r_end, count(DISTINCT nxt) AS ndn,
        |          bool_or(at_start) AS l_end, count(DISTINCT prv) AS ndp
        |        FROM kw GROUP BY l, k HAVING count(*) >= 2)
        |SELECT CAST(l AS BIGINT) AS rep_len, n_occ, n_docs, k AS span_md5
        |FROM grp WHERE (r_end OR ndn >= 2) AND (l_end OR ndp >= 2)""".stripMargin,

    "dedup_span_ratio" ->
      """WITH w AS (SELECT doc_id,
        |         string_split_regex(trim(text), '\s+') AS w FROM documents),
        |sp AS (SELECT doc_id, unnest(list_transform(range(0, len(w) - 7),
        |         i -> array_to_string(w[i+1:i+8], ' '))) AS span FROM w),
        |k AS (SELECT doc_id,
        |        CAST('0x' || substr(md5(span), 1, 15) AS BIGINT) AS h FROM sp),
        |heavy AS (SELECT h FROM (SELECT DISTINCT doc_id, h FROM k)
        |          GROUP BY h HAVING count(*) >= 2),
        |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows
        |        FROM k GROUP BY doc_id),
        |dup AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup
        |        FROM k SEMI JOIN heavy USING (h) GROUP BY doc_id)
        |SELECT t.doc_id, t.n_windows,
        |       COALESCE(d.n_dup, CAST(0 AS BIGINT)) AS n_dup,
        |       CAST(COALESCE(d.n_dup, 0) AS DOUBLE) / t.n_windows AS dup_ratio
        |FROM tot t LEFT JOIN dup d USING (doc_id)""".stripMargin,

    "dedup_span_scrub" ->
      """WITH w AS (SELECT doc_id,
        |         string_split_regex(trim(text), '\s+') AS w FROM documents),
        |wins0 AS (SELECT doc_id, w,
        |            unnest(range(0, len(w) - 7)) AS wpos FROM w),
        |wins AS (SELECT doc_id, wpos,
        |           CAST('0x' || substr(md5(array_to_string(
        |             w[wpos+1:wpos+8], ' ')), 1, 15) AS BIGINT) AS h
        |         FROM wins0),
        |heavy AS (SELECT h FROM (SELECT DISTINCT doc_id, h FROM wins)
        |          GROUP BY h HAVING count(*) >= 2),
        |cov AS (SELECT DISTINCT doc_id, wpos + d AS pos
        |        FROM (SELECT doc_id, wpos FROM wins SEMI JOIN heavy USING (h)),
        |             range(0, 8) t(d)),
        |toks AS (SELECT doc_id, generate_subscripts(w, 1) - 1 AS pos,
        |           unnest(w) AS tok FROM w),
        |kept AS (SELECT k.doc_id, k.pos, k.tok FROM toks k
        |         ANTI JOIN cov USING (doc_id, pos)),
        |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_clean,
        |          count(*) AS n_kept
        |        FROM kept GROUP BY doc_id)
        |SELECT b.doc_id, md5(coalesce(a.text_clean, '')) AS clean_md5,
        |       CAST(len(b.w) AS BIGINT) AS n_tokens,
        |       CAST(len(b.w) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed
        |FROM w b LEFT JOIN agg a USING (doc_id)""".stripMargin,

    // Keep-first variant: same window/rebuild machinery, but coverage
    // comes only from NON-first occurrences of windows recurring >= 2
    // times (multiplicity), first = min (doc_id, wpos) per window key.
    "dedup_span_keepfirst" ->
      """WITH w AS (SELECT doc_id,
        |         string_split_regex(trim(text), '\s+') AS w FROM documents),
        |wins0 AS (SELECT doc_id, w,
        |            unnest(range(0, len(w) - 7)) AS wpos FROM w),
        |wins AS (SELECT doc_id, wpos,
        |           CAST('0x' || substr(md5(array_to_string(
        |             w[wpos+1:wpos+8], ' ')), 1, 15) AS BIGINT) AS h
        |         FROM wins0),
        |occ AS (SELECT h FROM wins GROUP BY h HAVING count(*) >= 2),
        |fst AS (SELECT h, doc_id AS fdoc, wpos AS fpos FROM (
        |          SELECT h, doc_id, wpos,
        |            row_number() OVER (PARTITION BY h
        |              ORDER BY doc_id, wpos) AS rn FROM wins) WHERE rn = 1),
        |dup AS (SELECT wi.doc_id, wi.wpos
        |        FROM wins wi SEMI JOIN occ USING (h) JOIN fst USING (h)
        |        WHERE NOT (wi.doc_id = fst.fdoc AND wi.wpos = fst.fpos)),
        |cov AS (SELECT DISTINCT doc_id, wpos + d AS pos
        |        FROM dup, range(0, 8) t(d)),
        |toks AS (SELECT doc_id, generate_subscripts(w, 1) - 1 AS pos,
        |           unnest(w) AS tok FROM w),
        |kept AS (SELECT k.doc_id, k.pos, k.tok FROM toks k
        |         ANTI JOIN cov USING (doc_id, pos)),
        |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_clean,
        |          count(*) AS n_kept
        |        FROM kept GROUP BY doc_id)
        |SELECT b.doc_id, md5(coalesce(a.text_clean, '')) AS clean_md5,
        |       CAST(len(b.w) AS BIGINT) AS n_tokens,
        |       CAST(len(b.w) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed
        |FROM w b LEFT JOIN agg a USING (doc_id)""".stripMargin,

    // Maximal-granularity keep-first: the dedup_max_repeats brute-force
    // dictionary (same prune + same maximality predicates) taken to
    // per-OCCURRENCE rows, keeper = min (doc_id, pos) per (l, span),
    // coverage = every non-keeper's FULL l-token span, then the
    // standard rebuild. Independent of the engine's group-refinement
    // machinery end to end.
    "dedup_span_keepfirst_maximal" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
        |           FROM documents),
        |w0 AS (SELECT doc_id, unnest(range(0, len(tk) - 31)) AS pos, tk,
        |         len(tk) AS n FROM d WHERE len(tk) >= 32),
        |k0 AS (SELECT doc_id, pos, tk, n,
        |         md5(array_to_string(tk[pos+1:pos+32], ' ')) AS k FROM w0),
        |rep0 AS (SELECT k FROM k0 GROUP BY k HAVING count(*) >= 2),
        |p AS (SELECT k0.* FROM k0 SEMI JOIN rep0 USING (k)),
        |wins AS (SELECT doc_id, pos, tk, n,
        |           unnest(generate_series(32, least(128, n - pos))) AS l FROM p),
        |kw AS (SELECT doc_id, pos, n, l,
        |         md5(array_to_string(tk[pos+1:pos+l], ' ')) AS k,
        |         CASE WHEN pos + l < n THEN tk[pos+l+1] END AS nxt,
        |         CASE WHEN pos > 0 THEN tk[pos] END AS prv,
        |         (pos + l = n) AS at_end, (pos = 0) AS at_start
        |       FROM wins),
        |grp AS (SELECT l, k FROM kw GROUP BY l, k
        |        HAVING count(*) >= 2
        |           AND (bool_or(at_end) OR count(DISTINCT nxt) >= 2)
        |           AND (bool_or(at_start) OR count(DISTINCT prv) >= 2)),
        |occ AS (SELECT kw.doc_id, kw.pos, kw.l, kw.k
        |        FROM kw SEMI JOIN grp USING (l, k)),
        |fst AS (SELECT l, k, doc_id AS fdoc, pos AS fpos FROM (
        |          SELECT l, k, doc_id, pos, row_number() OVER (
        |            PARTITION BY l, k ORDER BY doc_id, pos) AS rn FROM occ)
        |        WHERE rn = 1),
        |cov AS (SELECT DISTINCT doc_id, pos FROM (
        |          SELECT o.doc_id, unnest(range(o.pos, o.pos + o.l)) AS pos
        |          FROM occ o JOIN fst USING (l, k)
        |          WHERE NOT (o.doc_id = fst.fdoc AND o.pos = fst.fpos))),
        |w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |      FROM documents),
        |toks AS (SELECT doc_id, generate_subscripts(w, 1) - 1 AS pos,
        |           unnest(w) AS tok FROM w),
        |kept AS (SELECT k2.doc_id, k2.pos, k2.tok FROM toks k2
        |         ANTI JOIN cov USING (doc_id, pos)),
        |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_clean,
        |          count(*) AS n_kept
        |        FROM kept GROUP BY doc_id)
        |SELECT b.doc_id, md5(coalesce(a.text_clean, '')) AS clean_md5,
        |       CAST(len(b.w) AS BIGINT) AS n_tokens,
        |       CAST(len(b.w) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed
        |FROM w b LEFT JOIN agg a USING (doc_id)""".stripMargin,

    "dedup_ngram_jaccard" ->
      """WITH s AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(0, len(w) - 2),
        |           i -> array_to_string(w[i+1:i+3], ' '))) AS sh
        |  FROM (SELECT doc_id,
        |          string_split_regex(trim(text), '\s+') AS w FROM documents))
        |SELECT l.doc_id AS left_id, r.doc_id AS right_id,
        |       CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE) /
        |         len(list_distinct(list_concat(l.sh, r.sh))) AS jaccard
        |FROM s l JOIN s r ON l.doc_id < r.doc_id
        |WHERE CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE) /
        |        len(list_distinct(list_concat(l.sh, r.sh))) >= 0.5""".stripMargin,

    "ann_cosine_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 8),
        |p AS (SELECT qid, e.vec_id AS nid,
        |        list_reduce(list_transform(range(0, len(qv)), i -> e.v[i+1] * qv[i+1]), (x,y) -> x + y) /
        |        (sqrt(list_reduce(list_transform(range(0, len(qv)), i -> e.v[i+1] * e.v[i+1]), (x,y) -> x + y)) *
        |         sqrt(list_reduce(list_transform(range(0, len(qv)), i -> qv[i+1] * qv[i+1]), (x,y) -> x + y))) AS sim
        |      FROM q, e WHERE e.vec_id <> qid)
        |SELECT qid AS query_id, nid AS neighbor_id, CAST(rnk AS INT) AS rank, sim
        |FROM (SELECT qid, nid, sim, row_number() OVER (PARTITION BY qid
        |        ORDER BY sim DESC, nid) AS rnk FROM p)
        |WHERE rnk <= 10""".stripMargin,

    // Unrolled greedy MMR over the replayed cosine retrieval (generator
    // above; λ/μ as exact decimal expansions of the Spark doubles).
    "ann_mmr_rerank" -> mmrOracleSql(candK = 32, k = 8, lambda = 0.7,
      mu = 0.3),

    // Bitext mining replayed: the ann_cosine_topk cosine over the
    // even x odd halves, both directions' top-4 ranks, neighborhood
    // averages folded in rank order (list_reduce over list(sim ORDER BY
    // rk) — IEEE-identical to the engine's 0.0-seeded rank-order fold),
    // the same margin tree, mutual-best filter.
    "ann_bitext_margin" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |s AS (SELECT vec_id AS sid, v AS sv FROM e WHERE vec_id % 2 = 0),
        |tg AS (SELECT vec_id AS tid, v AS tv FROM e WHERE vec_id % 2 = 1),
        |p AS (SELECT sid, tid,
        |        list_reduce(list_transform(range(0, len(sv)), i -> sv[i+1] * tv[i+1]), (x,y) -> x + y) /
        |        (sqrt(list_reduce(list_transform(range(0, len(sv)), i -> sv[i+1] * sv[i+1]), (x,y) -> x + y)) *
        |         sqrt(list_reduce(list_transform(range(0, len(sv)), i -> tv[i+1] * tv[i+1]), (x,y) -> x + y))) AS sim
        |      FROM s, tg),
        |fr AS (SELECT sid, tid, sim, row_number() OVER (PARTITION BY sid
        |         ORDER BY sim DESC, tid) AS rk FROM p),
        |br AS (SELECT sid, tid, sim, row_number() OVER (PARTITION BY tid
        |         ORDER BY sim DESC, sid) AS rk FROM p),
        |af AS (SELECT sid, list_reduce(list(sim ORDER BY rk), (x,y) -> x + y)
        |         / count(*) AS a FROM fr WHERE rk <= 4 GROUP BY sid),
        |ab AS (SELECT tid, list_reduce(list(sim ORDER BY rk), (x,y) -> x + y)
        |         / count(*) AS b FROM br WHERE rk <= 4 GROUP BY tid),
        |cand AS (SELECT sid, tid, sim FROM fr WHERE rk <= 4
        |         UNION
        |         SELECT sid, tid, sim FROM br WHERE rk <= 4),
        |m AS (SELECT cand.sid, cand.tid, cand.sim,
        |             cand.sim / ((af.a + ab.b) / 2.0) AS margin
        |      FROM cand JOIN af ON af.sid = cand.sid
        |                JOIN ab ON ab.tid = cand.tid),
        |r AS (SELECT sid, tid, sim, margin,
        |        row_number() OVER (PARTITION BY sid ORDER BY margin DESC, tid) AS k1,
        |        row_number() OVER (PARTITION BY tid ORDER BY margin DESC, sid) AS k2
        |      FROM m)
        |SELECT sid AS src_id, tid AS tgt_id, sim, margin
        |FROM r WHERE k1 = 1 AND k2 = 1""".stripMargin,

    // The exact miner's pair count replayed (same CTE chain); the
    // containment flag is the engine's assertion, literal true here —
    // an IVF recall collapse flips the engine's flag and reds the row.
    "ann_bitext_ivf" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |s AS (SELECT vec_id AS sid, v AS sv FROM e WHERE vec_id % 2 = 0),
        |tg AS (SELECT vec_id AS tid, v AS tv FROM e WHERE vec_id % 2 = 1),
        |p AS (SELECT sid, tid,
        |        list_reduce(list_transform(range(0, len(sv)), i -> sv[i+1] * tv[i+1]), (x,y) -> x + y) /
        |        (sqrt(list_reduce(list_transform(range(0, len(sv)), i -> sv[i+1] * sv[i+1]), (x,y) -> x + y)) *
        |         sqrt(list_reduce(list_transform(range(0, len(sv)), i -> tv[i+1] * tv[i+1]), (x,y) -> x + y))) AS sim
        |      FROM s, tg),
        |fr AS (SELECT sid, tid, sim, row_number() OVER (PARTITION BY sid
        |         ORDER BY sim DESC, tid) AS rk FROM p),
        |br AS (SELECT sid, tid, sim, row_number() OVER (PARTITION BY tid
        |         ORDER BY sim DESC, sid) AS rk FROM p),
        |af AS (SELECT sid, list_reduce(list(sim ORDER BY rk), (x,y) -> x + y)
        |         / count(*) AS a FROM fr WHERE rk <= 4 GROUP BY sid),
        |ab AS (SELECT tid, list_reduce(list(sim ORDER BY rk), (x,y) -> x + y)
        |         / count(*) AS b FROM br WHERE rk <= 4 GROUP BY tid),
        |cand AS (SELECT sid, tid, sim FROM fr WHERE rk <= 4
        |         UNION
        |         SELECT sid, tid, sim FROM br WHERE rk <= 4),
        |m AS (SELECT cand.sid, cand.tid, cand.sim,
        |             cand.sim / ((af.a + ab.b) / 2.0) AS margin
        |      FROM cand JOIN af ON af.sid = cand.sid
        |                JOIN ab ON ab.tid = cand.tid),
        |r AS (SELECT sid, tid, sim, margin,
        |        row_number() OVER (PARTITION BY sid ORDER BY margin DESC, tid) AS k1,
        |        row_number() OVER (PARTITION BY tid ORDER BY margin DESC, sid) AS k2
        |      FROM m)
        |SELECT CAST(count(*) AS BIGINT) AS n_exact, true AS bitext_ok
        |FROM r WHERE k1 = 1 AND k2 = 1""".stripMargin,

    // Both source rankings replayed (scaled-idf overlap; the
    // ann_cosine_topk cosine), then the same two-division RRF fold.
    "ann_hybrid_rrf" ->
      """WITH tok AS (SELECT doc_id,
        |        unnest(list_distinct(string_split_regex(trim(text), '\s+'))) AS term
        |      FROM documents),
        |n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM tok),
        |idf AS (SELECT term, CAST(round(ln(1.0 +
        |          (n.n_docs - CAST(count(*) AS DOUBLE) + 0.5) /
        |          (CAST(count(*) AS DOUBLE) + 0.5)) * 1000000) AS BIGINT) AS idfs
        |        FROM tok, n GROUP BY term, n.n_docs),
        |qt AS (SELECT doc_id AS qid, term FROM tok WHERE doc_id < 8),
        |lexsc AS (SELECT qt.qid, tok.doc_id AS nid, sum(idf.idfs) AS s
        |          FROM qt JOIN tok ON qt.term = tok.term
        |                  JOIN idf ON idf.term = qt.term
        |          WHERE tok.doc_id <> qt.qid GROUP BY 1, 2),
        |lex AS (SELECT qid, nid, ra FROM (
        |          SELECT qid, nid, CAST(row_number() OVER (
        |            PARTITION BY qid ORDER BY s DESC, nid) AS INT) AS ra
        |          FROM lexsc) WHERE ra <= 50),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 8),
        |p AS (SELECT qid, e.vec_id AS nid,
        |        list_reduce(list_transform(range(0, len(qv)), i -> e.v[i+1] * qv[i+1]), (x,y) -> x + y) /
        |        (sqrt(list_reduce(list_transform(range(0, len(qv)), i -> e.v[i+1] * e.v[i+1]), (x,y) -> x + y)) *
        |         sqrt(list_reduce(list_transform(range(0, len(qv)), i -> qv[i+1] * qv[i+1]), (x,y) -> x + y))) AS sim
        |      FROM q, e WHERE e.vec_id <> qid),
        |vec AS (SELECT qid, nid, rb FROM (
        |          SELECT qid, nid, CAST(row_number() OVER (
        |            PARTITION BY qid ORDER BY sim DESC, nid) AS INT) AS rb
        |          FROM p) WHERE rb <= 50),
        |f AS (SELECT coalesce(l.qid, v.qid) AS query_id,
        |        coalesce(l.nid, v.nid) AS neighbor_id,
        |        coalesce(l.ra, 0) AS rank_a, coalesce(v.rb, 0) AS rank_b,
        |        coalesce(CAST(1 AS DOUBLE) / (60 + l.ra), CAST(0 AS DOUBLE)) +
        |        coalesce(CAST(1 AS DOUBLE) / (60 + v.rb), CAST(0 AS DOUBLE)) AS rrf
        |      FROM lex l FULL JOIN vec v ON l.qid = v.qid AND l.nid = v.nid)
        |SELECT query_id, neighbor_id, rank_a, rank_b, rrf,
        |       CAST(fr AS INT) AS fused_rank
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY rrf DESC, neighbor_id) AS fr FROM f)
        |WHERE fr <= 10""".stripMargin,

    // Same cosine expression and (sim DESC, nid) tie-break as
    // ann_cosine_topk; first relevant = min rank among same-label rows
    // within the top 20.
    "ann_mrr" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv, label AS qlabel FROM e WHERE vec_id < 8),
        |p AS (SELECT qid, qlabel, e.vec_id AS nid, e.label AS nlabel,
        |        list_reduce(list_transform(range(0, len(qv)), i -> e.v[i+1] * qv[i+1]), (x,y) -> x + y) /
        |        (sqrt(list_reduce(list_transform(range(0, len(qv)), i -> e.v[i+1] * e.v[i+1]), (x,y) -> x + y)) *
        |         sqrt(list_reduce(list_transform(range(0, len(qv)), i -> qv[i+1] * qv[i+1]), (x,y) -> x + y))) AS sim
        |      FROM q, e WHERE e.vec_id <> qid),
        |r AS (SELECT qid, qlabel, nid, nlabel,
        |        row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk
        |      FROM p),
        |f AS (SELECT qid, min(rnk) AS frank
        |      FROM r WHERE nlabel = qlabel AND rnk <= 20 GROUP BY qid)
        |SELECT q.qid AS query_id, q.qlabel AS label,
        |       CAST(coalesce(f.frank, 0) AS BIGINT) AS first_rel_rank,
        |       CASE WHEN f.frank IS NULL THEN 0.0 ELSE 1.0 / f.frank END AS rr
        |FROM q LEFT JOIN f ON q.qid = f.qid""".stripMargin,

    // Same ranked CTE chain as ann_mrr; binary gains, decimal-summed
    // DCG/IDCG, one division.
    "ann_ndcg" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv, label AS qlabel FROM e WHERE vec_id < 8),
        |p AS (SELECT qid, qlabel, e.vec_id AS nid, e.label AS nlabel,
        |        list_reduce(list_transform(range(0, len(qv)), i -> e.v[i+1] * qv[i+1]), (x,y) -> x + y) /
        |        (sqrt(list_reduce(list_transform(range(0, len(qv)), i -> e.v[i+1] * e.v[i+1]), (x,y) -> x + y)) *
        |         sqrt(list_reduce(list_transform(range(0, len(qv)), i -> qv[i+1] * qv[i+1]), (x,y) -> x + y))) AS sim
        |      FROM q, e WHERE e.vec_id <> qid),
        |r AS (SELECT qid, qlabel, nid, nlabel,
        |        row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk
        |      FROM p),
        |g AS (SELECT qid, qlabel, rnk,
        |        CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END AS gain
        |      FROM r WHERE rnk <= 20),
        |i AS (SELECT qid, qlabel, rnk, gain,
        |        row_number() OVER (PARTITION BY qid ORDER BY gain DESC, rnk) AS irnk
        |      FROM g),
        |a AS (SELECT qid, qlabel, CAST(sum(gain) AS BIGINT) AS n_rel,
        |        sum(CAST(CAST(gain AS DOUBLE) / log2(rnk + 1) AS DECIMAL(28,18))) AS dcg,
        |        sum(CAST(CAST(gain AS DOUBLE) / log2(irnk + 1) AS DECIMAL(28,18))) AS idcg
        |      FROM i GROUP BY qid, qlabel)
        |SELECT qid AS query_id, qlabel AS label, n_rel,
        |       CASE WHEN idcg = 0 THEN 0.0
        |            ELSE CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE) END AS ndcg
        |FROM a""".stripMargin,

    "ann_mean_pool" ->
      """WITH x AS (SELECT vec_id % 4 AS grp, i AS pos,
        |    CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE) AS v
        |  FROM embeddings, unnest(range(0, len(embedding))) AS u(i))
        |SELECT grp, CAST(pos AS BIGINT) AS pos, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(v AS DECIMAL(30,15))) AS DOUBLE) / count(*) AS mean
        |FROM x GROUP BY grp, pos""".stripMargin,

    // Quantized twin: q_i = round(v_i / (max|v|/127)) — integer-valued
    // doubles, so the dot folds are exact and the ranking reproduces
    // bit-for-bit. DuckDB round() = half away from zero = the engine's.
    // All-pairs eps-join (the oracle may brute-force; the engine may not)
    // + recursive closure over core-core adjacency; border = min adjacent
    // core cluster; noise = -1.
    "ann_dbscan" ->
      """WITH RECURSIVE p AS (
        |  SELECT vec_id AS id, CAST(round(embedding[1]::DOUBLE * 1000) AS BIGINT) AS x,
        |         CAST(round(embedding[2]::DOUBLE * 1000) AS BIGINT) AS y
        |  FROM embeddings),
        |pr AS MATERIALIZED (
        |  SELECT a.id AS ia, b.id AS ib FROM p a JOIN p b
        |  ON (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 900),
        |core AS MATERIALIZED (SELECT ia AS id FROM pr GROUP BY ia HAVING count(*) >= 4),
        |ce AS MATERIALIZED (
        |  SELECT pr.ia AS src, pr.ib AS dst FROM pr
        |  SEMI JOIN core ca ON pr.ia = ca.id
        |  SEMI JOIN core cb ON pr.ib = cb.id
        |  WHERE pr.ia <> pr.ib),
        |reach AS (
        |  SELECT id AS node, id AS r FROM core
        |  UNION
        |  SELECT s.src AS node, pp.r AS r FROM ce s JOIN reach pp ON s.dst = pp.node),
        |cl AS (SELECT node AS id, min(r) AS cluster FROM reach GROUP BY node),
        |bd AS (SELECT pr.ia AS id, min(cl.cluster) AS cluster FROM pr
        |       JOIN cl ON pr.ib = cl.id
        |       ANTI JOIN core ON pr.ia = core.id
        |       WHERE pr.ia <> pr.ib GROUP BY pr.ia)
        |SELECT p.id AS vec_id, p.x, p.y,
        |       CASE WHEN cl.id IS NOT NULL THEN 'core'
        |            WHEN bd.id IS NOT NULL THEN 'border'
        |            ELSE 'noise' END AS kind,
        |       coalesce(cl.cluster, bd.cluster, -1) AS cluster
        |FROM p LEFT JOIN cl ON p.id = cl.id LEFT JOIN bd ON p.id = bd.id""".stripMargin,

    "ann_quantized_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |s AS (SELECT vec_id, v,
        |        list_max(list_transform(v, x -> abs(x))) / 127 AS sc FROM e),
        |z AS (SELECT vec_id,
        |        CASE WHEN sc = 0 THEN list_transform(v, x -> 0.0)
        |             ELSE list_transform(v, x -> round(x / sc)) END AS qv FROM s),
        |q AS (SELECT vec_id AS qid, qv AS qqv FROM z WHERE vec_id < 8),
        |p AS (SELECT qid, z.vec_id AS nid,
        |        list_reduce(list_transform(range(0, len(qqv)), i -> z.qv[i+1] * qqv[i+1]), (x,y) -> x + y) /
        |        (sqrt(list_reduce(list_transform(range(0, len(qqv)), i -> z.qv[i+1] * z.qv[i+1]), (x,y) -> x + y)) *
        |         sqrt(list_reduce(list_transform(range(0, len(qqv)), i -> qqv[i+1] * qqv[i+1]), (x,y) -> x + y))) AS qsim
        |      FROM q, z WHERE z.vec_id <> qid)
        |SELECT qid AS query_id, nid AS neighbor_id, CAST(rnk AS INT) AS rank, qsim
        |FROM (SELECT qid, nid, qsim, row_number() OVER (PARTITION BY qid
        |        ORDER BY qsim DESC, nid) AS rnk FROM p)
        |WHERE rnk <= 10""".stripMargin,

    "dedup_fuzzy_lev" -> dedupFuzzyLevOracleSql,

    "ann_lsh_topk" -> lshOracleSql,

    "dedup_embedding_lsh" -> embeddingLshOracleSql,

    "ann_ivf_recall" ->
      "SELECT vec_id AS query_id, true AS recall_ok FROM embeddings WHERE vec_id < 8",

    "ann_mmr_ivf" ->
      "SELECT vec_id AS query_id, true AS mmr_ok FROM embeddings WHERE vec_id < 8",

    "ann_nndescent_recall" ->
      "SELECT vec_id AS query_id, true AS recall_ok FROM embeddings WHERE vec_id < 8",

    "ann_ivf_planted" -> ivfPlantedOracleSql,

    "ann_nndescent_planted" -> nnDescentPlantedOracleSql,

    "mm_tar_shards" -> mmTarShardsOracleSql,

    // Ground truth straight from the source rows — the oracle never sees
    // the archives the engine wrote and re-sliced.
    "src_tar_roundtrip" ->
      """SELECT doc_id AS media_id,
        |       CAST(16 + octet_length(text::BLOB) AS BIGINT) AS size,
        |       md5(upper(md5(text)) || hex(text)) AS payload_hex_md5
        |FROM documents""".stripMargin,

    // Same ranked chain as ann_mrr with the different-label filter.
    "ann_hard_negatives" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv, label AS qlabel FROM e WHERE vec_id < 8),
        |p AS (SELECT qid, qlabel, e.vec_id AS nid,
        |        list_reduce(list_transform(range(0, len(qv)), i -> e.v[i+1] * qv[i+1]), (x,y) -> x + y) /
        |        (sqrt(list_reduce(list_transform(range(0, len(qv)), i -> e.v[i+1] * e.v[i+1]), (x,y) -> x + y)) *
        |         sqrt(list_reduce(list_transform(range(0, len(qv)), i -> qv[i+1] * qv[i+1]), (x,y) -> x + y))) AS sim
        |      FROM q, e WHERE e.vec_id <> qid AND e.label <> qlabel)
        |SELECT qid AS query_id, qlabel AS query_label, nid AS neighbor_id,
        |       CAST(rnk AS INT) AS rank, sim
        |FROM (SELECT qid, qlabel, nid, sim, row_number() OVER (PARTITION BY qid
        |        ORDER BY sim DESC, nid) AS rnk FROM p)
        |WHERE rnk <= 10""".stripMargin,

    // Both rankings exact (full-dim vs 16-dim prefix), per-query overlap.
    "ann_truncated_recall" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 8),
        |pf AS (SELECT qid, e.vec_id AS nid,
        |        list_reduce(list_transform(range(0, len(qv)), i -> e.v[i+1] * qv[i+1]), (x,y) -> x + y) /
        |        (sqrt(list_reduce(list_transform(range(0, len(qv)), i -> e.v[i+1] * e.v[i+1]), (x,y) -> x + y)) *
        |         sqrt(list_reduce(list_transform(range(0, len(qv)), i -> qv[i+1] * qv[i+1]), (x,y) -> x + y))) AS sim
        |      FROM q, e WHERE e.vec_id <> qid),
        |rf AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid
        |         ORDER BY sim DESC, nid) AS rnk FROM pf),
        |et AS (SELECT vec_id, v[1:16] AS v FROM e),
        |qt AS (SELECT vec_id AS qid, v AS qv FROM et WHERE vec_id < 8),
        |pt AS (SELECT qid, et.vec_id AS nid,
        |        list_reduce(list_transform(range(0, len(qv)), i -> et.v[i+1] * qv[i+1]), (x,y) -> x + y) /
        |        (sqrt(list_reduce(list_transform(range(0, len(qv)), i -> et.v[i+1] * et.v[i+1]), (x,y) -> x + y)) *
        |         sqrt(list_reduce(list_transform(range(0, len(qv)), i -> qv[i+1] * qv[i+1]), (x,y) -> x + y))) AS sim
        |      FROM qt, et WHERE et.vec_id <> qid),
        |rt AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid
        |         ORDER BY sim DESC, nid) AS rnk FROM pt)
        |SELECT rf.qid AS query_id,
        |       CAST(count(rt.nid) AS BIGINT) AS n_hits
        |FROM (SELECT qid, nid FROM rf WHERE rnk <= 10) rf
        |LEFT JOIN (SELECT qid, nid FROM rt WHERE rnk <= 10) rt
        |  ON rf.qid = rt.qid AND rf.nid = rt.nid
        |GROUP BY rf.qid""".stripMargin,

    "ann_kmeans" -> kmeansOracleSql(2),
    "sample_kcenter" -> kCenterOracleSql(6),
    // Same clustering CTE chain; per-(cid,pos) half-sums are exact
    // integers, the Σd² fold-order wobble is absorbed by round(,6).
    "ann_centroid_drift" ->
      s"""${kmeansCtes(2)},
         |px AS (SELECT cid, vec_id % 2 = 0 AS even, i AS pos,
         |         qv[CAST(i+1 AS INT)] AS val
         |       FROM s3, unnest(range(0, len(qv))) AS u(i)),
         |ag AS (SELECT cid, pos,
         |         sum(CASE WHEN even THEN val END) AS se,
         |         count(CASE WHEN even THEN 1 END) AS ne,
         |         sum(CASE WHEN NOT even THEN val END) AS so,
         |         count(CASE WHEN NOT even THEN 1 END) AS no
         |       FROM px GROUP BY cid, pos)
         |SELECT cid, CAST(max(ne) AS BIGINT) AS n_even,
         |       CAST(max(no) AS BIGINT) AS n_odd,
         |       round(sum((se/ne - so/no) * (se/ne - so/no)), 6) AS drift2
         |FROM ag WHERE ne > 0 AND no > 0 GROUP BY cid""".stripMargin,
    "dedup_semantic" -> semanticDedupOracleSql(2, 3, 10),
    "ann_silhouette" -> silhouetteOracleSql(2),
    "ann_pca_power" -> pcaPowerOracleSql(2),
    "ann_whiten" -> whitenOracleSql(2),

    // Raw-vector cosine (the knn-label formula), thresholded not ranked.
    "ann_range_search" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 8),
        |p AS (SELECT qid, e.vec_id AS nid,
        |        list_reduce(list_transform(range(0, len(qv)), i -> e.v[i+1] * qv[i+1]), (x,y) -> x + y) /
        |        (sqrt(list_reduce(list_transform(range(0, len(qv)), i -> e.v[i+1] * e.v[i+1]), (x,y) -> x + y)) *
        |         sqrt(list_reduce(list_transform(range(0, len(qv)), i -> qv[i+1] * qv[i+1]), (x,y) -> x + y))) AS sim
        |      FROM q, e WHERE e.vec_id <> qid)
        |SELECT qid AS query_id, nid AS neighbor_id, sim
        |FROM p WHERE sim >= 0.2""".stripMargin,

    // The full IVF-PQ replay: coarse 1-round Lloyd cells + top-2 routing
    // + the PQ chain + cell-restricted ADC.
    "ann_ivfpq_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |s0 AS (SELECT vec_id,
        |        CASE WHEN list_max(list_transform(v, x -> abs(x))) = 0
        |             THEN list_transform(v, x -> 0.0)
        |             ELSE list_transform(v, x -> round(x / (list_max(list_transform(v, y -> abs(y))) / 127))) END AS qv
        |      FROM e),
        |-- coarse: 1-round Lloyd over full qv, K=4 cells
        |cc0 AS (SELECT vec_id AS cid, qv AS cv FROM s0 WHERE vec_id < 4),
        |ca1 AS (SELECT vec_id, qv, cid, row_number() OVER (PARTITION BY vec_id ORDER BY
        |         list_reduce(list_transform(range(0, len(qv)), i -> (qv[i+1]-cv[i+1])*(qv[i+1]-cv[i+1])), (x,y) -> x+y), cid) AS rk
        |       FROM s0, cc0),
        |cs1 AS (SELECT vec_id, qv, cid FROM ca1 WHERE rk = 1),
        |cx1 AS (SELECT cid, i AS pos, qv[CAST(i+1 AS INT)] AS val FROM cs1, unnest(range(0, len(qv))) AS u(i)),
        |cm1 AS (SELECT cid, pos, round(avg(val)) + 0.0 AS cval FROM cx1 GROUP BY cid, pos),
        |cc1 AS (SELECT cid, list(cval ORDER BY pos) AS cv FROM cm1 GROUP BY cid),
        |ca2 AS (SELECT vec_id, qv, cid, row_number() OVER (PARTITION BY vec_id ORDER BY
        |         list_reduce(list_transform(range(0, len(qv)), i -> (qv[i+1]-cv[i+1])*(qv[i+1]-cv[i+1])), (x,y) -> x+y), cid) AS rk
        |       FROM s0, cc1),
        |cellof AS (SELECT vec_id, cid AS cell FROM ca2 WHERE rk = 1),
        |-- query routing: top-2 cells
        |route AS (SELECT vec_id AS query_id, cid AS cell FROM ca2 WHERE rk <= 2 AND vec_id < 8),
        |-- PQ: 4x16 subspaces, 1 round
        |subs AS (SELECT vec_id, i AS sub, qv[CAST(i*16+1 AS INT):CAST((i+1)*16 AS INT)] AS sqv
        |         FROM s0, unnest(range(0, 4)) AS u(i)),
        |c0 AS (SELECT sub, vec_id AS cid, sqv AS cv FROM subs WHERE vec_id < 16),
        |a1 AS (SELECT vec_id, subs.sub AS sub, sqv, cid, row_number() OVER (PARTITION BY vec_id, subs.sub ORDER BY
        |         list_reduce(list_transform(range(0, len(sqv)), i -> (sqv[i+1]-cv[i+1])*(sqv[i+1]-cv[i+1])), (x,y) -> x+y), cid) AS rk
        |       FROM subs JOIN c0 ON subs.sub = c0.sub),
        |s1 AS (SELECT vec_id, sub, sqv, cid FROM a1 WHERE rk = 1),
        |x1 AS (SELECT sub, cid, i AS pos, sqv[CAST(i+1 AS INT)] AS val FROM s1, unnest(range(0, len(sqv))) AS u(i)),
        |m1 AS (SELECT sub, cid, pos, round(avg(val)) + 0.0 AS cval FROM x1 GROUP BY sub, cid, pos),
        |c1 AS (SELECT sub, cid, list(cval ORDER BY pos) AS cv FROM m1 GROUP BY sub, cid),
        |a2 AS (SELECT vec_id, subs.sub AS sub, sqv, cid, row_number() OVER (PARTITION BY vec_id, subs.sub ORDER BY
        |         list_reduce(list_transform(range(0, len(sqv)), i -> (sqv[i+1]-cv[i+1])*(sqv[i+1]-cv[i+1])), (x,y) -> x+y), cid) AS rk
        |       FROM subs JOIN c1 ON subs.sub = c1.sub),
        |codes AS (SELECT vec_id, sub, cid FROM a2 WHERE rk = 1),
        |qs AS (SELECT vec_id AS query_id, sub, sqv FROM subs WHERE vec_id < 8),
        |dt AS (SELECT query_id, c1.sub AS sub, cid,
        |         list_reduce(list_transform(range(0, len(sqv)), i -> (sqv[i+1]-cv[i+1])*(sqv[i+1]-cv[i+1])), (x,y) -> x+y) AS d
        |       FROM qs JOIN c1 ON qs.sub = c1.sub),
        |adc AS (SELECT dt.query_id, codes.vec_id AS neighbor_id, CAST(sum(d) AS BIGINT) AS adist
        |        FROM codes JOIN dt ON codes.sub = dt.sub AND codes.cid = dt.cid
        |        JOIN cellof ON cellof.vec_id = codes.vec_id
        |        JOIN route ON route.query_id = dt.query_id AND route.cell = cellof.cell
        |        WHERE codes.vec_id <> dt.query_id
        |        GROUP BY dt.query_id, codes.vec_id)
        |SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rank, adist
        |FROM (SELECT query_id, neighbor_id, adist,
        |        row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rnk FROM adc)
        |WHERE rnk <= 10""".stripMargin,

    // PQ replayed exactly: same quantization, per-subspace 1-round
    // Lloyd (keys carry `sub`), codes from the updated codebooks, ADC
    // sum of table distances, (adist, id) rank.
    "ann_pq_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |s0 AS (SELECT vec_id,
        |        CASE WHEN list_max(list_transform(v, x -> abs(x))) = 0
        |             THEN list_transform(v, x -> 0.0)
        |             ELSE list_transform(v, x -> round(x / (list_max(list_transform(v, y -> abs(y))) / 127))) END AS qv
        |      FROM e),
        |subs AS (SELECT vec_id, i AS sub, qv[CAST(i*16+1 AS INT):CAST((i+1)*16 AS INT)] AS sqv
        |         FROM s0, unnest(range(0, 4)) AS u(i)),
        |c0 AS (SELECT sub, vec_id AS cid, sqv AS cv FROM subs WHERE vec_id < 16),
        |a1 AS (SELECT vec_id, subs.sub AS sub, sqv, cid, row_number() OVER (PARTITION BY vec_id, subs.sub ORDER BY
        |         list_reduce(list_transform(range(0, len(sqv)), i -> (sqv[i+1]-cv[i+1])*(sqv[i+1]-cv[i+1])), (x,y) -> x+y), cid) AS rk
        |       FROM subs JOIN c0 ON subs.sub = c0.sub),
        |s1 AS (SELECT vec_id, sub, sqv, cid FROM a1 WHERE rk = 1),
        |x1 AS (SELECT sub, cid, i AS pos, sqv[CAST(i+1 AS INT)] AS val FROM s1, unnest(range(0, len(sqv))) AS u(i)),
        |m1 AS (SELECT sub, cid, pos, round(avg(val)) + 0.0 AS cval FROM x1 GROUP BY sub, cid, pos),
        |c1 AS (SELECT sub, cid, list(cval ORDER BY pos) AS cv FROM m1 GROUP BY sub, cid),
        |a2 AS (SELECT vec_id, subs.sub AS sub, sqv, cid, row_number() OVER (PARTITION BY vec_id, subs.sub ORDER BY
        |         list_reduce(list_transform(range(0, len(sqv)), i -> (sqv[i+1]-cv[i+1])*(sqv[i+1]-cv[i+1])), (x,y) -> x+y), cid) AS rk
        |       FROM subs JOIN c1 ON subs.sub = c1.sub),
        |codes AS (SELECT vec_id, sub, cid FROM a2 WHERE rk = 1),
        |qs AS (SELECT vec_id AS query_id, sub, sqv FROM subs WHERE vec_id < 8),
        |dt AS (SELECT query_id, c1.sub AS sub, cid,
        |         list_reduce(list_transform(range(0, len(sqv)), i -> (sqv[i+1]-cv[i+1])*(sqv[i+1]-cv[i+1])), (x,y) -> x+y) AS d
        |       FROM qs JOIN c1 ON qs.sub = c1.sub),
        |adc AS (SELECT query_id, codes.vec_id AS neighbor_id, CAST(sum(d) AS BIGINT) AS adist
        |        FROM codes JOIN dt ON codes.sub = dt.sub AND codes.cid = dt.cid
        |        WHERE codes.vec_id <> query_id
        |        GROUP BY query_id, codes.vec_id)
        |SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rank, adist
        |FROM (SELECT query_id, neighbor_id, adist,
        |        row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rnk FROM adc)
        |WHERE rnk <= 10""".stripMargin,

    "dedup_minhash_md5" -> minhashMd5OracleSql,

    "text_normalize" ->
      """SELECT doc_id,
        |       md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS norm_md5,
        |       CAST(length(text) AS BIGINT) AS len_before,
        |       CAST(length(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS BIGINT) AS len_after
        |FROM documents""".stripMargin,

    // Same distinct-3-gram md5 keys as the decon oracle (n=3: len−2
    // windows), df-capped, then ordered-pair containment.
    // Same prefix scheme relationally over the 3-shingle sets: df order
    // (the oracle's token order differs from the engine's hashed one —
    // ANY total order generates every qualifying pair, and only verified
    // pairs leave), prefix equi-join, exact list-op Jaccard (string
    // sets — the engine's 64-bit hash counts equal them, the ngram
    // convention).
    "dedup_prefix_filter" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |      FROM documents),
        |ng AS (SELECT doc_id,
        |        unnest(list_distinct(list_transform(
        |          range(0, greatest(len(toks) - 2, 0)),
        |          i -> array_to_string(toks[CAST(i + 1 AS INT):CAST(i + 3 AS INT)], ' '))))
        |          AS tok
        |      FROM tk),
        |dfq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM ng GROUP BY tok),
        |szs AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM ng GROUP BY doc_id),
        |r AS (SELECT ng.doc_id, ng.tok, szs.sz,
        |        row_number() OVER (PARTITION BY ng.doc_id
        |          ORDER BY dfq.df, ng.tok) AS rnk
        |      FROM ng JOIN dfq USING (tok) JOIN szs USING (doc_id)),
        |p AS (SELECT doc_id, tok FROM r
        |      WHERE rnk <= sz - CAST(ceil(0.5 * sz) AS BIGINT) + 1),
        |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        |         FROM p a JOIN p b ON a.tok = b.tok AND a.doc_id < b.doc_id),
        |s AS (SELECT doc_id,
        |        list_distinct(list_transform(
        |          range(0, greatest(len(toks) - 2, 0)),
        |          i -> array_to_string(toks[CAST(i + 1 AS INT):CAST(i + 3 AS INT)], ' ')))
        |          AS ts
        |      FROM tk),
        |j AS (SELECT da AS doc_a, db AS doc_b,
        |        CAST(len(list_intersect(sa.ts, sb.ts)) AS DOUBLE) /
        |        (len(sa.ts) + len(sb.ts) - len(list_intersect(sa.ts, sb.ts)))
        |          AS jaccard
        |      FROM cand
        |      JOIN s sa ON cand.da = sa.doc_id
        |      JOIN s sb ON cand.db = sb.doc_id)
        |SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.5""".stripMargin,

    "dedup_containment" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |ngl AS (SELECT doc_id,
        |    unnest(list_distinct(list_transform(range(0, greatest(len(toks) - 2, 0)),
        |      i -> array_to_string(toks[CAST(i + 1 AS INT):CAST(i + 3 AS INT)], ' ')))) AS g
        |  FROM tk),
        |ng AS (SELECT doc_id, md5(g) AS k FROM ngl),
        |keep AS (SELECT k FROM ng GROUP BY k HAVING count(*) <= 50),
        |inf AS (SELECT ng.doc_id, ng.k FROM ng JOIN keep USING (k)),
        |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_a FROM inf GROUP BY doc_id),
        |sh AS (SELECT i1.doc_id AS a, i2.doc_id AS b, CAST(count(*) AS BIGINT) AS n_shared
        |       FROM inf i1 JOIN inf i2 ON i1.k = i2.k AND i1.doc_id <> i2.doc_id
        |       GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT sh.a AS doc_a, sh.b AS doc_b, n_shared, sz.n_a,
        |       n_shared / sz.n_a AS containment
        |FROM sh JOIN sz ON sz.doc_id = sh.a
        |WHERE n_shared / sz.n_a >= 0.8""".stripMargin,

    "dedup_increment" -> dedupIncrementOracleSql,

    // Line segmentation replicated (4-token lines, chr(10) joins), then
    // the independent relational formulation of the same removal rule.
    "dedup_lines" ->
      """WITH docs AS (
        |  SELECT doc_id,
        |         list_transform(
        |           range(0, CAST(ceil(len(string_split(text, ' ')) / 4.0) AS BIGINT)),
        |           i -> array_to_string(string_split(text, ' ')[i*4+1 : i*4+4], ' ')) AS lines
        |  FROM documents),
        |lns AS (
        |  SELECT doc_id, generate_subscripts(lines, 1) - 1 AS pos, unnest(lines) AS line
        |  FROM docs),
        |heavy AS (
        |  SELECT line FROM (SELECT DISTINCT doc_id, line FROM lns)
        |  GROUP BY line HAVING count(*) > 1),
        |kept AS (
        |  SELECT doc_id, pos, line FROM lns
        |  WHERE line NOT IN (SELECT line FROM heavy)),
        |agg AS (
        |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text_clean,
        |         count(*) AS n_kept
        |  FROM kept GROUP BY doc_id)
        |SELECT b.doc_id,
        |       md5(coalesce(a.text_clean, '')) AS clean_md5,
        |       CAST(len(b.lines) AS BIGINT) AS n_lines,
        |       CAST(len(b.lines) - coalesce(a.n_kept, 0) AS BIGINT) AS n_dropped
        |FROM docs b LEFT JOIN agg a USING (doc_id)""".stripMargin,

    // The boundary rule replayed per position (uint32 of the md5's
    // first 8 hex digits % 16), then chunks sliced between consecutive
    // boundaries; a boundary ON the last char leaves no tail chunk.
    "dedup_cdc_chunks" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS nc FROM documents),
        |bp AS (SELECT doc_id, list(p ORDER BY p) AS bpos
        |       FROM d, unnest(range(8, nc + 1)) AS u(p)
        |       WHERE nc >= 8
        |         AND CAST(('0x' || substr(md5(substr(text, CAST(p AS INT) - 7, 8)), 1, 8)) AS BIGINT) % 16 = 0
        |       GROUP BY doc_id),
        |db AS (SELECT d.doc_id, d.text, d.nc,
        |        coalesce(bp.bpos, CAST([] AS BIGINT[])) AS bpos
        |       FROM d LEFT JOIN bp USING (doc_id)),
        |sp AS (SELECT doc_id, text,
        |        list_prepend(CAST(0 AS BIGINT), bpos) AS starts,
        |        CASE WHEN len(bpos) > 0 AND bpos[-1] = nc THEN bpos
        |             ELSE list_append(bpos, CAST(nc AS BIGINT)) END AS ends
        |       FROM db),
        |ch AS (SELECT doc_id,
        |        substr(text, CAST(starts[CAST(i + 1 AS INT)] + 1 AS INT),
        |          CAST(ends[CAST(i + 1 AS INT)] - starts[CAST(i + 1 AS INT)] AS INT)) AS chunk
        |       FROM sp, unnest(range(0, len(ends))) AS u(i))
        |SELECT md5(chunk) AS chunk_hash,
        |       CAST(length(chunk) AS BIGINT) AS chunk_len,
        |       count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs
        |FROM ch WHERE length(chunk) >= 1
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,

    "sql_text_funcs" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |            FROM documents)
        |SELECT doc_id,
        |       CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
        |       CAST(len(list_distinct(list_transform(
        |         range(0, greatest(len(toks) - 2, 0)),
        |         i -> array_to_string(toks[CAST(i + 1 AS INT):CAST(i + 3 AS INT)], ' '))))
        |         AS BIGINT) AS n_shingles
        |FROM tk""".stripMargin,

    // Same salted md5 draw and integer inverse-CDF thresholds.
    "sample_bootstrap" ->
      """WITH r AS (SELECT o_orderkey, o_totalprice, unnest([1, 2, 3]) AS rep
        |           FROM orders),
        |u AS (SELECT rep, o_totalprice,
        |       CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || ':'
        |         || CAST(rep AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 AS u
        |      FROM r),
        |w AS (SELECT rep, o_totalprice,
        |       CASE WHEN u < 367879 THEN 0 WHEN u < 735758 THEN 1
        |            WHEN u < 919698 THEN 2 WHEN u < 981011 THEN 3
        |            WHEN u < 996340 THEN 4 ELSE 5 END AS w
        |      FROM u)
        |SELECT rep, CAST(sum(w) AS BIGINT) AS n_eff,
        |       CAST(sum(CAST(w * o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS boot_total
        |FROM w GROUP BY rep""".stripMargin,

    "sample_consistent" ->
      """SELECT doc_id FROM documents
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |      % 1000000 < 250000""".stripMargin,

    // Same md5 draw → shard, md5-hex ring order, (r+j) mod n partners.
    "sample_negatives" ->
      """WITH r AS (SELECT doc_id AS key,
        |        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |          % 1000000 % 16 AS shard,
        |        md5(CAST(doc_id AS VARCHAR)) AS h
        |      FROM documents),
        |rg AS (SELECT key, shard,
        |         row_number() OVER (PARTITION BY shard ORDER BY h, key) AS rn,
        |         count(*) OVER (PARTITION BY shard) AS n
        |       FROM r),
        |rf AS (SELECT * FROM rg WHERE n >= 3),
        |j AS (SELECT key, shard, 1 AS neg_rank, ((rn - 1 + 1) % n) + 1 AS tgt FROM rf
        |      UNION ALL
        |      SELECT key, shard, 2 AS neg_rank, ((rn - 1 + 2) % n) + 1 AS tgt FROM rf)
        |SELECT j.key AS key, j.shard AS shard, CAST(j.neg_rank AS BIGINT) AS neg_rank,
        |       p.key AS neg_key
        |FROM j JOIN rf p ON p.shard = j.shard AND p.rn = j.tgt""".stripMargin,

    "sample_stratified" ->
      """SELECT lang, count(*) AS n_docs FROM documents
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |      % 1000000 <
        |      CASE lang WHEN 'en' THEN 500000 WHEN 'es' THEN 1000000 ELSE 100000 END
        |GROUP BY lang""".stripMargin,

    // Same binding-ratio arithmetic, same operation order (w*r/n*1e6) so
    // the double cutoffs agree bit-for-bit.
    "sample_mixture" ->
      """WITH w(dom, wt) AS (
        |  SELECT dom, CAST(wt0 AS DOUBLE) FROM (VALUES
        |    ('src0', 0.5), ('src1', 0.3), ('src2', 0.2)) AS v(dom, wt0)),
        |counts AS (
        |  SELECT source AS dom, CAST(count(*) AS DOUBLE) AS n
        |  FROM documents GROUP BY source),
        |j AS (SELECT dom, n, wt FROM counts JOIN w USING (dom)),
        |r AS (SELECT min(n / wt) AS r FROM j),
        |cut AS (SELECT dom, wt * r / n * 1000000 AS cut FROM j, r)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN cut ON d.source = cut.dom
        |WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |      % 1000000 < cut""".stripMargin,

    // Same binding-ratio cutoff math as sample_mixture, with the weights
    // computed from the observed counts: w = (n/N)^(1/2).
    "sample_temperature" ->
      """WITH counts AS (
        |  SELECT lang AS dom, CAST(count(*) AS DOUBLE) AS n
        |  FROM documents GROUP BY lang),
        |tot AS (SELECT sum(n) AS tot FROM counts),
        |w AS (SELECT dom, n, pow(n / tot, 1.0 / 2.0) AS wt FROM counts, tot),
        |r AS (SELECT min(n / wt) AS r FROM w),
        |cut AS (SELECT dom, wt * r / n * 1000000 AS cut FROM w, r)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN cut ON d.lang = cut.dom
        |WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |      % 1000000 < cut""".stripMargin,

    // SimHash md5 twin: per-token 64-bit hash = first 16 md5 hex digits
    // (UBIGINT, same bit pattern as the engine's signed long); bit j is
    // the j-th least-significant; majority vote per bit over the token
    // MULTISET (unnest keeps duplicates, as the engine's loop does);
    // chunk c packs bits c*16..c*16+15 MSB-first. The empty-document
    // Java-split quirk ([''] -> one empty token) matches both sides.
    "dedup_simhash_md5" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |tok AS (SELECT doc_id, unnest(toks) AS t FROM tk),
        |th AS (SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 16)) AS UBIGINT) AS h FROM tok),
        |bits AS (SELECT doc_id, j,
        |           CASE WHEN 2 * sum(CAST((h >> j) & 1 AS BIGINT)) > count(*)
        |                THEN 1 ELSE 0 END AS bit
        |         FROM th, unnest(range(0, 64)) AS u(j)
        |         GROUP BY doc_id, j),
        |chunks AS (SELECT doc_id, j // 16 AS c,
        |             CAST(sum(bit * (CAST(1 AS BIGINT) << CAST(15 - (j % 16) AS INT)))
        |                  AS BIGINT) AS v
        |           FROM bits GROUP BY doc_id, j // 16)
        |SELECT doc_id,
        |       max(CASE WHEN c = 0 THEN v END) AS chunk0,
        |       max(CASE WHEN c = 1 THEN v END) AS chunk1,
        |       max(CASE WHEN c = 2 THEN v END) AS chunk2,
        |       max(CASE WHEN c = 3 THEN v END) AS chunk3
        |FROM chunks GROUP BY doc_id""".stripMargin,

    // The per-language log-grid walk replayed with a lang-partitioned
    // window; exact side = the same rank walk at width 1 per lang.
    "text_length_quantiles_log" ->
      """WITH d AS (SELECT lang,
        |        CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |          AS n_tok FROM documents),
        |bk AS (SELECT lang, n_tok,
        |         CAST(length(bin(n_tok)) - 1 AS BIGINT) AS e FROM d),
        |sk AS (SELECT lang, e * 64 + (n_tok >> greatest(e - 5, 0)) AS bucket,
        |         CAST(count(*) AS BIGINT) AS cnt FROM bk GROUP BY 1, 2),
        |cum AS (SELECT lang, bucket,
        |          sum(cnt) OVER (PARTITION BY lang ORDER BY bucket) AS cum
        |        FROM sk),
        |nn AS (SELECT lang, CAST(max(cum) AS BIGINT) AS n FROM cum
        |       GROUP BY lang),
        |qs(q_pct) AS (VALUES (50),(90),(99)),
        |est AS (SELECT c.lang, q_pct, nn.n, min(bucket) AS est_bucket
        |        FROM cum c JOIN nn ON c.lang = nn.lang, qs
        |        WHERE c.cum >= (nn.n * q_pct + 99) // 100
        |        GROUP BY c.lang, q_pct, nn.n),
        |dec AS (SELECT lang, q_pct, n, est_bucket, est_bucket % 64 AS pfx,
        |          greatest(est_bucket // 64 - 5, 0) AS s2 FROM est),
        |dd AS (SELECT lang, q_pct, n, est_bucket, (pfx << s2) AS estimate,
        |         ((pfx + 1) << s2) AS est_upper FROM dec),
        |dv AS (SELECT lang, n_tok, CAST(count(*) AS BIGINT) AS c2 FROM d
        |       GROUP BY 1, 2),
        |cv AS (SELECT lang, n_tok AS v,
        |         sum(c2) OVER (PARTITION BY lang ORDER BY n_tok) AS cum
        |       FROM dv),
        |ex AS (SELECT c.lang, q_pct, min(v) AS exact_v
        |       FROM cv c JOIN nn ON c.lang = nn.lang, qs
        |       WHERE c.cum >= (nn.n * q_pct + 99) // 100
        |       GROUP BY c.lang, q_pct)
        |SELECT dd.lang, CAST(dd.q_pct AS BIGINT) AS q_pct, dd.n,
        |       dd.est_bucket, dd.estimate, dd.est_upper, ex.exact_v,
        |       ex.exact_v >= dd.estimate AND ex.exact_v < dd.est_upper
        |         AS within_bucket
        |FROM dd JOIN ex ON dd.lang = ex.lang AND dd.q_pct = ex.q_pct""".stripMargin,

    "text_token_stats" ->
      """SELECT doc_id,
        |       CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |       CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_regex_tokens,
        |       CAST(list_sum(list_transform(string_split_regex(trim(text), '\s+'),
        |         t -> length(t))) AS DOUBLE) /
        |         len(string_split_regex(trim(text), '\s+')) AS avg_token_len
        |FROM documents""".stripMargin,

    "text_quality" ->
      """WITH b AS (SELECT doc_id, text,
        |    string_split_regex(trim(text), '\s+') AS toks,
        |    length(text) AS n_chars FROM documents)
        |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(n_chars - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g')) AS DOUBLE) / n_chars AS punct_ratio,
        |  CAST(n_chars - length(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE) / n_chars AS upper_ratio,
        |  CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is','it','that','for'))) AS DOUBLE) / len(toks) AS stopword_ratio,
        |  CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks) AS avg_word_len
        |FROM b""".stripMargin,

    "text_langid" ->
      """WITH sc AS (SELECT doc_id,
        |  len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t IN ('der','die','das','und','zu','in','ein','ist','nicht','von'))) AS s_de,
        |  len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t IN ('the','a','of','and','to','in','is','it','that','for'))) AS s_en,
        |  len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t IN ('el','la','de','y','que','en','un','es','se','no'))) AS s_es,
        |  len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t IN ('le','la','de','et','que','en','un','est','ce','ne'))) AS s_fr,
        |  len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t IN ('的','了','是','我','不','在','有','他','这','中'))) AS s_zh
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |       WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
        |       WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
        |       WHEN s_fr >= s_zh THEN 'fr'
        |       ELSE 'zh' END AS predicted_lang,
        |  CAST(greatest(s_de, s_en, s_es, s_fr, s_zh) AS BIGINT) AS lang_score
        |FROM sc""".stripMargin,

    "text_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(list_transform(string_split_regex(trim(text), '\s+'),
        |      t -> CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % 1000000007),
        |    (acc, h) -> (acc * 31 + h) % 1000000007) AS fingerprint
        |FROM documents""".stripMargin,

    "text_bpe_merges" -> bpeOracleSql(5),
    "text_bpe_bytes" -> bpeBytesOracleSql(5),
    "text_bpe_bytes_encode" -> bpeBytesEncodeOracleSql(5),

    // Same derived vocab, best-match table, and a recursive pointer
    // walk capped at the same 16 rounds as the Spark loop.
    "text_maxmatch" ->
      """WITH RECURSIVE
        |tk AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS word
        |       FROM documents),
        |wf AS (SELECT word, count(*) AS freq FROM tk
        |       WHERE length(word) > 0 GROUP BY word),
        |wtop AS (SELECT word AS tok FROM wf ORDER BY freq DESC, word LIMIT 24),
        |gtop AS (SELECT tok FROM (
        |          SELECT substr(word, CAST(i AS INT), 4) AS tok,
        |                 sum(freq) AS gfreq
        |          FROM wf, unnest(range(1, length(word) - 2)) AS u(i)
        |          WHERE length(word) >= 4 GROUP BY 1)
        |         ORDER BY gfreq DESC, tok LIMIT 16),
        |ch AS (SELECT DISTINCT substr(word, CAST(i AS INT), 1) AS tok
        |       FROM wf, unnest(range(1, length(word) + 1)) AS u(i)),
        |vocab AS (SELECT DISTINCT tok FROM (
        |           SELECT tok FROM wtop UNION ALL SELECT tok FROM gtop
        |           UNION ALL SELECT tok FROM ch)
        |          WHERE length(tok) <= 12),
        |cand AS (SELECT wf.word, p.pos, length(v.tok) AS tl, v.tok
        |         FROM wf, unnest(range(0, length(wf.word))) AS p(pos), vocab v
        |         WHERE length(v.tok) <= length(wf.word) - p.pos
        |           AND v.tok = substr(wf.word, CAST(p.pos + 1 AS INT), length(v.tok))),
        |bm AS (SELECT word, pos, tok, tl FROM (
        |        SELECT word, pos, tok, tl,
        |               row_number() OVER (PARTITION BY word, pos ORDER BY tl DESC) AS rk
        |        FROM cand) WHERE rk = 1),
        |st(word, len, pos, r) AS (
        |  SELECT word, length(word), 0, 1 FROM wf
        |  UNION ALL
        |  SELECT st.word, st.len, st.pos + bm.tl, st.r + 1
        |  FROM st JOIN bm ON st.word = bm.word AND st.pos = bm.pos
        |  WHERE st.pos + bm.tl < st.len AND st.r < 16)
        |SELECT bm.tok AS token, CAST(length(bm.tok) AS BIGINT) AS tok_len,
        |       CAST(count(DISTINCT st.word) AS BIGINT) AS n_words,
        |       CAST(sum(wf.freq) AS BIGINT) AS corpus_occ
        |FROM st JOIN bm ON st.word = bm.word AND st.pos = bm.pos
        |JOIN wf ON wf.word = st.word
        |GROUP BY bm.tok""".stripMargin,
    "text_unigram_lm" -> unigramLmOracleSql(6, 24, 8),
    "text_unigram_encode" -> unigramEncodeOracleSql(6, 24, 8),

    // Two independent Unicode NFC implementations (utf8proc here, the
    // JVM Normalizer in the engine) must agree byte-for-byte on the
    // planted decomposed/precomposed/ligature suffix.
    "text_nfc_planted" ->
      """WITH p AS (SELECT doc_id,
        |        text || ' e' || chr(769) || 'le' || chr(769) || 've ' ||
        |          chr(233) || ' ' || chr(64259) AS t
        |      FROM documents)
        |SELECT doc_id,
        |       CAST(octet_length(encode(t)) AS BIGINT) AS bytes_before,
        |       CAST(octet_length(encode(nfc_normalize(t))) AS BIGINT) AS bytes_after,
        |       md5(nfc_normalize(t)) AS nfc_md5
        |FROM p""".stripMargin,

    "text_bpe_encode" -> bpeEncodeOracleSql(5),
    "text_bpe_tokens" ->
      s"""WITH ${bpeCtes(5)},
         |wt AS (SELECT word, CAST(count(*) AS BIGINT) AS n_tokens FROM t5 GROUP BY word),
         |dw AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
         |       FROM documents)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |       CAST(sum(n_tokens) AS BIGINT) AS n_bpe_tokens
         |FROM dw JOIN wt USING (word) GROUP BY doc_id""".stripMargin,

    // Same 60-bit slot hash / Knuth-multiplicative weight arithmetic as
    // hashedLinearScore; integer until the final single division.
    "text_quality_clf" ->
      """WITH t AS (SELECT doc_id,
        |  string_split_regex(trim(text), '\s+') AS w FROM documents)
        |SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
        |  CAST(list_sum(list_transform(w,
        |    t -> ((CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % 1024)
        |            * 2654435761) % 2003 - 1001)) AS BIGINT) AS raw_score,
        |  CAST(CAST(list_sum(list_transform(w,
        |    t -> ((CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % 1024)
        |            * 2654435761) % 2003 - 1001)) AS BIGINT) AS DOUBLE)
        |    / (len(w) * 1000.0) AS quality,
        |  CAST(CAST(list_sum(list_transform(w,
        |    t -> ((CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % 1024)
        |            * 2654435761) % 2003 - 1001)) AS BIGINT) AS DOUBLE)
        |    / (len(w) * 1000.0) > 0.0 AS keep
        |FROM t""".stripMargin,

    "text_filter_chain" ->
      """SELECT doc_id, reason, reason = 'pass' AS keep FROM (
        |  SELECT doc_id, CASE
        |    WHEN len(text) < 100 THEN 'too_short'
        |    WHEN len(text) > 20000 THEN 'too_long'
        |    WHEN CAST(len(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
        |           / len(text) < 0.6 THEN 'low_alpha'
        |    WHEN CAST(list_sum(list_transform(
        |             string_split_regex(trim(text), '\s+'), t -> len(t))) AS DOUBLE)
        |           / len(string_split_regex(trim(text), '\s+')) < 3.0
        |      OR CAST(list_sum(list_transform(
        |             string_split_regex(trim(text), '\s+'), t -> len(t))) AS DOUBLE)
        |           / len(string_split_regex(trim(text), '\s+')) > 12.0 THEN 'word_len'
        |    WHEN NOT list_has_any(string_split_regex(trim(lower(text)), '\s+'),
        |           ['the','a','of','and','to','in','is','it','that','for'])
        |      THEN 'no_stopword'
        |    ELSE 'pass' END AS reason
        |  FROM documents)""".stripMargin,

    // Vocabulary ranked (tf desc, term asc) — a total order, so the top-V
    // cut and id assignment are deterministic on both engines.
    "text_vocab_encode" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         generate_subscripts(string_split_regex(trim(text), '\s+'), 1) - 1 AS pos,
        |         unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents),
        |counts AS (SELECT tok, count(*) AS tf FROM toks GROUP BY tok),
        |vocab AS (
        |  SELECT tok, CAST(row_number() OVER (ORDER BY tf DESC, tok ASC) - 1 AS BIGINT) AS token_id
        |  FROM (SELECT * FROM counts ORDER BY tf DESC, tok ASC LIMIT 20)),
        |enc AS (
        |  SELECT t.doc_id, t.pos, coalesce(v.token_id, -1) AS tid
        |  FROM toks t LEFT JOIN vocab v USING (tok))
        |SELECT doc_id,
        |       md5(string_agg(CAST(tid AS VARCHAR), ',' ORDER BY pos)) AS ids_md5,
        |       CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(sum(CASE WHEN tid = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
        |FROM enc GROUP BY doc_id""".stripMargin,

    // Identical pattern text on both sides (common Java-regex/RE2
    // subset); DuckDB regexp_replace needs the explicit 'g' flag to match
    // Spark's replace-all default.
    "text_pii_scrub" ->
      """WITH p AS (SELECT doc_id,
        |    text || CASE WHEN doc_id % 3 = 0 THEN ' u' || CAST(doc_id AS VARCHAR) || '@ex-a.org' ELSE '' END
        |         || CASE WHEN doc_id % 5 = 0 THEN ' b.c@mail.example.com' ELSE '' END
        |         || CASE WHEN doc_id % 4 = 0 THEN ' 10.2.' || CAST(doc_id % 256 AS VARCHAR) || '.9' ELSE '' END
        |         || CASE WHEN doc_id % 7 = 0 THEN ' +44 20 7946 0958' ELSE '' END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}')) AS BIGINT) AS n_ips,
        |  CAST(len(regexp_extract_all(text, '\+\d[\d -]{5,}\d')) AS BIGINT) AS n_phones,
        |  md5(regexp_replace(regexp_replace(regexp_replace(text,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |        '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}', '<IP>', 'g'),
        |        '\+\d[\d -]{5,}\d', '<PHONE>', 'g')) AS scrubbed_md5
        |FROM p""".stripMargin,

    "text_repetition" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |tc AS (SELECT doc_id, count(*) AS c
        |       FROM (SELECT doc_id, unnest(toks) AS t FROM tk) GROUP BY doc_id, t),
        |mx AS (SELECT doc_id, max(c) AS max_count FROM tc GROUP BY doc_id),
        |base AS (SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
        |    CAST(greatest(len(toks) - 1, 0) AS BIGINT) AS n_2grams,
        |    CAST(len(list_distinct(list_transform(range(0, greatest(len(toks) - 1, 0)),
        |      i -> toks[CAST(i + 1 AS INT)] || ' ' || toks[CAST(i + 2 AS INT)]))) AS BIGINT) AS d2
        |  FROM tk)
        |SELECT b.doc_id, b.n_tokens,
        |       CAST(m.max_count AS DOUBLE) / b.n_tokens AS top_token_frac,
        |       CAST(b.n_distinct AS DOUBLE) / b.n_tokens AS distinct_ratio,
        |       CASE WHEN b.n_2grams > 0
        |            THEN 1.0 - CAST(b.d2 AS DOUBLE) / b.n_2grams END AS dup_2gram_frac
        |FROM base b JOIN mx m ON b.doc_id = m.doc_id""".stripMargin,

    "text_pmi" ->
      """WITH tk AS (SELECT string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |px AS (SELECT toks[CAST(i + 1 AS INT)] AS w1, toks[CAST(i + 2 AS INT)] AS w2
        |       FROM tk, unnest(range(0, len(toks) - 1)) AS u(i) WHERE len(toks) >= 2),
        |bi AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS pair_n
        |       FROM px GROUP BY 1, 2 HAVING count(*) >= 20),
        |un AS (SELECT unnest(toks) AS w FROM tk),
        |uc AS (SELECT w, CAST(count(*) AS BIGINT) AS w_n FROM un GROUP BY w),
        |nb AS (SELECT CAST(count(*) AS DOUBLE) AS nb FROM px),
        |nu AS (SELECT CAST(count(*) AS DOUBLE) AS nu FROM un)
        |SELECT w1, w2, pair_n,
        |       round(ln((pair_n / nb) / ((u1.w_n / nu) * (u2.w_n / nu))), 6) AS pmi
        |FROM bi JOIN uc u1 ON u1.w = bi.w1 JOIN uc u2 ON u2.w = bi.w2, nb, nu""".stripMargin,

    "text_inverted_index" ->
      """WITH tok AS (SELECT DISTINCT doc_id,
        |    unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents)
        |SELECT tok, CAST(count(*) AS BIGINT) AS df,
        |       array_to_string(list_transform((list(doc_id ORDER BY doc_id))[1:15],
        |         x -> CAST(x AS VARCHAR)), ',') AS postings
        |FROM tok GROUP BY tok HAVING count(*) >= 60""".stripMargin,

    "text_term_stats" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        |            FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |       FROM tok GROUP BY doc_id, term),
        |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |top AS (SELECT doc_id, term, tf,
        |          row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, term) AS rn
        |        FROM tf)
        |SELECT t.doc_id, t.term AS top_term, t.tf, d.df
        |FROM top t JOIN dfreq d ON t.term = d.term WHERE rn = 1""".stripMargin,

    "pack_chunks" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |c AS (SELECT doc_id, toks, unnest(range(0, (len(toks) + 31) // 32)) AS i FROM tk)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
        |       CAST(least(32, len(toks) - i * 32) AS BIGINT) AS n_chunk_tokens,
        |       md5(array_to_string(toks[CAST(i * 32 + 1 AS INT):CAST(i * 32 + 32 AS INT)], ' ')) AS chunk_md5
        |FROM c""".stripMargin,

    // The oracle computes the SAME running token count with one direct
    // ordered window — fine over sf0.01, the exact single-task shape the
    // engine's two-level prefix sum avoids at scale.
    "pack_sequences" ->
      """WITH n AS (SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |    CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_before
        |  FROM n)
        |SELECT doc_id, n_tokens, tok_before // 512 AS seq_id, tok_before % 512 AS seq_offset
        |FROM c""".stripMargin,

    "pack_boundaries" ->
      """WITH n AS (SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |    CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_before
        |  FROM n)
        |SELECT tok_before // 512 AS seq_id, CAST(count(*) AS BIGINT) AS n_docs,
        |       string_agg(CAST(tok_before % 512 AS VARCHAR), ','
        |         ORDER BY tok_before % 512) AS boundaries
        |FROM c GROUP BY 1""".stripMargin,

    "sample_quality_quota" ->
      """WITH lenq AS (SELECT doc_id, lang,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |r AS (SELECT lang, doc_id, n_tokens,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY n_tokens DESC, doc_id) AS BIGINT) AS rnk
        |  FROM lenq)
        |SELECT lang, doc_id, n_tokens, rnk FROM r WHERE rnk <= 30""".stripMargin,

    "pack_efficiency" ->
      """WITH n AS (SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |    CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_before
        |  FROM n)
        |SELECT tok_before // 512 AS seq_id, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS assigned_tokens,
        |       CAST(sum(n_tokens) AS BIGINT) / 512.0 AS utilization
        |FROM c GROUP BY 1""".stripMargin,

    "pack_shuffle" ->
      """SELECT doc_id,
        |       CAST(row_number() OVER (ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)), doc_id)
        |            - 1 AS BIGINT) AS shuffle_pos
        |FROM documents""".stripMargin,

    "pack_build" ->
      """WITH n AS (SELECT doc_id, text,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, text, n_tokens,
        |    CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_before
        |  FROM n)
        |SELECT tok_before // 512 AS seq_id, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |       md5(string_agg(text, ' ' ORDER BY doc_id)) AS seq_md5
        |FROM c GROUP BY tok_before // 512""".stripMargin,

    // Direct per-L rank / ceil-div replay of the shelf assignment — the
    // oracle's row_number over each length class is the single-task
    // shape the engine's two-level rank avoids at scale.
    "pack_shelves" ->
      """WITH tk AS (SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS L
        |  FROM documents),
        |r AS (SELECT doc_id, L,
        |    row_number() OVER (PARTITION BY L ORDER BY doc_id) - 1 AS k
        |  FROM tk),
        |cls AS (SELECT L, greatest(1, 512 // L) AS per, count(*) AS nL
        |  FROM tk GROUP BY L),
        |b AS (SELECT L, per,
        |    CAST(COALESCE(sum((nL + per - 1) // per) OVER (ORDER BY L
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS base
        |  FROM cls)
        |SELECT r.doc_id, r.L AS n_tokens,
        |       CAST(b.base + k // per AS BIGINT) AS seq_id,
        |       CAST((k % per) * r.L AS BIGINT) AS seq_offset
        |FROM r JOIN b USING (L)""".stripMargin,

    "decon_ngram" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |ngl AS (SELECT doc_id,
        |    unnest(list_distinct(list_transform(range(0, greatest(len(toks) - 7, 0)),
        |      i -> array_to_string(toks[CAST(i + 1 AS INT):CAST(i + 8 AS INT)], ' ')))) AS g
        |  FROM tk),
        |ng AS (SELECT doc_id, md5(g) AS k FROM ngl),
        |bench AS (SELECT DISTINCT k FROM ng WHERE doc_id % 97 = 0),
        |corp AS (
        |  SELECT doc_id, k FROM ng WHERE doc_id % 97 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, k FROM ng WHERE doc_id % 97 = 0)
        |SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
        |       CAST(count(b.k) AS BIGINT) AS n_hits,
        |       count(b.k) > 0 AS contaminated
        |FROM corp c LEFT JOIN bench b ON c.k = b.k
        |GROUP BY c.doc_id""".stripMargin,

    // The bloom prefilter must be invisible: same exact oracle as
    // decon_ngram (no false negatives; exact verify removes the fpp).
    "decon_bloom" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |ngl AS (SELECT doc_id,
        |    unnest(list_distinct(list_transform(range(0, greatest(len(toks) - 7, 0)),
        |      i -> array_to_string(toks[CAST(i + 1 AS INT):CAST(i + 8 AS INT)], ' ')))) AS g
        |  FROM tk),
        |ng AS (SELECT doc_id, md5(g) AS k FROM ngl),
        |bench AS (SELECT DISTINCT k FROM ng WHERE doc_id % 97 = 0),
        |corp AS (
        |  SELECT doc_id, k FROM ng WHERE doc_id % 97 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, k FROM ng WHERE doc_id % 97 = 0)
        |SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
        |       CAST(count(b.k) AS BIGINT) AS n_hits,
        |       count(b.k) > 0 AS contaminated
        |FROM corp c LEFT JOIN bench b ON c.k = b.k
        |GROUP BY c.doc_id""".stripMargin,

    // The shared md5 LSH chain over the sign-combined frame (bench as
    // negative ids), cross pairs only, exact string-set Jaccard verify.
    "decon_fuzzy" ->
      s"""WITH bench0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0),
         |comb AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0
         |         UNION ALL SELECT doc_id + 1000000, 'zq ' || text FROM bench0
         |         UNION ALL SELECT -doc_id - 1, text FROM bench0),
         |${md5LshCandCtes("comb")},
         |cx AS (SELECT right_id AS doc_id, left_id AS bench_id FROM cand
         |       WHERE left_id < 0 AND right_id >= 0),
         |sets AS (SELECT doc_id, list_distinct(list_transform(
         |           range(0, greatest(len(toks) - 2, 0)),
         |           i -> array_to_string(toks[CAST(i + 1 AS INT):CAST(i + 3 AS INT)], ' '))) AS sh
         |         FROM tk),
         |ver AS (SELECT c.doc_id,
         |          CAST(len(list_intersect(d.sh, b.sh)) AS DOUBLE) /
         |          len(list_distinct(list_concat(d.sh, b.sh))) AS j
         |        FROM cx c JOIN sets d ON d.doc_id = c.doc_id
         |        JOIN sets b ON b.doc_id = c.bench_id),
         |agg AS (SELECT doc_id, count(*) AS n_candidates,
         |         CAST(sum(CASE WHEN j >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
         |        FROM ver GROUP BY doc_id)
         |SELECT c0.doc_id,
         |       coalesce(a.n_candidates, 0) AS n_candidates,
         |       coalesce(a.n_hits, 0) AS n_hits,
         |       coalesce(a.n_hits, 0) > 0 AS contaminated
         |FROM (SELECT doc_id FROM comb WHERE doc_id >= 0) c0
         |LEFT JOIN agg a USING (doc_id)""".stripMargin,

    // Same raw-vector cosine replay as ann_range_search, aggregated to
    // per-corpus-vector (count, max) over hits against the bench block.
    "decon_embed" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT v AS bv FROM e WHERE vec_id < 16),
        |c AS (SELECT vec_id, v FROM e WHERE vec_id >= 16),
        |p AS (SELECT c.vec_id,
        |        list_reduce(list_transform(range(0, len(bv)), i -> c.v[i+1] * bv[i+1]), (x,y) -> x + y) /
        |        (sqrt(list_reduce(list_transform(range(0, len(bv)), i -> c.v[i+1] * c.v[i+1]), (x,y) -> x + y)) *
        |         sqrt(list_reduce(list_transform(range(0, len(bv)), i -> bv[i+1] * bv[i+1]), (x,y) -> x + y))) AS sim
        |      FROM c, q)
        |SELECT vec_id, count(*) AS n_hits, round(max(sim), 6) AS max_sim
        |FROM p WHERE sim >= 0.2 GROUP BY vec_id""".stripMargin,

    // The DSIR recurrence replayed relationally: md5-hashed bigram
    // buckets, add-0.5 smoothed target (lang='en') vs corpus models,
    // per-doc Σ n·log-ratio; fold order absorbed by round(,6).
    "sample_dsir" ->
      """WITH tk AS (SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |ix AS (SELECT doc_id, lang, toks, unnest(range(0, len(toks) - 1)) AS i
        |       FROM tk WHERE len(toks) >= 2),
        |bg AS (SELECT doc_id, lang,
        |         CAST(('0x' || substr(md5(toks[i+1] || ' ' || toks[i+2]), 1, 8)) AS BIGINT) % 64 AS b
        |       FROM ix),
        |dbk AS (SELECT doc_id, b, count(*) AS n FROM bg GROUP BY 1, 2),
        |cb AS (SELECT b, sum(n) AS cn FROM dbk GROUP BY b),
        |tb AS (SELECT b, count(*) AS tn FROM bg WHERE lang = 'en' GROUP BY b),
        |bk AS (SELECT unnest(range(0, 64)) AS b),
        |m AS (SELECT bk.b AS b, coalesce(cn, 0) AS cn, coalesce(tn, 0) AS tn
        |      FROM bk LEFT JOIN cb ON bk.b = cb.b LEFT JOIN tb ON bk.b = tb.b),
        |tot AS (SELECT sum(cn) AS tc, sum(tn) AS tt FROM m),
        |lr AS (SELECT b, ln((tn + 0.5) / (tt + 0.5 * 64)) - ln((cn + 0.5) / (tc + 0.5 * 64)) AS lrv
        |       FROM m, tot)
        |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
        |       round(sum(n * lrv), 6) AS logratio
        |FROM dbk JOIN lr USING (b) GROUP BY doc_id""".stripMargin,

    "mm_meta" ->
      """SELECT doc_id AS media_id, 'application/octet-stream' AS mime,
        |       CAST(strlen(text) AS BIGINT) AS n_bytes, md5(text) AS content_md5
        |FROM documents""".stripMargin,

    // pHash replayed: identical grid, identical literal-weight DCT,
    // identical threshold and hash assembly (generator above).
    "mm_phash" -> phashOracleSql(),

    // Constellation fingerprint replayed: the identical stub band
    // energies (exact integer sums of every 8th byte), the same strict
    // 4-neighborhood peak rule, the same landmark packing, stop-hash
    // guard, and consistent-offset vote. Positions are 1-based chars ==
    // bytes under the shared ASCII scoping.
    "mm_audio_fingerprint" -> {
      val terms = (0 until 8)
        .map(j => s"ord(substr(text, CAST(t*32 + b + ${1 + 8 * j} AS INT), 1))")
        .mkString(" +\n         ")
      s"""WITH m AS (SELECT doc_id AS media_id, text,
         |             CAST(strlen(text) AS BIGINT) AS n
         |           FROM documents
         |           WHERE strlen(text) = length(text)
         |             AND strlen(text) >= 64),
         |fr AS (SELECT media_id, text,
         |         unnest(range(0, (n - 64) // 32 + 1)) AS t
         |       FROM m),
         |cb AS (SELECT media_id, text, t, unnest(range(0, 8)) AS b FROM fr),
         |cells AS (SELECT media_id, t, b,
         |    CAST($terms AS BIGINT) AS e
         |  FROM cb),
         |pk AS (SELECT media_id, t, b, e,
         |    lag(e) OVER wb AS tp, lead(e) OVER wb AS tn,
         |    lag(e) OVER wt AS bp, lead(e) OVER wt AS bn
         |  FROM cells
         |  WINDOW wb AS (PARTITION BY media_id, b ORDER BY t),
         |         wt AS (PARTITION BY media_id, t ORDER BY b)),
         |peaks AS (SELECT media_id, t, b, e FROM pk
         |  WHERE e > coalesce(tp, -1) AND e > coalesce(tn, -1)
         |    AND e > coalesce(bp, -1) AND e > coalesce(bn, -1)),
         |lm AS (SELECT a.media_id, a.t AS t1,
         |    ((((a.b * 8 + c.b) * 8 + (c.t - a.t)) * 8 + a.e % 8) * 8
         |      + c.e % 8) AS lhash
         |  FROM peaks a JOIN peaks c ON c.media_id = a.media_id
         |    AND c.t - a.t BETWEEN 1 AND 5),
         |hot AS (SELECT lhash FROM (
         |    SELECT lhash, count(DISTINCT media_id) AS nm
         |    FROM lm GROUP BY 1) WHERE nm > 64),
         |flm AS (SELECT lhash, media_id, t1 FROM lm
         |        ANTI JOIN hot USING (lhash))
         |SELECT x.media_id AS media_a, y.media_id AS media_b,
         |       x.t1 - y.t1 AS t_offset, count(*) AS hits
         |FROM flm x JOIN flm y ON x.lhash = y.lhash
         |                     AND x.media_id < y.media_id
         |GROUP BY 1, 2, 3
         |HAVING count(*) >= 3""".stripMargin
    },
    "mm_phash_near" -> phashNearOracleSql(d = 2),

    // The same layout replayed with ONE global ordered window (the oracle
    // can afford the single-task shape the engine avoids).
    "mm_shards" ->
      """WITH m AS (SELECT doc_id AS media_id, CAST(strlen(text) AS BIGINT) AS n_bytes
        |           FROM documents),
        |p AS (SELECT media_id, n_bytes,
        |        coalesce(sum(n_bytes) OVER (ORDER BY media_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
        |      FROM m)
        |SELECT media_id, n_bytes, CAST(bef // 4096 AS BIGINT) AS shard_id,
        |       CAST(bef % 4096 AS BIGINT) AS shard_offset
        |FROM p""".stripMargin,

    "mm_frames" ->
      """WITH f AS (SELECT doc_id, text,
        |    unnest(range(0, CAST(ceil(strlen(text) / 64.0) AS BIGINT))) AS i
        |  FROM documents WHERE strlen(text) = length(text))
        |SELECT doc_id AS media_id, CAST(i AS BIGINT) AS frame_id,
        |       CAST(strlen(substr(text, CAST(i * 64 + 1 AS INT), 64)) AS BIGINT) AS frame_len,
        |       md5(substr(text, CAST(i * 64 + 1 AS INT), 64)) AS frame_md5
        |FROM f""".stripMargin,

    // Octet slicing over the hex rendering: 1 payload byte ⇔ 2 hex
    // chars, so substr(hx, 32i+1, 32) IS the i-th 16-byte frame.
    "mm_frames_binary" ->
      """WITH h AS (SELECT doc_id AS media_id,
        |        upper(md5(text)) || hex(text::BLOB) AS hx,
        |        16 + octet_length(text::BLOB) AS nb
        |      FROM documents),
        |f AS (SELECT media_id, hx, nb,
        |        unnest(range(0, (nb + 15) // 16)) AS i
        |      FROM h)
        |SELECT media_id, CAST(i AS BIGINT) AS frame_id,
        |       CAST(least(16, nb - i * 16) AS BIGINT) AS frame_len,
        |       md5(substr(hx, CAST(i * 32 + 1 AS BIGINT), 32)) AS frame_hex_md5
        |FROM f""".stripMargin,

    // Frames from the same planted hex stream; the cut rule compares
    // 16 hex byte-pairs, scene_id is a per-media running sum.
    "mm_scene_detect" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 32),
        |h AS (SELECT doc_id AS media_id,
        |        repeat(substr(hex(text::BLOB), 1, 32), 3) ||
        |        repeat(substr(hex(text::BLOB), 33, 32), 3) AS hx
        |      FROM d),
        |f AS (SELECT media_id, i AS frame_id,
        |        substr(hx, CAST(i * 32 + 1 AS BIGINT), 32) AS fh
        |      FROM h, unnest(range(0, 6)) AS u(i)),
        |l AS (SELECT media_id, frame_id, fh,
        |        lag(fh) OVER (PARTITION BY media_id ORDER BY frame_id) AS fp
        |      FROM f),
        |c AS (SELECT media_id, frame_id, fh,
        |        CASE WHEN fp IS NULL THEN 1
        |             WHEN len(list_filter(range(0, 16),
        |               i -> substr(fh, CAST(i*2+1 AS INT), 2) <>
        |                    substr(fp, CAST(i*2+1 AS INT), 2))) >= 4 THEN 1
        |             ELSE 0 END AS chg
        |      FROM l),
        |s AS (SELECT media_id, frame_id, fh,
        |        sum(chg) OVER (PARTITION BY media_id ORDER BY frame_id
        |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS scene_id
        |      FROM c)
        |SELECT media_id, CAST(scene_id AS BIGINT) AS scene_id,
        |       CAST(count(*) AS BIGINT) AS n_frames,
        |       CAST(min(frame_id) AS BIGINT) AS first_frame,
        |       md5(arg_min(fh, frame_id)) AS rep_md5
        |FROM s GROUP BY media_id, scene_id""".stripMargin,

    "mm_audio_windows" ->
      """WITH f AS (SELECT doc_id, text,
        |    unnest(range(0, CAST(ceil(strlen(text) / 16.0) AS BIGINT))) AS i
        |  FROM documents WHERE strlen(text) = length(text))
        |SELECT doc_id AS media_id, CAST(i AS BIGINT) AS win_id,
        |       CAST(strlen(substr(text, CAST(i * 16 + 1 AS INT), 48)) AS BIGINT) AS win_len,
        |       md5(substr(text, CAST(i * 16 + 1 AS INT), 48)) AS win_md5
        |FROM f""".stripMargin,

    "mm_resize" ->
      """WITH r AS (
        |  SELECT doc_id,
        |         array_to_string(list_transform(
        |           range(0, CAST(ceil(strlen(text) / 4.0) AS BIGINT)),
        |           i -> substr(text, CAST(i * 4 + 1 AS INT), 1)), '') AS resized
        |  FROM documents
        |  WHERE strlen(text) = length(text) AND strlen(text) > 0)
        |SELECT doc_id AS media_id, CAST(strlen(resized) AS BIGINT) AS n_bytes_out,
        |       md5(resized) AS resized_md5
        |FROM r""".stripMargin,

    "mm_decode_features" ->
      """SELECT doc_id AS media_id,
        |       CAST(16 + strlen(text) % 64 AS BIGINT) AS width,
        |       CAST(16 + (strlen(text) // 64) % 64 AS BIGINT) AS height,
        |       CAST(1 + strlen(text) % 4 AS BIGINT) AS n_frames,
        |       array_to_string(list_transform(range(0, 8),
        |         i -> ascii(substr(text, CAST(i % strlen(text) AS INT) + 1, 1))), ',') AS feature_bytes
        |FROM documents
        |WHERE strlen(text) = length(text) AND strlen(text) > 0""".stripMargin,

    // The PNG generator formula replayed byte-for-byte: the engine's
    // pixel_hex is the DECODED raster, so equality here proves the real
    // codec round-trip (encode → file → binaryFile source → inflate →
    // defilter) recovered every pixel of every image exactly.
    "mm_decode_png" ->
      """WITH s AS (SELECT doc_id AS media_id,
        |             CAST(8 + doc_id % 8 AS BIGINT) AS width,
        |             CAST(8 + (doc_id * 3) % 8 AS BIGINT) AS height,
        |             doc_id * 31 AS seed
        |           FROM documents)
        |SELECT media_id, width, height,
        |       array_to_string(list_transform(range(0, width * height),
        |         i -> format('{:02x}', (seed + i) % 256)), '') AS pixel_hex
        |FROM s""".stripMargin,
  )
}
