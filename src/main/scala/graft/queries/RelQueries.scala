package graft
package queries

import graft.ops._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Fixtures._

/** Relational extension: joins, window functions, set operations,
  * statistics aggregates, physical layout (pruning and bucketing) and skew
  * mitigation (`skew_*`: results provably equal the unsalted plan). */
object RelQueries {
  private def bigSpenders(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").filter(col("o_totalprice") > 400000)
      .select(col("o_custkey").as("custkey")).distinct()

  private def buildingCustomers(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("custkey")).distinct()

  private val sqlGroupingSets: String =
    """SELECT o_orderpriority, o_orderstatus,
      |       CAST(grouping(o_orderpriority) AS BIGINT) AS g_prio,
      |       CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
      |       count(*) AS n_orders
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())""".stripMargin

  val cases: Seq[Case] = Seq(
    // Dim tables broadcast: no shuffle of the orders fact.
    Case("rel_join_broadcast", (s, dir) =>
      t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(sum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders")),
      Some("""SELECT r_name, sum(o_totalprice) AS revenue, count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin)),

    // Fact-to-fact equi-join: shuffled hash/sort-merge on the join key —
    // the shape AQE tunes at scale. Top-10 revenue orders, Q3-style.
    Case("rel_join_topk", (s, dir) =>
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders").filter(col("o_orderdate") < to_timestamp(lit("1998-01-01"))),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10),
      Some("""SELECT o_orderkey, o_orderdate,
        |       sum(l_extendedprice * (1 - l_discount)) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin)),

    // Bloom-prefiltered semi join: the scan-side might_contain probe
    // kills non-matching fact rows BEFORE the exchange; the exact semi
    // join then removes the fpp false positives, so the result is
    // byte-identical to the plain semi join (bloom = no false negatives).
    Case("rel_bloom_semi_join", (s, dir) =>
      ops.BloomJoin.bloomSemiJoin(
        t(s, dir, "orders"), "o_custkey",
        t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING"),
        "c_custkey", expectedItems = 10000)
        .select(col("o_orderkey"), col("o_custkey")),
      // The oracle is the PLAIN semi join: the bloom prefilter must be
      // invisible in the result (no false negatives; exact join removes
      // false positives) — any bloom-induced row loss turns this red.
      Some("""SELECT o_orderkey, o_custkey FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer
        |                    WHERE c_mktsegment = 'BUILDING')""".stripMargin)),

    Case("rel_semi_join", (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name")),
      Some("""SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 400000)""".stripMargin)),

    Case("rel_anti_join", (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name")),
      Some("""SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)""".stripMargin)),

    Case("rel_outer_join", (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          sum(coalesce(col("o_totalprice"), lit(0.0))).as("lifetime_value")),
      Some("""SELECT c_custkey, count(o_orderkey) AS n_orders,
        |       sum(coalesce(o_totalprice, 0)) AS lifetime_value
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey""".stripMargin)),

    Case("rel_window_rank", { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("rnk").cast("long").as("rnk"))
    },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         CAST(row_number() OVER (PARTITION BY o_custkey
        |           ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk
        |  FROM orders) WHERE rnk <= 3""".stripMargin)),

    Case("rel_window_lag", { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("gap_us", unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
        .select(col("user_id"), col("event_id"), col("gap_us"))
    },
      Some("""SELECT user_id, event_id,
        |       epoch_us(ts) - epoch_us(lag(ts, 1) OVER (PARTITION BY user_id
        |         ORDER BY ts, event_id)) AS gap_us
        |FROM events""".stripMargin)),

    // Distribution window functions over a deterministic total order.
    Case("rel_window_dist", { (s, dir) =>
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"),
          ntile(4).over(w).cast("long").as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"))
    },
      Some("""SELECT o_orderpriority, o_orderkey,
        |       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |       percent_rank() OVER w AS pct_rank,
        |       cume_dist() OVER w AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice, o_orderkey)""".stripMargin)),

    // RANGE frame (value-based, peers included) vs the ROWS frames above:
    // per-customer 30-day trailing spend, ordered by day number so both
    // engines share one numeric range semantics (no interval dialects).
    Case("rel_window_range", { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(unix_date(col("o_orderdate").cast("date")))
        .rangeBetween(-30, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          sum(col("o_totalprice")).over(w).as("sum_30d"))
    },
      // date - DATE '1970-01-01' is DuckDB's integer day number = Spark's
      // unix_date; Spark sum(DECIMAL(15,2)) and DuckDB sum over the RANGE
      // frame agree digit-for-digit (exact decimal accumulation).
      Some("""SELECT o_orderkey, o_custkey,
        |       sum(o_totalprice) OVER (PARTITION BY o_custkey
        |         ORDER BY CAST(o_orderdate AS DATE) - DATE '1970-01-01'
        |         RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS sum_30d
        |FROM orders""".stripMargin)),

    // Range (point-in-interval) join: lineitem ship days probed against
    // order-derived promo windows [orderdate, orderdate + 1..14 days],
    // NO equi-key — the shape Spark plans as a quadratic nested loop and
    // RangeJoin rewrites into a bucket-expansion equi-join. Day numbers
    // are the shared integer axis (no interval dialects); oracle is the
    // plain BETWEEN theta-join.
    Case("rel_range_join", { (s, dir) =>
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
      // Oracle is the direct BETWEEN theta-join the bucket expansion must
      // reproduce pair-for-pair; day numbers via date subtraction (DuckDB's
      // DATE - DATE = integer days = Spark datediff).
      Some("""WITH pts AS (
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
        |FROM pts JOIN iv ON p_day BETWEEN lo_day AND hi_day""".stripMargin)),

    // Map-typed column round-trip: per-order linenumber→quantity map
    // built from sorted entries, then interrogated with element_at /
    // map_keys / map_values. The oracle never builds a map — it derives
    // the same scalars relationally, so the gate is on map SEMANTICS
    // (key order, lookup, fold), not engine representation. map_values
    // fold is exact: quantities are whole-number doubles.
    Case("rel_map_funcs", (s, dir) =>
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
            .as("total_qty")),
      // Relational derivation of the same per-order scalars the map ops
      // compute: q1 via a keyed CASE max, keys_csv via ordered string_agg,
      // total via sum (exact — whole-number doubles).
      Some("""WITH uniq AS (
        |  SELECT l_orderkey, l_linenumber, sum(l_quantity) AS qty
        |  FROM lineitem GROUP BY l_orderkey, l_linenumber)
        |SELECT l_orderkey,
        |       CAST(count(*) AS BIGINT) AS n_lines,
        |       max(CASE WHEN l_linenumber = 1 THEN qty END) AS q1,
        |       string_agg(CAST(l_linenumber AS VARCHAR), ',' ORDER BY l_linenumber)
        |         AS keys_csv,
        |       sum(qty) AS total_qty
        |FROM uniq GROUP BY l_orderkey""".stripMargin)),

    // Wide→long unpivot (the inverse of rel_pivot): four per-line metrics
    // melted to (metric, value) rows, values passed through untouched.
    Case("rel_unpivot", (s, dir) =>
      t(s, dir, "lineitem").filter(col("l_orderkey") % 500 === 0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"), col("l_tax"))
        .unpivot(
          ids = Array(col("l_orderkey"), col("l_linenumber")),
          values = Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          variableColumnName = "metric", valueColumnName = "value"),
      Some("""WITH base AS (
        |  SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
        |         l_discount, l_tax
        |  FROM lineitem WHERE l_orderkey % 500 = 0)
        |SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value FROM base
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM base
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM base
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM base""".stripMargin)),

    // Interval×interval overlap join, both sides bucket-expanded; the
    // canonical-bucket residual (bucket of max(lo_a, lo_b)) makes each
    // overlapping pair surface exactly once with NO distinct pass.
    Case("rel_interval_overlap", { (s, dir) =>
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
      Some("""WITH promos AS (
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
        |FROM promos JOIN audits ON p_lo <= a_hi AND a_lo <= p_hi""".stripMargin)),

    Case("rel_union", (s, dir) =>
      bigSpenders(s, dir).union(buildingCustomers(s, dir)).distinct(),
      Some("""SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000
        |UNION
        |SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'""".stripMargin)),

    Case("rel_intersect", (s, dir) =>
      bigSpenders(s, dir).intersect(buildingCustomers(s, dir)),
      Some("""SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000
        |INTERSECT
        |SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'""".stripMargin)),

    Case("rel_except", (s, dir) =>
      bigSpenders(s, dir).except(buildingCustomers(s, dir)),
      Some("""SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000
        |EXCEPT
        |SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'""".stripMargin)),

    Case("rel_rollup", (s, dir) =>
      t(s, dir, "orders")
        .rollup(year(col("o_orderdate")).cast("long").as("o_year"), col("o_orderpriority"))
        .agg(sum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders")),
      Some("""SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, o_orderpriority,
        |       sum(o_totalprice) AS revenue, count(*) AS n_orders
        |FROM orders GROUP BY ROLLUP (1, 2)""".stripMargin)),

    Case("rel_cube", (s, dir) =>
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_rows")),
      Some("""SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |       count(*) AS n_rows
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin)),

    Case("rel_pivot", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("l_linestatus") === "O", 1L).otherwise(0L)).as("n_open"),
          sum(when(col("l_linestatus") === "F", 1L).otherwise(0L)).as("n_filled"),
          sum(when(col("l_linestatus") === "O", col("l_quantity"))).as("qty_open"),
          sum(when(col("l_linestatus") === "F", col("l_quantity"))).as("qty_filled")),
      Some("""SELECT l_returnflag,
        |       CAST(sum(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
        |       CAST(sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
        |       sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS qty_open,
        |       sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS qty_filled
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    Case("rel_having", (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice")).as("total_spent"), count(lit(1)).as("n_orders"))
        .filter(col("total_spent") > 1500000),
      Some("""SELECT o_custkey, sum(o_totalprice) AS total_spent, count(*) AS n_orders
        |FROM orders GROUP BY o_custkey HAVING sum(o_totalprice) > 1500000""".stripMargin)),

    Case("rel_distinct", (s, dir) =>
      t(s, dir, "lineitem").select(col("l_returnflag"), col("l_linestatus")).distinct(),
      Some("SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem")),

    Case("rel_string_funcs", (s, dir) =>
      t(s, dir, "part")
        .filter(col("p_type").like("%O%"))
        .select(
          col("p_partkey"),
          upper(col("p_name")).as("name_upper"),
          substring(col("p_name"), 1, 8).as("name_prefix"),
          length(col("p_name")).cast("long").as("name_len"),
          concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"),
          regexp_replace(col("p_name"), " ", "_").as("name_snake")),
      Some("""SELECT p_partkey, upper(p_name) AS name_upper,
        |       substr(p_name, 1, 8) AS name_prefix,
        |       CAST(length(p_name) AS BIGINT) AS name_len,
        |       concat_ws('-', p_brand, p_type) AS brand_type,
        |       replace(p_name, ' ', '_') AS name_snake
        |FROM part WHERE p_type LIKE '%O%'""".stripMargin)),

    Case("rel_date_funcs", (s, dir) =>
      t(s, dir, "orders")
        .groupBy(
          year(col("o_orderdate")).cast("long").as("o_year"),
          quarter(col("o_orderdate")).cast("long").as("o_quarter"))
        .agg(count(lit(1)).as("n_orders"), sum(col("o_totalprice")).as("revenue")),
      Some("""SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |       CAST(quarter(o_orderdate) AS BIGINT) AS o_quarter,
        |       count(*) AS n_orders, sum(o_totalprice) AS revenue
        |FROM orders GROUP BY 1, 2""".stripMargin)),

    Case("rel_math_funcs", (s, dir) =>
      t(s, dir, "lineitem")
        .select(
          col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          abs(col("l_discount") - 0.05).as("disc_dev"),
          sqrt(col("l_quantity")).as("qty_sqrt"),
          floor(col("l_extendedprice")).as("price_floor"),
          ceil(col("l_extendedprice")).as("price_ceil"),
          greatest(col("l_tax"), col("l_discount")).as("max_rate")),
      Some("""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |       abs(l_discount - 0.05) AS disc_dev,
        |       sqrt(l_quantity) AS qty_sqrt,
        |       CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
        |       CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
        |       greatest(l_tax, l_discount) AS max_rate
        |FROM lineitem""".stripMargin)),

    Case("rel_case_when", (s, dir) =>
      t(s, dir, "orders")
        .groupBy(when(col("o_totalprice") < 100000, "small")
          .when(col("o_totalprice") < 300000, "medium")
          .otherwise("large").as("price_band"))
        .agg(count(lit(1)).as("n_orders"), avg(col("o_totalprice")).as("avg_price")),
      Some("""SELECT CASE WHEN o_totalprice < 100000 THEN 'small'
        |            WHEN o_totalprice < 300000 THEN 'medium'
        |            ELSE 'large' END AS price_band,
        |       count(*) AS n_orders, avg(o_totalprice) AS avg_price
        |FROM orders GROUP BY 1""".stripMargin)),

    // As-of (backward) join: for every purchase, the user's most recent
    // view at-or-before it (attribution). Right side pre-aggregated to
    // one row per (user, ts) — "the" row at a timestamp must be unique
    // for as-of to be well-defined. Oracle: DuckDB's native ASOF JOIN.
    Case("rel_asof_join", { (s, dir) =>
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("view_value"))
      AsOfJoin.asOfBackward(purchases, views, keyCol = "user_id",
        timeCol = "ts", payloadCols = Seq("view_value"))
    },
      Some("""WITH v AS (
        |  SELECT user_id, ts, max(value) AS view_value
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |p AS (
        |  SELECT event_id, user_id, ts, value
        |  FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.ts, p.value,
        |       v.ts AS asof_time, v.view_value AS asof_view_value
        |FROM p ASOF LEFT JOIN v
        |  ON p.user_id = v.user_id AND p.ts >= v.ts""".stripMargin)),

    // Forward as-of: each error's NEXT signup (inclusive, same single-
    // exchange plan mirrored) — DuckDB replays it as ASOF with <=.
    Case("rel_asof_forward", { (s, dir) =>
      val ev = t(s, dir, "events")
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val signups = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("signup_value"))
      AsOfJoin.asOfForward(errors, signups, keyCol = "user_id",
        timeCol = "ts", payloadCols = Seq("signup_value"))
    },
      Some("""WITH v AS (
        |  SELECT user_id, ts, max(value) AS signup_value
        |  FROM events WHERE event_type = 'signup' GROUP BY 1, 2),
        |p AS (
        |  SELECT event_id, user_id, ts, value
        |  FROM events WHERE event_type = 'error')
        |SELECT p.event_id, p.user_id, p.ts, p.value,
        |       v.ts AS asof_time, v.signup_value AS asof_signup_value
        |FROM p ASOF LEFT JOIN v
        |  ON p.user_id = v.user_id AND p.ts <= v.ts""".stripMargin)),

    // Nearest as-of (merge_asof direction='nearest'): closest signup
    // reading to each error by |Δt|, ties backward — both directional
    // carriers ride ONE window pass over the same single exchange, the
    // pick is per-row integer arithmetic on the two candidate times.
    Case("rel_asof_nearest", { (s, dir) =>
      val ev = t(s, dir, "events")
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val signups = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("signup_value"))
      AsOfJoin.asOfNearest(errors, signups, keyCol = "user_id",
        timeCol = "ts", payloadCols = Seq("signup_value"))
    },
      // Nearest = min(|Δt|) with ties to the backward match. The oracle
      // takes both directional extrema inclusively; at an exact-time tie
      // bt = ft = ts both forms resolve to the same right row with
      // dir = backward, so the engine's exclusive forward frame (the
      // equal-time right row rides the backward carrier) is immaterial.
      Some("""WITH v AS (
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
        |FROM n LEFT JOIN v ON v.user_id = n.user_id AND v.rt = n.mt""".stripMargin)),

    // Time-series densification: hourly grid per user-cohort with LOCF
    // fill across the gaps; the filled VALUE at every grid cell is the
    // gate, so bucketing, span bounds, and carry order all must agree.
    Case("rel_gap_fill", { (s, dir) =>
      val ev = t(s, dir, "events")
        .select((col("user_id") % 23).as("ukey"), col("ts"), col("value"))
      GapFill.fillForward(ev, "ukey", "ts", "value", bucketSeconds = 3600L)
    },
      Some("""WITH obs AS (
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
        |FROM j""".stripMargin)),

    // Write hive-partitioned, read one partition back: the predicate
    // must prune at directory level (OperatorSpec asserts the scan's
    // PartitionFilters), so I/O scales with the selected partition.
    // The oracle is the same filter+agg on the UNPARTITIONED table: any
    // row lost or duplicated by the write/read round-trip turns it red.
    Case("rel_partition_prune", { (s, dir) =>
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
      // Layout round-trips: the oracle reads the ORIGINAL unpartitioned /
      // unbucketed table — any row the write/read cycle loses, duplicates,
      // or mangles turns the hash red.
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT)
        |         AS sum_qty_c
        |FROM lineitem WHERE l_returnflag = 'R'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    // Bucket both sides by the join key at write time, then join with
    // ZERO runtime exchange (OperatorSpec asserts no ShuffleExchange in
    // the executed plan) — the write-once/join-many amortization that
    // makes repeated fact-to-fact joins affordable at 100 TB.
    Case("rel_bucket_join", { (s, dir) =>
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
      Some("""SELECT o_orderpriority, count(*) AS n_items,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT)
        |         AS sum_qty_c
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin)),

    // Batch sessionization (gap > 30 min splits a user's events): the
    // backfill twin of the streaming session window, hash-gated on every
    // session's span and exact decimal value sum.
    Case("rel_sessionize", (s, dir) =>
      // The exact-decimal session value sum leaves the gate as integer
      // MICROS: a scale-6 decimal always renders with trailing zeros
      // ("0.010000"), which a checker that floats one side collapses to
      // "0.01" — scaled BIGINT is renderer-independent.
      Sessionize.sessionize(t(s, dir, "events"), "user_id", "ts", "value",
          gapSec = 1800.0)
        .withColumn("sum_value_micros",
          (col("sum_value") * 1000000).cast("long"))
        .drop("sum_value"),
      // Same boundary rule (STRICT > 30 min on the exact micro-epoch
      // doubles); ties in ts can't split a session, so no id tiebreak is
      // needed (Sessionize scaladoc).
      Some("""WITH e AS (
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
        |FROM s GROUP BY user_id, session_id""".stripMargin)),

    // Exact interpolated percentiles (percentile_cont semantics — the
    // non-sketch twin of rel_approx_quantile's gated t-digest).
    Case("rel_percentiles", (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          percentile(col("o_totalprice"), lit(0.25)).as("p25"),
          percentile(col("o_totalprice"), lit(0.5)).as("p50"),
          percentile(col("o_totalprice"), lit(0.75)).as("p75"),
          count(lit(1)).as("n")),
      Some("""SELECT o_orderpriority,
        |       quantile_cont(o_totalprice, 0.25) AS p25,
        |       quantile_cont(o_totalprice, 0.5) AS p50,
        |       quantile_cont(o_totalprice, 0.75) AS p75,
        |       count(*) AS n
        |FROM orders GROUP BY o_orderpriority""".stripMargin)),

    // Navigation window functions with explicit frames: first/last/nth
    // over a deterministic order — o_orderkey is UNIQUE, so the frame
    // contents are a total order ((l_orderkey, l_linenumber) is not
    // unique in this fixture and would make first/nth ambiguous).
    Case("rel_window_nav", { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        first(col("o_totalprice")).over(w).as("first_price"),
        last(col("o_totalprice")).over(full).as("last_price"),
        nth_value(col("o_totalprice"), 2).over(full).as("second_price"))
    },
      Some("""SELECT o_custkey, o_orderkey,
        |       first_value(o_totalprice) OVER w AS first_price,
        |       last_value(o_totalprice) OVER wf AS last_price,
        |       nth_value(o_totalprice, 2) OVER wf AS second_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey),
        |       wf AS (PARTITION BY o_custkey ORDER BY o_orderkey
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin)),

    // Count-min sketch, gated like the HLL/t-digest rows: the sketch is
    // the driver-mergeable summary (that boundedness IS the operator);
    // the gate asserts its two guarantees against exact counts computed
    // distributively — never under, within eps·N over (seed-fixed, so
    // deterministic; the estimates themselves are engine-defined).
    Case("rel_count_min", { (s, dir) =>
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
      // The sketch's guarantees hold by construction (seed-fixed): the
      // oracle pins the exact counts and expects both booleans true.
      Some("""SELECT l_partkey AS probe_key, count(*) AS exact_n,
        |       true AS never_under, true AS within_eps
        |FROM lineitem WHERE l_partkey BETWEEN 1 AND 5
        |GROUP BY l_partkey""".stripMargin)),

    // SCD2 interval build: each (user, event) change row becomes a
    // [valid_from, valid_to) validity interval, NULL-open for current.
    Case("rel_scd2", (s, dir) =>
      Profile.scd2(t(s, dir, "events"), "user_id", Seq("ts", "event_id"),
        Seq("event_type", "value"))
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("valid_from"), col("valid_to"), col("is_current")),
      Some("""SELECT user_id, event_id, event_type, ts AS valid_from,
        |       lead(ts) OVER w AS valid_to,
        |       lead(ts) OVER w IS NULL AS is_current
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin)),

    // Fixed-grid histogram of order totals: 16 buckets over [0, 400k).
    Case("rel_histogram", (s, dir) =>
      Profile.histogram(t(s, dir, "orders"), "o_totalprice",
        lo = 0.0, hi = 400000.0, nBuckets = 16),
      // width = (400000 - 0) / 16 = 25000 exactly; same floor arithmetic
      Some("""SELECT CAST(floor((o_totalprice - 0.0) / 25000.0) AS BIGINT) AS bucket,
        |       count(*) AS n_rows, min(o_totalprice) AS min_val,
        |       max(o_totalprice) AS max_val
        |FROM orders WHERE o_totalprice >= 0.0 AND o_totalprice < 400000.0
        |GROUP BY 1""".stripMargin)),

    // PSI drift monitor between the pre-/post-1998 order cohorts: per-bin
    // smoothed-rate contributions plus the decimal-summed total — the
    // distribution-shift gate run between ingest batches.
    Case("rel_drift_psi", { (s, dir) =>
      val o = t(s, dir, "orders")
      Profile.psiDrift(
        o.filter(col("o_orderdate") < to_timestamp(lit("1998-01-01"))),
        o.filter(col("o_orderdate") >= to_timestamp(lit("1998-01-01"))),
        "o_totalprice", lo = 0.0, hi = 500000.0, nBuckets = 16)
    },
      Some("""WITH rb AS (SELECT CAST(least(greatest(floor((o_totalprice - 0.0) / 31250.0), 0.0), 15.0) AS BIGINT) AS bucket,
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
        |FROM k""".stripMargin)),

    // Winsorization of the fat-tailed price column into its per-flag
    // [p05, p95] band; the clipped sum accumulates in DECIMAL(18,2) so
    // the gate is fold-order-exact.
    Case("rel_winsorize", (s, dir) =>
      Profile.winsorize(t(s, dir, "lineitem"), "l_returnflag",
          "l_extendedprice", pLo = 0.05, pHi = 0.95)
        .withColumn("sum_winsorized_c",
          (col("sum_winsorized") * 100).cast("long"))
        .drop("sum_winsorized"),
      Some("""WITH cuts AS (SELECT l_returnflag,
        |         quantile_cont(l_extendedprice, 0.05) AS cut_lo,
        |         quantile_cont(l_extendedprice, 0.95) AS cut_hi
        |       FROM lineitem GROUP BY l_returnflag)
        |SELECT l.l_returnflag AS l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CASE WHEN l_extendedprice < cut_lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_lo,
        |       CAST(sum(CASE WHEN l_extendedprice > cut_hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_hi,
        |       CAST(sum(CAST(least(greatest(l_extendedprice, cut_lo), cut_hi)
        |                     AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_winsorized_c
        |FROM lineitem l JOIN cuts c ON l.l_returnflag = c.l_returnflag
        |GROUP BY l.l_returnflag""".stripMargin)),

    // Incremental aggregate maintenance: the materialized view's state
    // (n, decimal sum) computed on the OLD partition is merged with the
    // DELTA batch's partials by pure algebra (sum of sums, sum of
    // counts) — never touching old rows again. The oracle recomputes
    // from the full table, so the gate proves the merge is lossless:
    // the property that lets a 100 TB rollup absorb a daily batch at
    // delta cost.
    Case("rel_delta_merge", { (s, dir) =>
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
      // Relational classification (IS DISTINCT FROM per column) — the
      // operator's md5 row-hash must reach the same verdicts.
      Some("""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |         AS sum_price_cents
        |FROM orders GROUP BY 1""".stripMargin)),

    // Bucket-level sync checksums (the incremental-replication audit:
    // find WHICH key range changed without a full diff): per-bucket
    // order-independent sum of md5-derived row hashes. Digest columns
    // are ints + enum strings only — float formatting never enters the
    // hash, so both engines digest identical bytes. One map-side-
    // combined aggregate; at 100 TB each side computes its table's
    // checksum locally and only nBuckets rows cross the wire.
    Case("rel_bucket_checksums", (s, dir) =>
      t(s, dir, "orders")
        .select(expr("o_orderkey div 1000").as("bucket"),
          conv(substring(md5(concat_ws("|",
              col("o_orderkey"), col("o_custkey"),
              col("o_orderstatus"), col("o_orderpriority"))), 1, 8), 16, 10)
            .cast("long").as("h"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_rows"), sum(col("h")).as("checksum")),
      Some("""SELECT o_orderkey // 1000 AS bucket, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CAST(('0x' || substr(md5(
        |         CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR)
        |         || '|' || o_orderstatus || '|' || o_orderpriority), 1, 8)) AS BIGINT))
        |         AS BIGINT) AS checksum
        |FROM orders GROUP BY 1""".stripMargin)),

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
    Case("rel_incremental_agg", { (s, dir) =>
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
      // The STRONG gate for view maintenance: the oracle recomputes the
      // post-delta table from scratch — the incremental signed-state merge
      // must land on the identical aggregate.
      Some("""WITH cur AS (
        |  SELECT l_returnflag, l_linestatus,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem
        |  WHERE NOT (l_orderkey % 20 <> 0 AND l_orderkey % 17 = 0))
        |SELECT l_returnflag, l_linestatus,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents,
        |       round(CAST(sum(cents) AS BIGINT) / count(*), 6) AS avg_cents
        |FROM cur GROUP BY 1, 2""".stripMargin)),

    // Incremental maintenance of a JOIN view — the delta-join identity:
    // with A_new = A ⊕ ΔA and B_new = B ⊕ ΔB,
    //   V_new = V_old ⊕ agg(ΔA ⋈ B_old) ⊕ agg(A_new ⋈ ΔB)
    // (the ΔA⋈ΔB cross term rides inside the second term). ΔA carries
    // signs (order inserts +1, retractions −1); customers gain rows
    // only. Neither fact table is rescanned beyond V_old's one-time
    // state; the gate is the oracle's from-scratch recompute of
    // A_new ⋈ B_new.
    Case("rel_mv_join", { (s, dir) =>
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
      // From-scratch recompute of the post-delta join view — the strong
      // gate for the delta-join identity.
      Some("""WITH an AS (SELECT o_custkey,
        |              CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |            FROM orders
        |            WHERE o_orderkey % 10 = 0 OR o_orderkey % 13 <> 0),
        |bn AS (SELECT c_custkey, c_nationkey FROM customer)
        |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM an JOIN bn ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin)),

    // TWO-SIDED delta-join maintenance: B (customer) now retracts too.
    // With ΔA = aIns − aDel and ΔB = bIns − bDel,
    //   V_new = V_old ⊕ agg(ΔA ⋈ B_old) ⊕ agg(A_new ⋈ ΔB)
    // where the second term expands to the two signed frames
    // agg(A_new ⋈ bIns)⁺ ⊕ agg(A_new ⋈ bDel)⁻ — retracting a customer
    // retracts every order row it owns from the view, and a nation
    // whose rows net to zero vanishes (the mergeAggStates rule). Gate:
    // the oracle's from-scratch recompute of A_new ⋈ B_new.
    Case("rel_mv_join_2way", { (s, dir) =>
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
      Some("""WITH an AS (SELECT o_custkey,
        |              CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |            FROM orders
        |            WHERE o_orderkey % 10 = 0 OR o_orderkey % 13 <> 0),
        |bn AS (SELECT c_custkey, c_nationkey FROM customer
        |       WHERE c_custkey % 8 = 0
        |          OR (c_custkey % 8 <> 0 AND c_custkey % 9 <> 0))
        |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM an JOIN bn ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin)),

    Case("rel_incremental_detect", { (s, dir) =>
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
      Some("""WITH v1 AS (SELECT * FROM orders WHERE o_orderkey % 10 <> 0),
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
        |WHERE ck_v1 IS DISTINCT FROM ck_v2 OR n_v1 IS DISTINCT FROM n_v2""".stripMargin)),

    // One-pass per-column profile (nulls + exact distincts for every
    // column of orders).
    Case("rel_profile", (s, dir) =>
      Profile.profile(t(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority")),
      Some("""SELECT 'o_orderkey' AS column_name, count(*) AS n_rows,
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
        |       count(DISTINCT o_orderpriority) FROM orders""".stripMargin)),

    // Distribution windows the rel_* suite hadn't covered: ntile buckets
    // + the exact-rational percent_rank/cume_dist pair (ratios of ints —
    // identical doubles on both engines).
    Case("rel_window_ntile", { (s, dir) =>
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
      t(s, dir, "customer").select(
        col("c_custkey"), col("c_nationkey"),
        ntile(4).over(w).as("tile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"))
    },
      Some("""SELECT c_custkey, c_nationkey,
        |       CAST(ntile(4) OVER w AS INT) AS tile,
        |       percent_rank() OVER w AS pct_rank,
        |       cume_dist() OVER w AS cume
        |FROM customer
        |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)""".stripMargin)),

    // HLL++ sketch. The estimate itself is engine-defined, so the gated
    // surface is quantitative: the engine computes BOTH the sketch and the
    // exact count and asserts the estimate lands within ±5%; the oracle's
    // exact counts + `true` make any out-of-bound estimate a hash mismatch.
    Case("rel_approx_distinct", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey")).as("approx"),
          countDistinct(col("l_partkey")).as("exact_parts"),
          countDistinct(col("l_orderkey")).as("exact_orders"))
        .select(col("l_returnflag"), col("exact_parts"), col("exact_orders"),
          (abs(col("approx") - col("exact_parts")).cast("double") /
            col("exact_parts") <= 0.05).as("approx_within_5pct")),
      Some("""SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
        |       count(DISTINCT l_orderkey) AS exact_orders,
        |       true AS approx_within_5pct
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // t-digest-style sketch gated like the HLL row: the engine computes
    // both the approx and the exact median and asserts ±5%.
    Case("rel_approx_quantile", (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(percentile_approx(col("o_totalprice"), lit(0.5), lit(10000)).as("approx_med"),
          median(col("o_totalprice")).as("exact_med"))
        .select(col("o_orderpriority"), col("exact_med"),
          (abs(col("approx_med") - col("exact_med")) / col("exact_med") <= 0.05)
            .as("approx_within_5pct")),
      Some("""SELECT o_orderpriority, median(o_totalprice) AS exact_med,
        |       true AS approx_within_5pct
        |FROM orders GROUP BY o_orderpriority""".stripMargin)),

    Case("rel_array_funcs", (s, dir) =>
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
          array_min(col("embedding")).cast("double").as("min_val")),
      Some("""SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
        |       CAST(embedding[1] AS DOUBLE) AS first_val,
        |       CAST(embedding[-1] AS DOUBLE) AS last_val,
        |       CAST(list_max(embedding) AS DOUBLE) AS max_val,
        |       CAST(list_min(embedding) AS DOUBLE) AS min_val
        |FROM embeddings""".stripMargin)),

    Case("rel_stats", (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          median(col("o_totalprice")).as("median_price"),
          stddev_samp(col("o_totalprice")).as("sd_price"),
          var_samp(col("o_totalprice")).as("var_price"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price")),
      Some("""SELECT o_orderpriority,
        |       median(o_totalprice) AS median_price,
        |       stddev_samp(o_totalprice) AS sd_price,
        |       var_samp(o_totalprice) AS var_price,
        |       min(o_totalprice) AS min_price,
        |       max(o_totalprice) AS max_price
        |FROM orders GROUP BY o_orderpriority""".stripMargin)),

    // Numeric band self-join (|Δprice| ≤ 0.5 — near-equal-amount record
    // matching): bucket quantization + 3-bucket fan equi-join, residual
    // exact filter — no nested loop (the range-join family's value-axis
    // member). The oracle runs the naive theta join; the engine's bucket
    // plan must reproduce its pairs exactly.
    Case("rel_band_join", { (s, dir) =>
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
      // Naive theta form — DuckDB's IEJoin handles it at oracle scale; the
      // engine must reproduce the exact pair set through its bucket plan.
      Some("""SELECT a.o_orderkey AS l_key, b.o_orderkey AS r_key,
        |       a.o_totalprice - b.o_totalprice AS diff
        |FROM orders a JOIN orders b
        |  ON a.o_orderkey < b.o_orderkey
        | AND abs(a.o_totalprice - b.o_totalprice) <= 0.5""".stripMargin)),

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
    Case("rel_quantile_merge", { (s, dir) =>
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
      // The merge of the three shard sketches equals one global bucket
      // aggregate BY ASSOCIATIVITY — the oracle exploits exactly that; the
      // exact side is the identical rank walk at width 1.
      Some("""WITH li AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
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
        |FROM est JOIN ex USING (q_pct)""".stripMargin)),

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
    Case("rel_quantile_retract", { (s, dir) =>
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
      // The log-grid bucket replayed with the same exact integer ops:
      // e = binary digit count - 1, prefix = val >> max(e-11, 0),
      // bucket = e*4096 + prefix; decode = shifts of the bucket's split.
      // All values here are positive, so the mirror branches are inert.
      // From-scratch sketch of the POST-DELTA table — the engine side is
      // the incrementally maintained signed state; equality here IS the
      // IVM guarantee.
      Some("""WITH li AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS val,
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
        |FROM dec""".stripMargin)),

    Case("rel_quantile_log", { (s, dir) =>
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
      Some("""WITH li AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
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
        |FROM dd JOIN ex USING (q_pct)""".stripMargin)),

    Case("rel_hll_merge", { (s, dir) =>
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
      // The oracle pins the exact count and asserts the engine's merged
      // sketch landed inside the tolerance (the rel_approx_quantile gate
      // pattern: TRUE is only reproduced if the estimate is within 2%).
      Some("""SELECT CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_exact,
        |       TRUE AS merge_within_2pct
        |FROM customer""".stripMargin)),

    // Small-file compaction plan: per-day "files" (bytes proxied by row
    // count) packed into contiguous ~25 KB bins by cumulative-sum
    // bucketing — the planner a table service runs before rewriting a
    // fragmented partition. The window runs over the collapsed day
    // frame; integer cumsum, floor-division bin ids → hash-gates.
    Case("rel_compaction_plan", { (s, dir) =>
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
      Some("""WITH f AS (SELECT o_orderdate AS day, CAST(count(*) * 100 AS BIGINT) AS bytes
        |           FROM orders GROUP BY 1),
        |c AS (SELECT day, bytes,
        |       CAST(sum(bytes) OVER (ORDER BY day) AS BIGINT) AS cum FROM f)
        |SELECT CAST((cum - bytes) // 25000 AS BIGINT) AS bin,
        |       CAST(count(*) AS BIGINT) AS n_files,
        |       CAST(sum(bytes) AS BIGINT) AS total_bytes,
        |       min(day) AS min_day, max(day) AS max_day
        |FROM c GROUP BY 1""".stripMargin)),

    // Deterministic column masking for governed exports: digits
    // structurally masked (length/format preserved) plus a stable md5
    // pseudonym — the same masking on every engine/rerun, so masked
    // extracts stay joinable on the pseudonym.
    Case("rel_masking", (s, dir) =>
      t(s, dir, "customer")
        .select(col("c_custkey"),
          regexp_replace(col("c_name"), "[0-9]", "#").as("masked_name"),
          substring(md5(col("c_name")), 1, 12).as("pseudonym"),
          col("c_mktsegment")),
      Some("""SELECT c_custkey,
        |       regexp_replace(c_name, '[0-9]', '#', 'g') AS masked_name,
        |       substr(md5(c_name), 1, 12) AS pseudonym,
        |       c_mktsegment
        |FROM customer""".stripMargin)),

    // k-anonymity / l-diversity audit over (nation, $1000 balance band)
    // quasi-identifiers with the market segment as the sensitive
    // attribute: one grouped aggregate, classes under k=5 or without
    // 3-diverse segments are the release blockers.
    // Bands run over the +$1000-shifted balance so the integer division
    // never sees a negative operand (Spark `div` truncates toward zero,
    // DuckDB `//` floors — they agree only on non-negatives).
    Case("rel_k_anonymity", (s, dir) =>
      Profile.kAnonymity(
        t(s, dir, "customer").select(col("c_nationkey"),
          expr("(CAST(round(c_acctbal * 100) AS BIGINT) + 100000) div 100000")
            .as("bal_band"),
          col("c_mktsegment")),
        Seq("c_nationkey", "bal_band"), "c_mktsegment", k = 5, l = 3),
      Some("""SELECT c_nationkey,
        |       (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 100000 AS bal_band,
        |       CAST(count(*) AS BIGINT) AS class_size,
        |       CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_sensitive,
        |       count(*) >= 5 AS k_anonymous,
        |       count(DISTINCT c_mktsegment) >= 3 AS l_diverse
        |FROM customer
        |GROUP BY 1, 2""".stripMargin)),

    // Local-DP frequency estimation (k-ary randomized response, p=0.75
    // over the 5 market segments): deterministic md5 coins stand in for
    // the device RNG so both engines flip identically; debiased
    // estimates land next to the true counts. Dyadic p ⇒ exact q/(p−q)
    // literals.
    Case("rel_ldp_freq", (s, dir) =>
      Profile.ldpFrequency(t(s, dir, "customer"), "c_custkey",
        "c_mktsegment",
        domain = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
          "MACHINERY"),
        pKeep = 0.75),
      // k-RR replayed: the identical md5 coins (keep test vs the exact
      // integer threshold 750000; fake pick skips the true position), the
      // same dyadic debias literals.
      Some("""WITH dom(pos, seg) AS (SELECT * FROM (VALUES
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
        |FROM cr FULL OUTER JOIN tr ON cr.segment = tr.segment, tot""".stripMargin)),

    // Deequ-style release gate over orders: six constraints in ONE
    // aggregation pass (row floor, key-uniqueness deficit, completeness,
    // value domain, bound, format), plus referential containment of
    // custkeys as a second single-pass suite over the anti-join — the
    // whole audit is two scans regardless of how many checks ride.
    Case("rel_quality_checks", { (s, dir) =>
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
      Some("""WITH m AS (SELECT count(*) AS row_cnt,
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
        |       c = 0 FROM orph""".stripMargin)),

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
    Case("rel_key_skew", { (s, dir) =>
      val stripeWidth = 4096L
      // pinned: the collapsed key frame feeds the intra-bucket rank,
      // the bucket-prefix branch, and the totals — one corpus aggregate,
      // not three (the bm25 lesson). The prefix side is NOT broadcast:
      // its worst case (diverse counts within a stripe) approaches the
      // key frame — the join keys match the intra window's partitioning,
      // so only the small side exchanges; AQE may still broadcast it at
      // runtime when it IS small.
      val cnt = Rounds.checkpoint(t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("x")), eager = false)
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
      Some("""WITH cnt AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS x
        |             FROM orders GROUP BY 1),
        |r AS (SELECT o_custkey, x,
        |             row_number() OVER (ORDER BY x, o_custkey) AS i FROM cnt),
        |t AS (SELECT CAST(sum(x) AS BIGINT) AS sx, CAST(count(*) AS BIGINT) AS nk,
        |             CAST(sum(i * x) AS BIGINT) AS six FROM r)
        |SELECT o_custkey, x AS n_orders,
        |       CAST(x AS DOUBLE) / sx AS share,
        |       CAST(2 * six - (nk + 1) * sx AS DOUBLE) / (nk * sx) AS gini
        |FROM r CROSS JOIN t WHERE i > nk - 5""".stripMargin)),

    // Pairwise Pearson correlation matrix over lineitem's numeric
    // columns, ONE scan: all moment sums accumulate in DECIMAL (exact,
    // fold-order-free), then each corr is a fixed IEEE expression tree
    // over the exact sums — hash-gates where naive corr() would drift in
    // the last ulps of its running accumulation. The 3-row-per-group
    // "matrix" unpivots via explode over the aggregated frame, so the
    // scan+aggregate never re-runs per pair.
    Case("rel_corr_matrix", { (s, dir) =>
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
      // Same DECIMAL moment sums and the same left-associated IEEE corr
      // expression; the 3 pair rows come from the single aggregated CTE.
      Some("""WITH a AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
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
        |FROM a""".stripMargin)),

    Case("skew_salted_join", { (s, dir) =>
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
      Some("""SELECT c_mktsegment, count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin)),

    Case("skew_salted_agg", (s, dir) =>
      Skew.saltedCountSum(t(s, dir, "orders"), "o_orderpriority", "o_totalprice",
        salts = 8, idCols = Seq("o_orderkey")),
      Some("""SELECT o_orderpriority, count(*) AS n_rows,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        |FROM orders GROUP BY o_orderpriority""".stripMargin)),

    // Grouped array aggregation, serialized to a join-string so the
    // output stays checker-sortable; order pinned by array_sort.
    Case("rel_agg_arrays", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          array_join(array_sort(collect_set(col("l_linestatus"))), ",").as("statuses"),
          countDistinct(col("l_linestatus")).as("n_statuses")),
      Some("""SELECT l_returnflag,
        |       array_to_string(list_sort(list(DISTINCT l_linestatus)), ',') AS statuses,
        |       count(DISTINCT l_linestatus) AS n_statuses
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // GROUPING SETS with grouping() disambiguation of "null because
    // aggregated" vs "null in the data".
    Case("rel_grouping_sets", { (s, dir) =>
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(sqlGroupingSets)
    },
      Some(sqlGroupingSets)),

    // 2-D Pareto frontier (maximize price AND recency) over raw orders —
    // the multi-objective selection primitive, run corpus-sized (no
    // pre-aggregation) so the two-level bucketed plan is exercised on
    // the full table. DECIMAL price and integer epoch keep the frontier
    // exact; the oracle is the independent quadratic NOT-EXISTS
    // dominance formulation.
    Case("rel_skyline", { (s, dir) =>
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,2)").as("price"),
        unix_timestamp(col("o_orderdate")).as("odate_s"))
      // price exits as integer cents (decimal renders scale-dependently
      // once a checker floats one side — e.g. a frontier price of x.40).
      Skyline.frontier(o, "price", "odate_s", buckets = 32)
        .withColumn("price_cents", (col("price") * 100).cast("long"))
        .drop("price")
    },
      // Independent quadratic dominance formulation — the two-level
      // bucketed plan must reproduce the textbook NOT-EXISTS answer.
      Some("""WITH s AS (SELECT o_orderkey,
        |             CAST(o_totalprice AS DECIMAL(18,2)) AS price,
        |             CAST(epoch(o_orderdate) AS BIGINT) AS odate_s
        |           FROM orders)
        |SELECT o_orderkey, CAST(price * 100 AS BIGINT) AS price_cents,
        |       odate_s FROM s p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM s q
        |  WHERE q.price >= p.price AND q.odate_s >= p.odate_s
        |    AND (q.price > p.price OR q.odate_s > p.odate_s))""".stripMargin)),

    // Monthly cohort retention over orders: cohort = month of a
    // customer's first order, offset grid counts distinct actives.
    // Integer month algebra (year*12+month) both engines share; counts
    // only, so exact at any scale.
    Case("rel_retention_cohort", (s, dir) =>
      Behavior.retentionCohort(t(s, dir, "orders"),
        entityCol = "o_custkey", dateCol = "o_orderdate"),
      // Same integer month algebra (year*12+month-1) as the operator; the
      // (entity, month) distinct makes the grid count exact without a
      // countDistinct.
      Some("""WITH a AS (SELECT DISTINCT o_custkey AS c,
        |             CAST(year(o_orderdate)*12 + month(o_orderdate) - 1
        |                  AS INT) AS m
        |           FROM orders),
        |c0 AS (SELECT c, min(m) AS m0 FROM a GROUP BY c)
        |SELECT CAST(m0 // 12 AS INT) AS cohort_year,
        |       CAST(m0 % 12 + 1 AS INT) AS cohort_month,
        |       CAST(m - m0 AS INT) AS month_offset,
        |       count(*) AS n_customers
        |FROM a JOIN c0 USING (c)
        |GROUP BY 1, 2, 3""".stripMargin)),

    // First-order Markov transition matrix over each user's ordered
    // event stream (ts with event_id tiebreak): counts + row-normalized
    // probabilities (exact-long division, bit-identical across engines).
    Case("rel_transition_matrix", (s, dir) =>
      Behavior.transitionMatrix(t(s, dir, "events"), entityCol = "user_id",
        tsCol = "ts", idCol = "event_id", typeCol = "event_type"),
      // Same (ts, event_id) total order as the operator's lag window; the
      // probability divides exact longs (the window sum is cast off
      // HUGEINT before the division, which both engines then do in
      // double).
      Some("""WITH x AS (SELECT event_type,
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
        |FROM tm""".stripMargin)),

    // Ordered multi-step funnel signup→view→click→purchase with the
    // earliest-greedy completion rule (strict >). Distinct from
    // stream_funnel, which attributes each purchase to its latest
    // preceding view — this one counts users reaching each PREFIX.
    Case("rel_funnel_steps", (s, dir) =>
      Behavior.funnelSteps(t(s, dir, "events"), entityCol = "user_id",
        tsCol = "ts", typeCol = "event_type",
        steps = Seq("signup", "view", "click", "purchase")),
      // Earliest-greedy prefix completion, strict > at every hop — the
      // scalar-min join chain is the literal definition the engine's
      // array_min/filter chain computes.
      Some("""WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
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
        |UNION ALL SELECT 4, 'purchase', (SELECT count(*) FROM s4)""".stripMargin)),

    // Decile lift / cumulative gains over order values — global rank
    // via the two-level prefix op (never a corpus-wide ORDER BY
    // window), ntile boundaries reproduced exactly, gain/lift as fixed
    // IEEE trees over exact integer-cents sums.
    Case("rel_decile_lift", (s, dir) =>
      Profile.decileLift(t(s, dir, "orders"), keyCol = "o_orderkey",
        valueCol = col("o_totalprice"), n = 10),
      // ntile(10) over (cents DESC, key) is exactly the engine's
      // two-level rank + ntileFromRank; gains/lifts are the same fixed
      // division trees over exact integer sums.
      Some("""WITH v AS (SELECT o_orderkey AS k,
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
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin)),

    // Benford first-digit audit over order totals — the classic
    // data-quality screen for fabricated numeric columns. Digits come
    // from the INTEGER cents string (never from double formatting, which
    // engines render differently); expected log10(1+1/d) and the rounded
    // observed fractions absorb libm variance.
    // Two-sample KS drift test on the same pre/post-1998 split as
    // rel_drift_psi — binning-free, exact integer CDF cross-products,
    // prefix ranks two-level (never a global window).
    Case("rel_ks_test", { (s, dir) =>
      val o = t(s, dir, "orders")
      Profile.ksTest(
        o.filter(col("o_orderdate") < to_timestamp(lit("1998-01-01"))),
        o.filter(col("o_orderdate") >= to_timestamp(lit("1998-01-01"))),
        round(col("o_totalprice") * 100))
    },
      // Merged distinct-value CDF steps, integer cross-products, one
      // division and one critical-value comparison.
      Some("""WITH av AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v
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
        |FROM d""".stripMargin)),

    // Corpus-wide Spearman rank correlation (price cents × quantity),
    // tie-corrected via doubled average ranks; the rank prefix rides
    // the two-level op — no global ORDER BY window anywhere.
    Case("rel_spearman", (s, dir) =>
      Profile.spearman(t(s, dir, "lineitem"),
        round(col("l_extendedprice") * 100), col("l_quantity")),
      // Doubled average ranks per distinct value (2B + c + 1), exact
      // HUGEINT moments, one numerator cast and two sqrt's.
      Some("""WITH v AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS vx,
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
        |FROM s""".stripMargin)),

    // Pearson χ² independence audit: market segment × region over the
    // customer-nation join. Integer counts; e and each cell contrib are
    // fixed IEEE expressions; χ² total decimal-accumulated.
    Case("rel_chi2", { (s, dir) =>
      val c = t(s, dir, "customer").join(t(s, dir, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      Profile.chi2(c.select(col("c_mktsegment").as("a"),
        col("n_regionkey").as("b")), "a", "b")
        .select(col("a").as("segment"), col("b").as("region"), col("o"),
          col("e"), col("contrib"), col("chi2_total"), col("dof"))
    },
      // Marginals joined back per cell; both engines true-divide the same
      // exact integer products, χ² total decimal-summed over all cells.
      Some("""WITH p AS (SELECT c_mktsegment AS a, n_regionkey AS b
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
        |FROM y""".stripMargin)),

    // Gini concentration of order spend per priority class — ranked-
    // prefix-sum identity on exact integer cents, one final division.
    Case("rel_gini", (s, dir) =>
      Profile.gini(t(s, dir, "orders"), "o_orderpriority",
        round(col("o_totalprice") * 100)),
      // Ranked prefix sums in HUGEINT, the identical one-shot division.
      Some("""WITH v AS (SELECT o_orderpriority AS g,
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
        |FROM a""".stripMargin)),

    // EXACT per-group median by distributed rank-select (two-level rank
    // + middle-rank filter) — no global sort, no percentile sketch; the
    // even-n midpoint is one IEEE division over exact integer cents.
    Case("rel_exact_median", (s, dir) =>
      Profile.exactMedian(
        t(s, dir, "lineitem").select(col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"),
          col("l_orderkey"), col("l_linenumber")),
        "l_returnflag", col("cents"), Seq("l_orderkey", "l_linenumber")),
      // Middle-rank selection replayed with a plain partitioned window
      // (the fixture groups are small; the engine's two-level form exists
      // for the corpus-scale group the window can't survive).
      Some("""WITH v AS (SELECT l_returnflag AS g,
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
        |GROUP BY r.g, n.n""".stripMargin)),

    Case("rel_benford", { (s, dir) =>
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
      // Digits from the integer cents string, never double formatting.
      Some("""WITH d AS (SELECT substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
        |                    AS VARCHAR), 1, 1) AS digit,
        |                  count(*) AS n
        |           FROM orders GROUP BY 1),
        |tt AS (SELECT CAST(sum(n) AS DOUBLE) AS t FROM d)
        |SELECT digit, n, round(n / tt.t, 6) AS obs_frac,
        |       round(log10(1 + 1.0 / CAST(digit AS DOUBLE)), 6) AS exp_frac
        |FROM d, tt""".stripMargin)),

    // Null-safe equality join (`<=>`): the null group joins itself
    // instead of falling out — Catalyst still plans it as an equi-join
    // (EqualNullSafe is a join key, not a filter), so it shuffles on the
    // key like any other join rather than degrading to nested-loop.
    Case("rel_nullsafe_join", { (s, dir) =>
      val ev = t(s, dir, "events")
      val nk = when(col("event_type") === "error", lit(null))
        .otherwise(col("event_type"))
      val a = ev.groupBy(nk.as("etype")).agg(sum(col("value")).as("sum_value"))
      val b = ev.groupBy(nk.as("etype")).agg(count(lit(1)).as("n_events"))
      a.join(b, a("etype") <=> b("etype"))
        .select(a("etype"), col("sum_value"), col("n_events"))
    },
      Some("""WITH a AS (SELECT nullif(event_type, 'error') AS etype,
        |                  sum(value) AS sum_value
        |           FROM events GROUP BY 1),
        |     b AS (SELECT nullif(event_type, 'error') AS etype,
        |                  count(*) AS n_events
        |           FROM events GROUP BY 1)
        |SELECT a.etype, a.sum_value, b.n_events
        |FROM a JOIN b ON a.etype IS NOT DISTINCT FROM b.etype""".stripMargin)),

    // Z-order (Morton) clustered write + 2-D box read-back: the oracle is
    // the same box filter + agg on the ORIGINAL table, so any row the
    // clustered round-trip loses or mangles turns the gate red. The
    // file-level skipping the layout exists for is asserted in
    // OperatorSpec (box touches a strict subset of files; a 1-D sort
    // cannot do that for both dimensions at once).
    Case("rel_zorder", { (s, dir) =>
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
      // The oracle reads the ORIGINAL table — the clustered write/read
      // round-trip must preserve every row inside the box.
      Some("""SELECT o_orderstatus, count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |         AS sum_price_cents
        |FROM orders
        |WHERE o_custkey BETWEEN 100 AND 199
        |  AND o_totalprice >= 50000.0 AND o_totalprice < 150000.0
        |GROUP BY o_orderstatus""".stripMargin)),

    // Snapshot diff between two synthetic versions of orders (drop key
    // multiples of 10 from v1, of 7 from v2; bump price on multiples of
    // 3): every non-unchanged key with its classification. The oracle
    // classifies RELATIONALLY (IS DISTINCT FROM on the columns), so the
    // md5 row-hash shortcut inside the operator is itself under test.
    Case("rel_table_diff", { (s, dir) =>
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
      Some("""WITH v1 AS (SELECT * FROM orders WHERE o_orderkey % 10 <> 0),
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
        |   OR v1.o_totalprice IS DISTINCT FROM v2.o_totalprice""".stripMargin)),

    // CDC changelog apply: events as an I/U/D log keyed by user; latest
    // op by (ts, event_id) wins, terminal deletes drop the key.
    Case("rel_cdc_apply", { (s, dir) =>
      val log = t(s, dir, "events").select(
        col("user_id"),
        when(col("event_type") === "signup", "I")
          .when(col("event_type") === "error", "D")
          .otherwise("U").as("op"),
        col("ts"), col("event_id"), col("value"))
      Profile.cdcApply(log, "user_id", "op", Seq("ts", "event_id"), Seq("value"))
    },
      Some("""WITH log AS (SELECT user_id,
        |         CASE event_type WHEN 'signup' THEN 'I'
        |              WHEN 'error' THEN 'D' ELSE 'U' END AS op,
        |         ts, event_id, value FROM events),
        |r AS (SELECT user_id, op, value,
        |        row_number() OVER (PARTITION BY user_id
        |                           ORDER BY ts DESC, event_id DESC) AS rn,
        |        count(*) OVER (PARTITION BY user_id) AS n_ops
        |      FROM log)
        |SELECT user_id, op AS last_op, value, CAST(n_ops AS BIGINT) AS n_ops
        |FROM r WHERE rn = 1 AND op <> 'D'""".stripMargin)),

    // Snapshot read / time travel: the same I/U/D log viewed as an
    // append-only commit log (version = day of month), read AT version 15
    // — per key the latest (version, ts, event_id) commit <= 15 wins, a
    // terminal delete hides the key. One keyed argmax; cdc_apply above is
    // the v = latest special case of this read.
    Case("rel_snapshot_read", { (s, dir) =>
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
      // The same log read at version 15: only commits with day(ts) <= 15
      // participate; latest (v, ts, event_id) per key wins.
      Some("""WITH log AS (SELECT user_id, day(ts) AS v,
        |         CASE event_type WHEN 'signup' THEN 'I'
        |              WHEN 'error' THEN 'D' ELSE 'U' END AS op,
        |         ts, event_id, value FROM events WHERE day(ts) <= 15),
        |r AS (SELECT user_id, v, op, value,
        |        row_number() OVER (PARTITION BY user_id
        |            ORDER BY v DESC, ts DESC, event_id DESC) AS rn
        |      FROM log)
        |SELECT user_id, CAST(v AS BIGINT) AS last_version, op AS last_op, value
        |FROM r WHERE rn = 1 AND op <> 'D'""".stripMargin)),
  )
}
