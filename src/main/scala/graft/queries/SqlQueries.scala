package graft
package queries

import org.apache.spark.sql.graftbridge.GraftBridge
import Fixtures._

/** SQL entry point (the reference exposes none, SURVEY.md §2.5): SQL text
  * that runs on both engines. */
object SqlQueries {
  private val sqlCorrelated: String =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders o
      |WHERE o_totalprice > 2 * (SELECT avg(o_totalprice) FROM orders i
      |                          WHERE i.o_custkey = o.o_custkey)""".stripMargin

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

  val cases: Seq[Case] = Seq(
    // Native expressions through the SQL surface (FunctionRegistry). The
    // query installs them itself: a session built without
    // spark.sql.extensions=graft.GraftExtensions has none.
    Case("sql_native_funcs", { (s, dir) =>
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
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
        |SELECT e.vec_id,
        |       list_reduce(list_transform(range(0, len(e.v)), i -> e.v[i+1] * qv[i+1]), (x,y) -> x + y) /
        |       (sqrt(list_reduce(list_transform(range(0, len(e.v)), i -> e.v[i+1] * e.v[i+1]), (x,y) -> x + y)) *
        |        sqrt(list_reduce(list_transform(range(0, len(qv)), i -> qv[i+1] * qv[i+1]), (x,y) -> x + y))) AS sim
        |FROM e, q WHERE e.vec_id <> 0""".stripMargin)),

    // Correlated scalar subquery through the SQL surface: orders costing
    // more than 2x their customer's average order. Verbatim-shared ANSI.
    // Round-5 registered functions through the SQL surface (struct field
    // access on text_repetition, array result of shingle_md5_keys) — the
    // same codepaths as the Column API, resolved by name via the registry.
    Case("sql_text_funcs", { (s, dir) =>
      GraftBridge.applyFunctionExtensions(new GraftExtensions, s)
      t(s, dir, "documents").createOrReplaceTempView("documents")
      s.sql(
        """SELECT doc_id,
          |       text_repetition(text).n_distinct AS n_distinct,
          |       CAST(size(shingle_md5_keys(text, 3)) AS BIGINT) AS n_shingles
          |FROM documents""".stripMargin)
    },
      Some("""WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |            FROM documents)
        |SELECT doc_id,
        |       CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
        |       CAST(len(list_distinct(list_transform(
        |         range(0, greatest(len(toks) - 2, 0)),
        |         i -> array_to_string(toks[CAST(i + 1 AS INT):CAST(i + 3 AS INT)], ' '))))
        |         AS BIGINT) AS n_shingles
        |FROM tk""".stripMargin)),

    Case("sql_correlated_subquery", { (s, dir) =>
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(sqlCorrelated)
    },
      Some(sqlCorrelated)),

    // The engine's spark.sql surface: same ANSI text runs on Spark and
    // the oracle verbatim. TPC-H Q5-style revenue per nation.
    Case("sql_entrypoint", { (s, dir) =>
      Seq("customer", "orders", "lineitem", "nation", "region")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(sqlQ5)
    },
      Some(sqlQ5)),

    // EXISTS / NOT EXISTS / scalar subqueries through the SQL surface —
    // Catalyst rewrites them to semi/anti/scalar joins; the identical
    // text runs on both engines.
    Case("sql_exists_subquery", { (s, dir) =>
      Seq("customer", "orders").foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(sqlExists)
    },
      Some(sqlExists)),

    // LATERAL VIEW explode through the SQL surface (HiveQL spelling on
    // Spark, unnest on the oracle — same token relation).
    Case("sql_lateral_explode", { (s, dir) =>
      t(s, dir, "documents").createOrReplaceTempView("documents")
      s.sql("""SELECT lang, tok, count(*) AS n
              |FROM documents
              |LATERAL VIEW explode(split(trim(text), '\\s+')) x AS tok
              |GROUP BY lang, tok HAVING count(*) > 100""".stripMargin)
    },
      Some("""WITH tok AS (SELECT lang,
        |    unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents)
        |SELECT lang, tok, count(*) AS n FROM tok
        |GROUP BY lang, tok HAVING count(*) > 100""".stripMargin)),

    // Correlated LATERAL subquery join (Spark 4 + DuckDB share the
    // syntax verbatim): per-order aggregate computed in a lateral
    // derived table; Catalyst decorrelates it to a join + aggregate.
    Case("sql_lateral_join", { (s, dir) =>
      Seq("orders", "lineitem").foreach(n =>
        t(s, dir, n).createOrReplaceTempView(n))
      s.sql(sqlLateralJoin)
    },
      Some(sqlLateralJoin)),

    // Spark 4 native WITH RECURSIVE (transitive reachability over the
    // per-region rank chain) — the identical text runs on the oracle.
    Case("sql_recursive_cte", { (s, dir) =>
      t(s, dir, "nation").createOrReplaceTempView("nation")
      s.sql(sqlRecursive)
    },
      Some(sqlRecursive)),

    // Semi-structured VARIANT through the SQL surface: parse_json once
    // into Spark's binary variant encoding, then typed path extraction
    // (variant_get) — no schema inference pass over the corpus, missing
    // paths are NULL via try_variant_get, and the parse + both gets stay
    // one codegen'd projection. At 100 TB this is the schema-on-read
    // path for ragged event payloads.
    Case("sql_variant", { (s, dir) =>
      t(s, dir, "events").createOrReplaceTempView("events")
      s.sql(
        """SELECT event_type,
          |       sum(variant_get(parse_json(props), '$.k', 'bigint')) AS sum_k,
          |       count(try_variant_get(parse_json(props), '$.missing', 'string')) AS n_miss,
          |       count(1) AS n_events
          |FROM events GROUP BY event_type""".stripMargin)
    },
      Some("""SELECT event_type,
        |       CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
        |       count(json_extract_string(props, '$.missing')) AS n_miss,
        |       count(*) AS n_events
        |FROM events GROUP BY event_type""".stripMargin)),
  )
}
