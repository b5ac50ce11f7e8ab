package graft
package queries

import graft.ops._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Fixtures._

/** Graph analytics over the co-purchase and trade-pair edge lists. */
object GraphQueries {
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
  private[graft] def coPurchaseWeighted(s: SparkSession, dir: String): DataFrame = {
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

  /** Part pairs co-occurring in ≥ 2 orders, canonically oriented (a < b)
    * — the edge list for the graph_* queries. The support threshold is
    * the standard market-basket sparsifier, and it is what keeps the
    * graph workable at ANY scale: the raw co-occurrence graph densifies
    * with the data (sf0.1 already has 1.2M distinct pairs, avg degree
    * ~90, ~50M wedges — the triangle join on it stalls DuckDB and Spark
    * alike), while the support-2 graph stays at a few thousand edges
    * because random pairs rarely repeat. Real co-purchase analytics
    * always mine ABOVE a support floor for exactly this reason. */
  // Emits strictly-canonical distinct edges (a < b, one row per pair —
  // the groupBy(a,b) output under the a < b pair filter).
  private[graft] def coPurchaseEdges(s: SparkSession, dir: String): DataFrame =
    // Pinned at the edge frame itself (not only the symmetrized
    // copies the Graph ops pin internally): every graph_* query ALSO
    // derives an aux frame from it (seed set, node list, degree frame),
    // and without this the aux materialization re-executes the whole
    // build — graph_bfs paid it 2-3× per sample. The triangle,
    // clustering and Leiden ops read it several times and do not pin
    // it again. The support-2 edge list is the frame the docstring
    // argues stays small at any scale, so the pin is a few thousand rows.
    Rounds.checkpoint(coPurchaseWeighted(s, dir)
      .select(col("a"), col("b")), eager = false)

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

  val cases: Seq[Case] = Seq(
    // Degree distribution of the part co-purchase graph (parts sharing
    // an order). The self-join fan-out is bounded per order (≤ C(7,2)
    // pairs for TPC-H line counts), so the edge build is linear.
    Case("graph_degree_dist", (s, dir) =>
      Graph.degreeDistribution(coPurchaseEdges(s, dir)),
      Some(s"""WITH $coPurchaseCte,
         |deg AS (SELECT node, count(*) AS degree
         |        FROM (SELECT a AS node FROM ed UNION ALL SELECT b FROM ed)
         |        GROUP BY node)
         |SELECT degree, count(*) AS n_nodes FROM deg GROUP BY degree""".stripMargin)),

    // Exactly-once triangle count over canonically oriented edges: two
    // equi-joins close wedges, no pair materialized twice.
    Case("graph_triangles", (s, dir) =>
      Graph.triangleStats(coPurchaseEdges(s, dir)),
      Some(s"""WITH $coPurchaseCte,
         |tri AS (SELECT count(*) AS n_triangles
         |        FROM ed e1 JOIN ed e2 ON e1.b = e2.a
         |                   JOIN ed e3 ON e3.a = e1.a AND e3.b = e2.b),
         |nn AS (SELECT count(DISTINCT node) AS n_nodes
         |       FROM (SELECT a AS node FROM ed UNION ALL SELECT b FROM ed)),
         |ne AS (SELECT count(*) AS n_edges FROM ed)
         |SELECT nn.n_nodes, ne.n_edges, tri.n_triangles FROM nn, ne, tri""".stripMargin)),

    // 3-iteration PageRank over the bidirectional customer↔supplier
    // trade graph. Suppliers are namespaced by NEGATION (supplier k is
    // node −(k+1), strictly negative even for key 0): customer keys are
    // ≥ 0 at every scale factor, so the two id spaces stay disjoint no
    // matter how large the keys grow — unlike an additive constant,
    // which o_custkey silently overruns around sf ≥ 67. Unrolled
    // declarative plan; N and out-degrees in-plan; every node emitted
    // (no top-k ordering on a near-tied double).
    Case("graph_pagerank", { (s, dir) =>
      // e pinned at the QUERY site (r15 second pass): the fwd/rev union
      // references the trade-pair distinct twice, and exchange reuse
      // does NOT collapse the duplicate across union legs (plan audit:
      // reused=0 — the tradePairs scaladoc's reuse note predates AQE's
      // per-leg re-planning). Pinning here leaves tradePairs'
      // single-reference consumers (hits, pagerank_directed) untaxed,
      // the measured reason its own persist was rejected.
      val e = Rounds.checkpoint(tradePairs(s, dir))
      val fwd = e.select(col("c").as("src"), (-col("su") - 1).as("dst"))
      val rev = e.select((-col("su") - 1).as("src"), col("c").as("dst"))
      Graph.pagerank(fwd.unionAll(rev), "src", "dst", iters = 3, damping = 0.85)
    },
      Some(pagerankOracleSql)),

    // Personalized PageRank seeded on customers 1..5 over the undirected
    // trade graph: restart mass returns to the seed set, so scores rank
    // graph proximity TO those customers (random-walk-with-restart — the
    // seed-expansion / recommendation primitive). Same unrolled plan
    // shape as graph_pagerank; oracle replays the recurrence.
    Case("graph_ppr", { (s, dir) =>
      import s.implicits._
      // pinned for the two-leg union — same receipt as graph_pagerank
      val e = Rounds.checkpoint(tradePairs(s, dir))
      val fwd = e.select(col("c").as("src"), (-col("su") - 1).as("dst"))
      val rev = e.select((-col("su") - 1).as("src"), col("c").as("dst"))
      val seeds = Seq(1L, 2L, 3L, 4L, 5L).toDF("node")
      Graph.personalizedPagerank(fwd.unionAll(rev), "src", "dst", seeds,
        iters = 3, damping = 0.85)
    },
      Some(pprOracleSql)),

    // Weighted PageRank over the bidirectional trade graph: each edge
    // carries the (customer, supplier) trade count, so rank flows in
    // proportion to relationship VOLUME instead of uniform 1/outdeg —
    // the variant co-occurrence/trade graphs actually use. Same
    // unrolled plan shape as graph_pagerank; oracle replays the
    // weighted recurrence.
    Case("graph_pagerank_weighted", { (s, dir) =>
      // pinned for the two-leg union — same receipt as graph_pagerank
      val e = Rounds.checkpoint(t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey").as("c"), col("l_suppkey").as("su"))
        .agg(count(lit(1)).cast("double").as("w")))
      val fwd = e.select(col("c").as("src"), (-col("su") - 1).as("dst"), col("w"))
      val rev = e.select((-col("su") - 1).as("src"), col("c").as("dst"), col("w"))
      Graph.pagerankWeighted(fwd.unionAll(rev), "src", "dst", "w",
        iters = 3, damping = 0.85)
    },
      Some(pagerankWeightedOracleSql)),

    // PageRank over the DIRECTED customer→supplier graph: suppliers have
    // no outgoing edges, so every one of them is a dangling sink — the
    // query exercises the Σ pr(dangling)/N redistribution (without it,
    // ~half the mass would leak per iteration). Oracle: the same
    // unrolled-CTE recurrence with the dangling term.
    Case("graph_pagerank_directed", { (s, dir) =>
      val e = tradePairs(s, dir)
      Graph.pagerank(e.select(col("c").as("src"), (-col("su") - 1).as("dst")),
        "src", "dst", iters = 3, damping = 0.85, redistributeDangling = true)
    },
      Some(pagerankDirectedOracleSql)),

    // Bounded SCC coloring over the directed trade graph: customers buy
    // from suppliers (c → su), returns flow back (su → c on 'R'
    // lineitems), so cycles exist exactly where a pair trades in both
    // directions. f/b min-label rounds = 3; {f=b} groups are true SCC
    // subsets, the unresolved remainder rides as a constant column.
    Case("graph_scc_bounded", { (s, dir) =>
      // ONE join + ONE keyed aggregate build both edge directions: the
      // (c, su) pair collapses with a has-return flag, then fwd edges
      // come from every pair and back-edges from the flagged ones (the
      // two join+distinct passes this replaces scanned lineitem twice).
      // pairs is pinned (r15 second pass): the union below reads it
      // twice and AQE only reuses the BROADCAST side across the legs —
      // the plan audit showed each leg re-running the orders⋈lineitem
      // shuffle+aggregate (PLANS.md: two separate pair-agg Exchanges,
      // one ReusedExchange only for the orders broadcast).
      val pairs = Rounds.checkpoint(t(s, dir, "orders").join(t(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey").as("c"), (-col("l_suppkey") - 1).as("su"))
        .agg(max(when(col("l_returnflag") === "R", 1).otherwise(0)).as("r")))
      val ed = pairs.select(col("c").as("src"), col("su").as("dst"))
        .unionAll(pairs.filter(col("r") === 1)
          .select(col("su").as("src"), col("c").as("dst")))
      Graph.sccBounded(ed, "src", "dst", rounds = 3)
    },
      // Forward/backward 3-round min-label coloring, both recurrences
      // unrolled; f=b groups only, unresolved count as a constant column.
      Some {
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
    }),

    // The same trade graph decomposed to CONVERGENCE: FW-BW coloring
    // peels exact SCCs until no node is unresolved — the honest-partial
    // caveat of graph_scc_bounded closed. The oracle computes the TRUE
    // decomposition independently via recursive transitive closure
    // (mutual-reachability representatives), so the gate proves the
    // peeling loop lands on the exact answer, not just a fixpoint.
    Case("graph_scc_converged", { (s, dir) =>
      // pairs pinned for the two-leg union — same plan-audit receipt as
      // graph_scc_bounded above (r15 second pass)
      val pairs = Rounds.checkpoint(t(s, dir, "orders").join(t(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey").as("c"), (-col("l_suppkey") - 1).as("su"))
        .agg(max(when(col("l_returnflag") === "R", 1).otherwise(0)).as("r")))
      val ed = pairs.select(col("c").as("src"), col("su").as("dst"))
        .unionAll(pairs.filter(col("r") === 1)
          .select(col("su").as("src"), col("c").as("dst")))
      Graph.sccConverge(ed, "src", "dst")
    },
      // Independent ground truth: full transitive closure (recursive CTE
      // to fixpoint), SCC representative = min over mutual-reachability
      // partners — no peeling, no coloring, a different algorithm
      // entirely, so agreement is evidence of correctness rather than of
      // shared bugs.
      Some(s"""WITH RECURSIVE $tradePairsCte,
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
         |FROM rep GROUP BY scc""".stripMargin)),

    // HITS hubs/authorities over the directed customer→supplier graph
    // (customers only buy, suppliers only sell — pure hub and pure
    // authority sides make the scores interpretable). 3 unrolled
    // iterations, L∞ (max) normalization so the normalizer is
    // fold-order-independent; the oracle replicates the recurrence
    // term for term.
    Case("graph_hits", { (s, dir) =>
      val e = tradePairs(s, dir)
      Graph.hits(e.select(col("c").as("src"), (-col("su") - 1).as("dst")),
        "src", "dst", iters = 3)
    },
      Some(hitsOracleSql)),

    // Degree assortativity (Newman 2002): Pearson r of endpoint degrees
    // over both edge orientations — every moment sum is an exact long,
    // one IEEE expression at the end.
    Case("graph_assortativity", { (s, dir) =>
      val e = coPurchaseEdges(s, dir) // already pinned at the op
      val sym = e.select(col("a").as("u"), col("b").as("v"))
        .unionAll(e.select(col("b").as("u"), col("a").as("v")))
      val deg = sym.groupBy(col("u").as("node")).agg(count(lit(1)).as("d"))
      val m = sym
        .join(deg.select(col("node").as("u"), col("d").as("du")), Seq("u"))
        .join(deg.select(col("node").as("v"), col("d").as("dv")), Seq("v"))
        .agg(count(lit(1)).as("m"), sum(col("du")).as("sx"),
          sum(col("dv")).as("sy"), sum(col("du") * col("dv")).as("sxy"),
          sum(col("du") * col("du")).as("sxx"),
          sum(col("dv") * col("dv")).as("syy"))
      m.select(col("m"),
        ((col("m") * col("sxy") - col("sx") * col("sy")).cast("double") /
          sqrt((col("m") * col("sxx") - col("sx") * col("sx")).cast("double") *
            (col("m") * col("syy") - col("sy") * col("sy")).cast("double")))
          .as("assortativity"))
    },
      Some(s"""WITH $coPurchaseCte,
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
         |FROM mm""".stripMargin)),

    // Local clustering coefficient from the canonical triangle join —
    // per-node triangle credit via one explode, wedge capacity from the
    // degree frame; integer counts, one division.
    Case("graph_clustering_coeff", (s, dir) =>
      Graph.clusteringCoefficient(coPurchaseEdges(s, dir)),
      Some(s"""WITH $coPurchaseCte,
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
         |FROM deg LEFT JOIN tri ON deg.node = tri.node""".stripMargin)),

    // Triangle count under the degree-ordered orientation — hash-gated
    // equal to graph_triangles' id-ordered count (both are total-order
    // orientations of the same graph), while bounding wedge fan-out by
    // √|E| per node — the form that survives a hot hub at 100× scale.
    Case("graph_triangles_deg", (s, dir) =>
      Graph.triangleCountByDegree(coPurchaseEdges(s, dir)),
      // The SAME degree-ordered orientation (tie-break by id), replicated
      // relationally: any orientation disagreement shows up as a different
      // wedge set and a different count.
      Some(s"""WITH $coPurchaseCte,
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
         |FROM w JOIN o ON o.x = w.u AND o.y = w.v""".stripMargin)),

    // Deterministic random walks (node2vec corpus generator) over the
    // support-2 co-purchase graph: 4 md5-driven steps from every node,
    // the full path CSV gated position by position.
    Case("graph_random_walk", (s, dir) =>
      Graph.randomWalks(coPurchaseEdges(s, dir), len = 4, seed = 42L),
      Some(randomWalkOracleSql)),

    // 3-round multi-source BFS from the %97 seed set: hop distances for
    // every node within 3 hops (min-plus relaxation, per-round persist).
    Case("graph_bfs", { (s, dir) =>
      val ed = coPurchaseEdges(s, dir)
      val seeds = ed.select(col("a").as("node"))
        .unionAll(ed.select(col("b").as("node"))).distinct()
        .filter(col("node") % 97 === 0)
      Graph.bfsDistances(ed, seeds, rounds = 3)
    },
      Some(s"""WITH $coPurchaseCte,
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
         |SELECT node, CAST(dist AS BIGINT) AS dist FROM d3""".stripMargin)),

    // Item-item CF recommendations: per part, top-5 co-purchased parts
    // by true cosine over per-order count vectors (support = the exact
    // inner product the edge build already sums; norms = per-part
    // sum of squared order counts). Edge frame and norms only - nothing
    // basket-sized moves.
    Case("graph_item_cf", { (s, dir) =>
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val norms = li.groupBy(col("ok"), col("pk")).agg(count(lit(1)).as("c"))
        .groupBy(col("pk").as("node")).agg(sum(col("c") * col("c")).as("ssq"))
      Graph.itemItemCosine(
        coPurchaseWeighted(s, dir).select(col("a"), col("b"), col("__n").as("w")),
        norms, topK = 5)
    },
      // Same weighted pair build (support kept), per-item squared-count
      // norms, one cosine division, (score DESC, rec) top-5 window.
      Some(s"""WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
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
         |WHERE rnk <= 5""".stripMargin)),

    // Minimum spanning forest (Boruvka rounds) of the weighted
    // co-purchase graph under the strict (w, a, b) order - the unique
    // MSF, so the oracle's independent unrolled replay must produce the
    // identical edge set.
    Case("graph_mst_boruvka", (s, dir) =>
      Graph.mstBoruvka(
        coPurchaseWeighted(s, dir).select(col("a"), col("b"), col("__n").as("w"))),
      Some(boruvkaOracleSql(20))),

    // Weighted shortest paths (3-round Bellman-Ford min-plus) over the
    // customer<->supplier trade graph, edge weight = lineitem count per
    // pair: the weighted generalization of graph_bfs, exact integer
    // distances over <=3-hop paths from the %97 seed customers.
    Case("graph_sssp_weighted", { (s, dir) =>
      // e pinned (r15 second pass): the union below references it twice
      // and exchange reuse does NOT collapse the duplicated
      // orders⋈lineitem aggregate across union legs (the graph_scc plan
      // audit receipt) — so even adj's ONE pin materialization paid
      // the build twice.
      val e = Rounds.checkpoint(t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey").as("c"), col("l_suppkey").as("su"))
        .agg(count(lit(1)).as("w")))
      // pinned: the relaxation joins this frame once per round (and
      // the seed set derives from it) — unpinned, each round would
      // re-run the union over `e` (the bfsDistances discipline)
      val adj = Rounds.checkpoint(e.select(col("c").as("src"), (-col("su") - 1).as("dst"), col("w"))
        .unionAll(e.select((-col("su") - 1).as("src"), col("c").as("dst"), col("w"))),
        eager = false)
      val seeds = adj.select(col("src").as("node")).distinct()
        .filter(col("node") >= 0 && col("node") % 97 === 0)
      Graph.ssspBounded(adj, seeds, rounds = 3)
    },
      // The identical 3-round min-plus recurrence with weights, unrolled.
      Some("""WITH tw AS (SELECT o_custkey AS c, l_suppkey AS su,
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
        |SELECT node, CAST(dist AS BIGINT) AS dist FROM d3""".stripMargin)),

    // Diameter lower bound by double-sweep BFS: sweep 1 from the
    // smallest node, sweep 2 from the farthest node it reaches (tie →
    // smallest id); one exact-integer row. Two bounded single-source
    // BFS passes — the 1-row pivot between them is a broadcast.
    Case("graph_diameter", (s, dir) =>
      Graph.diameterDoubleSweep(coPurchaseEdges(s, dir), rounds = 3),
      // Double-sweep replay: both bounded BFS recurrences unrolled, the
      // pivot (farthest node, tie smallest id) as ORDER BY ... LIMIT 1.
      Some(s"""WITH $coPurchaseCte,
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
         |FROM f3, u, v GROUP BY u.node, v.node""".stripMargin)),

    // Bounded closeness centrality from the same seed set as graph_bfs:
    // per-seed 3-hop BFS balls in one keyed pass, then
    // (reached−1)/Σdist — integer sums, one division, hash-gated.
    Case("graph_closeness", { (s, dir) =>
      val ed = coPurchaseEdges(s, dir)
      val seeds = ed.select(col("a").as("node"))
        .unionAll(ed.select(col("b").as("node"))).distinct()
        .filter(col("node") % 97 === 0)
      Graph.closenessBounded(ed, seeds, rounds = 3)
    },
      Some(s"""WITH $coPurchaseCte,
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
         |FROM d3 GROUP BY seed""".stripMargin)),

    // Seed-sampled bounded Brandes betweenness (3-hop, same seed set):
    // σ forward in exact integers, δ backward as the unrolled dependency
    // recurrence, round(,6) absorbing δ's last-ulp fold drift.
    Case("graph_betweenness", { (s, dir) =>
      val ed = coPurchaseEdges(s, dir)
      val seeds = ed.select(col("a").as("node"))
        .unionAll(ed.select(col("b").as("node"))).distinct()
        .filter(col("node") % 97 === 0)
      Graph.betweennessBounded(ed, seeds)
    },
      // Same per-seed BFS layers; σ/δ recurrences replayed join-for-join.
      Some(s"""WITH $coPurchaseCte,
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
         |GROUP BY node""".stripMargin)),

    // 2 rounds of 2-core peeling over the co-purchase graph (drop
    // degree<2 nodes, recount on the induced subgraph) — the densest-
    // region filter, fixed-round for oracle replay.
    Case("graph_kcore", (s, dir) =>
      Graph.kCorePeel(coPurchaseEdges(s, dir), k = 2, rounds = 2),
      Some(s"""WITH $coPurchaseCte,
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
         |FROM s2 GROUP BY n""".stripMargin)),

    // 2 rounds of 3-truss peeling (drop edges in no triangle, recount on
    // the induced subgraph) — the edge-level densification one notch
    // above graph_kcore; fixed-round for oracle replay, support
    // recomputed on the final subgraph (0 marks a further round's prey).
    Case("graph_ktruss", (s, dir) =>
      Graph.kTrussPeel(coPurchaseEdges(s, dir), k = 3, rounds = 2),
      // Two unrolled 3-truss rounds: triangles enumerated u<v<w over the
      // canonical edge list, three sides per triangle → per-edge support,
      // inner-join (support ≥ k−2 = 1) filter, then the final-subgraph
      // support recount with coalesce-0 for triangle-less survivors.
      Some(s"""WITH $coPurchaseCte,
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
         |FROM r2 e LEFT JOIN s3 ON s3.a = e.a AND s3.b = e.b""".stripMargin)),

    // Partition quality of the 3-round label-prop communities: Newman
    // modularity from integer counts, total decimal-summed.
    Case("graph_modularity", { (s, dir) =>
      val ed = coPurchaseEdges(s, dir) // already pinned at the op
      Graph.modularity(ed, Graph.labelPropagationNodes(ed, rounds = 3))
    },
      // Same l3 label recurrence, then Q = Σ_c [L_c/m − (d_c/2m)²].
      Some(s"""WITH $coPurchaseCte,
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
         |FROM c""".stripMargin)),

    // One synchronized Louvain local-move pass from singleton
    // communities: each node joins the neighbor maximizing the
    // integer-scaled modularity gain 2m·w − d_i·d_j (ties → lowest
    // neighbor id, stay put unless the gain is positive).
    Case("graph_louvain_move", (s, dir) =>
      Graph.louvainLocalMove(coPurchaseEdges(s, dir)),
      // The same scaled-integer gain 2m − d_i·d_j (w = 1), argmax by
      // row_number(ORDER BY g DESC, j) — the relational replay of the
      // struct-max tie-break.
      Some(s"""WITH $coPurchaseCte,
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
         |FROM mem LEFT JOIN intr ON mem.community = intr.community""".stripMargin)),

    // The multi-level step that gives Louvain its power: coarsen by the
    // local-move communities (parallel edges → integer weights, internal
    // edges → self-loops), rerun the synchronized local move on the
    // weighted coarse graph, compose back. Gains stay exact integers
    // (DECIMAL/HUGEINT — weighted terms grow as m²); the oracle replays
    // both levels.
    Case("graph_louvain_multilevel", (s, dir) =>
      Graph.louvainTwoLevel(coPurchaseEdges(s, dir)),
      // Level 1 verbatim, then the weighted coarse pass: community-pair
      // edge weights (self-loops counted twice into weighted degree),
      // HUGEINT gains 2m·w − d_i·d_j, same argmax tie-break, composed
      // rollup over the original edges.
      Some(s"""WITH $coPurchaseCte,
         |$louvainMlCtes
         |${communityRollupSql("fl")}""".stripMargin)),

    // Leiden-style connectivity refinement over the two-level Louvain
    // partition: every community split into the connected components of
    // its induced subgraph, so the Leiden guarantee (no disconnected
    // community) holds; modularity can only rise. The oracle replays the
    // identical Louvain chain, then closes components with an independent
    // recursive transitive closure.
    Case("graph_leiden", (s, dir) =>
      Graph.leidenRefine(coPurchaseEdges(s, dir)),
      // Leiden-style connectivity refinement: replay the identical
      // two-level Louvain chain, then split each community into the
      // connected components of its OWN induced subgraph (recursive
      // transitive closure over within-community edges only — an
      // independent algorithm from the engine's star contraction), and
      // roll up the refined labels.
      Some(s"""WITH RECURSIVE $coPurchaseCte,
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
         |${communityRollupSql("fl2")}""".stripMargin)),

    // The Leiden GUARANTEES themselves, gated at corpus scale: every
    // refined community connected (re-verified by a second, independent
    // component closure over the within-refined edges) and exact-integer
    // modularity non-decrease vs the unrefined Louvain partition
    // (Q·4m² = Σ 4m·l_c − d_c², a BIGINT comparison). The oracle
    // recomputes both invariants with its own recursive closures.
    Case("graph_leiden_quality", (s, dir) =>
      Graph.leidenQuality(coPurchaseEdges(s, dir)),
      // Same chain, then BOTH Leiden invariants recomputed independently:
      // a second recursive closure over the within-REFINED edges for
      // connectivity, and the exact scaled-integer modularity
      // Q·4m² = Σ_c (4m·l_c − d_c²) on each side of the refinement.
      Some(s"""WITH RECURSIVE $coPurchaseCte,
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
         |FROM q1, q2, disc""".stripMargin)),

    // Link prediction by neighbor-set Jaccard: candidates only through
    // shared neighbors (the wedge envelope), score a ratio of exact
    // integers via inclusion-exclusion.
    Case("graph_jaccard_neighbors", (s, dir) =>
      Graph.neighborJaccard(coPurchaseEdges(s, dir),
        minCommon = 2, minJaccard = 0.25),
      Some(s"""WITH $coPurchaseCte,
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
         |WHERE c.common / (da.d + db.d - c.common) >= 0.25""".stripMargin)),

    // 3-round synchronous min-label propagation over the co-purchase
    // graph: each node ends holding the min node id within 3 hops — the
    // fixed-round, oracle-replayable community/component pass (the
    // converging doubling variant lives in dedup_groups).
    Case("graph_components_lp", (s, dir) =>
      Graph.labelPropagation(coPurchaseEdges(s, dir), rounds = 3),
      // The identical 3-round min-label recurrence, unrolled: closed
      // neighborhood = self ∪ in-neighbors over the symmetrized edges.
      Some(s"""WITH $coPurchaseCte,
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
         |FROM l3 GROUP BY lbl""".stripMargin)),

    // TRUE connected components by alternating large-star/small-star
    // contraction (SoCC'14) — O(log² n) rounds regardless of component
    // diameter, where min-label propagation pays one shuffle per hop.
    // The oracle is an INDEPENDENT algorithm (recursive transitive
    // closure to a fixpoint), so the gate checks the answer, not the
    // round structure.
    Case("graph_cc_twostars", (s, dir) =>
      Graph.ccTwoStars(coPurchaseEdges(s, dir)),
      // Independent of the engine's star-contraction rounds: min-reachable
      // id per node via a recursive transitive closure to the fixpoint.
      Some(s"""WITH RECURSIVE $coPurchaseCte,
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
         |FROM lbl GROUP BY lbl""".stripMargin)),

    // Bipartiteness + 2-coloring via the double cover: two CC closures
    // (log-round, never diameter-bounded BFS); color anchored at each
    // component's min node. Odd-cycle components emit NULL colors and
    // is_bipartite=false.
    Case("graph_bipartite", (s, dir) =>
      Graph.bipartiteColor(coPurchaseEdges(s, dir)),
      // Double-cover bipartiteness replayed independently: one recursive
      // min-label closure over the original edges (components), one over
      // the lifted 2v+parity edges (cover labels); color and the
      // bipartite flag are the same label comparisons the engine makes.
      Some(s"""WITH RECURSIVE $coPurchaseCte,
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
         |JOIN lbl2 l1 ON l1.node = l.node * 2 + 1""".stripMargin)),

    // Luby maximal independent set — O(log n) bulk-parallel rounds of
    // deterministic-priority symmetry breaking; every node decided
    // (in/out + round), replayable exactly.
    Case("graph_mis", (s, dir) =>
      Graph.lubyMis(coPurchaseEdges(s, dir)),
      // Luby rounds replayed with the same deterministic priorities
      // (generator above; error() if the unroll is ever too small).
      // Unroll to the engine's round budget (lubyMis maxRounds = 20): a
      // graph converging in 13-20 rounds must pass on BOTH sides, not
      // pass the engine and error() in the oracle. Converged rounds are
      // empty materialized no-ops, so the extra blocks cost ~nothing.
      Some(lubyMisOracleSql(rounds = 20))),

    // Jones–Plassmann greedy coloring: fixed deterministic priorities,
    // each round's local-minimum vertices take the smallest color their
    // colored neighbors don't use — bulk-parallel greedy coloring,
    // replayable round-for-round; active edges only shrink.
    Case("graph_coloring", (s, dir) =>
      Graph.jonesPlassmann(coPurchaseEdges(s, dir)),
      // Jones-Plassmann rounds replayed with the same fixed priorities
      // and the same sorted-rank smallest-missing-color scan (generator
      // above; round budget matches the engine's maxRounds=64).
      Some(jonesPlassmannOracleSql(rounds = 64))),
  )
}
