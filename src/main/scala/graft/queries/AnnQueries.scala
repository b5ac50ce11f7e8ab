package graft
package queries

import graft.ops._
import org.apache.spark.sql.functions._
import Fixtures._
import OracleCtes._

/** Similarity search: exact and approximate nearest neighbours, clustering
  * and projections over the embedding column. */
object AnnQueries {
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

  val cases: Seq[Case] = Seq(
    Case("ann_cosine_topk", (s, dir) =>
      Similarity.bruteForceTopK(
        t(s, dir, "embeddings"),
        t(s, dir, "embeddings").filter(col("vec_id") < 8),
        k = 10),
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 8),
        |p AS (SELECT qid, e.vec_id AS nid,
        |        list_reduce(list_transform(range(0, len(qv)), i -> e.v[i+1] * qv[i+1]), (x,y) -> x + y) /
        |        (sqrt(list_reduce(list_transform(range(0, len(qv)), i -> e.v[i+1] * e.v[i+1]), (x,y) -> x + y)) *
        |         sqrt(list_reduce(list_transform(range(0, len(qv)), i -> qv[i+1] * qv[i+1]), (x,y) -> x + y))) AS sim
        |      FROM q, e WHERE e.vec_id <> qid)
        |SELECT qid AS query_id, nid AS neighbor_id, CAST(rnk AS INT) AS rank, sim
        |FROM (SELECT qid, nid, sim, row_number() OVER (PARTITION BY qid
        |        ORDER BY sim DESC, nid) AS rnk FROM p)
        |WHERE rnk <= 10""".stripMargin)),

    // MMR diversity re-rank of the same 8-query panel: retrieve top-32
    // by exact cosine, then 8 greedy steps of λ·sim − (1−λ)·max-sim-to-
    // selected over the bounded Q×C frame. Raw doubles hash-gate (the
    // cosine + fixed-IEEE-tree discipline of ann_cosine_topk).
    Case("ann_mmr_rerank", (s, dir) =>
      Similarity.mmrRerank(
        t(s, dir, "embeddings"),
        t(s, dir, "embeddings").filter(col("vec_id") < 8),
        candK = 32, k = 8),
      // Unrolled greedy MMR over the replayed cosine retrieval (generator
      // above; λ/μ as exact decimal expansions of the Spark doubles).
      Some(mmrOracleSql(candK = 32, k = 8, lambda = 0.7,
      mu = 0.3))),

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
    Case("ann_mmr_ivf", { (s, dir) =>
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
      Some("SELECT vec_id AS query_id, true AS mmr_ok FROM embeddings WHERE vec_id < 8")),

    // Margin-based bitext mining (Artetxe & Schwenk '19) across the
    // even/odd embedding halves standing in for two languages: cosine
    // relative to both endpoints' k-NN neighborhoods, mutual-best pairs
    // only. Two brute-force retrievals are the only corpus-sized stages
    // (ivfTopK swaps in per direction at corpus scale); raw doubles
    // hash-gate (fixed IEEE margin tree over the sequential-fold
    // cosine).
    Case("ann_bitext_margin", { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity.bitextMargin(
        e.filter(pmod(col("vec_id"), lit(2)) === 0),
        e.filter(pmod(col("vec_id"), lit(2)) === 1), k = 4)
    },
      // Bitext mining replayed: the ann_cosine_topk cosine over the
      // even x odd halves, both directions' top-4 ranks, neighborhood
      // averages folded in rank order (list_reduce over list(sim ORDER BY
      // rk) — IEEE-identical to the engine's 0.0-seeded rank-order fold),
      // the same margin tree, mutual-best filter.
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
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
        |FROM r WHERE k1 = 1 AND k2 = 1""".stripMargin)),

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
    Case("ann_bitext_ivf", { (s, dir) =>
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
      // The exact miner's pair count replayed (same CTE chain); the
      // containment flag is the engine's assertion, literal true here —
      // an IVF recall collapse flips the engine's flag and reds the row.
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
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
        |FROM r WHERE k1 = 1 AND k2 = 1""".stripMargin)),

    // Hybrid retrieval: RRF-fuse the lexical (integer-scaled-idf term
    // overlap, top-50) and vector (brute-force cosine, top-50) rankings
    // for the same 8-query panel; doc_id and vec_id index the same
    // corpus. The fusion itself touches only Q x K rows.
    Case("ann_hybrid_rrf", { (s, dir) =>
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
      // Both source rankings replayed (scaled-idf overlap; the
      // ann_cosine_topk cosine), then the same two-division RRF fold.
      Some("""WITH tok AS (SELECT doc_id,
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
        |WHERE fr <= 10""".stripMargin)),

    // Retrieval-quality MRR@20: per labeled query, the reciprocal rank
    // of the FIRST same-label candidate under exact brute-force cosine
    // ranking (rank > 20 ⇒ miss, rr = 0 — the standard @k convention).
    // The ranking is the bruteForceTopK shape (broadcast queries,
    // k-bounded heaps, Q×k rows shuffle); the label attach joins the
    // corpus label projection against the TINY Q×k frame (broadcast),
    // so nothing corpus-sized moves past the search. rr = 1/rank is one
    // exact IEEE division — hash-gates.
    Case("ann_mrr", { (s, dir) =>
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
      // Same cosine expression and (sim DESC, nid) tie-break as
      // ann_cosine_topk; first relevant = min rank among same-label rows
      // within the top 20.
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
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
        |FROM q LEFT JOIN f ON q.qid = f.qid""".stripMargin)),

    // NDCG@20 retrieval eval next to ann_mrr: binary same-label gains,
    // DCG and the ideal DCG (one window over each query's 20 rows —
    // re-rank by gain desc) accumulated as DECIMAL so the sums are
    // fold-order-free, ONE final division. Integer gains + fixed IEEE
    // log2 terms = the psi/chi2 gating pattern.
    Case("ann_ndcg", { (s, dir) =>
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
      // Same ranked CTE chain as ann_mrr; binary gains, decimal-summed
      // DCG/IDCG, one division.
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
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
        |FROM a""".stripMargin)),

    // Hard-negative mining (contrastive training data prep): top-10
    // most-similar DIFFERENT-label candidates per query — the negatives
    // just across the decision boundary. Label test fused into the
    // codegen'd projection before the k-bounded aggregation.
    Case("ann_hard_negatives", (s, dir) =>
      Similarity.hardNegatives(
        t(s, dir, "embeddings"),
        t(s, dir, "embeddings").filter(col("vec_id") < 8), k = 10),
      // Same ranked chain as ann_mrr with the different-label filter.
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
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
        |WHERE rnk <= 10""".stripMargin)),

    // Matryoshka-style dimension-truncation eval: recall@10 of the
    // 16-dim-prefix cosine ranking against the full 64-dim exact list —
    // the cheap-index-quality question every embedding pipeline asks
    // before storing truncated vectors. Both rankings are exact, so the
    // per-query hit count itself hash-gates (no ok-flag indirection).
    Case("ann_truncated_recall", { (s, dir) =>
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
      // Both rankings exact (full-dim vs 16-dim prefix), per-query overlap.
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
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
        |GROUP BY rf.qid""".stripMargin)),

    Case("ann_lsh_topk", (s, dir) =>
      Similarity.lshTopK(
        t(s, dir, "embeddings"),
        t(s, dir, "embeddings").filter(col("vec_id") < 8),
        k = 10),
      Some(lshOracleSql)),

    Case("ann_ivf_topk", (s, dir) =>
      Similarity.ivfTopK(
        t(s, dir, "embeddings"),
        t(s, dir, "embeddings").filter(col("vec_id") < 8),
        k = 10),
      None),

    // Mean-pooled embedding per group (the embedding-pooling reduction a
    // training pipeline runs per domain/cluster): element-wise mean via
    // posexplode + groupBy(grp, pos). DECIMAL(30,15) accumulation makes
    // the double sums fold-order-independent on both engines (the
    // skew_salted_agg technique), so the means hash-gate exactly.
    Case("ann_mean_pool", (s, dir) =>
      t(s, dir, "embeddings")
        .select((col("vec_id") % 4).as("grp"),
          posexplode(col("embedding").cast("array<double>")))
        .groupBy(col("grp"), col("pos"))
        .agg(count(lit(1)).as("n"),
          (sum(col("col").cast("decimal(30,15)")).cast("double") / count(lit(1)))
            .as("mean"))
        .select(col("grp"), col("pos").cast("long").as("pos"), col("n"), col("mean")),
      Some("""WITH x AS (SELECT vec_id % 4 AS grp, i AS pos,
        |    CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE) AS v
        |  FROM embeddings, unnest(range(0, len(embedding))) AS u(i))
        |SELECT grp, CAST(pos AS BIGINT) AS pos, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(v AS DECIMAL(30,15))) AS DOUBLE) / count(*) AS mean
        |FROM x GROUP BY grp, pos""".stripMargin)),

    // kNN label propagation: every 7th vector plays the unlabeled query
    // set, majority-vote over its 5 nearest labeled neighbors. Integer-
    // only output (votes + labels) — the float similarity never reaches
    // the result, so the gate is exact.
    Case("ann_knn_label", { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity.knnLabel(
          e.filter(col("vec_id") % 7 =!= 0),
          e.filter(col("vec_id") % 7 === 0), k = 5)
        .join(e.select(col("vec_id").as("query_id"),
          col("label").as("true_label")), "query_id")
        .select(col("query_id"), col("true_label"),
          col("predicted_label"), col("votes"))
    },
      // Brute-force kNN + majority vote, replicated relationally with the
      // same (sim DESC, nid) neighbor order and (votes DESC, label) vote
      // tie-break.
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
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
        |FROM w JOIN q ON w.qid = q.qid WHERE rn = 1""".stripMargin)),

    // Int8 scalar quantization: scales cancel in cosine, integer dots are
    // exact in double, and round-half-away-from-zero matches DuckDB's
    // Density clustering: grid-bucketed DBSCAN over the first two
    // embedding dims on a fixed integer grid (round(x·1000) — the shared
    // half-away-from-zero round). eps=30/minPts=4 sits where the fixture
    // splits ~393 core / ~24 border / ~83 noise, so all three kinds and
    // the min-label border rule are exercised; the oracle brute-forces
    // ALL pairs + a recursive component closure — an independent
    // algorithm from the engine's 3x3-cell probe + star contraction.
    Case("ann_dbscan", { (s, dir) =>
      val pts = t(s, dir, "embeddings").select(col("vec_id").as("id"),
        round(element_at(col("embedding"), 1).cast("double") * 1000)
          .cast("long").as("x"),
        round(element_at(col("embedding"), 2).cast("double") * 1000)
          .cast("long").as("y"))
      Similarity.dbscanGrid(pts, eps = 30L, minPts = 4)
        .select(col("id").as("vec_id"), col("x"), col("y"),
          col("kind"), col("cluster"))
    },
      // Quantized twin: q_i = round(v_i / (max|v|/127)) — integer-valued
      // doubles, so the dot folds are exact and the ranking reproduces
      // bit-for-bit. DuckDB round() = half away from zero = the engine's.
      // All-pairs eps-join (the oracle may brute-force; the engine may not)
      // + recursive closure over core-core adjacency; border = min adjacent
      // core cluster; noise = -1.
      Some("""WITH RECURSIVE p AS (
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
        |FROM p LEFT JOIN cl ON p.id = cl.id LEFT JOIN bd ON p.id = bd.id""".stripMargin)),

    // round() — so the oracle replicates the quantized ranking bit-exactly.
    Case("ann_quantized_topk", (s, dir) =>
      Similarity.quantizedTopK(
        t(s, dir, "embeddings"),
        t(s, dir, "embeddings").filter(col("vec_id") < 8),
        k = 10),
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
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
        |WHERE rnk <= 10""".stripMargin)),

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
    Case("ann_ivf_recall", { (s, dir) =>
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
      Some("SELECT vec_id AS query_id, true AS recall_ok FROM embeddings WHERE vec_id < 8")),

    // Hash-gated IVF twin on planted clusterable data: 4 tight, well-
    // separated clusters (cross-cluster cosine < 0.02, within > 0.99), so
    // at nProbe=2 every query's true top-5 provably lives in its probed
    // cells and the IVF list EQUALS the exact brute-force list — which the
    // oracle computes in DuckDB from the same vector literals. This pins
    // the approximate answer itself (routing + scoring + k-bounded merge);
    // ann_ivf_topk stays as the rows-only random-fixture twin.
    Case("ann_ivf_planted", { (s, dir) =>
      import s.implicits._
      val df = plantedClusterVectors.toDF("vec_id", "embedding")
      Similarity.ivfTopK(df, df.filter(col("vec_id") % 10 === 0), k = 5,
        nCells = 4, nProbe = 2, sampleN = 40)
    },
      Some(ivfPlantedOracleSql)),

    // NN-descent k-NN graph on the planted clusters, hash-gated against
    // the EXACT brute-force graph the oracle computes from the same
    // vector literals: 40 nodes / 4 tight clusters, so two
    // neighbor-of-neighbor rounds provably reach every node's true top-5
    // (the ≤4k² candidate fan-out covers the 39-node corpus) and the
    // approximate graph EQUALS exact — pinning init, reverse capping,
    // candidate scoring, and the k-bounded merge, not just a recall
    // floor. Deterministic: seeded hash init, id tie-breaks.
    Case("ann_nndescent_planted", { (s, dir) =>
      import s.implicits._
      val df = plantedClusterVectors.toDF("vec_id", "embedding")
      Similarity.nnDescent(df, k = 5, rounds = 2)
    },
      Some(nnDescentPlantedOracleSql)),

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
    Case("ann_nndescent_recall", { (s, dir) =>
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
      Some("SELECT vec_id AS query_id, true AS recall_ok FROM embeddings WHERE vec_id < 8")),

    // Radius search (all neighbors with cosine ≥ 0.2 — the "everything
    // closer than τ" mode top-k can't answer); threshold filtered inside
    // the codegen'd projection, no aggregate at all.
    Case("ann_range_search", (s, dir) =>
      Similarity.rangeSearch(
        t(s, dir, "embeddings"),
        t(s, dir, "embeddings").filter(col("vec_id") < 8),
        minSim = 0.2),
      // Raw-vector cosine (the knn-label formula), thresholded not ranked.
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 8),
        |p AS (SELECT qid, e.vec_id AS nid,
        |        list_reduce(list_transform(range(0, len(qv)), i -> e.v[i+1] * qv[i+1]), (x,y) -> x + y) /
        |        (sqrt(list_reduce(list_transform(range(0, len(qv)), i -> e.v[i+1] * e.v[i+1]), (x,y) -> x + y)) *
        |         sqrt(list_reduce(list_transform(range(0, len(qv)), i -> qv[i+1] * qv[i+1]), (x,y) -> x + y))) AS sim
        |      FROM q, e WHERE e.vec_id <> qid)
        |SELECT qid AS query_id, nid AS neighbor_id, sim
        |FROM p WHERE sim >= 0.2""".stripMargin)),

    // Product-quantization ANN (4 subspaces × 16 codes, 1 Lloyd round,
    // ADC scoring): vectors stored as 4 code ids, queries scored through
    // a broadcast distance table — all exact integer math, so the entire
    // index-build + query trace hash-gates.
    Case("ann_pq_topk", (s, dir) =>
      Similarity.pqTopK(
        t(s, dir, "embeddings"),
        t(s, dir, "embeddings").filter(col("vec_id") < 8),
        k = 10),
      // PQ replayed exactly: same quantization, per-subspace 1-round
      // Lloyd (keys carry `sub`), codes from the updated codebooks, ADC
      // sum of table distances, (adist, id) rank.
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
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
        |WHERE rnk <= 10""".stripMargin)),

    // IVF-PQ (4 coarse cells route nProbe=2, PQ 4×16 scores the routed
    // candidates): the production ANN composition, fully deterministic
    // and hash-gated — cells, codebooks, codes, routing, and ADC ranks.
    Case("ann_ivfpq_topk", (s, dir) =>
      Similarity.ivfPqTopK(
        t(s, dir, "embeddings"),
        t(s, dir, "embeddings").filter(col("vec_id") < 8),
        k = 10),
      // The full IVF-PQ replay: coarse 1-round Lloyd cells + top-2 routing
      // + the PQ chain + cell-restricted ADC.
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
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
        |WHERE rnk <= 10""".stripMargin)),

    // Distributed Lloyd's k-means over the int8-quantized corpus (K=8,
    // 2 update rounds, init = the first K vectors): the coarse topic-
    // clustering pass run before mixture sampling / per-cluster dedup.
    // Quantization makes every distance and centroid update exact
    // integer math, so the full clustering trace (assignments AND
    // centroids) hash-gates against the oracle's unrolled recurrence.
    Case("ann_kmeans", (s, dir) =>
      // The centroid grid vector leaves the gate as a CSV string: the
      // driver's checker compares scalar cells, not arrays — same boundary
      // rule as pack_chunks / text_vocab_encode.
      Similarity.kmeansQuantized(t(s, dir, "embeddings"), k = 8, iters = 2)
        .withColumn("centroid", array_join(
          col("centroid").cast("array<long>").cast("array<string>"), ",")),
      Some(kmeansOracleSql(2))),

    // Embedding-drift monitor: cluster the corpus once (the ann_kmeans
    // routing), then compare each cluster's mean vector between the
    // even-id and odd-id halves — the per-topic distribution-shift check
    // run between ingest batches (a healthy split drifts ~0; a cluster
    // whose halves diverge flags a changed source). Per-(cid,pos) sums
    // are exact integers; the mean difference is one IEEE division per
    // side and the cross-position Σd² fold is absorbed by round(,6) —
    // the pagerank δ precedent. Clusters missing a half are dropped
    // (drift undefined).
    Case("ann_centroid_drift", { (s, dir) =>
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
      // Same clustering CTE chain; per-(cid,pos) half-sums are exact
      // integers, the Σd² fold-order wobble is absorbed by round(,6).
      Some(s"""${kmeansCtes(2)},
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
         |FROM ag WHERE ne > 0 AND no > 0 GROUP BY cid""".stripMargin)),

    // Dominant principal direction by 2-round power iteration on the
    // quantized Gram matrix — integer-grid iterate, every reduction
    // exact, loadings hash-gated (see Similarity scaladoc).
    Case("ann_pca_power", (s, dir) =>
      Similarity.pcaPowerQuantized(t(s, dir, "embeddings"), iters = 2),
      Some(pcaPowerOracleSql(2))),

    // Centroid-silhouette cluster quality over the k-means routing:
    // exact-integer d², per-row sqrt/ratio trees, per-vector rows.
    Case("ann_silhouette", (s, dir) =>
      Similarity.silhouetteQuantized(t(s, dir, "embeddings"), k = 8,
        iters = 2),
      Some(silhouetteOracleSql(2))),

    // All-but-the-top anisotropy correction: projection onto the PCA
    // direction + residual norm via ‖q‖² − (q·v)², per-row fixed IEEE
    // trees over the broadcast unit direction.
    Case("ann_whiten", (s, dir) =>
      Similarity.removeDominantDirection(t(s, dir, "embeddings"), iters = 2),
      Some(whitenOracleSql(2))),

    // ColBERT-style MaxSim late-interaction retrieval: embeddings play
    // 5-token multi-vector documents (did = vec_id div 5, pos = mod);
    // every 25th document queries the rest for its top-3.
    Case("ann_maxsim_topk", { (s, dir) =>
      val toks = t(s, dir, "embeddings").select(
        expr("vec_id div 5").as("did"), (col("vec_id") % 5).as("dpos"),
        col("embedding").cast("array<double>").as("dvec"))
      val qtoks = toks.filter(col("did") % 25 === 0).select(
        col("did").as("qid"), col("dpos").as("qpos"),
        col("dvec").as("qvec"))
      Similarity.maxSimTopK(toks, qtoks, k = 3)
    },
      // Same sequential-cosine formulation as ann_cosine_topk; the
      // per-document sum folds over list(m ORDER BY qpos), matching the
      // operator's sorted-array reduce term for term.
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
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
        |FROM r WHERE rnk <= 3""".stripMargin)),
  )
}
