package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** One (candidate id, similarity score) pair flowing into top-k selection. */
case class ScoredId(id: Long, score: Double)

/** Bounded top-k aggregator: keeps at most k best (score desc, id asc)
  * entries in its buffer, so a billion candidates per query aggregate in
  * O(k) memory with map-side partial aggregation — the property that makes
  * top-k-per-query scale without `collect_list`ing the full candidate set.
  * Deterministic: ties break on ascending id. */
class TopKAggregator(k: Int) extends Aggregator[ScoredId, Seq[ScoredId], Seq[ScoredId]] {
  private def better(a: ScoredId, b: ScoredId): Boolean =
    a.score > b.score || (a.score == b.score && a.id < b.id)
  private def insert(buf: Seq[ScoredId], a: ScoredId): Seq[ScoredId] =
    if (buf.size >= k && better(buf.last, a)) buf
    else ((a +: buf).sortWith(better)).take(k)
  override def zero: Seq[ScoredId] = Vector.empty
  override def reduce(buf: Seq[ScoredId], a: ScoredId): Seq[ScoredId] = insert(buf, a)
  override def merge(b1: Seq[ScoredId], b2: Seq[ScoredId]): Seq[ScoredId] =
    (b1 ++ b2).sortWith(better).take(k)
  override def finish(r: Seq[ScoredId]): Seq[ScoredId] = r.sortWith(better)
  override def bufferEncoder: Encoder[Seq[ScoredId]] = ExpressionEncoder()
  override def outputEncoder: Encoder[Seq[ScoredId]] = ExpressionEncoder()
}

/** [[TopKAggregator]] with id-dedupe folded INTO the k-bounded buffer,
  * for candidate streams where the same id can arrive more than once but
  * every arrival carries a BIT-IDENTICAL score (deterministic cosine of
  * the same two vectors — nnDescent's re-scored existing edges and
  * repeated hash-draws). Under that precondition, first-wins dedupe
  * inside the buffer equals the `groupBy(id).max` + top-k composition
  * exactly, which retires the dedicated dedupe exchange nnDescent paid
  * before every top-k re-aggregation (one corpus-candidate-sized shuffle
  * per descent round). Buffer stays ≤ k; the contains probe is O(k) per
  * insert with k ≤ ~32 everywhere this is used. */
class TopKDistinctAggregator(k: Int) extends Aggregator[ScoredId, Seq[ScoredId], Seq[ScoredId]] {
  private def better(a: ScoredId, b: ScoredId): Boolean =
    a.score > b.score || (a.score == b.score && a.id < b.id)
  override def zero: Seq[ScoredId] = Vector.empty
  override def reduce(buf: Seq[ScoredId], a: ScoredId): Seq[ScoredId] = {
    // capacity-reject FIRST (O(1)): once the buffer is full most
    // candidates lose to buf.last; an in-buffer id can never lose to
    // buf.last (it IS last or better), so this never wrongly skips the
    // dedupe path. Then the O(k) id scan, then a sorted-position insert
    // (buf is maintained sorted) instead of a full re-sort.
    if (buf.size >= k && better(buf.last, a)) buf
    else if (buf.exists(_.id == a.id)) buf
    else {
      val at = buf.indexWhere(e => better(a, e))
      val ins = if (at < 0) buf :+ a else buf.patch(at, Seq(a), 0)
      if (ins.size > k) ins.init else ins
    }
  }
  override def merge(b1: Seq[ScoredId], b2: Seq[ScoredId]): Seq[ScoredId] = {
    val seen = scala.collection.mutable.HashSet.empty[Long]
    (b1 ++ b2).sortWith(better).filter(e => seen.add(e.id)).take(k)
  }
  override def finish(r: Seq[ScoredId]): Seq[ScoredId] = r.sortWith(better)
  override def bufferEncoder: Encoder[Seq[ScoredId]] = ExpressionEncoder()
  override def outputEncoder: Encoder[Seq[ScoredId]] = ExpressionEncoder()
}

/** Similarity search over an embedding column (`array<float>`).
  *
  * Math is done with higher-order functions on `array<double>` (exact
  * float→double widening, strictly left-to-right accumulation) so results
  * are bit-reproducible and oracle-comparable. All expressions are
  * codegen'd built-ins; the only shuffle is the final per-query top-k
  * aggregation, whose partials are k-bounded.
  */
object Similarity {

  /** Strict left-to-right dot product of two `array<double>` columns —
    * native expression (graft.functions.DotProduct): the HOF formulation
    * (`aggregate(zip_with(...))`) evaluates interpreted per element. */
  def dot(a: Column, b: Column): Column = graft.functions.native.dot_product(a, b)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Bit-identical to dot/(sqrt(dot aa)*sqrt(dot bb)) computed
    * sequentially — the formulation the DuckDB oracle reproduces. */
  def cosine(a: Column, b: Column): Column = graft.functions.native.cosine_sim(a, b)

  /** Exact brute-force top-k cosine neighbors.
    *
    * Plan shape (the 100 TB-safe one): the query set is broadcast — a
    * BroadcastNestedLoopJoin fans each candidate partition over Q query
    * vectors with no shuffle of the candidate table; per-partition partial
    * top-k heaps (TopKAggregator) then shuffle only Q×k rows for the final
    * merge. Output: (query_id, neighbor_id, rank, sim). */
  def bruteForceTopK(candidates: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val topk = udaf(new TopKAggregator(k))
    val cand = candidates.select(
      col("vec_id").as("neighbor_id"),
      col("embedding").cast("array<double>").as("cand_emb"))
    val qry = queries.select(
      col("vec_id").as("query_id"),
      col("embedding").cast("array<double>").as("query_emb"))
    cand
      .join(broadcast(qry), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("cand_emb"), col("query_emb")).as("sim"))
      .filter(col("sim").isNotNull) // degenerate vectors can't rank
      .groupBy(col("query_id"))
      .agg(topk(col("neighbor_id"), col("sim")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(
        col("query_id"),
        col("col.id").as("neighbor_id"),
        (col("pos") + 1).as("rank"),
        col("col.score").as("sim"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR'09) of two
    * per-query rankings — the standard way hybrid retrieval merges a
    * lexical (BM25-class) list with a vector (cosine) list without score
    * calibration: rrf(d) = Σ_lists 1/(c + rank_list(d)), missing-from-a-
    * list contributes 0. Both inputs are (query_id, neighbor_id, rank)
    * frames already truncated to their own top-K, so the fusion is a
    * full outer join on tiny Q×K frames plus one partitioned window —
    * nothing corpus-sized moves here regardless of corpus scale. The
    * rrf value is two fixed IEEE divisions and one add (bit-identical
    * across engines); ties break by neighbor id. Missing ranks surface
    * as 0 (integer, gate-friendly) next to the fused rank. */
  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein,
    * SIGIR'98) — the diversity pass retrieval pipelines run AFTER
    * nearest-neighbor search so the k results aren't k copies of the
    * same near-duplicate: greedily pick
    * argmax λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s), i.e. relevance
    * penalized by the closest already-selected result.
    *
    * Scale shape: the only corpus-sized stage is the candidate
    * retrieval ([[bruteForceTopK]] here; swap in [[ivfTopK]] at corpus
    * scale — the re-rank below never sees the corpus). Candidate
    * embeddings attach by broadcasting the Q×C id frame against the
    * embedding table, the pairwise-sim frame is Q×C×(C−1) rows, and
    * the greedy loop runs k rounds of anti-join + max + argmax over
    * those bounded frames. Both small frames are localCheckpoint'ed at
    * the composition boundary (retrieval lineage would otherwise be
    * re-optimized k times — the graph_leiden lesson).
    *
    * Determinism: sims are the native sequential-fold cosine
    * (bit-identical to the oracle's list_reduce), the MMR score is one
    * fixed IEEE tree on them (λ and 1−λ enter as verbatim literals on
    * both sides, never driver-computed 1−λ), max-redundancy is exact,
    * and argmax ties break on neighbor id — so raw doubles cross the
    * gate unrounded, the [[bruteForceTopK]] precedent. Step 1 has an
    * empty selected set: redundancy 0.0 under the SAME score tree.
    * Returns (query_id, step, neighbor_id, sim, redundancy, mmr). */
  def mmrRerank(candidates: DataFrame, queries: DataFrame, candK: Int,
      k: Int, lambda: Double = 0.7, mu: Double = 0.3): DataFrame = {
    require(k >= 1 && candK >= k, "need 1 <= k <= candK")
    mmrRerankFrom(candidates, bruteForceTopK(candidates, queries, candK),
      k, lambda, mu)
  }

  /** [[mmrRerank]] below the retrieval: re-rank any (query_id,
    * neighbor_id, sim) candidate frame — the corpus-scale composition
    * is `mmrRerankFrom(emb, ivfTopK(...), k)`, where the routed IVF
    * retrieval is the ONLY corpus-sized stage and these frames stay
    * Q×C-bounded. */
  def mmrRerankFrom(candidates: DataFrame, top: DataFrame,
      k: Int, lambda: Double = 0.7, mu: Double = 0.3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, "need k >= 1")
    val emb = candidates.select(col("vec_id"),
      col("embedding").cast("array<double>").as("__e"))
    // ONE materialization of the retrieval output (Q×C rows with
    // embeddings): cand and pairs both derive from it, and without the
    // checkpoint HERE each of their own checkpoints re-executes the
    // corpus-sized retrieval scan
    val ce = Rounds.checkpoint(emb.join(broadcast(top), col("vec_id") === col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("__e")))
    val cand = ce.select(col("query_id"), col("neighbor_id"), col("sim"))
    val pairs = Rounds.checkpoint(ce.select(col("query_id"), col("neighbor_id"), col("__e"))
      .as("a")
      .join(ce.select(col("query_id").as("__qb"),
        col("neighbor_id").as("oid"), col("__e").as("__eb")).as("b"),
        col("query_id") === col("__qb") && col("neighbor_id") =!= col("oid"))
      .select(col("query_id"), col("neighbor_id"), col("oid"),
        cosine(col("__e"), col("__eb")).as("psim")))
    val mmr = (lit(lambda) * col("sim") -
      lit(mu) * col("redundancy")).as("mmr")
    val byQ = Window.partitionBy(col("query_id"))
      .orderBy(col("mmr").desc, col("neighbor_id"))
    var selected: DataFrame = null
    for (s <- 1 to k) {
      val scored =
        if (s == 1) cand.withColumn("redundancy", lit(0.0))
        else {
          val red = pairs
            .join(selected.select(col("query_id"), col("neighbor_id").as("oid")),
              Seq("query_id", "oid"))
            .groupBy(col("query_id"), col("neighbor_id"))
            .agg(max(col("psim")).as("redundancy"))
          cand.join(selected.select(col("query_id"), col("neighbor_id")),
              Seq("query_id", "neighbor_id"), "left_anti")
            .join(red, Seq("query_id", "neighbor_id"))
        }
      val pick = scored.select(col("query_id"), col("neighbor_id"),
          col("sim"), col("redundancy"), mmr)
        .withColumn("__rn", row_number().over(byQ))
        .filter(col("__rn") === 1)
        .select(col("query_id"), lit(s).as("step"), col("neighbor_id"),
          col("sim"), col("redundancy"), col("mmr"))
      val next = Rounds.checkpoint(if (s == 1) pick else selected.union(pick))
      if (s > 1) Rounds.free(selected)
      selected = next
    }
    selected
  }

  def rrfFuse(a: DataFrame, b: DataFrame, c: Int = 60, topK: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(c >= 1 && topK >= 1, "c and topK are positive")
    val fa = a.select(col("query_id"), col("neighbor_id"),
      col("rank").cast("int").as("rank_a"))
    val fb = b.select(col("query_id"), col("neighbor_id"),
      col("rank").cast("int").as("rank_b"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("neighbor_id"))
    fa.join(fb, Seq("query_id", "neighbor_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(c) + col("rank_a")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(c) + col("rank_b")), lit(0.0)))
      .withColumn("fused_rank", row_number().over(w))
      .filter(col("fused_rank") <= topK)
      .select(col("query_id"), col("neighbor_id"),
        coalesce(col("rank_a"), lit(0)).as("rank_a"),
        coalesce(col("rank_b"), lit(0)).as("rank_b"),
        col("rrf"), col("fused_rank"))
  }

  /** Margin-based bitext mining (Artetxe & Schwenk, ACL'19) — the
    * standard parallel-corpus miner: raw cosine over-selects "hub"
    * vectors that are close to EVERYTHING, so each pair is scored by its
    * cosine RELATIVE to both endpoints' neighborhoods,
    * margin(x, y) = cos(x, y) / ((a(x) + b(y)) / 2), where a(x)/b(y)
    * average each side's k nearest cross-lingual cosines; pairs are kept
    * only when MUTUAL — x's best-margin target is y AND y's best-margin
    * source is x (the paper's "max" strategy + mutual filter).
    *
    * Scale shape (the mining batch regime: |src| is a bounded batch of
    * new sentences, |tgt| the corpus): the pair-sim frame is computed
    * ONCE — one candidate-side scan with the query batch broadcast
    * ([[bruteForceTopK]]'s join shape), |src|·|tgt| rows linear in the
    * corpus — and BOTH directions' top-k derive from it: forward per-src
    * lists through the k-bounded [[TopKAggregator]] (map-side partial,
    * never a per-src sort of the corpus), backward per-tgt lists through
    * one row_number window whose partitions are |src|-bounded. The frame
    * is materialized at the boundary (three consumers). Neighborhood
    * averages are k-row folds; candidates are the ≤ (|src|+|tgt|)·k
    * union of both lists; the mutual filter is two partitioned
    * row_number windows over that union — nothing all-pairs anywhere.
    * Symmetric full-corpus mining swaps the retrieval for [[ivfTopK]]
    * per direction; everything below the pair frame is unchanged.
    *
    * Determinism: sims are the sequential-fold cosine computed once per
    * pair (both directions read the same doubles); averages fold in
    * rank order from 0.0 (the oracle's list_reduce over list(sim ORDER
    * BY rank) — IEEE-identical since 0.0 + s₁ = s₁); the margin is one
    * fixed add/halve/divide tree; and argmax ties break on the partner
    * id — raw doubles cross the gate.
    * Returns the mutual pairs (src_id, tgt_id, sim, margin). */
  def bitextMargin(src: DataFrame, tgt: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, "k >= 1")
    val qry = src.select(col("vec_id").as("src_id"),
      col("embedding").cast("array<double>").as("__sv"))
    val cand = tgt.select(col("vec_id").as("tgt_id"),
      col("embedding").cast("array<double>").as("__tv"))
    // Plain cross join (no src_id =!= tgt_id exclusion): the oracle, the
    // property-test replay, and the paper's algorithm all keep identical
    // ids — src/tgt are different LANGUAGES, so equal ids are distinct
    // sentences and excluding them would silently shift neighborhood
    // averages if the op is ever run over overlapping id spaces
    // (ADVICE r13 #1).
    val pairs = Rounds.checkpoint(cand.crossJoin(broadcast(qry))
      .select(col("src_id"), col("tgt_id"),
        cosine(col("__tv"), col("__sv")).as("sim"))
      .filter(col("sim").isNotNull))
    val topk = udaf(new TopKAggregator(k))
    val fwd = pairs.groupBy(col("src_id"))
      .agg(topk(col("tgt_id"), col("sim")).as("top"))
      .select(col("src_id"), posexplode(col("top")))
      .select(col("src_id"), col("col.id").as("tgt_id"),
        (col("pos") + 1).as("rank"), col("col.score").as("sim"))
    val byTgtRank = Window.partitionBy(col("tgt_id"))
      .orderBy(col("sim").desc, col("src_id"))
    val bwd = pairs
      .withColumn("rank", row_number().over(byTgtRank))
      .filter(col("rank") <= k)
      .select(col("src_id"), col("tgt_id"), col("rank"), col("sim"))
    bitextTail(fwd, bwd)
  }

  /** [[bitextMargin]] with the retrieval swapped for [[ivfTopK]] per
    * direction — the SYMMETRIC corpus×corpus mining regime the
    * bitextMargin scale note names: neither side is a bounded batch, so
    * the all-pairs frame is replaced by two routed-cell approximate
    * retrievals (each one cell equi-join, nothing corpus-sized
    * broadcast in either direction), and everything below the
    * directional top-k lists — neighborhood averages, margins, mutual
    * filter — is the identical [[bitextTail]] machinery. The two
    * directions score a shared pair bit-identically (cosine is
    * argument-order symmetric: same index fold, commutative products),
    * so the candidate-union dedup is exact.
    *
    * Precondition (inherited from [[ivfTopK]]'s self-pair exclusion):
    * src and tgt id spaces should be disjoint — a pair with src_id ==
    * tgt_id is dropped by the retrievals. Approximation: a pair both
    * retrievals miss cannot be mined; recall is tuned by nProbe (the
    * gated query measures containment vs the exact miner). */
  def bitextMarginIvf(src: DataFrame, tgt: DataFrame, k: Int,
      nCells: Int = 0, nProbe: Int = 0): DataFrame = {
    require(k >= 1, "k >= 1")
    val fwd = ivfTopK(tgt, src, k, nCells, nProbe)
      .select(col("query_id").as("src_id"),
        col("neighbor_id").as("tgt_id"), col("rank"), col("sim"))
    val bwd = ivfTopK(src, tgt, k, nCells, nProbe)
      .select(col("neighbor_id").as("src_id"),
        col("query_id").as("tgt_id"), col("rank"), col("sim"))
    bitextTail(fwd, bwd)
  }

  /** The retrieval-agnostic tail of margin-based bitext mining: from a
    * per-src forward top-k list and a per-tgt backward top-k list (both
    * (src_id, tgt_id, rank, sim); sims for a pair present in both must
    * be identical doubles), compute both neighborhood averages
    * (rank-ordered folds from 0.0 — the oracle's list_reduce order),
    * score the candidate union by margin = sim / ((a+b)/2), and keep
    * mutual bests (argmax ties on partner id). Everything here is
    * bounded by (|src|+|tgt|)·k rows — nothing all-pairs. */
  private def bitextTail(fwd: DataFrame, bwd: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def nbrAvg(top: DataFrame, idCol: String, avgOut: String) =
      top.groupBy(col(idCol))
        .agg((aggregate(
          array_sort(collect_list(struct(col("rank"), col("sim")))),
          lit(0.0), (acc, x) => acc + x.getField("sim"))
          / count(lit(1))).as(avgOut))
    val af = nbrAvg(fwd, "src_id", "__a")
    val ab = nbrAvg(bwd, "tgt_id", "__b")
    val cands = fwd.select(col("src_id"), col("tgt_id"), col("sim"))
      .unionAll(bwd.select(col("src_id"), col("tgt_id"), col("sim")))
      .distinct()
    val scored = cands.join(af, "src_id").join(ab, "tgt_id")
      .select(col("src_id"), col("tgt_id"), col("sim"),
        (col("sim") / ((col("__a") + col("__b")) / lit(2.0))).as("margin"))
    val bySrc = Window.partitionBy(col("src_id"))
      .orderBy(col("margin").desc, col("tgt_id"))
    val byTgt = Window.partitionBy(col("tgt_id"))
      .orderBy(col("margin").desc, col("src_id"))
    scored
      .withColumn("__r1", row_number().over(bySrc))
      .withColumn("__r2", row_number().over(byTgt))
      .filter(col("__r1") === 1 && col("__r2") === 1)
      .select(col("src_id"), col("tgt_id"), col("sim"), col("margin"))
  }

  /** kNN label propagation (weak supervision): each unlabeled query vector
    * takes the majority label of its k nearest labeled neighbors by cosine
    * — the standard way a training pipeline extends a small labeled seed
    * set over a large corpus. Tie-break: more votes wins, then the
    * smaller label id, so the vote is engine-independent and the output
    * is integer-only (exact hash gate; no float enters the ranking).
    *
    * Scale shape: neighbor search is [[bruteForceTopK]] (broadcast
    * queries, k-bounded aggregation — swap in [[ivfTopK]]/[[lshTopK]]
    * for corpus-scale candidate pruning, the vote below is unchanged);
    * the label attach joins |Q|·k neighbor rows against the candidate
    * labels on vec_id, then the vote is a two-level keyed aggregation
    * over |Q|·k rows — nothing corpus-sized past the search. */
  def knnLabel(candidates: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nn = bruteForceTopK(candidates, queries, k)
    val labels = candidates.select(
      col("vec_id").as("neighbor_id"), col("label").as("nbr_label"))
    val vote = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("nbr_label"))
    nn.join(labels, "neighbor_id")
      .groupBy(col("query_id"), col("nbr_label"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("__rn", row_number().over(vote))
      .filter(col("__rn") === 1)
      .select(col("query_id"), col("nbr_label").as("predicted_label"),
        col("votes"))
  }

  /** Deterministic random hyperplanes for sign-bit (SimHash-style) vector
    * LSH, seeded so both sides of a join bucket identically. */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-bit LSH bucket id of an `array<double>` embedding: bit i = sign
    * of dot(v, plane_i). One native expression holding the whole plane
    * matrix — the previous `array(lit...)`-per-plane formulation grew the
    * plan O(nPlanes x dim) (VERDICT r1 #4); this one is O(1) plan size at
    * any nPlanes. nPlanes ≤ 62 so the bucket fits a long. */
  def lshBucket(v: Column, planes: Seq[Seq[Double]]): Column =
    graft.functions.vectornative.lsh_bucket(v, planes)

  /** IVF (inverted-file) approximate top-k: vectors are routed to their
    * nearest of `nCells` centroids; each query probes its `nProbe`
    * nearest cells and scores only those cells' vectors.
    *
    * Centroid training is deliberately driver-side over a bounded,
    * deterministic sample (first `sampleN` vectors by id, `iters` Lloyd
    * iterations) — at 100 TB the sample stays fixed-size, the centroids
    * broadcast as literals, and the per-row work is nCells dot products.
    * Assignment and probing shuffle only on the cell id (equi-join), the
    * same scale shape as the LSH variant; recall is tuned by nProbe. */
  def ivfTopK(candidates: DataFrame, queries: DataFrame, k: Int,
      nCells: Int = 0, nProbe: Int = 0, sampleN: Int = 256,
      iters: Int = 5): DataFrame = {
    // nCells <= 0 (the default) derives the cell count from the corpus:
    // ceil(sqrt(N)) — the standard IVF sizing that keeps per-cell
    // occupancy ~sqrt(N) so neither the routing scan (queries × nCells
    // dot products) nor the probed-cell scan (nProbe × N/nCells) grows
    // linearly in N (SCALE.md "bitext IVF" row; VERDICT r14 #3). Clamped
    // to the training sample size — past sampleN cells the driver-side
    // k-means has fewer points than centroids; raise sampleN alongside
    // at real scale (it stays a fixed-size bounded collect either way).
    // The count is one columnar metadata-backed job over the candidate
    // frame, paid once per build — the same order as the sample collect.
    val nCellsEff =
      if (nCells > 0) nCells
      else {
        val n = candidates.count()
        math.max(2, math.min(sampleN.toLong,
          math.ceil(math.sqrt(n.toDouble)).toLong)).toInt
      }
    // nProbe <= 0 (the default) derives the probe count as HALF the
    // cells. nProbe is the recall knob and its right value is a
    // FRACTION of nCells, not an absolute (probing 8 of 16 cells and 8
    // of 45 cells are different algorithms): when the sizing rule grows
    // nCells with the corpus, a fixed nProbe silently collapses recall —
    // measured on the near-uniform random fixture: derived cells with
    // nProbe pinned at 8 took min recall@10 from 0.7 to 0.1 at sf0.1.
    // Half-the-cells reproduces the gated fixtures' measured floors at
    // every sf; clustered real corpora tune it DOWN (the planted-cluster
    // spec holds recall 1.0 at nProbe = 2 of 4).
    val nProbeEff =
      if (nProbe > 0) nProbe else math.max(2, (nCellsEff + 1) / 2)
    val sample = candidates.orderBy(col("vec_id")).limit(sampleN)
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
    require(sample.length >= nCellsEff, s"need >= $nCellsEff sample vectors")
    val dim = sample.head.length
    // Lloyd's k-means on the sample, deterministic (fixed seed + fixed
    // sample order). Init = k-means++ D²-sampling: first-nCells init
    // collapses when the sample is ordered (the first nCells vectors can
    // all come from one cluster), and pure farthest-point chases outliers
    // on unclustered data — D² sampling handles both regimes.
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val t = a(i) - b(i); s += t * t; i += 1 }
      s
    }
    var centroids = {
      val rnd = new scala.util.Random(17)
      val chosen = Array.fill(nCellsEff)(0)
      val minD = Array.fill(sample.length)(Double.MaxValue)
      for (c <- 1 until nCellsEff) {
        var i = 0
        while (i < sample.length) {
          val d = d2(sample(i), sample(chosen(c - 1)))
          if (d < minD(i)) minD(i) = d
          i += 1
        }
        val total = minD.sum
        chosen(c) = if (total <= 0) c % sample.length
        else {
          val r = rnd.nextDouble() * total
          var acc = 0.0; var pick = sample.length - 1
          var j = 0
          var found = false
          while (j < sample.length && !found) {
            acc += minD(j)
            if (acc >= r) { pick = j; found = true }
            j += 1
          }
          pick
        }
      }
      chosen.map(i => sample(i).clone())
    }
    for (_ <- 0 until iters) {
      val sums = Array.fill(nCellsEff)(new Array[Double](dim))
      val counts = new Array[Int](nCellsEff)
      sample.foreach { v =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < nCellsEff) {
          var d = 0.0; var i = 0
          while (i < dim) { val t = v(i) - centroids(c)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c))
      }.toArray
    }
    // cell assignment: argmin_c ||v||² - 2·v·c + ||c||² (‖v‖² constant per
    // row ⇒ argmin of (||c||² - 2·v·c)), index tie-break. The centroid
    // matrix rides inside ONE native expression (plan size O(1) in nCells,
    // shipped via the task-binary broadcast) — the previous per-centroid
    // `array(lit...)` literals grew the plan O(nCells x dim) and broke
    // codegen at realistic cell counts (VERDICT r1 #4).
    val cSeq: Seq[Seq[Double]] = centroids.toSeq.map(_.toSeq)
    val topk = udaf(new TopKAggregator(k))
    val cand = candidates.select(
      col("vec_id").as("neighbor_id"),
      col("embedding").cast("array<double>").as("cand_emb"))
      .withColumn("cell",
        graft.functions.vectornative.nearest_centroid(col("cand_emb"), cSeq))
    val qry = queries.select(
      col("vec_id").as("query_id"),
      col("embedding").cast("array<double>").as("query_emb"))
      .withColumn("cell",
        explode(graft.functions.vectornative.probe_centroids(col("query_emb"), cSeq, nProbeEff)))
    cand
      .join(qry, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("cand_emb"), col("query_emb")).as("sim"))
      .filter(col("sim").isNotNull)
      .groupBy(col("query_id"))
      .agg(topk(col("neighbor_id"), col("sim")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(
        col("query_id"),
        col("col.id").as("neighbor_id"),
        (col("pos") + 1).as("rank"),
        col("col.score").as("sim"))
  }

  /** Int8-quantized brute-force top-k: both sides are scalar-quantized
    * ([[graft.functions.QuantizeInt8]]) and ranked by the cosine of the
    * QUANTIZED vectors — the per-vector scales cancel in cosine, so there
    * is no dequantization step, and the integer-valued dots are exact in
    * double (≤ dim·127²), making the ranking bit-reproducible and
    * oracle-comparable. Same broadcast + k-bounded-partials plan as
    * [[bruteForceTopK]]; the point at 100 TB is the 4× smaller candidate
    * payload (int8 vs float32) crossing memory and any shuffle. Output:
    * (query_id, neighbor_id, rank, qsim). */
  def quantizedTopK(candidates: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val topk = udaf(new TopKAggregator(k))
    def quant(df: DataFrame, idName: String, vecName: String): DataFrame =
      df.select(col("vec_id").as(idName),
        graft.functions.vectornative
          .quantize_int8(col("embedding").cast("array<double>")).as(vecName))
    quant(candidates, "neighbor_id", "cand_q")
      .join(broadcast(quant(queries, "query_id", "query_q")),
        col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("cand_q"), col("query_q")).as("qsim"))
      .filter(col("qsim").isNotNull)
      .groupBy(col("query_id"))
      .agg(topk(col("neighbor_id"), col("qsim")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(
        col("query_id"),
        col("col.id").as("neighbor_id"),
        (col("pos") + 1).as("rank"),
        col("col.score").as("qsim"))
  }

  /** Evaluation helper: per-query recall of an approximate top-k result
    * against the exact one (both in (query_id, neighbor_id, ...) shape).
    * Collects to the driver — an offline quality metric over a bounded
    * query sample, not a pipeline operator. */
  def recallAtK(exact: DataFrame, approx: DataFrame): Map[Long, Double] = {
    def sets(df: DataFrame): Map[Long, Set[Long]] =
      df.select(col("query_id"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val e = sets(exact)
    val a = sets(approx)
    e.map { case (q, ns) =>
      q -> a.getOrElse(q, Set.empty).intersect(ns).size.toDouble / ns.size
    }
  }

  /** Radius (range) search: ALL neighbors with cosine ≥ minSim, not a
    * top-k — the retrieval mode dedup thresholds and recall audits need
    * (a top-k can't answer "everything closer than τ"). Same
    * broadcast-fan shape as [[bruteForceTopK]] but the aggregate
    * disappears entirely: the threshold filter runs inside the codegen'd
    * projection, so the only output rows crossing the plan are actual
    * matches. */
  def rangeSearch(candidates: DataFrame, queries: DataFrame,
      minSim: Double): DataFrame =
    candidates.select(col("vec_id").as("neighbor_id"),
        col("embedding").cast("array<double>").as("cand_emb"))
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
          col("embedding").cast("array<double>").as("query_emb"))),
        col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("cand_emb"), col("query_emb")).as("sim"))
      .filter(col("sim").isNotNull && col("sim") >= minSim)

  /** Hard-negative mining for contrastive training: per query, the top-k
    * most-similar candidates with a DIFFERENT label — the highest-value
    * negatives (easy negatives teach nothing; these sit just across the
    * decision boundary). Same broadcast-fan + k-bounded aggregation shape
    * as [[bruteForceTopK]], with the label test fused into the codegen'd
    * projection so non-candidates never reach the aggregator. Swap the
    * candidate side for [[ivfTopK]]/[[lshTopK]] routing at corpus scale.
    * Output: (query_id, query_label, neighbor_id, rank, sim). */
  def hardNegatives(candidates: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val topk = udaf(new TopKAggregator(k))
    val cand = candidates.select(
      col("vec_id").as("neighbor_id"), col("label").as("neighbor_label"),
      col("embedding").cast("array<double>").as("cand_emb"))
    val qry = queries.select(
      col("vec_id").as("query_id"), col("label").as("query_label"),
      col("embedding").cast("array<double>").as("query_emb"))
    cand
      .join(broadcast(qry), col("neighbor_id") =!= col("query_id") &&
        col("neighbor_label") =!= col("query_label"))
      .select(col("query_id"), col("query_label"), col("neighbor_id"),
        cosine(col("cand_emb"), col("query_emb")).as("sim"))
      .filter(col("sim").isNotNull)
      .groupBy(col("query_id"), col("query_label"))
      .agg(topk(col("neighbor_id"), col("sim")).as("top"))
      .select(col("query_id"), col("query_label"), posexplode(col("top")))
      .select(col("query_id"), col("query_label"),
        col("col.id").as("neighbor_id"), (col("pos") + 1).as("rank"),
        col("col.score").as("sim"))
  }

  /** NN-descent k-NN-graph construction (Dong et al., "Efficient k-nearest
    * neighbor graph construction for generic similarity measures", WWW'11):
    * start from a hash-random k-neighbor graph and improve it round by
    * round by scoring neighbor-of-neighbor candidates — "a good neighbor's
    * neighbor is likely a good neighbor". The distributable member of the
    * graph-ANN family (the cluster-side counterpart of HNSW's build
    * phase); unlike IVF/LSH it needs no trained index and adapts to local
    * density.
    *
    * Scale shape (the 100 TB-safe one) — every stage is keyed on node id,
    * no global window, no driver-side vectors:
    *  - Init gives every node k iid pseudo-random neighbors: nodes are
    *    ranked in seeded-hash order ([[TwoLevelRank.rank]] — never a
    *    global-sort window), each node draws k hash-random target ranks,
    *    and one keyed join maps ranks back to nodes. IID draws matter:
    *    the obvious "hash nodes into k+1-sized groups, all pairs within"
    *    init is CLOSED under neighbor-of-neighbor expansion (each
    *    group's lists point only inside the group, so round 1 generates
    *    zero new candidates — measured, not hypothetical) and the
    *    descent never leaves its init cliques.
    *  - Per round, the reverse edge set is re-capped to k per node by the
    *    same bounded [[TopKAggregator]] (a hub that is reverse-neighbor of
    *    millions keeps only its best k — Dong et al.'s reverse sampling),
    *    so the undirected neighborhood is ≤ 2k and the
    *    neighbor-of-neighbor fan-out ≤ 4k² per node. Candidate scoring
    *    attaches vectors via two keyed joins against the persisted
    *    embedding frame; the merge with the current graph dedupes on
    *    (node, cand) INSIDE the k-bounded aggregator
    *    ([[TopKDistinctAggregator]] — a re-scored existing edge's cosine
    *    is bit-identical, so first-wins dedupe in the buffer equals the
    *    former max()-collapse pre-pass while retiring its dedicated
    *    exchange every round).
    *  - The per-round graph is localCheckpoint'ed and the superseded
    *    round freed (the bpeLoop discipline), keeping the logical plan
    *    linear in rounds and executor storage O(1) in rounds.
    *
    * One driver-side scalar (count, sizing the init groups) is the only
    * non-distributed step. Deterministic end-to-end: seeded hash init,
    * bit-reproducible cosine, id tie-breaks — reruns and both engines of
    * the gate agree. Returns the full k-NN graph:
    * (node_id, neighbor_id, rank, sim). */
  def nnDescent(vectors: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 5, "rounds in [1,5] (jobs grow per round)")
    // Dedupe-aware top-k (r15 perf pass): candidate streams here repeat
    // ids only with bit-identical scores (same deterministic cosine), so
    // folding the dedupe into the k-bounded buffer replaces the former
    // groupBy(node, cand).max pre-pass — one candidate-sized exchange
    // per round (plus one at init) retired with identical output.
    val topk = udaf(new TopKDistinctAggregator(k))
    val emb = Rounds.checkpoint(vectors.select(col("vec_id").cast("long").as("node"),
      col("embedding").cast("array<double>").as("v")), eager = false)
    // aggregated graph shape: (node, top: array<struct<id,score>>), k-bounded
    def topkAgg(scored: DataFrame): DataFrame =
      scored.groupBy(col("node")).agg(topk(col("cand"), col("sim")).as("top"))
    def edges(agg: DataFrame): DataFrame =
      agg.select(col("node"), explode(col("top")).as("e"))
        .select(col("node"), col("e.id").as("cand"), col("e.score").as("sim"))
    val n = emb.count()
    // rank nodes in seeded-hash order (stripe = high hash bits: monotone
    // in the order, so the two-level precondition holds), 0-based
    val ranked = TwoLevelRank.rank(
      emb.withColumn("__h", xxhash64(lit("nnd-order"), col("node"))),
      Seq(), Seq(), expr("__h div 281474976710656"), Seq("__h", "node"), "__r")
    val byRank = ranked.select((col("__r") - 1).as("__tr"),
      col("node").as("cand"), col("v").as("cv"))
    // k iid target-rank draws per node; duplicate draws collapse in the
    // (node, cand) dedupe below so the aggregator never sees twins
    val draws = emb.select(col("node"), col("v"),
        explode(sequence(lit(1), lit(k))).as("__j"))
      .select(col("node"), col("v"),
        pmod(xxhash64(lit("nnd-init"), col("node"), col("__j")), lit(n)).as("__tr"))
    var knn = Rounds.checkpoint(topkAgg(draws
      .join(byRank, Seq("__tr"))
      .filter(col("node") =!= col("cand"))
      .select(col("node"), col("cand"), cosine(col("v"), col("cv")).as("sim"))
      .filter(col("sim").isNotNull)))
    for (_ <- 1 to rounds) {
      val cur = edges(knn)
      val rev = edges(topkAgg(
        cur.select(col("cand").as("node"), col("node").as("cand"), col("sim"))))
      // pinned: und feeds BOTH sides of the neighbor-of-neighbor
      // self-join below — unpinned, each side would recompute the
      // reverse-cap aggregation (its own exchange) from the round's
      // checkpoint (r15 perf pass; the frame is the already-k-bounded
      // edge list, N·2k rows, so writing it once is cheaper than
      // re-aggregating it per side)
      val und = Rounds.checkpoint(cur.select(col("node"), col("cand"))
        .unionAll(rev.select(col("node"), col("cand"))), eager = false)
      // distinct() is KEPT deliberately (r15, measured): retiring it in
      // favor of aggregator-side dedupe alone read 2.8 s faster at sf0.1
      // (pure exchange overhead at fixture scale) but the candidate
      // stream's duplicate multiplicity is 3.05 even on this near-uniform
      // fixture (tools/DupProbe, source at commit b627139; shared-mid
      // pairs) and worse on clustered data — without the dedupe every
      // downstream exchange and cosine pays that factor at 100 TB. Map-side partial aggregation already
      // dedupes before this shuffle, so its scale cost is one exchange
      // of the already-deduped pairs.
      val cands = und.select(col("node").as("src"), col("cand").as("mid"))
        .join(und.select(col("node").as("mid"), col("cand")), Seq("mid"))
        .select(col("src").as("node"), col("cand"))
        .filter(col("node") =!= col("cand"))
        .distinct()
      val scored = cands
        .join(emb, Seq("node"))
        .join(emb.select(col("node").as("cand"), col("v").as("cv")), Seq("cand"))
        .select(col("node"), col("cand"), cosine(col("v"), col("cv")).as("sim"))
        .filter(col("sim").isNotNull)
      val next = Rounds.checkpoint(topkAgg(cur.unionAll(scored)))
      Rounds.free(knn)
      knn = next
      Rounds.free(und)
    }
    Rounds.free(emb) // the last round has run; the result reads only knn
    knn.select(col("node").as("node_id"), posexplode(col("top")))
      .select(col("node_id"), col("col.id").as("neighbor_id"),
        (col("pos") + 1).as("rank"), col("col.score").as("sim"))
  }

  /** Product-quantization ANN: the memory-side scale trick IVF/LSH don't
    * give — each vector is stored as `nSub` small codebook ids (here 4
    * codes ≈ 4 bytes) instead of d floats, and queries score candidates
    * through a precomputed distance table (ADC) without ever touching the
    * original vectors.
    *
    * Codebooks are per-subspace Lloyd's over the int8-quantized
    * subvectors — the [[kmeansQuantized]] exact-integer-arithmetic trick,
    * with (sub) added to every key so all `nSub` codebooks train in ONE
    * distributed pipeline (no per-subspace driver loop). Every distance,
    * centroid, code, and ADC score is exact integer math: the full
    * index-build + query trace hash-gates against the oracle's unrolled
    * recurrence.
    *
    * Plan shape at 100 TB: codebooks are nSub·codebook rows (always
    * broadcast); encoding is a broadcast fan + keyed argmin over the
    * persisted subvector frame; the query distance table is
    * Q·nSub·codebook rows (broadcast); ADC joins codes→table on
    * (sub, cid) — the candidate exchange carries (query, neighbor,
    * partial distance) and collapses through a map-side-combined sum and
    * the k-bounded top-k merge. Nothing exchanges vectors after encode. */
  def pqTopK(candidates: DataFrame, queries: DataFrame, k: Int,
      nSub: Int = 4, subDim: Int = 16, codebook: Int = 16,
      iters: Int = 1): DataFrame = {
    def quant(df: DataFrame): DataFrame =
      df.select(col("vec_id"),
        graft.functions.vectornative
          .quantize_int8(col("embedding").cast("array<double>")).as("qv"))
    def subSplit(df: DataFrame): DataFrame =
      df.select(col("vec_id"), posexplode(array(
          (0 until nSub).map(s => slice(col("qv"), s * subDim + 1, subDim)): _*))
        .as(Seq("sub", "sqv")))
    def d2(a: Column, b: Column): Column =
      graft.functions.native.squared_distance(a, b)
    val subs = Rounds.checkpoint(subSplit(quant(candidates)), eager = false)
    val init = subs.filter(col("vec_id") < codebook)
      .select(col("sub"), col("vec_id").as("cid"), col("sqv").as("cv"))
    def assign(cents: DataFrame): DataFrame =
      subs.join(broadcast(cents), Seq("sub"))
        .select(col("vec_id"), col("sub"), col("sqv"), col("cid"),
          d2(col("sqv"), col("cv")).as("dist"))
        .groupBy(col("vec_id"), col("sub"), col("sqv"))
        .agg(min(struct(col("dist"), col("cid"))).as("m"))
        .select(col("vec_id"), col("sub"), col("sqv"), col("m.cid").as("cid"))
    def update(assigned: DataFrame): DataFrame =
      assigned.select(col("sub"), col("cid"), posexplode(col("sqv")))
        .groupBy(col("sub"), col("cid"), col("pos"))
        .agg((round(avg(col("col"))) + lit(0.0)).as("cval"))
        .groupBy(col("sub"), col("cid"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("cval")))),
          x => x("cval")).as("cv"))
    // codebooks feed both the corpus encode and the query distance
    // table — persist the nSub·codebook-row frame
    val cb = Rounds.checkpoint((1 to iters).foldLeft(init)((c, _) => update(assign(c))),
      eager = false)
    val codes = assign(cb).select(col("vec_id"), col("sub"), col("cid"))
    val qsubs = subSplit(quant(queries))
      .select(col("vec_id").as("query_id"), col("sub"), col("sqv"))
    val dtable = qsubs.join(broadcast(cb), Seq("sub"))
      .select(col("query_id"), col("sub"), col("cid"),
        d2(col("sqv"), col("cv")).as("d"))
    val topk = udaf(new TopKAggregator(k))
    codes.join(broadcast(dtable), Seq("sub", "cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("d")).cast("long").as("adist"))
      .groupBy(col("query_id"))
      .agg(topk(col("vec_id"), -col("adist").cast("double")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        (col("pos") + 1).as("rank"),
        (-col("col.score")).cast("long").as("adist"))
  }

  /** IVF-PQ: the production ANN composition — coarse cells route each
    * query to `nProbe` partitions of the corpus, and PQ codes score only
    * the routed candidates through the broadcast distance table. Both
    * stages run on the same exact-integer Lloyd machinery ([[
    * kmeansQuantized]]'s trick), so unlike a FAISS index the ENTIRE
    * structure — cells, codebooks, codes, routing, ADC ranking — is
    * deterministic and hash-gated against the oracle's unrolled replay.
    * (Non-residual variant: PQ encodes raw vectors, not cell residuals —
    * the simpler composition; the residual refinement changes only which
    * vector feeds [[pqTopK]]'s encode.)
    *
    * Scale: routing turns the ADC join from corpus-wide into
    * nProbe/nCells of the corpus per query; cells and codebooks are
    * constant-size broadcast frames; everything after encode exchanges
    * ids and partial distances only. */
  def ivfPqTopK(candidates: DataFrame, queries: DataFrame, k: Int,
      nCells: Int = 4, nProbe: Int = 2, nSub: Int = 4, subDim: Int = 16,
      codebook: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def quant(df: DataFrame): DataFrame =
      df.select(col("vec_id"),
        graft.functions.vectornative
          .quantize_int8(col("embedding").cast("array<double>")).as("qv"))
    def d2(a: Column, b: Column): Column =
      graft.functions.native.squared_distance(a, b)
    val base = Rounds.checkpoint(quant(candidates), eager = false)
    // coarse cells: 1-round Lloyd over the full quantized vector
    val cellInit = base.filter(col("vec_id") < nCells)
      .select(col("vec_id").as("ccid"), col("qv").as("ccv"))
    def cellDists(df: DataFrame, cents: DataFrame): DataFrame =
      df.join(broadcast(cents))
        .select(col("vec_id"), col("qv"), col("ccid"),
          d2(col("qv"), col("ccv")).as("cdist"))
    def cellAssign(cents: DataFrame): DataFrame =
      cellDists(base, cents)
        .groupBy(col("vec_id"), col("qv"))
        .agg(min(struct(col("cdist"), col("ccid"))).as("m"))
        .select(col("vec_id"), col("qv"), col("m.ccid").as("cell"))
    val cellCb = Rounds.checkpoint(cellAssign(cellInit)
      .select(col("cell"), posexplode(col("qv")))
      .groupBy(col("cell"), col("pos"))
      .agg((round(avg(col("col"))) + lit(0.0)).as("cval"))
      .groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cval")))),
        x => x("cval")).as("ccv"))
      .select(col("cell").as("ccid"), col("ccv")), eager = false)
    val cellOf = cellAssign(cellCb).select(col("vec_id"), col("cell"))
    val route = cellDists(quant(queries), cellCb)
      .withColumn("rk", row_number().over(Window.partitionBy(col("vec_id"))
        .orderBy(col("cdist"), col("ccid"))))
      .filter(col("rk") <= nProbe)
      .select(col("vec_id").as("query_id"), col("ccid").as("cell"))
    // PQ codebooks + codes (same recurrence as pqTopK)
    def subSplit(df: DataFrame): DataFrame =
      df.select(col("vec_id"), posexplode(array(
          (0 until nSub).map(s => slice(col("qv"), s * subDim + 1, subDim)): _*))
        .as(Seq("sub", "sqv")))
    val subs = Rounds.checkpoint(subSplit(base), eager = false)
    val pqInit = subs.filter(col("vec_id") < codebook)
      .select(col("sub"), col("vec_id").as("cid"), col("sqv").as("cv"))
    def pqAssign(cents: DataFrame): DataFrame =
      subs.join(broadcast(cents), Seq("sub"))
        .select(col("vec_id"), col("sub"), col("sqv"), col("cid"),
          d2(col("sqv"), col("cv")).as("dist"))
        .groupBy(col("vec_id"), col("sub"), col("sqv"))
        .agg(min(struct(col("dist"), col("cid"))).as("m"))
        .select(col("vec_id"), col("sub"), col("sqv"), col("m.cid").as("cid"))
    val pqCb = Rounds.checkpoint(pqAssign(pqInit)
      .select(col("sub"), col("cid"), posexplode(col("sqv")))
      .groupBy(col("sub"), col("cid"), col("pos"))
      .agg((round(avg(col("col"))) + lit(0.0)).as("cval"))
      .groupBy(col("sub"), col("cid"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cval")))),
        x => x("cval")).as("cv")), eager = false)
    val codes = pqAssign(pqCb).select(col("vec_id"), col("sub"), col("cid"))
    val dtable = subSplit(quant(queries))
      .select(col("vec_id").as("query_id"), col("sub"), col("sqv"))
      .join(broadcast(pqCb), Seq("sub"))
      .select(col("query_id"), col("sub"), col("cid"),
        d2(col("sqv"), col("cv")).as("d"))
    val topk = udaf(new TopKAggregator(k))
    codes.join(cellOf, Seq("vec_id"))
      .join(broadcast(dtable), Seq("sub", "cid"))
      .join(broadcast(route), Seq("query_id", "cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("d")).cast("long").as("adist"))
      .groupBy(col("query_id"))
      .agg(topk(col("vec_id"), -col("adist").cast("double")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        (col("pos") + 1).as("rank"),
        (-col("col.score")).cast("long").as("adist"))
  }

  /** Approximate top-k: candidates and queries are bucketed by sign-bit
    * LSH and only same-bucket pairs are scored — the scale path when the
    * Q×N cross product is too big even broadcast. Shuffle is on the bucket
    * key (hash-partitioned equi-join), then the same k-bounded top-k merge.
    * Recall < 1.0 by construction; nPlanes trades recall vs. candidate
    * count. */
  /** Distributed Lloyd's k-means over int8-quantized embeddings — the
    * coarse corpus-clustering pass a training pipeline runs to group
    * documents by topic before mixture sampling / per-cluster dedup.
    *
    * Everything after quantization is EXACT integer arithmetic carried in
    * doubles (values ≤ 127, squared-distance sums ≪ 2^53), so assignments,
    * centroid updates, and therefore the whole clustering trace are
    * fold-order-independent and bit-reproducible — the DuckDB oracle
    * replays the identical unrolled recurrence. Ties in the argmin break
    * on ascending centroid id on both engines.
    *
    * Plan shape (the 100 TB-safe one): centroids are K rows, always
    * broadcast — assignment is a shuffle-free BroadcastNestedLoopJoin fan
    * over the (persisted) quantized corpus. The centroid update shuffles
    * only after map-side partial aggregation: (cid, pos) partial sums per
    * partition, i.e. K·d·partitions rows on the wire, never N·d. The
    * corpus frame is persisted once and reused by every iteration, so the
    * parquet scan + quantization run once no matter how many iterations.
    *
    * Returns one row per surviving cluster:
    * (cid, n_members, id_sum, min_id, centroid). */
  def kmeansQuantized(vecs: DataFrame, k: Int, iters: Int): DataFrame = {
    val (assigned, finalCentroids) = kmeansCore(vecs, k, iters)
    assigned
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("vec_id")).as("id_sum"),
        min(col("vec_id")).as("min_id"))
      .join(broadcast(finalCentroids), Seq("cid"))
      .select(col("cid"), col("n_members"), col("id_sum"), col("min_id"),
        col("cv").as("centroid"))
  }

  /** The final Lloyd's assignment frame (vec_id, qv, cid) — the cluster
    * routing consumed by SemDeDup-style per-cluster semantic dedup
    * (Dedup.semanticDedup). Same recurrence as kmeansQuantized. */
  def kmeansAssignments(vecs: DataFrame, k: Int, iters: Int): DataFrame =
    kmeansCore(vecs, k, iters)._1

  private def kmeansCore(vecs: DataFrame, k: Int,
      iters: Int): (DataFrame, DataFrame) = {
    val base = Rounds.checkpoint(vecs.select(col("vec_id"),
        graft.functions.vectornative
          .quantize_int8(col("embedding").cast("array<double>")).as("qv")), eager = false)
    val initCentroids = base.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("qv").as("cv"))

    // Squared L2 distance: integer-valued doubles, exact in any order.
    def d2(a: Column, b: Column): Column =
      graft.functions.native.squared_distance(a, b)

    // One Lloyd's assignment: nearest centroid per vector, ties → low cid.
    def assign(centroids: DataFrame): DataFrame =
      base.join(broadcast(centroids))
        .select(col("vec_id"), col("qv"), col("cid"),
          d2(col("qv"), col("cv")).as("dist"))
        .groupBy(col("vec_id"), col("qv"))
        .agg(min(struct(col("dist"), col("cid"))).as("m"))
        .select(col("vec_id"), col("qv"), col("m.cid").as("cid"))

    // Centroid update: per-(cid, pos) mean (exact integer sum / count),
    // rounded half-away-from-zero back onto the int8 grid, reassembled in
    // pos order. Partial aggregation keeps the exchange at K·d rows per
    // input partition.
    def update(assigned: DataFrame): DataFrame =
      assigned.select(col("cid"), posexplode(col("qv")))
        .groupBy(col("cid"), col("pos"))
        // `+ 0.0` canonicalizes IEEE −0.0 (round of a small negative
        // mean) to +0.0 so the centroid grids agree across engines.
        .agg((round(avg(col("col"))) + lit(0.0)).as("cval"))
        .groupBy(col("cid"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("cval")))),
          x => x("cval")).as("cv"))

    // referenced by the final assignment AND the output join — persist
    // the K-row frame so the iteration chain executes once
    val finalCentroids =
      Rounds.checkpoint((1 to iters).foldLeft(initCentroids)((c, _) => update(assign(c))),
        eager = false)
    (assign(finalCentroids), finalCentroids)
  }

  /** Dominant principal direction of the int8-quantized corpus by
    * fixed-round power iteration on the Gram matrix G = QᵀQ — the
    * embedding-space diagnostic (anisotropy / dominant-direction removal)
    * run before whitening or ABTT-style postprocessing.
    *
    * Exactness protocol (everything hash-gates):
    *  - G accumulates integer products (int8 × int8), exact in any fold
    *    order; the d×d frame is vocabulary-sized (d²), never corpus-sized.
    *  - the iterate v is kept on an INTEGER grid: after each
    *    multiply-accumulate w = G·v (exact — every product and partial
    *    sum stays below 2^53), v′ = round(w / max|w| · 10⁶), one
    *    deterministic IEEE division + round back onto the grid. No
    *    accumulated-double sum ever crosses an exchange.
    *  - the returned loadings are v/√(Σv²): exact integer sum, one sqrt,
    *    one division per dim.
    *
    * Scale: G is one map-side-combined keyed aggregate over d² keys
    * (N·d² products stream through partial aggregation; the exchange
    * carries d² rows per partition). Each iteration joins the d²-row G
    * with the d-row v — broadcast-sized both sides. At corpora where
    * N·127² · 10⁶ nears 2^53 (N ≳ 5·10⁸), shrink the v grid a decade per
    * 100× rows; the gate pins the 10⁶ grid at test SFs. */
  def pcaPowerQuantized(vecs: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 6, "iters in [1,6]")
    val q = vecs.select(col("vec_id"),
      graft.functions.vectornative
        .quantize_int8(col("embedding").cast("array<double>")).as("qv"))
    val g = Rounds.checkpoint(q.select(col("qv"), posexplode(col("qv")))
      .select(col("qv"), col("pos").as("i"), col("col").as("xi"))
      .select(col("i"), col("xi"), posexplode(col("qv")))
      .select(col("i"), col("pos").as("j"), (col("xi") * col("col")).as("p"))
      .groupBy(col("i"), col("j")).agg(sum(col("p")).as("g")), eager = false)
    val v0 = g.select(col("i").as("j")).distinct()
      .select(col("j"), lit(1000000.0).as("v"))
    val vFin = (1 to iters).foldLeft(v0) { (v, _) =>
      val w = Rounds.checkpoint(g.join(v, Seq("j"))
        .groupBy(col("i")).agg(sum(col("g") * col("v")).as("w")), eager = false)
      val mx = w.agg(max(abs(col("w"))).as("mx"))
      Rounds.checkpoint(w.crossJoin(broadcast(mx))
        .select(col("i").as("j"),
          // mx = 0 (an all-zero corpus) would otherwise yield NaN and
          // poison every later round silently
          when(col("mx") > 0, round(col("w") / col("mx") * 1000000.0, 0))
            .otherwise(lit(0.0)).as("v")), eager = false)
    }
    val nrm = vFin.agg(sum(col("v") * col("v")).as("ss"))
    vFin.crossJoin(broadcast(nrm))
      .select(col("j").cast("long").as("pos"),
        when(col("ss") > 0, col("v") / sqrt(col("ss")))
          .otherwise(lit(0.0)).as("loading"))
  }

  /** Simplified (centroid-based) silhouette over the quantized k-means
    * clustering: a = distance to own centroid, b = distance to the
    * nearest OTHER centroid, s = (b − a)/max(a, b). The centroid form is
    * the 100 TB silhouette — per-point cost is K broadcast distances,
    * not a corpus pairwise pass. d² is exact integer; the sqrt/ratio is
    * one per-row IEEE tree → hash-gates. Emitted per vector (no
    * accumulated-double mean crosses an exchange; average downstream in
    * DECIMAL if a scalar is needed).
    *
    * Single-cluster convention: if only ONE cluster survives the Lloyd
    * rounds there is no "other centroid", so `b` (and hence `s`) is NULL
    * by definition — silhouette is undefined at k=1 and the NULL is the
    * honest answer (the oracle replays the same convention). Consumers
    * that need a scalar should filter `b IS NOT NULL` or require k ≥ 2
    * surviving clusters. */
  def silhouetteQuantized(vecs: DataFrame, k: Int, iters: Int): DataFrame = {
    val (assigned, centroids) = kmeansCore(vecs, k, iters)
    val c2 = centroids.select(col("cid").as("c2"), col("cv"))
    val d2 = graft.functions.native.squared_distance(col("qv"), col("cv"))
    val ab = assigned.join(broadcast(c2))
      .select(col("vec_id"), col("cid"), col("c2"), d2.as("d2"))
      .groupBy(col("vec_id"), col("cid"))
      .agg(min(when(col("c2") === col("cid"), col("d2"))).as("a2"),
        min(when(col("c2") =!= col("cid"), col("d2"))).as("b2"))
    ab.select(col("vec_id"), col("cid"),
      sqrt(col("a2")).as("a"), sqrt(col("b2")).as("b"),
      when(greatest(sqrt(col("a2")), sqrt(col("b2"))) > 0,
          (sqrt(col("b2")) - sqrt(col("a2"))) /
            greatest(sqrt(col("a2")), sqrt(col("b2"))))
        .otherwise(lit(0.0)).as("s"))
  }

  /** Greedy k-center (Gonzalez 1985) coreset selection over the
    * int8-quantized corpus — the diversity-maximizing data-selection
    * pass a training pipeline runs to pick a small cover of embedding
    * space (each successive center is the point FARTHEST from everything
    * already chosen, a 2-approximation of the optimal k-center cover).
    *
    * Determinism: quantized squared distances are exact integers, the
    * seed is the lowest vec_id, and every argmax breaks ties on lowest
    * vec_id — so the full selection trace is bit-reproducible and the
    * DuckDB oracle replays the identical unrolled recurrence.
    *
    * Plan shape (the 100 TB-safe one): the corpus is quantized once and
    * checkpointed; each of the k−1 rounds is (a) a map-side-combinable
    * global max(struct) — one 1-row reduction, (b) a broadcast of that
    * 1-row center into a shuffle-free min-distance update. Nothing ever
    * shuffles by key; total work is O(k·N·d). The per-round frame is
    * localCheckpoint'ed (it is read by BOTH the next argmax and the
    * update — persist alone would double the logical plan per round) and
    * superseded rounds' blocks are freed, so executor storage stays O(N)
    * however large k grows. Each 1-row center is EAGERLY checkpointed
    * before its source round is freed (the bpeLoop discipline) so the
    * final union never recomputes into freed blocks.
    *
    * Returns the k centers in selection order with the corpus-wide
    * coverage stats as constant columns:
    * (sel_order, center_id, picked_dist, radius, sum_mind, n_points). */
  def kCenterQuantized(vecs: DataFrame, k: Int): DataFrame = {
    require(k >= 2 && k <= 16, "k in [2,16] (one unrolled round per center)")
    val base = Rounds.checkpoint(vecs.select(col("vec_id"),
        graft.functions.vectornative
          .quantize_int8(col("embedding").cast("array<double>")).as("qv")), eager = false)
    def d2(a: Column, b: Column): Column =
      graft.functions.native.squared_distance(a, b)
    // seed = lowest id; vec_id is unique so the struct-min never
    // consults qv
    val c1 = base.groupBy()
      .agg(min(struct(col("vec_id"), col("qv"))).as("m"))
      .select(col("m.vec_id").as("cid"), col("m.qv").as("cv"))
    val outs = Seq.newBuilder[DataFrame]
    outs += c1.select(lit(1L).as("sel_order"), col("cid").as("center_id"),
      lit(0L).as("picked_dist"))
    // only THIS loop's superseded round frames are ever freed — never
    // base, never another query's caches, and never the 1-row center
    // checkpoints the final union still references
    var cur = Rounds.checkpoint(base.crossJoin(broadcast(c1))
      .select(col("vec_id"), col("qv"), d2(col("qv"), col("cv")).as("mind")))
    for (r <- 2 to k) {
      // farthest-first argmax: highest mind, ties → lowest vec_id
      val next = Rounds.checkpoint(cur.groupBy()
        .agg(max(struct(col("mind"), (-col("vec_id")).as("ni"),
          col("qv"))).as("m"))
        .select((-col("m.ni")).as("cid"), col("m.qv").as("cv"),
          col("m.mind").as("picked_dist")))
      outs += next.select(lit(r.toLong).as("sel_order"),
        col("cid").as("center_id"),
        col("picked_dist").cast("long").as("picked_dist"))
      val nextCur = Rounds.checkpoint(
        cur.crossJoin(broadcast(next.select(col("cv"))))
          .select(col("vec_id"), col("qv"),
            least(col("mind"), d2(col("qv"), col("cv"))).as("mind")))
      Rounds.free(cur)
      cur = nextCur
    }
    val cov = broadcast(cur.agg(
      max(col("mind")).cast("long").as("radius"),
      sum(col("mind")).cast("long").as("sum_mind"),
      count(lit(1)).as("n_points")))
    outs.result().reduce(_.unionAll(_)).crossJoin(cov)
  }

  /** All-but-the-top-style dominant-direction removal (Mu & Viswanath
    * 2018): project every quantized vector onto the [[pcaPowerQuantized]]
    * direction and report the projection and the residual norm. Because
    * the direction is unit-norm, ‖q − (q·v)v‖² = ‖q‖² − (q·v)² — one
    * per-row expression, no second pass over the vector. q·v runs in the
    * codegen'd fixed-order DotProduct (engine-parity proven by the
    * cosine family), ‖q‖² is an exact integer, so the outputs are fixed
    * IEEE trees → hash-gate. The direction travels as a 1-row broadcast
    * (no driver collect). */
  def removeDominantDirection(vecs: DataFrame, iters: Int): DataFrame = {
    import graft.functions.native.dot_product
    val vArr = pcaPowerQuantized(vecs, iters)
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("loading")))),
        x => x("loading")).as("v"))
    val q = vecs.select(col("vec_id"),
      graft.functions.vectornative
        .quantize_int8(col("embedding").cast("array<double>")).as("qv"))
    q.crossJoin(broadcast(vArr))
      .select(col("vec_id"),
        dot_product(col("qv"), col("v")).as("proj"),
        dot_product(col("qv"), col("qv")).as("qq"))
      .select(col("vec_id"), col("proj"),
        sqrt(col("qq") - col("proj") * col("proj")).as("res_norm"))
  }

  def lshTopK(candidates: DataFrame, queries: DataFrame, k: Int,
      nPlanes: Int = 8, dim: Int = 64): DataFrame = {
    val planes = hyperplanes(nPlanes, dim)
    val topk = udaf(new TopKAggregator(k))
    val cand = candidates.select(
      col("vec_id").as("neighbor_id"),
      col("embedding").cast("array<double>").as("cand_emb"))
      .withColumn("bucket", lshBucket(col("cand_emb"), planes))
    val qry = queries.select(
      col("vec_id").as("query_id"),
      col("embedding").cast("array<double>").as("query_emb"))
      .withColumn("bucket", lshBucket(col("query_emb"), planes))
    cand
      .join(qry, Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("cand_emb"), col("query_emb")).as("sim"))
      .filter(col("sim").isNotNull)
      .groupBy(col("query_id"))
      .agg(topk(col("neighbor_id"), col("sim")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(
        col("query_id"),
        col("col.id").as("neighbor_id"),
        (col("pos") + 1).as("rank"),
        col("col.score").as("sim"))
  }

  /** ColBERT-style late-interaction (MaxSim) retrieval over MULTI-vector
    * documents: each document is a bag of token vectors, and the score of
    * document d for query q is Σ over q's tokens of the best cosine
    * against any of d's tokens — the published late-interaction scoring
    * (Khattab & Zaharia, 2020), which beats single-vector pooling
    * whenever different query tokens match different parts of a document.
    *
    * Inputs are token frames: candidates (did, dpos, dvec), queries
    * (qid, qpos, qvec). Scale shape mirrors [[bruteForceTopK]]: the
    * query-token frame (|Q|·tokens rows) is broadcast, candidate tokens
    * fan over it with no shuffle of the corpus; the per-query-token max
    * is a keyed aggregate (max is fold-order-independent), and the
    * per-document sum folds in ascending qpos order via a sorted-array
    * reduce — a DETERMINISTIC IEEE sequence, so ranking needs no
    * tolerance and the oracle replicates it term for term. Top-k is the
    * k-bounded [[TopKAggregator]]; only |Q|·k rows reach the merge. */
  def maxSimTopK(candToks: DataFrame, queryToks: DataFrame,
      k: Int): DataFrame = {
    val topk = udaf(new TopKAggregator(k))
    val perQTok = candToks
      .join(broadcast(queryToks), col("did") =!= col("qid"))
      .select(col("qid"), col("did"), col("qpos"),
        cosine(col("dvec"), col("qvec")).as("__c"))
      .filter(col("__c").isNotNull)
      .groupBy(col("qid"), col("did"), col("qpos"))
      .agg(max(col("__c")).as("__m"))
    val scored = perQTok
      .groupBy(col("qid"), col("did"))
      .agg(sort_array(collect_list(struct(col("qpos"), col("__m"))))
        .as("__ms"))
      .select(col("qid"), col("did"),
        aggregate(col("__ms"), lit(0.0),
          (acc, x) => acc + x.getField("__m")).as("__s"))
    scored.groupBy(col("qid"))
      .agg(topk(col("did"), col("__s")).as("top"))
      .select(col("qid").as("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("doc_id"),
        (col("pos") + 1).as("rank"),
        round(col("col.score"), 6).as("score"))
  }

  /** Grid-bucketed DBSCAN (Ester et al. 1996) over 2-D INTEGER
    * coordinates — the density-clustering primitive next to k-means:
    * core points (>= minPts neighbors within eps, self included),
    * clusters = connected components of the core-core eps-adjacency
    * graph, border points attach to their MINIMUM-labeled adjacent core
    * cluster (the deterministic tie rule — textbook DBSCAN assigns
    * shared border points by scan order, which no distributed engine
    * can reproduce), and noise stays labeled noise (cluster −1), never
    * forced into a cluster.
    *
    * Scale shape: the eps-neighborhood join is GRID-BUCKETED — each
    * point homes in an (eps x eps) cell and probes its 3x3 cell
    * neighborhood, so candidate pairs are bounded by cell occupancy,
    * never all-pairs (two points within eps always differ by at most
    * one cell per axis). Cell keys use exact integer floor division
    * (pmod), so negative coordinates bucket correctly. The component
    * closure is [[Graph.ccTwoStarsNodes]]' log-round star contraction
    * over the (strictly sparser) core-core edge set. A pathological eps
    * (cells holding a large fraction of the corpus) degrades the
    * in-cell join quadratically — pick eps near the density scale, the
    * standard spatial-DBSCAN contract.
    *
    * Input: (id, x, y) integer points. Returns (id, x, y, kind, cluster)
    * with kind in {core, border, noise} and cluster = the component-
    * minimum core id (−1 for noise). */
  def dbscanGrid(points: DataFrame, eps: Long, minPts: Int,
      maxRounds: Int = 24): DataFrame = {
    require(eps >= 1, "eps >= 1")
    require(minPts >= 1, "minPts >= 1")
    val p = Rounds.checkpoint(points.select(col("id"),
      col("x").cast("long").as("x"), col("y").cast("long").as("y")), eager = false)
    def cell(c: Column): Column = (c - pmod(c, lit(eps))) / lit(eps)
    val offs = array((-1L to 1L).map(lit): _*)
    val probes = p
      .select(col("id").as("ia"), col("x").as("xa"), col("y").as("ya"))
      .withColumn("__dx", explode(offs))
      .withColumn("__dy", explode(offs))
      .select(col("ia"), col("xa"), col("ya"),
        (cell(col("xa")) + col("__dx")).as("cx"),
        (cell(col("ya")) + col("__dy")).as("cy"))
    val home = p.select(col("id").as("ib"), col("x").as("xb"),
      col("y").as("yb"), cell(col("x")).as("cx"), cell(col("y")).as("cy"))
    // each (a, b) pair lands exactly once: b's home cell is unique and a
    // probes it iff the cells differ by <= 1 per axis, which any pair
    // within eps satisfies; the self pair (dx = dy = 0) stays IN so the
    // neighbor count includes the point itself (the standard convention)
    val pairs = Rounds.checkpoint(probes.join(home, Seq("cx", "cy"))
      .filter((col("xa") - col("xb")) * (col("xa") - col("xb")) +
        (col("ya") - col("yb")) * (col("ya") - col("yb")) <= lit(eps * eps))
      .select(col("ia"), col("ib")), eager = false)
    val core = Rounds.checkpoint(pairs.groupBy(col("ia").as("id"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= minPts).select(col("id")), eager = false)
    val ccEdges = pairs.filter(col("ia") < col("ib"))
      .join(core.select(col("id").as("ia")), Seq("ia"), "left_semi")
      .join(core.select(col("id").as("ib")), Seq("ib"), "left_semi")
      .select(col("ia").as("a"), col("ib").as("b"))
    val comp = Graph.ccTwoStarsNodes(ccEdges, maxRounds)
    val coreLbl = Rounds.checkpoint(core
      .join(comp.select(col("node").as("id"), col("lbl")), Seq("id"), "left")
      .select(col("id"), coalesce(col("lbl"), col("id")).as("cluster")), eager = false)
    val border = pairs.filter(col("ia") =!= col("ib"))
      .join(coreLbl.select(col("id").as("ib"), col("cluster")), Seq("ib"))
      .join(core.select(col("id").as("ia")), Seq("ia"), "left_anti")
      .groupBy(col("ia").as("id")).agg(min(col("cluster")).as("cluster"))
    p.join(coreLbl.withColumn("kind", lit("core")), Seq("id"), "left")
      .join(border.select(col("id"), col("cluster").as("__bc")), Seq("id"), "left")
      .select(col("id"), col("x"), col("y"),
        when(col("kind").isNotNull, col("kind"))
          .when(col("__bc").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("kind"),
        coalesce(col("cluster"), col("__bc"), lit(-1L)).as("cluster"))
  }
}
