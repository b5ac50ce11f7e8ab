package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Relational graph analytics over edge lists — the entity-graph layer a
  * data platform grows once events name relationships (who bought from
  * whom, which documents link, which parts co-occur). Everything here is
  * plain DataFrame algebra over a (src, dst) edge table: no graph
  * runtime, no driver-side adjacency, and every step is an equi-join or
  * grouped aggregate Catalyst already knows how to shuffle, broadcast,
  * and AQE-replan. (The label-propagation connected-components twin
  * lives in [[Dedup.duplicateGroups]].)
  *
  * Scale posture:
  *  - Degree/triangle/PageRank frames are all keyed by node or edge —
  *    they hash-partition cleanly at any |E|.
  *  - Triangle counting joins the CANONICALLY ORIENTED edge set (a<b),
  *    halving the join input and guaranteeing each triangle is counted
  *    exactly once, never 6×. Hot hubs are the known hazard: the
  *    standard refinement is degree-ordering (orient low-degree →
  *    high-degree, bounding wedge fan-out by sqrt(|E|)); id-ordering is
  *    kept here because the gate needs an engine-independent canonical
  *    form and the fixtures have no pathological hubs — the swap is a
  *    one-line orientation change.
  *  - PageRank unrolls a FIXED iteration count into one declarative
  *    plan (plan size O(iters)); each iteration is contribution-join +
  *    grouped sum, i.e. two narrow shuffles over (node, double) rows.
  *    N and out-degrees stay in-plan (broadcast), never on the driver.
  */
object Graph {

  /** Distinct undirected edges in canonical (a < b) orientation from a
    * possibly-duplicated, possibly-bidirectional raw pair stream. */
  def canonicalEdges(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    pairs.filter(col(aCol) =!= col(bCol))
      .select(least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .distinct()

  /** Degree distribution of the undirected graph: how many nodes have
    * each degree — the one-aggregate health check (hub detection, join
    * sizing) run before any heavier graph pass. */
  def degreeDistribution(edges: DataFrame): DataFrame =
    edges.select(col("a").as("node"))
      .unionAll(edges.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))

  /** Global triangle count plus the node/edge/wedge tallies that
    * contextualize it (clustering coefficient numerator/denominator).
    * Each triangle a<b<c is found exactly once: wedges (a→b, b→c) from
    * the oriented edge set close iff (a→c) is also an edge — two
    * equi-joins, no candidate pair materialized twice. */
  def triangleStats(edges: DataFrame): DataFrame = {
    // five plan references to the edge list (three join legs + two
    // tallies): materialize once so an expensive upstream edge build
    // (join + support aggregate) doesn't re-run per branch
    val e = edges
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val e1 = e.select(col("a").as("x"), col("b").as("y"))
    val e2 = e.select(col("a").as("y"), col("b").as("z"))
    val e3 = e.select(col("a").as("x"), col("b").as("z"))
    val triangles = e1.join(e2, "y").join(e3, Seq("x", "z"))
      .agg(count(lit(1)).as("n_triangles"))
    val nNodes = e.select(col("a").as("n"))
      .unionAll(e.select(col("b").as("n")))
      .agg(countDistinct(col("n")).as("n_nodes"))
    val nEdges = e.agg(count(lit(1)).as("n_edges"))
    nNodes.crossJoin(nEdges).crossJoin(triangles)
  }

  /** Local clustering coefficient: per-node triangle participation over
    * wedge capacity, lcc(v) = 2·T(v) / (d(v)·(d(v)−1)). The canonical
    * a<b<c triangle join (the triangleStats shape) enumerates each
    * triangle once; one explode credits its three corners, so T(v) is one
    * keyed count — no per-node neighborhood materialization. Integer
    * counts, one IEEE division → hash-gates. */
  def clusteringCoefficient(edges: DataFrame): DataFrame = {
    val e = edges
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val e1 = e.select(col("a").as("x"), col("b").as("y"))
    val e2 = e.select(col("a").as("y"), col("b").as("z"))
    val e3 = e.select(col("a").as("x"), col("b").as("z"))
    val tri = e1.join(e2, "y").join(e3, Seq("x", "z"))
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
    val deg = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    deg.join(tri, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(col("deg") >= 2,
            coalesce(col("n_tri"), lit(0L)).cast("double") * 2 /
              (col("deg") * (col("deg") - 1)))
          .otherwise(lit(0.0)).as("lcc"))
  }

  /** Orient each canonical undirected edge from its LOWER-degree endpoint
    * to its higher-degree one (tie-break by id, so the orientation is a
    * total order and engine-independent). This is the hub-scale triangle
    * refinement: with id-ordering a single hot hub of degree h fans out
    * O(h²) wedges from whichever neighbors sort above it; degree-ordering
    * bounds every node's OUT-degree in the oriented graph by O(√|E|)
    * (a node of degree d > √|E| cannot have d neighbors of degree ≥ d —
    * that would need d²/2 > |E| edge endpoints), so total wedge fan-out
    * is Σ outdeg² ≤ |E|·√|E| regardless of hub shape.
    *
    * Output: (x, y, dy) — oriented edge plus the head's degree, carried
    * so the wedge join can order its two legs by the same (degree, id)
    * total order without re-joining degrees. */
  def orientByDegree(edges: DataFrame): DataFrame = {
    val deg = edges.select(col("a").as("n"))
      .unionAll(edges.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    edges
      .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
      .select(
        when(aFirst, col("a")).otherwise(col("b")).as("x"),
        when(aFirst, col("b")).otherwise(col("a")).as("y"),
        when(aFirst, col("db")).otherwise(col("da")).as("dy"))
  }

  /** Triangle count over the degree-ordered orientation — same count as
    * [[triangleStats]]'s id-ordered form (both orientations are total
    * orders over the same undirected graph, so each triangle closes from
    * exactly one wedge), but with the hub-safe wedge bound above. Wedges
    * (x→u, x→v) take u before v in (degree, id) order; the closing edge
    * u→v is then guaranteed to be oriented u→v, one equi-join away. */
  def triangleCountByDegree(edges: DataFrame): DataFrame = {
    val o = orientByDegree(edges)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val e1 = o.select(col("x"), col("y").as("u"), col("dy").as("du"))
    val e2 = o.select(col("x"), col("y").as("v"), col("dy").as("dv"))
    val wedges = e1.join(e2, "x")
      .filter(col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v")))
    wedges.join(o.select(col("x").as("u"), col("y").as("v")), Seq("u", "v"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Deterministic random walks — the corpus generator for node2vec /
    * DeepWalk-style graph-embedding training. One walk of `len` steps
    * starts at every node; step i from node `cur` moves to
    * `nbrs[md5(seed‖start‖i‖cur) mod degree]` over the SORTED neighbor
    * list, so the "random" choice is a pure function of
    * (seed, start, step, position) — rerun-stable, partition-independent,
    * and reproducible by any engine with md5 (the same family as
    * [[Sampling.drawOf]]).
    *
    * Shape: the adjacency (node → sorted neighbor array) is built once
    * and persisted (each step references it); each step is ONE equi-join
    * on the current node plus a codegen'd index projection. State per
    * walk is (start, cur, path) — walks never materialize the graph.
    * Neighbor arrays are bounded by the max degree; a support-thresholded
    * or degree-capped edge set (see the co-purchase note) keeps them
    * small at any corpus size. */
  def randomWalks(edges: DataFrame, len: Int, seed: Long): DataFrame = {
    require(len >= 1 && len <= 16, "len in [1,16] (plan grows per step)")
    val adj = edges.select(col("a").as("node"), col("b").as("nbr"))
      .unionAll(edges.select(col("b").as("node"), col("a").as("nbr")))
      .groupBy(col("node"))
      .agg(sort_array(collect_list(col("nbr"))).as("nbrs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var walks = adj.select(col("node").as("start"), col("node").as("cur"),
      col("node").cast("string").as("path"))
    for (step <- 1 to len) {
      val joined = walks.join(adj, walks("cur") === adj("node"))
      val draw = conv(substring(md5(concat_ws("-",
        lit(seed.toString), col("start").cast("string"),
        lit(step.toString), col("cur").cast("string"))), 1, 8), 16, 10)
        .cast("long")
      val next = element_at(col("nbrs"),
        (draw % size(col("nbrs"))).cast("int") + 1)
      walks = joined.select(col("start"), next.as("__next"),
          concat(col("path"), lit(","), next.cast("string")).as("path"))
        .withColumnRenamed("__next", "cur")
    }
    walks.select(col("start"), col("path").as("walk"))
  }

  /** PageRank with a fixed iteration count over a DIRECTED edge list:
    * pr'(v) = (1−d)/N + d · (Σ_{u→v} pr(u)/outdeg(u) + D/N), where D is
    * the dangling mass Σ pr(u) over nodes with outdegree 0 (redistributed
    * uniformly — the standard teleport treatment for sink nodes). Every
    * node that appears as src or dst participates; callers wanting
    * undirected semantics pass both directions.
    *
    * `redistributeDangling = false` skips the D term entirely — the fast
    * path for bidirectional edge sets, where every node has outdegree ≥ 1
    * and D is identically 0, saving one anti-join aggregate per
    * iteration. With dangling nodes and the flag off, mass leaks each
    * iteration (the ranks still order correctly but no longer sum to 1).
    * When on, D rides a 1-row broadcast per iteration: the aggregate is
    * over the (node, pr) frame — N rows, never the edges — and the join
    * it feeds is a broadcast of a single double, so the redistribution
    * adds no shuffle at any graph size.
    *
    * The returned frame carries round(pr, 6): ranks are sums whose fold
    * order is engine-dependent in the last ulps; six decimals is far
    * coarser than the drift and far finer than any real rank gap. */
  /** Multi-source BFS distances, `rounds` unrolled min-plus relaxations:
    * dist(v) = min(dist(v), min over in-neighbors dist(u) + 1), seeds at
    * 0. After k rounds every node within k hops of a seed holds its true
    * hop distance (unreached nodes are absent) — the bounded-frontier
    * form of shortest paths, oracle-replayable like [[labelPropagation]]
    * (same per-round join+min cost envelope, same per-round persist to
    * keep lineage linear). */
  def bfsDistances(edges: DataFrame, seeds: DataFrame,
      rounds: Int): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    bfsOverSym(edges.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(edges.select(col("b").as("src"), col("a").as("dst")))
      .persist(lvl), seeds, rounds)
  }

  /** [[bfsDistances]] over an already-symmetrized (and ideally
    * persisted) `sym(src, dst)` frame — callers running several sweeps
    * over the same graph (double-sweep diameter) share one
    * materialization instead of re-symmetrizing per sweep. */
  private[graft] def bfsOverSym(sym: DataFrame, seeds: DataFrame,
      rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 10, "rounds in [1,10]")
    val init = seeds.select(col("node"), lit(0L).as("dist"))
    Rounds.fixed(init, rounds) { d =>
      d.unionAll(
          d.join(sym, col("node") === col("src"))
            .select(col("dst").as("node"), (col("dist") + 1).as("dist")))
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
    }
  }

  /** Minimum spanning forest by Borůvka rounds — the distributable MST
    * algorithm (each round is bulk-parallel; Prim/Kruskal are inherently
    * sequential): every component selects its minimum incident edge
    * under the strict total order (w, a, b), selected edges join the
    * forest, touched components contract (pointer doubling over the
    * selection pseudoforest — see the in-loop comment), and the
    * contracted multigraph is pruned to
    * the minimum edge per component pair (the only edge a future round
    * could ever select). Components at least halve per round, so
    * convergence is ≤ log₂ |V| rounds regardless of weighting; with the
    * composite tie-break the forest is UNIQUE, which is what lets an
    * independent replay gate it. Per round: one per-endpoint min, one
    * label contraction, two label joins, one per-pair min — all keyed
    * shuffles on edge-sized frames that only shrink. Parallel input
    * edges collapse to their lightest copy up front. Throws past
    * `maxRounds` (a silently partial forest would be wrong). */
  def mstBoruvka(edges: DataFrame, maxRounds: Int = 20): DataFrame = {
    val canon = edges.filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("ca"),
        greatest(col("a"), col("b")).as("cb"), col("w"))
      .groupBy(col("ca"), col("cb"))
      .agg(min(col("w")).as("w"))
      .select(col("ca"), col("cb"), col("w"),
        col("ca").as("oa"), col("cb").as("ob"))
    // fused probes throughout this loop (r14): the emptiness/stability
    // counts ride each checkpoint's materializing job — full-scan
    // count(), never limit(1) (a partial first action would leave
    // missing partitions for doCheckpoint's extra job)
    var (ce, ceN) = Rounds.checkpointWith(canon)(_.count())
    val forest = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var i = 0
    var done = ceN == 0L
    while (!done && i < maxRounds) {
      // per-component minimum incident edge under (w, oa, ob); one
      // grouped agg yields BOTH the forest edges and the selection
      // pointer parent(comp) = the far endpoint of comp's chosen edge
      val sym = ce.select(col("ca").as("comp"), col("ca"), col("cb"),
          col("w"), col("oa"), col("ob"))
        .unionAll(ce.select(col("cb").as("comp"), col("ca"), col("cb"),
          col("w"), col("oa"), col("ob")))
      val grouped = Rounds.checkpoint(sym.groupBy(col("comp"))
        .agg(min_by(struct(col("ca"), col("cb"), col("w"), col("oa"), col("ob")),
          struct(col("w"), col("oa"), col("ob"))).as("e")))
      forest += grouped
        .select(col("e.oa").as("a"), col("e.ob").as("b"), col("e.w").as("w"))
        .distinct()
      // Contract by pointer doubling on the selection FUNCTIONAL graph:
      // its only cycles are mutual-selection 2-cycles (each merge tree's
      // lightest edge is the minimum for BOTH endpoints, so they pick
      // each other). Root each 2-cycle at its smaller id, then double
      // parent ← parent(parent) to a fixpoint: log₂(tree depth) rounds,
      // each a self-join on a frame with ONE ROW PER TOUCHED COMPONENT —
      // strictly cheaper than running an edge-frame contraction
      // ([[ccTwoStarsNodes]]) inside every Borůvka round.
      val par0 = grouped.select(col("comp"),
        when(col("e.ca") === col("comp"), col("e.cb")).otherwise(col("e.ca"))
          .as("parent"))
      val rooted = par0.alias("p")
        .join(par0.select(col("comp").as("pc"), col("parent").as("pp")).alias("q"),
          col("p.parent") === col("q.pc"))
        .select(col("p.comp").as("comp"),
          when(col("q.pp") === col("p.comp"),
            least(col("p.comp"), col("p.parent"))).otherwise(col("p.parent"))
            .as("parent"))
      var par = Rounds.checkpoint(rooted)
      var stable = false
      var j = 0
      while (!stable && j < maxRounds) {
        val hop = par.alias("x")
          .join(par.select(col("comp").as("hc"), col("parent").as("hp")).alias("y"),
            col("x.parent") === col("y.hc"))
          .select(col("x.comp").as("comp"), col("hp").as("parent"),
            (col("hp") =!= col("x.parent")).as("__moved"))
        val (nextPar, moved) =
          Rounds.checkpointWith(hop)(_.filter(col("__moved")).count())
        stable = moved == 0L
        Rounds.free(par)
        par = nextPar.drop("__moved")
        j += 1
      }
      if (!stable) {
        Rounds.free(par)
        throw new IllegalStateException(
          s"mstBoruvka contraction did not converge within $maxRounds doublings")
      }
      val mapping = par.select(col("comp").as("node"), col("parent").as("ncomp"))
      val projected = ce
        .join(mapping.select(col("node").as("ca"), col("ncomp").as("na")),
          Seq("ca"), "left")
        .join(mapping.select(col("node").as("cb"), col("ncomp").as("nb")),
          Seq("cb"), "left")
        .select(coalesce(col("na"), col("ca")).as("xa"),
          coalesce(col("nb"), col("cb")).as("xb"),
          col("w"), col("oa"), col("ob"))
        .filter(col("xa") =!= col("xb"))
        .select(least(col("xa"), col("xb")).as("ca"),
          greatest(col("xa"), col("xb")).as("cb"),
          col("w"), col("oa"), col("ob"))
        // prune the contracted multigraph to the lightest edge per pair
        .groupBy(col("ca"), col("cb"))
        .agg(min_by(struct(col("w"), col("oa"), col("ob")),
          struct(col("w"), col("oa"), col("ob"))).as("e"))
        .select(col("ca"), col("cb"), col("e.w"), col("e.oa"), col("e.ob"))
      val (next, nextN) = Rounds.checkpointWith(projected)(_.count())
      // sel's checkpoint blocks stay live: the returned forest reads
      // them (≤ maxRounds small frames); only superseded ce rounds free
      Rounds.free(ce)
      ce = next
      done = nextN == 0L
      i += 1
    }
    if (!done) {
      Rounds.free(ce)
      throw new IllegalStateException(
        s"mstBoruvka did not converge within $maxRounds rounds")
    }
    if (forest.isEmpty)
      canon.select(col("oa").as("a"), col("ob").as("b"), col("w")).limit(0)
    else forest.reduce(_ unionAll _).distinct()
  }

  /** Item-item collaborative filtering (Sarwar et al., WWW'01) over a
    * weighted co-occurrence edge list: similarity(a, b) is the TRUE
    * cosine between the items' per-basket count vectors — ⟨v_a, v_b⟩ is
    * the co-occurrence support `w` the edge already carries, |v_a|² the
    * per-item sum of squared basket counts in `norms(node, ssq)` — so
    * the recommender costs one symmetrize + two keyed joins on the
    * (already support-thresholded, hence sparse) edge frame and one
    * per-item window for the top-`topK` cut. score = w / √(ssq_a·ssq_b)
    * is one fixed IEEE tree (integer product → sqrt → divide), exact at
    * the gate. Nothing basket-sized is rebuilt here: at any scale the
    * frames in motion are |E| edges and |V| norms. */
  def itemItemCosine(edges: DataFrame, norms: DataFrame, topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topK >= 1, "topK >= 1")
    val sym = edges.select(col("a").as("item"), col("b").as("rec"), col("w"))
      .unionAll(edges.select(col("b").as("item"), col("a").as("rec"), col("w")))
    val w = Window.partitionBy(col("item"))
      .orderBy(col("score").desc, col("rec"))
    sym
      .join(norms.select(col("node").as("item"), col("ssq").as("__sa")), Seq("item"))
      .join(norms.select(col("node").as("rec"), col("ssq").as("__sb")), Seq("rec"))
      .withColumn("score",
        col("w").cast("double") / sqrt((col("__sa") * col("__sb")).cast("double")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("item"), col("rec"), col("w").as("support"),
        col("score"), col("rank"))
  }

  /** Bounded-round single-source shortest paths over a WEIGHTED directed
    * adjacency frame `adj(src, dst, w)` — the Bellman–Ford min-plus
    * relaxation, generalizing [[bfsOverSym]] from hop counts to weighted
    * distances. After k rounds every node holds the EXACT minimum-weight
    * distance over paths of ≤ k hops from the nearest seed (the
    * fixed-round, oracle-replayable form; weighted shortest paths have
    * no better distributed primitive — delta-stepping batches the same
    * relaxation by distance range). Each round is one equi-join on the
    * frontier + one keyed min — two narrow shuffles over (node, BIGINT)
    * rows — with the [[Rounds.fixed]] lineage discipline. Weights
    * must be non-negative integers (exact min-plus arithmetic; a
    * negative weight would need the full n−1 rounds to be meaningful).
    * Callers pass a symmetrized frame for undirected semantics. */
  def ssspBounded(adj: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 10, "rounds in [1,10]")
    val init = seeds.select(col("node"), lit(0L).as("dist"))
    Rounds.fixed(init, rounds) { d =>
      d.unionAll(
          d.join(adj, col("node") === col("src"))
            .select(col("dst").as("node"), (col("dist") + col("w")).as("dist")))
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
    }
  }

  /** Diameter lower bound by the classic double-sweep: BFS from the
    * smallest node id, take the farthest reached node (tie → smallest
    * id), BFS again from there — the second sweep's eccentricity is the
    * standard near-tight diameter estimate (exact on trees). Both
    * sweeps are the SAME bounded min-plus relaxation as
    * [[bfsDistances]], so cost is two single-source BFS passes —
    * per-round keyed join+min over the frontier, nothing quadratic —
    * and the 1-row pivot between sweeps rides a broadcast, not a
    * collect. `rounds` caps the hop radius (the estimate is exact once
    * rounds ≥ true eccentricity; the oracle replays the identical
    * bounded recurrence either way). Output is one row of exact
    * integers: (start_node, far_node, diameter_lb, n_reached). */
  def diameterDoubleSweep(edges: DataFrame, rounds: Int): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val sym = edges.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(edges.select(col("b").as("src"), col("a").as("dst")))
      .persist(lvl)
    val u = edges.agg(least(min(col("a")), min(col("b"))).as("node"))
    val d1 = bfsOverSym(sym, u, rounds)
    // farthest node, tie to the smallest id: max over (dist, -node)
    val v = d1.agg(max(struct(col("dist"), (-col("node")).as("__neg"))).as("m"))
      .select((-col("m.__neg")).as("node"))
    val d2 = bfsOverSym(sym, v, rounds)
    d2.agg(max(col("dist")).as("diameter_lb"),
        count(lit(1)).as("n_reached"))
      .crossJoin(broadcast(u.select(col("node").as("start_node"))))
      .crossJoin(broadcast(v.select(col("node").as("far_node"))))
      .select(col("start_node"), col("far_node"),
        col("diameter_lb"), col("n_reached"))
  }

  /** Bounded closeness centrality: per-seed BFS to `rounds` hops — the
    * frontier frame is keyed by (seed, node), so EVERY seed advances
    * through the same `rounds` join+min relaxations in one pass (cost is
    * Σ per-seed frontier sizes per round, one keyed shuffle each — not
    * |seeds| separate BFS jobs). closeness(seed) = (reached − 1) / Σ dist
    * over the ≤`rounds`-hop ball, the k-bounded estimator used at scale
    * where full-diameter per-node BFS is unaffordable. Integer counts and
    * distance sums, one final IEEE division → hash-gates exactly. */
  /** Per-seed BFS distance frame (seed, node, dist ≤ rounds): every seed
    * advances through the same join+min relaxations in one keyed pass.
    * Shared by [[closenessBounded]] and [[betweennessBounded]]. */
  private def perSeedDistances(sym: DataFrame, seeds: DataFrame,
      rounds: Int): DataFrame = {
    val init = seeds.select(col("node").as("seed"), col("node"),
      lit(0L).as("dist"))
    Rounds.fixed(init, rounds) { d =>
      d.unionAll(
          d.join(sym, col("node") === col("src"))
            .select(col("seed"), col("dst").as("node"),
              (col("dist") + 1).as("dist")))
        .groupBy(col("seed"), col("node")).agg(min(col("dist")).as("dist"))
    }
  }

  def closenessBounded(edges: DataFrame, seeds: DataFrame,
      rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 10, "rounds in [1,10]")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val sym = edges.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(edges.select(col("b").as("src"), col("a").as("dst")))
      .persist(lvl)
    perSeedDistances(sym, seeds, rounds).groupBy(col("seed"))
      .agg(count(lit(1)).as("n_reached"), sum(col("dist")).as("sum_dist"))
      .select(col("seed"), col("n_reached"), col("sum_dist"),
        when(col("sum_dist") > 0,
            (col("n_reached") - 1).cast("double") / col("sum_dist"))
          .otherwise(lit(0.0)).as("closeness"))
  }

  /** Seed-sampled bounded betweenness centrality (Brandes 2001, the
    * sampled estimator of Brandes–Pich 2007, truncated at 3 hops): for
    * each sampled seed, shortest-path counts σ accumulate FORWARD layer
    * by layer (a node at depth d sums σ of its depth-(d−1) neighbors —
    * exact integers), then dependencies δ accumulate BACKWARD
    * (δ(v) = Σ_{w∈succ(v)} σv/σw · (1+δw)); a node's betweenness is its
    * δ summed over seeds. Layers are fixed-depth, so the whole recurrence
    * unrolls into joins the oracle replays; δ is an IEEE sum whose fold
    * order drifts in the last ulps, absorbed by round(·,6) on output —
    * the pagerank precedent.
    *
    * Scale: every step is an equi-join of a (seed, node) frame with the
    * symmetric edge list — the frontier-frame shape of the BFS family;
    * no per-source sequential pass, no all-pairs. Seeds bound total cost
    * linearly (the sampling IS the estimator); depth bounds the ball. */
  def betweennessBounded(edges: DataFrame, seeds: DataFrame): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val sym = edges.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(edges.select(col("b").as("src"), col("a").as("dst")))
      .persist(lvl)
    // localCheckpoint (not persist) on every per-round frame: each σ/δ
    // round stacks joins on the previous round's lineage, and persist
    // alone leaves the optimizer re-analyzing the whole chain at every
    // downstream action — superlinear in rounds (the graph_hits/BPE
    // lesson). Values are exact either way. Unlike the freed-per-round
    // loops (Rounds.checkpoint/free), NO frame here is superseded —
    // every σ layer feeds the later δ backward pass — so all 6 bounded
    // frames stay pinned until the job ends; the recompute-on-executor-
    // loss trade is accepted for the flat plans.
    val dist = perSeedDistances(sym, seeds, rounds = 3).localCheckpoint()
    def layer(d: Int) = dist.filter(col("dist") === d)
    val s0 = layer(0).select(col("seed"), col("node"), lit(1L).as("sigma"))
      .localCheckpoint()
    def fwd(prev: DataFrame, d: Int): DataFrame = {
      val p = prev.select(col("seed").as("pseed"), col("node").as("pnode"),
        col("sigma").as("psigma"))
      layer(d).select(col("seed"), col("node"))
        .join(sym, col("node") === col("dst"))
        .join(p, col("pseed") === col("seed") && col("pnode") === col("src"))
        .groupBy(col("seed"), col("node"))
        .agg(sum(col("psigma")).as("sigma"))
        .localCheckpoint()
    }
    val s1 = fwd(s0, 1)
    val s2 = fwd(s1, 2)
    val s3 = fwd(s2, 3)
    val b3 = s3.select(col("seed"), col("node"), col("sigma"),
      lit(0.0).as("delta"))
    def bwd(next: DataFrame, cur: DataFrame): DataFrame = {
      val nx = next.select(col("seed").as("nseed"), col("node").as("nnode"),
        col("sigma").as("nsigma"), col("delta").as("ndelta"))
      val contrib = cur.join(sym, col("node") === col("src"))
        .join(nx, col("nseed") === col("seed") && col("nnode") === col("dst"))
        .groupBy(col("seed"), col("node"))
        .agg(sum((col("sigma") / col("nsigma")) * (lit(1.0) + col("ndelta")))
          .as("d"))
      cur.join(contrib, Seq("seed", "node"), "left")
        .select(col("seed"), col("node"), col("sigma"),
          coalesce(col("d"), lit(0.0)).as("delta"))
        .localCheckpoint()
    }
    val b2 = bwd(b3, s2)
    val b1 = bwd(b2, s1)
    b1.select(col("node"), col("delta"))
      .unionAll(b2.select(col("node"), col("delta")))
      .unionAll(b3.select(col("node"), col("delta")))
      .groupBy(col("node"))
      .agg(round(sum(col("delta")), 6).as("betweenness"))
  }

  /** Bounded k-core peeling: `rounds` rounds of "drop every node with
    * degree < k, recount over the induced subgraph". After enough rounds
    * this converges to the k-core (the standard densest-region filter
    * before expensive per-node graph work); a FIXED round count keeps the
    * trace deterministic and oracle-replayable, like [[labelPropagation]]
    * vs. the converging closure. Each round is one keyed count + two
    * semi-join-shaped equi-joins on the persisted edge frame — no
    * materialized neighborhoods. Returns the surviving nodes with their
    * induced degrees. */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 10, "rounds in [1,10]")
    var sym = Rounds.checkpoint(
      edges.select(col("a").as("n"), col("b").as("m"))
        .unionAll(edges.select(col("b").as("n"), col("a").as("m"))))
    for (_ <- 1 to rounds) {
      // 3 references to sym per round (count + two join legs):
      // checkpoint keeps the plan linear instead of 3^rounds
      val keep = sym.groupBy(col("n")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select(col("n"))
      val next = Rounds.checkpoint(
        sym.join(keep, Seq("n"))
          .join(keep.select(col("n").as("m")), Seq("m"))
          .select(col("n"), col("m")))
      Rounds.free(sym)
      sym = next
    }
    sym.groupBy(col("n")).agg(count(lit(1)).as("degree"))
      .select(col("n").as("node"), col("degree"))
  }

  /** Bounded k-truss peeling — the edge-level densest-subgraph filter one
    * notch above [[kCorePeel]]: each round drops every edge whose support
    * (number of triangles through it in the CURRENT subgraph) is below
    * k−2, then recounts on the induced subgraph. Fixed `rounds` keeps the
    * trace deterministic and oracle-replayable (the kCorePeel
    * discipline); returns the surviving canonical (a < b) edges with
    * support recomputed on the final subgraph — the edge analogue of
    * kCorePeel's induced degrees (0 support marks edges a further round
    * would peel).
    *
    * Scale shape: support comes from full triangle enumeration over the
    * degree-ordered orientation ([[triangleCountByDegree]]'s hub-safe
    * wedge bound — wedges fan out from the LOW-degree endpoint), three
    * canonical sides per triangle, one (a, b) count aggregate. Each round
    * is that enumeration plus one left-join filter, localCheckpoint'ed so
    * the plan stays linear in `rounds` instead of exponential. */
  def kTrussPeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 3 && k <= 16, "k in [3,16]")
    require(rounds >= 1 && rounds <= 8, "rounds in [1,8]")
    def support(e: DataFrame): DataFrame = {
      val o = orientByDegree(e)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val e1 = o.select(col("x"), col("y").as("u"), col("dy").as("du"))
      val e2 = o.select(col("x"), col("y").as("v"), col("dy").as("dv"))
      val tri = e1.join(e2, "x")
        .filter(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")))
        .join(o.select(col("x").as("u"), col("y").as("v")), Seq("u", "v"))
        .select(col("x"), col("u"), col("v"))
      tri.select(least(col("x"), col("u")).as("a"),
          greatest(col("x"), col("u")).as("b"))
        .unionAll(tri.select(least(col("x"), col("v")).as("a"),
          greatest(col("x"), col("v")).as("b")))
        .unionAll(tri.select(least(col("u"), col("v")).as("a"),
          greatest(col("u"), col("v")).as("b")))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
    }
    var e = Rounds.checkpoint(edges.select(col("a"), col("b")))
    for (_ <- 1 to rounds) {
      val next = Rounds.checkpoint(
        e.join(support(e), Seq("a", "b"), "left")
          .filter(coalesce(col("support"), lit(0L)) >= k - 2)
          .select(col("a"), col("b")))
      Rounds.free(e)
      e = next
    }
    e.join(support(e), Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        coalesce(col("support"), lit(0L)).as("support"))
  }

  /** Neighbor-set Jaccard similarity for link prediction: for every node
    * pair sharing at least one neighbor, J = |N(a)∩N(b)| / |N(a)∪N(b)|
    * with the union by inclusion–exclusion (da + db − common), so the
    * whole score is a ratio of exact integers — identical doubles on any
    * engine.
    *
    * Scale shape: candidate pairs are generated ONLY through shared
    * neighbors (a self-join of the symmetrized edge list on the common
    * endpoint, a < b once) — the wedge-count envelope that triangle
    * counting already lives in, not an all-pairs product. Degrees join in
    * by broadcast-sized keyed frames. `minJaccard` prunes the long tail
    * before anything leaves the aggregate. */
  def neighborJaccard(edges: DataFrame, minCommon: Long = 2,
      minJaccard: Double = 0.25): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val sym = edges.select(col("a").as("n"), col("b").as("m"))
      .unionAll(edges.select(col("b").as("n"), col("a").as("m")))
      .persist(lvl)
    val deg = sym.groupBy(col("n")).agg(count(lit(1)).as("d")).persist(lvl)
    val common = sym.select(col("n"), col("m").as("x"))
      .join(sym.select(col("n").as("n2"), col("m").as("y")), col("n") === col("n2"))
      .filter(col("x") < col("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("common"))
      .filter(col("common") >= minCommon)
    common
      .join(deg.select(col("n").as("x"), col("d").as("da")), Seq("x"))
      .join(deg.select(col("n").as("y"), col("d").as("db")), Seq("y"))
      .select(col("x").as("a"), col("y").as("b"), col("common"),
        (col("common") / (col("da") + col("db") - col("common"))).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Synchronous min-label propagation, `rounds` fixed rounds: every node
    * starts labeled with its own id and each round adopts the minimum
    * label in its closed neighborhood. After k rounds each node holds the
    * minimum node id within k hops — community/component structure for
    * bounded-diameter graphs, and the fixed-round, oracle-replayable twin
    * of [[graft.ops.Dedup]]'s converging transitive-closure (that one
    * doubles the reach per round and loops until a fixpoint; this one is
    * a deterministic k-step recurrence).
    *
    * Plan shape: the symmetrized edge list is persisted once; each round
    * is one equi-join on the label frame + one keyed min — the same
    * per-iteration cost envelope as [[pagerank]], with k chosen small.
    * Returns one row per surviving label: (component, n_nodes, max_node). */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame =
    labelPropagationNodes(edges, rounds)
      .groupBy(col("lbl"))
      .agg(count(lit(1)).as("n_nodes"), max(col("node")).as("max_node"))
      .select(col("lbl").as("component"), col("n_nodes"), col("max_node"))

  /** Per-node labels after `rounds` of min-label propagation — the raw
    * assignment [[labelPropagation]] aggregates and [[modularity]]
    * scores. */
  def labelPropagationNodes(edges: DataFrame, rounds: Int): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val sym = edges.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(edges.select(col("b").as("src"), col("a").as("dst")))
      .persist(lvl)
    val nodes = sym.select(col("src").as("node")).distinct()
    minLabelRounds(sym, nodes, rounds)
  }

  /** Connected components by alternating LARGE-STAR / SMALL-STAR rounds
    * (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii — "Connected
    * Components in MapReduce and Beyond", ACM SoCC'14). Min-label
    * propagation ([[labelPropagation]], [[Dedup.duplicateGroups]]) needs
    * O(component diameter) rounds — fine for the shallow clique/star
    * components LSH dedup produces, fatal for long-chain graphs (a
    * 10⁶-hop path = 10⁶ shuffles). Two-star rounds contract the graph
    * toward per-component stars in O(log² n) rounds REGARDLESS of
    * diameter, which is why this is the canonical web-scale CC
    * algorithm. Per round:
    *
    *  - large-star: key every edge on BOTH endpoints; for node u with
    *    neighborhood Γ(u), every strictly-larger neighbor w > u re-points
    *    to m = min(Γ(u) ∪ {u}). Each input edge is emitted exactly once
    *    (under its smaller endpoint), so |E| never grows.
    *  - small-star: key each edge on its LARGER endpoint; u and all its
    *    smaller neighbors re-point to m = min(Γ₋(u) ∪ {u}) = min Γ₋(u).
    *
    * Both halves preserve connectivity (the paper's invariant: every
    * emitted edge connects two nodes of the same original component, and
    * the union keeps each component connected); at the fixpoint the edge
    * set is a disjoint union of stars whose centers are the component
    * minima. Each half is one grouped min + one equi-join — two narrow
    * shuffles on (node, node) rows, the same envelope as a pagerank
    * iteration. Rounds are `localCheckpoint`ed (lineage O(1), superseded
    * blocks freed — the [[Rounds]] discipline), and convergence
    * is read as (count, xxhash64-sum) of the round's already-materialized
    * edge frame — a scan, not an extra shuffle. Throws if `maxRounds`
    * passes without a fixpoint: silently-partial stars would be wrong
    * components.
    *
    * Returns per-node labels (node, lbl); lbl = the component's minimum
    * node id — identical to what converged min-label produces, in
    * logarithmically many rounds instead of linearly many. */
  def ccTwoStarsNodes(edges: DataFrame, maxRounds: Int = 24,
      edgesCanonical: Boolean = false): DataFrame = {
    // edgesCanonical = the caller guarantees a < b strictly on every row
    // with no duplicates, so the canonicalization pass — and in
    // particular its full edge-frame dedup exchange — would reorder and
    // remove nothing (r16; the co-purchase build emits exactly this
    // shape, and the leiden/bipartite derived frames provably preserve
    // it — see each call site). The loop's own converged-shape
    // verification below still guards the result loudly.
    val canon = if (edgesCanonical) edges
    else edges.filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()
    def stats(df: DataFrame): (Long, Long) = {
      // bit_xor, not sum: a sum of random 64-bit hashes overflows ANSI
      // BIGINT; xor is order-independent and never overflows
      val r = df.agg(count(lit(1)), bit_xor(xxhash64(col("a"), col("b")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    // One large-star + small-star round as a pure frame transform.
    // r15 optimization inside it: NO distinct after large-star. Large
    // emits exactly one row per input edge (each sym row with w > u), so
    // its only duplicates are (m, w) rows from different u's sharing m —
    // and small-star's own final distinct removes exactly those after
    // the min aggregates (which are duplicate-insensitive). Dropping the
    // exchange removes one of the round's four shuffles; A/B'd
    // bit-identical on every CC consumer.
    def starRound(in: DataFrame): DataFrame = {
      // Large-star. m ≤ u < w strictly, so (m, w) is already canonical
      // and never a self-loop.
      val sym = in.select(col("a").as("u"), col("b").as("w"))
        .unionAll(in.select(col("b").as("u"), col("a").as("w")))
      val minsL = sym.groupBy(col("u")).agg(least(min(col("w")), col("u")).as("m"))
      val large = sym.join(minsL, "u").filter(col("w") > col("u"))
        .select(col("m").as("a"), col("w").as("b"))
      // Small-star over edges keyed on their larger endpoint: u and all
      // its smaller neighbors re-point to the smallest of them. m ≤ w < u
      // for the neighbor rows; the center's own (m, m) row is the one
      // possible self-loop and is dropped.
      val oriented = large.select(col("b").as("u"), col("a").as("w"))
      val minsS = oriented.groupBy(col("u")).agg(min(col("w")).as("m"))
      oriented.join(minsS, "u")
        .select(col("m").as("a"), col("w").as("b"))
        .unionAll(minsS.select(col("m").as("a"), col("u").as("b")))
        .filter(col("a") =!= col("b"))
        .distinct()
    }
    // (r15 optimization receipt: running TWO star rounds per checkpoint
    // action — halving the probe/checkpoint count — was tried and
    // measured WORSE, 7.7 → 10.4 s on graph_bipartite at sf0.1: the
    // doubled unmaterialized plan costs AQE more than the saved fixed
    // overhead, and fixpoint detection lands up to a round-pair later.
    // One round per action stays.)
    var (e, prev) = Rounds.checkpointWith(canon)(stats)
    var converged = prev._1 == 0L
    var i = 0
    while (!converged && i < maxRounds) {
      val (next, cur) = Rounds.checkpointWith(starRound(e))(stats)
      Rounds.free(e)
      e = next
      converged = cur == prev
      prev = cur
      i += 1
    }
    if (!converged) {
      Rounds.free(e)
      throw new IllegalStateException(
        s"ccTwoStarsNodes did not converge within $maxRounds rounds")
    }
    // The fixpoint of alternating star rounds is provably a disjoint
    // union of stars; verify that shape loudly (leaves unique, no node
    // on both sides) so a (count, hash-sum) probe collision — the one
    // way the loop could exit early with a non-fixpoint — cannot return
    // silently wrong components.
    val shape = e.agg(
      (count(lit(1)) - countDistinct(col("b"))).as("dupLeaves"),
      coalesce(sum(when(col("a") > col("b"), 1L).otherwise(0L)), lit(0L))
        .as("misoriented")).head()
    val centerAsLeaf = e.select(col("a")).distinct()
      .join(e.select(col("b").as("a")).distinct(), Seq("a"), "left_semi")
      .limit(1).count()
    if (shape.getLong(0) != 0L || shape.getLong(1) != 0L || centerAsLeaf != 0L)
      throw new IllegalStateException(
        "ccTwoStarsNodes converged to a non-star edge set " +
          s"(dupLeaves=${shape.getLong(0)}, misoriented=${shape.getLong(1)}, " +
          s"centerAsLeaf=$centerAsLeaf)")
    // Converged edge set = disjoint stars (center a = component min).
    e.select(col("b").as("node"), col("a").as("lbl"))
      .unionAll(e.select(col("a").as("node"), col("a").as("lbl")))
      .distinct()
  }

  /** Maximal independent set by Luby's algorithm (Luby, SIAM J.
    * Comput. 1986) — the classic O(log n)-round symmetry-breaking
    * primitive (greedy MIS is inherently sequential; Luby rounds are
    * bulk-parallel): each round every still-active node draws a
    * priority, joins the MIS if it strictly beats every active
    * neighbor, and winners plus their neighborhoods retire. Priorities
    * are DETERMINISTIC — π(v, r) = ((v mod P)·2654435761 + r·40503)
    * mod P with P = 1 000 000 007, tie-broken by node id — plain 62-bit
    * BIGINT arithmetic any engine reproduces exactly, so the emitted
    * set is replayable round-for-round (the fixed-seed discipline every
    * sampling op in this repo follows). Isolated-in-the-active-graph
    * nodes beat an empty neighborhood and join that round.
    *
    * Scale shape: per round, one keyed neighbor-min over the active
    * symmetrized edges and two semi/anti joins to retire winners and
    * their neighbors — all keyed on node, frames only shrink, each
    * round's survivor frame localCheckpoint'ed and the predecessor
    * freed (the CC loop discipline). Expected rounds O(log n);
    * `maxRounds` throws rather than returning a non-maximal set.
    * Returns (node, in_mis, round) — `round` = when the node's fate was
    * decided. */
  def lubyMis(edges: DataFrame, maxRounds: Int = 20): DataFrame = {
    val P = 1000000007L
    def pri(v: Column, r: Int): Column =
      ((v % P) * 2654435761L + lit(r.toLong) * 40503L) % P
    val canon = edges.filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()
    var e = Rounds.checkpoint(canon)
    // round 0's `active` is derived from `e`, not pinned: freeing it
    // frees only `e` again
    var active = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node"))).distinct()
    var decided: DataFrame = null
    var r = 0
    var nActive = active.count()
    while (nActive > 0) {
      if (r >= maxRounds)
        throw new IllegalStateException(
          s"lubyMis did not converge within $maxRounds rounds")
      val sym = e.select(col("a").as("u"), col("b").as("w"))
        .unionAll(e.select(col("b").as("u"), col("a").as("w")))
      // strict total order on (π, id): v wins iff its pair precedes the
      // min over active neighbors' pairs (nodes with no active neighbor
      // see NULL and win)
      val nbrMin = sym
        .groupBy(col("u"))
        .agg(min(struct(pri(col("w"), r).as("p"), col("w").as("v")))
          .as("__nm"))
      val wins = active.join(nbrMin, col("node") === col("u"), "left")
        .filter(col("__nm").isNull ||
          struct(pri(col("node"), r).as("p"), col("node").as("v")) < col("__nm"))
        .select(col("node"))
      val retired = wins.unionAll(
          sym.join(wins.select(col("node").as("u")), Seq("u"), "left_semi")
            .select(col("w").as("node")))
        .distinct()
      val roundOut = retired.join(wins.withColumn("__w", lit(true)),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("__w"), lit(false)).as("in_mis"),
          lit(r).as("round"))
      // Checkpoint the ROUND OUTPUT first (r15 optimization): the three
      // per-round successor actions previously each re-ran the round's
      // heavy chain (neighbor-min shuffle → wins → retired) from the
      // checkpointed leaves, because shuffle output is not reused ACROSS
      // actions — only within one. Materializing roundOut once makes the
      // other successors cheap joins against it, and the accumulated
      // `decided` frame no longer needs re-checkpointing per round at
      // all: each round's slice is pinned exactly once and the final
      // result is the lazy union of the pinned slices (their blocks are
      // kept for the result's lifetime, the same lifetime the old merged
      // checkpoint had). Measured at sf0.1 (isolated
      // A/B, rows bit-identical): graph_mis 6.12 → 4.10 s.
      val ro2 = Rounds.checkpoint(roundOut)
      val retired2 = ro2.select(col("node"))
      val nextActive = active.join(retired2, Seq("node"), "left_anti")
      val nextE = e
        .join(nextActive.select(col("node").as("a")), Seq("a"), "left_semi")
        .join(nextActive.select(col("node").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
      // checkpoint the successors BEFORE freeing the round's blocks; the
      // survivor count rides the active frame's checkpoint job (fused
      // probe) instead of a separate count action.
      val e2 = Rounds.checkpoint(nextE)
      val (a2, n2) = Rounds.checkpointWith(nextActive)(_.count())
      Rounds.free(e); Rounds.free(active)
      e = e2
      active = a2
      decided = if (decided == null) ro2 else decided.unionAll(ro2)
      nActive = n2
      r += 1
    }
    Rounds.free(e); Rounds.free(active)
    if (decided == null)
      canon.select(col("a").as("node"), lit(false).as("in_mis"),
        lit(0).as("round")).limit(0)
    else decided
  }

  /** Greedy graph coloring by Jones–Plassmann rounds (Jones &
    * Plassmann, SIAM J. Sci. Comput. 1993) — the bulk-parallel form of
    * the sequential greedy coloring: vertices carry a FIXED
    * deterministic priority π(v) = ((v mod P)·2654435761) mod P
    * (tie-broken by id — a pseudo-random total order any engine
    * reproduces exactly); each round, every uncolored vertex that
    * precedes ALL its uncolored neighbors in that order takes the
    * SMALLEST color its already-colored neighbors don't use. Two
    * same-round winners are never adjacent (both uncolored, so their
    * edge is active and one would block the other), so rounds commit
    * conflict-free in bulk; round count is the longest
    * priority-decreasing path — O(log n / log log n) w.h.p. on bounded-
    * degree graphs — but a DENSE subgraph stalls it (a k-clique colors
    * one vertex per round, so rounds reach the largest clique-ish
    * community; the sf0.001 fixture's 200-node/2452-edge co-purchase
    * graph needs 36). `maxRounds` (default 64) throws loudly rather
    * than returning a partial coloring. Colors are ≤ degeneracy+1 in the greedy order and the
    * whole run is replayable round-for-round.
    *
    * Scale shape: the winner test is the [[lubyMis]] neighbor-min over
    * the ACTIVE (both-endpoints-uncolored) edges, which only shrink;
    * the smallest-missing-color step touches winners only — one
    * semi-join of the static symmetrized edges on the winner set, one
    * keyed join against the colored frame, and a per-winner sorted-rank
    * gap scan (first index where the i-th distinct used color ≠ i —
    * never a sequence explode over degree). Each round's survivors are
    * localCheckpoint'ed and the predecessor freed (the CC loop
    * discipline). Returns (node, color, round). */
  def jonesPlassmann(edges: DataFrame, maxRounds: Int = 64): DataFrame = {
    val P = 1000000007L
    def pri(v: Column): Column = (v % P) * 2654435761L % P
    val canon = canonicalEdges(edges, "a", "b")
    val full = Rounds.checkpoint(canon)
    val fullSym = full.select(col("a").as("u"), col("b").as("w"))
      .unionAll(full.select(col("b").as("u"), col("a").as("w")))
    // in round 0, e is `full`, active is derived from it and colors is
    // null: none is pinned by this loop (full's blocks are freed once, at
    // the end), so the loop frees them only from round 1 on
    var e = full
    var active = full.select(col("a").as("node"))
      .unionAll(full.select(col("b").as("node"))).distinct()
    var colors: DataFrame = null
    var r = 0
    var nActive = active.count()
    while (nActive > 0) {
      if (r >= maxRounds)
        throw new IllegalStateException(
          s"jonesPlassmann did not converge within $maxRounds rounds")
      val sym = e.select(col("a").as("u"), col("b").as("w"))
        .unionAll(e.select(col("b").as("u"), col("a").as("w")))
      val nbrMin = sym.groupBy(col("u"))
        .agg(min(struct(pri(col("w")).as("p"), col("w").as("v"))).as("__nm"))
      val wins = active.join(nbrMin, col("node") === col("u"), "left")
        .filter(col("__nm").isNull ||
          struct(pri(col("node")).as("p"), col("node").as("v")) < col("__nm"))
        .select(col("node"))
      val newColors =
        if (colors == null)
          wins.select(col("node"), lit(0L).as("color"), lit(r).as("round"))
        else {
          val used = fullSym
            .join(wins.select(col("node").as("u")), Seq("u"), "left_semi")
            .join(colors.select(col("node").as("w"), col("color")), Seq("w"))
            .select(col("u"), col("color")).distinct()
          val byU = org.apache.spark.sql.expressions.Window
            .partitionBy(col("u")).orderBy(col("color"))
          val miss = used
            .withColumn("__idx", (row_number().over(byU) - 1).cast("long"))
            .groupBy(col("u"))
            .agg(min(when(col("color") =!= col("__idx"), col("__idx")))
              .as("__gap"), count(lit(1)).as("__cnt"))
            .select(col("u").as("node"),
              coalesce(col("__gap"), col("__cnt")).as("__c"))
          wins.join(miss, Seq("node"), "left")
            .select(col("node"), coalesce(col("__c"), lit(0L)).as("color"),
              lit(r).as("round"))
        }
      // Checkpoint the ROUND OUTPUT first (r15 optimization, the lubyMis
      // restructure): the successor actions previously each re-ran the
      // round's heavy chain (neighbor-min shuffle → wins → used-color
      // window) because shuffle output is not reused across actions.
      // newColors pinned once is both the round's decided slice and the
      // win set the successors need. `colors` must stay ONE checkpointed
      // frame (unlike lubyMis's result-only accumulator) because every
      // LATER round joins against it — as a growing union its plan would
      // re-expand per round — but its per-round re-checkpoint is now a
      // cheap union of two materialized frames instead of a third run of
      // the chain. Measured at sf0.1 (isolated A/B,
      // rows bit-identical): graph_coloring 9.24 → 6.62 s.
      val nc2 = Rounds.checkpoint(newColors)
      val merged = if (colors == null) nc2 else colors.unionAll(nc2)
      val nextActive = active.join(nc2.select(col("node")), Seq("node"),
        "left_anti")
      val nextE = e
        .join(nextActive.select(col("node").as("a")), Seq("a"), "left_semi")
        .join(nextActive.select(col("node").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
      val e2 = Rounds.checkpoint(nextE)
      val (a2, n2) = Rounds.checkpointWith(nextActive)(_.count())
      val c2 = Rounds.checkpoint(merged)
      if (r > 0) { Rounds.free(e); Rounds.free(active); Rounds.free(colors) }
      Rounds.free(nc2)
      e = e2
      active = a2
      colors = c2
      nActive = n2
      r += 1
    }
    Rounds.free(e); Rounds.free(full); Rounds.free(active)
    if (colors == null)
      canon.select(col("a").as("node"), lit(0L).as("color"),
        lit(0).as("round")).limit(0)
    else colors
  }

  /** Bipartiteness check + 2-coloring via the bipartite double cover —
    * the classic reduction that turns odd-cycle detection into TWO
    * connected-components runs (so it converges in the same
    * O(log n) two-star rounds as [[ccTwoStarsNodes]], never
    * diameter-bounded BFS): lift each edge u–v to (u,0)–(v,1) and
    * (u,1)–(v,0) on node ids 2v+parity. A component with min node c is
    * bipartite iff its cover splits in two — iff the cover labels of
    * (v,0) and (v,1) differ (for ANY of its v). The coloring needs no
    * extra pass either: anchoring color(c) = 0, parity(v) is even
    * exactly when (v,0) shares a cover component with (c,0), whose
    * label is provably 2·c (c is the component min, so every other
    * cover id 2v+p ≥ 2v > 2c), i.e. color(v) = 0 iff lbl₀(v) = 2·comp.
    *
    * Scale shape: two [[ccTwoStarsNodes]] closures (the second over 2×
    * the edges) plus two keyed equi-joins of the node frame against the
    * cover labels — nothing new beyond the gated CC machinery. Ids must
    * stay below 2⁶²; ANSI mode makes an overflow loud.
    * Returns (node, component, color ∈ {0,1} or NULL, is_bipartite). */
  def bipartiteColor(edges: DataFrame, maxRounds: Int = 24,
      edgesCanonical: Boolean = false): DataFrame = {
    // ONE closure over the disjoint union of the original graph and its
    // double cover, id-encoded into disjoint spaces (original v → 4v+2,
    // cover (v, parity) → 4v+parity): the two component structures never
    // touch, so one two-star fixpoint computes both label maps while
    // paying the log-round scaffolding once instead of twice (measured
    // 9.3 s as two sequential closures at sf0.1). The min-label
    // arguments survive the encoding: an original component with min c
    // labels 4c+2 (its ids are exactly {4v+2}); the cover component
    // containing (c, 0) labels 4c (every other member 4v+p ≥ 4(c+1) >
    // 4c), and its partner — when bipartite — labels 4c+1 (members are
    // 4v+1 with v > c, all > 4c+1).
    val e = if (edgesCanonical) edges else edges.filter(col("a") =!= col("b"))
    // Canonicity survives the cover encoding: with a < b strictly,
    // 4a+2 < 4b+2, 4a < 4b+1 and 4a+1 < 4b, and the three legs live in
    // disjoint (mod 4, mod 4) code spaces, so a canonical distinct input
    // yields a canonical distinct union — the closure may skip its own
    // canonicalization pass exactly when the caller's input allows it.
    val union = e.select((col("a") * 4 + 2).as("a"), (col("b") * 4 + 2).as("b"))
      .unionAll(e.select((col("a") * 4).as("a"), (col("b") * 4 + 1).as("b")))
      .unionAll(e.select((col("a") * 4 + 1).as("a"), (col("b") * 4).as("b")))
    val lbls = ccTwoStarsNodes(union, maxRounds, edgesCanonical)
    // Decode with exact integer division (div): Spark's `/` on longs is
    // DOUBLE division, which silently rounds node ids above ~2^51 —
    // `div` keeps the full 2^62-id headroom the encoding promises.
    // ONE keyed aggregate decodes all three label maps (r16): the old
    // three-filter + two-join decode re-executed the closure's final
    // distinct once per filter leg and paid two more join exchanges;
    // grouping by the decoded original id v = node div 4 folds the maps
    // in one pass. Each cover/original node carries exactly one label
    // row, so the conditional min IS that label, and requiring all
    // three parities present replays the former INNER joins (every
    // endpoint of an edge exists in the original and both cover
    // parities by construction).
    val dec = lbls
      .select(expr("node div 4").cast("long").as("node"),
        (col("node") % 4).as("__k"), col("lbl"))
      .groupBy(col("node"))
      .agg(
        min(when(col("__k") === 2, expr("(lbl - 2) div 4").cast("long")))
          .as("component"),
        min(when(col("__k") === 0, col("lbl"))).as("__l0"),
        min(when(col("__k") === 1, col("lbl"))).as("__l1"))
      .filter(col("component").isNotNull && col("__l0").isNotNull &&
        col("__l1").isNotNull)
    dec.select(col("node"), col("component"),
        when(col("__l0") =!= col("__l1"),
          when(col("__l0") === col("component") * 4, 0).otherwise(1))
          .as("color"),
        (col("__l0") =!= col("__l1")).as("is_bipartite"))
  }

  /** [[ccTwoStarsNodes]] aggregated to one row per component —
    * (component, n_nodes, max_node), the [[labelPropagation]] output
    * shape with TRUE component minima as labels (not k-hop minima). */
  def ccTwoStars(edges: DataFrame, maxRounds: Int = 24,
      edgesCanonical: Boolean = false): DataFrame =
    ccTwoStarsNodes(edges, maxRounds, edgesCanonical)
      .groupBy(col("lbl"))
      .agg(count(lit(1)).as("n_nodes"), max(col("node")).as("max_node"))
      .select(col("lbl").as("component"), col("n_nodes"), col("max_node"))

  /** `rounds` of synchronous min-label propagation ALONG edge direction
    * (label pushes src → dst; every node also keeps its own label). On a
    * symmetrized frame this is the [[labelPropagationNodes]] recurrence;
    * on a directed frame it computes "min id with a ≤ rounds-hop path TO
    * each node" — the forward half of the [[sccBounded]] coloring.
    * `tags` names extra key columns carried by BOTH `adj` and `nodes`:
    * independent propagation instances (sccBounded's forward and
    * backward passes) advance in the SAME per-round job/shuffle instead
    * of doubling the round count. */
  private def minLabelRounds(adj: DataFrame, nodes: DataFrame,
      rounds: Int, tags: Seq[String] = Seq.empty): DataFrame = {
    require(rounds >= 1 && rounds <= 10, "rounds in [1,10] (plan grows per round)")
    val keys = tags :+ "node"
    val init = nodes.select(
      (tags.map(col) :+ col("node") :+ col("node").as("lbl")): _*)
    val pushAdj = adj.withColumnRenamed("src", "node")
    // each round reads the PREVIOUS label frame twice (self ∪ neighbor
    // push): checkpoint per round keeps both recompute AND the logical
    // plan linear in rounds (see Rounds)
    Rounds.fixed(init, rounds) { l =>
      l.unionAll(
          l.join(pushAdj, keys)
            .select((tags.map(col) :+ col("dst").as("node") :+ col("lbl")): _*))
        .groupBy(keys.map(col): _*).agg(min(col("lbl")).as("lbl"))
    }
  }

  /** Bounded-round strongly-connected-component coloring over a DIRECTED
    * edge set — the forward/backward min-label trick: f(v) = min id with
    * a ≤ rounds-hop path to v, b(v) = min id v reaches in ≤ rounds hops.
    * A node with f(v) = b(v) = m sits on a cycle through m, so the
    * {f = b = m} groups are true subsets of strongly connected
    * components, exact for every SCC whose members are within `rounds`
    * hops of its minimum id in both directions (fixed rounds keep the
    * recurrence oracle-replayable, the [[labelPropagation]] convention).
    * Nodes not yet resolved (f ≠ b — trivial SCCs and cycles longer than
    * the bound) are counted in the `n_unresolved` constant column rather
    * than dropped, so the output is self-auditing.
    *
    * Plan: ONE tag-keyed min-label recurrence — the forward pass (tag 0,
    * edges as-is) and the backward pass (tag 1, edges reversed) ride the
    * same union-tagged frame, so both directions advance in the SAME
    * per-round join + grouped min (half the round jobs of two separate
    * recurrences, per-round checkpointed), then one keyed conditional
    * aggregate folds the two tags back to (node, f, b) — no f⋈b join.
    * Everything is node- or edge-keyed — no global window, no driver
    * state. */
  def sccBounded(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .persist(lvl)
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node"))).distinct().persist(lvl)
    val adj = e.select(lit(0).as("t"), col("src"), col("dst"))
      .unionAll(e.select(lit(1).as("t"),
        col("dst").as("src"), col("src").as("dst")))
    val tagged = nodes.select(lit(0).as("t"), col("node"))
      .unionAll(nodes.select(lit(1).as("t"), col("node")))
    val joined = minLabelRounds(adj, tagged, rounds, tags = Seq("t"))
      .groupBy(col("node"))
      .agg(min(when(col("t") === 0, col("lbl"))).as("f"),
        min(when(col("t") === 1, col("lbl"))).as("b"))
      .persist(lvl)
    val unresolved = broadcast(joined.filter(col("f") =!= col("b"))
      .agg(count(lit(1)).as("n_unresolved")))
    joined.filter(col("f") === col("b"))
      .groupBy(col("f").as("scc"))
      .agg(count(lit(1)).as("n_nodes"), max(col("node")).as("max_node"))
      .crossJoin(unresolved)
  }

  /** Strongly connected components to CONVERGENCE — the forward/backward
    * coloring of [[sccBounded]] iterated until every node is resolved
    * (the [[graft.ops.Dedup]] duplicateGroups discipline: a driver loop
    * over localCheckpoint'ed frames, progress checked per round):
    *
    *  1. run the tag-union min-label recurrence to FIXPOINT on the
    *     remaining subgraph (labels only ever decrease, so the round
    *     loop stops when the exact decimal label sum stops moving — one
    *     O(1) scalar per round, never a row-level diff);
    *  2. peel the {f = b} groups — exact SCCs of the remaining subgraph,
    *     and removing whole SCCs never splits or merges another (any
    *     path between two co-SCC nodes lies inside their SCC);
    *  3. anti-join the resolved nodes out of the node and edge frames
    *     and repeat. The remaining global-minimum node always has
    *     f = b = itself, so every peel resolves ≥ 1 node — `maxPeels`
    *     bounds pathological shapes (a descending id chain peels one
    *     node per round) with a LOUD failure, never a silent partial.
    *
    * [[sccBounded]] stays as the fixed-round twin (bounded cost, a
    * self-auditing unresolved count); this is the exact decomposition —
    * output rows are one per true SCC: (scc, n_nodes, max_node). */
  def sccConverge(edges: DataFrame, srcCol: String, dstCol: String,
      maxPeels: Int = 64, maxRounds: Int = 200): DataFrame = {
    val spark = edges.sparkSession
    var e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint()
    var nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node"))).distinct().localCheckpoint()
    val results = Seq.newBuilder[DataFrame]
    var peel = 0
    while (!nodes.isEmpty) {
      require(peel < maxPeels, s"SCC peeling exceeded $maxPeels iterations")
      // adj/st-init are NARROW maps over already-checkpointed frames —
      // their own eager checkpoints bought nothing but two extra
      // materialization jobs per peel (r16 peel-scaffolding pass); the
      // round loop's lazy checkpoints truncate the lineage anyway.
      val adj = e.select(lit(0).as("t"), col("src"), col("dst"))
        .unionAll(e.select(lit(1).as("t"),
          col("dst").as("src"), col("src").as("dst")))
      val pushAdj = adj.withColumnRenamed("src", "node")
      var st = nodes.select(lit(0).as("t"), col("node"))
        .unionAll(nodes.select(lit(1).as("t"), col("node")))
        .select(col("t"), col("node"), col("node").as("lbl"))
        .localCheckpoint(eager = false)
      def lblSum(df: DataFrame): java.math.BigDecimal =
        df.agg(sum(col("lbl").cast("decimal(38,0)"))).head().getDecimal(0)
      var prev = lblSum(st)
      var round = 0
      var stable = false
      while (!stable) {
        require(round < maxRounds, s"SCC coloring exceeded $maxRounds rounds")
        // lazy checkpoint + full-scan label-sum probe in ONE job per
        // round (r14 fused-probe pass; nothing is freed under this
        // loop, so laziness is unconditionally safe here).
        // r16: POINTER-DOUBLING leg added — lbl(v) = u means u reaches v
        // (tag 0) / v reaches u (tag 1), and lbl(u) = w extends the same
        // relation transitively, so min(lbl(v), lbl(lbl(v))) is a sound
        // tightening. Edge pushes alone need O(diameter) rounds; with
        // the label-of-label join the frontier distance halves per
        // round, so the SAME fixpoint (min over all ancestors /
        // descendants — round structure cannot change it, hence the
        // peel sequence is bit-identical) lands in O(log diameter)
        // rounds. One extra same-size keyed join per round buys
        // exponentially fewer rounds — the §2 log-round argument
        // ccTwoStarsNodes already makes for the undirected case.
        st = st.unionAll(
            st.join(pushAdj, Seq("t", "node"))
              .select(col("t"), col("dst").as("node"), col("lbl")))
          .unionAll(
            st.select(col("t"), col("node"), col("lbl").as("__p"))
              .join(st.select(col("t"), col("node").as("__p"),
                col("lbl").as("__pl")), Seq("t", "__p"))
              .select(col("t"), col("node"), col("__pl").as("lbl")))
          .groupBy(col("t"), col("node")).agg(min(col("lbl")).as("lbl"))
          .localCheckpoint(eager = false)
        val cur = lblSum(st)
        stable = cur.compareTo(prev) == 0
        prev = cur
        round += 1
      }
      val fb = st.groupBy(col("node"))
        .agg(min(when(col("t") === 0, col("lbl"))).as("f"),
          min(when(col("t") === 1, col("lbl"))).as("b"))
        .localCheckpoint()
      // fb (checkpointed) is the peel's hub: the SCC rollup, the
      // remaining-node set and the edge restriction are all cheap
      // selects/joins over it, so none needs its own checkpoint
      // (r16 peel-scaffolding pass — was resolved/rn/results/nodes,
      // four materializations per peel). Remaining nodes come straight
      // from the f ≠ b rows — every current node appears in fb — and
      // the edge frame keeps rows whose BOTH endpoints remain
      // (semi-joins against remaining ≡ the former anti-joins against
      // resolved).
      val resolved = fb.filter(col("f") === col("b"))
      results += resolved.groupBy(col("f").as("scc"))
        .agg(count(lit(1)).as("n_nodes"), max(col("node")).as("max_node"))
      nodes = fb.filter(col("f") =!= col("b")).select(col("node"))
        .localCheckpoint()
      e = e.join(nodes.select(col("node").as("src")), Seq("src"), "left_semi")
        .join(nodes.select(col("node").as("dst")), Seq("dst"), "left_semi")
        .select(col("src"), col("dst"))
        .localCheckpoint()
      peel += 1
    }
    val out = results.result()
    if (out.isEmpty)
      spark.emptyDataFrame
        .select(lit(0L).as("scc"), lit(0L).as("n_nodes"), lit(0L).as("max_node"))
        .limit(0)
    else out.reduce(_ unionAll _)
  }

  /** Newman modularity of a node partition over an undirected edge set:
    * Q = Σ_c [ L_c/m − (d_c/2m)² ] — how much denser the communities are
    * than a degree-preserving random rewiring (Q≈0: no structure;
    * 0.3–0.7: strong). All inputs are integer counts (within-community
    * edges, degree sums, m), so every per-community contribution is a
    * deterministic double and the total sums in DECIMAL — exactly the
    * psiDrift gating trick. Plan: two broadcast-sized label joins over
    * the edge list, two keyed aggregates, and a |communities|-row
    * window. Returns (community, l_c, d_c, contrib, q_total). */
  def modularity(edges: DataFrame, nodeLabels: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val lbl = nodeLabels.persist(lvl)
    val labeled = edges
      .join(lbl.select(col("node").as("a"), col("lbl").as("la")), Seq("a"))
      .join(lbl.select(col("node").as("b"), col("lbl").as("lb")), Seq("b"))
    val mRow = broadcast(edges.agg(count(lit(1)).cast("double").as("__m")))
    val within = labeled.filter(col("la") === col("lb"))
      .groupBy(col("la").as("community")).agg(count(lit(1)).as("l_c"))
    // d_c = Σ_{v∈c} deg(v): aggregate the symmetrized endpoint stream to
    // a node-scale degree frame FIRST, then join the labels onto |V|
    // rows instead of 2|E| (r16; the per-community count of labeled
    // endpoint rows it replaces is the same exact BIGINT).
    val degSum = edges.select(col("a").as("node"))
      .unionAll(edges.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("__d"))
      .join(lbl, Seq("node"))
      .groupBy(col("lbl").as("community")).agg(sum(col("__d")).as("d_c"))
    val all = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    degSum.join(within, Seq("community"), "left")
      .select(col("community"), coalesce(col("l_c"), lit(0L)).as("l_c"), col("d_c"))
      .crossJoin(mRow)
      .withColumn("contrib",
        col("l_c") / col("__m") -
          (col("d_c") / (lit(2.0) * col("__m"))) * (col("d_c") / (lit(2.0) * col("__m"))))
      .withColumn("q_total",
        sum(col("contrib").cast("decimal(28,18)")).over(all).cast("double"))
      .select(col("community"), col("l_c"), col("d_c"), col("contrib"), col("q_total"))
  }

  /** One synchronized Louvain-style local-move pass over an undirected,
    * unit-weight edge set, starting from singleton communities — the
    * deterministic, oracle-replayable core step of Louvain community
    * detection (Blondel et al. 2008). From singletons, moving node i
    * into neighbor j's community changes modularity by
    * ΔQ = w_ij/m − d_i·d_j/(2m²); scaling by the positive constant 2m²
    * gives the EXACT integer gain g = 2m·w_ij − d_i·d_j (w_ij = 1 on a
    * distinct edge set), so the argmax and the "only move if ΔQ > 0"
    * guard are pure BIGINT comparisons — no floating-point, no
    * engine-dependent rounding. Every node picks its best neighbor
    * simultaneously (ties → lowest neighbor id), the synchronous
    * variant distributed Louvain implementations use because a
    * sequential scan order cannot be reproduced across partitions.
    *
    * Plan shape (the 100 TB-safe one): degree = one keyed aggregate over
    * the symmetrized edges; gains = the edge list joined to the
    * node-keyed degree frame twice (both hash joins on node id, no
    * fan-out beyond |E|); the per-node argmax is a map-side-combinable
    * max(struct); the community rollup is two keyed aggregates. No
    * global window, no driver state, nothing sized beyond O(|E|).
    *
    * Returns one row per resulting community:
    * (community, n_members, min_node, deg_sum, internal_edges). */
  def louvainLocalMove(edges: DataFrame): DataFrame =
    louvainRollup(edges, louvainMoveLabels(edges))

  /** The per-node assignment of one synchronized local-move pass — the
    * raw labels [[louvainLocalMove]] rolls up and [[louvainTwoLevel]]
    * coarsens by. Returns (node, lbl, d) with d = the node's degree in
    * the symmetrized graph. */
  def louvainMoveLabels(edges: DataFrame): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val sym = edges.select(col("a").as("i"), col("b").as("j"))
      .unionAll(edges.select(col("b").as("i"), col("a").as("j")))
    val deg = sym.groupBy(col("i").as("node")).agg(count(lit(1)).as("d"))
      .persist(lvl)
    val mRow = broadcast(edges.agg(count(lit(1)).as("__m")))
    val gains = sym
      .join(deg.select(col("node").as("i"), col("d").as("di")), Seq("i"))
      .join(deg.select(col("node").as("j"), col("d").as("dj")), Seq("j"))
      .crossJoin(mRow)
      .select(col("i"), col("j"),
        (lit(2L) * col("__m") - col("di") * col("dj")).as("g"))
    // max(struct(g, −j)): lexicographic struct max = highest gain, then
    // lowest neighbor id — the same total order the oracle's
    // row_number(ORDER BY g DESC, j) replays.
    val best = gains.filter(col("g") > 0)
      .groupBy(col("i"))
      .agg(max(struct(col("g"), (-col("j")).as("nj"))).as("m"))
      .select(col("i").as("node"), (-col("m.nj")).as("lbl"))
    deg.join(best, Seq("node"), "left")
      .select(col("node"), coalesce(col("lbl"), col("node")).as("lbl"),
        col("d"))
      // localCheckpoint, not persist (r14 perf pass, same measurement as
      // louvainTwoLevelLabels): the rollup and the coarse build each
      // reference this frame 2-3 times; truncating here keeps AQE from
      // re-walking the gains tree per downstream stage.
      .localCheckpoint()
  }

  /** Community rollup of a (node, lbl, d) assignment over the original
    * edge set — the shared output shape of both Louvain levels. */
  private[ops] def louvainRollup(edges: DataFrame, labels: DataFrame): DataFrame = {
    val members = labels
      .groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_members"), min(col("node")).as("min_node"),
        sum(col("d")).as("deg_sum"))
    val internal = edges
      .join(labels.select(col("node").as("a"), col("lbl").as("la")), Seq("a"))
      .join(labels.select(col("node").as("b"), col("lbl").as("lb")), Seq("b"))
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("community")).agg(count(lit(1)).as("internal_edges"))
    members.join(internal, Seq("community"), "left")
      .select(col("community"), col("n_members"), col("min_node"),
        col("deg_sum"), coalesce(col("internal_edges"), lit(0L)).as("internal_edges"))
  }

  /** Two-level Louvain: coarsen by the level-1 local-move communities —
    * each community becomes a super-node, parallel edges collapse to an
    * integer weight, within-community edges to self-loops — then run the
    * same synchronized local-move pass on the WEIGHTED coarse graph and
    * compose the assignments back onto the original nodes. This is the
    * aggregation step that gives Louvain its multi-level power: level 1
    * can only merge a node with a direct neighbor, level 2 merges whole
    * communities.
    *
    * Weighted gain, from singleton super-communities: moving super-node
    * i into j changes modularity by w_ij/m − d_i·d_j/(2m²) (d = weighted
    * degree, self-loops counting twice; m unchanged by coarsening since
    * every original edge lands in exactly one coarse edge or self-loop).
    * Scaling by 2m² gives g = 2m·w_ij − d_i·d_j, carried in
    * DECIMAL(38,0): with weights both terms grow as m², past int64 at
    * ~1.5·10⁹ edges (HUGEINT on the oracle side), and the argmax stays
    * an exact comparison — no floating point anywhere in the decision.
    *
    * Plan shape: the coarse frame is |communities|-scale — one keyed
    * count over the labeled edges — and everything at level 2 runs at
    * that scale; the only original-graph-sized work is the level-1 pass
    * and the node-keyed members aggregate (the internal-edge rollup
    * derives from the coarse frame too — see below). Returns the
    * [[louvainLocalMove]] output shape over the composed communities. */
  def louvainTwoLevel(edges: DataFrame): DataFrame = {
    val (labels, le, l2) = twoLevelCore(edges)
    val members = labels.groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_members"), min(col("node")).as("min_node"),
        sum(col("d")).as("deg_sum"))
    // Internal edges from the COARSE frame (r16; guide §2.3/§2.4): an
    // original edge is internal to the COMPOSED partition iff its
    // endpoints' level-1 communities map to the same level-2 label, so
    // summing le.w over pairs with l2(ca) = l2(cb), grouped by that
    // label, counts exactly the original within-community edges
    // (coarse self-loops ca = cb are trivially internal, as their
    // endpoints share the composed label). That replaces the generic
    // rollup's two label joins over the FULL edge list with two
    // community-scale joins — at 100 TB, edge-scale work becomes
    // |communities|-scale. (The r9 "labeled-edge reuse measured worse"
    // receipt was about re-using the labeled PRE-aggregate; the per-leg
    // coarse frame le did not exist then.)
    val internal = le
      .join(l2.select(col("snode").as("ca"), col("lbl2").as("fa")), Seq("ca"))
      .join(l2.select(col("snode").as("cb"), col("lbl2").as("fb")), Seq("cb"))
      .filter(col("fa") === col("fb"))
      .groupBy(col("fa").as("community"))
      .agg(sum(col("w")).as("internal_edges"))
    members.join(internal, Seq("community"), "left")
      .select(col("community"), col("n_members"), col("min_node"),
        col("deg_sum"),
        coalesce(col("internal_edges"), lit(0L)).as("internal_edges"))
  }

  /** The composed (node, lbl, d) assignment of [[louvainTwoLevel]] —
    * exposed so partition quality is scorable via [[modularity]]. */
  def louvainTwoLevelLabels(edges: DataFrame): DataFrame =
    twoLevelCore(edges)._1

  /** The two-level chain with its coarse intermediates exposed:
    * (composed labels — checkpointed, coarse weighted edges le —
    * persisted, coarse assignment l2 — lazily checkpointed, |C| rows).
    * [[louvainTwoLevel]] derives its internal-edge rollup from le/l2
    * instead of re-joining the full edge list. */
  private def twoLevelCore(edges: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val d38 = "decimal(38,0)"
    val l1 = louvainMoveLabels(edges)
    val le = edges
      .join(l1.select(col("node").as("a"), col("lbl").as("la")), Seq("a"))
      .join(l1.select(col("node").as("b"), col("lbl").as("lb")), Seq("b"))
      .select(least(col("la"), col("lb")).as("ca"),
        greatest(col("la"), col("lb")).as("cb"))
      .groupBy(col("ca"), col("cb")).agg(count(lit(1)).as("w"))
      .persist(lvl)
    val mRow = broadcast(edges.agg(count(lit(1)).as("__m")))
    val cross = le.filter(col("ca") =!= col("cb"))
    val symW = cross.select(col("ca").as("i"), col("cb").as("j"), col("w"))
      .unionAll(cross.select(col("cb").as("i"), col("ca").as("j"), col("w")))
    val degW = symW.select(col("i"), col("w"))
      .unionAll(le.filter(col("ca") === col("cb"))
        .select(col("ca").as("i"), (col("w") * 2).as("w")))
      .groupBy(col("i").as("snode")).agg(sum(col("w")).as("d"))
      .persist(lvl)
    val gains = symW
      .join(degW.select(col("snode").as("i"), col("d").as("di")), Seq("i"))
      .join(degW.select(col("snode").as("j"), col("d").as("dj")), Seq("j"))
      .crossJoin(mRow)
      .select(col("i"), col("j"),
        (lit(2L) * col("__m").cast(d38) * col("w") -
          col("di").cast(d38) * col("dj")).as("g"))
    val best = gains.filter(col("g") > 0)
      .groupBy(col("i"))
      .agg(max(struct(col("g"), (-col("j")).as("nj"))).as("m"))
      .select(col("i").as("snode"), (-col("m.nj")).as("lbl2"))
    // lazy checkpoint: the labels checkpoint below materializes it as
    // part of its own job, and louvainTwoLevel's internal-edge legs then
    // read the pinned |C|-row frame instead of re-running the coarse
    // gain chain per reference
    val l2 = degW.select(col("snode"))
      .join(best, Seq("snode"), "left")
      .select(col("snode"), coalesce(col("lbl2"), col("snode")).as("lbl2"))
      .localCheckpoint(eager = false)
    // localCheckpoint, not persist (r14 perf pass): the rollup reads
    // this frame three times, so with a lazy persist every downstream
    // plan still carries the FULL two-level logical tree and AQE
    // re-optimizes it at each of its ~35 stage materializations —
    // measured 14.9 s for graph_louvain_multilevel at sf0.1; truncating
    // the lineage here makes every rollup reference a leaf scan and
    // took the same query to 9.1 s on the same host (the
    // leidenRefineLabels lesson applied one level down). Callers get a
    // checkpointed frame — do NOT re-checkpoint it.
    val labels = l1
      .join(l2.select(col("snode").as("lbl"), col("lbl2")), Seq("lbl"))
      .select(col("node"), col("lbl2").as("lbl"), col("d"))
      .localCheckpoint()
    (labels, le, l2)
  }

  /** Leiden-style refinement of the two-level Louvain partition (Traag,
    * Waltman & van Eck 2019, "From Louvain to Leiden", public knowledge):
    * the refinement phase's GUARANTEE — every community internally
    * connected — applied as a deterministic connectivity repair. Each
    * Louvain community splits into the connected components of its own
    * induced subgraph (new label = component-minimum node id; a member
    * with no within-community edge becomes a singleton). Louvain's
    * documented defect (the paper's headline figure) is that local moves
    * can hollow out a community until a bridge node is all that held it
    * together, leaving a DISCONNECTED node set under one label.
    * Splitting a disconnected community into its components never
    * decreases modularity: internal edge counts are preserved exactly
    * (no internal edge crosses components, by definition of components)
    * while the −Σd_c²/(4m²) penalty strictly shrinks whenever a degree
    * sum splits. This implements the refinement guarantee, not the full
    * randomized Leiden pipeline — Leiden's sequential randomized local
    * moves are not reproducible across engines, the connectivity
    * invariant is.
    *
    * Plan shape: two label joins restrict the edge list to
    * within-community edges (a strictly smaller set), the component
    * closure is [[ccTwoStarsNodes]]' log-round star contraction over it,
    * and one left join relabels. Returns (node, lbl, d) — the
    * [[louvainTwoLevelLabels]] shape, so [[louvainRollup]] and
    * [[modularity]] compose unchanged. */
  def leidenRefineLabels(edges0: DataFrame, maxRounds: Int = 24,
      edgesCanonical: Boolean = false): DataFrame = {
    // Pin the edge frame once: the Louvain chain plus the refinement
    // references it ~6 times (symmetrization, m, coarse build, the
    // within-community restriction, the rollup's two label attaches),
    // and an UPSTREAM edge build — often itself a join+aggregate — would
    // re-run per reference (the pagerank 82s -> 3s lesson; measured here
    // 24.6 s -> mid-teens at sf0.1 on the co-purchase build).
    val edges = edges0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // localCheckpoint, not just the chain's internal persists: the
    // refinement fires MANY actions (the within restriction, each star
    // round, the final attaches) and every one re-OPTIMIZES the full
    // Louvain logical tree (~5 s of driver time per action at sf0.1,
    // with execution itself a cache hit — measured: recounting the
    // persisted-but-not-truncated frame cost 4.7 s for 2 cached jobs).
    // Truncating the lineage makes every downstream plan a leaf scan —
    // the bpeLoop/graph_hits lesson applied at the composition boundary.
    val l = louvainTwoLevelLabels(edges) // returns localCheckpoint'ed
    val (labels, _) = leidenCore(edges, l, maxRounds,
      edgesCanonical = edgesCanonical)
    labels
  }

  /** The refinement step shared by [[leidenRefineLabels]] and
    * [[leidenRefine]]: returns (refined labels, within-community edge
    * frame — checkpointed when reused downstream). */
  private def leidenCore(edges: DataFrame, l: DataFrame, maxRounds: Int,
      pinWithin: Boolean = false,
      edgesCanonical: Boolean = false): (DataFrame, DataFrame) = {
    // the within frame is a row-subset of `edges` (two label joins, one
    // per-edge filter, no reshaping), so it inherits the caller's
    // canonical-distinct guarantee and the closure may skip its dedup
    val within0 = edges
      .join(l.select(col("node").as("a"), col("lbl").as("la")), Seq("a"))
      .join(l.select(col("node").as("b"), col("lbl").as("lb")), Seq("b"))
      .filter(col("la") === col("lb"))
      .select(col("a"), col("b"))
    val within = if (pinWithin) within0.localCheckpoint() else within0
    val comp = ccTwoStarsNodes(within, maxRounds, edgesCanonical)
    val labels = l
      .join(comp.select(col("node"), col("lbl").as("__c")), Seq("node"), "left")
      .select(col("node"), coalesce(col("__c"), col("node")).as("lbl"),
        col("d"))
    (labels, within)
  }

  /** [[leidenRefineLabels]] rolled up to the [[louvainTwoLevel]] output
    * shape: (community, n_members, min_node, deg_sum, internal_edges).
    * NOT persisted beyond the labels' internal pins: caching the refined
    * label frame for the rollup's three reads measured WORSE at sf0.1
    * (24.7 s -> 30.3 s — the extra materialization barrier outweighs
    * three cheap joins over already-cached inputs; the same lesson
    * SCALE.md records for the two-level Louvain rollup).
    *
    * Internal-edge leg from the WITHIN frame (r16): the generic rollup
    * re-joined the full edge list against the refined labels twice, but
    * by the [[leidenQuality]] within-edge-set identity the edges whose
    * endpoints share a REFINED label are exactly the within-Louvain
    * edges, each inside one refined community — so one relabel join of
    * the (already checkpointed) within frame, grouped by the refined
    * label of either endpoint, counts them. Edge-scale work becomes
    * within-frame-scale; the oracle recomputes the rollup from scratch
    * and stays green. */
  def leidenRefine(edges0: DataFrame, maxRounds: Int = 24,
      edgesCanonical: Boolean = false): DataFrame = {
    val edges = edges0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val l = louvainTwoLevelLabels(edges) // returns localCheckpoint'ed
    val (labels, within) = leidenCore(edges, l, maxRounds, pinWithin = true,
      edgesCanonical = edgesCanonical)
    val members = labels.groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_members"), min(col("node")).as("min_node"),
        sum(col("d")).as("deg_sum"))
    val internal = within.select(col("a"))
      .join(labels.select(col("node").as("a"), col("lbl").as("fa")), Seq("a"))
      .groupBy(col("fa").as("community"))
      .agg(count(lit(1)).as("internal_edges"))
    members.join(internal, Seq("community"), "left")
      .select(col("community"), col("n_members"), col("min_node"),
        col("deg_sum"),
        coalesce(col("internal_edges"), lit(0L)).as("internal_edges"))
  }

  /** The Leiden GUARANTEES as one gated row — the two invariants Traag
    * et al. 2019 prove for the refinement, recomputed over the full
    * graph so they are checked at every scale factor, not only in the
    * hand fixture: (1) every refined community is internally connected
    * (the n_disconnected count over the within-refined edge set's
    * component closure — computed via the proven within-edge-set
    * identity below, and independently recomputed from scratch by the
    * driver's cross-engine oracle); (2)
    * modularity does not decrease vs the unrefined Louvain partition —
    * compared in EXACT integers: Q·4m² = Σ_c (4m·l_c − d_c²), so the
    * non-decrease is a BIGINT comparison with no float accumulation to
    * round (l_c, d_c, m are all counts; at m = 10⁸ the terms stay
    * < 2⁶³).
    *
    * Plan shape: the Louvain chain runs ONCE (the refinement reuses its
    * localCheckpoint'ed labels); ONE star-contraction log-round closure
    * over within-community edges serves both invariants (the
    * within-refined edge set is provably the same multiset — see the
    * theorem at the call site); both modularity sides
    * are two keyed aggregates + a 1-row broadcast m; the output is one
    * row. Returns (n_comm_louvain, n_comm_leiden, n_disconnected,
    * all_connected, q_scaled_louvain, q_scaled_leiden,
    * q_non_decrease). */
  def leidenQuality(edges0: DataFrame, maxRounds: Int = 24,
      edgesCanonical: Boolean = false): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val edges = edges0.persist(lvl)
    val lou = louvainTwoLevelLabels(edges) // returns localCheckpoint'ed
    def withinOf(lf: DataFrame): DataFrame = edges
      .join(lf.select(col("node").as("a"), col("lbl").as("la")), Seq("a"))
      .join(lf.select(col("node").as("b"), col("lbl").as("lb")), Seq("b"))
      .filter(col("la") === col("lb")).select(col("a"), col("b"), col("la"))
    // Each partition's within-restriction feeds BOTH its closure and its
    // l_c modularity aggregate: pin it once instead of re-running the two
    // label joins per consumer (r15 optimization, second pass).
    val withinLou = withinOf(lou).localCheckpoint()
    // withinOf is a row-subset of `edges` (the leidenCore argument), so
    // the canonical-distinct guarantee propagates to the closure input
    val comp = ccTwoStarsNodes(withinLou.select(col("a"), col("b")),
      maxRounds, edgesCanonical)
    val leiden = lou
      .join(comp.select(col("node"), col("lbl").as("__c")), Seq("node"), "left")
      .select(col("node"), coalesce(col("__c"), col("node")).as("lbl"),
        col("d"))
      .localCheckpoint() // composition boundary (the graph_leiden lesson)
    // invariant 1 over the within-REFINED edge set. THEOREM (r16
    // optimization): that edge set is the SAME (a,b) multiset as
    // withinLou, and its component closure is `comp` itself.
    //  (⊆→) every within-Louvain edge (a,b) connects a and b inside one
    //       Louvain community's induced subgraph, so a and b are in the
    //       same connected component of it and get the same refined
    //       label — the edge is also within-refined.
    //  (⊆←) refined labels refine Louvain labels: a component's label is
    //       its minimum MEMBER node, components never span Louvain
    //       communities (within edges only join same-community nodes),
    //       and a node outside the within graph keeps its own id, which
    //       cannot equal another component's member-minimum nor another
    //       outside node's id. Same refined label therefore means same
    //       component (or the self-loop case), hence same Louvain
    //       community — the edge is also within-Louvain.
    // So the second pair of full-edge label joins and the second
    // log-round star-contraction loop are algebraically the first:
    // withinLei = withinLou relabeled by one join, compR = comp. The
    // n_disconnected gate is still computed from the closure exactly as
    // written; the INDEPENDENT verifier of the refinement (and of this
    // theorem) is the driver's DuckDB oracle, which runs its own second
    // recursive closure from scratch every round, plus the
    // OperatorSpec property test that recomputes withinLei the long way
    // and asserts multiset equality. A/B at sf0.1: 9.6 s → see
    // OPTIMIZATION_r16.md (one closure loop instead of two).
    val withinLei = withinLou.select(col("a"), col("b"))
      .join(leiden.select(col("node").as("a"), col("lbl").as("la")), Seq("a"))
    val compR = comp
    val disc = leiden
      .join(compR.select(col("node"), col("lbl").as("__c2")), Seq("node"),
        "left")
      .select(col("lbl"), coalesce(col("__c2"), col("node")).as("c2"))
      .groupBy(col("lbl")).agg(countDistinct(col("c2")).as("__nc"))
      .agg(sum(when(col("__nc") > 1, 1L).otherwise(0L)).as("n_disconnected"))
    // invariant 2: scaled-integer modularity of both partitions
    val mRow = broadcast(edges.agg(count(lit(1)).as("__m")))
    def qScaled(within: DataFrame, lf: DataFrame, qName: String,
        nName: String): DataFrame = {
      val lc = within
        .groupBy(col("la").as("community")).agg(count(lit(1)).as("l_c"))
      val dc = lf.groupBy(col("lbl").as("community"))
        .agg(sum(col("d")).as("d_c"))
      dc.join(lc, Seq("community"), "left").crossJoin(mRow)
        .agg(sum(lit(4L) * col("__m") * coalesce(col("l_c"), lit(0L)) -
          col("d_c") * col("d_c")).as(qName),
          count(lit(1)).as(nName))
    }
    val q1 = qScaled(withinLou, lou, "q_scaled_louvain", "n_comm_louvain")
    val q2 = qScaled(withinLei, leiden, "q_scaled_leiden", "n_comm_leiden")
    val out = q1.crossJoin(q2).crossJoin(broadcast(disc))
      .select(col("n_comm_louvain"), col("n_comm_leiden"),
        col("n_disconnected").cast("long").as("n_disconnected"),
        (col("n_disconnected") === 0).as("all_connected"),
        col("q_scaled_louvain").cast("long").as("q_scaled_louvain"),
        col("q_scaled_leiden").cast("long").as("q_scaled_leiden"),
        (col("q_scaled_leiden") >= col("q_scaled_louvain"))
          .as("q_non_decrease"))
      // the result is ONE row: pin it, then free the session-lifetime
      // edge cache (persist without unpersist leaks blocks per call)
      .localCheckpoint()
    edges.unpersist()
    out
  }

  def pagerank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, damping: Double,
      redistributeDangling: Boolean = false): DataFrame = {
    require(iters >= 1 && iters <= 10, "iters in [1,10] (plan size grows per iter)")
    // The unrolled plan references the edge list once per iteration and
    // the node list in every rank rebuild: WITHOUT materialization the
    // upstream edge construction (often a join+aggregate itself) re-runs
    // for every reference — measured 82 s → 3 s at sf0.1 from these three
    // persists alone. MEMORY_AND_DISK keeps lineage (recomputable on
    // executor loss, unlike a checkpoint — the trade in the Rounds
    // scaladoc); blocks are freed by
    // the ContextCleaner when the plan is collected.
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val ed = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .persist(lvl)
    val nodes = ed.select(col("src").as("node_id"))
      .unionAll(ed.select(col("dst").as("node_id"))).distinct().persist(lvl)
    val n1 = broadcast(nodes.agg(count(lit(1)).cast("double").as("__n")))
    val outdeg = ed.groupBy(col("src"))
      .agg(count(lit(1)).cast("double").as("__od")).persist(lvl)
    val base = 1.0 - damping // same IEEE op as the oracle's (1 - d)
    var pr = nodes.crossJoin(n1)
      .select(col("node_id"), (lit(1.0) / col("__n")).as("pr"))
    for (_ <- 1 to iters) {
      val contribs = ed
        .join(pr.withColumnRenamed("node_id", "src"), "src")
        .join(outdeg, "src")
        .groupBy(col("dst"))
        .agg(sum(col("pr") / col("__od")).as("__c"))
        .withColumnRenamed("dst", "node_id")
      if (redistributeDangling) {
        // dangling mass: Σ pr over nodes absent from outdeg — an
        // anti-join over the N-row rank frame reduced to ONE double,
        // broadcast into the rank rebuild (no extra shuffle).
        val dang = broadcast(
          pr.join(outdeg.withColumnRenamed("src", "node_id"),
              Seq("node_id"), "left_anti")
            .agg(coalesce(sum(col("pr")), lit(0.0)).as("__dm")))
        pr = nodes.join(contribs, Seq("node_id"), "left").crossJoin(n1)
          .crossJoin(dang)
          .select(col("node_id"),
            (lit(base) / col("__n") +
              lit(damping) * (coalesce(col("__c"), lit(0.0)) +
                col("__dm") / col("__n"))).as("pr"))
      } else {
        pr = nodes.join(contribs, Seq("node_id"), "left").crossJoin(n1)
          .select(col("node_id"),
            (lit(base) / col("__n") +
              lit(damping) * coalesce(col("__c"), lit(0.0))).as("pr"))
      }
    }
    pr.select(col("node_id"), round(col("pr"), 6).as("pr"))
  }

  /** Weighted PageRank: each out-edge carries a proportional share of its
    * source's rank — contribution = pr(src) · w(e) / Σ w(out-edges of
    * src) — the standard variant on co-occurrence / trade / citation
    * graphs where edge multiplicity is signal (uniform 1/outdeg throws
    * it away). Identical plan shape to [[pagerank]]: edge and
    * out-weight frames persisted once, one keyed aggregate per
    * unrolled iteration, scores rounded to 6 (the sum's fold order is
    * the only engine-variant step, absorbed exactly as in the
    * unweighted gate). Weights enter as exact integers cast double, so
    * w/Σw is one IEEE division both engines compute identically. */
  def pagerankWeighted(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, iters: Int, damping: Double): DataFrame = {
    require(iters >= 1 && iters <= 10, "iters in [1,10] (plan size grows per iter)")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val ed = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(weightCol).cast("double").as("__w"))
      .persist(lvl)
    val nodes = ed.select(col("src").as("node_id"))
      .unionAll(ed.select(col("dst").as("node_id"))).distinct().persist(lvl)
    val n1 = broadcast(nodes.agg(count(lit(1)).cast("double").as("__n")))
    val outw = ed.groupBy(col("src"))
      .agg(sum(col("__w")).as("__ow")).persist(lvl)
    val base = 1.0 - damping
    var pr = nodes.crossJoin(n1)
      .select(col("node_id"), (lit(1.0) / col("__n")).as("pr"))
    for (_ <- 1 to iters) {
      val contribs = ed
        .join(pr.withColumnRenamed("node_id", "src"), "src")
        .join(outw, "src")
        .groupBy(col("dst"))
        .agg(sum(col("pr") * col("__w") / col("__ow")).as("__c"))
        .withColumnRenamed("dst", "node_id")
      pr = nodes.join(contribs, Seq("node_id"), "left").crossJoin(n1)
        .select(col("node_id"),
          (lit(base) / col("__n") +
            lit(damping) * coalesce(col("__c"), lit(0.0))).as("pr"))
    }
    pr.select(col("node_id"), round(col("pr"), 6).as("pr"))
  }

  /** Personalized PageRank (Haveliwala 2002; the random-walk-with-restart
    * similarity behind item-to-item recommendation and seed-expansion):
    * identical recurrence to [[pagerank]] except the (1−d) restart mass
    * returns to the SEED set (uniform over seeds present in the graph)
    * instead of all nodes — pr_{t+1} = (1−d)·r + d·Σ in-contributions,
    * initialized at r. Seeds absent from the edge list are ignored (the
    * restart normalizes over seeds∩nodes, deterministically). Dangling
    * mass decays rather than redistributes — the common PPR convention;
    * scores are a fixed-round unrolled plan the oracle replays, rounded
    * to 6 (the pagerank precedent). Same scale shape as pagerank: edge
    * list persisted once, one keyed aggregate per round, seed frame is a
    * broadcast-sized join input. */
  def personalizedPagerank(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, iters: Int, damping: Double): DataFrame = {
    require(iters >= 1 && iters <= 10, "iters in [1,10] (plan size grows per iter)")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val ed = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .persist(lvl)
    val nodes = ed.select(col("src").as("node_id"))
      .unionAll(ed.select(col("dst").as("node_id"))).distinct().persist(lvl)
    val sg = nodes
      .join(seeds.select(col("node").as("node_id")).distinct(), Seq("node_id"))
      .persist(lvl)
    val sn = broadcast(sg.agg(count(lit(1)).cast("double").as("__sn")))
    val restart = nodes
      .join(sg.withColumn("__isSeed", lit(1)), Seq("node_id"), "left")
      .crossJoin(sn)
      .select(col("node_id"),
        when(col("__isSeed").isNotNull, lit(1.0) / col("__sn"))
          .otherwise(lit(0.0)).as("r"))
      .persist(lvl)
    val outdeg = ed.groupBy(col("src"))
      .agg(count(lit(1)).cast("double").as("__od")).persist(lvl)
    val base = 1.0 - damping
    var pr = restart.select(col("node_id"), col("r").as("pr"))
    for (_ <- 1 to iters) {
      val contribs = ed
        .join(pr.withColumnRenamed("node_id", "src"), "src")
        .join(outdeg, "src")
        .groupBy(col("dst"))
        .agg(sum(col("pr") / col("__od")).as("__c"))
        .withColumnRenamed("dst", "node_id")
      pr = restart.join(contribs, Seq("node_id"), "left")
        .select(col("node_id"),
          (lit(base) * col("r") +
            lit(damping) * coalesce(col("__c"), lit(0.0))).as("pr"))
    }
    pr.select(col("node_id"), round(col("pr"), 6).as("ppr"))
  }

  /** HITS hubs-and-authorities over a DIRECTED edge list (Kleinberg's
    * algorithm, public knowledge) — the bipartite-flavored companion to
    * [[pagerank]]: on a buyer→seller graph, hub score ranks buyers by how
    * much authoritative selling they touch, authority ranks sellers by
    * how much hub buying points at them.
    *
    * Fixed iterations unrolled into one declarative plan, like pagerank:
    * per iteration, auth ← Σ_in hub then hub ← Σ_out auth, each an
    * edge-join + grouped sum (two narrow (node, double) shuffles).
    * Normalization is by the L∞ norm (max), NOT the conventional L2/L1:
    * max over doubles is fold-order-independent, so the only
    * engine-variant arithmetic left is the per-node contribution sum —
    * the same bounded-fan-in addition the pagerank gate already absorbs
    * with the 6-decimal round. An L2 norm would thread a corpus-wide
    * order-dependent Σx² through every score. Ranking is unaffected
    * (all norms are positive scalings).
    *
    * Same materialization discipline as pagerank: the edge frame and the
    * per-side contribution frames persist; the iteration frames are
    * referenced twice each (next side's join + normalizer) and stay
    * plan-bounded because iters ≤ 10. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, edgesDistinct: Boolean = false): DataFrame = {
    require(iters >= 1 && iters <= 10, "iters in [1,10] (plan size grows per iter)")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // edgesDistinct = the caller guarantees the (src, dst) stream is
    // already duplicate-free, so the dedup exchange+aggregate here would
    // re-shuffle the edge frame to remove nothing (r16: the graph_hits
    // site feeds an injective rename of an already-distinct pair frame).
    val ed0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val ed = (if (edgesDistinct) ed0 else ed0.distinct()).persist(lvl)
    val nodes = ed.select(col("src").as("node_id"))
      .unionAll(ed.select(col("dst").as("node_id"))).distinct().persist(lvl)
    var hub = nodes.select(col("node_id"), lit(1.0).as("hub"))
    var auth = nodes.select(col("node_id"), lit(1.0).as("auth"))
    // localCheckpoint each half-round (the kCorePeel pattern): with
    // persist-only, the LOGICAL plan still chains through every prior
    // round and each broadcast-max job re-optimizes the whole growing
    // tree — measured 60 s for 3 iterations at sf0.1, superlinear in
    // iters; checkpointing makes plan and optimizer cost linear.
    var pinned = Seq.empty[DataFrame]
    // Zero-score nodes are carried IMPLICITLY through the iteration: a
    // node with no in-edges has auth 0 forever, and a 0-score node's
    // contribution to the other side's sum is +0.0 — the additive
    // identity — so the per-round nodes-left-join + coalesce(0) that
    // used to materialize those rows six times (2 joins × 3 iters on
    // the full node frame) is dropped, and the zeros are filled ONCE at
    // the end. Score values are unchanged within the 6-decimal gate
    // envelope (same non-zero sum terms; order variation was already
    // absorbed by the round, per the scaladoc above).
    for (_ <- 1 to iters) {
      val aFull = Rounds.checkpoint(ed
        .join(hub.withColumnRenamed("node_id", "src"), "src")
        .groupBy(col("dst").as("node_id"))
        .agg(sum(col("hub")).as("__a")))
      val aMax = broadcast(aFull.agg(max(col("__a")).as("__amx")))
      auth = aFull.crossJoin(aMax)
        .select(col("node_id"), (col("__a") / col("__amx")).as("auth"))
      val hFull = Rounds.checkpoint(ed
        .join(auth.withColumnRenamed("node_id", "dst"), "dst")
        .groupBy(col("src").as("node_id"))
        .agg(sum(col("auth")).as("__h")))
      val hMax = broadcast(hFull.agg(max(col("__h")).as("__hmx")))
      hub = hFull.crossJoin(hMax)
        .select(col("node_id"), (col("__h") / col("__hmx")).as("hub"))
      // the superseded round's blocks are no longer reachable once this
      // round's checkpoints exist (the last round's stay live for output)
      pinned.foreach(Rounds.free)
      pinned = Seq(aFull, hFull)
    }
    nodes
      .join(auth, Seq("node_id"), "left")
      .join(hub, Seq("node_id"), "left")
      .select(col("node_id"),
        round(coalesce(col("auth"), lit(0.0)), 6).as("auth"),
        round(coalesce(col("hub"), lit(0.0)), 6).as("hub"))
  }
}
