package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Offline 10× scale-up receipt — NOT part of the gated surface.
  *
  * The driver fixtures stop at sf0.1, so the "would this hold at 100 TB"
  * argument in SCALE.md rests on plan shapes. This probe adds a measured
  * point: replicate the sf0.1 tables 10× in /tmp with shifted keys
  * (≈ sf1 row counts on the same 32 cores), run a representative operator
  * from each family at both scales cold to its full result, and print the
  * time ratio. A shape that is linear in the data should show a ratio
  * ≈ 10× or less on a fixed core budget (sub-10× where fixed overhead
  * still dominates the sf0.1 run); anything superlinear is a scale bug
  * this probe exists to catch.
  *
  * Replication details: lineitem/orders shift every key by
  * `i * 10_000_000` per replica so joins/groups see 10× DISTINCT keys
  * (not 10× multiplicity on the same keys); documents get every TOKEN
  * suffixed with the replica index — a bijective vocabulary rename, so
  * each replica reproduces the original corpus's shingle/dup-density
  * distribution while replicas share no shingles (appending one token
  * per replica would instead leave replicas at Jaccard ≈ 0.97 and hand
  * every doc 9 near-twins — a 45× pair-density increase that would fake
  * a superlinear LSH reading); embeddings shift vec_id and leave
  * vectors as-is (brute-force cost is pairs, unaffected by value reuse).
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val workDir = if (args.length > 1) args(1) else "/tmp/graft_scaleprobe"
    val replicas = if (args.length > 2) args(2).toInt else 10
    val s = graft.Harness.session(32)

    val shift = 10000000L
    def replicate(t: String, f: (DataFrame, Int) => DataFrame): String = {
      val base = s.read.parquet(s"$sfDir/$t.parquet")
      val out = s"$workDir/$t"
      (0 until replicas).map(i => f(base, i)).reduce(_ unionAll _)
        .write.mode("overwrite").parquet(out)
      out
    }
    val li10 = replicate("lineitem", (d, i) => d
      .withColumn("l_orderkey", col("l_orderkey") + lit(i * shift))
      .withColumn("l_partkey", col("l_partkey") + lit(i * shift)))
    val doc10 = replicate("documents", (d, i) => d
      .withColumn("doc_id", col("doc_id") + lit(i * shift))
      .withColumn("text", regexp_replace(col("text"), "(\\S+)", "$1" + s"r$i")))
    val emb10 = replicate("embeddings", (d, i) => d
      .withColumn("vec_id", col("vec_id") + lit(i * shift)))

    // Dev-only narrowing (comma-separated tag substrings): re-probe only
    // the named rows without re-running the whole battery.
    val only = sys.env.get("SCALEPROBE_ONLY").map(_.split(",").toSeq)
    // Min of 2 samples, each timed to the full noop result in its own
    // query scope (Bench.timeFullResult); a row whose query throws prints
    // FAILED and no ratio.
    def best(q: => DataFrame): Either[Throwable, Double] =
      (1 to 2).map(_ => graft.Bench.timeFullResult(q))
        .reduce((x, y) => for (a <- x; b <- y) yield a min b)
    def report(tag: String)(small: => DataFrame)(big: => DataFrame): Unit = {
      if (only.forall(_.exists(tag.contains))) {
        (for (a <- best(small); b <- best(big)) yield (a, b)) match {
          case Right((a, b)) =>
            println(f"$tag%-28s sf0.1=${a}%7.2f s   ${replicas}x=${b}%7.2f s   ratio=${b / a}%5.2f")
          case Left(e) => println(f"$tag%-28s FAILED: ${e.getMessage}")
        }
      }
    }

    val liS = () => s.read.parquet(s"$sfDir/lineitem.parquet")
    val liB = () => s.read.parquet(li10)
    val docS = () => s.read.parquet(s"$sfDir/documents.parquet")
    val docB = () => s.read.parquet(doc10)
    val embS = () => s.read.parquet(s"$sfDir/embeddings.parquet")
    val embB = () => s.read.parquet(emb10)

    def wedges(li: DataFrame): DataFrame = {
      val ps = col("ps")
      val pairs = flatten(transform(sequence(lit(1), size(ps) - 1), i =>
        transform(slice(ps, lit(1), i), x =>
          struct(x.as("a"), element_at(ps, i + 1).as("b")))))
      li.select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .groupBy(col("ok")).agg(sort_array(collect_list(col("pk"))).as("ps"))
        .filter(size(ps) >= 2)
        .select(explode(pairs).as("p"))
        .filter(col("p.a") < col("p.b"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(count(lit(1)).as("w")).filter(col("w") >= 2)
    }
    report("q1-style agg")(
      liS().groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")), avg(col("l_extendedprice")),
          count(lit(1))))(
      liB().groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")), avg(col("l_extendedprice")),
          count(lit(1))))
    report("co-purchase edge build")(wedges(liS()))(wedges(liB()))
    // Converged (round-count-adaptive) graph closures: replicas are
    // DISJOINT copies, so round counts stay flat while per-round frames
    // grow 10x - the intended scaling regime for both algorithms.
    report("two-star CC (converged)")(
      graft.ops.Graph.ccTwoStars(wedges(liS()).select(col("a"), col("b"))))(
      graft.ops.Graph.ccTwoStars(wedges(liB()).select(col("a"), col("b"))))
    report("Boruvka MSF")(
      graft.ops.Graph.mstBoruvka(wedges(liS())))(
      graft.ops.Graph.mstBoruvka(wedges(liB())))
    report("minhash LSH pairs")(
      graft.ops.Dedup.minhashLshPairs(docS(), "doc_id", "text"))(
      graft.ops.Dedup.minhashLshPairs(docB(), "doc_id", "text"))
    report("term stats (tf/df)")(
      graft.ops.TextAnalysis.termStats(docS()))(
      graft.ops.TextAnalysis.termStats(docB()))
    report("sequence packing")(
      graft.ops.Training.packSequences(docS(), "doc_id", "text"))(
      graft.ops.Training.packSequences(docB(), "doc_id", "text"))
    report("exact dedup groups")(
      graft.ops.Dedup.exactGroups(docS(), "text", "doc_id"))(
      graft.ops.Dedup.exactGroups(docB(), "text", "doc_id"))
    // brute-force ANN is deliberately quadratic in CANDIDATES × QUERIES;
    // probe with a FIXED 8-query set so the measured growth is the linear
    // candidate-side scan (the at-scale usage: few queries, huge corpus)
    def ann(emb: DataFrame): DataFrame = {
      val q = emb.filter(col("vec_id") % 251 === 0).limit(8)
      graft.ops.Similarity.bruteForceTopK(emb, q, k = 10)
    }
    report("brute-force ANN (8 queries)")(ann(embS()))(ann(embB()))
    // Round-11 families. maxRepeats: the vocabulary rename reproduces each
    // replica's repeat structure on disjoint tokens, so level counts stay
    // flat while the duplicated-region frames grow 10x — the regime the
    // doubling recursion is built for.
    report("maximal repeats (>=32)")(
      graft.ops.Dedup.maxRepeats(docS(), "doc_id", "text",
        minLen = 32, cap = 128))(
      graft.ops.Dedup.maxRepeats(docB(), "doc_id", "text",
        minLen = 32, cap = 128))
    // DBSCAN: replicas reuse vectors, which would stack 10 copies on every
    // coordinate and fake a quadratic in-cell blowup; shift each replica's
    // x by a disjoint offset instead (replica index recovered from the
    // vec_id key shift), so density per cell stays the original.
    def dbPts(emb: DataFrame): DataFrame = emb.select(col("vec_id").as("id"),
      (round(element_at(col("embedding"), 1).cast("double") * 1000)
        .cast("long") + (col("vec_id") / lit(shift)).cast("long") * 100000L).as("x"),
      round(element_at(col("embedding"), 2).cast("double") * 1000)
        .cast("long").as("y"))
    report("DBSCAN grid (eps=30)")(
      graft.ops.Similarity.dbscanGrid(dbPts(embS()), eps = 30L, minPts = 4))(
      graft.ops.Similarity.dbscanGrid(dbPts(embB()), eps = 30L, minPts = 4))
    // the Leiden ops read their edge frame ~6 times and expect it pinned
    def pinnedWedges(li: DataFrame): DataFrame =
      graft.ops.Rounds.checkpoint(wedges(li).select(col("a"), col("b")), eager = false)
    report("Leiden refinement")(
      graft.ops.Graph.leidenRefine(pinnedWedges(liS())))(
      graft.ops.Graph.leidenRefine(pinnedWedges(liB())))
    def qmerge(li: DataFrame): DataFrame = {
      val cents = li.select(round(col("l_extendedprice") * 100)
        .cast("long").as("v"))
      graft.ops.Profile.quantilesFromSketch(
        graft.ops.Profile.quantileSketch(cents, col("v"), 4096L), 4096L,
        Seq(10, 50, 99))
    }
    report("quantile sketch + read")(qmerge(liS()))(qmerge(liB()))
    // Round-12 families. Keep-first at maximal-repeat granularity rides
    // the same rename-replicated corpus as maxRepeats (repeat structure
    // per replica preserved, replicas share nothing).
    report("keep-first maximal spans")(
      graft.ops.Dedup.keepFirstMaximalSpans(docS(), "doc_id", "text",
        minLen = 32, cap = 128))(
      graft.ops.Dedup.keepFirstMaximalSpans(docB(), "doc_id", "text",
        minLen = 32, cap = 128))
    def qlog(li: DataFrame): DataFrame = {
      val v = li.select((round(col("l_extendedprice") * 100).cast("long") *
        round(col("l_extendedprice") * 100).cast("long")).as("v"))
      graft.ops.Profile.quantilesFromLogSketch(
        graft.ops.Profile.quantileLogSketch(v, col("v"), 12), 12,
        Seq(10, 50, 99))
    }
    report("log quantile sketch + read")(qlog(liS()))(qlog(liB()))
    report("Leiden guarantees (1-row)")(
      graft.ops.Graph.leidenQuality(pinnedWedges(liS())))(
      graft.ops.Graph.leidenQuality(pinnedWedges(liB())))
    // Holt scan: replicate events with per-replica key suffixes → 10×
    // SERIES, flat series length — the scaling regime (rounds grow with
    // log of the LONGEST series, frames with series count).
    val ev10 = replicate("events", (d, i) => d
      .withColumn("event_type", concat(col("event_type"), lit(s"_r$i"))))
    // raw fixture ts is TIMESTAMP_NTZ (queries.Fixtures.t normalizes; this
    // probe reads raw parquet, so cast here)
    def holt(ev: DataFrame): DataFrame =
      graft.ops.TimeSeries.holt(
        ev.withColumn("ts", col("ts").cast("timestamp")),
        "event_type", "ts", 3600L, 0.5, 0.25)
    report("Holt affine scan")(
      holt(s.read.parquet(s"$sfDir/events.parquet")))(
      holt(s.read.parquet(ev10)))
    // MMR: fixed 8-query panel; the only corpus-sized stage is the
    // retrieval scan — the re-rank frames are Q×C at any corpus size.
    def mmr(emb: DataFrame): DataFrame = {
      val q = emb.filter(col("vec_id") % 251 === 0).limit(8)
      graft.ops.Similarity.mmrRerank(emb, q, candK = 32, k = 8)
    }
    report("MMR re-rank (8 queries)")(mmr(embS()))(mmr(embB()))
    report("bipartite (fused cover)")(
      graft.ops.Graph.bipartiteColor(wedges(liS()).select(col("a"), col("b"))))(
      graft.ops.Graph.bipartiteColor(wedges(liB()).select(col("a"), col("b"))))
    report("Luby MIS")(
      graft.ops.Graph.lubyMis(wedges(liS()).select(col("a"), col("b"))))(
      graft.ops.Graph.lubyMis(wedges(liB()).select(col("a"), col("b"))))
    def mp(ev: DataFrame): DataFrame =
      graft.ops.TimeSeries.matrixProfileBanded(
        ev.withColumn("ts", col("ts").cast("timestamp")),
        "event_type", "ts", 3600L, w = 16, excl = 4, band = 48)
    report("matrix profile (banded)")(
      mp(s.read.parquet(s"$sfDir/events.parquet")))(mp(s.read.parquet(ev10)))
    def ivm(li: DataFrame): DataFrame = {
      val v = li.select(col("l_returnflag"), col("l_linestatus"),
        col("l_orderkey"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
      val keys = Seq("l_returnflag", "l_linestatus")
      val base = v.filter(col("l_orderkey") % 20 =!= 0)
      graft.ops.Profile.mergeAggStates(Seq(
        graft.ops.Profile.signedAggState(base, keys, col("cents"), 1),
        graft.ops.Profile.signedAggState(
          v.filter(col("l_orderkey") % 20 === 0), keys, col("cents"), 1),
        graft.ops.Profile.signedAggState(
          base.filter(col("l_orderkey") % 17 === 0), keys, col("cents"), -1)),
        keys)
    }
    report("incremental agg (signed)")(ivm(liS()))(ivm(liB()))
    // Round-13 families. pHash near: everything past the hash projection
    // is bounded by DISTINCT 15-bit hashes (≤ 32768 rows at any corpus
    // size) — the ratio should track the scan, not the pair machinery.
    def phashNear(docs: DataFrame): DataFrame =
      graft.ops.Multimodal.phashNearGroups(graft.ops.Multimodal.asMedia(
        docs.filter(octet_length(col("text")) === length(col("text")) &&
          octet_length(col("text")) > 0), "doc_id", "text"), hammingD = 2)
    report("phash near groups (d=2)")(phashNear(docS()))(phashNear(docB()))
    // BLEU/chrF: adjacent-pair manifests live inside each replica (the
    // key shift keeps doc_id+1 within its replica), so pair count scales
    // 10x with corpus — the linear regime.
    def adjPairs(docs: DataFrame, every: Long): DataFrame =
      docs.select(col("doc_id").as("cand_id"))
        .filter(col("cand_id") % every === 0)
        .join(docs.select(col("doc_id").as("ref_id")),
          col("ref_id") === col("cand_id") + 1)
    report("BLEU (adjacent pairs)")(
      graft.ops.TextAnalysis.bleu(docS(), adjPairs(docS(), 1L)))(
      graft.ops.TextAnalysis.bleu(docB(), adjPairs(docB(), 1L)))
    report("chrF2 (sampled pairs)")(
      graft.ops.TextAnalysis.chrF(docS(), adjPairs(docS(), 5L)))(
      graft.ops.TextAnalysis.chrF(docB(), adjPairs(docB(), 5L)))
    // MMR over IVF: the routed retrieval replaces the brute-force scan;
    // training sample and re-rank frames are fixed-size at any corpus.
    // nCells/nProbe derived (ceil-sqrt(N) cells, probe half — the gated
    // default), so this row measures the adaptive sizing's scale curve.
    def mmrIvf(emb: DataFrame): DataFrame = {
      val q = emb.filter(col("vec_id") % 251 === 0).limit(8)
      graft.ops.Similarity.mmrRerankFrom(emb,
        graft.ops.Similarity.ivfTopK(emb, q, k = 32), k = 8)
    }
    report("MMR over IVF (8 queries)")(mmrIvf(embS()))(mmrIvf(embB()))
    // Signed (retractable) log sketch: three signed states merged, read
    // once — state stays bucket-bounded at any corpus size.
    def qretract(li: DataFrame): DataFrame = {
      val v = li.select(col("l_orderkey"),
        round(col("l_extendedprice") * 100).cast("long").as("v"))
      val base = v.filter(col("l_orderkey") % 20 =!= 0)
      graft.ops.Profile.quantilesFromLogSketch(
        graft.ops.Profile.mergeSignedSketches(Seq(
          graft.ops.Profile.quantileLogSketchSigned(base, col("v"), 12, 1),
          graft.ops.Profile.quantileLogSketchSigned(
            v.filter(col("l_orderkey") % 20 === 0), col("v"), 12, 1),
          graft.ops.Profile.quantileLogSketchSigned(
            base.filter(col("l_orderkey") % 17 === 0), col("v"), 12, -1))),
        12, Seq(10, 50, 99))
    }
    report("signed quantile retract")(qretract(liS()))(qretract(liB()))
    // Seasonal Holt + 3-way backtest: same 10x-SERIES regime as holt.
    def sholt(ev: DataFrame): DataFrame =
      graft.ops.TimeSeries.holtSeasonal(
        ev.withColumn("ts", col("ts").cast("timestamp")),
        "event_type", "ts", 3600L, 0.5, 0.25, period = 24)
    report("seasonal Holt scan")(
      sholt(s.read.parquet(s"$sfDir/events.parquet")))(
      sholt(s.read.parquet(ev10)))
    def sbt3(ev: DataFrame): DataFrame =
      graft.ops.TimeSeries.seasonalBacktest(
        ev.withColumn("ts", col("ts").cast("timestamp")),
        "event_type", "ts", 3600L, 0.5, 0.25, period = 24)
    report("3-way seasonal backtest")(
      sbt3(s.read.parquet(s"$sfDir/events.parquet")))(
      sbt3(s.read.parquet(ev10)))
    // Round-13 session additions. Kalman rides the holt regime (10x
    // SERIES, flat rounds); the smoother adds the backward scan.
    def kal(ev: DataFrame): DataFrame =
      graft.ops.TimeSeries.kalman(
        ev.withColumn("ts", col("ts").cast("timestamp")),
        "event_type", "ts", 3600L, q = 2.0, r = 8.0)
    report("Kalman affine scan")(
      kal(s.read.parquet(s"$sfDir/events.parquet")))(
      kal(s.read.parquet(ev10)))
    def kalSm(ev: DataFrame): DataFrame =
      graft.ops.TimeSeries.kalmanSmooth(
        ev.withColumn("ts", col("ts").cast("timestamp")),
        "event_type", "ts", 3600L, q = 2.0, r = 8.0)
    report("Kalman + RTS smoother")(
      kalSm(s.read.parquet(s"$sfDir/events.parquet")))(
      kalSm(s.read.parquet(ev10)))
    // Bitext margin in the mining-batch regime: fixed 8-src panel vs a
    // growing tgt corpus — the pair frame and both top-k passes are
    // linear in |tgt| (the bwd window's partitions are |src|-bounded).
    def bitext(emb: DataFrame): DataFrame = {
      val srcB = emb.filter(col("vec_id") % 2 === 0 &&
        col("vec_id") % 251 === 0).limit(8)
      graft.ops.Similarity.bitextMargin(srcB,
        emb.filter(col("vec_id") % 2 === 1), k = 4)
    }
    report("bitext margin (8 src)")(bitext(embS()))(bitext(embB()))
    // JP coloring on the co-purchase graph: disjoint replicas keep the
    // round count flat (longest priority-decreasing path per replica),
    // frames grow 10x.
    report("Jones-Plassmann coloring")(
      graft.ops.Graph.jonesPlassmann(wedges(liS()).select(col("a"), col("b"))))(
      graft.ops.Graph.jonesPlassmann(wedges(liB()).select(col("a"), col("b"))))
    // Audio fingerprint: cells/peaks are a bounded explode + two window
    // passes per media; the landmark join is within-media; the match
    // join is keyed on the landmark hash with the stop-hash guard.
    def afp(docs: DataFrame): DataFrame =
      graft.ops.Multimodal.audioFingerprint(graft.ops.Multimodal.asMedia(
        docs.filter(octet_length(col("text")) === length(col("text")) &&
          octet_length(col("text")) > 0), "doc_id", "text"))
    report("audio fingerprint match")(afp(docS()))(afp(docB()))
    // Round-14 additions. AR(2) rides the holt regime (10x series) but
    // has NO scan at all — two window lags + one keyed aggregate.
    def ar2p(ev: DataFrame): DataFrame =
      graft.ops.TimeSeries.ar2(
        ev.withColumn("ts", col("ts").cast("timestamp")),
        "event_type", "ts", 3600L)
    report("AR(2) Yule-Walker")(
      ar2p(s.read.parquet(s"$sfDir/events.parquet")))(
      ar2p(s.read.parquet(ev10)))
    def bt4(ev: DataFrame): DataFrame =
      graft.ops.TimeSeries.ar2Backtest(
        ev.withColumn("ts", col("ts").cast("timestamp")),
        "event_type", "ts", 3600L, 0.5, 0.25, period = 24)
    report("4-way AR(2) backtest")(
      bt4(s.read.parquet(s"$sfDir/events.parquet")))(
      bt4(s.read.parquet(ev10)))
    // Symmetric corpus x corpus bitext via IVF per direction: BOTH
    // sides grow 10x; retrieval stays routed-cell equi-joins (nothing
    // corpus-sized broadcast), the tail is (|src|+|tgt|)·k bounded.
    def bitextIvf(emb: DataFrame): DataFrame =
      graft.ops.Similarity.bitextMarginIvf(
        emb.filter(col("vec_id") % 2 === 0),
        emb.filter(col("vec_id") % 2 === 1), k = 4)
    report("bitext IVF (sym corpus)")(bitextIvf(embS()))(bitextIvf(embB()))
    // Append-close batch twin: one keyed window aggregate + a broadcast
    // 1-row max — the closure filter adds nothing data-sized.
    def apc(ev: DataFrame): DataFrame =
      graft.streaming.StreamOps.appendCloseWindows(
        ev.withColumn("ts", col("ts").cast("timestamp")),
        "ts", "event_type", "event_id", "value", "1 hour", "10 minutes",
        streaming = false)
    report("append-close twin")(
      apc(s.read.parquet(s"$sfDir/events.parquet")))(
      apc(s.read.parquet(ev10)))
    // Round-15 additions. Behavioral family: 10x USERS (shift user_id +
    // event_id, so per-user state stays flat — the operator's documented
    // bound) for funnel/transitions; 10x CUSTOMERS for retention; the
    // ev10 10x-series regime for Theta (rides the holt scan).
    val evU = {
      val base = s.read.parquet(s"$sfDir/events.parquet")
      val out = s"$workDir/events_u"
      (0 until replicas).map(i => base
        .withColumn("user_id", col("user_id") + lit(i * shift))
        .withColumn("event_id", col("event_id") + lit(i * shift)))
        .reduce(_ unionAll _).write.mode("overwrite").parquet(out)
      out
    }
    def evCast(p: String): DataFrame =
      s.read.parquet(p).withColumn("ts", col("ts").cast("timestamp"))
    def funnel(ev: DataFrame): DataFrame =
      graft.ops.Behavior.funnelSteps(ev, "user_id", "ts", "event_type",
        Seq("signup", "view", "click", "purchase"))
    report("funnel steps (10x users)")(
      funnel(evCast(s"$sfDir/events.parquet")))(funnel(evCast(evU)))
    def trans(ev: DataFrame): DataFrame =
      graft.ops.Behavior.transitionMatrix(ev, "user_id", "ts", "event_id",
        "event_type")
    report("transition matrix (10x users)")(
      trans(evCast(s"$sfDir/events.parquet")))(trans(evCast(evU)))
    val ord10 = replicate("orders", (d, i) => d
      .withColumn("o_orderkey", col("o_orderkey") + lit(i * shift))
      .withColumn("o_custkey", col("o_custkey") + lit(i * shift)))
    def ordCast(p: String): DataFrame = s.read.parquet(p)
      .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
    def ret(o: DataFrame): DataFrame =
      graft.ops.Behavior.retentionCohort(o, "o_custkey", "o_orderdate")
    report("cohort retention (10x cust)")(
      ret(ordCast(s"$sfDir/orders.parquet")))(ret(ordCast(ord10)))
    def dlift(o: DataFrame): DataFrame =
      graft.ops.Profile.decileLift(o, "o_orderkey", col("o_totalprice"))
    report("decile lift (two-level)")(
      dlift(s.read.parquet(s"$sfDir/orders.parquet")))(
      dlift(s.read.parquet(ord10)))
    def thetaP(ev: DataFrame): DataFrame =
      graft.ops.TimeSeries.theta(ev, "event_type", "ts", 3600L)
    report("Theta method (10x series)")(
      thetaP(evCast(s"$sfDir/events.parquet")))(thetaP(evCast(ev10)))
    def pps(o: DataFrame): DataFrame =
      graft.ops.Sampling.ppsSample(o, "o_orderkey", "o_totalprice", 1000L)
    report("PPS sample (narrow)")(
      pps(s.read.parquet(s"$sfDir/orders.parquet")))(
      pps(s.read.parquet(ord10)))
    def ney(o: DataFrame): DataFrame =
      graft.ops.Sampling.neymanAllocation(o, "o_orderpriority",
        "o_totalprice", 1000L)
    report("Neyman allocation")(
      ney(s.read.parquet(s"$sfDir/orders.parquet")))(
      ney(s.read.parquet(ord10)))
    s.stop()
  }
}
