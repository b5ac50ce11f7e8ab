package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Warehouse/profiling operators: SCD2 interval building, fixed-grid
  * histograms, and per-column data profiles — the "know your data" pass a
  * pipeline runs before and after every big transform.
  *
  * All three are single-scan shapes: SCD2 is one window pass per key
  * (state bounds follow the fattest key, like Sessionize), the histogram
  * is one map-side-combined aggregate over a codegen'd bucket projection,
  * and the profile is ONE aggregate emitting every column's statistics
  * (multi-column distinct counts expand the row — Spark's Expand — but
  * still one pass over the data, which at 100 TB beats a per-column loop
  * by the column count).
  */
object Profile {

  /** Slowly-changing-dimension type-2 intervals: each change row becomes
    * [valid_from, valid_to) with valid_to = the key's next change (NULL
    * for the current row). `orderCols` must be a total order within a
    * key — a non-unique order makes lead() ambiguous (the rel_window_nav
    * lesson). */
  def scd2(df: DataFrame, keyCol: String, orderCols: Seq[String],
      attrCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(orderCols.map(col): _*)
    val from = col(orderCols.head)
    df.select((keyCol +: orderCols ++: attrCols).map(col): _*)
      .withColumn("valid_from", from)
      .withColumn("valid_to", lead(from, 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** Fixed-grid histogram: values in [lo, hi) land in
    * floor((x − lo) / width) of `nBuckets` equal buckets; out-of-range
    * rows are dropped (the caller counts them separately if needed).
    * One narrow aggregate — the profiling scan at any scale. */
  def histogram(df: DataFrame, valueCol: String, lo: Double, hi: Double,
      nBuckets: Int): DataFrame = {
    require(hi > lo && nBuckets >= 1, "need hi > lo, nBuckets >= 1")
    val width = (hi - lo) / nBuckets
    val x = col(valueCol).cast("double")
    df.filter(x >= lo && x < hi)
      .withColumn("bucket", floor((x - lo) / width).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(x).as("min_val"), max(x).as("max_val"))
  }

  /** Snapshot diff: classify every key across two versions of a table as
    * added / deleted / changed / unchanged — the audit step between
    * pipeline runs ("what did yesterday's load actually do?"). One full
    * outer join on the key; row CONTENT is compared via md5 of the
    * JSON encoding of the attr struct (computed before the join, so the
    * exchange carries key+hash, never the row payload — at 100 TB the
    * shuffle is two narrow columns regardless of row width).
    * to_json makes the digest injective on tuples: field names are part
    * of the encoding and values are escaped, so no value can forge a
    * delimiter or a NULL marker — unlike raw sentinel concatenation,
    * where a value EQUAL to the sentinel collides with NULL and values
    * containing the delimiter shift content across column boundaries,
    * both yielding false "unchanged" verdicts. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, keyCol: String,
      attrCols: Seq[String]): DataFrame = {
    def hashed(df: DataFrame, tag: String) = df.select(col(keyCol),
      md5(to_json(struct(attrCols.map(col): _*))).as(tag))
    hashed(oldDf, "__old").join(hashed(newDf, "__new"), Seq(keyCol), "full_outer")
      .select(col(keyCol),
        when(col("__old").isNull, "added")
          .when(col("__new").isNull, "deleted")
          .when(col("__old") =!= col("__new"), "changed")
          .otherwise("unchanged").as("change_type"))
  }

  /** Apply a CDC changelog to produce the final table state: for each
    * key, the latest operation by `orderCols` (a required total order)
    * wins; a terminal delete removes the key. One window pass per key —
    * the standard "compact the log" materialization, identical in shape
    * to SCD2 but keeping only the head row. */
  def cdcApply(log: DataFrame, keyCol: String, opCol: String,
      orderCols: Seq[String], attrCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(orderCols.map(col(_).desc): _*)
    // n_ops over the SAME ordered window with an explicit full frame:
    // an unordered count window would demand its own sort-free pass —
    // two WindowExec nodes over one exchange; this way both functions
    // ride a single sorted pass.
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    log.select((keyCol +: opCol +: orderCols ++: attrCols).distinct.map(col): _*)
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n_ops", count(lit(1)).over(full))
      .filter(col("__rn") === 1 && col(opCol) =!= "D")
      .select((Seq(keyCol, opCol) ++ attrCols :+ "__n_ops").map(col): _*)
      .withColumnRenamed(opCol, "last_op")
      .withColumnRenamed("__n_ops", "n_ops")
  }

  /** Per-column profile in one pass: row count, null count, exact
    * distinct count for every named column. Output long-form
    * (column_name, n_rows, n_nulls, n_distinct). */
  /** Population-stability-index drift between a reference cohort and a
    * current cohort of the same numeric column: fixed-grid bins (values
    * clamped into the edge bins so all mass is scored), Laplace-smoothed
    * rates so an empty bin can't produce ln(0), per-bin contribution
    * (p−q)·ln(p/q), and the decimal-accumulated total repeated on every
    * row — the drift-monitoring gate a pipeline runs between ingest
    * batches before letting a new snapshot into training.
    *
    * Scale shape: each cohort collapses to `nBuckets` rows via one
    * map-side-combined aggregate, so the joins and the total-sum window
    * run over nBuckets rows regardless of input size. The total is summed
    * in DECIMAL so it is fold-order-independent. */
  /** Two-sample Kolmogorov–Smirnov distance — the distribution-drift
    * test with NO binning choice (psiDrift's buckets are a tuning knob;
    * KS compares the full empirical CDFs): D = max over values of
    * |F₁(v) − F₂(v)|, evaluated exactly as the integer
    * max |cum₁·n₂ − cum₂·n₁| over the merged distinct-value frame, with
    * ONE final division. The cum·n products are carried in
    * DECIMAL(38,0) (cum·n grows as n² — past int64 at ~3·10⁹ rows per
    * cohort; HUGEINT on the oracle side); only the final d_num output
    * narrows back to BIGINT, where ANSI mode fails loudly if the max
    * itself ever exceeds int64. The
    * cumulative counts ride [[TwoLevelRank.prefixSum]] over the
    * value-collapsed frame, so no distinct-value-scale frame crosses a
    * single task. reject_05 applies the large-sample 5% critical value
    * 1.358·√((n₁+n₂)/(n₁n₂)) — one fixed IEEE tree on both engines.
    * Returns one row: (n1, n2, d_num, d, reject_05). */
  def ksTest(a: DataFrame, b: DataFrame, value: Column,
      stripeWidth: Long = 65536L): DataFrame = {
    val va = a.select(value.cast("long").as("v")).groupBy(col("v"))
      .agg(count(lit(1)).as("c1")).withColumn("c2", lit(0L))
    val vb = b.select(value.cast("long").as("v")).groupBy(col("v"))
      .agg(count(lit(1)).as("c2")).withColumn("c1", lit(0L))
    val merged = va.unionByName(vb).groupBy(col("v"))
      .agg(sum(col("c1")).as("c1"), sum(col("c2")).as("c2"))
    val st = expr(s"v div $stripeWidth")
    val p = TwoLevelRank.prefixSum(
      TwoLevelRank.prefixSum(merged, Seq(), Seq(), st, Seq("v"),
        col("c1"), "__b1"),
      Seq(), Seq(), st, Seq("v"), col("c2"), "__b2")
    val tot = broadcast(merged.agg(sum(col("c1")).as("n1"),
      sum(col("c2")).as("n2")))
    val d38 = "decimal(38,0)"
    val n1n2 = (col("n1").cast(d38) * col("n2")).cast("double")
    p.crossJoin(tot)
      .select(col("n1"), col("n2"),
        abs((col("__b1") + col("c1")).cast(d38) * col("n2") -
          (col("__b2") + col("c2")).cast(d38) * col("n1")).as("sd"))
      .groupBy(col("n1"), col("n2"))
      .agg(max(col("sd")).cast("long").as("d_num"))
      .select(col("n1"), col("n2"), col("d_num"),
        (col("d_num").cast("double") / n1n2).as("d"))
      .withColumn("reject_05",
        col("d") > lit(1.358) * sqrt((col("n1") + col("n2")).cast("double") /
          n1n2))
  }

  /** Spearman rank correlation between two integer-valued columns, tie-
    * corrected — Pearson over AVERAGE ranks, carried as exact integers:
    * a value with c occurrences and B smaller rows has doubled average
    * rank 2B + c + 1, so ranks never go fractional and every moment sum
    * is exact (DECIMAL(38,0) once products pass int64; the final ρ is
    * one numerator cast and two sqrt's — identical IEEE trees on both
    * engines, HUGEINT on DuckDB's side).
    *
    * The rank prefix B comes from [[TwoLevelRank.prefixSum]] over the
    * VALUE-COLLAPSED frame (one row per distinct value), so no
    * corpus-scale — and no distinct-value-scale — frame ever crosses a
    * single task: this is the corpus-wide rank correlation a global
    * ORDER BY window could not survive at 100 TB. Rank frames rejoin
    * the rows by value (keyed), then one moment aggregate.
    * Returns one row: (n, rho). */
  def spearman(df: DataFrame, xCol: Column, yCol: Column,
      stripeWidth: Long = 65536L): DataFrame = {
    def doubledRanks(v: Column): DataFrame = {
      val vals = df.select(v.cast("long").as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("c"))
      TwoLevelRank.prefixSum(vals, Seq(), Seq(),
          expr(s"v div $stripeWidth"), Seq("v"), col("c"), "__b")
        .select(col("v"), (lit(2L) * col("__b") + col("c") + 1L).as("dr"))
    }
    val rx = doubledRanks(xCol)
      .select(col("v").as("vx"), col("dr").as("dx"))
    val ry = doubledRanks(yCol)
      .select(col("v").as("vy"), col("dr").as("dy"))
    val d19 = "decimal(19,0)"
    val s = df.select(xCol.cast("long").as("vx"), yCol.cast("long").as("vy"))
      .join(rx, Seq("vx")).join(ry, Seq("vy"))
      .agg(count(lit(1)).as("n"),
        sum(col("dx").cast(d19)).as("sx"), sum(col("dy").cast(d19)).as("sy"),
        sum((col("dx").cast(d19) * col("dx").cast(d19))).as("sxx"),
        sum((col("dy").cast(d19) * col("dy").cast(d19))).as("syy"),
        sum((col("dx").cast(d19) * col("dy").cast(d19))).as("sxy"))
    s.select(col("n"),
      ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
        (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
         sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))))
        .as("rho"))
  }

  /** Pearson χ² independence test between two categorical columns — the
    * data-audit screen for "is this feature correlated with that
    * label/segment". Observed counts are exact integers; expected
    * e = row·col/N and each cell's (o−e)²/e are single fixed IEEE
    * expressions from those integers (identical bits on both engines),
    * and the χ² total accumulates in DECIMAL before one final cast —
    * the psiDrift/modularity gating pattern. Plan: one keyed count over
    * the pair, two broadcast marginal joins, and the total as a 1-row
    * aggregate crossed back — everything after the first aggregate is
    * cells-scale, and no step gathers the cells into one task.
    * Returns (a, b, o, e, contrib, chi2_total, dof). */
  def chi2(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = Rounds.checkpoint(df.groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("o")), eager = false)
    val rowT = cells.groupBy(col("a")).agg(sum(col("o")).as("ra"))
    val colT = cells.groupBy(col("b")).agg(sum(col("o")).as("cb"))
    val tot = broadcast(cells.agg(sum(col("o")).as("n"),
      countDistinct(col("a")).as("na"), countDistinct(col("b")).as("nb")))
    val scored = cells.join(broadcast(rowT), Seq("a")).join(broadcast(colT), Seq("b"))
      .crossJoin(tot)
      // ra·cb grows as N² — exact DECIMAL product, ONE rounding to
      // double, then the IEEE division (oracle: HUGEINT product).
      .withColumn("e",
        (col("ra").cast("decimal(38,0)") * col("cb")).cast("double") /
          col("n").cast("double"))
      .withColumn("contrib",
        (col("o") - col("e")) * (col("o") - col("e")) / col("e"))
    val total = scored
      .agg(sum(col("contrib").cast("decimal(28,12)")).cast("double").as("chi2_total"))
    scored.crossJoin(broadcast(total))
      .select(col("a"), col("b"), col("o"), col("e"), col("contrib"),
        col("chi2_total"),
        ((col("na") - 1) * (col("nb") - 1)).as("dof"))
  }

  /** Gini coefficient of a positive numeric column per group — the
    * concentration/inequality profile (of spend, of tokens, of document
    * lengths) on the ranked-prefix-sum identity
    * G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx), xᵢ ascending. Everything
    * before the final division is exact integer arithmetic carried in
    * DECIMAL(38,0) (Σ i·x grows as n²·max(x) — past int64 at billions
    * of rows), then ONE cast-and-divide both engines perform on the
    * same value. The rank window is per-group; tied values permute
    * consecutive ranks against equal x, so Σ i·x — and G — is
    * tie-order-independent. Returns (group, n, sum_v, gini). */
  def gini(df: DataFrame, groupCol: String, valueCol: Column): DataFrame = {
    val byGrp = Window.partitionBy(col("__g")).orderBy(col("__v"))
    // sum_v is widened to DECIMAL(38,0) BEFORE the (n+1)* and n*
    // products: both grow as n²·x̄ — the same order as Σ i·x, which is
    // already carried in DECIMAL for exactly that reason. BIGINT
    // products here would abort (ANSI) at billions of rows; the oracle
    // mirrors via HUGEINT.
    val sv = col("sum_v").cast("decimal(38,0)")
    df.select(col(groupCol).as("__g"), valueCol.cast("long").as("__v"))
      .select(col("__g"), col("__v"),
        row_number().over(byGrp).cast("long").as("__i"))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("n"), sum(col("__v")).as("sum_v"),
        sum((col("__i") * col("__v")).cast("decimal(38,0)")).as("__s1"))
      .select(col("__g").as(groupCol), col("n"), col("sum_v"),
        (((lit(2) * col("__s1") - (col("n") + 1) * sv)
            .cast("double")) /
          (col("n") * sv).cast("double")).as("gini"))
  }

  /** EXACT per-group median by distributed rank-select — no global
    * sort, no approximation: order statistics come from
    * [[TwoLevelRank.rank]] (per-group two-level prefix rank over value
    * stripes), only the ≤ 2 middle-ranked rows per group survive the
    * selection filter, and the even-n midpoint is ONE IEEE division
    * over exact integers. This is the scale-correct form of the
    * textbook `row_number() OVER (PARTITION BY g ORDER BY v)` median,
    * whose hot group is a single-task sort at corpus scale. `tieCols`
    * must uniquely identify rows within a group (they only fix the
    * rank's total order; any middle-tie permutation selects the same
    * values). Returns (group, n, median_lo, median_hi, median). */
  def exactMedian(df: DataFrame, groupCol: String, valueCol: Column,
      tieCols: Seq[String], stripeWidth: Long = 65536L): DataFrame = {
    val base = df.select(col(groupCol).as("__mg") +:
      valueCol.cast("long").as("__mv") +: tieCols.map(col): _*)
    val ranked = TwoLevelRank.rank(base, Seq("__mg"), Seq(),
      expr(s"__mv div $stripeWidth"), "__mv" +: tieCols, "__mr")
    val nPer = base.groupBy(col("__mg")).agg(count(lit(1)).as("n"))
    ranked.join(nPer, Seq("__mg"))
      .filter(col("__mr") === expr("(n + 1) div 2") ||
        col("__mr") === expr("n div 2 + 1"))
      .groupBy(col("__mg"), col("n"))
      .agg(min(col("__mv")).as("median_lo"), max(col("__mv")).as("median_hi"))
      .select(col("__mg").as(groupCol), col("n"), col("median_lo"),
        col("median_hi"),
        ((col("median_lo") + col("median_hi")).cast("double") / 2).as("median"))
  }

  def psiDrift(ref: DataFrame, cur: DataFrame, valueCol: String,
      lo: Double, hi: Double, nBuckets: Int): DataFrame = {
    val w = (hi - lo) / nBuckets
    def binned(df: DataFrame, outCol: String): DataFrame =
      df.select(least(greatest(floor((col(valueCol) - lo) / w), lit(0.0)),
          lit(nBuckets - 1.0)).cast("long").as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as(outCol))
    val spine = ref.sparkSession.range(nBuckets).select(col("id").as("bucket"))
    def rate(n: Column, total: Column): Column =
      (n + lit(0.5)) / (total + lit(0.5) * nBuckets)
    val joined = spine
      .join(broadcast(binned(ref, "n_ref")), Seq("bucket"), "left")
      .join(broadcast(binned(cur, "n_cur")), Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val all = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    joined
      .withColumn("p", rate(col("n_ref"), sum(col("n_ref")).over(all)))
      .withColumn("q", rate(col("n_cur"), sum(col("n_cur")).over(all)))
      .withColumn("psi_contrib", (col("p") - col("q")) * log(col("p") / col("q")))
      .withColumn("psi_total",
        sum(col("psi_contrib").cast("decimal(28,18)")).over(all).cast("double"))
      .select(col("bucket"), col("n_ref"), col("n_cur"),
        col("psi_contrib"), col("psi_total"))
  }

  /** Winsorization: clip a numeric column into its per-group
    * [pLo, pHi] interpolated-percentile band — the robust-stats cleaning
    * pass that tames fat-tailed features before normalization. The
    * percentile frame is one aggregate per group (broadcast back over the
    * scan), and the clipped sum is accumulated in DECIMAL(18,2) so the
    * gate is fold-order-exact. Returns per-group clip counts + the
    * winsorized sum/mean. */
  def winsorize(df: DataFrame, groupCol: String, valueCol: String,
      pLo: Double, pHi: Double): DataFrame = {
    val cuts = df.groupBy(col(groupCol)).agg(
      percentile(col(valueCol), lit(pLo)).as("cut_lo"),
      percentile(col(valueCol), lit(pHi)).as("cut_hi"))
    df.join(broadcast(cuts), Seq(groupCol))
      .select(col(groupCol), col(valueCol).as("v"), col("cut_lo"), col("cut_hi"),
        least(greatest(col(valueCol), col("cut_lo")), col("cut_hi")).as("clipped"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("v") < col("cut_lo"), 1L).otherwise(0L)).as("n_clipped_lo"),
        sum(when(col("v") > col("cut_hi"), 1L).otherwise(0L)).as("n_clipped_hi"),
        sum(col("clipped").cast("decimal(18,2)")).as("sum_winsorized"))
  }

  /** k-anonymity / l-diversity audit (Sweeney 2002; Machanavajjhala et
    * al. 2007) — the privacy gate a dataset passes before release: every
    * combination of quasi-identifier values (an "equivalence class")
    * must cover ≥ k records, and the sensitive attribute must take ≥ l
    * distinct values inside the class (k alone still leaks when a class
    * is sensitive-homogeneous). One grouped aggregate over the
    * quasi-identifier key — hash-partitions at any scale, no joins, no
    * windows. Returns one row per equivalence class:
    * (quasi columns…, class_size, n_sensitive, k_anonymous, l_diverse);
    * rows with `k_anonymous = false` are the classes a release must
    * suppress or generalize. */
  /** Local-differential-privacy frequency estimation by k-ary randomized
    * response (Warner 1965; the k-RR mechanism of Kairouz et al.,
    * NeurIPS'14) — the privacy-preserving census a training pipeline
    * runs when raw per-user categories must never leave the device:
    * each row reports its TRUE category with probability p and one of
    * the k−1 others uniformly otherwise; the aggregator sees only the
    * noisy reports and debiases n̂_v = (c_v − n·q)/(p − q) with
    * q = (1−p)/(k−1). The mechanism's "coin" here is the repo's
    * deterministic md5 draw ([[graft.ops.Sampling.drawOf]]) keyed on
    * the row id (+ ':f' for the fake pick) — a replayable stand-in for
    * the device RNG, so both engines flip identical coins and the gate
    * is exact (privacy in production comes from a real RNG; the
    * ESTIMATOR and plan shape are what this op ships). The keep test is
    * an exact integer threshold (u < round(p·10⁶) — never a float
    * compare); choose a dyadic p (0.75 with k=5 ⇒ q = 0.0625 exact) so
    * the debias literals are bit-identical on both engines.
    *
    * Scale shape: one projection computes every report (domain rides as
    * a k-element literal array — no join), then ONE k-row aggregate
    * plus a 1-row total broadcast; truth counts (for the fixture's
    * error columns) are a second k-row aggregate. Nothing keyed wider
    * than the domain. Returns
    * (segment, n_reported, n_true, n_est rounded 6). */
  def ldpFrequency(df: DataFrame, idCol: String, valueCol: String,
      domain: Seq[String], pKeep: Double): DataFrame = {
    val k = domain.size
    require(k >= 2, "domain k >= 2")
    require(domain == domain.sorted && domain.distinct.size == k,
      "domain must be sorted and distinct")
    require(pKeep > 1.0 / k && pKeep < 1, "pKeep in (1/k, 1)")
    val q = (1 - pKeep) / (k - 1)
    val domArr = array(domain.map(lit): _*)
    val base = df.select(col(idCol).cast("string").as("__id"),
        col(valueCol).cast("string").as("__v"))
      .filter(array_position(domArr, col("__v")) > 0)
    val t = array_position(domArr, col("__v"))
    val u = graft.ops.Sampling.drawOf(col("__id"))
    val f0 = graft.ops.Sampling.drawOf(concat(col("__id"), lit(":f"))) %
      (k - 1).toLong
    val fakeIdx = when(f0 + 1 < t, f0 + 1).otherwise(f0 + 2)
    val reported = when(u < math.round(pKeep * 1000000L), col("__v"))
      .otherwise(element_at(domArr, fakeIdx.cast("int")))
    val rep = base.select(col("__v"), reported.as("__r"))
    val tot = rep.agg(count(lit(1)).as("__n"))
    val truth = rep.groupBy(col("__v").as("segment"))
      .agg(count(lit(1)).as("n_true"))
    rep.groupBy(col("__r").as("segment"))
      .agg(count(lit(1)).as("n_reported"))
      .join(truth, Seq("segment"), "full_outer")
      .na.fill(0L, Seq("n_reported", "n_true"))
      .crossJoin(broadcast(tot))
      .select(col("segment"), col("n_reported"), col("n_true"),
        (round((col("n_reported").cast("double") - col("__n") * lit(q)) /
          lit(pKeep - q), 6) + lit(0.0)).as("n_est"))
  }

  def kAnonymity(df: DataFrame, quasiCols: Seq[String], sensitiveCol: String,
      k: Int, l: Int): DataFrame = {
    require(quasiCols.nonEmpty, "at least one quasi-identifier column")
    require(k >= 1 && l >= 1, "k and l are positive")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("class_size"),
        countDistinct(col(sensitiveCol)).as("n_sensitive"))
      .select(quasiCols.map(col) ++ Seq(col("class_size"), col("n_sensitive"),
        (col("class_size") >= k).as("k_anonymous"),
        (col("n_sensitive") >= l).as("l_diverse")): _*)
  }

  /** Deequ-style data-quality verification (Schelter et al., VLDB'18
    * "Automating Large-Scale Data Quality Verification"): a suite of
    * named constraints — each an integer aggregate metric plus a pass
    * predicate over it — evaluated in ONE aggregation pass over the
    * frame, however many checks ride along (completeness, uniqueness
    * deficit, domain violations, bound violations all reduce to counts).
    * This is the shape that scales: k checks cost one scan + one 1-row
    * aggregate, not k jobs, and the single result row pivots to one
    * (check_name, metric, passed) row per constraint — the audit table a
    * pipeline gates a release on. Metrics must be integer-valued
    * aggregate expressions (counts/sums — exact at any scale); checks
    * needing a second table (referential containment) run the same way
    * over the pre-joined frame and union in. */
  def qualityChecks(df: DataFrame,
      checks: Seq[(String, Column, Column => Column)]): DataFrame = {
    require(checks.nonEmpty, "at least one check")
    val aggs = checks.zipWithIndex.map {
      case ((_, m, _), i) => m.cast("long").as(s"__m_$i")
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val pairs = checks.zipWithIndex.flatMap { case ((n, _, p), i) =>
      Seq(lit(n), struct(col(s"__m_$i").as("metric"),
        p(col(s"__m_$i")).as("passed")))
    }
    one.select(explode(map(pairs: _*)).as(Seq("check_name", "s")))
      .select(col("check_name"), col("s.metric"), col("s.passed"))
  }

  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$c"),
        countDistinct(col(c)).as(s"__dist_$c"))
    }
    val one = df.agg(count(lit(1)).as("__n"), aggs: _*)
    val pairs = cols.flatMap(c => Seq(
      lit(c), struct(col("__n").as("n_rows"),
        col(s"__nulls_$c").as("n_nulls"), col(s"__dist_$c").as("n_distinct"))))
    one.select(explode(map(pairs: _*)).as(Seq("column_name", "s")))
      .select(col("column_name"), col("s.n_rows"), col("s.n_nulls"),
        col("s.n_distinct"))
  }

  /** Mergeable quantile sketch — the quantile analog of the HLL-union
    * distinct-count path (rel_hll_merge): per-shard sketches built
    * independently, merged ASSOCIATIVELY, quantiles answered from the
    * merged state without ever seeing the raw rows again.
    *
    * The sketch is a fixed-grid dyadic histogram (the q-digest family,
    * Shrivastava et al. 2004, at a single fixed leaf resolution): bucket
    * = exact integer floor(value / width), state = (bucket, cnt). Chosen
    * over KLL/t-digest deliberately: count addition makes the merge
    * EXACTLY associative and commutative (merge-of-merges equals any
    * other grouping, state-for-state — KLL's compaction coins and
    * t-digest's centroid drift are merge-order-dependent), the state is
    * deterministic so the DuckDB oracle replays the WHOLE sketch and the
    * estimates hash-gate exactly (not just a within-eps boolean), and
    * the guarantee is unconditional: the rank-r element lies inside the
    * bucket the cumulative walk selects, so |estimate − exact| < width
    * for EVERY quantile and distribution. The trade is a value-space
    * (not rank-space) error bound and a bounded-universe requirement —
    * state size is universe/width, independent of row count, which at
    * 100 TB is the property that matters.
    *
    * [[quantileSketch]] builds (bucket, cnt) per group; merging is a
    * plain `groupBy(bucket).sum` over unioned states ([[mergeQuantileSketches]]);
    * [[quantilesFromSketch]] answers rank quantiles r = ceil(q·n) with
    * one cumulative window over the SKETCH-sized frame (collapsed by the
    * bucket aggregate — never row-scale). */
  def quantileSketch(df: DataFrame, value: Column, width: Long): DataFrame = {
    require(width >= 1, "width >= 1")
    df.select(value.cast("long").as("__v"))
      .select(((col("__v") - pmod(col("__v"), lit(width))) / lit(width))
        .cast("long").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
  }

  /** Per-GROUP rank quantiles from a grouped sketch state (groupCols +
    * bucket + cnt) — the partitioned twin of [[quantilesFromSketch]]:
    * the cumulative walk is a window PARTITIONED by the group columns
    * (one windowed-sketch window per group, e.g. the streaming
    * per-event-time-window states), so the frame stays sketch-sized per
    * group and no global sort exists. */
  def quantilesFromSketchBy(sketch: DataFrame, groupCols: Seq[String],
      width: Long, qPcts: Seq[Int]): DataFrame = {
    require(groupCols.nonEmpty, "group columns required")
    require(qPcts.nonEmpty && qPcts.forall(p => p >= 1 && p <= 100),
      "q percentages in [1,100]")
    val g = groupCols.map(col)
    val byBucket = Window.partitionBy(g: _*).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = sketch.select(g :+ col("bucket") :+ col("cnt") :+
      sum(col("cnt")).over(byBucket).as("cum"): _*)
    val tot = cum.groupBy(g: _*).agg(max(col("cum")).as("n"))
    cum.join(tot, groupCols)
      .select(g :+ col("bucket") :+ col("cum") :+ col("n") :+
        explode(typedLit(qPcts.sorted)).as("q_pct"): _*)
      .filter(col("cum") >= expr("(n * q_pct + 99) div 100"))
      .groupBy((g :+ col("q_pct") :+ col("n")): _*)
      .agg(min(col("bucket")).as("est_bucket"))
      .select(g :+ col("q_pct").cast("long").as("q_pct") :+ col("n") :+
        col("est_bucket") :+ (col("est_bucket") * width).as("estimate"): _*)
  }

  /** Associative union of (bucket, cnt) sketch states. */
  def mergeQuantileSketches(sketches: Seq[DataFrame]): DataFrame =
    sketches.reduce(_ unionAll _)
      .groupBy(col("bucket")).agg(sum(col("cnt")).as("cnt"))

  /** Rank quantiles from a sketch state: for each q = num/100, the
    * bucket holding the rank-ceil(q·n) element (exact integer rank
    * arithmetic), estimate = bucket·width (the bucket's lower edge —
    * within `width` of the exact quantile value by construction).
    * Returns (q_pct, n, est_bucket, estimate). */
  def quantilesFromSketch(sketch: DataFrame, width: Long,
      qPcts: Seq[Int]): DataFrame = {
    require(qPcts.nonEmpty && qPcts.forall(p => p >= 1 && p <= 100),
      "q percentages in [1,100]")
    val byBucket = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = sketch
      .select(col("bucket"), col("cnt"), sum(col("cnt")).over(byBucket).as("cum"))
    val tot = cum.agg(max(col("cum")).as("n"))
    cum.crossJoin(broadcast(tot))
      .select(col("bucket"), col("cum"), col("n"),
        explode(typedLit(qPcts.sorted)).as("q_pct"))
      // rank = ceil(q·n) in exact integers (div, not /: Spark's / on
      // longs is a double division — the rel_compaction_plan lesson);
      // the FIRST bucket whose cumulative count reaches it holds the
      // rank-r element
      .filter(col("cum") >= expr("(n * q_pct + 99) div 100"))
      .groupBy(col("q_pct"), col("n"))
      .agg(min(col("bucket")).as("est_bucket"))
      .select(col("q_pct").cast("long").as("q_pct"), col("n"),
        col("est_bucket"), (col("est_bucket") * width).as("estimate"))
  }

  /** Log-bucketed quantile sketch for HEAVY-TAILED integers (scaled
    * doubles: micros/cents) — the [[quantileSketch]] grid breaks down
    * there: a fixed width that resolves the body of a distribution
    * spanning ten decades needs universe/width buckets (millions), and a
    * width that bounds the state gives meaningless absolute error at the
    * tail. The log grid keeps the SAME additive (bucket, cnt) merge
    * algebra — counts add, so merging stays exactly associative and
    * [[mergeQuantileSketches]] applies unchanged — but the bucket is
    * sign + exponent + mantissa-prefix: for v > 0,
    *   e = floor(log2 v) (exact, via the binary digit count — never a
    *       float log, whose boundary rounding the oracle could disagree
    *       with), s = max(e − (p−1), 0), prefix = v >> s,
    *   bucket = e·2^p + prefix
    * which is monotone in v (lexicographic (e, prefix)); v = 0 maps to
    * bucket 0 and v < 0 mirrors to −bucket(−v), so the rank walk is a
    * plain bucket ORDER BY. Bucket width in VALUE space is 2^s, i.e.
    * relative width ≤ 2^−(p−1) — within-width-in-LOG-space at every
    * percentile, unconditionally, for any distribution. State ≤
    * 64·2^(p−1) rows at ANY corpus size (every integer below 2^(p−1)
    * gets an exact singleton bucket).
    *
    * All arithmetic is exact integer ops (bin-string length, shifts) on
    * both engines, so the DuckDB oracle replays the whole sketch and
    * the estimates hash-gate exactly, like [[quantileSketch]]. */
  def logBucket(scaled: Column, prefixBits: Int): Column = {
    require(prefixBits >= 2 && prefixBits <= 20, "prefixBits in [2,20]")
    def pos(x: Column): Column = {
      val e = (length(bin(x)) - lit(1)).cast("long")
      val s = greatest(e - lit((prefixBits - 1).toLong), lit(0L)).cast("int")
      val prefix = call_function("shiftright", x, s)
      e * lit(1L << prefixBits) + prefix
    }
    when(scaled > 0, pos(scaled))
      .when(scaled === 0, lit(0L))
      .otherwise(-pos(-scaled))
  }

  /** (bucket, cnt) log-sketch state per input frame — merge with
    * [[mergeQuantileSketches]] exactly as the fixed-grid states. */
  def quantileLogSketch(df: DataFrame, scaled: Column,
      prefixBits: Int): DataFrame =
    df.select(logBucket(scaled, prefixBits).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))

  /** Rank quantiles from a log-sketch state: the same cumulative walk as
    * [[quantilesFromSketch]], but the estimate decodes the bucket's
    * VALUE-space edges: [estimate, est_upper) contains the rank-r
    * element, and est_upper − estimate ≤ max(1, estimate >> (p−1)) — the
    * within-width-in-log-space guarantee. Negative/zero buckets decode
    * by the mirror symmetry, so the interval contract is uniform.
    * Returns (q_pct, n, est_bucket, estimate, est_upper). */
  /** Value-space edge of a log bucket: lower (inclusive) or upper
    * (exclusive). Mirror-symmetric: bucket −B's values are the negation
    * of [lo(B), up(B)), i.e. the integer interval [−up(B)+1, −lo(B)+1). */
  private def logDecode(b: Column, prefixBits: Int, upper: Boolean): Column = {
    val p2 = 1L << prefixBits
    def edgePos(bp: Column, up: Boolean): Column = {
      val e = shiftright(bp, prefixBits)
      val prefix = bp - e * lit(p2)
      val s = greatest(e - lit((prefixBits - 1).toLong), lit(0L)).cast("int")
      call_function("shiftleft", if (up) prefix + lit(1L) else prefix, s)
    }
    when(b > 0, edgePos(b, upper))
      .when(b === 0, lit(if (upper) 1L else 0L))
      .otherwise(-edgePos(-b, !upper) + lit(1L))
  }

  def quantilesFromLogSketch(sketch: DataFrame, prefixBits: Int,
      qPcts: Seq[Int]): DataFrame = {
    require(qPcts.nonEmpty && qPcts.forall(p => p >= 1 && p <= 100),
      "q percentages in [1,100]")
    def decode(b: Column, upper: Boolean): Column =
      logDecode(b, prefixBits, upper)
    val byBucket = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = sketch
      .select(col("bucket"), col("cnt"), sum(col("cnt")).over(byBucket).as("cum"))
    val tot = cum.agg(max(col("cum")).as("n"))
    cum.crossJoin(broadcast(tot))
      .select(col("bucket"), col("cum"), col("n"),
        explode(typedLit(qPcts.sorted)).as("q_pct"))
      .filter(col("cum") >= expr("(n * q_pct + 99) div 100"))
      .groupBy(col("q_pct"), col("n"))
      .agg(min(col("bucket")).as("est_bucket"))
      .select(col("q_pct").cast("long").as("q_pct"), col("n"),
        col("est_bucket"),
        decode(col("est_bucket"), upper = false).as("estimate"),
        decode(col("est_bucket"), upper = true).as("est_upper"))
  }

  /** Per-GROUP rank quantiles from a grouped log-sketch state (groupCols
    * + bucket + cnt) — the partitioned twin of
    * [[quantilesFromLogSketch]], mirroring [[quantilesFromSketchBy]]:
    * the cumulative walk is a window PARTITIONED by the group columns,
    * so the frame stays sketch-sized per group and no global sort
    * exists. Returns groupCols ++ (q_pct, n, est_bucket, estimate,
    * est_upper). */
  def quantilesFromLogSketchBy(sketch: DataFrame, groupCols: Seq[String],
      prefixBits: Int, qPcts: Seq[Int]): DataFrame = {
    require(groupCols.nonEmpty, "group columns required")
    require(qPcts.nonEmpty && qPcts.forall(p => p >= 1 && p <= 100),
      "q percentages in [1,100]")
    val g = groupCols.map(col)
    val byBucket = Window.partitionBy(g: _*).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = sketch.select(g :+ col("bucket") :+ col("cnt") :+
      sum(col("cnt")).over(byBucket).as("cum"): _*)
    val tot = cum.groupBy(g: _*).agg(max(col("cum")).as("n"))
    cum.join(tot, groupCols)
      .select(g :+ col("bucket") :+ col("cum") :+ col("n") :+
        explode(typedLit(qPcts.sorted)).as("q_pct"): _*)
      .filter(col("cum") >= expr("(n * q_pct + 99) div 100"))
      .groupBy((g :+ col("q_pct") :+ col("n")): _*)
      .agg(min(col("bucket")).as("est_bucket"))
      .select(g :+ col("q_pct").cast("long").as("q_pct") :+ col("n") :+
        col("est_bucket") :+
        logDecode(col("est_bucket"), prefixBits, upper = false)
          .as("estimate") :+
        logDecode(col("est_bucket"), prefixBits, upper = true)
          .as("est_upper"): _*)
  }

  /** Signed (retractable) log-sketch state — the [[signedAggState]]
    * discipline applied to the quantile sketches: bucket counts carry a
    * ±1 sign, so a DELETE batch is the insert's exact inverse and
    * states merge by plain addition. With valid retractions (a subset
    * of previously inserted rows) the maintained state is ROW-IDENTICAL
    * to the from-scratch sketch of the post-delta table — which is what
    * the gate compares it against. */
  def quantileLogSketchSigned(df: DataFrame, scaled: Column,
      prefixBits: Int, sign: Int): DataFrame = {
    require(sign == 1 || sign == -1, "sign is +1 or -1")
    df.select(logBucket(scaled, prefixBits).as("bucket"))
      .groupBy(col("bucket")).agg((count(lit(1)) * sign).as("cnt"))
  }

  /** Merge signed sketch states by addition (associative + commutative,
    * same one keyed map-side-combinable shuffle as
    * [[mergeQuantileSketches]]), dropping buckets that net to zero so
    * the result equals the from-scratch sketch. Over-retraction leaves
    * a LOUD negative bucket (and a broken rank walk) rather than
    * silently clamping — an invalid delta should never pass a gate. */
  def mergeSignedSketches(states: Seq[DataFrame]): DataFrame =
    states.reduce(_ unionAll _)
      .groupBy(col("bucket")).agg(sum(col("cnt")).as("cnt"))
      .filter(col("cnt") =!= 0)

  /** Snapshot read / time travel over an APPEND-ONLY commit log — the
    * unifier of the warehouse family: the log is (key, version, seq...,
    * op I/U/D, attrs), and the state AT version v is, per key, the
    * latest (version, seq) row with version <= v — absent if that row
    * is a delete. [[cdcApply]] is the v = latest special case, [[scd2]]
    * intervals are this log's full history, [[snapshotDiff]] over two
    * snapshotAt reads is the version-to-version changelog, and
    * [[compactLog]] rewrites history below a horizon WITHOUT changing
    * any read at or above it.
    *
    * One keyed argmax aggregate (max over a (version, seq..., op,
    * attrs) struct — map-side combinable, no window, no join), so a
    * time-travel read costs the same one exchange at any corpus size.
    * (version, seq) must totally order each key's commits — ties would
    * fall through to comparing op/attr bytes, which is no order at all.
    *
    * Returns (key, last_version, last_op, attrs...) for keys alive at v. */
  def snapshotAt(log: DataFrame, keyCol: String, versionCol: String,
      seqCols: Seq[String], opCol: String, attrCols: Seq[String],
      v: Long): DataFrame = {
    val ordered = (versionCol +: seqCols) ++ (opCol +: attrCols)
    log.filter(col(versionCol) <= v)
      .groupBy(col(keyCol))
      .agg(max(struct(ordered.map(col): _*)).as("__last"))
      .filter(col(s"__last.$opCol") =!= "D")
      .select(col(keyCol) +:
        col(s"__last.$versionCol").cast("long").as("last_version") +:
        col(s"__last.$opCol").as("last_op") +:
        attrCols.map(a => col(s"__last.$a").as(a)): _*)
  }

  /** Log compaction below a version horizon: keep, per key, ONLY its
    * latest surviving (non-delete-terminal) row among commits <=
    * horizon, plus every commit above the horizon untouched. Every
    * snapshotAt(v >= horizon) over the compacted log equals the read
    * over the full log (the kept row IS each key's state at the
    * horizon, and later commits out-version it identically); reads
    * BELOW the horizon are forfeited — the documented time-travel-floor
    * trade every table service makes. */
  def compactLog(log: DataFrame, keyCol: String, versionCol: String,
      seqCols: Seq[String], opCol: String, attrCols: Seq[String],
      horizon: Long): DataFrame = {
    val cols = (keyCol +: versionCol +: seqCols) ++ (opCol +: attrCols)
    val ordered = (versionCol +: seqCols) ++ (opCol +: attrCols)
    val kept = log.filter(col(versionCol) <= horizon)
      .groupBy(col(keyCol))
      .agg(max(struct(ordered.map(col): _*)).as("__last"))
      .filter(col(s"__last.$opCol") =!= "D")
      .select(col(keyCol) +: ordered.map(c => col(s"__last.$c").as(c)): _*)
      .select(cols.map(col): _*)
    kept.unionByName(log.filter(col(versionCol) > horizon).select(cols.map(col): _*))
  }

  /** Signed additive aggregate state — the incremental-view-maintenance
    * primitive: count/sum per group carry a ±1 sign, so a DELETE is the
    * insert's exact inverse and states MERGE by plain addition (the same
    * algebra the quantile sketches ride). `sign` is +1 for base rows and
    * inserts, −1 for retracted rows. Integer-exact: callers pass an
    * already-integer value column (the cents discipline). */
  def signedAggState(df: DataFrame, keys: Seq[String], valueCol: Column,
      sign: Int): DataFrame = {
    require(sign == 1 || sign == -1, "sign is +1 or -1")
    df.groupBy(keys.map(col): _*)
      .agg((count(lit(1)) * sign).as("n_rows"),
        (sum(valueCol) * sign).as("sum_v"))
  }

  /** Merge signed states by ADDITION (union + re-aggregate — one keyed
    * map-side-combinable shuffle over |groups|-sized frames, never the
    * fact table), dropping groups whose row count nets to zero. At
    * 100 TB the base state is a stored table of |groups| rows and only
    * the DELTA is scanned — that is the entire point: the merged result
    * must equal (and is gated against) a full recompute. */
  def mergeAggStates(states: Seq[DataFrame], keys: Seq[String]): DataFrame = {
    states.reduce(_ unionByName _)
      .groupBy(keys.map(col): _*)
      .agg(sum(col("n_rows")).as("n_rows"), sum(col("sum_v")).as("sum_v"))
      .filter(col("n_rows") > 0)
  }

  /** Decile lift / cumulative-gains table — the model-eval classic: rank
    * rows by value descending, cut into `n` equal buckets, and report
    * each bucket's cumulative share of the total value (gain) and its
    * ratio to the share a random ordering would capture (lift). A
    * perfect value-concentrating ranking shows lift ≫ 1 in decile 1
    * decaying to 1.0 at decile n.
    *
    * The global rank rides [[TwoLevelRank]] (orderCols = the NEGATED
    * cents so ascending rank = value-descending, key as tiebreak,
    * stripe = key div 4096 — monotone in the tie order, satisfying the
    * stripe precondition); `ntileFromRank` reproduces SQL ntile()
    * bucket boundaries exactly. Value sums accumulate in integer cents
    * as 38-digit decimals; gain and lift are fixed single-division IEEE
    * trees over those exact integers, so raw doubles gate bit-equal.
    * The only ordered window after the rank runs over the n-row decile
    * frame. `keyCol` must be a unique numeric row id. */
  def decileLift(df: DataFrame, keyCol: String, valueCol: Column,
      n: Int = 10): DataFrame = {
    require(n >= 2 && n <= 1000, "n in [2,1000]")
    val v = Rounds.checkpoint(df.select(col(keyCol).as("__k"),
      round(valueCol * 100).cast("long").as("__c"))
      .withColumn("__negc", -col("__c")), eager = false)
    val ranked = TwoLevelRank.rank(v, Nil, Seq("__negc"),
      expr("__k div 4096"), Seq("__k"), "__i")
    val tot = v.agg(count(lit(1)).as("__n"),
      sum(col("__c").cast("decimal(38,0)")).as("__tc"))
    val byDecile = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked.crossJoin(broadcast(tot))
      .withColumn("decile", TwoLevelRank.ntileFromRank(col("__i"), col("__n"), n))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("__c").cast("decimal(38,0)")).as("__sc"),
        first(col("__tc")).as("__tc"), first(col("__n")).as("__nn"))
      .select(col("decile"), col("n_rows"),
        sum(col("n_rows")).over(byDecile).as("cum_rows"),
        (sum(col("__sc")).over(byDecile).cast("double")
          / col("__tc").cast("double")).as("gain"),
        ((sum(col("__sc")).over(byDecile).cast("double")
            / col("__tc").cast("double"))
          / (sum(col("n_rows")).over(byDecile).cast("double")
            / col("__nn").cast("double"))).as("lift"))
  }
}
