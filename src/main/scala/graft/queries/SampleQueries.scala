package graft
package queries

import graft.ops._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Fixtures._
import OracleCtes._

/** Deterministic sampling (training-split stability at any scale). */
object SampleQueries {
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

  val cases: Seq[Case] = Seq(
    // Greedy k-center (farthest-first, Gonzalez) coreset selection over
    // the int8-quantized corpus: 6 centers picked to maximize embedding-
    // space coverage, with the final cover radius — the diversity-
    // maximizing data-selection pass. Integer distances + lowest-id tie
    // breaks make the whole selection trace hash-gateable.
    Case("sample_kcenter", (s, dir) =>
      Similarity.kCenterQuantized(t(s, dir, "embeddings"), k = 6),
      Some(kCenterOracleSql(6))),

    // Membership from md5(key), not rand(): same subset every run, every
    // partitioning, every engine — the oracle recomputes it row-for-row.
    Case("sample_consistent", (s, dir) =>
      Sampling.consistentSample(t(s, dir, "documents"), "doc_id", 0.25)
        .select(col("doc_id")),
      Some("""SELECT doc_id FROM documents
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |      % 1000000 < 250000""".stripMargin)),

    // Per-stratum fractions as one codegen'd CASE cutoff (downsample the
    // dominant language, keep all of a rare one).
    Case("sample_stratified", (s, dir) =>
      Sampling.stratifiedSample(t(s, dir, "documents"), "doc_id", "lang",
        Map("en" -> 0.5, "es" -> 1.0), defaultFraction = 0.1)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_docs")),
      Some("""SELECT lang, count(*) AS n_docs FROM documents
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |      % 1000000 <
        |      CASE lang WHEN 'en' THEN 500000 WHEN 'es' THEN 1000000 ELSE 100000 END
        |GROUP BY lang""".stripMargin)),

    // Data-dependent mixture: target 50/30/20 over three sources; the
    // kept doc_id SET is the gate (membership, not just counts), so the
    // in-plan cutoff arithmetic must match DuckDB double-for-double.
    Case("sample_mixture", (s, dir) =>
      Sampling.mixtureSample(t(s, dir, "documents"), "doc_id", "source",
        Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
        .select(col("doc_id"), col("source")),
      // Same binding-ratio arithmetic, same operation order (w*r/n*1e6) so
      // the double cutoffs agree bit-for-bit.
      Some("""WITH w(dom, wt) AS (
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
        |      % 1000000 < cut""".stripMargin)),

    // Temperature-flattened mix (T=2) over the skewed language column
    // (en dominates ~2.2:1 over the rarest): weights derived IN-PLAN
    // from the observed counts as (n/N)^(1/T); same membership gate as
    // sample_mixture. The rarest language survives whole, en is thinned.
    Case("sample_temperature", (s, dir) =>
      Sampling.temperatureSample(t(s, dir, "documents"), "doc_id", "lang",
        temperature = 2.0)
        .select(col("doc_id"), col("lang")),
      // Same binding-ratio cutoff math as sample_mixture, with the weights
      // computed from the observed counts: w = (n/N)^(1/2).
      Some("""WITH counts AS (
        |  SELECT lang AS dom, CAST(count(*) AS DOUBLE) AS n
        |  FROM documents GROUP BY lang),
        |tot AS (SELECT sum(n) AS tot FROM counts),
        |w AS (SELECT dom, n, pow(n / tot, 1.0 / 2.0) AS wt FROM counts, tot),
        |r AS (SELECT min(n / wt) AS r FROM w),
        |cut AS (SELECT dom, wt * r / n * 1000000 AS cut FROM w, r)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN cut ON d.lang = cut.dom
        |WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |      % 1000000 < cut""".stripMargin)),

    // Poisson(1) bootstrap (the distributed bootstrap for massive data:
    // per-row replicate weights w ~ Poisson(1) instead of resampling —
    // one scan builds ALL replicates): the draw is the stable md5 key
    // salted by replicate id, the inverse CDF is integer thresholds on
    // the 1e6 grid, and each replicate total accumulates in DECIMAL —
    // every replicate is rerun/partition/engine-identical.
    Case("sample_bootstrap", { (s, dir) =>
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
      // Same salted md5 draw and integer inverse-CDF thresholds.
      Some("""WITH r AS (SELECT o_orderkey, o_totalprice, unnest([1, 2, 3]) AS rep
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
        |FROM w GROUP BY rep""".stripMargin)),

    // Exact-size deterministic sample: the k smallest md5 draws (a
    // consistent sample is binomial-sized; eval sets often need EXACTLY
    // k). TakeOrdered is k-bounded per partition — no global sort.
    Case("sample_exact_k", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), md5(col("doc_id").cast("string")).as("h"))
        .orderBy(col("h"), col("doc_id")).limit(100)
        .select(col("doc_id")),
      Some("""SELECT doc_id FROM documents
        |ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 100""".stripMargin)),

    // Class-balanced downsample: every language kept at exactly the
    // MINORITY class size, the target derived IN-PLAN (1-row broadcast
    // min, no driver collect) and membership by seeded md5 rank — the
    // imbalance fix run before classifier fine-tuning. id_sum pins the
    // selected SET, not just the counts.
    Case("sample_balance", { (s, dir) =>
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
      Some("""WITH tgt AS (SELECT min(n) AS k FROM (
        |       SELECT lang, count(*) AS n FROM documents GROUP BY lang)),
        |r AS (SELECT doc_id, lang,
        |       row_number() OVER (PARTITION BY lang
        |         ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |      FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM r, tgt WHERE rk <= k GROUP BY lang""".stripMargin)),

    // Deterministic sharded negative sampling (contrastive-training
    // partners from a hash ring, not an RNG): rerun/partition/engine-
    // independent pairings, per-shard windows only.
    Case("sample_negatives", (s, dir) =>
      Sampling.negativeSample(t(s, dir, "documents"), "doc_id",
        k = 2, nShards = 16),
      // Same md5 draw → shard, md5-hex ring order, (r+j) mod n partners.
      Some("""WITH r AS (SELECT doc_id AS key,
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
        |FROM j JOIN rf p ON p.shard = j.shard AND p.rn = j.tgt""".stripMargin)),

    // Deterministic per-group k-sample (the reservoir-sampling twin):
    // exactly 40 docs per language, selected by seeded md5 rank — the
    // oracle reproduces the identical 40, not just the count.
    Case("sample_reservoir", (s, dir) =>
      Sampling.groupSample(t(s, dir, "documents"), "doc_id", "lang",
        k = 40, seed = 42L)
        .select(col("doc_id"), col("lang"), col("draw_rank")),
      Some("""WITH r AS (
        |  SELECT doc_id, lang,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY md5('42-' || CAST(doc_id AS VARCHAR)), doc_id) AS draw_rank
        |  FROM documents)
        |SELECT doc_id, lang, CAST(draw_rank AS BIGINT) AS draw_rank
        |FROM r WHERE draw_rank <= 40""".stripMargin)),

    // 90/5/5 train/val/test assignment: one label per doc, stable under
    // rerun and weight rebalancing (cutoff partition of the same draw).
    Case("sample_split", (s, dir) =>
      Sampling.splitAssign(t(s, dir, "documents"), "doc_id",
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .select(col("doc_id"), col("split")),
      Some("""WITH d AS (SELECT doc_id,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |      % 1000000 AS draw FROM documents)
        |SELECT doc_id,
        |       CASE WHEN draw < 900000 THEN 'train'
        |            WHEN draw < 950000 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM d""".stripMargin)),

    // Curriculum staging: difficulty stage 1..4 by per-language length
    // quartiles (shorter = easier; per-group cutoffs so verbose
    // languages don't monopolize the hard stages).
    Case("sample_curriculum", (s, dir) =>
      Sampling.curriculumStages(
        t(s, dir, "documents").withColumn("n_tokens",
          size(split(trim(col("text")), "\\s+")).cast("long")),
        "lang", "n_tokens")
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("stage")),
      // quantile_cont = Spark's interpolated percentile (rel_percentiles
      // precedent); the boolean-sum stage expression is identical.
      Some("""WITH n AS (SELECT doc_id, lang,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |q AS (SELECT lang, quantile_cont(n_tokens, 0.25) AS q1,
        |        quantile_cont(n_tokens, 0.5) AS q2,
        |        quantile_cont(n_tokens, 0.75) AS q3
        |      FROM n GROUP BY lang)
        |SELECT doc_id, n.lang, n_tokens,
        |       CAST(1 + CAST(n_tokens > q1 AS INT) + CAST(n_tokens > q2 AS INT)
        |            + CAST(n_tokens > q3 AS INT) AS BIGINT) AS stage
        |FROM n JOIN q USING (lang)""".stripMargin)),

    // Domain-mixture plan: per-language weights + a 500k-token budget →
    // exact integer targets, epoch counts (up-sampled small sources run
    // multiple passes), and the final partial pass in ppm.
    Case("sample_mixture_plan", (s, dir) =>
      Sampling.mixturePlan(t(s, dir, "documents"), "lang", "text",
        Seq("en" -> 2, "de" -> 3, "es" -> 3, "fr" -> 3, "zh" -> 1),
        budgetTokens = 500000L),
      // Same integer div arithmetic over the per-lang token counts.
      Some("""WITH n AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
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
        |FROM ep""".stripMargin)),

    // Leak-free variant: near-duplicate docs adopt their group
    // representative's split, so no eval doc has a training near-twin —
    // the benchmark-leak guard run after dedup, before export.
    Case("sample_split_leakfree", { (s, dir) =>
      val docs = t(s, dir, "documents")
      val groups = Dedup.duplicateGroups(
        Dedup.jaccardVerifiedPairs(docs, "doc_id", "text",
          Dedup.minhashLshCandidates(docs, "doc_id", "text"),
          n = 3, threshold = 0.5))
      Sampling.leakFreeSplit(docs, "doc_id",
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05), groups)
    },
      // Recursive groups + the sample_split draw; group members adopt the
      // representative's (min id) split.
      Some("""WITH RECURSIVE
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
        |FROM sp LEFT JOIN rs ON rs.doc_id = sp.doc_id""".stripMargin)),

    // Per-source quota selection: top 30 docs per language by token
    // count (desc, ties by doc_id) — the per-source quality-quota cut
    // of a mixture pipeline. The per-lang rank is the TWO-LEVEL
    // bucketed prefix count (ops.TwoLevelRank partitioned by lang): a
    // hot source (real corpora are ~90% one language) never serializes
    // through one task, unlike a plain row_number over PARTITION BY
    // lang, whose hot partition IS the corpus.
    Case("sample_quality_quota", { (s, dir) =>
      val len = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
        .withColumn("__neg", -col("n_tokens"))
      TwoLevelRank.rank(len, Seq("lang"), Seq("__neg"),
          expr("doc_id div 4096"), Seq("doc_id"), "rnk")
        .filter(col("rnk") <= 30)
        .select(col("lang"), col("doc_id"), col("n_tokens"), col("rnk"))
    },
      Some("""WITH lenq AS (SELECT doc_id, lang,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |r AS (SELECT lang, doc_id, n_tokens,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY n_tokens DESC, doc_id) AS BIGINT) AS rnk
        |  FROM lenq)
        |SELECT lang, doc_id, n_tokens, rnk FROM r WHERE rnk <= 30""".stripMargin)),

    // DSIR importance weights: hashed-bigram likelihood ratio of the
    // English subset (the "target domain") vs the whole corpus.
    Case("sample_dsir", (s, dir) => {
      val docs = t(s, dir, "documents")
      Training.dsirWeights(docs, docs.filter(col("lang") === "en"),
        "doc_id", "text", nBuckets = 64, alpha = 0.5)
    },
      // The DSIR recurrence replayed relationally: md5-hashed bigram
      // buckets, add-0.5 smoothed target (lang='en') vs corpus models,
      // per-doc Σ n·log-ratio; fold order absorbed by round(,6).
      Some("""WITH tk AS (SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS toks FROM documents),
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
        |FROM dbk JOIN lr USING (b) GROUP BY doc_id""".stripMargin)),

    // Neyman-optimal stratified allocation of a 1000-row audit sample
    // across order priorities: σ from exact integer-cents moments, the
    // one cross-engine float (the stratum-sum denominator) rounded to 6
    // decimals before the floor per the rounded-algebra convention.
    Case("sample_neyman", (s, dir) =>
      Sampling.neymanAllocation(t(s, dir, "orders"),
        stratumCol = "o_orderpriority", valueCol = "o_totalprice",
        totalN = 1000L),
      // Integer-cents moments in HUGEINT (exact, fold-order free), one
      // correctly-rounded cast to double for the variance — σ is then
      // bit-identical to the engine's decimal path; the stratum-sum share
      // rounds to 6 decimals before the floor, same as the operator.
      Some("""WITH p AS (SELECT o_orderpriority AS stratum,
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
        |FROM w""".stripMargin)),

    // PPS Poisson sampling: inclusion ∝ order value, membership by the
    // integer md5 draw vs round(π·1e6) — an integer-vs-integer gate
    // both engines decide identically.
    Case("sample_pps", (s, dir) =>
      Sampling.ppsSample(t(s, dir, "orders"), keyCol = "o_orderkey",
        valueCol = "o_totalprice", totalN = 1000L),
      // Same md5 draw as sample_consistent; π is the fixed tree
      // (n·cents)/Σcents over exactly-converted doubles and membership is
      // the integer draw < round(π·1e6) comparison.
      Some("""WITH tt AS (SELECT CAST(sum(CAST(round(o_totalprice*100) AS HUGEINT))
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
        |            / (SELECT tot FROM tt)) * 1000000.0) AS BIGINT)""".stripMargin)),

    // Weighted sampling without replacement (Efraimidis–Spirakis):
    // inclusion odds ∝ n_chars, selection a pure function of the key set,
    // executed as TakeOrdered (k-bounded, no global sort).
    Case("sample_weighted", (s, dir) =>
      Sampling.weightedSample(t(s, dir, "documents"), keyCol = "doc_id",
        weightCol = "n_chars", k = 50)
        .select(col("doc_id"), col("n_chars"), col("es_key")),
      // Identical draw (md5 prefix), identical u^(1/w) formula; ORDER on
      // the raw double, 6-decimal round on the emitted score.
      Some("""WITH d AS (
        |  SELECT doc_id, n_chars,
        |         pow((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |              % 1000000 + 1) / 1000000.0, 1.0 / n_chars) AS raw
        |  FROM documents)
        |SELECT doc_id, n_chars, round(raw, 6) AS es_key
        |FROM d ORDER BY raw DESC, doc_id LIMIT 50""".stripMargin)),

    // Sequence-length bucketing (padding-efficiency prep): ntile(8) over
    // the total (len, doc_id) order; per-bucket padding waste =
    // max_len·n − Σlen. The rank behind the ntile is the TWO-LEVEL
    // bucketed prefix count (ops.TwoLevelRank — intra-stripe windows
    // partitioned by (len, doc-stripe); only the collapsed (len, stripe)
    // frame crosses the one ordered window), and the bucket id is exact
    // integer ntile arithmetic from (rank, N) — a direct
    // `ntile(8).over(Window.orderBy(len, doc_id))` computes the same
    // buckets but serializes EVERY document through one task.
    Case("sample_length_bucket", { (s, dir) =>
      val len = Rounds.checkpoint(t(s, dir, "documents")
        .select(col("doc_id"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("len")), eager = false)
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
      Some("""WITH len AS (SELECT doc_id,
        |        CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS l
        |      FROM documents),
        |b AS (SELECT doc_id, l, ntile(8) OVER (ORDER BY l, doc_id) AS bucket FROM len)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(min(l) AS BIGINT) AS min_len, CAST(max(l) AS BIGINT) AS max_len,
        |       CAST(sum(l) AS BIGINT) AS sum_len,
        |       CAST(max(l) * count(*) - sum(l) AS BIGINT) AS padding_waste
        |FROM b GROUP BY bucket""".stripMargin)),
  )
}
