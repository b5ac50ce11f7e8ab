package graft
package queries

import graft.ops._
import org.apache.spark.sql.functions._
import Fixtures._
import OracleCtes._

/** Deduplication suite: exact, near-duplicate and fuzzy. */
object DedupQueries {
  /** Same plane-literal technique for the embedding near-dup bucketing
    * query (12 planes): every bucket value is recomputed by DuckDB. */
  private val embeddingLshOracleSql: String =
    s"""WITH ${bucketCtes(Similarity.hyperplanes(12, 64))}
       |SELECT vec_id, CAST(bucket AS BIGINT) AS bucket FROM b""".stripMargin

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

  val cases: Seq[Case] = Seq(
    // Fellegi–Sunter probabilistic record linkage: sorted-neighborhood
    // candidates ($50 balance blocks, 3 neighbors), u-odds estimated
    // exactly from the corpus and reduced to ppm, match/non-match
    // decided by exact integer cross-multiplication (threshold odds
    // 10:1). Every output cell is integer/string/boolean.
    Case("dedup_er_pairs", { (s, dir) =>
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
      // The full FS pipeline replayed: same SNM leads, same exact-ppm u
      // odds (HUGEINT, true floor //), same cross-multiplied 10:1 verdict.
      Some("""WITH prep AS (SELECT c_custkey AS rid, c_nationkey, c_mktsegment,
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
        |FROM ag, u1, u2, u3, u4""".stripMargin)),

    // Asymmetric shingle containment (doc-in-doc / quotation detection —
    // the relation Jaccard misses). df-capped candidates bound the join.
    // EXACT near-dup pairs by prefix filtering (SSJoin/PPJoin family) —
    // the deterministic complement to MinHash-LSH: candidates key on
    // each doc's RAREST tokens under the global df order (a pair with
    // Jaccard ≥ t provably shares a prefix token), then the sorted-hash
    // merge walk verifies. No recall knob, no bands: every qualifying
    // pair is generated.
    Case("dedup_prefix_filter", (s, dir) =>
      Dedup.prefixFilterPairs(t(s, dir, "documents"), "doc_id", "text",
        minJaccard = 0.5),
      // Same distinct-3-gram md5 keys as the decon oracle (n=3: len−2
      // windows), df-capped, then ordered-pair containment.
      // Same prefix scheme relationally over the 3-shingle sets: df order
      // (the oracle's token order differs from the engine's hashed one —
      // ANY total order generates every qualifying pair, and only verified
      // pairs leave), prefix equi-join, exact list-op Jaccard (string
      // sets — the engine's 64-bit hash counts equal them, the ngram
      // convention).
      Some("""WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
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
        |SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.5""".stripMargin)),

    Case("dedup_containment", (s, dir) =>
      Dedup.shingleContainment(t(s, dir, "documents"), "doc_id", "text",
        n = 3, maxDf = 50, minShared = 3, minContainment = 0.8),
      Some("""WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
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
        |WHERE n_shared / sz.n_a >= 0.8""".stripMargin)),

    Case("dedup_exact", (s, dir) =>
      Dedup.exactGroups(t(s, dir, "documents"), "text", "doc_id")
        .select(md5(col("text")).as("text_md5"), col("keeper_id"), col("n_copies")),
      Some("""SELECT md5(text) AS text_md5, min(doc_id) AS keeper_id,
        |       count(*) AS n_copies
        |FROM documents GROUP BY text""".stripMargin)),

    // xxhash64-based signatures: engine-defined, rows-only (pinned by
    // planted-dup tests + the hash-gated md5 twin below).
    Case("dedup_minhash_lsh", (s, dir) =>
      Dedup.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text",
        threshold = 0.0),
      None),

    // Hash-gated oracle twin of the FULL MinHash+LSH pipeline: identical
    // stages (fused signature pass → narrow band self-join → signature
    // re-attach → agreement), engine-independent hashes (md5-derived base
    // hash, raw slice band keys) so DuckDB replicates every stage — the
    // real pipeline is verified end-to-end, not a simplification.
    Case("dedup_minhash_md5", (s, dir) =>
      Dedup.minhashLshPairsMd5(t(s, dir, "documents"), "doc_id", "text"),
      Some(minhashMd5OracleSql)),

    // Chunks projected as scalar columns (one per 16-bit pigeonhole band):
    // array columns aren't sortable by the driver's checker.
    Case("dedup_simhash", (s, dir) =>
      Dedup.withSimhash(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"),
          element_at(col("chunks"), 1).as("chunk0"),
          element_at(col("chunks"), 2).as("chunk1"),
          element_at(col("chunks"), 3).as("chunk2"),
          element_at(col("chunks"), 4).as("chunk3")),
      None),

    // Hash-gated oracle twin of the SimHash pass: same fused expression,
    // same per-bit vote → sign → 16-bit pigeonhole chunks, but each
    // token's 64 hash bits come from md5 (first 8 digest bytes) so DuckDB
    // recomputes every chunk value bit-for-bit.
    Case("dedup_simhash_md5", (s, dir) =>
      Dedup.withSimhash(t(s, dir, "documents"), "doc_id", "text", md5Base = true)
        .select(col("doc_id"),
          element_at(col("chunks"), 1).as("chunk0"),
          element_at(col("chunks"), 2).as("chunk1"),
          element_at(col("chunks"), 3).as("chunk2"),
          element_at(col("chunks"), 4).as("chunk3")),
      // SimHash md5 twin: per-token 64-bit hash = first 16 md5 hex digits
      // (UBIGINT, same bit pattern as the engine's signed long); bit j is
      // the j-th least-significant; majority vote per bit over the token
      // MULTISET (unnest keeps duplicates, as the engine's loop does);
      // chunk c packs bits c*16..c*16+15 MSB-first. The empty-document
      // Java-split quirk ([''] -> one empty token) matches both sides.
      Some("""WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
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
        |FROM chunks GROUP BY doc_id""".stripMargin)),

    // End-to-end dedup: LSH candidates → exact Jaccard verify (≥ 0.5) →
    // transitive closure into duplicate groups (keeper = min doc_id). The
    // oracle rebuilds the same groups with a recursive-CTE connected-
    // components walk over the all-pairs ≥ 0.5 edge set — the full
    // pipeline output is hash-gated, not just the pair list.
    Case("dedup_groups", { (s, dir) =>
      val docs = t(s, dir, "documents")
      Dedup.duplicateGroups(
        Dedup.jaccardVerifiedPairs(docs, "doc_id", "text",
          Dedup.minhashLshCandidates(docs, "doc_id", "text"),
          n = 3, threshold = 0.5))
    },
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
        |  SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a)
        |SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS group_id
        |FROM reach GROUP BY a""".stripMargin)),

    // Duplicate-cluster size report over the same transitive groups: how
    // many clusters of each size and how many documents they absorb —
    // the dedup-health summary every corpus run publishes (a heavy tail
    // here means boilerplate; a spike at 2 means true near-dups). Two
    // keyed aggregates over the group frame; integer outputs.
    Case("dedup_group_stats", { (s, dir) =>
      val docs = t(s, dir, "documents")
      Dedup.duplicateGroups(
          Dedup.jaccardVerifiedPairs(docs, "doc_id", "text",
            Dedup.minhashLshCandidates(docs, "doc_id", "text"),
            n = 3, threshold = 0.5))
        .groupBy(col("group_id")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("group_size"))
        .agg(count(lit(1)).as("n_groups"), sum(col("sz")).as("n_docs"))
    },
      // Same recursive-CTE groups, then the cluster-size distribution.
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
        |sz AS (SELECT gid, CAST(count(*) AS BIGINT) AS group_size
        |       FROM g GROUP BY gid)
        |SELECT group_size, CAST(count(*) AS BIGINT) AS n_groups,
        |       CAST(sum(group_size) AS BIGINT) AS n_docs
        |FROM sz GROUP BY group_size""".stripMargin)),

    // Soft dedup (duplicate-aware loss reweighting): every document
    // kept, weight = 1/|duplicate cluster| over the same transitive
    // groups, singletons weigh 1 — the alternative to hard removal when
    // near-dups carry variation worth training on. One duplicate-sized
    // aggregate + one corpus left join; the weight is a single IEEE
    // division from exact integers.
    Case("dedup_soft_weight", { (s, dir) =>
      val docs = t(s, dir, "documents")
      Dedup.softDedupWeights(docs,
        Dedup.duplicateGroups(
          Dedup.jaccardVerifiedPairs(docs, "doc_id", "text",
            Dedup.minhashLshCandidates(docs, "doc_id", "text"),
            n = 3, threshold = 0.5)))
    },
      // Same recursive-CTE groups, then every doc weighted 1/|cluster|
      // (singletons 1) — one left join, one DOUBLE/DOUBLE division.
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
        |sz AS (SELECT gid, CAST(count(*) AS BIGINT) AS group_size
        |       FROM g GROUP BY gid),
        |m AS (SELECT g.doc_id, sz.group_size FROM g JOIN sz ON g.gid = sz.gid)
        |SELECT d.doc_id,
        |       COALESCE(m.group_size, CAST(1 AS BIGINT)) AS group_size,
        |       CAST(1.0 AS DOUBLE) /
        |         CAST(COALESCE(m.group_size, 1) AS DOUBLE) AS weight
        |FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id""".stripMargin)),

    // Representative selection over the same groups: keep the longest
    // member per duplicate group (tie → smaller id), singletons pass
    // through — the deduplicated corpus itself, hash-gated end to end.
    Case("dedup_keep_best", { (s, dir) =>
      val docs = t(s, dir, "documents")
      Dedup.keepBest(docs,
        Dedup.duplicateGroups(
          Dedup.jaccardVerifiedPairs(docs, "doc_id", "text",
            Dedup.minhashLshCandidates(docs, "doc_id", "text"),
            n = 3, threshold = 0.5)))
    },
      // Same recursive-CTE groups as dedup_groups, then the argmax
      // representative per group plus the anti-joined singleton pass-through.
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
        |FROM documents d ANTI JOIN g USING (doc_id)""".stripMargin)),

    // Exact-substring (span-level) dedup, window-hash formulation: the
    // repeated-span dictionary (8-token windows in ≥2 distinct docs)...
    Case("dedup_spans", (s, dir) =>
      Dedup.repeatedSpans(t(s, dir, "documents"), "doc_id", "text",
        n = 8, minDocs = 2),
      Some("""WITH w AS (SELECT doc_id,
        |         string_split_regex(trim(text), '\s+') AS w FROM documents),
        |sp AS (SELECT doc_id, unnest(list_transform(range(0, len(w) - 7),
        |         i -> array_to_string(w[i+1:i+8], ' '))) AS span FROM w)
        |SELECT span, CAST(count(*) AS BIGINT) AS n_occurrences,
        |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM sp GROUP BY span HAVING count(DISTINCT doc_id) >= 2""".stripMargin)),

    // Maximal-repeat (ExactSubstr-class) dictionary: every ≥32-token span
    // occurring ≥2 times that is left- AND right-maximal — the
    // suffix-tree-internal-node set, so nested duplicates report ONCE at
    // full length (never their sub-windows), found by hash-doubling group
    // refinement in log(cap) rounds over the duplicated-region subset
    // only. cap=128 exceeds the fixture's max doc length, so the loud
    // cap guard cannot fire here.
    Case("dedup_max_repeats", (s, dir) =>
      Dedup.maxRepeats(t(s, dir, "documents"), "doc_id", "text",
        minLen = 32, cap = 128),
      // Brute force over the pruned candidate space: windows of EVERY length
      // 32..128 from positions whose 32-window recurs (a longer repeat's
      // start is always such a position — the same pruning theorem the
      // engine uses), grouped per (length, content), then the identical
      // left/right maximality predicate the engine's divergence semantics
      // implement (doc start/end count as unextendable).
      Some("""WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
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
        |FROM grp WHERE (r_end OR ndn >= 2) AND (l_end OR ndp >= 2)""".stripMargin)),

    // ...and the per-doc duplicated-window ratio built on it — exchanges
    // carry 60-bit md5 keys, never span text; dup_ratio is one IEEE
    // division of exact integers so it hash-gates.
    Case("dedup_span_ratio", (s, dir) =>
      Dedup.spanDupRatio(t(s, dir, "documents"), "doc_id", "text",
        n = 8, minDocs = 2),
      Some("""WITH w AS (SELECT doc_id,
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
        |FROM tot t LEFT JOIN dup d USING (doc_id)""".stripMargin)),

    // The cleaning step over the same dictionary: drop every token under
    // a repeated window, reassemble; md5 of the rebuilt text pins every
    // surviving token position.
    Case("dedup_span_scrub", (s, dir) =>
      Dedup.scrubSpans(t(s, dir, "documents"), "doc_id", "text",
        n = 8, minDocs = 2)
        .select(col("doc_id"), md5(col("text_clean")).as("clean_md5"),
          col("n_tokens"), col("n_removed")),
      Some("""WITH w AS (SELECT doc_id,
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
        |FROM w b LEFT JOIN agg a USING (doc_id)""".stripMargin)),

    // The keep-ONE-copy removal rule ("Deduplicating Training Data"'s
    // ExactSubstr action): the globally first occurrence of each
    // duplicated window keeps its tokens, every other occurrence is
    // scrubbed — where span_scrub removes all copies of boilerplate.
    Case("dedup_span_keepfirst", (s, dir) =>
      Dedup.keepFirstSpans(t(s, dir, "documents"), "doc_id", "text", n = 8)
        .select(col("doc_id"), md5(col("text_clean")).as("clean_md5"),
          col("n_tokens"), col("n_removed")),
      // Keep-first variant: same window/rebuild machinery, but coverage
      // comes only from NON-first occurrences of windows recurring >= 2
      // times (multiplicity), first = min (doc_id, wpos) per window key.
      Some("""WITH w AS (SELECT doc_id,
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
        |FROM w b LEFT JOIN agg a USING (doc_id)""".stripMargin)),

    // The same keep-one-copy rule at MAXIMAL-repeat granularity — the
    // actual ExactSubstr deletion: each >= 32-token maximal repeat's
    // first occurrence keeps its tokens, later occurrences scrub the
    // FULL span (one 93-token span, never 62 overlapping 32-windows),
    // and nothing below the 32-token threshold is touched.
    Case("dedup_span_keepfirst_maximal", (s, dir) =>
      Dedup.keepFirstMaximalSpans(t(s, dir, "documents"), "doc_id", "text",
        minLen = 32, cap = 128)
        .select(col("doc_id"), md5(col("text_clean")).as("clean_md5"),
          col("n_tokens"), col("n_removed")),
      // Maximal-granularity keep-first: the dedup_max_repeats brute-force
      // dictionary (same prune + same maximality predicates) taken to
      // per-OCCURRENCE rows, keeper = min (doc_id, pos) per (l, span),
      // coverage = every non-keeper's FULL l-token span, then the
      // standard rebuild. Independent of the engine's group-refinement
      // machinery end to end.
      Some("""WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
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
        |FROM w b LEFT JOIN agg a USING (doc_id)""".stripMargin)),

    // Scale shape: LSH candidate generation → exact Jaccard verify, linear
    // in candidates (a block self-join on a data column would be quadratic
    // within the block — kept only as the pre-blocked-data primitive).
    // Threshold 0.5 sits in the fixture's empirical gap (no pair between
    // 0.07 and 0.9), where 16×4 LSH recall is 1 − (1−j⁴)¹⁶ ≈ 1, so the
    // verified output equals the oracle's all-pairs ≥ 0.5 scan.
    Case("dedup_ngram_jaccard", { (s, dir) =>
      val docs = t(s, dir, "documents")
      Dedup.jaccardVerifiedPairs(docs, "doc_id", "text",
        Dedup.minhashLshCandidates(docs, "doc_id", "text"),
        n = 3, threshold = 0.5)
    },
      Some("""WITH s AS (
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
        |        len(list_distinct(list_concat(l.sh, r.sh))) >= 0.5""".stripMargin)),

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
    Case("dedup_fuzzy_lev", { (s, dir) =>
      val docs = t(s, dir, "documents")
        .filter(octet_length(col("text")) === length(col("text")))
      val cands = Dedup.minhashLshPairsMd5(docs, "doc_id", "text")
        .select(col("left_id"), col("right_id"))
      Dedup.levenshteinVerifiedPairs(docs, "doc_id", "text", cands, maxDistance = 60)
    },
      Some(dedupFuzzyLevOracleSql)),

    // Incremental dedup: the %7==0 docs play the day's new batch against
    // the rest as the standing corpus; md5-base so the oracle replicates
    // the full pipeline (bands → touching-new candidates → exact verify →
    // smallest corpus-or-earlier-new partner).
    Case("dedup_increment", { (s, dir) =>
      val docs = t(s, dir, "documents")
      Dedup.dedupIncrement(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0),
        "doc_id", "text", threshold = 0.5, md5Base = true)
    },
      Some(dedupIncrementOracleSql)),

    // Boilerplate-line removal: the fixture has no newlines, so both
    // engines first segment each doc into deterministic 4-token lines
    // (the width at which the fixture's 31-word vocabulary actually
    // produces cross-doc repeats — ~11% of occurrences drop at sf0.01);
    // then lines in >1 distinct doc are removed everywhere and the doc
    // is reassembled. md5 pins content AND line order.
    Case("dedup_lines", { (s, dir) =>
      val lined = t(s, dir, "documents").select(col("doc_id"),
        expr("""array_join(
                  transform(sequence(0, (size(split(text, ' ')) - 1) div 4),
                    i -> array_join(slice(split(text, ' '), i * 4 + 1, 4), ' ')),
                  '\n')""").as("text"))
      Dedup.dedupLines(lined, "doc_id", "text", delimiter = "\n", maxDocs = 1)
        .select(col("doc_id"), md5(col("text_clean")).as("clean_md5"),
          col("n_lines"), col("n_dropped"))
    },
      // Line segmentation replicated (4-token lines, chr(10) joins), then
      // the independent relational formulation of the same removal rule.
      Some("""WITH docs AS (
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
        |FROM docs b LEFT JOIN agg a USING (doc_id)""".stripMargin)),

    // Content-defined chunking dedup: split every doc at md5-derived
    // content boundaries (w=8-char gram, divisor 16 → ~16-char chunks),
    // then find chunks shared across the corpus — the insertion-
    // resilient storage/transfer dedup fixed-offset blocking can't do.
    Case("dedup_cdc_chunks", (s, dir) =>
      Dedup.cdcChunkDedup(t(s, dir, "documents"), "doc_id", "text",
        w = 8, d = 16),
      // The boundary rule replayed per position (uint32 of the md5's
      // first 8 hex digits % 16), then chunks sliced between consecutive
      // boundaries; a boundary ON the last char leaves no tail chunk.
      Some("""WITH d AS (SELECT doc_id, text, length(text) AS nc FROM documents),
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
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin)),

    Case("dedup_embedding_lsh", (s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .select(col("vec_id"),
          Similarity.lshBucket(col("v"), Similarity.hyperplanes(12, 64)).as("bucket")),
      Some(embeddingLshOracleSql)),

    // SemDeDup: k-means topic clusters, then per-cluster cosine near-dup
    // pruning with a lower-id keep rule — the full routing AND the drop
    // verdicts hash-gate (integer-exact cosine test, see Dedup scaladoc).
    Case("dedup_semantic", (s, dir) =>
      Dedup.semanticDedup(t(s, dir, "embeddings"), k = 8, iters = 2,
        tauNum = 3, tauDen = 10),
      Some(semanticDedupOracleSql(2, 3, 10))),

    // URL-canonicalization dedup (the C4/CCNet crawl-prep pass): raw
    // page URLs synthesized in-plan from document attributes with the
    // full zoo of spelling variants (case-shifted www hosts, default
    // ports, utm/fbclid tracking params, shuffled query order,
    // fragments, trailing slashes), then collapsed by Web.canonicalizeUrl
    // — a zero-shuffle projection — and deduplicated with one keyed
    // aggregate. The oracle re-derives the same canonical form with
    // DuckDB string/list functions, so every rule is value-gated.
    Case("dedup_url", { (s, dir) =>
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
      // Same synthetic raw URLs, same master regex (groups 1/2/3/5), same
      // canonicalization rules re-expressed with DuckDB list functions.
      Some("""WITH raw AS (
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
        |FROM c GROUP BY 1""".stripMargin)),
  )
}
