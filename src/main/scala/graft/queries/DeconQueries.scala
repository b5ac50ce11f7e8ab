package graft
package queries

import graft.ops._
import org.apache.spark.sql.functions._
import Fixtures._
import OracleCtes._

/** Training-data preparation: benchmark decontamination. */
object DeconQueries {
  val cases: Seq[Case] = Seq(
    // Decontamination against a benchmark slice (doc_id % 97 == 0), with
    // planted leaks: the benchmark docs re-enter the corpus under
    // doc_id+1000000, so the gate proves BOTH directions — leaked copies
    // are flagged contaminated with full n-gram overlap, and the
    // untouched corpus majority scores its true (usually zero) overlap.
    Case("decon_ngram", { (s, dir) =>
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 97 === 0)
      val corpus = docs.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"), col("text"))
        .unionAll(bench.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Training.decontaminate(corpus, bench, "doc_id", "text", n = 8)
        .select(col("doc_id"), col("n_ngrams"), col("n_hits"), col("contaminated"))
    },
      Some("""WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |ngl AS (SELECT doc_id,
        |    unnest(list_distinct(list_transform(range(0, greatest(len(toks) - 7, 0)),
        |      i -> array_to_string(toks[CAST(i + 1 AS INT):CAST(i + 8 AS INT)], ' ')))) AS g
        |  FROM tk),
        |ng AS (SELECT doc_id, md5(g) AS k FROM ngl),
        |bench AS (SELECT DISTINCT k FROM ng WHERE doc_id % 97 = 0),
        |corp AS (
        |  SELECT doc_id, k FROM ng WHERE doc_id % 97 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, k FROM ng WHERE doc_id % 97 = 0)
        |SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
        |       CAST(count(b.k) AS BIGINT) AS n_hits,
        |       count(b.k) > 0 AS contaminated
        |FROM corp c LEFT JOIN bench b ON c.k = b.k
        |GROUP BY c.doc_id""".stripMargin)),

    // Fuzzy decontamination: planted bench copies are PERTURBED (a
    // prepended token), so exact n-gram probes weaken but MinHash
    // signatures still collide — LSH candidates against the bench side
    // only, then exact shingle-Jaccard ≥ 0.5 verification.
    Case("decon_fuzzy", { (s, dir) =>
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 97 === 0)
      val corpus = docs.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"), col("text"))
        .unionAll(bench.select((col("doc_id") + 1000000L).as("doc_id"),
          concat(lit("zq "), col("text")).as("text")))
      Training.decontaminateFuzzy(corpus, bench, "doc_id", "text")
    },
      // The shared md5 LSH chain over the sign-combined frame (bench as
      // negative ids), cross pairs only, exact string-set Jaccard verify.
      Some(s"""WITH bench0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0),
         |comb AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0
         |         UNION ALL SELECT doc_id + 1000000, 'zq ' || text FROM bench0
         |         UNION ALL SELECT -doc_id - 1, text FROM bench0),
         |${md5LshCandCtes("comb")},
         |cx AS (SELECT right_id AS doc_id, left_id AS bench_id FROM cand
         |       WHERE left_id < 0 AND right_id >= 0),
         |sets AS (SELECT doc_id, list_distinct(list_transform(
         |           range(0, greatest(len(toks) - 2, 0)),
         |           i -> array_to_string(toks[CAST(i + 1 AS INT):CAST(i + 3 AS INT)], ' '))) AS sh
         |         FROM tk),
         |ver AS (SELECT c.doc_id,
         |          CAST(len(list_intersect(d.sh, b.sh)) AS DOUBLE) /
         |          len(list_distinct(list_concat(d.sh, b.sh))) AS j
         |        FROM cx c JOIN sets d ON d.doc_id = c.doc_id
         |        JOIN sets b ON b.doc_id = c.bench_id),
         |agg AS (SELECT doc_id, count(*) AS n_candidates,
         |         CAST(sum(CASE WHEN j >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
         |        FROM ver GROUP BY doc_id)
         |SELECT c0.doc_id,
         |       coalesce(a.n_candidates, 0) AS n_candidates,
         |       coalesce(a.n_hits, 0) AS n_hits,
         |       coalesce(a.n_hits, 0) > 0 AS contaminated
         |FROM (SELECT doc_id FROM comb WHERE doc_id >= 0) c0
         |LEFT JOIN agg a USING (doc_id)""".stripMargin)),

    // Bloom-prefiltered twin of decon_ngram, same planted fixture: the
    // bench key set rides a fixed-memory bloom instead of a broadcast
    // (the 100 TB eval-suite path); exact verify removes false
    // positives, so the gate is the SAME oracle — the prefilter must be
    // invisible in the rows.
    Case("decon_bloom", { (s, dir) =>
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 97 === 0)
      val corpus = docs.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"), col("text"))
        .unionAll(bench.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Training.decontaminateBloom(corpus, bench, "doc_id", "text", n = 8)
        .select(col("doc_id"), col("n_ngrams"), col("n_hits"), col("contaminated"))
    },
      // The bloom prefilter must be invisible: same exact oracle as
      // decon_ngram (no false negatives; exact verify removes the fpp).
      Some("""WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |ngl AS (SELECT doc_id,
        |    unnest(list_distinct(list_transform(range(0, greatest(len(toks) - 7, 0)),
        |      i -> array_to_string(toks[CAST(i + 1 AS INT):CAST(i + 8 AS INT)], ' ')))) AS g
        |  FROM tk),
        |ng AS (SELECT doc_id, md5(g) AS k FROM ngl),
        |bench AS (SELECT DISTINCT k FROM ng WHERE doc_id % 97 = 0),
        |corp AS (
        |  SELECT doc_id, k FROM ng WHERE doc_id % 97 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, k FROM ng WHERE doc_id % 97 = 0)
        |SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
        |       CAST(count(b.k) AS BIGINT) AS n_hits,
        |       count(b.k) > 0 AS contaminated
        |FROM corp c LEFT JOIN bench b ON c.k = b.k
        |GROUP BY c.doc_id""".stripMargin)),

    // Embedding-space decontamination: vectors 0-15 stand in for the
    // benchmark set; every other vector is corpus. Broadcast bench +
    // BroadcastNestedLoopJoin — the corpus side never shuffles.
    Case("decon_embed", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Training.deconEmbed(e.filter(col("vec_id") >= 16),
        e.filter(col("vec_id") < 16), "vec_id", "embedding", tau = 0.2)
    },
      // Same raw-vector cosine replay as ann_range_search, aggregated to
      // per-corpus-vector (count, max) over hits against the bench block.
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT v AS bv FROM e WHERE vec_id < 16),
        |c AS (SELECT vec_id, v FROM e WHERE vec_id >= 16),
        |p AS (SELECT c.vec_id,
        |        list_reduce(list_transform(range(0, len(bv)), i -> c.v[i+1] * bv[i+1]), (x,y) -> x + y) /
        |        (sqrt(list_reduce(list_transform(range(0, len(bv)), i -> c.v[i+1] * c.v[i+1]), (x,y) -> x + y)) *
        |         sqrt(list_reduce(list_transform(range(0, len(bv)), i -> bv[i+1] * bv[i+1]), (x,y) -> x + y))) AS sim
        |      FROM c, q)
        |SELECT vec_id, count(*) AS n_hits, round(max(sim), 6) AS max_sim
        |FROM p WHERE sim >= 0.2 GROUP BY vec_id""".stripMargin)),
  )
}
