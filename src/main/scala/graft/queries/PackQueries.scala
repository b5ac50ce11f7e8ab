package graft
package queries

import graft.ops._
import org.apache.spark.sql.functions._
import Fixtures._

/** Training-data preparation: chunking, sequence packing and masking. */
object PackQueries {
  val cases: Seq[Case] = Seq(
    // Packing-efficiency report over the pack_sequences layout: per
    // sequence, how many docs START in it and how many of their tokens
    // it anchors — the utilization metric every packing pipeline
    // publishes (and the waste signal that motivates best-fit variants).
    Case("pack_efficiency", (s, dir) =>
      Training.packSequences(t(s, dir, "documents"), "doc_id", "text",
          capacity = 512)
        .groupBy(col("seq_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("assigned_tokens"),
          (sum(col("n_tokens")) / lit(512.0)).as("utilization")),
      Some("""WITH n AS (SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |    CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_before
        |  FROM n)
        |SELECT tok_before // 512 AS seq_id, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS assigned_tokens,
        |       CAST(sum(n_tokens) AS BIGINT) / 512.0 AS utilization
        |FROM c GROUP BY 1""".stripMargin)),

    // Deterministic 15% MLM masking over (doc_id, position) md5 draws;
    // md5 of the rebuilt sequence pins every mask position and survivor.
    Case("pack_mlm_mask", (s, dir) =>
      Training.mlmMask(t(s, dir, "documents"), "doc_id", "text", pct = 15),
      // The identical (doc_id, position) md5 draw, mask rebuild ordered by
      // position, counts exact.
      Some("""WITH w AS (SELECT doc_id,
        |        string_split_regex(trim(text), '\s+') AS ws FROM documents),
        |p AS (SELECT doc_id, ws, unnest(range(0, len(ws))) AS i FROM w),
        |m AS (SELECT doc_id, i,
        |        CASE WHEN CAST('0x' || substr(md5(doc_id || ':' || i), 1, 15)
        |               AS BIGINT) % 100 < 15 THEN 1 ELSE 0 END AS f,
        |        ws[i + 1] AS tok FROM p)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(sum(f) AS BIGINT) AS n_masked,
        |       md5(string_agg(CASE WHEN f = 1 THEN '[MASK]' ELSE tok END,
        |         ' ' ORDER BY i)) AS masked_md5
        |FROM m GROUP BY doc_id""".stripMargin)),

    Case("pack_chunks", (s, dir) =>
      Training.chunkDocuments(t(s, dir, "documents"), "doc_id", "text", chunkTokens = 32)
        .select(col("doc_id"), col("chunk_id"), col("n_chunk_tokens"),
          md5(col("chunk_text")).as("chunk_md5")),
      Some("""WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |c AS (SELECT doc_id, toks, unnest(range(0, (len(toks) + 31) // 32)) AS i FROM tk)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
        |       CAST(least(32, len(toks) - i * 32) AS BIGINT) AS n_chunk_tokens,
        |       md5(array_to_string(toks[CAST(i * 32 + 1 AS INT):CAST(i * 32 + 32 AS INT)], ' ')) AS chunk_md5
        |FROM c""".stripMargin)),

    Case("pack_sequences", (s, dir) =>
      Training.packSequences(t(s, dir, "documents"), "doc_id", "text",
        capacity = 512, bucketSize = 64),
      // The oracle computes the SAME running token count with one direct
      // ordered window — fine over sf0.01, the exact single-task shape the
      // engine's two-level prefix sum avoids at scale.
      Some("""WITH n AS (SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |    CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_before
        |  FROM n)
        |SELECT doc_id, n_tokens, tok_before // 512 AS seq_id, tok_before % 512 AS seq_offset
        |FROM c""".stripMargin)),

    // Document-boundary mask for packed sequences: each training
    // sequence's doc start offsets — the attention doc-mask /
    // position-id reset points a packed-batch trainer consumes (without
    // them, attention bleeds across concatenated documents). Offsets
    // within a sequence are strictly increasing (every doc holds ≥ 1
    // token), and the list leaves as a joined CSV string (ARRAY never
    // crosses the gate — the boundary rule). groupBy(seq_id) state is
    // bounded by capacity+1 docs per sequence at any corpus size.
    Case("pack_boundaries", (s, dir) =>
      Training.packSequences(t(s, dir, "documents"), "doc_id", "text",
          capacity = 512, bucketSize = 64)
        .groupBy(col("seq_id"))
        .agg(count(lit(1)).as("n_docs"),
          array_join(transform(array_sort(collect_list(
            struct(col("seq_offset"), col("doc_id")))),
            x => x("seq_offset").cast("string")), ",").as("boundaries")),
      Some("""WITH n AS (SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |    CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_before
        |  FROM n)
        |SELECT tok_before // 512 AS seq_id, CAST(count(*) AS BIGINT) AS n_docs,
        |       string_agg(CAST(tok_before % 512 AS VARCHAR), ','
        |         ORDER BY tok_before % 512) AS boundaries
        |FROM c GROUP BY 1""".stripMargin)),

    // Seeded epoch permutation: position is a pure function of
    // (seed, doc_id), reproduced row-for-row by the oracle's row_number
    // over the same md5 key.
    Case("pack_shuffle", (s, dir) =>
      Training.epochShuffle(t(s, dir, "documents"), "doc_id", seed = 42L)
        .select(col("doc_id"), col("shuffle_pos")),
      Some("""SELECT doc_id,
        |       CAST(row_number() OVER (ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)), doc_id)
        |            - 1 AS BIGINT) AS shuffle_pos
        |FROM documents""".stripMargin)),

    // End-to-end packing materialization: the concatenated sequence text
    // itself is md5-pinned, so assignment AND ordering are both gated.
    Case("pack_build", (s, dir) =>
      Training.buildSequences(t(s, dir, "documents"), "doc_id", "text",
        capacity = 512, bucketSize = 64)
        .select(col("seq_id"), col("n_docs"), col("n_tokens"),
          md5(col("seq_text")).as("seq_md5")),
      Some("""WITH n AS (SELECT doc_id, text,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, text, n_tokens,
        |    CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_before
        |  FROM n)
        |SELECT tok_before // 512 AS seq_id, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |       md5(string_agg(text, ' ' ORDER BY doc_id)) AS seq_md5
        |FROM c GROUP BY tok_before // 512""".stripMargin)),

    // Length-bucketed shelf packing: same-length docs share a sequence
    // (⌊cap/L⌋ each), so no doc straddles a boundary and waste is
    // capacity mod L per shelf — every assignment integer-gated.
    Case("pack_shelves", (s, dir) =>
      Training.packShelves(t(s, dir, "documents"), "doc_id", "text",
        capacity = 512, bucketSize = 64L),
      // Direct per-L rank / ceil-div replay of the shelf assignment — the
      // oracle's row_number over each length class is the single-task
      // shape the engine's two-level rank avoids at scale.
      Some("""WITH tk AS (SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS L
        |  FROM documents),
        |r AS (SELECT doc_id, L,
        |    row_number() OVER (PARTITION BY L ORDER BY doc_id) - 1 AS k
        |  FROM tk),
        |cls AS (SELECT L, greatest(1, 512 // L) AS per, count(*) AS nL
        |  FROM tk GROUP BY L),
        |b AS (SELECT L, per,
        |    CAST(COALESCE(sum((nL + per - 1) // per) OVER (ORDER BY L
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS base
        |  FROM cls)
        |SELECT r.doc_id, r.L AS n_tokens,
        |       CAST(b.base + k // per AS BIGINT) AS seq_id,
        |       CAST((k % per) * r.L AS BIGINT) AS seq_offset
        |FROM r JOIN b USING (L)""".stripMargin)),
  )
}
