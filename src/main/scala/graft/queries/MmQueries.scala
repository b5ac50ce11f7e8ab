package graft
package queries

import graft.ops._
import graft.sources.Sources
import org.apache.spark.sql.functions._
import Fixtures._

/** Multimodal columns: binary media, decoding and sharding. */
object MmQueries {
  private def hexOf(s: String): String =
    s.getBytes("UTF-8").map(b => f"$b%02X").mkString

  /** Byte-exact hex-space replay of [[graft.ops.Multimodal.tarShards]]:
    * ustar headers (constant fields precomputed as hex literals, octal
    * size/name per member), the POSIX checksum folded over the header's
    * 512 hex pairs, NUL padding, ordered member concatenation per shard,
    * and the 1024-byte end-of-archive marker. */
  private val mmTarShardsOracleSql: String = {
    val nul = "\u0000"
    val midHex = hexOf("0000644" + nul + "0000000" + nul + "0000000" + nul)
    val mtimeHex = hexOf("00000000000" + nul)
    val spacesHex = hexOf("        ")
    val magicHex = hexOf("0" + (nul * 100) + "ustar" + nul + "00")
    val tailZeros = 32 + 32 + 8 + 8 + 155 + 12
    s"""WITH d AS (SELECT doc_id AS media_id,
       |        upper(md5(text)) || hex(text) AS phex,
       |        16 + octet_length(text::BLOB) AS n_bytes
       |      FROM documents),
       |h AS (SELECT media_id, phex, n_bytes,
       |        hex(lpad(CAST(media_id AS VARCHAR), 12, '0') || '.bin')
       |          || repeat('00', 84) AS name_hex,
       |        hex(lpad(to_base(n_bytes, 8), 11, '0')) || '00' AS size_hex,
       |        512 + ((n_bytes + 511) // 512) * 512 AS padded,
       |        ((n_bytes + 511) // 512) * 512 - n_bytes AS pad
       |      FROM d),
       |hh AS (SELECT media_id, phex, n_bytes, padded, pad,
       |        name_hex || '$midHex' || size_hex || '$mtimeHex'
       |          || '$spacesHex' || '$magicHex'
       |          || repeat('00', $tailZeros) AS hsp,
       |        name_hex, size_hex
       |       FROM h),
       |ck AS (SELECT *, list_sum(list_transform(range(0, 512),
       |          i -> CAST('0x' || substr(hsp, CAST(i * 2 + 1 AS INT), 2)
       |                 AS INT))) AS chk
       |       FROM hh),
       |mem AS (SELECT media_id, padded,
       |         name_hex || '$midHex' || size_hex || '$mtimeHex'
       |           || hex(lpad(to_base(CAST(chk AS BIGINT), 8), 6, '0')) || '0020'
       |           || '$magicHex' || repeat('00', $tailZeros)
       |           || phex || repeat('00', CAST(pad AS INT)) AS mhex
       |        FROM ck),
       |asg AS (SELECT media_id, mhex,
       |         coalesce(sum(padded) OVER (ORDER BY media_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |           // 65536 AS shard_id
       |        FROM mem),
       |sh AS (SELECT shard_id,
       |         CAST(count(*) AS BIGINT) AS n_members,
       |         string_agg(mhex, '' ORDER BY media_id)
       |           || repeat('00', 1024) AS thex
       |       FROM asg GROUP BY shard_id)
       |SELECT CAST(shard_id AS BIGINT) AS shard_id, n_members,
       |       CAST(length(thex) // 2 AS BIGINT) AS tar_len,
       |       md5(thex) AS tar_hex_md5
       |FROM sh""".stripMargin
  }

  /** pHash oracle: the identical stride-sampled grid, the identical DCT
    * as Σ pixel · literal (the SAME doubles Multimodal.phashDctWeights
    * computed, as exact decimal expansions — no libm on either engine),
    * the 8th-smallest threshold via list_sort, integer hash assembly,
    * and the grouping replayed. */
  /** The pHash CTE chain (m → g → f → h → ph) shared by the exact and
    * near-grouping oracles — ph = (media_id, dc, phash). */
  private def phashCte(): String = {
    val w = graft.ops.Multimodal.phashDctWeights()
    def lit(d: Double) = new java.math.BigDecimal(d).toPlainString
    val px = (0 until 64).map(i =>
      s"CAST(ord(substr(text, 1 + ($i * n) // 64, 1)) AS BIGINT) AS p$i")
      .mkString(",\n         ")
    val fs = (0 until 16).map { k =>
      (0 until 64).map(i => s"p$i * ${lit(w(k)(i))}").mkString(" + ") +
        s" AS f$k"
    }.mkString(",\n         ")
    val sorted = (1 until 16).map(k => s"round(f$k, 6)").mkString("[", ", ", "]")
    val bits = (1 until 16).map(k =>
      s"CASE WHEN round(f$k, 6) > med THEN ${1L << (k - 1)} ELSE 0 END")
      .mkString(" + ")
    s"""m AS (SELECT doc_id AS media_id, text, strlen(text) AS n
       |           FROM documents
       |           WHERE strlen(text) = length(text)
       |             AND strlen(text) > 0),
       |g AS (SELECT media_id,
       |         $px
       |      FROM m),
       |f AS (SELECT media_id,
       |         $fs
       |      FROM g),
       |h AS (SELECT *, list_sort($sorted)[8] AS med FROM f),
       |ph AS (SELECT media_id, f0 AS dc,
       |         CAST($bits AS BIGINT) AS phash FROM h)""".stripMargin
  }

  private def phashOracleSql(): String =
    s"""WITH ${phashCte()},
       |gr AS (SELECT phash, CAST(count(*) AS BIGINT) AS n_same,
       |         min(media_id) AS keeper_id FROM ph GROUP BY phash)
       |SELECT ph.media_id, ph.phash, ph.dc, gr.n_same, gr.keeper_id
       |FROM ph JOIN gr USING (phash)""".stripMargin

  /** Hamming-≤d oracle: ALL-PAIRS bit_count(xor) over the distinct
    * hashes (fixture-scale brute force — independent of the engine's
    * pigeonhole banding), components by recursive min-label closure. */
  private def phashNearOracleSql(d: Int): String =
    s"""WITH RECURSIVE ${phashCte()},
       |hs AS (SELECT DISTINCT phash FROM ph),
       |e AS (SELECT a.phash AS src, b.phash AS dst
       |      FROM hs a JOIN hs b ON a.phash <> b.phash
       |        AND bit_count(xor(a.phash, b.phash)) <= $d),
       |reach AS (
       |  SELECT phash AS node, phash AS r FROM hs
       |  UNION
       |  SELECT e.src AS node, p.r AS r FROM e JOIN reach p ON e.dst = p.node),
       |lbl AS (SELECT node, min(r) AS lbl FROM reach GROUP BY node),
       |wg AS (SELECT ph.media_id, ph.phash, l.lbl AS group_id
       |       FROM ph JOIN lbl l ON ph.phash = l.node),
       |gr AS (SELECT group_id, CAST(count(*) AS BIGINT) AS n_group,
       |         min(media_id) AS keeper_id FROM wg GROUP BY group_id)
       |SELECT wg.media_id, wg.phash, wg.group_id, gr.n_group, gr.keeper_id
       |FROM wg JOIN gr USING (group_id)""".stripMargin

  val cases: Seq[Case] = Seq(
    Case("mm_meta", (s, dir) =>
      Multimodal.mediaMeta(Multimodal.asMedia(t(s, dir, "documents"), "doc_id", "text"))
        .select(col("media_id"), col("mime"), col("n_bytes"), col("content_md5")),
      Some("""SELECT doc_id AS media_id, 'application/octet-stream' AS mime,
        |       CAST(strlen(text) AS BIGINT) AS n_bytes, md5(text) AS content_md5
        |FROM documents""".stripMargin)),

    // Perceptual-hash duplicate grouping: stride-sampled 8×8 grid (the
    // decode stub), REAL 4×4 low-frequency DCT-II with literal weights,
    // 8th-smallest threshold, 15-bit hash, keyed group-back. ASCII
    // payloads only (byte positions must equal char positions).
    Case("mm_phash", (s, dir) =>
      Multimodal.phashGroups(Multimodal.asMedia(
        t(s, dir, "documents").filter(
          octet_length(col("text")) === length(col("text")) &&
            octet_length(col("text")) > 0),
        "doc_id", "text")),
      // pHash replayed: identical grid, identical literal-weight DCT,
      // identical threshold and hash assembly (generator above).
      Some(phashOracleSql())),

    // pHash NEAR-duplicate grouping (Hamming ≤ 2): pigeonhole banding
    // over the DISTINCT-hash frame (≤ 2^15 rows at any corpus size),
    // bit_count(xor) verify, components via the gated log-round CC —
    // the tolerance perceptual hashing exists for (mm_phash's exact
    // grouping is defeated by a one-bit wobble). Oracle: all-pairs
    // Hamming + recursive min-label closure, independent machinery.
    Case("mm_phash_near", (s, dir) =>
      Multimodal.phashNearGroups(Multimodal.asMedia(
        t(s, dir, "documents").filter(
          octet_length(col("text")) === length(col("text")) &&
            octet_length(col("text")) > 0),
        "doc_id", "text"), hammingD = 2),
      Some(phashNearOracleSql(d = 2))),

    // Constellation/landmark audio fingerprint matching (Wang '03):
    // stub spectrogram -> integer band-energy peaks (two window passes)
    // -> landmark hashes (bounded dt explode + keyed equi-join) ->
    // stop-hash guard -> consistent-offset vote. All integer — exact
    // hash gate; finds the offset copies of the same "recording".
    Case("mm_audio_fingerprint", (s, dir) =>
      Multimodal.audioFingerprint(Multimodal.asMedia(
        t(s, dir, "documents").filter(
          octet_length(col("text")) === length(col("text")) &&
            octet_length(col("text")) > 0),
        "doc_id", "text")),
      // Constellation fingerprint replayed: the identical stub band
      // energies (exact integer sums of every 8th byte), the same strict
      // 4-neighborhood peak rule, the same landmark packing, stop-hash
      // guard, and consistent-offset vote. Positions are 1-based chars ==
      // bytes under the shared ASCII scoping.
      Some {
      val terms = (0 until 8)
        .map(j => s"ord(substr(text, CAST(t*32 + b + ${1 + 8 * j} AS INT), 1))")
        .mkString(" +\n         ")
      s"""WITH m AS (SELECT doc_id AS media_id, text,
         |             CAST(strlen(text) AS BIGINT) AS n
         |           FROM documents
         |           WHERE strlen(text) = length(text)
         |             AND strlen(text) >= 64),
         |fr AS (SELECT media_id, text,
         |         unnest(range(0, (n - 64) // 32 + 1)) AS t
         |       FROM m),
         |cb AS (SELECT media_id, text, t, unnest(range(0, 8)) AS b FROM fr),
         |cells AS (SELECT media_id, t, b,
         |    CAST($terms AS BIGINT) AS e
         |  FROM cb),
         |pk AS (SELECT media_id, t, b, e,
         |    lag(e) OVER wb AS tp, lead(e) OVER wb AS tn,
         |    lag(e) OVER wt AS bp, lead(e) OVER wt AS bn
         |  FROM cells
         |  WINDOW wb AS (PARTITION BY media_id, b ORDER BY t),
         |         wt AS (PARTITION BY media_id, t ORDER BY b)),
         |peaks AS (SELECT media_id, t, b, e FROM pk
         |  WHERE e > coalesce(tp, -1) AND e > coalesce(tn, -1)
         |    AND e > coalesce(bp, -1) AND e > coalesce(bn, -1)),
         |lm AS (SELECT a.media_id, a.t AS t1,
         |    ((((a.b * 8 + c.b) * 8 + (c.t - a.t)) * 8 + a.e % 8) * 8
         |      + c.e % 8) AS lhash
         |  FROM peaks a JOIN peaks c ON c.media_id = a.media_id
         |    AND c.t - a.t BETWEEN 1 AND 5),
         |hot AS (SELECT lhash FROM (
         |    SELECT lhash, count(DISTINCT media_id) AS nm
         |    FROM lm GROUP BY 1) WHERE nm > 64),
         |flm AS (SELECT lhash, media_id, t1 FROM lm
         |        ANTI JOIN hot USING (lhash))
         |SELECT x.media_id AS media_a, y.media_id AS media_b,
         |       x.t1 - y.t1 AS t_offset, count(*) AS hits
         |FROM flm x JOIN flm y ON x.lhash = y.lhash
         |                     AND x.media_id < y.media_id
         |GROUP BY 1, 2, 3
         |HAVING count(*) >= 3""".stripMargin
    }),

    // WebDataset-style shard layout (4 KiB shards over the fake media
    // payloads): every object's (shard, offset) via the two-level
    // distributed prefix sum — no corpus-wide single-task window.
    Case("mm_shards", (s, dir) =>
      Multimodal.shardManifest(
        Multimodal.asMedia(t(s, dir, "documents"), "doc_id", "text"),
        shardBytes = 4096L),
      // The same layout replayed with ONE global ordered window (the oracle
      // can afford the single-task shape the engine avoids).
      Some("""WITH m AS (SELECT doc_id AS media_id, CAST(strlen(text) AS BIGINT) AS n_bytes
        |           FROM documents),
        |p AS (SELECT media_id, n_bytes,
        |        coalesce(sum(n_bytes) OVER (ORDER BY media_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
        |      FROM m)
        |SELECT media_id, n_bytes, CAST(bef // 4096 AS BIGINT) AS shard_id,
        |       CAST(bef % 4096 AS BIGINT) AS shard_offset
        |FROM p""".stripMargin)),

    // Scoped to ASCII payloads on BOTH sides: the engine slices the binary
    // payload by bytes while DuckDB's substr() is character-based — they
    // agree exactly when bytes == chars, so the query and the oracle each
    // filter to octet_length == char_length instead of silently assuming it.
    Case("mm_frames", (s, dir) =>
      Multimodal.frameSample(
        Multimodal.asMedia(
          t(s, dir, "documents").filter(octet_length(col("text")) === length(col("text"))),
          "doc_id", "text"), chunkBytes = 64)
        .select(col("media_id"), col("frame_id").cast("long").as("frame_id"),
          col("frame_len"), md5(col("frame_bytes")).as("frame_md5")),
      Some("""WITH f AS (SELECT doc_id, text,
        |    unnest(range(0, CAST(ceil(strlen(text) / 64.0) AS BIGINT))) AS i
        |  FROM documents WHERE strlen(text) = length(text))
        |SELECT doc_id AS media_id, CAST(i AS BIGINT) AS frame_id,
        |       CAST(strlen(substr(text, CAST(i * 64 + 1 AS INT), 64)) AS BIGINT) AS frame_len,
        |       md5(substr(text, CAST(i * 64 + 1 AS INT), 64)) AS frame_md5
        |FROM f""".stripMargin)),

    // TRUE-binary frame sampling — no ASCII scoping: the payload is
    // unhex(md5(text)) ++ UTF-8(text), so every document carries 16
    // leading bytes spanning 0x00–0xFF that are NOT valid UTF-8 — the
    // engine's byte-based substring over BinaryType is what's under
    // test (a char-based slice would shear on the first multi-byte
    // run). DuckDB 1.0 has no BLOB substring/md5, so the gate compares
    // md5 of the frame's HEX rendering: 1 byte ⇔ 2 hex chars exactly,
    // making the oracle's octet slicing expressible as substr over the
    // hex string (Spark hex() and DuckDB hex() are both uppercase).
    Case("mm_frames_binary", (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          concat(unhex(md5(col("text"))), encode(col("text"), "UTF-8"))
            .as("payload"))
      Multimodal.frameSample(
        Multimodal.asMedia(docs, "doc_id", "payload"), chunkBytes = 16)
        .select(col("media_id"), col("frame_id").cast("long").as("frame_id"),
          col("frame_len"), md5(hex(col("frame_bytes"))).as("frame_hex_md5"))
    },
      // Octet slicing over the hex rendering: 1 payload byte ⇔ 2 hex
      // chars, so substr(hx, 32i+1, 32) IS the i-th 16-byte frame.
      Some("""WITH h AS (SELECT doc_id AS media_id,
        |        upper(md5(text)) || hex(text::BLOB) AS hx,
        |        16 + octet_length(text::BLOB) AS nb
        |      FROM documents),
        |f AS (SELECT media_id, hx, nb,
        |        unnest(range(0, (nb + 15) // 16)) AS i
        |      FROM h)
        |SELECT media_id, CAST(i AS BIGINT) AS frame_id,
        |       CAST(least(16, nb - i * 16) AS BIGINT) AS frame_len,
        |       md5(substr(hx, CAST(i * 32 + 1 AS BIGINT), 32)) AS frame_hex_md5
        |FROM f""".stripMargin)),

    // REAL ustar-format WebDataset shards, assembled fully in-plan from
    // non-UTF-8 binary payloads (the mm_frames_binary convention) and
    // gated on the md5 of each archive's hex rendering — the oracle
    // rebuilds the byte-exact archives (headers, octal sizes, POSIX
    // checksums, padding, end blocks) in hex space. `tar tf` lists the
    // emitted shards; the spec round-trips members back out by offset
    // slicing.
    Case("mm_tar_shards", (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          concat(unhex(md5(col("text"))), encode(col("text"), "UTF-8"))
            .as("payload"))
      Multimodal.tarShards(
        Multimodal.asMedia(docs, "doc_id", "payload"), shardBytes = 65536L)
    },
      Some(mmTarShardsOracleSql)),

    // Byte-delta scene cuts over a planted frame stream (two 16-byte
    // scenes, three frames each): ≥4 differing bytes vs the previous
    // frame opens a new scene. Per-media windows only; the hex-level
    // comparison replays verbatim in the oracle.
    Case("mm_scene_detect", (s, dir) => {
      // Frames slice the ENCODED bytes (substring over BinaryType is
      // byte-based), matching the oracle's octet slicing of
      // hex(text::BLOB) — a multi-byte character in the first 32 chars
      // no longer shears the frame boundary (the char-based slice would;
      // the adjacent mm_frames_binary query exists to pin exactly this
      // byte-vs-char distinction). The length() >= 32 filter is shared
      // verbatim with the oracle, so membership matches even where
      // chars ≠ bytes.
      val d = t(s, dir, "documents").filter(length(col("text")) >= 32)
      val bin = encode(col("text"), "UTF-8")
      val a = substring(bin, 1, 16)
      val b = substring(bin, 17, 16)
      Multimodal.sceneDetect(
        Multimodal.asMedia(
          d.select(col("doc_id"), concat(a, a, a, b, b, b).as("payload")),
          "doc_id", "payload"),
        chunkBytes = 16, minDiffBytes = 4)
    },
      // Frames from the same planted hex stream; the cut rule compares
      // 16 hex byte-pairs, scene_id is a per-media running sum.
      Some("""WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 32),
        |h AS (SELECT doc_id AS media_id,
        |        repeat(substr(hex(text::BLOB), 1, 32), 3) ||
        |        repeat(substr(hex(text::BLOB), 33, 32), 3) AS hx
        |      FROM d),
        |f AS (SELECT media_id, i AS frame_id,
        |        substr(hx, CAST(i * 32 + 1 AS BIGINT), 32) AS fh
        |      FROM h, unnest(range(0, 6)) AS u(i)),
        |l AS (SELECT media_id, frame_id, fh,
        |        lag(fh) OVER (PARTITION BY media_id ORDER BY frame_id) AS fp
        |      FROM f),
        |c AS (SELECT media_id, frame_id, fh,
        |        CASE WHEN fp IS NULL THEN 1
        |             WHEN len(list_filter(range(0, 16),
        |               i -> substr(fh, CAST(i*2+1 AS INT), 2) <>
        |                    substr(fp, CAST(i*2+1 AS INT), 2))) >= 4 THEN 1
        |             ELSE 0 END AS chg
        |      FROM l),
        |s AS (SELECT media_id, frame_id, fh,
        |        sum(chg) OVER (PARTITION BY media_id ORDER BY frame_id
        |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS scene_id
        |      FROM c)
        |SELECT media_id, CAST(scene_id AS BIGINT) AS scene_id,
        |       CAST(count(*) AS BIGINT) AS n_frames,
        |       CAST(min(frame_id) AS BIGINT) AS first_frame,
        |       md5(arg_min(fh, frame_id)) AS rep_md5
        |FROM s GROUP BY media_id, scene_id""".stripMargin)),

    // Overlapping windows (audio framing: window 48, hop 16) — the
    // window > hop shape frameSample's tumbling chunks can't express.
    Case("mm_audio_windows", (s, dir) =>
      Multimodal.windowSample(
        Multimodal.asMedia(
          t(s, dir, "documents").filter(octet_length(col("text")) === length(col("text"))),
          "doc_id", "text"), windowBytes = 48, hopBytes = 16)
        .select(col("media_id"), col("win_id").cast("long").as("win_id"),
          col("win_len"), md5(col("win_bytes")).as("win_md5")),
      Some("""WITH f AS (SELECT doc_id, text,
        |    unnest(range(0, CAST(ceil(strlen(text) / 16.0) AS BIGINT))) AS i
        |  FROM documents WHERE strlen(text) = length(text))
        |SELECT doc_id AS media_id, CAST(i AS BIGINT) AS win_id,
        |       CAST(strlen(substr(text, CAST(i * 16 + 1 AS INT), 48)) AS BIGINT) AS win_len,
        |       md5(substr(text, CAST(i * 16 + 1 AS INT), 48)) AS win_md5
        |FROM f""".stripMargin)),

    // ViT-style 2D patch grid (width 32, patch 4 ⇒ 8 tiles per 128-byte
    // patch-row): every tile md5-pinned with its grid position.
    Case("mm_patches", (s, dir) =>
      Multimodal.patchSample(
        Multimodal.asMedia(
          t(s, dir, "documents").filter(octet_length(col("text")) === length(col("text"))),
          "doc_id", "text"), width = 32, patch = 4)
        .select(col("media_id"), col("patch_row"), col("patch_col"),
          md5(col("patch_bytes")).as("patch_md5")),
      // width 32, patch 4: tile (pr, pc) = 4 substrings of 4 chars at
      // pr*128 + r*32 + pc*4 (ASCII-scoped, as every mm_* oracle).
      Some("""WITH d AS (SELECT doc_id, text, strlen(text) AS n FROM documents
        |           WHERE strlen(text) = length(text)),
        |p AS (SELECT doc_id, text, unnest(range(0, (n // 128) * 8)) AS pi FROM d),
        |q AS (SELECT doc_id, text, pi // 8 AS pr, pi % 8 AS pc FROM p)
        |SELECT doc_id AS media_id, CAST(pr AS BIGINT) AS patch_row,
        |       CAST(pc AS BIGINT) AS patch_col,
        |       md5(substr(text, CAST(pr*128 + pc*4 + 1 AS INT), 4)
        |        || substr(text, CAST(pr*128 + 32 + pc*4 + 1 AS INT), 4)
        |        || substr(text, CAST(pr*128 + 64 + pc*4 + 1 AS INT), 4)
        |        || substr(text, CAST(pr*128 + 96 + pc*4 + 1 AS INT), 4)) AS patch_md5
        |FROM q""".stripMargin)),

    // Resize stub (every 4th byte), hash-gated: for ASCII payloads the
    // byte stride equals a character stride, so DuckDB rebuilds the
    // identical downsampled payload and its md5.
    Case("mm_resize", (s, dir) =>
      Multimodal.resizeStub(s,
        Multimodal.asMedia(
          t(s, dir, "documents").filter(
            octet_length(col("text")) === length(col("text")) &&
              octet_length(col("text")) > 0),
          "doc_id", "text"), stride = 4).toDF()
        .select(col("media_id"), col("n_bytes_out"),
          md5(col("resized")).as("resized_md5")),
      Some("""WITH r AS (
        |  SELECT doc_id,
        |         array_to_string(list_transform(
        |           range(0, CAST(ceil(strlen(text) / 4.0) AS BIGINT)),
        |           i -> substr(text, CAST(i * 4 + 1 AS INT), 1)), '') AS resized
        |  FROM documents
        |  WHERE strlen(text) = length(text) AND strlen(text) > 0)
        |SELECT doc_id AS media_id, CAST(strlen(resized) AS BIGINT) AS n_bytes_out,
        |       md5(resized) AS resized_md5
        |FROM r""".stripMargin)),

    // mapPartitions decode stub, now fully hash-gated: the stub's float
    // feature f_i = (byte_i + i)/255f round-trips exactly back to the
    // source byte via round(f*255) - i (the float rounding error is
    // ~1e-5, far under the 0.5 round threshold), so the oracle recomputes
    // width/height/frames from byte length and the feature bytes from the
    // text itself. Scoped to non-empty ASCII payloads on both sides
    // (DuckDB's substr/ascii are char-based). Every column is a sortable
    // scalar (driver-checker requirement).
    Case("mm_decode_features", (s, dir) =>
      Multimodal.decodeStub(s,
        Multimodal.asMedia(
          t(s, dir, "documents").filter(
            octet_length(col("text")) === length(col("text")) &&
              octet_length(col("text")) > 0),
          "doc_id", "text")).toDF()
        .select(col("media_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_frames").cast("long").as("n_frames"),
          array_join(transform(col("feature"),
            (f, i) => (round(f.cast("double") * 255) - i).cast("long").cast("string")), ",")
            .as("feature_bytes")),
      Some("""SELECT doc_id AS media_id,
        |       CAST(16 + strlen(text) % 64 AS BIGINT) AS width,
        |       CAST(16 + (strlen(text) // 64) % 64 AS BIGINT) AS height,
        |       CAST(1 + strlen(text) % 4 AS BIGINT) AS n_frames,
        |       array_to_string(list_transform(range(0, 8),
        |         i -> ascii(substr(text, CAST(i % strlen(text) AS INT) + 1, 1))), ',') AS feature_bytes
        |FROM documents
        |WHERE strlen(text) = length(text) AND strlen(text) > 0""".stripMargin)),

    // REAL PNG decode through the full multimodal path (VERDICT r14 #5):
    // deterministic grayscale gradients (pixel i = (31·doc_id + i) mod
    // 256) are encoded to real PNGs by the JDK codec, written as binary
    // files, read back through the binaryFile source, and decoded by
    // decodePng — an actual DEFLATE inflate + PNG defilter in the
    // documented mapPartitions seam. The gate pins the RECOVERED pixel
    // bytes (full lowercase hex, not just a hash) against the oracle's
    // replay of the generator formula: PNG is lossless, so any codec
    // drift, raster transpose, or band mixup reds the row.
    Case("mm_decode_png", { (s, dir) =>
      val specs = t(s, dir, "documents").select(
        col("doc_id").as("media_id"),
        (lit(8) + pmod(col("doc_id"), lit(8))).cast("int").as("width"),
        (lit(8) + pmod(col("doc_id") * 3, lit(8))).cast("int").as("height"),
        (col("doc_id") * 31).as("seed"))
      val path = layoutPath("png_fixture")
      Sources.writeBinaryFiles(Multimodal.encodePngGray(s, specs).toDF(),
        "media_id", "png", path)
      val media = Sources.readBinaryFiles(s, path).select(
        regexp_extract(col("path"), "(\\d+)\\.bin$", 1).cast("long")
          .as("media_id"),
        col("content").as("media"), lit("image/png").as("mime"),
        col("length").as("n_bytes"))
      Multimodal.decodePng(s, media).toDF()
        .select(col("media_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          lower(hex(col("pixels"))).as("pixel_hex"))
    },
      // The PNG generator formula replayed byte-for-byte: the engine's
      // pixel_hex is the DECODED raster, so equality here proves the real
      // codec round-trip (encode → file → binaryFile source → inflate →
      // defilter) recovered every pixel of every image exactly.
      Some("""WITH s AS (SELECT doc_id AS media_id,
        |             CAST(8 + doc_id % 8 AS BIGINT) AS width,
        |             CAST(8 + (doc_id * 3) % 8 AS BIGINT) AS height,
        |             doc_id * 31 AS seed
        |           FROM documents)
        |SELECT media_id, width, height,
        |       array_to_string(list_transform(range(0, width * height),
        |         i -> format('{:02x}', (seed + i) % 256)), '') AS pixel_hex
        |FROM s""".stripMargin)),

    // CLIP-score filtering of image-text pairs (the LAION-style
    // multimodal curation gate): adjacent embeddings play the two
    // modalities of one pair; a keyed equi-join brings a pair's sides
    // together and the codegen'd cosine scores it. Emits every pair
    // with its score and kept flag (threshold stays a consumer choice).
    Case("mm_clip_filter", { (s, dir) =>
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val img = e.filter(col("vec_id") % 2 === 0)
        .select(expr("vec_id div 2").as("pair_id"), col("v").as("img_v"))
      val txt = e.filter(col("vec_id") % 2 === 1)
        .select(expr("(vec_id - 1) div 2").as("pair_id"), col("v").as("txt_v"))
      img.join(txt, Seq("pair_id"))
        .select(col("pair_id"),
          round(Similarity.cosine(col("img_v"), col("txt_v")), 6)
            .as("clip_score"))
        .withColumn("kept", col("clip_score") >= 0.1)
    },
      // Same pairing, same sequential cosine, same rounded threshold.
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |img AS (SELECT vec_id // 2 AS pair_id, v AS iv FROM e WHERE vec_id % 2 = 0),
        |txt AS (SELECT (vec_id - 1) // 2 AS pair_id, v AS tv FROM e WHERE vec_id % 2 = 1),
        |c AS (SELECT pair_id,
        |        round(list_reduce(list_transform(range(0, len(iv)), i -> iv[i+1] * tv[i+1]), (x,y) -> x + y) /
        |        (sqrt(list_reduce(list_transform(range(0, len(iv)), i -> iv[i+1] * iv[i+1]), (x,y) -> x + y)) *
        |         sqrt(list_reduce(list_transform(range(0, len(iv)), i -> tv[i+1] * tv[i+1]), (x,y) -> x + y))), 6) AS clip_score
        |      FROM img JOIN txt USING (pair_id))
        |SELECT pair_id, clip_score, clip_score >= 0.1 AS kept FROM c""".stripMargin)),
  )
}
