package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data preparation operators: context-window chunking, greedy
  * sequence packing, and benchmark decontamination — the steps between a
  * deduplicated corpus and a tokenizer at 100 TB scale.
  *
  * Scale notes, per operator:
  *  - chunking is a pure per-row explode (narrow, zero shuffles): each
  *    document yields its own chunks independently.
  *  - packing needs a GLOBAL prefix sum of token counts, which a single
  *    `Window.orderBy` would serialize onto one task. It is built as a
  *    two-level distributed prefix sum instead: per-bucket windows run in
  *    parallel, and only the bucket TOTALS (corpus_size / bucketSize
  *    rows) pass through the one ordered window.
  *  - decontamination joins corpus n-grams against the benchmark n-gram
  *    set on a fixed-width md5 key; the benchmark side (eval suites, a
  *    few million n-grams) is explicitly broadcast, so the corpus side
  *    never shuffles for the join — only the per-document count
  *    aggregation exchanges, after map-side partial aggregation.
  */
object Training {

  /** Split each document's token stream into fixed-size chunks of
    * `chunkTokens` whitespace tokens (the context-window preparation
    * step). Output: one row per (doc, chunk) with the chunk's index, its
    * token count (the last chunk may be short), and its text. Pure
    * per-row HOF + explode — codegen'd, shuffle-free, embarrassingly
    * parallel at any corpus size. */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 32): DataFrame = {
    // Tokens materialize in their own projection first: a Generate
    // (posexplode) can't consume a lateral alias from the same select.
    df.select(col(idCol).as("doc_id"),
        split(trim(col(textCol)), "\\s+").as("__toks"))
      .select(
        col("doc_id"),
        col("__toks"),
        // (n + chunk - 1) / chunk chunks; n >= 1 always ("" tokenizes to [""])
        posexplode(transform(
          sequence(lit(0),
            ((size(col("__toks")) + (chunkTokens - 1)) / chunkTokens).cast("int") - 1),
          i => concat_ws(" ", slice(col("__toks"), i * chunkTokens + 1, lit(chunkTokens))))))
      .select(
        col("doc_id"),
        col("pos").cast("long").as("chunk_id"),
        least(lit(chunkTokens).cast("long"),
          size(col("__toks")).cast("long") - col("pos") * chunkTokens).as("n_chunk_tokens"),
        col("col").as("chunk_text"))
  }

  /** Greedy contiguous sequence packing: documents are concatenated in
    * `idCol` order and cut into training sequences of `capacity` tokens;
    * each document is assigned the sequence where its first token lands
    * (`seq_id`) and its offset within it. The global running token count
    * is the two-level distributed prefix sum ([[TwoLevelRank.prefixSum]],
    * stripe = id/bucketSize): per-bucket windows run in parallel and only
    * the bucket totals (corpus_size/bucketSize rows) cross the one
    * ordered window, rejoining by broadcast — a direct
    * `Window.orderBy(id)` over the raw rows computes the same numbers
    * but forces ALL rows through one task.
    *
    * The bucket-totals branch re-scans the (pruned) id+text columns and
    * re-tokenizes — two passes over the corpus. At 100 TB, materialize
    * the tokenized `(id, bucket, n_tokens)` frame once (24 bytes/doc;
    * persist or localCheckpoint — the executor-loss trade in the
    * [[Rounds]] scaladoc applies verbatim) and feed both branches from
    * it. Left unmaterialized here so the operator has no storage side
    * effects by default. */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
      capacity: Int = 512, bucketSize: Int = 64): DataFrame = {
    val base = df.select(
      col(idCol).as("doc_id"),
      size(split(trim(col(textCol)), "\\s+")).cast("long").as("n_tokens"))
    TwoLevelRank.prefixSum(base, Nil, Nil,
        (col("doc_id") / bucketSize).cast("long"), Seq("doc_id"),
        col("n_tokens"), "__before", broadcastPrefix = true)
      .select(
        col("doc_id"),
        col("n_tokens"),
        (col("__before") / capacity).cast("long").as("seq_id"),
        (col("__before") % capacity).as("seq_offset"))
  }

  /** Length-bucketed SHELF packing: documents are grouped by exact token
    * length L and each training sequence holds only same-length docs —
    * ⌊capacity/L⌋ per sequence — so no document ever straddles a
    * sequence boundary (greedy concat-order packing splits ~1 doc per
    * sequence) and per-sequence waste is bounded by capacity mod L
    * instead of depending on arrival order. The layout trade: batches
    * lose length diversity (standard for length-bucketed training).
    * Documents LONGER than capacity get a dedicated sequence each
    * (offset 0) — the caller chunks or truncates those upstream.
    *
    * Scale shape, all corpus-sized steps bucketed:
    *   1. rank k of a doc within its L class is a TWO-LEVEL prefix count
    *      (the packSequences formulation, per L): intra-stripe
    *      row_numbers partitioned by (L, id-stripe), plus per-L stripe
    *      prefixes over the collapsed (L, stripe) frame — a hot length
    *      class (most corpora pile up at the truncation length) never
    *      serializes through one task;
    *   2. per-class sequence-id bases are an ordered prefix sum over the
    *      class-stats frame (≤ max-doc-length rows — broadcast-sized by
    *      construction);
    *   3. seq_id = base(L) + k / per(L), offset = (k mod per(L))·L —
    *      pure per-row arithmetic.
    * Output: (doc_id, n_tokens, seq_id, seq_offset); seq_ids are dense
    * 0..nSeqs−1 ordered by (L, intra-class rank). */
  def packShelves(df: DataFrame, idCol: String, textCol: String,
      capacity: Int = 512, bucketSize: Long = 4096L): DataFrame = {
    require(capacity >= 1, "capacity must be >= 1")
    val base = df.select(
        col(idCol).as("doc_id"),
        size(split(trim(col(textCol)), "\\s+")).cast("long").as("__L"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // rank within the L class: two-level bucketed prefix count
    // (TwoLevelRank — the stripe prefix is NOT broadcast: its worst case,
    // many distinct lengths per stripe, approaches the corpus; the join
    // keys match the intra window's partitioning, so only the collapsed
    // side exchanges)
    val ranked = TwoLevelRank.rank(base, Seq("__L"), Nil,
      expr(s"doc_id div $bucketSize"), Seq("doc_id"), "__rk")
    // class stats: one row per distinct length (≤ max doc length rows);
    // the ordered prefix over it is single-task over a tiny frame, and
    // classBase IS broadcast-safe by construction.
    // All quotients are integer `div` (never `/`, which is double
    // division and can mis-floor at extreme magnitudes).
    val per = expr(s"greatest(1L, ${capacity}L div __L)")
    val classW = Window.orderBy(col("__L"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val classBase = base.groupBy(col("__L"))
      .agg(count(lit(1)).as("__nL"))
      .withColumn("__per", per)
      .withColumn("__nseq", expr("(__nL + __per - 1) div __per"))
      .select(col("__L"), col("__per"),
        coalesce(sum(col("__nseq")).over(classW), lit(0L)).as("__base"))
    ranked
      .join(broadcast(classBase), Seq("__L"))
      .withColumn("__k", col("__rk") - 1)
      .select(
        col("doc_id"),
        col("__L").as("n_tokens"),
        expr("__base + (__k div __per)").as("seq_id"),
        ((col("__k") % col("__per")) * col("__L")).as("seq_offset"))
  }

  /** Benchmark decontamination: flag corpus documents sharing any word
    * `n`-gram with a benchmark/eval set. N-grams are keyed by md5 — a
    * fixed 32-byte join key regardless of n-gram length (and an
    * engine-independent one, so the oracle reproduces the join exactly).
    * The distinct benchmark key set is broadcast; corpus n-grams are
    * generated per row (explode of the distinct per-doc shingle set) and
    * never shuffle for the probe — only the per-doc count aggregation
    * exchanges, and partial aggregation collapses it to one row per doc
    * per partition first. Documents with fewer than n tokens have no
    * n-grams and are absent from the output (no n-gram ⇒ nothing to
    * test). Output: (doc_id, n_ngrams, n_hits, contaminated). */
  def decontaminate(corpus: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int = 8): DataFrame = {
    val benchKeys = broadcast(
      ngramKeys(bench, idCol, textCol, n).select(col("__k")).distinct()
        .withColumn("__hit", lit(1)))
    ngramKeys(corpus, idCol, textCol, n)
      .join(benchKeys, Seq("__k"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_ngrams"), count(col("__hit")).as("n_hits"))
      .withColumn("contaminated", col("n_hits") > 0)
  }

  /** Fuzzy (near-duplicate) decontamination — the variant real training
    * pipelines run alongside exact n-gram probes: a benchmark document
    * that was paraphrased, truncated, or lightly edited before landing
    * in the corpus shares no long exact n-gram, but its MinHash
    * signature still collides. Candidates come from an LSH band join of
    * corpus signatures against BENCH signatures only (never corpus ×
    * corpus — this is not a dedup pass), then every candidate is
    * exact-verified by shingle-set Jaccard ≥ `threshold`.
    *
    * Scale shape: the bench side (band keys AND shingle sets) rides
    * broadcast — eval suites are small by nature; the corpus side is
    * one fused signature pass + a narrow band projection, and the only
    * keyed exchanges are sized by the CANDIDATES, not the corpus. The
    * md5-based signature keeps the whole pipeline oracle-replayable
    * (docs under `shingleSize` tokens have no signature and can never
    * pair — both engines agree).
    *
    * Output: one row per corpus doc —
    * (doc_id, n_candidates, n_hits, contaminated). */
  def decontaminateFuzzy(corpus: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, bands: Int = 16, rowsPerBand: Int = 4,
      shingleSize: Int = 3, threshold: Double = 0.5): DataFrame = {
    import graft.functions.textnative
    val prime = (1L << 31) - 1 // the Dedup.mersennePrime convention
    def sigsOf(df: DataFrame): DataFrame = df
      .filter(size(split(trim(col(textCol)), "\\s+")) >= shingleSize)
      .select(col(idCol).as("id"),
        textnative.text_minhash(col(textCol), shingleSize,
          graft.ops.Dedup.hashFamily(bands * rowsPerBand), prime,
          md5Base = true).as("sig"))
    def bandsOf(sigs: DataFrame): DataFrame = sigs.select(col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => concat_ws(",",
            slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))))))
      .select(col("id"), col("pos").as("band_id"), col("col").as("bkey"))
    val cand = bandsOf(sigsOf(corpus))
      .join(broadcast(bandsOf(sigsOf(bench))
        .select(col("band_id"), col("bkey"), col("id").as("bench_id"))),
        Seq("band_id", "bkey"))
      .select(col("id").as("doc_id"), col("bench_id")).distinct()
    val csh = corpus.select(col(idCol).as("doc_id"),
      textnative.shingle_hashes(col(textCol), shingleSize).as("csh"))
    val bsh = bench.select(col(idCol).as("bench_id"),
      textnative.shingle_hashes(col(textCol), shingleSize).as("bsh"))
    val agg = cand.join(csh, Seq("doc_id")).join(broadcast(bsh), Seq("bench_id"))
      .select(col("doc_id"),
        textnative.jaccard_sorted(col("csh"), col("bsh")).as("j"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("j") >= threshold, 1L).otherwise(0L)).as("n_hits"))
    corpus.select(col(idCol).as("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** Bloom-prefiltered decontamination — the 100 TB shape of
    * [[decontaminate]] for when the benchmark n-gram key set is too
    * large to broadcast (a full eval-suite union runs to billions of
    * n-grams): a bloom filter over the bench keys (fixed memory, one
    * pass over the bench side) kills the (1−selectivity)·(1−fpp)
    * fraction of corpus n-grams scan-side, BEFORE any exchange; only
    * the survivors shuffle into the exact key join that removes the fpp
    * false positives. No false negatives by construction, so the output
    * is row-identical to [[decontaminate]] — only bytes-shuffled
    * changes (the BloomJoin.bloomSemiJoin argument, applied to the
    * n-gram probe). The bloom probes a 60-bit prefix of the md5 key
    * (the codegen'd MightContainLong path); truncation collisions only
    * add bloom passes, which the exact full-key join removes. */
  def decontaminateBloom(corpus: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int = 8, expectedItems: Long = 1L << 20,
      fpp: Double = 0.01): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    def keyLong(k: Column): Column =
      conv(substring(k, 1, 15), 16, 10).cast("long")
    val benchKeys = ngramKeys(bench, idCol, textCol, n)
      .select(col("__k")).distinct().persist(lvl)
    val bloom = benchKeys
      .select(keyLong(col("__k")).as("__kl"))
      .stat.bloomFilter("__kl", expectedItems, fpp)
    val ck = ngramKeys(corpus, idCol, textCol, n).persist(lvl)
    val totals = ck.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_ngrams"))
    val hits = ck
      .filter(BloomJoin.mightContain(keyLong(col("__k")), bloom))
      .join(benchKeys, Seq("__k"), "semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
    totals.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_ngrams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** One row per distinct (doc, n-gram md5 key) — one fused native pass
    * per row ([[graft.functions.ShingleMd5Keys]]: tokenize → shingle →
    * md5 → distinct); the transform+array_distinct+md5 HOF chain
    * interpreted a lambda per shingle and was the dominant cost of the
    * decontamination query at sf0.1 (2.15 → 0.41 s). */
  private[graft] def ngramKeys(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    df.select(
      col(idCol).as("doc_id"),
      explode(graft.functions.textnative
        .shingle_md5_keys(col(textCol), n)).as("__k"))

  /** Streaming decontamination: flag stream documents sharing any word
    * n-gram with a STATIC benchmark set. The benchmark keys broadcast
    * into every micro-batch (stream-static semi join — no streaming
    * state for the probe itself); a doc matching on several n-grams is
    * emitted once, with duplicates suppressed by watermark-bounded
    * dedup state. Emits (doc_id, ts) of contaminated documents. */
  def decontaminateStream(docs: DataFrame, idCol: String, tsCol: String,
      textCol: String, bench: DataFrame, benchIdCol: String,
      benchTextCol: String, n: Int = 8,
      lateness: String = "10 minutes"): DataFrame = {
    val benchKeys = broadcast(
      ngramKeys(bench, benchIdCol, benchTextCol, n).select(col("__k")).distinct())
    docs.withWatermark(tsCol, lateness)
      .select(col(idCol).as("doc_id"), col(tsCol).as("__ts"),
        explode(graft.functions.textnative
          .shingle_md5_keys(col(textCol), n)).as("__k"))
      .join(benchKeys, Seq("__k"), "left_semi")
      // the watermark metadata set above rides the renamed __ts attribute
      .dropDuplicatesWithinWatermark("doc_id")
      .select(col("doc_id"), col("__ts").as(tsCol))
  }

  /** Deterministic epoch shuffle: a seeded permutation of rows by
    * md5(seed ‖ id) — the order a training run consumes its sequences.
    * No rand(): the permutation is a pure function of (seed, id), so it
    * is identical across reruns, partitionings, and engines (the same
    * argument as Sampling.consistentSample), and changing the seed gives
    * the next epoch's order.
    *
    * The global 0-based position uses the same two-level prefix trick as
    * [[packSequences]] — a naive `row_number() over (order by key)`
    * serializes the corpus through one task. Here the bucket is the md5
    * key's first two hex chars (256 buckets, contiguous under the global
    * lexicographic key order, so intra-bucket rank + bucket prefix IS
    * the global rank): per-bucket windows run in parallel and only 256
    * bucket counts cross the ordered window. Output: input columns plus
    * `shuffle_pos`. */
  /** BERT-style MLM masking (Devlin et al. 2019 §3.1), made reproducible:
    * each token position masks iff a stable 60-bit md5 draw over
    * (doc id, position) lands under `pct`% — the deterministic stand-in
    * for the RNG a training loader would use, so the masking is
    * identical on every engine, rerun, and partitioning (the epochShuffle
    * determinism argument applied to corruption). Entirely per-row
    * expression work over the token array (transform with index — no
    * explode, no shuffle, no state); emits the masked sequence as an
    * order-pinning md5 plus exact mask counts. */
  def mlmMask(df: DataFrame, idCol: String, textCol: String,
      pct: Int = 15, maskTok: String = "[MASK]"): DataFrame = {
    require(pct >= 1 && pct < 100, "pct in [1,100)")
    val toks = TextAnalysis.tokens(col(textCol))
    def draw(i: Column): Column =
      pmod(conv(substring(md5(concat(col(idCol).cast("string"), lit(":"),
        i.cast("string"))), 1, 15), 16, 10).cast("long"), lit(100L))
    val flags = transform(toks, (_, i) => (draw(i) < pct).cast("long"))
    val masked = transform(toks, (x, i) => when(draw(i) < pct, lit(maskTok)).otherwise(x))
    df.select(col(idCol).as("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      aggregate(flags, lit(0L), (acc, x) => acc + x).as("n_masked"),
      md5(array_join(masked, " ")).as("masked_md5"))
  }

  def epochShuffle(df: DataFrame, idCol: String, seed: Long): DataFrame = {
    val withKey = df.withColumn("__key",
      md5(concat(lit(seed.toString), lit(":"), col(idCol).cast("string"))))
    TwoLevelRank.rank(withKey, Nil, Nil, substring(col("__key"), 1, 2),
        Seq("__key", idCol), "__rk", broadcastPrefix = true)
      .withColumn("shuffle_pos", col("__rk") - 1)
      .drop("__key", "__rk")
  }

  /** Materialize the packed training sequences: each sequence's
    * documents concatenated in id order. The groupBy(seq_id) shuffle
    * moves each doc's text ONCE, and per-sequence state is bounded by
    * `capacity` tokens of text (a sequence holds at most capacity+1
    * documents' worth), so the collect_list buffers are fixed-size at
    * any corpus scale. Output: (seq_id, n_docs, n_tokens, seq_text). */
  def buildSequences(df: DataFrame, idCol: String, textCol: String,
      capacity: Int = 512, bucketSize: Int = 64): DataFrame = {
    val packed = packSequences(df, idCol, textCol, capacity, bucketSize)
    packed
      .join(df.select(col(idCol).as("doc_id"), col(textCol).as("__txt")), Seq("doc_id"))
      .groupBy(col("seq_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        array_join(
          transform(array_sort(collect_list(struct(col("doc_id"), col("__txt")))),
            x => x.getField("__txt")), " ").as("seq_text"))
  }

  /** Embedding-space benchmark decontamination: flag corpus vectors whose
    * cosine similarity to ANY benchmark vector reaches `tau` — the
    * semantic companion to the n-gram [[decontaminate]] pass (a
    * paraphrased benchmark item shares no exact n-gram with its source
    * but still embeds close, so pipelines run both).
    *
    * Plan shape (the 100 TB-safe one, same as Similarity.bruteForceTopK):
    * the benchmark set — eval suites, thousands to low millions of rows —
    * is explicitly BROADCAST, so each corpus partition scans its vectors
    * against the in-memory benchmark block (BroadcastNestedLoopJoin) and
    * the corpus never shuffles for the probe; only the per-vector
    * (count, max) aggregate exchanges, after map-side partials collapse
    * it to one row per vector per partition. Cosine is the codegen'd
    * native expression (float→double widening, strictly sequential
    * accumulation), so the score is bit-reproducible and the oracle
    * replays it exactly; the 6-decimal round only guards the printed
    * max. Output: (vec_id, n_hits, max_sim) for flagged vectors only —
    * clean vectors produce no row, which is what the downstream anti-join
    * wants. */
  def deconEmbed(corpus: DataFrame, bench: DataFrame, idCol: String,
      vecCol: String, tau: Double): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, "tau in (0, 1]")
    val c = corpus.select(col(idCol).as("__cid"),
      col(vecCol).cast("array<double>").as("__cv"))
    val b = broadcast(bench.select(col(vecCol).cast("array<double>").as("__bv")))
    c.crossJoin(b)
      .select(col("__cid"),
        graft.functions.native.cosine_sim(col("__cv"), col("__bv")).as("__sim"))
      .filter(col("__sim") >= tau)
      .groupBy(col("__cid").as(idCol))
      .agg(count(lit(1)).as("n_hits"), round(max(col("__sim")), 6).as("max_sim"))
  }

  /** DSIR-style importance weights (the hashed-n-gram data-selection
    * recipe: score every corpus document by how much likelier its bigram
    * profile is under a curated TARGET distribution than under the raw
    * corpus's own, then keep/resample the high-ratio tail — the standard
    * way to steer a crawl toward a quality domain without a trained
    * classifier).
    *
    * Features are word bigrams hashed into `nBuckets` buckets via the
    * first 8 hex digits of md5 (engine-independent, so the oracle
    * reproduces the bucketing exactly); both unigram-over-bucket models
    * are add-α smoothed: p(b) = (n_b + α) / (N + α·B). A document's
    * weight is Σ_b n_b·(ln p_t(b) − ln p_c(b)) over its bucket counts.
    *
    * Plan shape for 100 TB: the corpus token explode runs ONCE — the
    * per-doc bucket-count frame is persisted and feeds both the corpus
    * model and the final score, the same shared-frame persist as
    * [[TextAnalysis.perplexity]]. Both models and the log-ratio table
    * are B rows (B = `nBuckets`, constant), broadcast onto the per-doc
    * counts; the only corpus-sized exchanges are the two map-side-
    * combined count aggregations. The target pass is a separate (small,
    * curated) input and never joins the corpus row-wise. Double-sum fold
    * order is the single engine-variant step, absorbed by the 6-decimal
    * round (the perplexity precedent). Documents with fewer than two
    * tokens have no bigrams and are absent from the output.
    * Output: (doc_id, n_bigrams, logratio). */
  def dsirWeights(corpus: DataFrame, target: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      nBuckets: Int = 64, alpha: Double = 0.5): DataFrame = {
    require(nBuckets >= 2, "nBuckets >= 2")
    require(alpha > 0, "alpha must be positive (unseen buckets need mass)")
    import org.apache.spark.storage.StorageLevel
    val toks = col("__toks")
    val pairs = transform(sequence(lit(0), size(toks) - 2),
      i => concat_ws(" ", element_at(toks, i + 1), element_at(toks, i + 2)))
    def bucketOf(bigram: Column): Column =
      conv(substring(md5(bigram), 1, 8), 16, 10).cast("long") % nBuckets
    def bucketCounts(df: DataFrame, keyCols: Seq[Column]): DataFrame = df
      .select(keyCols :+ TextAnalysis.tokens(col(textCol)).as("__toks"): _*)
      .filter(size(toks) >= 2)
      .select(keyCols :+ explode(pairs).as("__bg"): _*)
      .select(keyCols :+ bucketOf(col("__bg")).as("b"): _*)
      .groupBy(keyCols :+ col("b"): _*)
      .agg(count(lit(1)).as("n"))
    val dbk = bucketCounts(corpus, Seq(col(idCol).as("doc_id")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cb = dbk.groupBy(col("b")).agg(sum(col("n")).as("cn"))
    val tb = bucketCounts(target, Seq.empty)
      .select(col("b"), col("n").as("tn"))
    // Dense bucket frame: a bucket unseen in either input still carries
    // smoothed mass, and ln p is defined for it.
    val m = corpus.sparkSession.range(0, nBuckets).toDF("b")
      .join(cb, Seq("b"), "left").join(tb, Seq("b"), "left")
      .select(col("b"), coalesce(col("cn"), lit(0L)).as("cn"),
        coalesce(col("tn"), lit(0L)).as("tn"))
    val tot = m.agg(sum(col("cn")).as("__C"), sum(col("tn")).as("__T"))
    val lr = m.crossJoin(broadcast(tot)).select(col("b"),
      (log((col("tn") + lit(alpha)) / (col("__T") + lit(alpha * nBuckets))) -
       log((col("cn") + lit(alpha)) / (col("__C") + lit(alpha * nBuckets))))
        .as("__lr"))
    dbk.join(broadcast(lr), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_bigrams"),
        round(sum(col("n") * col("__lr")), 6).as("logratio"))
  }
}
