package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Size-bounded `collect_list` over long ids: the buffer stops growing
  * at `cap` entries, so NO aggregation state — map-side partial, shuffle
  * row, or final merge buffer — ever exceeds cap longs per key,
  * regardless of how hot the key is. Callers that drop over-cap groups
  * (a df cap: `size(ds) <= maxDf` with cap = maxDf+1) read truncation as
  * "over the cap" — groups at or under the cap are never truncated, so
  * their lists are complete and results are identical to collect_list +
  * filter, minus the hot-key OOM (a stopword shingle in half the corpus
  * would otherwise materialize a corpus-sized list in one buffer). */
class BoundedCollectAggregator(cap: Int)
    extends Aggregator[Long, Seq[Long], Seq[Long]] {
  override def zero: Seq[Long] = Vector.empty
  override def reduce(buf: Seq[Long], a: Long): Seq[Long] =
    if (buf.size >= cap) buf else buf :+ a
  override def merge(b1: Seq[Long], b2: Seq[Long]): Seq[Long] =
    if (b1.size >= cap) b1 else (b1 ++ b2).take(cap)
  override def finish(r: Seq[Long]): Seq[Long] = r
  override def bufferEncoder: Encoder[Seq[Long]] = ExpressionEncoder()
  override def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder()
}

/** Deduplication operators for a training-data pipeline, over
  * `documents(doc_id, text, ...)`.
  *
  * Scale notes, per operator:
  *  - exact: one hash-aggregate shuffle on the dedup key (or its hash).
  *  - MinHash+LSH: near-dup candidate generation is a self-equi-join on
  *    (band_id, band_hash) — shuffle on the bucket key, never an all-pairs
  *    product. Hot buckets (boilerplate docs) are real at 100 TB: AQE skew
  *    join splits them, and the band hash includes the band index so bands
  *    don't collide with each other.
  *  - SimHash: 64-bit signature; pairs via 16-bit-chunk pigeonhole banding
  *    (hamming ≤ 3 ⇒ at least one of 4 chunks equal), same join shape.
  *  - n-gram Jaccard: exact verify, run on LSH/blocked candidates only.
  *  - embedding near-dup: sign-bit LSH buckets then exact cosine verify.
  *
  * All signatures are computed with deterministic seeded hash families so
  * reruns (and both sides of self-joins) agree.
  */
object Dedup {

  /** Exact duplicate groups: one row per distinct key with the keeper
    * (min id) and the multiplicity. */
  def exactGroups(df: DataFrame, keyCol: String, idCol: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Exact dedup: keep one row (min id) per distinct key. Implemented as a
    * hash aggregate (min over the full row struct), not dropDuplicates, so
    * the keeper is deterministic. */
  def exactDedup(df: DataFrame, keyCol: String, idCol: String): DataFrame = {
    val others = df.columns.filterNot(_ == keyCol)
    df.groupBy(col(keyCol))
      .agg(min(struct(col(idCol) +: others.filterNot(_ == idCol).map(col): _*)).as("r"))
      .select(col(keyCol) +: others.map(c => col(s"r.$c").as(c)): _*)
  }

  /** Seeded universal-hash family for MinHash: h_i(x) = (a_i*x + b_i) mod p
    * over a base hash of each shingle (xxhash64 — Spark-native, codegen'd)
    * reduced into [0, p). p = 2^31-1 keeps a_i*x within 62 bits, so the
    * arithmetic never overflows a long (ANSI-safe). */
  private val mersennePrime = (1L << 31) - 1
  def hashFamily(n: Int, seed: Long = 7L): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(((rnd.nextLong() % (mersennePrime - 1) + mersennePrime) % (mersennePrime - 1) + 1,
      (rnd.nextLong() % mersennePrime + mersennePrime) % mersennePrime))
  }

  /** MinHash signature (length = family size) of a shingle array column —
    * one native-expression pass over the shingles (the per-hash-function
    * HOF formulation cost 64 interpreted array traversals per row). */
  def minhashSignature(shingleCol: Column, family: Seq[(Long, Long)]): Column =
    graft.functions.native.minhash_sig(shingleCol, family, mersennePrime)

  /** MinHash signatures (doc_id, sig) for a corpus — the shared front of
    * [[minhashLshCandidates]] and [[minhashLshPairs]]. Fused native
    * expression: tokenize → shingle → hash → signature in one pass per row
    * (identical output to minhashSignature over the HOF-built shingle
    * array, without materializing it). */
  private def minhashSigs(df: DataFrame, idCol: String, textCol: String,
      bands: Int, rowsPerBand: Int, shingleSize: Int): DataFrame =
    df.select(
      col(idCol).as("doc_id"),
      graft.functions.textnative
        .text_minhash(col(textCol), shingleSize,
          hashFamily(bands * rowsPerBand), mersennePrime).as("sig"))

  /** LSH candidate pairs only — (left_id, right_id), left < right,
    * distinct. The band self-join exchange carries just (band_id,
    * band_hash, doc_id): the 64-long signature is projected away BEFORE
    * the shuffle. At 100 TB candidate generation is the dominant shuffle
    * of the dedup pipeline, and ~8 KB of signature per doc per band per
    * side would multiply its width ~40× for a payload the join never
    * looks at. Callers that immediately exact-verify (dedupCorpus,
    * dedup_groups) use this directly — the estimated-Jaccard payload
    * would be pure overhead there. */
  def minhashLshCandidates(df: DataFrame, idCol: String, textCol: String,
      bands: Int = 16, rowsPerBand: Int = 4, shingleSize: Int = 3): DataFrame =
    lshCandidatesFromSigs(
      minhashSigs(df, idCol, textCol, bands, rowsPerBand, shingleSize),
      bands, murmurBandKey(rowsPerBand))

  /** `bandKey(b)` maps band index b (a Column) to that band's bucket key
    * over `col("sig")` — murmur3-compressed by default; the md5 oracle
    * twin uses the raw joined-slice string so DuckDB can reproduce it. */
  private def lshCandidatesFromSigs(sigs: DataFrame, bands: Int,
      bandKey: Column => Column): DataFrame = {
    val banded = sigs.select(
      col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)), bandKey))
    ).select(col("doc_id"), col("pos").as("band_id"), col("col").as("band_hash"))
    val l = banded.select(col("band_id"), col("band_hash"), col("doc_id").as("left_id"))
    val r = banded.select(col("band_id"), col("band_hash"), col("doc_id").as("right_id"))
    l.join(r, Seq("band_id", "band_hash"))
      .filter(col("left_id") < col("right_id"))
      .select(col("left_id"), col("right_id"))
      .distinct()
  }

  private def murmurBandKey(rowsPerBand: Int)(b: Column): Column =
    hash(b, concat_ws(",", slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))))

  /** MinHash + LSH near-duplicate pairs with their estimated Jaccard.
    *
    * docs(idCol, textCol) → signature(bands*rowsPerBand) → narrow band
    * self-join ([[minhashLshCandidates]]) → re-attach the two signatures
    * to the surviving candidates by doc-id equi-join (candidates are a
    * tiny fraction of the banded explosion, so the wide rows exist only
    * after the cut) → estimated-Jaccard (fraction of equal signature
    * positions) filter.
    * Output: (left_id, right_id, est_jaccard) with left < right, distinct. */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      bands: Int = 16, rowsPerBand: Int = 4, shingleSize: Int = 3,
      threshold: Double = 0.5): DataFrame =
    pairsFromSigs(
      minhashSigs(df, idCol, textCol, bands, rowsPerBand, shingleSize),
      bands, murmurBandKey(rowsPerBand), threshold)

  private def pairsFromSigs(sigs: DataFrame, bands: Int,
      bandKey: Column => Column, threshold: Double): DataFrame = {
    // The sigs subtree feeds four plan branches (both band self-join
    // sides + both signature re-attach joins); without materialization
    // the corpus scan and the fused text_minhash pass re-run per branch
    // (exchange reuse only merges the two band sides). A lazy
    // localCheckpoint: leak-free but NOT recomputable on executor loss
    // (the trade in the Rounds scaladoc).
    val s = sigs.localCheckpoint(eager = false)
    lshCandidatesFromSigs(s, bands, bandKey)
      .join(s.select(col("doc_id").as("left_id"), col("sig").as("left_sig")), Seq("left_id"))
      .join(s.select(col("doc_id").as("right_id"), col("sig").as("right_sig")), Seq("right_id"))
      .select(col("left_id"), col("right_id"),
        graft.functions.native.sig_agreement(col("left_sig"), col("right_sig"))
          .as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** Oracle twin of [[minhashLshPairs]]: the identical pipeline shape —
    * fused signature pass, narrow band self-join, signature re-attach,
    * agreement filter — but with the two engine-opaque hashes swapped for
    * engine-independent ones a DuckDB oracle can replicate exactly:
    * the per-shingle base hash is the integer value of the first 8 hex
    * digits of md5 (`('0x' || substr(md5(s), 1, 8))::BIGINT`), and band
    * bucket keys are the raw comma-joined signature slices instead of a
    * murmur3 compression. Same (a·h+b) mod p family, same banding, same
    * estimated Jaccard — so the driver's hash gate verifies the REAL LSH
    * pipeline end-to-end, not a simplification. Docs with fewer than
    * `shingleSize` tokens have no shingles and are excluded (their
    * all-prime signatures would spuriously pair all short docs). */
  def minhashLshPairsMd5(df: DataFrame, idCol: String, textCol: String,
      bands: Int = 16, rowsPerBand: Int = 4, shingleSize: Int = 3,
      threshold: Double = 0.0): DataFrame = {
    val sigs = df
      .filter(size(split(trim(col(textCol)), "\\s+")) >= shingleSize)
      .select(col(idCol).as("doc_id"),
        graft.functions.textnative.text_minhash(col(textCol), shingleSize,
          hashFamily(bands * rowsPerBand), mersennePrime, md5Base = true).as("sig"))
    pairsFromSigs(sigs, bands,
      b => concat_ws(",", slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))),
      threshold)
  }

  /** 64-bit SimHash of the token stream: per-bit vote sum of each token's
    * xxhash64 bits (+1/-1), sign → bit. Returned as an array of 64 0/1
    * longs plus 4 16-bit chunk keys for pigeonhole banding. One fused
    * native-expression pass per row (the HOF formulation interpreted 64
    * lambda evaluations per token — the MinHash lesson, BASELINE.md). */
  def withSimhash(df: DataFrame, idCol: String, textCol: String,
      md5Base: Boolean = false): DataFrame =
    df.select(col(idCol).as("doc_id"),
      graft.functions.textnative.text_simhash(col(textCol), md5Base).as("__sh"))
      .select(col("doc_id"), col("__sh.bits").as("bits"), col("__sh.chunks").as("chunks"))

  /** SimHash near-dup pairs with hamming distance ≤ maxHamming (≤ 3 for
    * the 4×16-bit pigeonhole to be lossless). Join on (chunk_id, chunk
    * value), exact hamming verify, distinct pairs. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    val sh = withSimhash(df, idCol, textCol)
    val banded = sh.select(col("doc_id"), col("bits"), posexplode(col("chunks")))
      .select(col("doc_id"), col("bits"), col("pos").as("chunk_id"), col("col").as("chunk_val"))
    val l = banded.select(col("chunk_id"), col("chunk_val"),
      col("doc_id").as("left_id"), col("bits").as("left_bits"))
    val r = banded.select(col("chunk_id"), col("chunk_val"),
      col("doc_id").as("right_id"), col("bits").as("right_bits"))
    l.join(r, Seq("chunk_id", "chunk_val"))
      .filter(col("left_id") < col("right_id"))
      .select(col("left_id"), col("right_id"),
        graft.functions.textnative.hamming_bits(col("left_bits"), col("right_bits"))
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Exact n-gram Jaccard similarity for all pairs within a blocking key
    * (e.g. source). Quadratic within a block by design — use only on
    * pre-blocked/LSH-candidate data. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, n: Int = 3, threshold: Double = 0.3): DataFrame = {
    // Shingle sets as sorted distinct 64-bit hashes (native expression);
    // per-pair Jaccard is then a linear merge walk instead of string-set
    // intersection — same counts, same double, oracle-compatible.
    val sh = df.select(
      col(blockCol).as("block"), col(idCol).as("doc_id"),
      graft.functions.textnative.shingle_hashes(col(textCol), n).as("sh"))
    val l = sh.select(col("block"), col("doc_id").as("left_id"), col("sh").as("lsh"))
    val r = sh.select(col("block"), col("doc_id").as("right_id"), col("sh").as("rsh"))
    l.join(r, Seq("block"))
      .filter(col("left_id") < col("right_id"))
      .select(col("left_id"), col("right_id"),
        graft.functions.textnative.jaccard_sorted(col("lsh"), col("rsh")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Fuzzy (edit-distance) near-dup pairs within a blocking key:
    * levenshtein(l, r) ≤ maxDistance, quadratic within a block by design
    * (like [[ngramJaccardPairs]] — a primitive for data ALREADY reduced
    * to small blocks; measured on the raw sf0.1 corpus the quadratic
    * blocks cost 40 s where the LSH-candidate shape below costs under a
    * second — use [[levenshteinVerifiedPairs]] for whole-corpus runs).
    * Uses Spark's THRESHOLDED levenshtein (3-arg form): the DP bails out
    * as soon as the distance provably exceeds maxDistance, turning the
    * O(|l|·|r|) worst case into O(maxDistance · max(|l|,|r|)) per pair —
    * the difference between feasible and not when blocks hold long
    * documents. Output: (left_id, right_id, lev), left < right. */
  def levenshteinPairs(df: DataFrame, idCol: String, textCol: String,
      blockCol: Column, maxDistance: Int = 60): DataFrame = {
    val b = df.select(blockCol.as("block"), col(idCol).as("doc_id"),
      col(textCol).as("__txt"))
    val l = b.select(col("block"), col("doc_id").as("left_id"), col("__txt").as("lt"))
    val r = b.select(col("block"), col("doc_id").as("right_id"), col("__txt").as("rt"))
    l.join(r, Seq("block"))
      .filter(col("left_id") < col("right_id"))
      .select(col("left_id"), col("right_id"),
        levenshtein(col("lt"), col("rt"), maxDistance).cast("long").as("lev"))
      .filter(col("lev") >= 0) // 3-arg levenshtein returns -1 above threshold
  }

  /** Edit-distance verification of a candidate pair list (the output
    * shape of [[minhashLshCandidates]] / [[simhashPairs]]): joins each
    * candidate back to its text and keeps pairs within `maxDistance`
    * edits. Linear in the candidate count — the whole-corpus shape at
    * 100 TB, where [[levenshteinPairs]]' block-quadratic generation is
    * reserved for pre-blocked data. Same thresholded-DP early exit. */
  def levenshteinVerifiedPairs(df: DataFrame, idCol: String, textCol: String,
      candidates: DataFrame, maxDistance: Int = 60): DataFrame = {
    val t = df.select(col(idCol).as("__id"), col(textCol).as("__txt"))
    candidates.select(col("left_id"), col("right_id"))
      .join(t.select(col("__id").as("left_id"), col("__txt").as("lt")), Seq("left_id"))
      .join(t.select(col("__id").as("right_id"), col("__txt").as("rt")), Seq("right_id"))
      .select(col("left_id"), col("right_id"),
        levenshtein(col("lt"), col("rt"), maxDistance).cast("long").as("lev"))
      .filter(col("lev") >= 0)
  }

  /** Exact n-gram Jaccard verification of a candidate pair list (the
    * output shape of [[minhashLshPairs]] / [[simhashPairs]]): joins each
    * (left_id, right_id) candidate back to its shingle set and keeps pairs
    * whose TRUE Jaccard clears the threshold. Cost is linear in the number
    * of candidates — the shape that survives 100 TB, where the
    * block-quadratic [[ngramJaccardPairs]] is reserved for data already
    * reduced to small blocks. */
  def jaccardVerifiedPairs(df: DataFrame, idCol: String, textCol: String,
      candidates: DataFrame, n: Int = 3, threshold: Double = 0.3): DataFrame = {
    val sh = df.select(col(idCol).as("__id"),
      graft.functions.textnative.shingle_hashes(col(textCol), n).as("__sh"))
    candidates.select(col("left_id"), col("right_id"))
      .join(sh.select(col("__id").as("left_id"), col("__sh").as("lsh")), Seq("left_id"))
      .join(sh.select(col("__id").as("right_id"), col("__sh").as("rsh")), Seq("right_id"))
      .select(col("left_id"), col("right_id"),
        graft.functions.textnative.jaccard_sorted(col("lsh"), col("rsh")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Incremental near-dup dedup — the operation a production corpus runs
    * daily: flag each NEW document as a duplicate of the EXISTING corpus
    * or of an earlier (smaller-id) new document, without re-deduping the
    * corpus against itself. Candidate generation is the same narrow band
    * self-join as [[minhashLshCandidates]], restricted to pairs touching
    * a new doc (the is_new bit rides the exchange; corpus↔corpus band
    * collisions are filtered before the distinct). Cost at 100 TB:
    * signatures for corpus + batch (cache the corpus side's across days),
    * band shuffle of both, but candidate verification linear in pairs
    * TOUCHING THE BATCH only — the corpus never self-joins.
    * `md5Base` swaps in the engine-independent hash so a DuckDB oracle
    * replicates the full pipeline (docs with < shingleSize tokens have no
    * signature and can never pair — both engines agree).
    * Output: one row per new doc — (doc_id, is_duplicate, dup_of), where
    * dup_of is the smallest matching corpus-or-earlier-new id, null for
    * unique docs. */
  def dedupIncrement(corpus: DataFrame, newDocs: DataFrame, idCol: String,
      textCol: String, threshold: Double = 0.5, shingleSize: Int = 3,
      bands: Int = 16, rowsPerBand: Int = 4, md5Base: Boolean = false): DataFrame = {
    val all = corpus.select(col(idCol), col(textCol)).withColumn("__new", lit(false))
      .unionAll(newDocs.select(col(idCol), col(textCol)).withColumn("__new", lit(true)))
    val fam = hashFamily(bands * rowsPerBand)
    val sigs = all
      .filter(size(split(trim(col(textCol)), "\\s+")) >= shingleSize)
      .select(col(idCol).as("doc_id"), col("__new"),
        graft.functions.textnative
          .text_minhash(col(textCol), shingleSize, fam, mersennePrime, md5Base)
          .as("sig"))
    val bandKey: Column => Column =
      if (md5Base) b => concat_ws(",", slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)))
      else murmurBandKey(rowsPerBand)
    val banded = sigs.select(col("doc_id"), col("__new"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)), bandKey)))
      .select(col("doc_id"), col("__new"),
        col("pos").as("band_id"), col("col").as("band_hash"))
    val l = banded.select(col("band_id"), col("band_hash"),
      col("doc_id").as("left_id"), col("__new").as("left_new"))
    val r = banded.select(col("band_id"), col("band_hash"),
      col("doc_id").as("right_id"), col("__new").as("right_new"))
    val cands = l.join(r, Seq("band_id", "band_hash"))
      .filter(col("left_id") < col("right_id"))
      .filter(col("left_new") || col("right_new"))
      .select(col("left_id"), col("right_id"))
      .distinct()
    val verified = jaccardVerifiedPairs(all, idCol, textCol, cands,
      n = shingleSize, threshold = threshold)
    val matches = verified.select(col("left_id").as("doc_id"), col("right_id").as("other"))
      .unionAll(verified.select(col("right_id").as("doc_id"), col("left_id").as("other")))
    val flags = all.select(col(idCol).as("other"), col("__new").as("__onew"))
    val dupOf = matches.join(flags, Seq("other"))
      .filter(!col("__onew") || col("other") < col("doc_id"))
      .groupBy(col("doc_id"))
      .agg(min(col("other")).as("dup_of"))
    newDocs.select(col(idCol).as("doc_id"))
      .join(dupOf, Seq("doc_id"), "left")
      .withColumn("is_duplicate", col("dup_of").isNotNull)
      .select(col("doc_id"), col("is_duplicate"), col("dup_of"))
  }

  /** Transitive duplicate groups from a pair list: connected components
    * by iterative min-label propagation (label = smallest doc id in the
    * component). O(component diameter) rounds, each one shuffle on the
    * join key — near-dup components are shallow in practice (dup clusters
    * are cliques or stars from LSH), so this converges in 2–3 rounds.
    * Output: (doc_id, group_id) for every id appearing in a pair; the
    * canonical keeper of a group is its group_id.
    *
    * Each round's labels are eagerly `localCheckpoint`ed: lineage depth
    * stays O(1) across iterations instead of growing one join per round
    * (at 100 TB and deep components an unbounded plan re-executes or blows
    * analysis time), and each superseded round's checkpoint blocks are
    * unpersisted so executor storage holds at most two label snapshots.
    * The executor-loss caveat in the [[Rounds]] scaladoc applies: a lost
    * executor mid-closure fails the job (no lineage to recompute from);
    * accepting the restart is cheap here (each round is one join+agg;
    * the whole closure is cheap to rerun relative to the candidate
    * generation that feeds it).
    * Throws if the loop exits via `maxIters` without converging — silent
    * partially-propagated labels would be wrong groups. */
  def duplicateGroups(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    val edges = Rounds.checkpoint(
      pairs.select(col("left_id").as("a"), col("right_id").as("b"))
        .union(pairs.select(col("right_id").as("a"), col("left_id").as("b")))
        .distinct())
    var labels = Rounds.checkpoint(
      edges.select(col("a").as("id")).distinct()
        .select(col("id"), col("id").as("label")))
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      // One join + one aggregation per round (2 shuffles, down from the
      // join → groupBy → left-join formulation's 3): each node's new label
      // is min over its neighbors' labels UNION its own, delivered as
      // per-edge contributions plus a self row. The "did my label shrink"
      // flag rides inside the frame the round materializes anyway
      // (localCheckpoint is eager), so the convergence probe below is a
      // scan of already-computed blocks — not an extra join+count job.
      val contributions = edges
        .join(labels, edges("b") === labels("id"))
        .select(col("a").as("nid"), col("label"), lit(false).as("self"))
        .union(labels.select(col("id").as("nid"), col("label"), lit(true).as("self")))
      val updated = Rounds.checkpoint(
        contributions.groupBy(col("nid").as("id"))
          .agg(min(col("label")).as("label"),
            (min(col("label")) <
              max(when(col("self"), col("label")))).as("__changed")))
      val changed = updated.filter(col("__changed")).limit(1).count()
      Rounds.free(labels)
      labels = updated.drop("__changed")
      converged = changed == 0
      i += 1
    }
    Rounds.free(edges)
    if (!converged) {
      Rounds.free(labels)
      throw new IllegalStateException(
        s"duplicateGroups did not converge within $maxIters iterations " +
          "(component diameter exceeds maxIters); raise maxIters")
    }
    labels.select(col("id").as("doc_id"), col("label").as("group_id"))
  }

  /** Representative selection — the step after grouping that actually
    * deduplicates the corpus: per duplicate group keep the best document
    * (highest `scoreCol`, tie-break smaller id — "keep the longest
    * version" with the default n_chars score), and pass every ungrouped
    * document through untouched.
    *
    * Scale shape: the window runs ONLY over the grouped docs (the join
    * with `groups` prunes to duplicate members first — at web scale a
    * few percent of the corpus); the singleton path is a left-anti join
    * with no window and no sort, so the bulk of the corpus crosses one
    * equi-join exchange and nothing else. group_size rides the same
    * partition as the rank, so both windows share one exchange. */
  def keepBest(docs: DataFrame, groups: DataFrame, idCol: String = "doc_id",
      scoreCol: String = "n_chars"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byGroup = Window.partitionBy(col("group_id"))
    val rank = byGroup.orderBy(col(scoreCol).desc, col(idCol))
    val reps = docs.join(groups, Seq(idCol))
      .withColumn("group_size", count(lit(1)).over(byGroup))
      .withColumn("__rn", row_number().over(rank))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("group_id"), col("group_size"), col(scoreCol))
    val singles = docs.join(groups, Seq(idCol), "left_anti")
      .select(col(idCol), col(idCol).as("group_id"),
        lit(1L).as("group_size"), col(scoreCol))
    reps.unionByName(singles)
  }

  /** Soft deduplication: instead of DROPPING near-duplicates, keep every
    * document and down-weight duplicate-cluster members for the training
    * loss — weight = 1/|cluster| so each cluster contributes one
    * document's worth of gradient mass in aggregate (the published
    * SoftDeDup idea: duplicate-aware loss reweighting beats hard removal
    * when duplicates carry slight variations). Singletons weigh 1.
    *
    * Scale shape: the groups frame is sized by the DUPLICATE subset, not
    * the corpus; the size aggregate runs over it alone, and the only
    * corpus-sized operation is the final left join, which AQE broadcasts
    * when the duplicate subset is small (the common case). The weight is
    * one double division from exact integers — IEEE-identical on any
    * engine, so the query hash-gates. */
  def softDedupWeights(docs: DataFrame, groups: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val sz = groups.groupBy(col("group_id"))
      .agg(count(lit(1)).as("group_size"))
    docs.select(col(idCol))
      .join(groups.join(sz, Seq("group_id"))
        .select(col(idCol), col("group_size")), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("group_size"), lit(1L)).as("group_size"),
        (lit(1.0) / coalesce(col("group_size"), lit(1L)).cast("double"))
          .as("weight"))
  }

  /** One-call corpus dedup — the full pipeline a training-data user runs:
    * MinHash-LSH candidates → exact n-gram-Jaccard verify (≥ threshold) →
    * transitive duplicate groups → every doc labeled with its group id
    * (the keeper = min doc id; singletons keep themselves). Filter on
    * `!is_duplicate` for the deduplicated corpus. Every stage is the
    * scale shape documented in SCALE.md: no all-pairs product anywhere. */
  def dedupCorpus(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, shingleSize: Int = 3): DataFrame = {
    val cands = minhashLshCandidates(docs, idCol, textCol,
      shingleSize = shingleSize)
    val verified = jaccardVerifiedPairs(docs, idCol, textCol, cands,
      n = shingleSize, threshold = threshold)
    val groups = duplicateGroups(verified).withColumnRenamed("doc_id", "__gid")
    docs.join(groups, docs(idCol) === col("__gid"), "left")
      .withColumn("group_id", coalesce(col("group_id"), col(idCol)))
      .withColumn("is_duplicate", col("group_id") =!= col(idCol))
      .drop("__gid")
  }

  /** Cross-document repeated-line removal — the boilerplate-line pass of a
    * web-corpus pipeline (nav bars, cookie banners, footers recur verbatim
    * across pages; removing them beats whole-doc dedup, which never fires
    * because the surrounding text differs). A line occurring in more than
    * `maxDocs` DISTINCT documents is dropped from EVERY document (all
    * occurrences); repeats confined to one document are kept.
    *
    * Shape: posexplode lines (narrow) → per-doc-distinct line keys →
    * count docs per key → anti-join occurrences against the heavy keys →
    * re-assemble per doc. Three linear shuffles, all on md5(line) or the
    * doc id — never the line text itself (a 32-hex key per row through
    * the exchanges vs arbitrarily long boilerplate lines), and never a
    * pairwise product. Per-doc reassembly state is bounded by the largest
    * single document, the same bound as Training.buildSequences.
    *
    * Returns one row per input doc: (idCol, text_clean, n_lines,
    * n_dropped). Docs whose every line is boilerplate come back with
    * text_clean = "" — they're the filter's point, not an edge case.
    *
    * @param delimiter literal (regex-quoted) line separator
    * @param maxDocs   drop lines seen in more than this many distinct docs */
  def dedupLines(docs: DataFrame, idCol: String, textCol: String,
      delimiter: String = "\n", maxDocs: Long = 1): DataFrame = {
    val sep = java.util.regex.Pattern.quote(delimiter)
    val lines = docs.select(col(idCol),
        posexplode(split(col(textCol), sep)).as(Seq("pos", "line")))
      .withColumn("line_h", md5(col("line")))
    val heavy = lines.select(col(idCol), col("line_h")).distinct()
      .groupBy(col("line_h")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > maxDocs)
      .select(col("line_h"))
    val kept = lines.join(heavy, Seq("line_h"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol)).agg(
      array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          x => x("line")),
        delimiter).as("text_clean"),
      count(lit(1)).as("__n_kept"))
    docs.select(col(idCol),
        size(split(col(textCol), sep)).cast("long").as("n_lines"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        col("n_lines"),
        (col("n_lines") - coalesce(col("__n_kept"), lit(0L))).as("n_dropped"))
  }

  /** Content-defined chunk dedup (the rsync/FastCDC/CDC family): split
    * every document at content-derived boundaries (see
    * [[graft.functions.CdcChunkList]] — md5-of-w-gram % d == 0), hash
    * each chunk, and report every chunk that occurs more than once
    * across the corpus. Because boundaries derive from CONTENT, an
    * insertion early in a document shifts only the chunk it lands in —
    * the chunks after the next boundary re-align and still dedupe,
    * which fixed-offset blocking can never do. This is the storage-side
    * twin of span dedup: it finds shared byte ranges for chunk-level
    * storage/transfer dedup rather than training-set scrubbing.
    *
    * Plan shape: chunking is one fused codegen'd projection (no
    * per-position explode — the expression walks the string once per
    * row), then one explode (narrow) and ONE keyed aggregate on the
    * chunk hash. At 100 TB the only exchange is chunk-hash-keyed rows,
    * map-side combined; expected chunk length is d chars so the
    * exchange carries ~|corpus|/d · (hash, len) rows, never text.
    *
    * Returns (chunk_hash, chunk_len, n_occ, n_docs), n_occ ≥ 2. */
  def cdcChunkDedup(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 8, d: Int = 16): DataFrame =
    docs.select(col(idCol),
        explode(graft.functions.textnative.cdc_chunks(col(textCol), w, d))
          .as("chunk"))
      .filter(length(col("chunk")) >= 1)
      .groupBy(md5(col("chunk")).as("chunk_hash"),
        length(col("chunk")).cast("long").as("chunk_len"))
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col(idCol)).as("n_docs"))
      .filter(col("n_occ") >= 2)

  /** Token-window rows for span-level dedup: one row per n-token window
    * of each document, windows overlapping (stride 1). Docs shorter than
    * n tokens contribute nothing (the pre-filter also keeps
    * sequence(0, size-n) from ever seeing a negative stop, which Spark
    * would otherwise walk DOWNWARD). The explode is narrow — no shuffle
    * until whatever aggregation consumes the rows. */
  private def posSpanWindows(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    docs
      .filter(size(split(trim(col(textCol)), "\\s+")) >= n)
      .select(col(idCol), split(trim(col(textCol)), "\\s+").as("__w"))
      .select(col(idCol),
        posexplode(transform(sequence(lit(0), size(col("__w")) - n),
          i => concat_ws(" ", slice(col("__w"), i + lit(1), lit(n)))))
          .as(Seq("wpos", "span")))

  private def spanWindows(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    posSpanWindows(docs, idCol, textCol, n).select(col(idCol), col("span"))

  /** Engine-independent 60-bit span key: integer value of the first 15
    * hex digits of md5 — wide enough that a 100-TB corpus' span
    * population stays collision-sparse (vs the 32-bit prefix the LSH
    * band keys use, where collisions only cost a verify), and under the
    * 62-bit ceiling ANSI-mode arithmetic needs. */
  private def spanKey(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Cross-document repeated-span discovery — the exact-substring pass of
    * training-data dedup (find every n-token window that recurs across
    * documents; the published form uses suffix arrays over the whole
    * corpus, this is the window-hash formulation that distributes): every
    * overlapping n-token window occurring in at least `minDocs` DISTINCT
    * documents, with total occurrence and document counts.
    *
    * Shape: narrow window explode → one hash aggregation keyed on the
    * span (count + distinct-doc count share the exchange). Output is the
    * repeated-span dictionary — at web scale a small fraction of the
    * window population (boilerplate, licenses, quoted passages), which
    * downstream passes broadcast or bucket-join against. */
  def repeatedSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8, minDocs: Long = 2): DataFrame =
    spanWindows(docs, idCol, textCol, n)
      .groupBy(col("span"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col(idCol)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)

  /** Per-document duplicated-span ratio — the per-doc verdict built on
    * [[repeatedSpans]]: what fraction of a doc's n-token windows also
    * appear in other documents. The corpus-level filter drops docs whose
    * ratio exceeds a threshold (near-total overlap = a copy) and feeds
    * middling ratios to span REMOVAL instead.
    *
    * Shape: windows are reduced to 60-bit md5 keys BEFORE any exchange
    * (a long per row, never span text); the heavy-key set (≥ minDocs
    * docs) comes from one distinct+count aggregation; per-doc totals are
    * a map-side-combinable count; and the dup count is a semi-join of
    * keyed windows against the heavy set — all equi-joins on the hash,
    * no pairwise product. dup_ratio is a single IEEE division of two
    * exact integers, so both engines produce the identical double.
    *
    * Output: (idCol, n_windows, n_dup, dup_ratio) for every doc with at
    * least one window (docs under n tokens have no windows — no ratio). */
  def spanDupRatio(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8, minDocs: Long = 2): DataFrame = {
    // Aggregate the token-scale window stream ONCE into the compact
    // (doc, key, multiplicity) frame, and persist THAT: the three
    // consumers below (doc-frequency, per-doc totals, per-doc dup
    // counts) would otherwise each re-run the explode+md5 pass — the
    // dominant cost at corpus scale (the bm25 lesson). The persisted
    // frame is distinct (doc, span) pairs, far smaller than the raw
    // window stream, and the explode's output reaches the exchange
    // map-side-combined (a doc's windows are co-located in its input
    // partition).
    val dk = spanWindows(docs, idCol, textCol, n)
      .select(col(idCol), spanKey(col("span")).as("__h"))
      .groupBy(col(idCol), col("__h")).agg(count(lit(1)).as("__c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val heavy = dk
      .groupBy(col("__h")).agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("__h"))
    val totals = dk.groupBy(col(idCol))
      .agg(sum(col("__c")).as("n_windows"))
    val dups = dk.join(heavy, Seq("__h"), "left_semi")
      .groupBy(col(idCol)).agg(sum(col("__c")).as("n_dup"))
    totals.join(dups, Seq(idCol), "left")
      .select(col(idCol), col("n_windows"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        (coalesce(col("n_dup"), lit(0L)).cast("double") / col("n_windows"))
          .as("dup_ratio"))
  }

  /** Span REMOVAL — the cleaning step [[spanDupRatio]] feeds: delete
    * every token covered by at least one globally-repeated n-token window
    * (≥ `minDocs` distinct docs) and re-assemble the survivors in order.
    * Overlapping duplicated windows merge naturally: coverage is a
    * DISTINCT (doc, token-position) set, so a token under three
    * overlapping repeated windows is removed once. This is the span-level
    * analogue of [[dedupLines]] — it fires on boilerplate that is not
    * line-aligned (inline licenses, quoted passages, templated sentences).
    *
    * Shape: window keys are 60-bit md5 longs before any exchange; the
    * heavy set comes from one distinct+count aggregation; coverage is a
    * semi-join then a bounded explode (n rows per duplicated window);
    * survivors are an anti-join of token rows against coverage on
    * (doc, pos); re-assembly state is bounded by the largest single
    * document, as in [[dedupLines]]. No pairwise product anywhere.
    *
    * Output: one row per input doc — (idCol, text_clean, n_tokens,
    * n_removed); docs shorter than n tokens pass through untouched. */
  def scrubSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8, minDocs: Long = 2): DataFrame = {
    // wins feeds both the doc-frequency count and the coverage semi-join;
    // persist the fixed-width (id, wpos, key) rows so the explode+md5
    // pass runs once, not per consumer (columnar-cached longs — a
    // fraction of the source text it would otherwise re-scan).
    val wins = posSpanWindows(docs, idCol, textCol, n)
      .select(col(idCol), col("wpos"), spanKey(col("span")).as("__h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val heavy = wins.select(col(idCol), col("__h")).distinct()
      .groupBy(col("__h")).agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("__h"))
    val covered = wins.join(heavy, Seq("__h"), "left_semi")
      .select(col(idCol),
        explode(sequence(col("wpos"), col("wpos") + (n - 1))).as("pos"))
      .distinct()
    val toks = docs.select(col(idCol),
      posexplode(split(trim(col(textCol)), "\\s+")).as(Seq("pos", "tok")))
    val kept = toks.join(covered, Seq(idCol, "pos"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol)).agg(
      array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x("tok")),
        " ").as("text_clean"),
      count(lit(1)).as("__n_kept"))
    docs.select(col(idCol),
        size(split(trim(col(textCol)), "\\s+")).cast("long").as("n_tokens"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("__n_kept"), lit(0L))).as("n_removed"))
  }

  /** Embedding near-duplicate pairs: sign-bit LSH bucket join, then exact
    * cosine ≥ threshold verify. */
  /** Doc-in-doc detection by asymmetric shingle CONTAINMENT
    * c(a→b) = |S(a)∩S(b)| / |S(a)| — the quote/subset relation Jaccard
    * misses (a short doc fully quoted inside a long one has high
    * containment but low Jaccard, because the union is dominated by the
    * long doc).
    *
    * Candidates come only from docs sharing ≥ `minShared` INFORMATIVE
    * shingles: shingles with document frequency > `maxDf` are dropped
    * before the self-join, because a boilerplate shingle in half the
    * corpus creates quadratic candidate fan-out while carrying no
    * containment signal — the df cap is what bounds the join at 100 TB
    * (the same reason the co-purchase graph mines above a support
    * floor). Both the intersection and the denominator count informative
    * shingles only, so the ratio is internally consistent. Ordered pairs:
    * (doc_a contained-in doc_b) and the reverse are distinct rows.
    * `idCol` must be integral (ids flow through a Long-typed bounded
    * aggregation buffer). */
  def shingleContainment(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, maxDf: Long = 50, minShared: Long = 3,
      minContainment: Double = 0.8): DataFrame = {
    // ONE keyed shuffle of the full shingle stream: group each shingle
    // straight to its doc list (duplicates kept — multiset semantics)
    // via the SIZE-BOUNDED collector (cap = maxDf+1, so a
    // corpus-frequency boilerplate shingle holds at most maxDf+1 ids in
    // any buffer — never its full document list), apply the df cap on
    // the grouped list size, and form the ordered candidate pairs per
    // shingle with the same bounded lambda the co-purchase edge build
    // uses. The pre-r8 form shuffled the corpus-sized (k, doc) frame
    // three times (df-count groupBy, df-cap join, self-join legs); this
    // one touches it once with bounded state, and everything after the
    // cap is bounded by maxDf·(maxDf−1) pairs per shingle. Pair counts
    // are IDENTICAL to the k-self-join: per shingle a doc pair (a,b),
    // a≠b, contributes cnt(a)·cnt(b) ordered row pairs in both forms,
    // and n_a counts informative rows (duplicates included) in both.
    require(maxDf < Int.MaxValue, "maxDf must fit an Int buffer cap")
    val boundedCollect = udaf(new BoundedCollectAggregator((maxDf + 1).toInt))
    val g = docs.select(col(idCol).cast("long").as("doc_id"),
        explode(graft.functions.textnative
          .shingle_md5_keys(col(textCol), n)).as("k"))
      .groupBy(col("k")).agg(boundedCollect(col("doc_id")).as("ds"))
      .filter(size(col("ds")) <= maxDf)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = g.select(explode(col("ds")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_a"))
    val ds = col("ds")
    val pairs = flatten(transform(ds, a =>
      transform(ds, b => struct(a.as("a"), b.as("b")))))
    g.select(explode(pairs).as("p"))
      .filter(col("p.a") =!= col("p.b"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(sizes.select(col("doc_id").as("a"), col("n_a")), Seq("a"))
      .select(col("a").as("doc_a"), col("b").as("doc_b"),
        col("n_shared"), col("n_a"),
        (col("n_shared") / col("n_a")).as("containment"))
      .filter(col("containment") >= minContainment)
  }

  /** EXACT set-similarity self-join by PREFIX FILTERING (the
    * SSJoin/PPJoin family — Chaudhuri et al. ICDE'06, Xiao et al.
    * WWW'08): two token sets with Jaccard ≥ t must share a token among
    * each set's first p = |T| − ⌈t·|T|⌉ + 1 tokens under ANY global
    * token order (fewer than p prefix tokens shared ⇒ the overlap
    * bound ⌈t·max(|A|,|B|)⌉ is unreachable). Ordering by ASCENDING
    * document frequency makes the prefix the RAREST tokens, so the
    * candidate join keys on cold keys by construction — the exact
    * complement to MinHash-LSH: no probabilistic recall (every
    * qualifying pair IS generated), at the cost of fan-out bounded by
    * df(prefix token) rather than a band-bucket size. Corpus-hot
    * boilerplate tokens land at the END of every order and enter a
    * prefix only for docs made almost entirely of them.
    *
    * Plan: token df is one grouped count; per-doc rank/size windows are
    * PARTITIONED by doc (bounded by doc length); candidates are one
    * equi-join on prefix tokens; the verify walks the two sorted
    * 64-bit token-hash arrays per candidate pair (codegen'd
    * [[graft.functions.JaccardSorted]] merge — hash-count Jaccard
    * equals string-set Jaccard, the dedup_ngram_jaccard convention).
    * Sets are the DISTINCT word n-shingles (the dedup-family
    * granularity; unigram sets degenerate on small vocabularies). The
    * prefix order itself need not match the oracle's: ANY total token
    * order yields every qualifying pair, and only verified pairs leave
    * the operator. Returns (doc_a, doc_b, jaccard), doc_a < doc_b. */
  def prefixFilterPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, minJaccard: Double = 0.5): DataFrame = {
    require(minJaccard > 0 && minJaccard <= 1, "minJaccard in (0,1]")
    import org.apache.spark.sql.expressions.Window
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val toks = docs.select(col(idCol).cast("long").as("doc_id"),
        explode(array_distinct(graft.functions.textnative
          .shingle_md5_keys(col(textCol), n))).as("tok"))
      .persist(lvl)
    val dfq = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val byDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("tok"))
    val whole = Window.partitionBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val pfx = toks.join(dfq, Seq("tok"))
      .withColumn("sz", count(lit(1)).over(whole))
      .withColumn("rnk", row_number().over(byDoc))
      .filter(col("rnk") <=
        col("sz") - ceil(lit(minJaccard) * col("sz")) + 1)
      .select(col("tok"), col("doc_id"))
    val cand = pfx.select(col("tok"), col("doc_id").as("a"))
      .join(pfx.select(col("tok"), col("doc_id").as("b")), Seq("tok"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    val sigs = docs.select(col(idCol).cast("long").as("doc_id"),
        graft.functions.textnative.shingle_hashes(col(textCol), n).as("sh"))
      .persist(lvl)
    cand
      .join(sigs.select(col("doc_id").as("a"), col("sh").as("sha")), Seq("a"))
      .join(sigs.select(col("doc_id").as("b"), col("sh").as("shb")), Seq("b"))
      .select(col("a").as("doc_a"), col("b").as("doc_b"),
        graft.functions.textnative.jaccard_sorted(col("sha"), col("shb"))
          .as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  def embeddingNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, nPlanes: Int = 12, dim: Int = 64): DataFrame = {
    val planes = Similarity.hyperplanes(nPlanes, dim)
    val b = emb.select(col(idCol).as("vid"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("bucket", Similarity.lshBucket(col("v"), planes))
    val l = b.select(col("bucket"), col("vid").as("left_id"), col("v").as("lv"))
    val r = b.select(col("bucket"), col("vid").as("right_id"), col("v").as("rv"))
    l.join(r, Seq("bucket"))
      .filter(col("left_id") < col("right_id"))
      .select(col("left_id"), col("right_id"),
        Similarity.cosine(col("lv"), col("rv")).as("cos"))
      .filter(col("cos") >= threshold)
      .distinct()
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the int8-quantized embeddings with fixed-round Lloyd's
    * ([[Similarity.kmeansAssignments]]), then inside each cluster drop
    * every vector that has a LOWER-id neighbor at cosine ≥ tauNum/tauDen
    * (the deterministic stand-in for the paper's keep-one-per-ε-group).
    *
    * The cosine test runs in exact integer arithmetic so the verdict
    * hash-gates: dot ≥ 0 ∧ dot²·tauDen² ≥ tauNum²·|a|²·|b|². At d=64
    * int8 the largest term is ≈ 2^47, well inside double exactness.
    *
    * Scale: pair formation is per-cluster quadratic BY DESIGN — that is
    * SemDeDup's contract. k is the knob: choose k ∝ corpus/√pairs-budget
    * so each cluster fits a partition; the self-join is an equi-join on
    * cid (bucketed exchange, never all-pairs across clusters), and the
    * assignment frame is persisted so clustering runs once, not three
    * times (the bm25 lesson). `maxClusterSize` is the hot-cluster guard
    * for corpora where one boilerplate cluster would dominate: see
    * [[semanticDupPairs]]. The default (no cap) keeps the paper-exact
    * all-pairs semantics the oracle replays. */
  def semanticDedup(emb: DataFrame, k: Int, iters: Int,
      tauNum: Int, tauDen: Int,
      maxClusterSize: Int = Int.MaxValue, dim: Int = 64): DataFrame = {
    // bound the threshold so the exact-verdict contract holds: with
    // d=64 int8, dot²·tauDen² and tauNum²·|a|²·|b|² reach ~2^53 once
    // tau components pass ~180 — beyond that both engines still agree
    // (identical IEEE trees) but the threshold itself loses exactness,
    // so the bound IS the exactness envelope, not a style choice
    require(tauNum >= 0 && tauDen > 0 && tauNum <= 180 && tauDen <= 180,
      s"tau = $tauNum/$tauDen outside the d=64 int8 exact-verdict " +
        "envelope [0,180]")
    require(k >= 1 && iters >= 1, "k and iters must be >= 1")
    require(maxClusterSize >= 2, "maxClusterSize must be >= 2")
    val assigned = Similarity.kmeansAssignments(emb, k, iters)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dups =
      semanticDupPairs(assigned, tauNum, tauDen, maxClusterSize, dim)
        .groupBy(col("idb")).agg(count(lit(1)).as("n_dup_lower"))
        .select(col("idb").as("vec_id"), col("n_dup_lower"))
    assigned.join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        col("n_dup_lower").isNull.as("kept"),
        coalesce(col("n_dup_lower"), lit(0L)).as("n_dup_lower"))
  }

  /** SemDeDup's pair stage over a (vec_id, qv, cid) assignment frame:
    * emits every within-cluster (ida < idb) pair whose exact-integer
    * cosine clears tauNum/tauDen.
    *
    * Hot-cluster guard: a single boilerplate-heavy cluster is O(|c|²)
    * at corpus scale no matter how k is tuned, so clusters are first
    * re-split into sign-LSH sub-cells using the fewest hyperplane bits
    * that bring the EXPECTED cell size under `maxClusterSize` (clusters
    * already inside the cap keep one cell — semantics unchanged). Cells
    * that are still oversized after the split (near-identical vectors
    * share every LSH sign, so no similarity-preserving split can break
    * them up) fall back to a REPRESENTATIVE prune: each member is
    * compared only to the cell's minimum-id vector — |cell|−1 pairs
    * instead of |cell|²/2, which is exactly the right answer for the
    * pathological case (a pile of near-duplicates all collapses onto
    * the representative; recall is lost only for members similar to a
    * mid-cell vector but not to the representative). */
  def semanticDupPairs(assigned: DataFrame, tauNum: Int, tauDen: Int,
      maxClusterSize: Int = Int.MaxValue, dim: Int = 64): DataFrame = {
    import graft.functions.native.dot_product
    def tauPass(qa: Column, qb: Column): Column = {
      val dot = dot_product(qa, qb)
      dot >= 0 &&
        dot * dot * lit((tauDen * tauDen).toDouble) >=
          lit((tauNum * tauNum).toDouble) *
            dot_product(qa, qa) * dot_product(qb, qb)
    }
    if (maxClusterSize == Int.MaxValue) {
      val a = assigned.select(col("cid"), col("vec_id").as("ida"),
        col("qv").as("qa"))
      val b = assigned.select(col("cid"), col("vec_id").as("idb"),
        col("qv").as("qb"))
      a.join(b, Seq("cid"))
        .filter(col("ida") < col("idb"))
        .filter(tauPass(col("qa"), col("qb")))
        .select(col("ida"), col("idb"))
    } else {
      val planes = Similarity.hyperplanes(30, dim, seed = 97L)
      val sizes = assigned.groupBy(col("cid")).agg(count(lit(1)).as("__cn"))
      val bits = greatest(lit(0.0), ceil(log(2.0,
        col("__cn").cast("double") / maxClusterSize)))
      val cells = assigned.join(broadcast(sizes), Seq("cid"))
        .withColumn("__sub",
          pmod(Similarity.lshBucket(col("qv").cast("array<double>"), planes),
            pow(lit(2.0), bits).cast("long")))
        .drop("__cn")
      val cellSizes = cells.groupBy(col("cid"), col("__sub"))
        .agg(count(lit(1)).as("__sn"))
      // persisted: b, aSmall, and reps all read this frame — without it
      // the LSH projection + size join recompute once per branch (the
      // bm25 lesson this file already cites)
      val sized = cells.join(cellSizes, Seq("cid", "__sub"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val b = sized.select(col("cid"), col("__sub"), col("__sn"),
        col("vec_id").as("idb"), col("qv").as("qb"))
      // in-cap cells: exact all-pairs, as in the unguarded path
      val aSmall = sized.filter(col("__sn") <= maxClusterSize)
        .select(col("cid"), col("__sub"), col("vec_id").as("ida"),
          col("qv").as("qa"))
      val exact = aSmall
        .join(b.filter(col("__sn") <= maxClusterSize)
          .drop("__sn"), Seq("cid", "__sub"))
        .filter(col("ida") < col("idb"))
      // still-oversized cells: representative prune (min id vs the rest)
      val reps = sized.filter(col("__sn") > maxClusterSize)
        .groupBy(col("cid"), col("__sub"))
        .agg(min(col("vec_id")).as("ida"),
          min_by(col("qv"), col("vec_id")).as("qa"))
      val capped = reps
        .join(b.filter(col("__sn") > maxClusterSize)
          .drop("__sn"), Seq("cid", "__sub"))
        .filter(col("ida") < col("idb"))
      exact.select(col("ida"), col("qa"), col("idb"), col("qb"))
        .unionByName(capped.select(col("ida"), col("qa"), col("idb"), col("qb")))
        .filter(tauPass(col("qa"), col("qb")))
        .select(col("ida"), col("idb"))
    }
  }

  /** Fellegi–Sunter probabilistic record linkage (Fellegi & Sunter,
    * JASA 1969 — the model behind Splink/dedupe-style entity
    * resolution): candidate pairs from SORTED-NEIGHBORHOOD blocking,
    * scored by per-field agreement odds, classified by an EXACT rational
    * threshold comparison.
    *
    * Blocking: records sort by (`ordCol`, id) WITHIN `blockCol`
    * partitions and each record pairs with its next `window` neighbors —
    * one partitioned window (never a global sort), O(n·window) candidate
    * pairs at any scale, the classic SNM bound. All `window` leads ride
    * one WindowExec.
    *
    * Scoring: the u-probability of field i (chance agreement between two
    * RANDOM records) is estimated exactly from the corpus as
    * u_i = Σ_v c_v(c_v−1) / n(n−1), then reduced to parts-per-million by
    * a floor division made exact by an off-by-one correction (decimal
    * division rounds at scale 6; the correction re-anchors to the true
    * floor, so both engines of the gate compute the identical integer).
    * The m-probability is the caller's `mNum/mDen` prior (one value for
    * every field — the standard starting point before EM refinement).
    * The match-odds ratio R = Π_i agree? (m/u_i) : ((1−m)/(1−u_i)) is
    * then compared to `thresholdNum/thresholdDen` by integer
    * cross-multiplication in DECIMAL(38,0): with ppm-reduced u the
    * products are bounded by (mDen·10⁶)^k·threshold — INDEPENDENT of
    * corpus size, so the exact form never overflows at scale FOR ANY
    * (k, mDen, threshold) the guard below admits (the naïve
    * n(n−1)-denominator form grows as n^(2k) and dies at sf0.1 with 4
    * fields). The guard is the exact bound itself: a require rejects
    * any call where (mDen·10⁶)^k·max(thresholdNum, thresholdDen)
    * reaches 10³⁸ — at the defaults that admits k ≤ 5 comparison
    * fields (k = 6 reaches ~5.3·10⁴¹ and would overflow DECIMAL(38,0)
    * mid-product). A field that never (ppm 0) or always (ppm 10⁶) agrees by
    * chance makes the corresponding factor's denominator 0 = infinite
    * evidence; the cross-multiplied comparison handles that without
    * special cases because nothing ever divides.
    *
    * u estimation is one small groupBy per field (k bounded scans);
    * each result is a 1-row broadcast joined onto the pair stream.
    * Output per candidate pair: (left_id, right_id, pattern, n_agree,
    * is_match) — all integer/string/boolean, fully hash-gateable. */
  def erScoredPairs(records: DataFrame, idCol: String, blockCol: String,
      ordCol: String, fieldCols: Seq[String], window: Int = 3,
      thresholdNum: Long = 10L, thresholdDen: Long = 1L,
      mNum: Long = 9L, mDen: Long = 10L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(window >= 1 && window <= 16, "window in [1,16]")
    require(mNum > 0 && mNum < mDen, "0 < m < 1")
    require(thresholdNum > 0 && thresholdDen > 0, "threshold > 0")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val SCALE = 1000000L
    // Exact DECIMAL(38,0) headroom guard: each cross-multiplied side is a
    // product of k per-field factors, every factor ≤ mDen·SCALE (numerator
    // factors are m·10⁶ or (1−m)·10⁶ < mDen·10⁶; denominator factors are
    // mDen·ppm with ppm ≤ 10⁶), times one threshold term — so the largest
    // intermediate is (mDen·10⁶)^k·max(tNum, tDen) and must stay < 10³⁸.
    require(fieldCols.nonEmpty &&
        ((BigInt(mDen) * SCALE).pow(fieldCols.size) *
          BigInt(thresholdNum max thresholdDen)) < BigInt(10).pow(38),
      s"DECIMAL(38,0) overflow: (mDen*1e6)^k * max(thresholdNum, thresholdDen)" +
        s" must stay under 1e38 — with mDen=$mDen, threshold " +
        s"$thresholdNum/$thresholdDen that caps k at " +
        s"${Iterator.from(1).takeWhile(k => (BigInt(mDen) * SCALE).pow(k) *
            BigInt(thresholdNum max thresholdDen) < BigInt(10).pow(38))
            .toSeq.lastOption.getOrElse(0)} comparison fields " +
        s"(got ${fieldCols.size})")
    // exact ppm of u_i: floor(Σc(c−1)·10⁶ / n(n−1)), floor-corrected
    val uFrames = fieldCols.map { f =>
      val sums = records.groupBy(col(f)).agg(count(lit(1)).as("c"))
        .agg(
          coalesce(sum((col("c").cast(dec) * (col("c") - lit(1)).cast(dec))),
            lit(0).cast(dec)).as("un"),
          (sum(col("c")).cast(dec) * (sum(col("c")) - lit(1)).cast(dec)).as("ud"))
      val qRaw = floor(col("un") * lit(SCALE) / col("ud")).cast(dec)
      val scaled = col("un") * lit(SCALE)
      val q = when(qRaw * col("ud") > scaled, qRaw - 1)
        .when((qRaw + 1) * col("ud") <= scaled, qRaw + 1)
        .otherwise(qRaw)
      sums.select(q.cast("long").as(s"__ppm_$f"))
    }
    // one window pass: all `window` leads of (id, fields) as one array
    val w = Window.partitionBy(col(blockCol)).orderBy(col(ordCol), col(idCol))
    val leadStruct = (j: Int) => struct(
      lead(col(idCol), j).over(w).as("rid") +:
        fieldCols.map(f => lead(col(f), j).over(w).as(f)): _*)
    val pairs = records
      .select(col(idCol).as("left_id") +:
        fieldCols.map(f => col(f).as(s"__l_$f")) :+
        array((1 to window).map(leadStruct): _*).as("__cands"): _*)
      .select(col("left_id") +: fieldCols.map(f => col(s"__l_$f")) :+
        explode(col("__cands")).as("__r"): _*)
      .filter(col("__r.rid").isNotNull)
    val withU = uFrames.foldLeft(pairs)((df, u) => df.crossJoin(broadcast(u)))
    val agrees = fieldCols.map(f => col(s"__l_$f") <=> col(s"__r.$f"))
    // R's numerator factors are constants (agree → m·10⁶, else (1−m)·10⁶);
    // the denominator carries the ppm odds. Bounded ≤ (mDen·10⁶)^k.
    val rNum = agrees.map(ag =>
        when(ag, lit(mNum * SCALE)).otherwise(lit((mDen - mNum) * SCALE)).cast(dec))
      .reduce((x, y) => (x * y).cast(dec))
    val rDen = fieldCols.zip(agrees).map { case (f, ag) =>
        (lit(mDen).cast(dec) *
          when(ag, col(s"__ppm_$f")).otherwise(lit(SCALE) - col(s"__ppm_$f")).cast(dec))
          .cast(dec)
      }
      .reduce((x, y) => (x * y).cast(dec))
    withU.select(
      col("left_id"),
      col("__r.rid").as("right_id"),
      concat(agrees.map(ag => when(ag, lit("1")).otherwise(lit("0"))): _*).as("pattern"),
      agrees.map(ag => when(ag, lit(1L)).otherwise(lit(0L))).reduce(_ + _).as("n_agree"),
      (rNum * lit(thresholdDen).cast(dec) >=
        rDen * lit(thresholdNum).cast(dec)).as("is_match"))
  }

  /** Maximal-repeat enumeration — the suffix-array-equivalent
    * (ExactSubstr-class) exact-substring dedup pass: every token span of
    * length >= `minLen` that occurs at least twice in the corpus
    * (occurrences counted with multiplicity, within- and cross-document)
    * AND is maximal in the stringology sense — LEFT-maximal (not every
    * occurrence is preceded by the same token; a document-start
    * occurrence is never extendable) and RIGHT-maximal (symmetrically on
    * the following token / document end). Maximality is what separates
    * this from [[repeatedSpans]]' fixed-n window dictionary: a 64-token
    * duplicated passage reports ONCE at length 64, never as its 33
    * embedded 32-token sub-windows (each sub-window's occurrences all
    * extend identically, so none is maximal). These are exactly the
    * internal nodes of depth >= minLen of the corpus suffix tree — the
    * repeat dictionary "Deduplicating Training Data" builds with a
    * suffix array; this is the distributed formulation.
    *
    * Algorithm (hash-doubling group refinement, never a corpus suffix
    * sort):
    *   1. PRUNE: a repeat of length >= minLen contains a repeated
    *      minLen-window at its start, so only positions whose
    *      minLen-window recurs (and only their documents) enter the
    *      machinery — at corpus scale a small duplicated-region subset.
    *   2. RANK TABLES: ceil(log2(cap)) prefix-doubling rounds give every
    *      candidate position an identity for its 2^k-token window
    *      (md5-combined, doc-end sentinel encodes the remaining length),
    *      after which the identity of ANY l-token window is O(1): two
    *      overlapping 2^floor(log2 l) windows determine it (the
    *      sparse-table LCP trick).
    *   3. REFINE: level-0 groups are the occurrence sets of repeated
    *      minLen-windows. Each group binary-searches its divergence
    *      depth l* (the largest l where all members' l-windows still
    *      agree) in ceil(log2(cap-minLen+1)) rounds shared by ALL groups
    *      — the group's string at l* is a right-maximal repeat (members
    *      part ways at l*+1, or end there) and is emitted; classes of
    *      >= 2 members at l*+1 recurse as the next level's groups.
    *      Every frame is localCheckpoint'ed and the superseded round
    *      freed (the bpeLoop discipline); levels are bounded LOUDLY by
    *      `maxLevels` (nested-repeat chain depth; pathological
    *      periodicity — "x x x x ..." — nests linearly and must raise,
    *      not spin).
    *   4. FILTER: left-maximality is one keyed aggregate over each
    *      emitted group's preceding tokens.
    *
    * Scale shape: no all-pairs join and no global sort anywhere; every
    * exchange is keyed on (doc, pos) or a group id, and every frame
    * after step 1 is bounded by the corpus' DUPLICATED-region footprint,
    * not the corpus. A repeat reaching `cap` tokens raises loudly
    * (partial output is never emitted silently).
    *
    * Returns one row per maximal repeat: (rep_len, n_occ, n_docs,
    * span_md5) with span_md5 = md5 of the space-joined token span. */
  def maxRepeats(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int = 32, cap: Int = 128, maxLevels: Int = 16): DataFrame = {
    val (emitAll, toks, tk) =
      maxRepeatCore(docs, idCol, textCol, minLen, cap, maxLevels)
    // 4. left-maximality + stats + span fingerprint from a witness member
    val prevT = toks.select(col("doc"), (col("pos") + 1).as("pos"),
      col("tok").as("__prev"))
    val gstats = emitAll.join(prevT, Seq("doc", "pos"), "left")
      .groupBy(col("gid"), col("rep_len"))
      .agg(count(lit(1)).as("n_occ"), countDistinct(col("doc")).as("n_docs"),
        max(col("pos") === 0).as("__atStart"),
        countDistinct(col("__prev")).as("__ndp"),
        min(struct(col("doc"), col("pos"))).as("__w"))
    gstats.filter(col("__atStart") || col("__ndp") >= 2)
      .join(tk.select(col("doc").as("__wdoc"), col("tk")),
        col("__w.doc") === col("__wdoc"))
      .select(col("rep_len").cast("long").as("rep_len"),
        col("n_occ"), col("n_docs"),
        md5(concat_ws(" ",
          slice(col("tk"), col("__w.pos") + 1, col("rep_len")))).as("span_md5"))
  }

  /** The distributed machinery of [[maxRepeats]] up to (but excluding)
    * the left-maximality filter, shared with
    * [[keepFirstMaximalSpans]]: returns (occurrences, toks, tk) where
    * occurrences = one row per (gid, doc, pos, rep_len) emitted
    * right-maximal repeat occurrence, toks = (doc, pos, tok, len) token
    * rows of the candidate docs, tk = (doc, tk, len) their token
    * arrays. */
  private def maxRepeatCore(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int, cap: Int, maxLevels: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    require(minLen >= 2, "minLen >= 2")
    require(cap >= minLen, "cap >= minLen")
    require(maxLevels >= 1 && maxLevels <= 64, "maxLevels in [1,64]")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val K = math.max(1, 32 - Integer.numberOfLeadingZeros(cap - 1)) // ceil(log2 cap)
    // Rank arrays are SEEDED at width 2^K0 (K0 = floor(log2 minLen)), not
    // width 1 (r15 perf pass): no tested length is ever below minLen, so
    // the first K0 doubling rounds — each a (doc,pos) self-join + md5 +
    // checkpoint over the FULL candidate-position frame — computed ranks
    // nothing downstream reads. The seed is one narrow scan (slice +
    // concat_ws + md5 per position, the same O(len·minLen) work step 1's
    // window hash already does). Equality semantics are identical to the
    // doubled construction: md5(space-joined min(remaining, 2^K0)-token
    // slice) collides exactly when the doubled E-coded tree does (tokens
    // are \s+-split so the join is injective; a short suffix differs from
    // any longer window by string length). Rank VALUES differ from the
    // width-1 construction — nothing observes them except equality and
    // the internal gid md5s.
    val K0 = 31 - Integer.numberOfLeadingZeros(minLen) // floor(log2 minLen)
    // element_at(rks, j) = rank identifying tokens [pos, pos + 2^(K0+j-1))
    val nRk = K - K0 + 1 // top entry: width 2^K, the E-coded suffix id
    // 1. prune to positions whose minLen-window recurs, and their docs
    val wins = posSpanWindows(docs, idCol, textCol, minLen)
      .select(col(idCol).as("doc"), col("wpos").as("pos"),
        spanKey(col("span")).as("__h"))
      .persist(lvl)
    val heavy = wins.groupBy(col("__h")).agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= 2).select(col("__h"))
    val p0 = wins.join(heavy, Seq("__h"), "left_semi")
      .select(col("doc"), col("pos")).localCheckpoint()
    wins.unpersist(blocking = false)
    val candDocs = p0.select(col("doc")).distinct()
    val tk = docs
      .select(col(idCol).as("doc"), split(trim(col(textCol)), "\\s+").as("tk"))
      .join(candDocs, Seq("doc"), "left_semi")
      .select(col("doc"), col("tk"), size(col("tk")).as("len"))
      .persist(lvl)
    val toks = tk.select(col("doc"), col("len"),
      posexplode(col("tk")).as(Seq("pos", "tok")))
    // 2. rank tables, seeded at width 2^K0 directly from the token arrays
    // (one narrow Generate+Project, no shuffle), then doubled K - K0
    // times. END-coding at the seed is implicit: a suffix shorter than
    // the window IS its own slice, and distinct lengths join to distinct
    // strings.
    var ranks = tk.select(col("doc"), col("len"), col("tk"),
        posexplode(col("tk")).as(Seq("pos", "__t")))
      .select(col("doc"), col("pos"), col("len"),
        array(md5(concat_ws(" ",
          slice(col("tk"), col("pos") + 1, lit(1 << K0))))).as("rks"))
    ranks = Rounds.checkpoint(ranks)
    for (k <- (K0 + 1) to K) {
      val off = 1 << (k - 1)
      val right = ranks.select(col("doc"), (col("pos") - off).as("pos"),
        element_at(col("rks"), k - K0).as("__rr"))
      val next = Rounds.checkpoint(ranks.join(right, Seq("doc", "pos"), "left")
        .select(col("doc"), col("pos"), col("len"),
          concat(col("rks"), array(md5(concat(
            element_at(col("rks"), k - K0), lit("|"),
            coalesce(col("__rr"), lit("E")))))).as("rks")))
      Rounds.free(ranks)
      ranks = next
    }
    // ranks must outlive the loops below: the last round is never freed
    val rankT = ranks.persist(lvl)
    // 3. per-member window-id ARRAY for every depth in [minLen, cap] —
    // the r15 search rewrite. The r14 lockstep binary search paid
    // levels x ceil(log2 range) JOBS, each a g x rankT join plus a gid
    // window plus a checkpoint; at the duplicated-region frame sizes this
    // op actually sees (11.5k member positions, 22.5k candidate-doc
    // tokens at sf0.1) that cost was ~100 jobs of pure fixed overhead,
    // not data. Instead: gather each member's next-J rank arrays ONCE
    // (one bounded explode-join, J = cap-dependent, 63 at cap=128), then
    // compute the member's id at EVERY candidate depth as one projected
    // array — id(d) = md5(rank_kE(pos) | rank_kE(pos + d - 2^kE) | d)
    // with kE = floor(log2 d), or the E-coded suffix id when the window
    // overruns the doc. After that NO rank joins exist anywhere: a
    // group's divergence depth is the common-prefix length of its id
    // arrays, and lcp(set) = lcp(lexicographic min, lexicographic max),
    // so ONE gid-window pass (min/max of the array column) replaces the
    // whole per-level binary search. (The r14 receipts about chaining
    // lockstep rounds applied to the JOIN-per-round design and are moot
    // here — there are no rounds left to chain.)
    val J = (K0 to K).map(k => math.min(cap, (1 << (k + 1)) - 1) - (1 << k))
      .max
    // Gather via ONE per-doc rank array + slice (r15 optimization): the
    // previous form exploded every member position × (J+1) offsets and
    // equi-joined rankT — a (J+1)-fold shuffle fan-out that re-shipped
    // each rank row once per anchor that covers it (the fattest job
    // block of the op). Candidate docs' ranks instead collect into one
    // position-ordered per-doc array (bounded by DOC length — the same
    // envelope the `tk` token arrays already occupy, and rankT is
    // already pruned to candidate docs), each member slices its
    // [pos, pos+J] window out locally, and the only exchanges left are
    // one groupBy(doc) and one doc-keyed join. Same rks values, same
    // ids — measured at sf0.1 (isolated A/B, rows bit-identical):
    // dedup_max_repeats 8.94 → 8.17 s, dedup_span_keepfirst_maximal
    // 9.01 → 8.30 s.
    val docArr = rankT.groupBy(col("doc"))
      .agg(max(col("len")).as("len"),
        transform(array_sort(collect_list(struct(col("pos"), col("rks")))),
          x => x("rks")).as("__arr"))
    val gath = p0.join(docArr, Seq("doc"))
      .select(col("doc"), col("pos"), col("len"),
        slice(col("__arr"), col("pos") + 1, lit(J + 1)).as("__rwin"))
    // __rwin is 1-indexed by offset: element j holds rks(pos + j - 1)
    val own = element_at(col("__rwin"), lit(1))
    def idAt(d: Int): Column = {
      val kE = 31 - Integer.numberOfLeadingZeros(d)
      val off = d - (1 << kE)
      val kIdx = kE - K0 + 1
      when(col("len") - col("pos") >= d,
        md5(concat(element_at(own, kIdx), lit("|"),
          element_at(element_at(col("__rwin"), lit(off + 1)), kIdx),
          lit("|"), lit(d.toString))))
        .otherwise(concat(lit("E|"), element_at(own, lit(nRk))))
    }
    // Known, measured tradeoff: the (cap − minLen + 1)-element id array
    // (~97 md5 trees in one projection at the defaults) exceeds the JVM's
    // 64 KB generated-method limit, so Spark logs "Failed to compile …
    // Code grows beyond 64 KB" and falls back to interpreted eval FOR
    // THIS PROJECTION ONLY. That is accounted for in the receipts: the
    // 30.7 → 20.6 s same-host win and the 100× ScaleProbe ratio (4.2 on
    // 100× data) both include the fallback, and the frame it evaluates
    // is the pruned duplicated-region footprint (member positions), never
    // the corpus — interpreted md5 there is bounded by dup density, not
    // data size. Chunking the array across separate selects does not
    // help: whole-stage codegen re-fuses consecutive projections into the
    // same oversized method.
    val withIds = gath.select(col("doc"), col("pos"), col("len"),
      array((minLen to cap).map(idAt): _*).as("ids"))
    // level-0 groups: occurrence classes of the minLen-window id
    var g = Rounds.checkpoint(withIds.select(
      md5(concat(element_at(col("ids"), 1), lit("#"), lit(minLen)))
        .as("gid"),
      col("doc"), col("pos"), col("len"), col("ids")))
    rankT.unpersist(blocking = false) // gather was its last consumer
    val wg = org.apache.spark.sql.expressions.Window.partitionBy(col("gid"))
    val emittedLevels = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var level = 0
    var done = false
    while (!done) {
      // Divergence depth per group in ONE window pass: l* = the last
      // depth where every member's id agrees = minLen - 1 + lcp of the
      // group's id arrays; j0 = first index where the lexicographic
      // min and max arrays differ (0 = never ⇒ the group agrees through
      // cap: legitimate only when all members end together — the same
      // identical-suffix class the binary search resolved via lo == cap).
      // The E-form cannot collide with the normal form, so a group with
      // mixed remaining lengths diverges no later than minR + 1 and
      // full-group agreement never resumes past the first divergence —
      // first-false IS the divergence depth.
      val ann = g
        .withColumn("__mn", min(col("ids")).over(wg))
        .withColumn("__mx", max(col("ids")).over(wg))
        .withColumn("__minR", min(col("len") - col("pos")).over(wg))
        .withColumn("__maxR", max(col("len") - col("pos")).over(wg))
        .withColumn("__j0", array_position(
          zip_with(col("__mn"), col("__mx"), (a, b) => a === b), false))
        .select(col("gid"), col("doc"), col("pos"), col("len"), col("ids"),
          when(col("__j0") === 0, lit(cap))
            .otherwise(col("__j0") + lit(minLen - 2)).cast("int").as("__ls"),
          col("__minR"), col("__maxR"))
      // deliberately never freed (unlike the g rounds): the
      // per-level annotated frames back emitAll lazily for the rest of
      // the op (the same lifetime the per-level emitted checkpoints had)
      val annC = ann.localCheckpoint()
      val chk = annC.agg(count(lit(1)),
        max(when(col("__ls") === cap && col("__maxR") > cap, 1)
          .otherwise(0))).first()
      if (chk.getLong(0) == 0L) done = true
      else {
        require(level < maxLevels,
          s"maxRepeats: nested-repeat chain exceeds maxLevels=$maxLevels " +
            "(periodic text nests one level per period step) — raise maxLevels")
        // l* == cap with a member extending past cap ⇒ a repeat reaches
        // cap tokens without diverging — raise loudly, never truncate
        require(chk.getInt(1) == 0,
          s"maxRepeats: a repeat reaches cap=$cap tokens without diverging — " +
            "raise cap (output would otherwise be silently truncated)")
        emittedLevels += annC.select(col("gid"), col("doc"), col("pos"),
          when(col("__ls") === cap, least(col("__minR"), lit(cap)))
            .otherwise(col("__ls")).as("rep_len"))
        // children: classes of >= 2 members at l*+1 (only where a true
        // divergence exists below cap), and only members whose suffix
        // EXTENDS past l* — a member ending exactly at l* (the doc-end
        // E-form) has nothing below the node: a pure-E child class would
        // re-emit the parent's string with a partial occurrence set (the
        // duplicate the maxRepeats property test caught). The child id
        // is element_at(ids, l*+1): already carried, no recomputation.
        val kids = annC
          .filter(col("__ls") < cap && col("len") - col("pos") > col("__ls"))
          .withColumn("__idc",
            element_at(col("ids"), col("__ls") - lit(minLen) + 2))
        val wk = org.apache.spark.sql.expressions.Window
          .partitionBy(col("gid"), col("__idc"))
        val next = Rounds.checkpoint(kids
          .withColumn("__n", count(lit(1)).over(wk))
          .filter(col("__n") >= 2)
          .select(md5(concat(col("__idc"), lit("#"),
              (col("__ls") + 1).cast("string"))).as("gid"),
            col("doc"), col("pos"), col("len"), col("ids")))
        Rounds.free(g)
        g = next
        level += 1
      }
    }
    val emitAll = emittedLevels.reduceOption(_ unionAll _)
      .getOrElse(g.select(col("gid"), col("doc"), col("pos"),
        lit(0).as("rep_len")))

    (emitAll, toks, tk)
  }

  /** The ExactSubstr REMOVAL rule at MAXIMAL-repeat granularity — the
    * composition of [[maxRepeats]] (the repeat dictionary) with
    * [[keepFirstSpans]]' keep-one-copy action, which is what
    * "Deduplicating Training Data" (Lee et al. 2022, arXiv:2107.06499)
    * actually deletes: for every left- and right-maximal repeat of
    * >= minLen tokens, the globally FIRST occurrence (minimum
    * (doc, pos)) keeps its tokens and every other occurrence's FULL span
    * is scrubbed — a 64-token duplicated passage is removed as one
    * 64-token span, never as its overlapping fixed-n sub-windows. The
    * observable difference from [[keepFirstSpans]] (fixed n): a short
    * idiom (>= n but < minLen tokens) duplicated across docs is BELOW
    * the threshold here and survives everywhere, and — conversely — the
    * corpus' first copy of a long passage is never damaged by one of its
    * sub-windows having an earlier occurrence elsewhere (the fixed-n
    * rule scrubs that sub-window out of the first copy; the maximal rule
    * keeps the keeper intact because the sub-window's own maximal
    * extension is shorter than minLen). Overlapping occurrences of
    * different maximal repeats merge through the DISTINCT (doc, pos)
    * coverage set exactly as in [[keepFirstSpans]].
    *
    * Scale shape: everything up to the occurrence frame is
    * [[maxRepeats]]' machinery (bounded by the duplicated-region
    * footprint); the keeper is one map-side-combinable min(struct) per
    * group; coverage is the non-keepers' bounded explode (rep_len rows
    * per occurrence); the rebuild is the [[scrubSpans]] anti-join tail.
    * No pairwise product, no global sort.
    *
    * Output: (idCol, text_clean, n_tokens, n_removed) for every doc. */
  def keepFirstMaximalSpans(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int = 32, cap: Int = 128, maxLevels: Int = 16): DataFrame = {
    val (emitAll, toks, tk) =
      maxRepeatCore(docs, idCol, textCol, minLen, cap, maxLevels)
    // the dictionary = left-maximal groups only (suffix-tree nodes, the
    // same predicate maxRepeats gates); a non-left-maximal group's
    // coverage is a subset of its left extension's with the same keeper
    // doc, so the filter changes nothing semantically — it keeps the
    // dictionary identical to the gated maxRepeats surface
    val prevT = toks.select(col("doc"), (col("pos") + 1).as("pos"),
      col("tok").as("__prev"))
    val lm = emitAll.join(prevT, Seq("doc", "pos"), "left")
      .groupBy(col("gid"))
      .agg(max(col("pos") === 0).as("__atStart"),
        countDistinct(col("__prev")).as("__ndp"))
      .filter(col("__atStart") || col("__ndp") >= 2)
      .select(col("gid"))
    val occ = emitAll.join(lm, Seq("gid"), "left_semi")
      .localCheckpoint() // composition boundary: occ feeds two consumers
    val firsts = occ.groupBy(col("gid"))
      .agg(min(struct(col("doc"), col("pos"))).as("__w"))
    val covered = occ.join(firsts, Seq("gid"))
      .filter(!(col("doc") === col("__w.doc") && col("pos") === col("__w.pos")))
      .select(col("doc").as(idCol),
        explode(sequence(col("pos"), col("pos") + col("rep_len") - 1)).as("pos"))
      .distinct()
    val toksAll = docs.select(col(idCol),
      posexplode(split(trim(col(textCol)), "\\s+")).as(Seq("pos", "tok")))
    val kept = toksAll.join(covered, Seq(idCol, "pos"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol)).agg(
      array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x("tok")),
        " ").as("text_clean"),
      count(lit(1)).as("__n_kept"))
    docs.select(col(idCol),
        size(split(trim(col(textCol)), "\\s+")).cast("long").as("n_tokens"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("__n_kept"), lit(0L))).as("n_removed"))
  }

  /** Keep-FIRST-occurrence span dedup — the removal rule the
    * "Deduplicating Training Data" ExactSubstr pass actually applies:
    * for every n-token window that recurs in the corpus (count >= 2,
    * multiplicity), the globally FIRST occurrence (minimum (doc id,
    * position)) keeps its tokens and every other occurrence's token
    * range is scrubbed — so exactly one copy of each duplicated passage
    * survives, where [[scrubSpans]] (the >= minDocs boilerplate rule)
    * removes ALL copies. Overlapping duplicated windows merge through
    * the DISTINCT (doc, position) coverage set, and a window that is
    * the first occurrence of its own content never contributes
    * coverage, so a document carrying the corpus' first copy of a
    * passage is untouched by that passage.
    *
    * Shape: one explode+hash pass persisted as fixed-width rows (the
    * scrubSpans discipline), the per-key first occurrence = one
    * map-side-combinable min(struct) aggregate, coverage = the
    * non-first occurrences' bounded explode, survivors = an anti-join
    * on (doc, pos). No pairwise product anywhere; the exchange carries
    * 60-bit keys, never span text.
    *
    * Output: (idCol, text_clean, n_tokens, n_removed) for every doc. */
  def keepFirstSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val wins = posSpanWindows(docs, idCol, textCol, n)
      .select(col(idCol), col("wpos"), spanKey(col("span")).as("__h"))
      .persist(lvl)
    val firsts = wins.groupBy(col("__h"))
      .agg(count(lit(1)).as("__occ"),
        min(struct(col(idCol), col("wpos"))).as("__w"))
      .filter(col("__occ") >= 2)
      .select(col("__h"), col("__w.wpos").as("__fpos"),
        col("__w").getField(idCol).as("__fdoc"))
    val covered = wins.join(firsts, Seq("__h"))
      .filter(!(col(idCol) === col("__fdoc") && col("wpos") === col("__fpos")))
      .select(col(idCol),
        explode(sequence(col("wpos"), col("wpos") + (n - 1))).as("pos"))
      .distinct()
    val toks = docs.select(col(idCol),
      posexplode(split(trim(col(textCol)), "\\s+")).as(Seq("pos", "tok")))
    val kept = toks.join(covered, Seq(idCol, "pos"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol)).agg(
      array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x("tok")),
        " ").as("text_clean"),
      count(lit(1)).as("__n_kept"))
    docs.select(col(idCol),
        size(split(trim(col(textCol)), "\\s+")).cast("long").as("n_tokens"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("__n_kept"), lit(0L))).as("n_removed"))
  }
}
