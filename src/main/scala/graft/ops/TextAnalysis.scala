package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline, over a
  * `documents(doc_id, text, lang, source, n_chars)` table.
  *
  * Everything here is built from codegen'd `org.apache.spark.sql.functions`
  * (split / transform / aggregate / filter higher-order functions) — no
  * UDFs, so whole-stage codegen spans the full pipeline and every operator
  * is a narrow map over the scan (zero shuffles until an aggregation asks
  * for one). That is the property that lets these run over 100 TB of text:
  * per-row work only, pushed column pruning (only `doc_id`/`text` read).
  */
object TextAnalysis {

  /** Whitespace tokens of a text column. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** BPE-ish subword-ish token count: alphanumeric runs and single
    * non-space punctuation each count as one token (a common pre-tokenizer
    * regex shape). */
  def regexTokens(text: Column): Column =
    regexp_extract_all(text, lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"), lit(0))

  /** Adjacent token pairs as array<struct<w1,w2>> — the shared bigram
    * formation behind the LM/collocation family. `arrays_zip` of the
    * head and tail slices instead of `transform(sequence …
    * element_at)`: higher-order-function lambdas evaluate INTERPRETED
    * per element while slice/zip/cast are ordinary codegen'd
    * expressions — measured 2× on the pair-explode-count path at
    * sf0.1, bit-identical output (the cast renames the zip's
    * positional fields). Callers must filter size ≥ 2 first. */
  def bigramPairs(toks: Column): Column =
    arrays_zip(slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1))
      .cast("array<struct<w1:string,w2:string>>")

  /** Word n-gram shingles (n consecutive tokens joined by a space), via
    * sequence+transform — pure HOFs, no explode needed until the caller
    * wants one row per shingle. Empty array when fewer than n tokens. */
  def shingles(toks: Column, n: Int): Column =
    // sequence(0, k) with k<0 would generate a *descending* sequence, so
    // guard short documents to an empty shingle set explicitly.
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))

  /** Per-document token statistics: token count (whitespace), regex token
    * count, mean token length. One fused native pass per document
    * ([[graft.functions.TextStats]]) — the HOF `aggregate` formulation
    * interpreted its lambda once per token; the counts and the ratio
    * doubles are unchanged (long sum cast to double, then divided). */
  def tokenStats(df: DataFrame, textCol: String = "text"): DataFrame = {
    val st = graft.functions.textnative.text_stats(col(textCol), stopwords("en"))
    df.withColumn("__st", st)
      .withColumn("n_tokens", col("__st.n_tokens"))
      .withColumn("n_regex_tokens", col("__st.n_regex_tokens"))
      .withColumn("avg_token_len",
        col("__st.sum_token_len").cast("double") / col("__st.n_tokens"))
      .drop("__st")
  }

  /** A small function-word list used by both the quality score and the
    * language-ID heuristic (public-knowledge stopwords). */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "es" -> Seq("el", "la", "de", "y", "que", "en", "un", "es", "se", "no"),
    "fr" -> Seq("le", "la", "de", "et", "que", "en", "un", "est", "ce", "ne"),
    "de" -> Seq("der", "die", "das", "und", "zu", "in", "ein", "ist", "nicht", "von"),
    "zh" -> Seq("的", "了", "是", "我", "不", "在", "有", "他", "这", "中"),
  )

  private def countIn(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(lit): _*)))

  /** Heuristic quality scoring: length, punctuation ratio, stopword ratio,
    * uppercase ratio, mean word length — the standard cheap filters a
    * pretraining pipeline applies before anything expensive. All five
    * counts come from the single fused [[graft.functions.TextStats]] pass
    * (subexpression elimination in whole-stage codegen evaluates the
    * struct once per row); the ratio doubles are formed exactly as the
    * regexp_replace/HOF formulation did (count cast to double / count). */
  def qualityScore(df: DataFrame, textCol: String = "text"): DataFrame = {
    val st = graft.functions.textnative.text_stats(col(textCol), stopwords("en"))
    df.withColumn("__st", st)
      .withColumn("n_tokens", col("__st.n_tokens"))
      .withColumn("punct_ratio",
        col("__st.n_punct").cast("double") / col("__st.n_chars"))
      .withColumn("upper_ratio",
        col("__st.n_upper").cast("double") / col("__st.n_chars"))
      .withColumn("stopword_ratio",
        col("__st.n_stop").cast("double") / col("__st.n_tokens"))
      .withColumn("avg_word_len",
        col("__st.sum_token_len").cast("double") / col("__st.n_tokens"))
      .drop("__st")
  }

  /** n-gram-heuristic language ID: score each candidate language by its
    * function-word hit count over the token stream; argmax wins, ties
    * break on language code order (deterministic). Integer scoring → no
    * float nondeterminism, and the whole thing is one codegen'd projection. */
  def languageId(df: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = tokens(lower(col(textCol)))
    val scored = stopwords.toSeq.sortBy(_._1).map { case (langCode, words) =>
      struct(countIn(toks, words).as("score"), lit(langCode).as("lang"))
    }
    // array_max on struct(score, lang) orders by score then lang — but we
    // want the *lowest* lang code on ties, so compare with reversed lang
    // rank encoded as negative index.
    val ranked = stopwords.keys.toSeq.sorted.zipWithIndex.map { case (langCode, i) =>
      struct(
        countIn(toks, stopwords(langCode)).as("score"),
        lit(-i).as("tiebreak"),
        lit(langCode).as("lang"))
    }
    df.withColumn("predicted_lang", array_max(array(ranked: _*)).getField("lang"))
      .withColumn("lang_score", array_max(array(scored: _*)).getField("score"))
  }

  /** PII patterns shared by the scrubber and its oracle — deliberately in
    * the common Java-regex/RE2 subset (no lookaround, no backrefs) so the
    * DuckDB oracle evaluates the IDENTICAL pattern text. */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Re = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"
  val phoneRe = "\\+\\d[\\d -]{5,}\\d"

  /** PII scrubbing, the redaction pass a pretraining pipeline runs before
    * anything leaves the raw store: count then replace emails, IPv4
    * addresses, and +international phone numbers. Counts are matches of
    * each pattern over the RAW text; redaction applies sequentially
    * (email → ip → phone) so the placeholders can't be re-matched.
    * Entirely codegen'd regexp projections: zero shuffles, per-row work
    * only — the shape that runs over 100 TB as a narrow map over the
    * scan. */
  def piiScrub(df: DataFrame, textCol: String = "text"): DataFrame =
    df.withColumn("n_emails",
        size(regexp_extract_all(col(textCol), lit(emailRe), lit(0))).cast("long"))
      .withColumn("n_ips",
        size(regexp_extract_all(col(textCol), lit(ipv4Re), lit(0))).cast("long"))
      .withColumn("n_phones",
        size(regexp_extract_all(col(textCol), lit(phoneRe), lit(0))).cast("long"))
      .withColumn("scrubbed",
        regexp_replace(
          regexp_replace(
            regexp_replace(col(textCol), emailRe, "<EMAIL>"),
            ipv4Re, "<IP>"),
          phoneRe, "<PHONE>"))

  /** Gopher-style repetition quality signals: fraction of the document
    * taken by its most frequent token, distinct-token ratio, and the
    * duplicate-2-gram fraction. One fused native pass per document
    * ([[graft.functions.TextRepetition]]) — the explode → groupBy(doc,
    * token) formulation shuffles every token row twice, which at 100 TB
    * is a token-count-sized exchange for a per-row statistic. */
  def repetitionStats(df: DataFrame, textCol: String = "text"): DataFrame = {
    val st = graft.functions.textnative.text_repetition(col(textCol))
    df.withColumn("__r", st)
      .withColumn("n_tokens", col("__r.n_tokens"))
      .withColumn("top_token_frac",
        col("__r.max_count").cast("double") / col("__r.n_tokens"))
      .withColumn("distinct_ratio",
        col("__r.n_distinct").cast("double") / col("__r.n_tokens"))
      .withColumn("dup_2gram_frac",
        when(col("__r.n_2grams") > 0,
          lit(1.0) - col("__r.n_distinct_2grams").cast("double") / col("__r.n_2grams")))
      .drop("__r")
  }

  /** Corpus-level term statistics — the document-frequency build (the
    * integer plumbing of IDF/BM25 scoring) plus each document's top term:
    * tf = per-(doc, term) occurrence count, df = number of documents
    * containing the term, top term = argmax by (tf desc, term asc).
    * This is genuinely corpus-wide work: the token explode shuffles on
    * (doc, term) with map-side partial counts, df aggregates the
    * already-collapsed tf rows (one row per distinct (doc, term) — far
    * smaller than the token stream), and the df re-join keys on term.
    * All counts are integers, so the whole operator is hash-gate exact. */
  def termStats(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // tf feeds both the df aggregate and the top-term window: persist so
    // the corpus-wide token explode runs once, not per plan branch (the
    // same reuse bm25 below depends on).
    // doc_id-only partitioning is a valid clustering for the (doc, term)
    // group AND the distribution the top-term window needs — the window
    // reuses this exchange instead of re-shuffling the tf frame (the
    // perplexity doc_id-repartition lesson). Trade: repartition-first
    // forfeits the map-side combine (raw token rows shuffle), which the
    // saved corpus-sized window exchange outweighs here (0.90 → 0.61 s
    // at sf0.1) — see tokenEntropy for the counter-case.
    val tf = df.select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("term"))
      .repartition(col("doc_id"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("term"))
    tf.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
      .withColumnRenamed("term", "top_term")
      .join(dfreq.withColumnRenamed("term", "top_term"), Seq("top_term"))
  }

  /** BM25 relevance scoring — the retrieval-quality step a training-data
    * pipeline runs to rank documents against probe queries (data
    * selection by relevance, eval-set mining). Builds on the same
    * (doc, term) tf / df / length statistics as [[termStats]]:
    *
    *   idf(t)      = ln(1 + (N − df + 0.5)/(df + 0.5))   (the standard
    *                 Robertson–Sparck-Jones form, always ≥ 0)
    *   score(d,t)  = idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * Output: each document's best-scoring term (tie-break term asc) with
    * its score rounded to 6 decimals. The corpus constants N and avgdl
    * ride a 1-row broadcast; df joins on term against the collapsed
    * (doc, term) frame — all shuffles carry narrow integer rows. The
    * arithmetic is written in the exact operation order the oracle SQL
    * uses, so both engines evaluate identical double expressions. */
  def bm25(df: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // The (doc, term) tf frame is referenced THREE times below (dl, df,
    // and the scored join) — without materialization the tokenize →
    // explode → groupBy over the whole corpus re-runs per reference,
    // tripling the operator's dominant cost (the same hazard
    // Graph.pagerank persists against; driver r5 measured text_bm25 at
    // 4.6× text_term_stats over the same statistics). MEMORY_AND_DISK
    // keeps lineage; blocks are freed by the ContextCleaner.
    val tf = df.select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // N and avgdl straight off the collapsed tf frame: sum(tf) and
    // countDistinct(doc) are exact integers, so the constants are
    // bit-identical to the per-doc-then-total formulation
    val corpus = tf.agg(
      countDistinct(col("doc_id")).cast("double").as("n_docs"),
      (sum(col("tf")).cast("double") /
        countDistinct(col("doc_id")).cast("double")).as("avgdl"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    val tfd = col("tf").cast("double")
    val score = idf * (tfd * (k1 + 1.0)) /
      (tfd + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / col("avgdl")))
    // dl as a window sum over the SAME doc_id partitioning the final
    // row_number pass needs: one exchange feeds both Window nodes,
    // replacing the old groupBy(doc)+re-join (an exchange and a join
    // fewer; the inner dfreq join preserves every tf row, so the
    // per-doc sums are unchanged). Integer sums — hash-gate exact.
    val wDoc = Window.partitionBy(col("doc_id"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(corpus))
      .withColumn("dl", sum(col("tf")).over(wDoc))
      .withColumn("score", round(score, 6))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("doc_id"), col("term").as("top_term"),
        col("tf"), col("df"), col("dl"), col("score"))
  }

  /** Feature hashing — "the hashing trick" (Weinberger et al.,
    * ICML'09): project the unbounded term space onto `dim` fixed buckets
    * by a stable 60-bit md5 hash, the sparse featurization ML training
    * uses when a vocabulary build would be unbounded state or an
    * oversized broadcast. No vocabulary, no second pass, no driver
    * state: one explode + one map-side-combined keyed count, the output
    * bounded by `dim` buckets per document. Exact integers throughout
    * (md5 is the cross-engine-stable hash of the gate; collisions are
    * the method's documented tradeoff, identical on every engine). */
  def featureHash(df: DataFrame, idCol: String, textCol: String,
      dim: Int): DataFrame = {
    require(dim >= 2, "dim >= 2")
    df.select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("term"))
      .groupBy(col("doc_id"),
        pmod(conv(substring(md5(col("term")), 1, 15), 16, 10).cast("long"),
          lit(dim.toLong)).as("bucket"))
      .agg(count(lit(1)).as("tf"))
  }

  /** Per-query lexical retrieval ranks by summed term-overlap idf — the
    * sparse half of a hybrid (BM25-class + vector) retrieval stack. Each
    * query ranks corpus documents by Σ idf(t) over SHARED DISTINCT terms
    * t, idf = the BM25 idf ln(1 + (N − df + 0.5)/(df + 0.5)).
    *
    * Determinism at the gate boundary: idf is scaled to an integer
    * (×10⁶, rounded ONCE per term — a single ln per term is
    * bit-identical across engines), so the per-(query, doc) score is an
    * exact BIGINT sum and no accumulated-double fold order can reorder
    * ranks.
    *
    * Scale shape: candidates come from the inverted-index join (query
    * term → posting list), so per-query work is bounded by Σ_t df(t)
    * over the query's terms, never corpus-quadratic; the distinct-term
    * frame is materialized once and feeds df, N, and the join. For
    * corpus-wide query sets, df-cap stopword-class terms upstream (the
    * [[graft.ops.Dedup]] maxDf discipline) — here queries are a bounded
    * panel. Self-matches are excluded (retrieval convention, matching
    * [[Similarity.bruteForceTopK]]). */
  def idfOverlapRanks(df: DataFrame, queries: DataFrame, idCol: String,
      textCol: String, topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topK >= 1, "topK >= 1")
    val dt = df.select(col(idCol).as("doc_id"),
        explode(array_distinct(tokens(col(textCol)))).as("term"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val corpus = dt.agg(countDistinct(col("doc_id")).cast("double").as("n_docs"))
    val dfreq = dt.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val idfScaled = round(log(lit(1.0) +
        (col("n_docs") - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5))) * lit(1000000.0))
      .cast("long").as("idfs")
    val idf = dfreq.crossJoin(broadcast(corpus)).select(col("term"), idfScaled)
    val qt = queries.select(col(idCol).as("query_id"),
      explode(array_distinct(tokens(col(textCol)))).as("term"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("lex_score").desc, col("neighbor_id"))
    dt.join(broadcast(qt.join(idf, Seq("term"))), Seq("term"))
      .filter(col("query_id") =!= col("doc_id"))
      .groupBy(col("query_id"), col("doc_id").as("neighbor_id"))
      .agg(sum(col("idfs")).as("lex_score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("lex_score"))
  }

  /** Corpus vocabulary build + id encoding — the word-level tokenizer
    * step: rank terms by (corpus tf desc, term asc), keep the top
    * `vocabSize` as ids 0..V-1, and rewrite every document as its token-id
    * sequence (out-of-vocabulary → -1).
    *
    * Scale shape: term counting is a map-side-combined aggregate over the
    * token explode (one shuffle of (term, partial-count) rows); the top-V
    * cut is orderBy+limit — V is a CONSTANT (32k-class), so the ordered
    * single-partition id-assignment window runs over V rows, not the
    * corpus. Encoding joins token occurrences against the BROADCAST vocab
    * (V rows on every executor — the codebook argument) and reassembles
    * per doc ordered by position: one corpus-linear shuffle of narrow
    * (doc, pos, id) rows, per-doc state bounded by the largest document.
    *
    * Returns (idCol, ids_csv, n_tokens, n_oov): ids_csv is the
    * comma-joined id sequence — order-pinning and engine-independent. */
  def vocabEncode(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", vocabSize: Int = 32768): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol),
      posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
    val counts = toks.groupBy(col("tok")).agg(count(lit(1)).as("tf"))
    val order = Seq(col("tf").desc, col("tok").asc)
    val vocab = counts.orderBy(order: _*).limit(vocabSize)
      .withColumn("token_id",
        (row_number().over(Window.orderBy(order: _*)) - 1).cast("long"))
      .select(col("tok"), col("token_id"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .withColumn("token_id", coalesce(col("token_id"), lit(-1L)))
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("pos"), col("token_id")))),
            x => x("token_id").cast("string")),
          ",").as("ids_csv"),
        count(lit(1)).as("n_tokens"),
        sum(when(col("token_id") === -1L, 1L).otherwise(0L)).as("n_oov"))
  }

  /** Per-document unigram entropy — the distribution-shape quality signal
    * (near-zero entropy = degenerate repetition; high = diverse
    * vocabulary) the length/ratio heuristics in [[qualityScore]] miss.
    *
    * Computed from per-(doc, term) counts in the algebraic form
    * H = ln(N) − Σ n·ln(n) / N, which needs only ONE grouped aggregate
    * over the collapsed tf rows — no per-term probability column, no
    * second pass for the doc total. The token explode is the same
    * map-side-combined shuffle as [[termStats]]; everything after it
    * runs over one row per distinct (doc, term). ln over integer counts
    * is deterministic per value; the sum's fold order is the only
    * engine-variant step, absorbed by the 6-decimal round. */
  def tokenEntropy(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    // NOT doc_id-repartitioned like termStats/tfidf: repartition-first
    // forfeits the map-side combine (raw token rows shuffle instead of
    // per-partition partials), and the per-doc aggregate it would save
    // here runs over the already-collapsed frame — measured a net LOSS
    // (0.22 → 0.32 s at sf0.1). The trade only pays when the saved
    // second exchange is corpus-sized (a window or join output).
    df.select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).cast("double").as("n"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("n")).cast("long").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        round(log(sum(col("n"))) - sum(col("n") * log(col("n"))) / sum(col("n")),
          6).as("entropy"))

  /** Corpus bigram language model: for every head token, its most likely
    * continuation by raw count (tie-break continuation asc), with the
    * pair and head totals as exact integers — the n-gram statistics
    * table of a count-based LM (and the data for pointwise mutual
    * information, completion heuristics, boilerplate detection).
    *
    * Bigrams are formed PER ROW with an index-sequence transform (zero
    * shuffle, linear in tokens), then counted with map-side partials on
    * (w1, w2); the head totals aggregate the already-collapsed pair rows.
    * Integer-only output → hash-gate exact. At 100 TB the pair-count
    * frame is bounded by the distinct-bigram vocabulary, not the corpus. */
  def bigramModel(df: DataFrame, textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Materialize the token array ONCE per row before indexing into it:
    // element_at over the raw split() expression re-tokenizes the string
    // for every pair (no common-subexpression elimination inside lambda
    // bodies) — O(tokens²) per document. Measured 5.4 s → sub-second at
    // sf0.1 from this change alone.
    val toks = col("__toks")
    val pairs = bigramPairs(toks)
    val counts = df
      .select(tokens(col(textCol)).as("__toks"))
      .filter(size(toks) >= 2)
      .select(explode(pairs).as("p"))
      .select(col("p.w1"), col("p.w2"))
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("pair_n"))
    val w = Window.partitionBy(col("w1"))
    val rank = Window.partitionBy(col("w1"))
      .orderBy(col("pair_n").desc, col("w2"))
    counts
      .withColumn("head_n", sum(col("pair_n")).over(w))
      .withColumn("__rn", row_number().over(rank))
      .filter(col("__rn") === 1)
      .select(col("w1"), col("w2").as("top_next"), col("pair_n"), col("head_n"))
  }

  /** Dunning log-likelihood-ratio collocations (Dunning 1993) — the
    * significance-tested companion to PMI (PMI over-ranks rare pairs;
    * G² weights by evidence): per adjacent bigram, G² = 2·Σ O·ln(O/E)
    * over the 2×2 contingency table built from the bigram margins.
    * Same persisted bigram type frame as Kneser–Ney; margins are
    * vocabulary-sized aggregates; G² is a fixed 4-term IEEE tree over
    * exact integer counts (each term guarded for O = 0) → hash-gates.
    *
    * Exactness bound: the expected-count numerators multiply two margin
    * sums (≤ total bigram tokens T each), so T must stay below ~3·10⁹
    * for the long product to hold — beyond that, lift the margins to
    * DECIMAL (the corr-matrix pattern) before the products. */
  def collocationLlr(df: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = col("__toks")
    val pairs = bigramPairs(toks)
    val bi = df
      .select(tokens(col(textCol)).as("__toks"))
      .filter(size(toks) >= 2)
      .select(explode(pairs).as("p"))
      .select(col("p.w1"), col("p.w2"))
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val fwd = bi.groupBy(col("w1")).agg(sum(col("c")).as("cw1"))
    val bwd = bi.groupBy(col("w2")).agg(sum(col("c")).as("cw2"))
    val tot = bi.agg(sum(col("c")).as("n"))
    // E = 0 (a word's margin equals the bigram total, i.e. a degenerate
    // single-vocabulary corpus) would make k·ln(k/E) = +Inf — guard both
    // operands; mirrored in the oracle to keep parity
    def term(k: Column, e: Column): Column =
      when(k > 0 && e > 0, k * log(k / e)).otherwise(lit(0.0))
    val k11 = col("c")
    val k12 = col("cw1") - col("c")
    val k21 = col("cw2") - col("c")
    val k22 = col("n") - col("cw1") - col("cw2") + col("c")
    val e11 = (col("cw1") * col("cw2")) / col("n")
    val e12 = (col("cw1") * (col("n") - col("cw2"))) / col("n")
    val e21 = ((col("n") - col("cw1")) * col("cw2")) / col("n")
    val e22 = ((col("n") - col("cw1")) * (col("n") - col("cw2"))) / col("n")
    bi.join(fwd, Seq("w1")).join(bwd, Seq("w2")).crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("c"),
        (lit(2.0) * (term(k11, e11) + term(k12, e12) +
          term(k21, e21) + term(k22, e22))).as("llr"))
  }

  /** Per-document top-k TF-IDF terms (the sparse document vector head —
    * retrieval indexing / keyword features): idf = ln((N+1)/(df+1)) + 1
    * (the smoothed sklearn form), score = tf·idf. The corpus explodes
    * once into the persisted (doc, term, tf) frame; df aggregates that
    * frame (vocabulary-sized) and N is a 1-row broadcast — nothing
    * re-runs the explode. Ranking is a doc-partitioned window with ties
    * broken by term, so the head set is engine-exact; each score is one
    * fixed IEEE tree over exact integers (no accumulated-double sums). */
  def tfidfTopK(df: DataFrame, k: Int, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val tf = df
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      // doc-only partitioning: valid for the (doc, term) group, and when
      // the vocabulary-sized df join broadcasts, the ranking window
      // inherits it and skips its own corpus re-shuffle
      .repartition(col(idCol))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = tf.agg(countDistinct(col(idCol)).as("n_docs"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("term"))
    tf.join(dfreq, Seq("term")).crossJoin(broadcast(n))
      .select(col(idCol), col("term"), col("tf"),
        (col("tf") *
          (log((col("n_docs") + 1).cast("double") / (col("df") + 1)) + 1.0))
          .as("score"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col(idCol), col("term"), col("tf"), col("score"),
        col("rk").cast("long").as("rk"))
  }

  /** Interpolated Kneser–Ney bigram probabilities (Kneser & Ney 1995, the
    * smoothing behind KenLM-style corpus LMs): P(w2|w1) =
    * (max(c(w1w2)−D, 0) + D·N1+(w1·)·Pcont(w2)) / c(w1·), with the
    * continuation probability Pcont(w2) = N1+(·w2)/N1+(··) counting
    * bigram TYPES, not tokens — the "how many contexts does w2 complete"
    * correction add-k smoothing lacks.
    *
    * Plan: the corpus explodes to bigrams once and collapses to the
    * (w1, w2, c) type frame, which is persisted — the forward totals,
    * backward type counts, and global type count are all aggregates of
    * that bounded frame (vocabulary-sized, not corpus-sized), so nothing
    * re-runs the explode (the bm25 lesson). Probabilities are one fixed
    * IEEE expression over exact integer counts → hash-gates. */
  def kneserNey(df: DataFrame, textCol: String = "text",
      discount: Double = 0.75): DataFrame = {
    require(discount > 0 && discount < 1,
      s"absolute discount must be in (0,1), got $discount")
    val toks = col("__toks")
    val pairs = bigramPairs(toks)
    val bi = df
      .select(tokens(col(textCol)).as("__toks"))
      .filter(size(toks) >= 2)
      .select(explode(pairs).as("p"))
      .select(col("p.w1"), col("p.w2"))
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val fwd = bi.groupBy(col("w1"))
      .agg(sum(col("c")).as("cw1"), count(lit(1)).as("n1_fwd"))
    val bwd = bi.groupBy(col("w2")).agg(count(lit(1)).as("n1_bwd"))
    val tot = bi.agg(count(lit(1)).as("n1_all"))
    bi.join(fwd, Seq("w1")).join(bwd, Seq("w2")).crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("c"),
        ((greatest(col("c") - lit(discount), lit(0.0)) +
          lit(discount) * col("n1_fwd") *
            (col("n1_bwd").cast("double") / col("n1_all"))) / col("cw1"))
          .as("pkn"))
  }

  /** RAKE keyword scoring (Rose et al. 2010): candidate phrases are
    * maximal stopword-free token runs; word degree accumulates the length
    * of every phrase each occurrence sits in; score = deg/freq (words
    * that travel in long phrases beat frequent-but-isolated ones). One
    * corpus token explode + a doc-partitioned running-count window to
    * assign phrase ids, then vocabulary-sized aggregates — integer
    * counts, one division. */
  def rake(df: DataFrame, stopwords: Seq[String],
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wnd = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val seg = df
      .select(col(idCol), posexplode(tokens(col(textCol))))
      .select(col(idCol), col("pos"), col("col").as("w"))
      .withColumn("pid",
        sum(when(col("w").isin(stopwords: _*), 1).otherwise(0)).over(wnd))
      .filter(!col("w").isin(stopwords: _*))
    val plen = seg.groupBy(col(idCol), col("pid"))
      .agg(count(lit(1)).as("plen"))
    seg.join(plen, Seq(idCol, "pid"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
      .select(col("w").as("word"), col("freq"), col("deg"),
        (col("deg").cast("double") / col("freq")).as("score"))
  }

  /** Per-document bigram-LM perplexity (the CCNet-style quality filter: a
    * count LM is trained over the corpus, then every document is scored by
    * how "ordinary" its token transitions are — high perplexity flags
    * boilerplate-free but also garbled text for downstream filtering).
    *
    * Model: add-k smoothed bigram probabilities over the SAME corpus,
    * p(w2|w1) = (c(w1,w2) + α) / (c(w1) + α·V), with V = distinct head
    * tokens. Score: logprob = Σ n·ln p over the document's collapsed
    * bigram counts; ppl = exp(−logprob / n_bigrams).
    *
    * Plan shape for 100 TB: the token explode runs ONCE — per-doc bigram
    * counts (`dbc`) are persisted and both the corpus model and the
    * per-doc scores derive from them. The model frame is bounded by the
    * distinct-bigram vocabulary (not the corpus), head totals fold over
    * the already-collapsed pair rows, V is a 1-row broadcast. The only
    * corpus-sized exchanges are the (doc,w1,w2) map-side-combined count
    * and the (w1,w2) score join. Double-sum fold order is the single
    * engine-variant step, absorbed by the 6-decimal round (the
    * [[tokenEntropy]] precedent). */
  def perplexity(df: DataFrame, textCol: String = "text",
      alpha: Double = 0.5): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val toks = col("__toks")
    val pairs = bigramPairs(toks)
    // Partition the per-doc bigram counts by doc_id ALONE (a valid
    // clustering for the (doc, w1, w2) group — same doc ⇒ same
    // partition ⇒ same triple co-located), so the FINAL per-document
    // logprob aggregate reuses this exchange instead of re-shuffling
    // the corpus a second time when the model join broadcasts.
    val dbc = df
      .select(col("doc_id"), tokens(col(textCol)).as("__toks"))
      .filter(size(toks) >= 2)
      .select(col("doc_id"), explode(pairs).as("p"))
      .repartition(col("doc_id"))
      .groupBy(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("n"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Head totals via hash-agg + a vocab-sized equi-join on w1 — both
    // frames here are bounded by the bigram vocabulary, and hash
    // aggregation beats the sort a window over w1 would force.
    val pairCounts = dbc
      .groupBy(col("w1"), col("w2"))
      .agg(sum(col("n")).as("pair_n"))
    val model = pairCounts.join(
      pairCounts.groupBy(col("w1")).agg(sum(col("pair_n")).as("head_n")),
      Seq("w1"))
    val vocab = model.select(
      countDistinct(col("w1")).cast("double").as("vsz"))
    val p = (col("pair_n") + lit(alpha)) /
      (col("head_n") + lit(alpha) * col("vsz"))
    dbc
      .join(model, Seq("w1", "w2"))
      .crossJoin(broadcast(vocab))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("n")).as("n_bigrams"),
        sum(col("n") * log(p)).as("__lp"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("__lp"), 6).as("logprob"),
        round(exp(-col("__lp") / col("n_bigrams")), 6).as("ppl"))
  }

  /** CCNet-style head/middle/tail bucketing: per language, documents are
    * split into perplexity tertiles — "head" (most fluent third under the
    * corpus LM) is kept, "middle" kept or sampled, "tail" dropped. The
    * published pipeline thresholds on a perplexity HISTOGRAM rather than
    * exact order statistics, and so does this operator, because that is
    * also the scale-correct shape: exact per-language tertiles would sort
    * every document of a language in one task (English IS the corpus at
    * 100 TB), while histogram thresholds need only
    *
    *  1. per-(lang, bin) counts — one map-side-combined keyed aggregate,
    *     the only corpus-sized exchange (bin = floor(ppl·8): ×8 is a
    *     power-of-two exponent shift, exact in IEEE, so both engines bin
    *     identically from the already-gated 6-decimal ppl);
    *  2. a running-count window over the BIN frame (bounded by the score
    *     range — thousands of rows whatever the corpus size);
    *  3. the two boundary bins (first with 3·cum ≥ n, first with
    *     3·cum ≥ 2n — integer arithmetic, no percentile semantics to
    *     disagree on) broadcast back over the scored corpus.
    *
    * Output: (doc_id, lang, ppl, bucket ∈ head|middle|tail). */
  def perplexityBuckets(df: DataFrame, textCol: String = "text",
      langCol: String = "lang", alpha: Double = 0.5): DataFrame = {
    // referenced by the bucket-bounds chain AND the final labeling join:
    // persist, or the whole perplexity corpus pass runs twice (the bm25
    // lesson; before/after in BASELINE.md)
    val scored = perplexity(df, textCol, alpha)
      .join(df.select(col("doc_id"), col(langCol)), Seq("doc_id"))
      .withColumn("__bin", floor(col("ppl") * 8).cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bins = scored.groupBy(col(langCol), col("__bin"))
      .agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy(col(langCol)).orderBy(col("__bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = bins.withColumn("__cum", sum(col("__c")).over(w))
    val n = cum.groupBy(col(langCol)).agg(sum(col("__c")).as("__n"))
    val bounds = broadcast(cum.join(n, Seq(langCol))
      .groupBy(col(langCol))
      .agg(
        min(when(col("__cum") * 3 >= col("__n"), col("__bin"))).as("__b1"),
        min(when(col("__cum") * 3 >= col("__n") * 2, col("__bin"))).as("__b2")))
    scored.join(bounds, Seq(langCol))
      .select(col("doc_id"), col(langCol), col("ppl"),
        when(col("__bin") <= col("__b1"), lit("head"))
          .when(col("__bin") <= col("__b2"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** Deterministic document fingerprint: polynomial rolling hash over the
    * token stream, h = (h*31 + tokenHash) mod p, with tokenHash derived
    * from the first 8 hex digits of md5(token) so the oracle can reproduce
    * it engine-independently. p small enough that h*31 + t never overflows
    * a signed 64-bit accumulator. */
  def fingerprint(df: DataFrame, textCol: String = "text"): DataFrame = {
    val p = 1000000007L
    val toks = tokens(col(textCol))
    val tokHash = (t: Column) => conv(substring(md5(t), 1, 8), 16, 10).cast("long") % p
    df.withColumn(
      "fingerprint",
      aggregate(toks, lit(0L), (acc, t) => (acc * 31L + tokHash(t)) % p))
  }

  /** BPE merge learning — the tokenizer-training primitive: k iterations
    * of count-adjacent-symbol-pairs → take the most frequent → merge it
    * everywhere, run CHAR-LEVEL over the WORD-FREQUENCY table (the actual
    * published algorithm — subword units from Sennrich et al., 2016,
    * public knowledge). Returns the learned merge list (iter, pair, cnt).
    *
    * The word-frequency formulation is what makes this a 100-TB
    * operator: the corpus is touched ONCE (one token explode → one
    * grouped count); every merge iteration then runs over the vocabulary
    * frame — distinct words × their characters — whose size is a
    * property of the LANGUAGE, not the corpus. Each iteration is one
    * pair-count aggregation and two windows partitioned by word, all on
    * the persisted symbol frame; the 1-row argmax result is persisted
    * and broadcast so neither of its two consumers re-runs the count.
    *
    * Self-pairs (a == b, e.g. "o o") are excluded from merge candidates:
    * greedy leftmost application inside a run of repeated symbols needs
    * a run-parity tiebreak that both engines would have to replicate
    * bit-for-bit; for a ≠ b two matches can never overlap (the right
    * symbol of one differs from the left symbol of the next), so greedy
    * = all matches and the windowed formulation below is exact. */
  def bpeMerges(docs: DataFrame, textCol: String = "text",
      iterations: Int = 5): DataFrame =
    bpeLoop(docs, textCol, iterations)._1.reduce(_ unionByName _)

  /** The apply half of the tokenizer: each distinct word's segmentation
    * after the k learned merges — encode once per unique word (the
    * standard BPE-encoder shape: the corpus then joins on `word`, so the
    * expensive per-character merge walk runs |vocab| times, not |corpus|
    * times). Returns (word, freq, tokens, n_tokens) — the final token
    * state of the identical learn loop, which the oracle replays
    * CTE-for-CTE. */
  def bpeEncodeWords(docs: DataFrame, textCol: String = "text",
      iterations: Int = 5): DataFrame =
    encodeTokenState(bpeLoop(docs, textCol, iterations)._2)

  /** Byte-level BPE learn — the GPT-2-class byte-fallback variant of
    * [[bpeMerges]] (Radford et al. 2019 tokenize UTF-8 BYTES, so the
    * base vocabulary is the 256 byte values and NOTHING can ever be
    * out-of-vocabulary — multi-byte scripts, emoji, and raw binary all
    * decompose to bytes). Symbols live in HEX space (each initial symbol
    * is one byte's 2-hex-char rendering, merges concatenate hex strings):
    * Spark and DuckDB render hex identically (both uppercase — the
    * mm_frames_binary convention), so the oracle replays every merge
    * byte-for-byte without any UTF-8 round-trip hazard. Same recurrence,
    * same self-pair exclusion, same word-frequency scale shape as the
    * char-level loop. Returns (iter, pair, cnt) with pair = the two hex
    * symbols space-joined. */
  def bpeBytesMerges(docs: DataFrame, textCol: String = "text",
      iterations: Int = 5): DataFrame =
    bpeBytesLoop(docs, textCol, iterations)._1.reduce(_ unionByName _)

  /** The apply half of the byte-level tokenizer: each distinct word's
    * byte segmentation after the learned merges, as hex-space tokens.
    * unhex(concat(tokens)) is the word's exact UTF-8 bytes — the
    * round-trip the byte-level design guarantees by construction. */
  def bpeBytesEncodeWords(docs: DataFrame, textCol: String = "text",
      iterations: Int = 5): DataFrame =
    encodeTokenState(bpeBytesLoop(docs, textCol, iterations)._2)

  /** Byte-level BPE over ARBITRARY binary units — the entry point for
    * the multimodal columns: `units` is (word, freq, hx) where `word` is
    * any unit key and `hx` the EVEN-length hex rendering of the unit's
    * bytes (hex(media) for a binary column). Bytes need not be valid
    * UTF-8 — symbols never leave hex space. */
  def bpeBytesMergesOnHex(units: DataFrame, iterations: Int = 5): DataFrame =
    bpeHexCore(units, iterations)._1.reduce(_ unionByName _)

  /** Encode twin of [[bpeBytesMergesOnHex]]: (word, freq, tokens,
    * n_tokens) with hex-space tokens whose concatenation is `hx`. */
  def bpeBytesEncodeOnHex(units: DataFrame, iterations: Int = 5): DataFrame =
    encodeTokenState(bpeHexCore(units, iterations)._2)

  /** Final-token-state → (word, freq, tokens, n_tokens) rollup shared by
    * the char- and byte-level encoders. */
  private def encodeTokenState(state: DataFrame): DataFrame =
    state.groupBy(col("word"), col("freq"))
      .agg(
        transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x("tok")).as("tokens"),
        count(lit(1)).as("n_tokens"))

  private def bpeBytesLoop(docs: DataFrame, textCol: String,
      iterations: Int): (Seq[DataFrame], DataFrame) =
    bpeHexCore(docs
      .select(explode(split(trim(col(textCol)), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(col("word"), col("freq"),
        hex(encode(col("word"), "UTF-8")).as("hx")), iterations)

  /** Hex symbolization (one 2-hex-char symbol per byte) → shared merge
    * recurrence. */
  private def bpeHexCore(units: DataFrame,
      iterations: Int): (Seq[DataFrame], DataFrame) =
    bpeCore(units.select(col("word"), col("freq"),
      posexplode(transform(
        sequence(lit(1), (length(col("hx")) / 2).cast("int")),
        i => col("hx").substr(i * 2 - 1, lit(2)))).as(Seq("pos", "tok"))),
      iterations)

  /** Shared BPE recurrence: k rounds of count→argmax→non-overlapping
    * merge over the per-word character/token state. Returns the per-round
    * merge-table frames AND the final token state so learn (bpeMerges)
    * and encode (bpeEncodeWords) stay one implementation. */
  private def bpeLoop(docs: DataFrame, textCol: String,
      iterations: Int): (Seq[DataFrame], DataFrame) = {
    val vocab = docs
      .select(explode(split(trim(col(textCol)), "\\s+")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    bpeCore(vocab.select(col("word"), col("freq"),
      posexplode(transform(sequence(lit(1), length(col("word"))),
        i => col("word").substr(i, lit(1)))).as(Seq("pos", "tok"))),
      iterations)
  }

  /** The k count→argmax→merge rounds over an initial (word, freq, pos,
    * tok) symbol frame — char symbols (bpeLoop) and hex byte symbols
    * (bpeHexCore) share it verbatim, so the two tokenizer levels cannot
    * drift. */
  private def bpeCore(toks0: DataFrame,
      iterations: Int): (Seq[DataFrame], DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.storage.StorageLevel
    val byWord = Window.partitionBy(col("word")).orderBy(col("pos"))
    var toks = toks0.persist(StorageLevel.MEMORY_AND_DISK)
    val outs = Seq.newBuilder[DataFrame]
    for (it <- 1 to iterations) {
      val m = toks
        .withColumn("b", lead(col("tok"), 1).over(byWord))
        .filter(col("b").isNotNull && col("tok") =!= col("b"))
        .groupBy(col("tok").as("a"), col("b"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b")).limit(1)
        .select(col("a").as("ma"), col("b").as("mb"), col("cnt"))
        // EAGER localCheckpoint (1 row): the round's merge table must
        // not keep a lineage reference to this round's toks — those
        // blocks are freed next round, and a lazily-persisted m whose
        // cache partition is later lost would recompute into a freed,
        // lineage-truncated checkpoint and fail irrecoverably when
        // bpeMerges finally evaluates `outs`.
        .localCheckpoint()
      outs += m.select(lit(it.toLong).as("iter"),
        concat(col("ma"), lit(" "), col("mb")).as("pair"), col("cnt"))
      val sel = toks.crossJoin(broadcast(m))
        .withColumn("sel", col("tok") === col("ma") &&
          lead(col("tok"), 1).over(byWord) === col("mb"))
        .withColumn("prev_sel", lag(col("sel"), 1).over(byWord))
      // localCheckpoint, not persist: each round stacks 3 windows on
      // the lineage, and the optimizer re-analyzes the WHOLE chain at
      // every round's argmax action — superlinear in iterations (the
      // graph_hits 60 s → 6 s lesson). Truncating lineage keeps each
      // round's plan flat; values are exact either way. Trade: a
      // checkpointed block is not recomputable from lineage (an executor
      // loss fails the job instead of recomputing) — acceptable for a
      // bounded 5-round vocab-scale loop; superseded rounds' blocks are
      // freed below so executor storage stays O(1) in iterations (round
      // 1 supersedes the persisted toks0, which is not a checkpoint).
      val next = Rounds.checkpoint(
        sel.filter(!coalesce(col("prev_sel"), lit(false)))
          .withColumn("tok", when(coalesce(col("sel"), lit(false)),
            concat(col("tok"), col("mb"))).otherwise(col("tok")))
          .withColumn("pos", row_number().over(byWord).cast("long"))
          .select(col("word"), col("freq"), col("pos"), col("tok")))
      if (it > 1) Rounds.free(toks)
      toks = next
    }
    (outs.result(), toks)
  }

  /** WordPiece-style greedy longest-match (MaxMatch) subword
    * tokenization — the inference algorithm BERT-family tokenizers run,
    * against a vocab DERIVED from the corpus itself: the top `topWords`
    * whole words, the top `topGrams` character `gramLen`-grams (corpus-
    * frequency-weighted), and every single character, so every position
    * always matches and no word is ever lost to an [UNK] dead end. At
    * each position the LONGEST vocab token wins (the MaxMatch rule);
    * unknown words decompose through grams down to characters.
    *
    * The scale trick is the one real pipelines use: the greedy walk runs
    * over the DISTINCT-WORD frame, never the corpus — at 100 TB the
    * corpus contributes one grouped count (word frequencies) and
    * everything after is vocab-scale. The walk itself is `rounds` joins
    * of a ≤|distinct words| state frame against the precomputed
    * best-match-per-(word,pos) frame; each round is localCheckpoint'ed
    * (every state frame is read twice: once as the next round's input,
    * once in the final token union) and ALL rounds stay cached — total
    * state is rounds × |distinct words| rows, vocab-scale by
    * construction. Words needing more than `rounds` tokens truncate
    * identically on both engines (the oracle's recursion carries the
    * same round counter).
    *
    * Returns (token, tok_len, n_words, corpus_occ): every emitted vocab
    * token with how many distinct words use it and its total occurrence
    * count across the corpus. */
  def maxMatchTokenize(docs: DataFrame, textCol: String = "text",
      topWords: Int = 24, topGrams: Int = 16, gramLen: Int = 4,
      maxTokLen: Int = 12, rounds: Int = 16): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val wf = docs.select(explode(tokens(col(textCol))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .persist(lvl)
    val wtop = wf.orderBy(col("freq").desc, col("word")).limit(topWords)
      .select(col("word").as("tok"))
    val gtop = wf.filter(length(col("word")) >= gramLen)
      .select(col("word"), col("freq"),
        explode(sequence(lit(1), length(col("word")) - (gramLen - 1))).as("i"))
      .select(col("word").substr(col("i"), lit(gramLen)).as("tok"), col("freq"))
      .groupBy(col("tok")).agg(sum(col("freq")).as("gfreq"))
      .orderBy(col("gfreq").desc, col("tok")).limit(topGrams)
      .select(col("tok"))
    val chars = wf
      .select(col("word"), explode(sequence(lit(1), length(col("word")))).as("i"))
      .select(col("word").substr(col("i"), lit(1)).as("tok")).distinct()
    val vocab = wtop.unionAll(gtop).unionAll(chars).distinct()
      .filter(length(col("tok")) <= maxTokLen)
    // best (longest) vocab match per (word, consumed-prefix) position —
    // candidates explode bounded by maxTokLen, vocab rides broadcast
    val cand = wf.select(col("word"))
      .select(col("word"),
        explode(sequence(lit(0), length(col("word")) - 1)).as("pos"))
      .select(col("word"), col("pos"),
        explode(sequence(lit(1),
          least(lit(maxTokLen), length(col("word")) - col("pos")))).as("tl"))
      .select(col("word"), col("pos"), col("tl"),
        col("word").substr(col("pos") + 1, col("tl")).as("sub"))
    val bm = cand.join(broadcast(vocab), col("sub") === col("tok"))
      .groupBy(col("word"), col("pos"))
      .agg(max(struct(col("tl"), col("tok"))).as("m"))
      .select(col("word"), col("pos"), col("m.tok").as("tok"),
        col("m.tl").as("tl"))
      .persist(lvl)
    // the greedy walk: one state row per not-yet-finished word
    var st = wf.select(col("word"), length(col("word")).as("len"),
      lit(0).as("pos")).localCheckpoint()
    val reached = Seq.newBuilder[DataFrame]
    // early exit once every word is fully consumed: emitted tokens are
    // identical (later rounds of an empty state add nothing), matching
    // the oracle recursion, which also terminates on the empty frontier
    var r = 0
    while (r < rounds && !st.isEmpty) {
      reached += st
      st = st.join(bm, Seq("word", "pos"))
        .filter(col("pos") + col("tl") < col("len"))
        .select(col("word"), col("len"), (col("pos") + col("tl")).as("pos"))
        .localCheckpoint()
      r += 1
    }
    reached.result().reduce(_.unionAll(_))
      .join(bm, Seq("word", "pos"))
      .join(wf, Seq("word"))
      .groupBy(col("tok"))
      .agg(countDistinct(col("word")).as("n_words"),
        sum(col("freq")).as("corpus_occ"))
      .select(col("tok").as("token"),
        length(col("tok")).cast("long").as("tok_len"),
        col("n_words"), col("corpus_occ"))
  }

  /** SentencePiece-style unigram-LM subword tokenizer (Kudo 2018,
    * "Subword Regularization", arXiv:1804.10959) — the third major
    * tokenizer family next to [[bpeMerges]] (merge-driven) and
    * [[maxMatchTokenize]] (greedy longest-match): a vocabulary of
    * candidate pieces carries unigram log-probabilities, each word is
    * segmented by VITERBI (the max-likelihood split, not the greedy
    * longest one), and one EM round re-estimates piece probabilities
    * from the segmentation usage before the final pass.
    *
    * Candidate vocab = every single character (coverage guarantee) +
    * the top `topSubs` substrings of length 2..maxTokLen by
    * corpus-occurrence weight. Initial p(tok) ∝ substring weight; after
    * the first Viterbi pass, p(tok) ∝ usage+1 (Laplace — unused pieces
    * stay scored rather than dividing by zero).
    *
    * Scale shape — the [[maxMatchTokenize]] distinct-word-frame
    * pattern: the corpus contributes ONE grouped word count; candidate
    * extraction, vocab scoring, and both Viterbi passes run at
    * word-frame scale. The DP itself is bounded relaxation, not
    * recursion-per-path: state holds ONE best (score, path) row per
    * (word, consumed-prefix) — a keyed max per round, so the
    * exponential segmentation space never materializes — and `rounds`
    * ≥ max word length guarantees convergence (every piece consumes ≥1
    * char). Each round is localCheckpoint'ed and the superseded round's
    * blocks are freed (the bpeLoop discipline).
    *
    * Gate determinism: scores are sums of ln(count)-ln(total) doubles
    * accumulated strictly in path order — the identical IEEE tree on
    * both engines (the pmi/psi convention) — and score ties break on
    * the path string, so the per-(word,pos) argmax replays exactly in
    * the oracle's ORDER BY score DESC, path DESC. Output columns are
    * string/int only.
    *
    * Returns (token, tok_len, n_words, corpus_occ) — the
    * [[maxMatchTokenize]] shape. [[unigramWordPaths]] exposes the
    * per-word segmentation for tests. */
  def unigramTokenize(docs: DataFrame, textCol: String = "text",
      maxTokLen: Int = 6, topSubs: Int = 24, rounds: Int = 8): DataFrame = {
    val fin = unigramWordPaths(docs, textCol, maxTokLen, topSubs, rounds)
    fin.select(col("word"), col("freq"),
        explode(split(col("path"), "\u001f")).as("tok"))
      .groupBy(col("tok"))
      .agg(countDistinct(col("word")).as("n_words"),
        sum(col("freq")).as("corpus_occ"))
      .select(col("tok").as("token"),
        length(col("tok")).cast("long").as("tok_len"),
        col("n_words"), col("corpus_occ"))
  }

  /** Per-word max-likelihood segmentation under the EM-reweighted
    * unigram LM: (word, freq, path) with path = pieces joined by
    * U+001F. See [[unigramTokenize]] for the algorithm and scale
    * notes. */
  def unigramWordPaths(docs: DataFrame, textCol: String = "text",
      maxTokLen: Int = 6, topSubs: Int = 24, rounds: Int = 8): DataFrame = {
    require(rounds >= 1 && rounds <= 24, "rounds in [1,24] (jobs grow per round)")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val sep = "\u001f"
    val wf = docs.select(explode(tokens(col(textCol))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .persist(lvl)
    // candidate pieces: all chars + top multi-char substrings by weight
    val chars = wf
      .select(col("word"), col("freq"),
        explode(sequence(lit(1), length(col("word")))).as("i"))
      .select(col("word").substr(col("i"), lit(1)).as("tok"), col("freq"))
      .groupBy(col("tok")).agg(sum(col("freq")).as("sfreq"))
    val subs = wf.filter(length(col("word")) >= 2)
      .select(col("word"), col("freq"),
        explode(sequence(lit(1), length(col("word")) - 1)).as("i"))
      .select(col("word"), col("freq"), col("i"),
        explode(sequence(lit(2),
          least(lit(maxTokLen), length(col("word")) - col("i") + 1))).as("l"))
      .select(col("word").substr(col("i"), col("l")).as("tok"), col("freq"))
      .groupBy(col("tok")).agg(sum(col("freq")).as("sfreq"))
      .orderBy(col("sfreq").desc, col("tok")).limit(topSubs)
    val vocab0 = chars.unionAll(subs)
      .persist(lvl)
    // all (word, prefix-consumed, piece) match positions — lp-independent,
    // shared by both Viterbi passes
    val cand = wf.select(col("word"),
        explode(sequence(lit(0), length(col("word")) - 1)).as("fpos"))
      .select(col("word"), col("fpos"),
        explode(sequence(lit(1),
          least(lit(maxTokLen), length(col("word")) - col("fpos")))).as("tl"))
      .select(col("word"), col("fpos"), (col("fpos") + col("tl")).as("tpos"),
        col("word").substr(col("fpos") + 1, col("tl")).as("sub"))
      .persist(lvl)
    def viterbi(lp: DataFrame): DataFrame = {
      // (r16 receipt: e as localCheckpoint instead of persist — the
      // bpeLoop lineage-truncation move, motivated by Prof's 3.3-7.1 s
      // driver gap on text_unigram_encode — was tried and measured FLAT
      // to slightly worse, solo min-of-3 at sf0.1: encode 5.52 → 5.52,
      // lm 4.91 → 5.47. cand is already persisted, so each round's
      // re-planned tree is mostly leaves; the gap is per-action
      // analysis/AQE overhead the truncation cannot remove. persist
      // stays.)
      val e = cand.join(broadcast(lp), col("sub") === col("tok"))
        .select(col("word"), col("fpos").as("pos"), col("tpos"),
          col("tok"), col("lp"))
        .persist(lvl)
      var st = Rounds.checkpoint(wf.select(col("word"), lit(0).as("pos"),
        lit(0.0).as("score"), lit("").as("path")))
      // (r15 optimization receipt: a fixpoint EARLY EXIT — lazy
      // checkpoint + (count, xor-hash) probe per round, the
      // ccTwoStarsNodes shape — was tried and measured WORSE at sf0.1:
      // text_unigram_encode 5.74 → 7.20 s, text_unigram_lm 5.36 →
      // 6.08 s isolated. The fixture vocabulary genuinely uses the full
      // `rounds` budget, so the probe aggregates — which must hash the
      // accumulated PATH strings — bought no skipped rounds. The
      // fixed-round loop stays.)
      for (_ <- 1 to rounds) {
        val nxt = st.join(e, Seq("word", "pos"))
          .select(col("word"), col("tpos").as("pos"),
            (col("score") + col("lp")).as("score"),
            concat(col("path"), lit(sep), col("tok")).as("path"))
        val next = Rounds.checkpoint(st.unionAll(nxt)
          .groupBy(col("word"), col("pos"))
          .agg(max(struct(col("score"), col("path"))).as("m"))
          .select(col("word"), col("pos"), col("m.score").as("score"),
            col("m.path").as("path")))
        Rounds.free(st)
        st = next
      }
      val segged = st.join(wf, Seq("word"))
        .filter(col("pos") === length(col("word")))
        .select(col("word"), col("freq"),
          substring(col("path"), 2, Int.MaxValue).as("path"))
      // Loud completeness gate: a word whose best segmentation needs more
      // than `rounds` pieces never reaches pos == length and would SILENTLY
      // vanish from the token stream (and the oracle, replaying the same
      // truncation, would stay green over the loss). Both frames are
      // word-vocabulary scale and already materialized (wf persisted, st
      // localCheckpoint'ed), so the two counts are cheap driver probes.
      val nWords = wf.count()
      val nSegged = segged.count()
      require(nSegged == nWords,
        s"unigram segmentation dropped ${nWords - nSegged} of $nWords " +
          s"distinct words: some word needs more than rounds=$rounds pieces " +
          "— raise `rounds` toward the maximum word length (every piece " +
          "consumes at least one character, so rounds >= max word length " +
          "always suffices)")
      segged
    }
    val t0 = broadcast(vocab0.agg(sum(col("sfreq")).as("tt")))
    val lp0 = vocab0.crossJoin(t0)
      .select(col("tok"),
        (log(col("sfreq").cast("double")) - log(col("tt").cast("double"))).as("lp"))
    // E-step usage from the first pass; M-step Laplace re-estimate
    val usage = viterbi(lp0)
      .select(col("freq"), explode(split(col("path"), sep)).as("tok"))
      .groupBy(col("tok")).agg(sum(col("freq")).as("u"))
    val v1 = vocab0.join(usage, Seq("tok"), "left")
      .select(col("tok"), (coalesce(col("u"), lit(0L)) + 1L).as("uf"))
      .persist(lvl)
    val t1 = broadcast(v1.agg(sum(col("uf")).as("tt")))
    val lp1 = v1.crossJoin(t1)
      .select(col("tok"),
        (log(col("uf").cast("double")) - log(col("tt").cast("double"))).as("lp"))
    viterbi(lp1)
  }

  /** Hashed-feature linear quality classifier — the feature-hashing trick
    * (hash each token into one of `buckets` feature slots, score = mean
    * slot weight) that backs fastText-style corpus filters. The weight
    * table is DERIVED (a Knuth-multiplicative mix of the slot index),
    * standing in for trained parameters the same way the codec stubs
    * stand in for external decoders: the plumbing — hashing, bucketing,
    * per-doc accumulation, thresholding — is the real distributed shape a
    * trained model would ride, and a real model swaps in by replacing
    * `slotWeight` with a broadcast lookup.
    *
    * Everything stays integer until one final IEEE division, so both
    * engines agree bit-for-bit: token → 60-bit md5 key → slot = key %
    * buckets → integer weight in [-1001, 1001] (milli-units) → exact
    * 64-bit sum via the aggregate HOF (no explode, NO SHUFFLE — the whole
    * classifier is one codegen'd projection over the scan) → score =
    * sum / (1000 · n_tokens). Intermediate bound: |sum| ≤ 1001·n_tokens,
    * overflow-free for any document under ~9·10^15 tokens. */
  /** Collocation mining by pointwise mutual information over adjacent
    * token pairs: pmi = ln( p(w1,w2) / (p(w1)·p(w2)) ) — how much more
    * often the pair co-occurs than independence predicts (multi-word
    * expressions, named entities). All probabilities are ratios of exact
    * corpus counts, so the score is a deterministic double on both
    * engines. Two keyed aggregates over the token stream + two broadcast
    * scalar totals — no window, nothing quadratic; `minPairN` prunes the
    * hapax tail before the joins. */
  def pmiPairs(df: DataFrame, textCol: String = "text",
      minPairN: Long = 20): DataFrame = {
    val toks = col("__toks")
    val pairs = bigramPairs(toks)
    val tokArr = df.select(tokens(col(textCol)).as("__toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val px = tokArr.filter(size(toks) >= 2)
      .select(explode(pairs).as("p"))
      .select(col("p.w1"), col("p.w2"))
    val bi = px.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("pair_n"))
      .filter(col("pair_n") >= minPairN)
    val un = tokArr.select(explode(toks).as("w"))
    val uc = un.groupBy(col("w")).agg(count(lit(1)).as("w_n"))
    val nb = broadcast(px.agg(count(lit(1)).cast("double").as("__nb")))
    val nu = broadcast(un.agg(count(lit(1)).cast("double").as("__nu")))
    bi
      .join(uc.select(col("w").as("w1"), col("w_n").as("__c1")), Seq("w1"))
      .join(uc.select(col("w").as("w2"), col("w_n").as("__c2")), Seq("w2"))
      .crossJoin(nb).crossJoin(nu)
      .select(col("w1"), col("w2"), col("pair_n"),
        round(log((col("pair_n") / col("__nb")) /
          ((col("__c1") / col("__nu")) * (col("__c2") / col("__nu")))), 6)
          .as("pmi"))
  }

  /** Inverted index build: token → document frequency + the first
    * `maxPostings` doc ids (ascending) — the retrieval-side artifact a
    * corpus search / decontamination pipeline materializes.
    *
    * Scale shape: the only unbounded state risk in an inverted index is a
    * stopword's posting list, so postings are accumulated by the k-bounded
    * [[TopKAggregator]] (score = −doc_id ⇒ keeps the k SMALLEST ids) —
    * O(k) memory per token with map-side partial aggregation, never a
    * `collect_list` of a billion-document posting list. One shuffle for
    * the (token, doc) distinct, one k-bounded shuffle for the index. */
  def invertedIndex(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", dfMin: Long = 60,
      maxPostings: Int = 15): DataFrame = {
    val topk = udaf(new TopKAggregator(maxPostings))
    docs.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .distinct()
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("df"),
        topk(col(idCol), -col(idCol).cast("double")).as("top"))
      .filter(col("df") >= dfMin)
      .select(col("tok"), col("df"),
        transform(col("top"), x => x("id")).as("postings"))
  }

  def hashedLinearScore(df: DataFrame, textCol: String = "text",
      buckets: Int = 1024, threshold: Double = 0.0): DataFrame = {
    val toks = tokens(col(textCol))
    val slot = (t: Column) =>
      conv(substring(md5(t), 1, 15), 16, 10).cast("long") % buckets
    val slotWeight = (t: Column) => (slot(t) * 2654435761L) % 2003L - 1001L
    df.withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("raw_score",
        aggregate(toks, lit(0L), (acc, t) => acc + slotWeight(t)))
      .withColumn("quality",
        col("raw_score").cast("double") / (col("n_tokens") * 1000.0))
      .withColumn("keep", col("quality") > threshold)
  }

  /** Ordered filter-chain gate — the composed document-admission rule a
    * pretraining pipeline actually ships: each rule fires in a fixed
    * order and a failing doc is tagged with the FIRST reason (so pipeline
    * dashboards see a stable reason distribution, not an arbitrary one).
    * Rules are pure integer/single-division arithmetic over one token
    * array: too_short / too_long (char bounds), low_alpha (alphabetic
    * char ratio), word_len (mean token length outside [3,12]), and
    * no_stopword (none of the top English function words present).
    * Zero shuffles — one codegen'd projection; at 100 TB this runs as a
    * narrow map over the scan and the corpus-level reason histogram is
    * the only aggregation anyone adds on top. */
  def filterChain(df: DataFrame, textCol: String = "text",
      minChars: Long = 100L, maxChars: Long = 20000L,
      minAlphaRatio: Double = 0.6): DataFrame = {
    val toks = tokens(col(textCol))
    val nChars = length(col(textCol)).cast("long")
    val alphaRatio =
      length(regexp_replace(col(textCol), "[^A-Za-z]", "")).cast("double") /
        length(col(textCol))
    val meanWordLen =
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") /
        size(toks)
    val hasStopword =
      countIn(tokens(lower(col(textCol))), stopwords("en")) > 0
    df.withColumn("reason",
        when(nChars < minChars, "too_short")
          .when(nChars > maxChars, "too_long")
          .when(alphaRatio < minAlphaRatio, "low_alpha")
          .when(meanWordLen < 3.0 || meanWordLen > 12.0, "word_len")
          .when(!hasStopword, "no_stopword")
          .otherwise("pass"))
      .withColumn("keep", col("reason") === "pass")
  }

  /** ROUGE-N generation-eval metric (Lin 2004): clipped n-gram overlap
    * between a candidate and a reference text, reported as
    * precision / recall / F1 per (pair, n). `match_n` is the multiset
    * intersection Σ_g min(count_cand(g), count_ref(g)) — the "clipped"
    * count that stops a candidate from farming recall by repeating one
    * reference gram.
    *
    * `pairs` is any (cand_id, ref_id) frame — a model-output↔reference
    * eval manifest in production; callers supply the pairing so the
    * metric composes with whatever produced it (dedup candidates, eval
    * sets, adjacent-doc stand-ins).
    *
    * Scale shape: gram counts are one explode + one (id, n, gram)
    * aggregation over the corpus — linear, map-side-combinable. The
    * match join keys on (doc, n, gram) against the pair frame, so work
    * is linear in Σ grams × pair-degree, never corpus-quadratic. All
    * counts are exact integers; the only doubles are the three final
    * IEEE divisions (and F1 from p/r), which DuckDB reproduces
    * bit-for-bit. Pairs where either side has no n-gram of a given n
    * (doc shorter than n tokens) are dropped for that n — ROUGE-N is
    * undefined there.
    */
  def rougeN(docs: DataFrame, pairs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", ns: Seq[Int] = Seq(1, 2)): DataFrame = {
    val toks = tokens(col(textCol))
    val grams = ns.map { n =>
      docs.select(col(idCol).as("id"), lit(n).as("n"),
        explode(shingles(toks, n)).as("g"))
    }.reduce(_ unionAll _)
    // (r15 optimization receipt: persisting this count frame for its
    // multiple join-leg references was tried and measured WORSE at
    // sf0.1 — text_bleu 3.82 → 5.17 s, text_rouge 2.93 → 4.27 s
    // isolated. The duplicate legs execute as CONCURRENT stage jobs on
    // otherwise-idle cores, so the recompute is nearly free in wall
    // time, while the cache materialization is a serializing barrier.
    // The unpersisted form stays.)
    val counts = grams.groupBy("id", "n", "g").agg(count(lit(1)).as("c"))
    val totals = counts.groupBy("id", "n").agg(sum(col("c")).as("tot"))
    val p = pairs.select(col("cand_id"), col("ref_id"))
    val cl = counts.select(col("id").as("cand_id"), col("n"), col("g"),
      col("c").as("cc"))
    val cr = counts.select(col("id").as("ref_id"), col("n"), col("g"),
      col("c").as("rc"))
    val m = p.join(cl, Seq("cand_id"))
      .join(cr, Seq("ref_id", "n", "g"))
      .groupBy("cand_id", "ref_id", "n")
      .agg(sum(least(col("cc"), col("rc"))).as("match_n"))
    val tc = totals.select(col("id").as("cand_id"), col("n"),
      col("tot").as("cand_total"))
    val tr = totals.select(col("id").as("ref_id"), col("n"),
      col("tot").as("ref_total"))
    val base = p.withColumn("n", explode(array(ns.map(n => lit(n)): _*)))
    base.join(m, Seq("cand_id", "ref_id", "n"), "left")
      .join(tc, Seq("cand_id", "n"))
      .join(tr, Seq("ref_id", "n"))
      .select(col("cand_id"), col("ref_id"), col("n"),
        coalesce(col("match_n"), lit(0L)).as("match_n"),
        col("cand_total"), col("ref_total"))
      .withColumn("rouge_p",
        col("match_n").cast("double") / col("cand_total").cast("double"))
      .withColumn("rouge_r",
        col("match_n").cast("double") / col("ref_total").cast("double"))
      .withColumn("rouge_f1",
        when(col("rouge_p") + col("rouge_r") === 0.0, 0.0)
          .otherwise(lit(2.0) * col("rouge_p") * col("rouge_r") /
            (col("rouge_p") + col("rouge_r"))))
  }

  /** BLEU (Papineni et al. 2002) — the other half of the generation-eval
    * literature next to [[rougeN]]: clipped modified n-gram precisions
    * p_n = Σ_g min(count_cand, count_ref) / cand_total_n for n = 1..4,
    * combined as BP · (p1·p2·p3·p4)^(1/4) with the brevity penalty
    * BP = 1 if cand_len ≥ ref_len else exp(1 − ref_len/cand_len).
    * Unsmoothed: any p_n = 0 ⇒ bleu = 0 (the reference formulation).
    *
    * Scale shape is [[rougeN]]'s: one explode + one (id, n, gram)
    * map-side-combinable count over the corpus, match join keyed on
    * (doc, n, gram) — linear in Σ grams × pair-degree. Pairs keep a row
    * as long as the CANDIDATE has ≥ maxN tokens (p_4's denominator
    * exists) and the reference has ≥ 1 token (BP's r exists); a
    * reference lacking some n-gram order just contributes 0 matches —
    * BLEU is defined there (p_n = 0), unlike ROUGE-N.
    *
    * Determinism: all counts exact integers; each p_n is ONE IEEE
    * division (raw doubles gate); bp and bleu pass through exp/pow, so
    * both leave rounded to 6 decimals on both engines (the accumulated-
    * double boundary rule). Returns (cand_id, ref_id, cand_len,
    * ref_len, match_1..4, p_1..4, bp, bleu). */
  def bleu(docs: DataFrame, pairs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", maxN: Int = 4): DataFrame = {
    require(maxN >= 1 && maxN <= 6, "maxN in [1,6]")
    val ns = 1 to maxN
    val toks = tokens(col(textCol))
    val grams = ns.map { n =>
      docs.select(col(idCol).as("id"), lit(n).as("n"),
        explode(shingles(toks, n)).as("g"))
    }.reduce(_ unionAll _)
    // (r15 optimization receipt: persisting this count frame for its
    // multiple join-leg references was tried and measured WORSE at
    // sf0.1 — text_bleu 3.82 → 5.17 s, text_rouge 2.93 → 4.27 s
    // isolated. The duplicate legs execute as CONCURRENT stage jobs on
    // otherwise-idle cores, so the recompute is nearly free in wall
    // time, while the cache materialization is a serializing barrier.
    // The unpersisted form stays.)
    val counts = grams.groupBy("id", "n", "g").agg(count(lit(1)).as("c"))
    val totals = counts.groupBy("id", "n").agg(sum(col("c")).as("tot"))
    val p = pairs.select(col("cand_id"), col("ref_id"))
    val m = p
      .join(counts.select(col("id").as("cand_id"), col("n"), col("g"),
        col("c").as("cc")), Seq("cand_id"))
      .join(counts.select(col("id").as("ref_id"), col("n"), col("g"),
        col("c").as("rc")), Seq("ref_id", "n", "g"), "left")
      .groupBy("cand_id", "ref_id", "n")
      .agg(sum(least(col("cc"), coalesce(col("rc"), lit(0L)))).as("mm"),
        sum(col("cc")).as("ct"))
    val aggs = ns.flatMap { n =>
      Seq(max(when(col("n") === n, col("mm"))).as(s"match_$n"),
        max(when(col("n") === n, col("ct"))).as(s"__ct$n"))
    }
    val piv = m.groupBy("cand_id", "ref_id")
      .agg(aggs.head, aggs.tail: _*)
      // candidate must have an order-maxN gram (p_maxN's denominator)
      .filter(col(s"__ct$maxN").isNotNull)
    val refLen = totals.filter(col("n") === 1)
      .select(col("id").as("ref_id"), col("tot").as("ref_len"))
    val ps = ns.map(n => (col(s"match_$n").cast("double") /
      col(s"__ct$n").cast("double")).as(s"p_$n"))
    val withP = piv.join(refLen, Seq("ref_id"))
      .select(Seq(col("cand_id"), col("ref_id"),
        col("__ct1").as("cand_len"), col("ref_len")) ++
        ns.map(n => col(s"match_$n")) ++ ps: _*)
    val bpRaw = when(col("cand_len") >= col("ref_len"), lit(1.0))
      .otherwise(exp(lit(1.0) - col("ref_len").cast("double") /
        col("cand_len").cast("double")))
    val prod = ns.map(n => col(s"p_$n")).reduce(_ * _)
    val anyZero = ns.map(n => col(s"match_$n") === 0L).reduce(_ || _)
    withP.select(Seq(col("cand_id"), col("ref_id"), col("cand_len"),
      col("ref_len")) ++
      ns.map(n => col(s"match_$n")) ++ ns.map(n => col(s"p_$n")) ++ Seq(
      round(bpRaw, 6).as("bp"),
      when(anyZero, lit(0.0))
        .otherwise(round(bpRaw * pow(prod, lit(1.0 / maxN)), 6)).as("bleu")): _*)
  }

  /** chrF2 (Popović 2015) — the CHARACTER-level member of the
    * generation-eval trio next to [[bleu]] and [[rougeN]], the metric
    * of record for morphology-rich targets: character n-grams
    * (whitespace stripped, the sacrebleu convention) of orders 1..6,
    * per-order clipped precision m_n/(clen−n+1) and recall
    * m_n/(rlen−n+1), uniformly averaged, combined as
    * chrF_β = (1+β²)·P·R / (β²·P + R) with β = 2.
    *
    * Totals need no aggregate at all — a length-L string has exactly
    * L−n+1 character n-grams — so the only joins are the clipped-match
    * count keyed on (doc, n, gram), the [[rougeN]] scale shape over
    * character shingles. Pairs keep a row when BOTH sides have ≥ maxN
    * characters (all orders defined); an order with zero overlap
    * contributes 0 matches, not a dropped row. Every m_n is an exact
    * integer; each per-order ratio is one IEEE division, the averages
    * are one fixed left-associated tree over them, and chrf2 is one
    * more fixed tree — raw doubles gate (the rouge_f1 precedent).
    * Returns (cand_id, ref_id, cand_len, ref_len, match_1..maxN,
    * avg_p, avg_r, chrf2). */
  def chrF(docs: DataFrame, pairs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", maxN: Int = 6, beta: Double = 2.0): DataFrame = {
    require(maxN >= 1 && maxN <= 8, "maxN in [1,8]")
    val ns = 1 to maxN
    // explicit whitespace class: Java's \s and DuckDB-RE2's \s disagree
    // on \x0B, so neither side uses the shorthand
    val base = docs.select(col(idCol).as("id"),
        regexp_replace(col(textCol), "[ \\t\\n\\r\\f]+", "").as("__t"))
      .select(col("id"), col("__t"), length(col("__t")).cast("long").as("__len"))
    val grams = ns.map { n =>
      base.filter(col("__len") >= n)
        .select(col("id"), lit(n).as("n"),
          explode(transform(
            sequence(lit(1L), col("__len") - (n - 1)),
            i => col("__t").substr(i.cast("int"), lit(n)))).as("g"))
    }.reduce(_ unionAll _)
    val counts = grams.groupBy("id", "n", "g").agg(count(lit(1)).as("c"))
    val p = pairs.select(col("cand_id"), col("ref_id"))
    val m = p
      .join(counts.select(col("id").as("cand_id"), col("n"), col("g"),
        col("c").as("cc")), Seq("cand_id"))
      .join(counts.select(col("id").as("ref_id"), col("n"), col("g"),
        col("c").as("rc")), Seq("ref_id", "n", "g"))
      .groupBy("cand_id", "ref_id", "n")
      .agg(sum(least(col("cc"), col("rc"))).as("mm"))
    val aggs = ns.map(n =>
      coalesce(max(when(col("n") === n, col("mm"))), lit(0L)).as(s"match_$n"))
    val piv = p.join(m, Seq("cand_id", "ref_id"), "left")
      .groupBy("cand_id", "ref_id")
      .agg(aggs.head, aggs.tail: _*)
    val lens = base.select(col("id"), col("__len"))
    val withL = piv
      .join(lens.select(col("id").as("cand_id"), col("__len").as("cand_len")),
        Seq("cand_id"))
      .join(lens.select(col("id").as("ref_id"), col("__len").as("ref_len")),
        Seq("ref_id"))
      .filter(least(col("cand_len"), col("ref_len")) >= maxN)
    def ratio(n: Int, lenCol: String): Column =
      col(s"match_$n").cast("double") /
        (col(lenCol) - (n - 1)).cast("double")
    val avgP = (ns.map(n => ratio(n, "cand_len")).reduce(_ + _) /
      lit(maxN.toDouble)).as("avg_p")
    val avgR = (ns.map(n => ratio(n, "ref_len")).reduce(_ + _) /
      lit(maxN.toDouble)).as("avg_r")
    val b2 = beta * beta
    withL.select(Seq(col("cand_id"), col("ref_id"), col("cand_len"),
        col("ref_len")) ++ ns.map(n => col(s"match_$n")) ++
        Seq(avgP, avgR): _*)
      .withColumn("chrf2",
        when(lit(b2) * col("avg_p") + col("avg_r") === 0.0, lit(0.0))
          .otherwise(lit(1.0 + b2) * col("avg_p") * col("avg_r") /
            (lit(b2) * col("avg_p") + col("avg_r"))))
  }

  /** ROUGE-L — the LCS member of the generation-eval family next to
    * [[rougeN]]: P = LCS/|cand|, R = LCS/|ref|, F1 harmonic, over
    * whitespace tokens. Unlike the clipped n-gram counts, LCS rewards
    * ORDER: "a b" vs "b a" scores 2 matched unigrams but an LCS of 1.
    * The LCS itself is [[graft.functions.LcsTokens]] — a codegen'd
    * two-row DP local to each (cand, ref) pair, so the distributed unit
    * is the eval pair (the manifest parallelism every published ROUGE
    * evaluator uses) and nothing DP-shaped ever crosses an exchange.
    * Returns (cand_id, ref_id, lcs_len, cand_total, ref_total, rouge_p,
    * rouge_r, rouge_f1) — the [[rougeN]] column shape with lcs_len in
    * the match slot. */
  def rougeL(docs: DataFrame, pairs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val txt = docs.select(col(idCol), col(textCol))
    pairs.select(col("cand_id"), col("ref_id"))
      .join(txt.select(col(idCol).as("cand_id"), col(textCol).as("__a")),
        Seq("cand_id"))
      .join(txt.select(col(idCol).as("ref_id"), col(textCol).as("__b")),
        Seq("ref_id"))
      .withColumn("__s",
        graft.functions.textnative.lcs_tokens(col("__a"), col("__b")))
      .select(col("cand_id"), col("ref_id"),
        col("__s.lcs_len").as("lcs_len"),
        col("__s.n_left").as("cand_total"),
        col("__s.n_right").as("ref_total"))
      .withColumn("rouge_p",
        col("lcs_len").cast("double") / col("cand_total").cast("double"))
      .withColumn("rouge_r",
        col("lcs_len").cast("double") / col("ref_total").cast("double"))
      .withColumn("rouge_f1",
        when(col("rouge_p") + col("rouge_r") === 0.0, 0.0)
          .otherwise(lit(2.0) * col("rouge_p") * col("rouge_r") /
            (col("rouge_p") + col("rouge_r"))))
  }
}
