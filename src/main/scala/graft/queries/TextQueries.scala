package graft
package queries

import graft.ops._
import org.apache.spark.sql.functions._
import Fixtures._

/** Text analysis: tokenization, subword models and corpus statistics. */
object TextQueries {
  /** Full replay of the unigram-LM tokenizer: candidate vocab, both
    * Viterbi passes UNROLLED round-for-round (one CTE per relaxation
    * round — the per-(word,pos) argmax can't live inside a recursive
    * CTE, which forbids mid-recursion aggregation), the EM usage
    * re-estimate between them, and the final piece rollup. Scores are
    * the identical ln-sum trees the engine builds; ties break ORDER BY
    * score DESC, path DESC = the engine's max(struct(score, path)). */
  private def unigramCtes(maxTokLen: Int, topSubs: Int,
      rounds: Int): String = {
    def viterbiCtes(tag: String, edges: String): String =
      (s"""s${tag}_0 AS MATERIALIZED (SELECT word, 0 AS pos, CAST(0.0 AS DOUBLE) AS score,
          |        '' AS path FROM wf)""".stripMargin +:
        (1 to rounds).map { r =>
          s"""s${tag}_$r AS MATERIALIZED (SELECT word, pos, score, path FROM (
             |  SELECT word, pos, score, path,
             |    row_number() OVER (PARTITION BY word, pos
             |      ORDER BY score DESC, path DESC) AS rn
             |  FROM (SELECT word, pos, score, path FROM s${tag}_${r - 1}
             |        UNION ALL
             |        SELECT s.word, e.tpos AS pos, s.score + e.lp AS score,
             |               s.path || chr(31) || e.tok AS path
             |        FROM s${tag}_${r - 1} s
             |        JOIN $edges e ON s.word = e.word AND s.pos = e.fpos))
             |  WHERE rn = 1)""".stripMargin
        }).mkString(",\n")
    s"""WITH
       |tk AS (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
       |       FROM documents),
       |wf AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM tk
       |       WHERE length(word) > 0 GROUP BY word),
       |ch AS (SELECT substr(word, CAST(i AS INT), 1) AS tok,
       |              CAST(sum(freq) AS BIGINT) AS sfreq
       |       FROM wf, unnest(range(1, length(word) + 1)) AS u(i) GROUP BY 1),
       |sub AS (SELECT tok, sfreq FROM (
       |         SELECT substr(word, CAST(i AS INT), CAST(l AS INT)) AS tok,
       |                CAST(sum(freq) AS BIGINT) AS sfreq
       |         FROM wf,
       |              unnest(range(1, length(word))) AS u(i),
       |              unnest(range(2, $maxTokLen + 1)) AS v(l)
       |         WHERE length(word) >= 2 AND l <= length(word) - i + 1
       |         GROUP BY 1)
       |        ORDER BY sfreq DESC, tok LIMIT $topSubs),
       |v0 AS MATERIALIZED (SELECT tok, sfreq FROM ch UNION ALL SELECT tok, sfreq FROM sub),
       |t0 AS (SELECT sum(sfreq) AS tt FROM v0),
       |lp0 AS (SELECT tok, ln(CAST(sfreq AS DOUBLE)) - ln(CAST(tt AS DOUBLE)) AS lp
       |        FROM v0, t0),
       |cand AS MATERIALIZED (SELECT wf.word, CAST(fp AS INT) AS fpos,
       |                CAST(fp + tl AS INT) AS tpos,
       |                substr(wf.word, CAST(fp + 1 AS INT), CAST(tl AS INT)) AS sub
       |         FROM wf,
       |              unnest(range(0, length(wf.word))) AS p(fp),
       |              unnest(range(1, $maxTokLen + 1)) AS l(tl)
       |         WHERE tl <= length(wf.word) - fp),
       |e0 AS MATERIALIZED (SELECT c.word, c.fpos, c.tpos, lp0.tok, lp0.lp
       |       FROM cand c JOIN lp0 ON c.sub = lp0.tok),
       |${viterbiCtes("0", "e0")},
       |fin0 AS MATERIALIZED (SELECT s.word, wf.freq, substr(s.path, 2) AS path
       |         FROM s0_$rounds s
       |         JOIN wf ON s.word = wf.word AND s.pos = length(wf.word)),
       |us AS (SELECT tok, CAST(sum(freq) AS BIGINT) AS u FROM (
       |        SELECT unnest(string_split(path, chr(31))) AS tok, freq
       |        FROM fin0) GROUP BY tok),
       |v1 AS (SELECT v0.tok, coalesce(us.u, 0) + 1 AS uf
       |       FROM v0 LEFT JOIN us ON v0.tok = us.tok),
       |t1 AS (SELECT sum(uf) AS tt FROM v1),
       |lp1 AS (SELECT tok, ln(CAST(uf AS DOUBLE)) - ln(CAST(tt AS DOUBLE)) AS lp
       |        FROM v1, t1),
       |e1 AS MATERIALIZED (SELECT c.word, c.fpos, c.tpos, lp1.tok, lp1.lp
       |       FROM cand c JOIN lp1 ON c.sub = lp1.tok),
       |${viterbiCtes("1", "e1")},
       |fin1 AS MATERIALIZED (SELECT s.word, wf.freq, substr(s.path, 2) AS path
       |         FROM s1_$rounds s
       |         JOIN wf ON s.word = wf.word AND s.pos = length(wf.word))""".stripMargin
  }

  private def unigramLmOracleSql(maxTokLen: Int, topSubs: Int,
      rounds: Int): String =
    s"""${unigramCtes(maxTokLen, topSubs, rounds)}
       |SELECT tok AS token, CAST(length(tok) AS BIGINT) AS tok_len,
       |       CAST(count(DISTINCT word) AS BIGINT) AS n_words,
       |       CAST(sum(freq) AS BIGINT) AS corpus_occ
       |FROM (SELECT word, freq, unnest(string_split(path, chr(31))) AS tok
       |      FROM fin1)
       |GROUP BY tok""".stripMargin

  // The apply half: per-word piece counts from the SAME converged
  // segmentation, joined back to the corpus word stream.
  private def unigramEncodeOracleSql(maxTokLen: Int, topSubs: Int,
      rounds: Int): String =
    s"""${unigramCtes(maxTokLen, topSubs, rounds)},
       |wt AS (SELECT word,
       |         1 + length(path) - length(replace(path, chr(31), '')) AS n_tokens
       |       FROM fin1),
       |dw AS (SELECT doc_id,
       |         unnest(string_split_regex(trim(text), '\\s+')) AS word
       |       FROM documents)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(sum(n_tokens) AS BIGINT) AS n_unigram_tokens
       |FROM dw JOIN wt USING (word)
       |WHERE length(word) > 0 GROUP BY doc_id""".stripMargin

  /** DuckDB replica of the ENTIRE md5-twin MinHash+LSH pipeline
    * (minhashLshPairsMd5): the seeded (a·h+b) mod p family as 64 literal
    * rows, shingling via list slices, base hash = integer of the first 8
    * md5 hex digits, per-band slice-string bucket keys, candidate
    * self-join, and position-agreement estimated Jaccard. */
  /** Shared md5-base MinHash-LSH candidate CTE chain (hash family →
    * tokens → shingles → md5-base hashes → signatures → bands → distinct
    * candidate pairs) over `docsSrc`, a FROM-able (doc_id, text) source.
    * Docs with fewer than 3 tokens produce no shingles, hence no
    * signature rows — the same exclusion the engine's pre-filter makes
    * explicit. Used by both the minhash md5 twin and the
    * levenshtein-verify oracle so the candidate generation can't drift
    * between them. */
  /** BPE-merge oracle: k unrolled count→argmax→merge iterations as a CTE
    * chain, replicating TextAnalysis.bpeMerges recurrence CTE-for-CTE
    * (windows flattened two-deep because DuckDB rejects nested window
    * calls). */
  /** Shared CTE chain of the BPE recurrence (vocab → char state t0 →
    * k count/argmax/merge rounds ending in token state t{k}) — composed
    * by both the learn oracle (reads m1..mk) and the encode oracle
    * (reads t{k}), mirroring TextAnalysis.bpeLoop. */
  private def bpeIterCtes(iterations: Int): String =
    (1 to iterations).map { i =>
      val j = i - 1
      s"""p$i AS (SELECT tok AS a, lead(tok) OVER (PARTITION BY word ORDER BY pos) AS b, freq FROM t$j),
         |c$i AS (SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt FROM p$i
         |       WHERE b IS NOT NULL AND a <> b GROUP BY a, b),
         |m$i AS (SELECT a, b, cnt FROM c$i ORDER BY cnt DESC, a, b LIMIT 1),
         |s$i AS (SELECT word, freq, pos, tok,
         |         tok = (SELECT a FROM m$i) AND
         |         lead(tok) OVER (PARTITION BY word ORDER BY pos) = (SELECT b FROM m$i) AS sel
         |       FROM t$j),
         |s${i}b AS (SELECT word, freq, pos, tok, sel,
         |          lag(sel) OVER (PARTITION BY word ORDER BY pos) AS prev_sel
         |        FROM s$i),
         |t$i AS (SELECT word, freq,
         |         row_number() OVER (PARTITION BY word ORDER BY pos) AS pos,
         |         CASE WHEN coalesce(sel, false) THEN tok || (SELECT b FROM m$i) ELSE tok END AS tok
         |       FROM s${i}b WHERE NOT coalesce(prev_sel, false))""".stripMargin
    }.mkString(",\n")

  private def bpeCtes(iterations: Int): String =
    s"""vocab AS (
       |  SELECT tok AS word, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM documents)
       |  GROUP BY tok),
       |t0 AS (
       |  SELECT word, freq, i AS pos, word[i] AS tok
       |  FROM vocab, unnest(range(1, len(word) + 1)) AS u(i)),
       |${bpeIterCtes(iterations)}""".stripMargin

  /** Byte-level twin: identical iteration CTEs, but t0 symbolizes each
    * word's UTF-8 BYTES as 2-hex-char symbols (DuckDB hex(VARCHAR) and
    * Spark hex(encode(.,'UTF-8')) agree byte-for-byte, both uppercase). */
  private def bpeBytesCtes(iterations: Int): String =
    s"""vocab AS (
       |  SELECT tok AS word, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM documents)
       |  GROUP BY tok HAVING len(tok) > 0),
       |t0 AS (
       |  SELECT word, freq, i AS pos, substr(hex(word), 2*i - 1, 2) AS tok
       |  FROM vocab, unnest(range(1, len(hex(word)) // 2 + 1)) AS u(i)),
       |${bpeIterCtes(iterations)}""".stripMargin

  private def bpeBytesOracleSql(iterations: Int): String = {
    val unions = (1 to iterations).map { i =>
      if (i == 1) s"SELECT CAST(1 AS BIGINT) AS iter, a || ' ' || b AS pair, cnt FROM m1"
      else s"SELECT $i, a || ' ' || b, cnt FROM m$i"
    }.mkString("\nUNION ALL ")
    s"""WITH ${bpeBytesCtes(iterations)}
       |SELECT * FROM (
       |$unions)""".stripMargin
  }

  private def bpeBytesEncodeOracleSql(iterations: Int): String =
    s"""WITH ${bpeBytesCtes(iterations)}
       |SELECT word, freq, string_agg(tok, ' ' ORDER BY pos) AS tokens,
       |       CAST(count(*) AS BIGINT) AS n_tokens,
       |       decode(from_hex(replace(string_agg(tok, ' ' ORDER BY pos),
       |         ' ', ''))) = word AS roundtrip
       |FROM t$iterations GROUP BY word, freq""".stripMargin

  private def bpeOracleSql(iterations: Int): String = {
    val unions = (1 to iterations).map { i =>
      if (i == 1) s"SELECT CAST(1 AS BIGINT) AS iter, a || ' ' || b AS pair, cnt FROM m1"
      else s"SELECT $i, a || ' ' || b, cnt FROM m$i"
    }.mkString("\nUNION ALL ")
    s"""WITH ${bpeCtes(iterations)}
       |SELECT * FROM (
       |$unions)""".stripMargin
  }

  private def bpeEncodeOracleSql(iterations: Int): String =
    s"""WITH ${bpeCtes(iterations)}
       |SELECT word, freq, string_agg(tok, ' ' ORDER BY pos) AS tokens,
       |       CAST(count(*) AS BIGINT) AS n_tokens
       |FROM t$iterations GROUP BY word, freq""".stripMargin

  val cases: Seq[Case] = Seq(
    // Canonicalization pass (lowercase + whitespace collapse + trim) —
    // the normalize-before-exact-dedup stage; the md5 of the normalized
    // form pins every character of the transform. Zero shuffles.
    Case("text_normalize", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))).as("norm_md5"),
        length(col("text")).cast("long").as("len_before"),
        length(trim(regexp_replace(lower(col("text")), "\\s+", " ")))
          .cast("long").as("len_after")),
      Some("""SELECT doc_id,
        |       md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS norm_md5,
        |       CAST(length(text) AS BIGINT) AS len_before,
        |       CAST(length(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS BIGINT) AS len_after
        |FROM documents""".stripMargin)),

    Case("text_token_stats", (s, dir) =>
      TextAnalysis.tokenStats(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("n_regex_tokens").cast("long").as("n_regex_tokens"),
          col("avg_token_len")),
      Some("""SELECT doc_id,
        |       CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |       CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_regex_tokens,
        |       CAST(list_sum(list_transform(string_split_regex(trim(text), '\s+'),
        |         t -> length(t))) AS DOUBLE) /
        |         len(string_split_regex(trim(text), '\s+')) AS avg_token_len
        |FROM documents""".stripMargin)),

    // Per-language doc-length percentiles via the log sketch's
    // PARTITIONED walk — the corpus-profiling read a mixture pipeline
    // runs per shard and merges: sketch state is (lang, bucket, cnt),
    // the cumulative window is partitioned by lang (never a global
    // sort), and each estimate carries the exact-side containment gate.
    Case("text_length_quantiles_log", { (s, dir) =>
      val p = 6
      val d = t(s, dir, "documents").select(col("lang"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))
      val sk = d
        .select(col("lang"), Profile.logBucket(col("n_tok"), p).as("bucket"))
        .groupBy(col("lang"), col("bucket")).agg(count(lit(1)).as("cnt"))
      val qs = Seq(50, 90, 99)
      val est = Profile.quantilesFromLogSketchBy(sk, Seq("lang"), p, qs)
      val exSk = d.select(col("lang"), col("n_tok").as("bucket"))
        .groupBy(col("lang"), col("bucket")).agg(count(lit(1)).as("cnt"))
      val exact = Profile.quantilesFromSketchBy(exSk, Seq("lang"), 1L, qs)
        .select(col("lang"), col("q_pct"), col("estimate").as("exact_v"))
      est.join(exact, Seq("lang", "q_pct"))
        .select(col("lang"), col("q_pct"), col("n"), col("est_bucket"),
          col("estimate"), col("est_upper"), col("exact_v"),
          (col("exact_v") >= col("estimate") &&
            col("exact_v") < col("est_upper")).as("within_bucket"))
    },
      // The per-language log-grid walk replayed with a lang-partitioned
      // window; exact side = the same rank walk at width 1 per lang.
      Some("""WITH d AS (SELECT lang,
        |        CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |          AS n_tok FROM documents),
        |bk AS (SELECT lang, n_tok,
        |         CAST(length(bin(n_tok)) - 1 AS BIGINT) AS e FROM d),
        |sk AS (SELECT lang, e * 64 + (n_tok >> greatest(e - 5, 0)) AS bucket,
        |         CAST(count(*) AS BIGINT) AS cnt FROM bk GROUP BY 1, 2),
        |cum AS (SELECT lang, bucket,
        |          sum(cnt) OVER (PARTITION BY lang ORDER BY bucket) AS cum
        |        FROM sk),
        |nn AS (SELECT lang, CAST(max(cum) AS BIGINT) AS n FROM cum
        |       GROUP BY lang),
        |qs(q_pct) AS (VALUES (50),(90),(99)),
        |est AS (SELECT c.lang, q_pct, nn.n, min(bucket) AS est_bucket
        |        FROM cum c JOIN nn ON c.lang = nn.lang, qs
        |        WHERE c.cum >= (nn.n * q_pct + 99) // 100
        |        GROUP BY c.lang, q_pct, nn.n),
        |dec AS (SELECT lang, q_pct, n, est_bucket, est_bucket % 64 AS pfx,
        |          greatest(est_bucket // 64 - 5, 0) AS s2 FROM est),
        |dd AS (SELECT lang, q_pct, n, est_bucket, (pfx << s2) AS estimate,
        |         ((pfx + 1) << s2) AS est_upper FROM dec),
        |dv AS (SELECT lang, n_tok, CAST(count(*) AS BIGINT) AS c2 FROM d
        |       GROUP BY 1, 2),
        |cv AS (SELECT lang, n_tok AS v,
        |         sum(c2) OVER (PARTITION BY lang ORDER BY n_tok) AS cum
        |       FROM dv),
        |ex AS (SELECT c.lang, q_pct, min(v) AS exact_v
        |       FROM cv c JOIN nn ON c.lang = nn.lang, qs
        |       WHERE c.cum >= (nn.n * q_pct + 99) // 100
        |       GROUP BY c.lang, q_pct)
        |SELECT dd.lang, CAST(dd.q_pct AS BIGINT) AS q_pct, dd.n,
        |       dd.est_bucket, dd.estimate, dd.est_upper, ex.exact_v,
        |       ex.exact_v >= dd.estimate AND ex.exact_v < dd.est_upper
        |         AS within_bucket
        |FROM dd JOIN ex ON dd.lang = ex.lang AND dd.q_pct = ex.q_pct""".stripMargin)),

    Case("text_quality", (s, dir) =>
      TextAnalysis.qualityScore(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("punct_ratio"), col("upper_ratio"), col("stopword_ratio"),
          col("avg_word_len")),
      Some("""WITH b AS (SELECT doc_id, text,
        |    string_split_regex(trim(text), '\s+') AS toks,
        |    length(text) AS n_chars FROM documents)
        |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(n_chars - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g')) AS DOUBLE) / n_chars AS punct_ratio,
        |  CAST(n_chars - length(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE) / n_chars AS upper_ratio,
        |  CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is','it','that','for'))) AS DOUBLE) / len(toks) AS stopword_ratio,
        |  CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks) AS avg_word_len
        |FROM b""".stripMargin)),

    Case("text_langid", (s, dir) =>
      TextAnalysis.languageId(t(s, dir, "documents"))
        .select(col("doc_id"), col("predicted_lang"),
          col("lang_score").cast("long").as("lang_score")),
      Some("""WITH sc AS (SELECT doc_id,
        |  len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t IN ('der','die','das','und','zu','in','ein','ist','nicht','von'))) AS s_de,
        |  len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t IN ('the','a','of','and','to','in','is','it','that','for'))) AS s_en,
        |  len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t IN ('el','la','de','y','que','en','un','es','se','no'))) AS s_es,
        |  len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t IN ('le','la','de','et','que','en','un','est','ce','ne'))) AS s_fr,
        |  len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t IN ('的','了','是','我','不','在','有','他','这','中'))) AS s_zh
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |       WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
        |       WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
        |       WHEN s_fr >= s_zh THEN 'fr'
        |       ELSE 'zh' END AS predicted_lang,
        |  CAST(greatest(s_de, s_en, s_es, s_fr, s_zh) AS BIGINT) AS lang_score
        |FROM sc""".stripMargin)),

    Case("text_fingerprint", (s, dir) =>
      TextAnalysis.fingerprint(t(s, dir, "documents"))
        .select(col("doc_id"), col("fingerprint")),
      Some("""SELECT doc_id,
        |  list_reduce(list_transform(string_split_regex(trim(text), '\s+'),
        |      t -> CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % 1000000007),
        |    (acc, h) -> (acc * 31 + h) % 1000000007) AS fingerprint
        |FROM documents""".stripMargin)),

    // Feature-hashing linear classifier: integer weights until one IEEE
    // division, so the score hash-gates exactly; the derived weight table
    // is the documented stand-in for trained parameters.
    Case("text_quality_clf", (s, dir) =>
      TextAnalysis.hashedLinearScore(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_tokens"), col("raw_score"),
          col("quality"), col("keep")),
      // Same 60-bit slot hash / Knuth-multiplicative weight arithmetic as
      // hashedLinearScore; integer until the final single division.
      Some("""WITH t AS (SELECT doc_id,
        |  string_split_regex(trim(text), '\s+') AS w FROM documents)
        |SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
        |  CAST(list_sum(list_transform(w,
        |    t -> ((CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % 1024)
        |            * 2654435761) % 2003 - 1001)) AS BIGINT) AS raw_score,
        |  CAST(CAST(list_sum(list_transform(w,
        |    t -> ((CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % 1024)
        |            * 2654435761) % 2003 - 1001)) AS BIGINT) AS DOUBLE)
        |    / (len(w) * 1000.0) AS quality,
        |  CAST(CAST(list_sum(list_transform(w,
        |    t -> ((CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % 1024)
        |            * 2654435761) % 2003 - 1001)) AS BIGINT) AS DOUBLE)
        |    / (len(w) * 1000.0) > 0.0 AS keep
        |FROM t""".stripMargin)),

    // Ordered admission rules with first-fail reason codes; the fixture
    // exercises too_short, no_stopword, and pass.
    Case("text_filter_chain", (s, dir) =>
      TextAnalysis.filterChain(t(s, dir, "documents"))
        .select(col("doc_id"), col("reason"), col("keep")),
      Some("""SELECT doc_id, reason, reason = 'pass' AS keep FROM (
        |  SELECT doc_id, CASE
        |    WHEN len(text) < 100 THEN 'too_short'
        |    WHEN len(text) > 20000 THEN 'too_long'
        |    WHEN CAST(len(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
        |           / len(text) < 0.6 THEN 'low_alpha'
        |    WHEN CAST(list_sum(list_transform(
        |             string_split_regex(trim(text), '\s+'), t -> len(t))) AS DOUBLE)
        |           / len(string_split_regex(trim(text), '\s+')) < 3.0
        |      OR CAST(list_sum(list_transform(
        |             string_split_regex(trim(text), '\s+'), t -> len(t))) AS DOUBLE)
        |           / len(string_split_regex(trim(text), '\s+')) > 12.0 THEN 'word_len'
        |    WHEN NOT list_has_any(string_split_regex(trim(lower(text)), '\s+'),
        |           ['the','a','of','and','to','in','is','it','that','for'])
        |      THEN 'no_stopword'
        |    ELSE 'pass' END AS reason
        |  FROM documents)""".stripMargin)),

    // Char-level BPE merge learning over the word-frequency table: 5
    // unrolled count→argmax→merge iterations; the oracle replicates the
    // recurrence CTE-for-CTE, so every learned merge and weighted count
    // is hash-gated.
    // WordPiece-style greedy MaxMatch subword inference against a
    // corpus-derived vocab (top-24 words + top-16 4-grams + all chars):
    // the longest vocab token wins at every position. Runs over the
    // DISTINCT-word frame only — the corpus contributes one grouped
    // count.
    Case("text_maxmatch", (s, dir) =>
      TextAnalysis.maxMatchTokenize(t(s, dir, "documents")),
      // Same derived vocab, best-match table, and a recursive pointer
      // walk capped at the same 16 rounds as the Spark loop.
      Some("""WITH RECURSIVE
        |tk AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS word
        |       FROM documents),
        |wf AS (SELECT word, count(*) AS freq FROM tk
        |       WHERE length(word) > 0 GROUP BY word),
        |wtop AS (SELECT word AS tok FROM wf ORDER BY freq DESC, word LIMIT 24),
        |gtop AS (SELECT tok FROM (
        |          SELECT substr(word, CAST(i AS INT), 4) AS tok,
        |                 sum(freq) AS gfreq
        |          FROM wf, unnest(range(1, length(word) - 2)) AS u(i)
        |          WHERE length(word) >= 4 GROUP BY 1)
        |         ORDER BY gfreq DESC, tok LIMIT 16),
        |ch AS (SELECT DISTINCT substr(word, CAST(i AS INT), 1) AS tok
        |       FROM wf, unnest(range(1, length(word) + 1)) AS u(i)),
        |vocab AS (SELECT DISTINCT tok FROM (
        |           SELECT tok FROM wtop UNION ALL SELECT tok FROM gtop
        |           UNION ALL SELECT tok FROM ch)
        |          WHERE length(tok) <= 12),
        |cand AS (SELECT wf.word, p.pos, length(v.tok) AS tl, v.tok
        |         FROM wf, unnest(range(0, length(wf.word))) AS p(pos), vocab v
        |         WHERE length(v.tok) <= length(wf.word) - p.pos
        |           AND v.tok = substr(wf.word, CAST(p.pos + 1 AS INT), length(v.tok))),
        |bm AS (SELECT word, pos, tok, tl FROM (
        |        SELECT word, pos, tok, tl,
        |               row_number() OVER (PARTITION BY word, pos ORDER BY tl DESC) AS rk
        |        FROM cand) WHERE rk = 1),
        |st(word, len, pos, r) AS (
        |  SELECT word, length(word), 0, 1 FROM wf
        |  UNION ALL
        |  SELECT st.word, st.len, st.pos + bm.tl, st.r + 1
        |  FROM st JOIN bm ON st.word = bm.word AND st.pos = bm.pos
        |  WHERE st.pos + bm.tl < st.len AND st.r < 16)
        |SELECT bm.tok AS token, CAST(length(bm.tok) AS BIGINT) AS tok_len,
        |       CAST(count(DISTINCT st.word) AS BIGINT) AS n_words,
        |       CAST(sum(wf.freq) AS BIGINT) AS corpus_occ
        |FROM st JOIN bm ON st.word = bm.word AND st.pos = bm.pos
        |JOIN wf ON wf.word = st.word
        |GROUP BY bm.tok""".stripMargin)),

    // SentencePiece-style unigram LM — the third tokenizer family (BPE
    // learns merges, WordPiece matches greedily, unigram SEARCHES: each
    // word takes its max-likelihood Viterbi split under EM-reweighted
    // piece probabilities). The oracle replays the identical bounded DP
    // round-for-round (ln-sum scores accumulate in path order — the same
    // fixed-IEEE-tree convention pmi/psi gate on; ties break on the path
    // string in both engines).
    Case("text_unigram_lm", (s, dir) =>
      TextAnalysis.unigramTokenize(t(s, dir, "documents"),
        maxTokLen = 6, topSubs = 24, rounds = 8),
      Some(unigramLmOracleSql(6, 24, 8))),

    // The apply half of the unigram tokenizer (mirrors text_bpe_tokens):
    // per-doc word and piece counts — segment once per DISTINCT word,
    // the corpus joins on word.
    Case("text_unigram_encode", { (s, dir) =>
      val paths = TextAnalysis.unigramWordPaths(t(s, dir, "documents"),
          maxTokLen = 6, topSubs = 24, rounds = 8)
        .select(col("word"),
          size(split(col("path"), "\u001f")).cast("long").as("n_tokens"))
      t(s, dir, "documents")
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("word"))
        .filter(length(col("word")) > 0)
        .join(paths, Seq("word"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("n_tokens")).as("n_unigram_tokens"))
    },
      Some(unigramEncodeOracleSql(6, 24, 8))),

    // Unicode NFC canonical composition over a planted decomposed
    // suffix ("élève" spelled with combining acutes composes to the
    // 2-byte form; precomposed "é" and the NFC-invariant ligature "ffi"
    // pin the no-op cases). Engine: native codegen'd expression over the
    // JVM Normalizer; oracle: DuckDB's utf8proc nfc_normalize — two
    // independent Unicode implementations agreeing byte-for-byte. The
    // canonicalization every byte-level dedup/content-hash needs first:
    // composed and decomposed spellings of the same text are different
    // bytes.
    Case("text_nfc_planted", (s, dir) => {
      val planted = concat(col("text"),
        lit(" e\u0301le\u0301ve \u00e9 \ufb03"))
      val n = graft.functions.textnative.nfc_normalize(planted)
      t(s, dir, "documents").select(col("doc_id"),
        octet_length(encode(planted, "UTF-8")).cast("long").as("bytes_before"),
        octet_length(encode(n, "UTF-8")).cast("long").as("bytes_after"),
        md5(encode(n, "UTF-8")).as("nfc_md5"))
    },
      // Two independent Unicode NFC implementations (utf8proc here, the
      // JVM Normalizer in the engine) must agree byte-for-byte on the
      // planted decomposed/precomposed/ligature suffix.
      Some("""WITH p AS (SELECT doc_id,
        |        text || ' e' || chr(769) || 'le' || chr(769) || 've ' ||
        |          chr(233) || ' ' || chr(64259) AS t
        |      FROM documents)
        |SELECT doc_id,
        |       CAST(octet_length(encode(t)) AS BIGINT) AS bytes_before,
        |       CAST(octet_length(encode(nfc_normalize(t))) AS BIGINT) AS bytes_after,
        |       md5(nfc_normalize(t)) AS nfc_md5
        |FROM p""".stripMargin)),

    Case("text_bpe_merges", (s, dir) =>
      TextAnalysis.bpeMerges(t(s, dir, "documents"), iterations = 5),
      Some(bpeOracleSql(5))),

    // The apply half of the tokenizer: every distinct word's segmentation
    // after the 5 learned merges (encode once per unique word; the corpus
    // then joins on word) — the final token state of the same loop.
    Case("text_bpe_encode", (s, dir) =>
      // Token list → space-joined string at the gate boundary (tokens are
      // word fragments, never containing whitespace): scalar cells only.
      TextAnalysis.bpeEncodeWords(t(s, dir, "documents"), iterations = 5)
        .withColumn("tokens", array_join(col("tokens"), " ")),
      Some(bpeEncodeOracleSql(5))),

    // Corpus token counting THROUGH the learned tokenizer: per-word
    // segment lengths broadcast-join onto the exploded corpus (the
    // |vocab|-scale merge walk never touches corpus-scale rows).
    Case("text_bpe_tokens", { (s, dir) =>
      val docs = t(s, dir, "documents")
      val enc = TextAnalysis.bpeEncodeWords(docs, iterations = 5)
        .select(col("word"), col("n_tokens"))
      docs.select(col("doc_id"),
          explode(split(trim(col("text")), "\\s+")).as("word"))
        .join(broadcast(enc), Seq("word"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("n_tokens")).as("n_bpe_tokens"))
    },
      Some(s"""WITH ${bpeCtes(5)},
         |wt AS (SELECT word, CAST(count(*) AS BIGINT) AS n_tokens FROM t5 GROUP BY word),
         |dw AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
         |       FROM documents)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |       CAST(sum(n_tokens) AS BIGINT) AS n_bpe_tokens
         |FROM dw JOIN wt USING (word) GROUP BY doc_id""".stripMargin)),

    // Byte-level (GPT-2-class) BPE: merges learned over UTF-8 BYTES in
    // hex space — base vocabulary is the 256 byte values, so nothing is
    // ever out-of-vocabulary (multi-byte scripts decompose to bytes) and
    // the oracle replays every merge in the same uppercase-hex rendering
    // both engines share.
    Case("text_bpe_bytes", (s, dir) =>
      TextAnalysis.bpeBytesMerges(t(s, dir, "documents"), iterations = 5),
      Some(bpeBytesOracleSql(5))),

    // The apply half at byte level, plus the round-trip the design
    // guarantees: unhex(concat(tokens)) decodes back to the word —
    // asserted as a gated boolean column on BOTH engines.
    Case("text_bpe_bytes_encode", (s, dir) =>
      TextAnalysis.bpeBytesEncodeWords(t(s, dir, "documents"), iterations = 5)
        .withColumn("tokens", array_join(col("tokens"), " "))
        .withColumn("roundtrip",
          decode(unhex(regexp_replace(col("tokens"), " ", "")), "UTF-8")
            === col("word")),
      Some(bpeBytesEncodeOracleSql(5))),

    // Vocabulary build + id encoding at V=20 < the fixture's 31 distinct
    // terms, so the OOV (-1) path is exercised; md5 of the id CSV pins
    // every position of every encoded sequence.
    Case("text_vocab_encode", (s, dir) =>
      TextAnalysis.vocabEncode(t(s, dir, "documents"), vocabSize = 20)
        .select(col("doc_id"), md5(col("ids_csv")).as("ids_md5"),
          col("n_tokens"), col("n_oov")),
      // Vocabulary ranked (tf desc, term asc) — a total order, so the top-V
      // cut and id assignment are deterministic on both engines.
      Some("""WITH toks AS (
        |  SELECT doc_id,
        |         generate_subscripts(string_split_regex(trim(text), '\s+'), 1) - 1 AS pos,
        |         unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents),
        |counts AS (SELECT tok, count(*) AS tf FROM toks GROUP BY tok),
        |vocab AS (
        |  SELECT tok, CAST(row_number() OVER (ORDER BY tf DESC, tok ASC) - 1 AS BIGINT) AS token_id
        |  FROM (SELECT * FROM counts ORDER BY tf DESC, tok ASC LIMIT 20)),
        |enc AS (
        |  SELECT t.doc_id, t.pos, coalesce(v.token_id, -1) AS tid
        |  FROM toks t LEFT JOIN vocab v USING (tok))
        |SELECT doc_id,
        |       md5(string_agg(CAST(tid AS VARCHAR), ',' ORDER BY pos)) AS ids_md5,
        |       CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(sum(CASE WHEN tid = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
        |FROM enc GROUP BY doc_id""".stripMargin)),

    // PII scrub over fixture text with deterministic synthetic PII mixed
    // in (the fixture corpus itself is a clean word salad — appending
    // id-derived emails/IPs/phones on BOTH sides exercises nonzero match
    // counts and the sequential redaction, which an all-zeros run would
    // not). ASCII-scoped md5 of the scrubbed text pins the exact
    // replacement output, not just the counts.
    Case("text_pii_scrub", (s, dir) =>
      TextAnalysis.piiScrub(
          t(s, dir, "documents").withColumn("text", concat(
            col("text"),
            when(col("doc_id") % 3 === 0,
              concat(lit(" u"), col("doc_id").cast("string"), lit("@ex-a.org")))
              .otherwise(lit("")),
            when(col("doc_id") % 5 === 0, lit(" b.c@mail.example.com")).otherwise(lit("")),
            when(col("doc_id") % 4 === 0,
              concat(lit(" 10.2."), (col("doc_id") % 256).cast("string"), lit(".9")))
              .otherwise(lit("")),
            when(col("doc_id") % 7 === 0, lit(" +44 20 7946 0958")).otherwise(lit("")))))
        .select(col("doc_id"), col("n_emails"), col("n_ips"), col("n_phones"),
          md5(col("scrubbed")).as("scrubbed_md5")),
      // Identical pattern text on both sides (common Java-regex/RE2
      // subset); DuckDB regexp_replace needs the explicit 'g' flag to match
      // Spark's replace-all default.
      Some("""WITH p AS (SELECT doc_id,
        |    text || CASE WHEN doc_id % 3 = 0 THEN ' u' || CAST(doc_id AS VARCHAR) || '@ex-a.org' ELSE '' END
        |         || CASE WHEN doc_id % 5 = 0 THEN ' b.c@mail.example.com' ELSE '' END
        |         || CASE WHEN doc_id % 4 = 0 THEN ' 10.2.' || CAST(doc_id % 256 AS VARCHAR) || '.9' ELSE '' END
        |         || CASE WHEN doc_id % 7 = 0 THEN ' +44 20 7946 0958' ELSE '' END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}')) AS BIGINT) AS n_ips,
        |  CAST(len(regexp_extract_all(text, '\+\d[\d -]{5,}\d')) AS BIGINT) AS n_phones,
        |  md5(regexp_replace(regexp_replace(regexp_replace(text,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |        '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}', '<IP>', 'g'),
        |        '\+\d[\d -]{5,}\d', '<PHONE>', 'g')) AS scrubbed_md5
        |FROM p""".stripMargin)),

    Case("text_repetition", (s, dir) =>
      TextAnalysis.repetitionStats(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_tokens"), col("top_token_frac"),
          col("distinct_ratio"), col("dup_2gram_frac")),
      Some("""WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |tc AS (SELECT doc_id, count(*) AS c
        |       FROM (SELECT doc_id, unnest(toks) AS t FROM tk) GROUP BY doc_id, t),
        |mx AS (SELECT doc_id, max(c) AS max_count FROM tc GROUP BY doc_id),
        |base AS (SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
        |    CAST(greatest(len(toks) - 1, 0) AS BIGINT) AS n_2grams,
        |    CAST(len(list_distinct(list_transform(range(0, greatest(len(toks) - 1, 0)),
        |      i -> toks[CAST(i + 1 AS INT)] || ' ' || toks[CAST(i + 2 AS INT)]))) AS BIGINT) AS d2
        |  FROM tk)
        |SELECT b.doc_id, b.n_tokens,
        |       CAST(m.max_count AS DOUBLE) / b.n_tokens AS top_token_frac,
        |       CAST(b.n_distinct AS DOUBLE) / b.n_tokens AS distinct_ratio,
        |       CASE WHEN b.n_2grams > 0
        |            THEN 1.0 - CAST(b.d2 AS DOUBLE) / b.n_2grams END AS dup_2gram_frac
        |FROM base b JOIN mx m ON b.doc_id = m.doc_id""".stripMargin)),

    Case("text_term_stats", (s, dir) =>
      TextAnalysis.termStats(t(s, dir, "documents"))
        .select(col("doc_id"), col("top_term"), col("tf"), col("df")),
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        |            FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |       FROM tok GROUP BY doc_id, term),
        |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |top AS (SELECT doc_id, term, tf,
        |          row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, term) AS rn
        |        FROM tf)
        |SELECT t.doc_id, t.term AS top_term, t.tf, d.df
        |FROM top t JOIN dfreq d ON t.term = d.term WHERE rn = 1""".stripMargin)),

    // Collocation mining: PMI of adjacent token pairs vs independence —
    // ratios of exact corpus counts, two keyed aggregates, no window.
    Case("text_pmi", (s, dir) =>
      TextAnalysis.pmiPairs(t(s, dir, "documents"), minPairN = 20),
      Some("""WITH tk AS (SELECT string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |px AS (SELECT toks[CAST(i + 1 AS INT)] AS w1, toks[CAST(i + 2 AS INT)] AS w2
        |       FROM tk, unnest(range(0, len(toks) - 1)) AS u(i) WHERE len(toks) >= 2),
        |bi AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS pair_n
        |       FROM px GROUP BY 1, 2 HAVING count(*) >= 20),
        |un AS (SELECT unnest(toks) AS w FROM tk),
        |uc AS (SELECT w, CAST(count(*) AS BIGINT) AS w_n FROM un GROUP BY w),
        |nb AS (SELECT CAST(count(*) AS DOUBLE) AS nb FROM px),
        |nu AS (SELECT CAST(count(*) AS DOUBLE) AS nu FROM un)
        |SELECT w1, w2, pair_n,
        |       round(ln((pair_n / nb) / ((u1.w_n / nu) * (u2.w_n / nu))), 6) AS pmi
        |FROM bi JOIN uc u1 ON u1.w = bi.w1 JOIN uc u2 ON u2.w = bi.w2, nb, nu""".stripMargin)),

    // Inverted-index build (token → df + bounded ascending postings):
    // the posting lists come out of the k-bounded TopKAggregator, never a
    // collect_list — O(k) state per token even for stopwords.
    Case("text_inverted_index", (s, dir) =>
      // Posting list → CSV string at the gate boundary: scalar cells only.
      TextAnalysis.invertedIndex(t(s, dir, "documents"))
        .withColumn("postings",
          array_join(col("postings").cast("array<string>"), ",")),
      Some("""WITH tok AS (SELECT DISTINCT doc_id,
        |    unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents)
        |SELECT tok, CAST(count(*) AS BIGINT) AS df,
        |       array_to_string(list_transform((list(doc_id ORDER BY doc_id))[1:15],
        |         x -> CAST(x AS VARCHAR)), ',') AS postings
        |FROM tok GROUP BY tok HAVING count(*) >= 60""".stripMargin)),

    // BM25 ranking over the same tf/df/length statistics: each doc's best
    // term with its score rounded to 6 decimals; the arithmetic is
    // written operation-for-operation as the oracle evaluates it.
    Case("text_bm25", (s, dir) =>
      TextAnalysis.bm25(t(s, dir, "documents")),
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        |            FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY doc_id, term),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
        |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |corpus AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |                  CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl),
        |scored AS (
        |  SELECT t.doc_id, t.term, t.tf, d.df, l.dl,
        |         round(ln(1.0 + (c.n_docs - CAST(d.df AS DOUBLE) + 0.5) / (CAST(d.df AS DOUBLE) + 0.5))
        |           * (CAST(t.tf AS DOUBLE) * (1.2 + 1.0))
        |           / (CAST(t.tf AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * CAST(l.dl AS DOUBLE) / c.avgdl)), 6) AS score
        |  FROM tf t JOIN dfreq d USING (term) JOIN dl l USING (doc_id) CROSS JOIN corpus c),
        |top AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rn
        |        FROM scored)
        |SELECT doc_id, term AS top_term, tf, df, dl, score FROM top WHERE rn = 1""".stripMargin)),

    // Hashing-trick featurization: terms -> 1024 stable md5 buckets,
    // exact per-doc bucket counts; no vocabulary pass, no broadcast.
    Case("text_feature_hash", (s, dir) =>
      TextAnalysis.featureHash(t(s, dir, "documents"), "doc_id", "text",
        dim = 1024),
      // Literal-for-literal the same double arithmetic as TextAnalysis.bm25
      // (left-associative, identical constant folds), rounded to 6 decimals
      // on both engines.
      Some("""SELECT doc_id,
        |       CAST('0x' || substr(md5(term), 1, 15) AS BIGINT) % 1024 AS bucket,
        |       CAST(count(*) AS BIGINT) AS tf
        |FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        |      FROM documents)
        |GROUP BY 1, 2""".stripMargin)),

    // ROUGE-1/2 generation-eval metric over a deterministic (i, i+1)
    // pairing — the fixture's stand-in for a (model-output, reference)
    // eval manifest; clipped match counts are exact integers, P/R/F1
    // three IEEE divisions the oracle reproduces bit-for-bit.
    Case("text_rouge", { (s, dir) =>
      val d = t(s, dir, "documents")
      val pairs = d.select(col("doc_id").as("cand_id"))
        .join(d.select(col("doc_id").as("ref_id")),
          col("ref_id") === col("cand_id") + 1)
      TextAnalysis.rougeN(d, pairs, "doc_id", "text", ns = Seq(1, 2))
    },
      Some("""WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, 1 AS n, unnest(w) AS g FROM tok
        |  UNION ALL
        |  SELECT doc_id, 2 AS n,
        |         unnest(list_transform(range(0, len(w) - 1),
        |           i -> array_to_string(w[i+1:i+2], ' '))) AS g
        |  FROM tok WHERE len(w) >= 2),
        |cnt AS (SELECT doc_id, n, g, count(*) AS c FROM grams GROUP BY 1, 2, 3),
        |tot AS (SELECT doc_id, n, sum(c) AS tot FROM cnt GROUP BY 1, 2),
        |pairs AS (
        |  SELECT d1.doc_id AS cand_id, d2.doc_id AS ref_id
        |  FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 1),
        |base AS (SELECT cand_id, ref_id, v.n
        |         FROM pairs, (VALUES (1), (2)) v(n)),
        |m AS (SELECT p.cand_id, p.ref_id, cl.n,
        |             sum(least(cl.c, cr.c)) AS mm
        |      FROM pairs p
        |      JOIN cnt cl ON cl.doc_id = p.cand_id
        |      JOIN cnt cr ON cr.doc_id = p.ref_id
        |        AND cr.n = cl.n AND cr.g = cl.g
        |      GROUP BY 1, 2, 3),
        |pr AS (
        |  SELECT b.cand_id, b.ref_id, CAST(b.n AS INTEGER) AS n,
        |         CAST(coalesce(m.mm, 0) AS BIGINT) AS match_n,
        |         CAST(tc.tot AS BIGINT) AS cand_total,
        |         CAST(tr.tot AS BIGINT) AS ref_total,
        |         CAST(coalesce(m.mm, 0) AS DOUBLE) / CAST(tc.tot AS DOUBLE) AS rouge_p,
        |         CAST(coalesce(m.mm, 0) AS DOUBLE) / CAST(tr.tot AS DOUBLE) AS rouge_r
        |  FROM base b
        |  JOIN tot tc ON tc.doc_id = b.cand_id AND tc.n = b.n
        |  JOIN tot tr ON tr.doc_id = b.ref_id AND tr.n = b.n
        |  LEFT JOIN m ON m.cand_id = b.cand_id AND m.ref_id = b.ref_id
        |    AND m.n = b.n)
        |SELECT cand_id, ref_id, n, match_n, cand_total, ref_total,
        |       rouge_p, rouge_r,
        |       CASE WHEN rouge_p + rouge_r = 0.0 THEN 0.0
        |            ELSE 2.0 * rouge_p * rouge_r / (rouge_p + rouge_r)
        |       END AS rouge_f1
        |FROM pr""".stripMargin)),

    // BLEU over the same adjacent-pair eval manifest: clipped n-gram
    // precisions (n=1..4, exact integer counts — the text_rouge pair
    // frame), brevity penalty, geometric mean. Each p_n is one IEEE
    // division (raw doubles gate); bp/bleu pass through exp/pow so
    // both leave rounded to 6 decimals on both engines.
    Case("text_bleu", { (s, dir) =>
      val d = t(s, dir, "documents")
      val pairs = d.select(col("doc_id").as("cand_id"))
        .join(d.select(col("doc_id").as("ref_id")),
          col("ref_id") === col("cand_id") + 1)
      TextAnalysis.bleu(d, pairs, "doc_id", "text", maxN = 4)
    },
      // Identical clipped counting at n=1..4 + brevity penalty; bp/bleu
      // round(…,6) on both sides (exp/pow cross libm), p_n raw single
      // divisions of exact integers.
      Some("""WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, 1 AS n, unnest(w) AS g FROM tok
        |  UNION ALL
        |  SELECT doc_id, 2 AS n,
        |         unnest(list_transform(range(0, len(w) - 1),
        |           i -> array_to_string(w[i+1:i+2], ' '))) AS g
        |  FROM tok WHERE len(w) >= 2
        |  UNION ALL
        |  SELECT doc_id, 3 AS n,
        |         unnest(list_transform(range(0, len(w) - 2),
        |           i -> array_to_string(w[i+1:i+3], ' '))) AS g
        |  FROM tok WHERE len(w) >= 3
        |  UNION ALL
        |  SELECT doc_id, 4 AS n,
        |         unnest(list_transform(range(0, len(w) - 3),
        |           i -> array_to_string(w[i+1:i+4], ' '))) AS g
        |  FROM tok WHERE len(w) >= 4),
        |cnt AS (SELECT doc_id, n, g, count(*) AS c FROM grams GROUP BY 1, 2, 3),
        |tot AS (SELECT doc_id, n, sum(c) AS tot FROM cnt GROUP BY 1, 2),
        |pairs AS (
        |  SELECT d1.doc_id AS cand_id, d2.doc_id AS ref_id
        |  FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 1),
        |m AS (SELECT p.cand_id, p.ref_id, cl.n,
        |             sum(least(cl.c, coalesce(cr.c, 0))) AS mm,
        |             sum(cl.c) AS ct
        |      FROM pairs p
        |      JOIN cnt cl ON cl.doc_id = p.cand_id
        |      LEFT JOIN cnt cr ON cr.doc_id = p.ref_id
        |        AND cr.n = cl.n AND cr.g = cl.g
        |      GROUP BY 1, 2, 3),
        |piv AS (SELECT cand_id, ref_id,
        |          CAST(max(CASE WHEN n = 1 THEN mm END) AS BIGINT) AS match_1,
        |          CAST(max(CASE WHEN n = 2 THEN mm END) AS BIGINT) AS match_2,
        |          CAST(max(CASE WHEN n = 3 THEN mm END) AS BIGINT) AS match_3,
        |          CAST(max(CASE WHEN n = 4 THEN mm END) AS BIGINT) AS match_4,
        |          CAST(max(CASE WHEN n = 1 THEN ct END) AS BIGINT) AS ct1,
        |          CAST(max(CASE WHEN n = 2 THEN ct END) AS BIGINT) AS ct2,
        |          CAST(max(CASE WHEN n = 3 THEN ct END) AS BIGINT) AS ct3,
        |          CAST(max(CASE WHEN n = 4 THEN ct END) AS BIGINT) AS ct4
        |        FROM m GROUP BY 1, 2
        |        HAVING max(CASE WHEN n = 4 THEN ct END) IS NOT NULL),
        |pr AS (SELECT piv.cand_id, piv.ref_id,
        |         ct1 AS cand_len, CAST(rl.tot AS BIGINT) AS ref_len,
        |         match_1, match_2, match_3, match_4,
        |         CAST(match_1 AS DOUBLE) / CAST(ct1 AS DOUBLE) AS p_1,
        |         CAST(match_2 AS DOUBLE) / CAST(ct2 AS DOUBLE) AS p_2,
        |         CAST(match_3 AS DOUBLE) / CAST(ct3 AS DOUBLE) AS p_3,
        |         CAST(match_4 AS DOUBLE) / CAST(ct4 AS DOUBLE) AS p_4
        |       FROM piv JOIN (SELECT doc_id, tot FROM tot WHERE n = 1) rl
        |         ON rl.doc_id = piv.ref_id)
        |SELECT cand_id, ref_id, cand_len, ref_len,
        |       match_1, match_2, match_3, match_4, p_1, p_2, p_3, p_4,
        |       round(CASE WHEN cand_len >= ref_len THEN 1.0
        |             ELSE exp(1.0 - CAST(ref_len AS DOUBLE) /
        |                      CAST(cand_len AS DOUBLE)) END, 6) AS bp,
        |       CASE WHEN match_1 = 0 OR match_2 = 0 OR match_3 = 0
        |              OR match_4 = 0 THEN 0.0
        |            ELSE round((CASE WHEN cand_len >= ref_len THEN 1.0
        |                   ELSE exp(1.0 - CAST(ref_len AS DOUBLE) /
        |                            CAST(cand_len AS DOUBLE)) END) *
        |                 pow(p_1 * p_2 * p_3 * p_4, 0.25), 6)
        |       END AS bleu
        |FROM pr""".stripMargin)),

    // chrF2 over a sampled eval manifest (every 5th doc vs its
    // neighbor): character n-grams (orders 1..6, whitespace stripped),
    // per-order clipped P/R with CLOSED-FORM totals (len−n+1 — no
    // totals aggregate), uniform averages, β=2 harmonic combine. Exact
    // integer matches; ratios/averages/chrf2 are fixed IEEE trees —
    // raw doubles gate.
    Case("text_chrf", { (s, dir) =>
      val d = t(s, dir, "documents")
      val pairs = d.select(col("doc_id").as("cand_id"))
        .filter(col("cand_id") % 5 === 0)
        .join(d.select(col("doc_id").as("ref_id")),
          col("ref_id") === col("cand_id") + 1)
      TextAnalysis.chrF(d, pairs, "doc_id", "text", maxN = 6, beta = 2.0)
    },
      // Identical char-gram clipped counting (orders 1..6, closed-form
      // totals), identical fixed IEEE trees for ratios/averages/chrf2.
      Some {
      val gramBlocks = (1 to 6).map { n =>
        s"""SELECT id, $n AS n,
           |       unnest(list_transform(range(1, CAST(len - ${n - 1} AS BIGINT) + 1),
           |         i -> substr(t, CAST(i AS INTEGER), $n))) AS g
           |FROM bl WHERE len >= $n""".stripMargin
      }.mkString("\n  UNION ALL\n")
      val matchCols = (1 to 6).map(n =>
        s"CAST(coalesce(max(CASE WHEN n = $n THEN mm END), 0) AS BIGINT) AS match_$n")
        .mkString(",\n         ")
      val rp = (1 to 6).map(n =>
        s"CAST(match_$n AS DOUBLE) / CAST(cand_len - ${n - 1} AS DOUBLE)")
        .mkString(" + ")
      val rr = (1 to 6).map(n =>
        s"CAST(match_$n AS DOUBLE) / CAST(ref_len - ${n - 1} AS DOUBLE)")
        .mkString(" + ")
      s"""WITH b AS (SELECT doc_id AS id,
         |             regexp_replace(text, '[ \\t\\n\\r\\f]+', '', 'g') AS t
         |           FROM documents),
         |bl AS (SELECT id, t, CAST(length(t) AS BIGINT) AS len FROM b),
         |grams AS (
         |  $gramBlocks),
         |cnt AS (SELECT id, n, g, count(*) AS c FROM grams GROUP BY 1, 2, 3),
         |pairs AS (
         |  SELECT d1.doc_id AS cand_id, d2.doc_id AS ref_id
         |  FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 1
         |  WHERE d1.doc_id % 5 = 0),
         |m AS (SELECT p.cand_id, p.ref_id, cl.n,
         |             sum(least(cl.c, cr.c)) AS mm
         |      FROM pairs p
         |      JOIN cnt cl ON cl.id = p.cand_id
         |      JOIN cnt cr ON cr.id = p.ref_id AND cr.n = cl.n AND cr.g = cl.g
         |      GROUP BY 1, 2, 3),
         |piv AS (SELECT p.cand_id, p.ref_id,
         |         $matchCols
         |        FROM pairs p LEFT JOIN m ON m.cand_id = p.cand_id
         |          AND m.ref_id = p.ref_id
         |        GROUP BY 1, 2),
         |wl AS (SELECT piv.*, c.len AS cand_len, r.len AS ref_len
         |       FROM piv JOIN bl c ON c.id = piv.cand_id
         |       JOIN bl r ON r.id = piv.ref_id
         |       WHERE least(c.len, r.len) >= 6),
         |pr AS (SELECT *, ($rp) / 6.0 AS avg_p, ($rr) / 6.0 AS avg_r FROM wl)
         |SELECT cand_id, ref_id, cand_len, ref_len,
         |       match_1, match_2, match_3, match_4, match_5, match_6,
         |       avg_p, avg_r,
         |       CASE WHEN 4.0 * avg_p + avg_r = 0.0 THEN 0.0
         |            ELSE 5.0 * avg_p * avg_r / (4.0 * avg_p + avg_r)
         |       END AS chrf2
         |FROM pr""".stripMargin
    }),

    // ROUGE-L over a sampled eval manifest (every 7th doc vs its
    // neighbor): LCS-based P/R/F1 — order-aware where ROUGE-1/2's
    // clipped bags are not. The LCS runs as a codegen'd per-pair DP; the
    // oracle computes the same LCS by a longest-chain recursion over the
    // match-position set (an independent formulation of the same value).
    Case("text_rouge_l", { (s, dir) =>
      val d = t(s, dir, "documents")
      val pairs = d.select(col("doc_id").as("cand_id"))
        .filter(col("cand_id") % 7 === 0)
        .join(d.select(col("doc_id").as("ref_id")),
          col("ref_id") === col("cand_id") + 1)
      TextAnalysis.rougeL(d, pairs)
    },
      // Clipped n-gram overlap (ROUGE-N): counts exact integers; the p/r
      // divisions and the F1 composed from the p/r columns are the same
      // IEEE double expression tree the engine builds.
      // Independent LCS formulation: longest chain over the match-position
      // set (i ascending, j ascending) via a deduplicating recursion —
      // max(k) per pair IS the LCS length the engine's per-pair DP computes.
      Some("""WITH RECURSIVE tok AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        |pairs AS (
        |  SELECT d1.doc_id AS cand_id, d2.doc_id AS ref_id
        |  FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 1
        |  WHERE d1.doc_id % 7 = 0),
        |ca AS MATERIALIZED (
        |  SELECT doc_id, i, w[i] AS t
        |  FROM (SELECT doc_id, unnest(range(1, len(w) + 1)) AS i, w FROM tok)),
        |m AS MATERIALIZED (
        |  SELECT p.cand_id, p.ref_id, a.i AS i, b.i AS j
        |  FROM pairs p JOIN ca a ON a.doc_id = p.cand_id
        |               JOIN ca b ON b.doc_id = p.ref_id AND b.t = a.t),
        |ch AS (
        |  SELECT cand_id, ref_id, i, j, 1 AS k FROM m
        |  UNION
        |  SELECT m.cand_id, m.ref_id, m.i, m.j, ch.k + 1
        |  FROM ch JOIN m ON m.cand_id = ch.cand_id AND m.ref_id = ch.ref_id
        |                AND m.i > ch.i AND m.j > ch.j),
        |lcs AS (SELECT cand_id, ref_id, max(k) AS l FROM ch GROUP BY 1, 2),
        |lens AS (SELECT doc_id, len(w) AS n FROM tok),
        |pr AS (
        |  SELECT p.cand_id, p.ref_id,
        |         CAST(coalesce(lcs.l, 0) AS BIGINT) AS lcs_len,
        |         CAST(la.n AS BIGINT) AS cand_total,
        |         CAST(lb.n AS BIGINT) AS ref_total,
        |         CAST(coalesce(lcs.l, 0) AS DOUBLE) / la.n AS rouge_p,
        |         CAST(coalesce(lcs.l, 0) AS DOUBLE) / lb.n AS rouge_r
        |  FROM pairs p
        |  JOIN lens la ON la.doc_id = p.cand_id
        |  JOIN lens lb ON lb.doc_id = p.ref_id
        |  LEFT JOIN lcs ON lcs.cand_id = p.cand_id AND lcs.ref_id = p.ref_id)
        |SELECT cand_id, ref_id, lcs_len, cand_total, ref_total,
        |       rouge_p, rouge_r,
        |       CASE WHEN rouge_p + rouge_r = 0.0 THEN 0.0
        |            ELSE 2.0 * rouge_p * rouge_r / (rouge_p + rouge_r)
        |       END AS rouge_f1
        |FROM pr""".stripMargin)),

    // CCNet head/middle/tail perplexity tertiles per language —
    // histogram-binned thresholds (the published pipeline's own shape,
    // and the one that never sorts a whole language in one task).
    Case("text_ccnet_buckets", (s, dir) =>
      TextAnalysis.perplexityBuckets(t(s, dir, "documents")),
      // The text_perplexity model CTE verbatim, then the identical
      // histogram-bin boundary arithmetic (3·cum ≥ n / 3·cum ≥ 2n).
      Some("""WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |ix AS (SELECT doc_id, toks, unnest(range(0, len(toks) - 1)) AS i
        |       FROM tk WHERE len(toks) >= 2),
        |dbc AS (SELECT doc_id, toks[i + 1] AS w1, toks[i + 2] AS w2, count(*) AS n
        |        FROM ix GROUP BY 1, 2, 3),
        |mm AS (SELECT w1, w2, sum(n) AS pair_n FROM dbc GROUP BY w1, w2),
        |hh AS (SELECT w1, w2, pair_n,
        |             sum(pair_n) OVER (PARTITION BY w1) AS head_n FROM mm),
        |v AS (SELECT CAST(count(DISTINCT w1) AS DOUBLE) AS vsz FROM mm),
        |sc AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
        |         sum(n * ln((pair_n + 0.5) / (head_n + 0.5 * vsz))) AS lp
        |       FROM dbc JOIN hh USING (w1, w2), v GROUP BY doc_id),
        |sl AS (SELECT s.doc_id, d.lang,
        |         round(exp(-lp / n_bigrams), 6) AS ppl,
        |         CAST(floor(round(exp(-lp / n_bigrams), 6) * 8) AS BIGINT) AS bin
        |       FROM sc s JOIN documents d USING (doc_id)),
        |bins AS (SELECT lang, bin, count(*) AS c FROM sl GROUP BY 1, 2),
        |cum AS (SELECT lang, bin, sum(c) OVER (PARTITION BY lang ORDER BY bin
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |        FROM bins),
        |n AS (SELECT lang, count(*) AS n FROM sl GROUP BY 1),
        |b AS (SELECT cum.lang,
        |        min(CASE WHEN cum * 3 >= n.n THEN bin END) AS b1,
        |        min(CASE WHEN cum * 3 >= n.n * 2 THEN bin END) AS b2
        |      FROM cum JOIN n USING (lang) GROUP BY 1)
        |SELECT s.doc_id, s.lang, s.ppl,
        |       CASE WHEN s.bin <= b.b1 THEN 'head'
        |            WHEN s.bin <= b.b2 THEN 'middle'
        |            ELSE 'tail' END AS bucket
        |FROM sl s JOIN b USING (lang)""".stripMargin)),

    // Unigram entropy per document (H = ln N − Σ n·ln n / N): the
    // distribution-shape quality signal, over the same collapsed
    // (doc, term) tf rows as term_stats.
    Case("text_entropy", (s, dir) =>
      TextAnalysis.tokenEntropy(t(s, dir, "documents")),
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        |             FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS n
        |       FROM tok GROUP BY doc_id, term)
        |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
        |       count(*) AS n_distinct,
        |       round(ln(sum(n)) - sum(n * ln(n)) / sum(n), 6) AS entropy
        |FROM tf GROUP BY doc_id""".stripMargin)),

    // Corpus bigram LM statistics: top continuation per head token with
    // exact integer pair/head counts.
    Case("text_bigram_lm", (s, dir) =>
      TextAnalysis.bigramModel(t(s, dir, "documents")),
      Some("""WITH tk AS (SELECT string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |ix AS (SELECT toks, unnest(range(0, len(toks) - 1)) AS i
        |       FROM tk WHERE len(toks) >= 2),
        |p AS (SELECT toks[i + 1] AS w1, toks[i + 2] AS w2 FROM ix),
        |c AS (SELECT w1, w2, count(*) AS pair_n FROM p GROUP BY w1, w2),
        |r AS (SELECT w1, w2, pair_n,
        |             CAST(sum(pair_n) OVER (PARTITION BY w1) AS BIGINT) AS head_n,
        |             row_number() OVER (PARTITION BY w1 ORDER BY pair_n DESC, w2) AS rn
        |      FROM c)
        |SELECT w1, w2 AS top_next, pair_n, head_n FROM r WHERE rn = 1""".stripMargin)),

    // Bigram-LM perplexity per document (the CCNet-style quality filter):
    // add-k smoothed corpus LM, each doc scored by its own transitions.
    Case("text_perplexity", (s, dir) =>
      TextAnalysis.perplexity(t(s, dir, "documents")),
      // Same corpus LM as text_bigram_lm, scored per document with the
      // identical add-k formula; ln-sum fold order absorbed by round(,6).
      Some("""WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |ix AS (SELECT doc_id, toks, unnest(range(0, len(toks) - 1)) AS i
        |       FROM tk WHERE len(toks) >= 2),
        |dbc AS (SELECT doc_id, toks[i + 1] AS w1, toks[i + 2] AS w2, count(*) AS n
        |        FROM ix GROUP BY 1, 2, 3),
        |m AS (SELECT w1, w2, sum(n) AS pair_n FROM dbc GROUP BY w1, w2),
        |h AS (SELECT w1, w2, pair_n,
        |             sum(pair_n) OVER (PARTITION BY w1) AS head_n FROM m),
        |v AS (SELECT CAST(count(DISTINCT w1) AS DOUBLE) AS vsz FROM m),
        |sc AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
        |         sum(n * ln((pair_n + 0.5) / (head_n + 0.5 * vsz))) AS lp
        |       FROM dbc JOIN h USING (w1, w2), v GROUP BY doc_id)
        |SELECT doc_id, n_bigrams, round(lp, 6) AS logprob,
        |       round(exp(-lp / n_bigrams), 6) AS ppl FROM sc""".stripMargin)),

    // Interpolated Kneser–Ney bigram probabilities (type-count
    // continuation smoothing, the KenLM default) — exact integer counts,
    // one IEEE expression per bigram, hash-gated.
    Case("text_kneser_ney", (s, dir) =>
      TextAnalysis.kneserNey(t(s, dir, "documents")),
      // Same bigram type frame; the KN probability replicates the engine's
      // expression tree term-for-term over the exact integer counts.
      Some("""WITH tk AS (SELECT string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |ix AS (SELECT toks, unnest(range(0, len(toks) - 1)) AS i
        |       FROM tk WHERE len(toks) >= 2),
        |p AS (SELECT toks[i + 1] AS w1, toks[i + 2] AS w2 FROM ix),
        |bi AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM p GROUP BY w1, w2),
        |fwd AS (SELECT w1, CAST(sum(c) AS BIGINT) AS cw1,
        |               CAST(count(*) AS BIGINT) AS n1_fwd FROM bi GROUP BY w1),
        |bwd AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1_bwd FROM bi GROUP BY w2),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n1_all FROM bi)
        |SELECT bi.w1, bi.w2, bi.c,
        |       (greatest(bi.c - 0.75, 0.0) +
        |        0.75 * n1_fwd * (CAST(n1_bwd AS DOUBLE) / n1_all)) / cw1 AS pkn
        |FROM bi JOIN fwd ON bi.w1 = fwd.w1
        |        JOIN bwd ON bi.w2 = bwd.w2
        |        CROSS JOIN tot""".stripMargin)),

    // RAKE keyword scoring (Rose et al. 2010): phrases are maximal
    // stopword-free runs; word degree sums the lengths of the phrases
    // each occurrence sits in, score = deg/freq. One token explode, one
    // doc-partitioned running-count window to assign phrase ids, then
    // vocabulary-sized aggregates — integer counts, single division.
    Case("text_rake", (s, dir) =>
      TextAnalysis.rake(t(s, dir, "documents"), stopwords = Seq("a", "the")),
      // Same running-stopword-count segmentation and integer aggregates.
      Some("""WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |            FROM documents),
        |tok AS (SELECT doc_id, i AS pos, toks[i + 1] AS w
        |        FROM (SELECT doc_id, toks, unnest(range(0, len(toks))) AS i FROM tk)),
        |seg AS (SELECT doc_id, pos, w,
        |         sum(CASE WHEN w IN ('a','the') THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY doc_id ORDER BY pos) AS pid
        |        FROM tok),
        |ns AS (SELECT doc_id, pid, w FROM seg WHERE w NOT IN ('a','the')),
        |pl AS (SELECT doc_id, pid, CAST(count(*) AS BIGINT) AS plen
        |       FROM ns GROUP BY 1, 2)
        |SELECT w AS word, CAST(count(*) AS BIGINT) AS freq,
        |       CAST(sum(plen) AS BIGINT) AS deg,
        |       CAST(sum(plen) AS DOUBLE) / count(*) AS score
        |FROM ns JOIN pl USING (doc_id, pid) GROUP BY w""".stripMargin)),

    // Per-doc top-3 TF-IDF terms (smoothed sklearn idf), ties by term —
    // one persisted explode, vocabulary-sized df, 1-row N broadcast.
    Case("text_tfidf_topk", (s, dir) =>
      TextAnalysis.tfidfTopK(t(s, dir, "documents"), k = 3),
      // Same persisted-type-frame statistics and ln/rank expressions.
      Some("""WITH tk AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        |            FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |       FROM tk GROUP BY doc_id, term),
        |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tf),
        |sc AS (SELECT tf.doc_id, tf.term, tf.tf,
        |        tf.tf * (ln(CAST(n_docs + 1 AS DOUBLE) / (df + 1)) + 1.0) AS score
        |       FROM tf JOIN dfq USING (term) CROSS JOIN n),
        |r AS (SELECT doc_id, term, tf, score,
        |       row_number() OVER (PARTITION BY doc_id
        |                          ORDER BY score DESC, term) AS rk
        |      FROM sc)
        |SELECT doc_id, term, tf, score, CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 3""".stripMargin)),

    // Dunning G² collocations — the significance-weighted companion to
    // text_pmi; fixed 4-term contingency tree per bigram.
    Case("text_collocation_llr", (s, dir) =>
      TextAnalysis.collocationLlr(t(s, dir, "documents")),
      // Same margins and the identical guarded 4-term G² tree.
      Some("""WITH tk AS (SELECT string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |ix AS (SELECT toks, unnest(range(0, len(toks) - 1)) AS i
        |       FROM tk WHERE len(toks) >= 2),
        |p AS (SELECT toks[i + 1] AS w1, toks[i + 2] AS w2 FROM ix),
        |bi AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM p GROUP BY w1, w2),
        |fwd AS (SELECT w1, CAST(sum(c) AS BIGINT) AS cw1 FROM bi GROUP BY w1),
        |bwd AS (SELECT w2, CAST(sum(c) AS BIGINT) AS cw2 FROM bi GROUP BY w2),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM bi)
        |SELECT bi.w1, bi.w2, bi.c,
        |  2.0 * (CASE WHEN c > 0 AND (cw1 * cw2) / n > 0
        |              THEN c * ln(c / ((cw1 * cw2) / n)) ELSE 0.0 END
        |       + CASE WHEN cw1 - c > 0 AND (cw1 * (n - cw2)) / n > 0
        |              THEN (cw1 - c) * ln((cw1 - c) / ((cw1 * (n - cw2)) / n)) ELSE 0.0 END
        |       + CASE WHEN cw2 - c > 0 AND ((n - cw1) * cw2) / n > 0
        |              THEN (cw2 - c) * ln((cw2 - c) / (((n - cw1) * cw2) / n)) ELSE 0.0 END
        |       + CASE WHEN n - cw1 - cw2 + c > 0 AND ((n - cw1) * (n - cw2)) / n > 0
        |              THEN (n - cw1 - cw2 + c) * ln((n - cw1 - cw2 + c) / (((n - cw1) * (n - cw2)) / n)) ELSE 0.0 END) AS llr
        |FROM bi JOIN fwd USING (w1) JOIN bwd USING (w2) CROSS JOIN tot""".stripMargin)),
  )
}
