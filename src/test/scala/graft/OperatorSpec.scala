package graft

import graft.ops._
import graft.queries.GraphQueries
import org.apache.spark.sql.functions._

/** Operator-level correctness on crafted inputs (the DuckDB oracle gate
  * covers fixture parity; these pin semantics the oracle can't, e.g. the
  * hash-signature dedup family on planted near-duplicates). */
class OperatorSpec extends SparkSuite {
  import spark.implicits._

  test("every SparkEntry query runs and is non-empty on sf0.001") {
    var empties = Seq.empty[String]
    val left = leftPersisted {
      empties = sweepQueries() { (name, fn) =>
        val n = Harness.materialize(fn(spark, sfDir))(_.count())
        if (n == 0) Seq(name) else Nil
      }
    }
    assert(empties.isEmpty, s"empty results: $empties")
    // each run's scope freed what it pinned, with no clearCache: no cache
    // entry and no persisted RDD outlives the query that made it
    assert(spark.sharedState.cacheManager.isEmpty, "cache entries outlived their query")
    assert(left == 0, s"$left persisted RDDs outlived their query")
  }

  test("round-loop queries: concurrent runs on one session equal the sequential run") {
    // The iterative operators pin and free a checkpoint per round
    // (ops/Rounds). A free that reached another query's frames — the r16
    // registry-diff race — fails or changes a query running beside it,
    // so each runs twice from the pool against its sequential result,
    // every run in its own scope: a run that ends frees its pins while
    // its twin still runs.
    val names = Seq("graph_kcore", "graph_ktruss", "graph_cc_twostars",
      "graph_hits", "graph_mst_boruvka", "graph_mis", "graph_coloring",
      "graph_diameter", "dedup_groups", "dedup_max_repeats",
      "text_bpe_merges", "text_unigram_encode", "sample_kcenter",
      "ann_nndescent_planted", "ann_mmr_rerank")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().toSeq.map(_.toSeq.map(Verify.canonCell).mkString(" | ")).sorted
    val sequential = names.map(n =>
      n -> Harness.materialize(SparkEntry.queries(n)(spark, sfDir))(rows)).toMap
    assert(sequential.forall(_._2.nonEmpty), sequential.filter(_._2.isEmpty).keys)
    val differ = sweepQueries(names = names ++ names) { (name, fn) =>
      if (Harness.materialize(fn(spark, sfDir))(rows) == sequential(name)) Nil
      else Seq(name)
    }
    assert(differ.isEmpty, s"concurrent result differs from sequential: $differ")
  }

  test("Rounds.free: a nested scope's pin of one plan leaves the outer pin") {
    // Every pin is a local checkpoint, private to the frame that made it:
    // two queries that pin one plan (a query run twice at once,
    // coPurchaseEdges under two graph queries) hold two pins, and one
    // query's release never reaches the other's. Here on one thread: the
    // nested scope stands for the query that ends first.
    import org.apache.spark.sql.execution.LogicalRDD
    def plan = spark.range(0, 5000).select(($"id" % 97).as("k"), ($"id" * 3).as("v"))
    val expected = plan.filter($"k" < 10).count()
    val outerRdd = Rounds.scoped {
      val outer = Rounds.checkpoint(plan, eager = false)
      val result = outer.filter($"k" < 10)
      assert(result.count() == expected)
      val Seq(id) = outer.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }
      def live = spark.sparkContext.getPersistentRDDs.contains(id)
      val inner = Rounds.scoped {
        val f = Rounds.checkpoint(plan, eager = false)
        f.count()
        f
      }
      assert(live, "the inner scope released the outer pin")
      assert(result.count() == expected)
      Rounds.free(inner)
      Rounds.free(inner)
      assert(live, "freeing the inner frame again released the outer pin")
      assert(result.count() == expected)
      id
    }
    assert(!spark.sparkContext.getPersistentRDDs.contains(outerRdd),
      "the outer pin outlived its scope")
  }

  test("Rounds.checkpoint: an exchange over a lazy pin is reused across a self-join") {
    // A leaf that kept the pin's hash partitioning on k would canonicalize
    // with its own attribute ids, so the two copies the self-join makes
    // would each shuffle the pin by n.
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    withoutAqe {
      Rounds.scoped {
        val pin = Rounds.checkpoint(spark.range(0, 1000)
          .groupBy(($"id" % 97).as("k")).agg(count(lit(1)).as("n")), eager = false)
        val byN = pin.groupBy($"n").agg(count(lit(1)).as("c"))
        val plan = byN.join(byN.withColumnRenamed("c", "c2"), "n")
          .queryExecution.executedPlan
        assert(plan.collect { case r: ReusedExchangeExec => r }.nonEmpty, plan.toString)
      }
    }
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("registry: 319 distinct names, non-blank oracles, None only for signature rows") {
    val cases = SparkEntry.cases
    val names = cases.map(_.name)
    assert(names.size == 319 && names.distinct.size == names.size,
      s"${names.size} cases, ${names.distinct.size} distinct names")
    // A family val read by `cases` before its own initializer ran is null.
    val blank = cases.collect {
      case c if c.oracle.exists(o => o == null || o.trim.isEmpty) => c.name
    }
    assert(blank.isEmpty, s"null or blank oracle: $blank")
    assert(cases.filter(_.oracle.isEmpty).map(_.name).toSet ==
      Set("dedup_minhash_lsh", "dedup_simhash", "ann_ivf_topk"))
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.size == 316)
  }

  test("gate boundary: no DECIMAL/ARRAY/FLOAT32 column crosses a query output") {
    // The r6 driver-red class: a DECIMAL renders scale-dependently
    // ("x.00" vs "x.0") once a checker materializes one side as float;
    // ARRAY cells crash pandas sorting; FLOAT32 renders differently from
    // its float64 widening. Decimal sums must leave as scaled BIGINT,
    // arrays as joined strings, float32 widened to double — in BOTH the
    // query and its oracle SQL. Only schemas are ASSERTED (no count/
    // collect here), though building some queries does run their
    // construction-time side effects (scratch writes, sampled training).
    import org.apache.spark.sql.types.{ArrayType, DecimalType, FloatType}
    val offenders =
      sweepQueries() { (name, fn) =>
        Harness.materialize(fn(spark, sfDir))(_.schema.fields.toSeq.collect {
          case f if f.dataType.isInstanceOf[DecimalType] ||
            f.dataType.isInstanceOf[ArrayType] ||
            f.dataType == FloatType => s"$name.${f.name}: ${f.dataType}"
        })
      }
    assert(offenders.isEmpty,
      s"renderer-dependent output columns:\n${offenders.mkString("\n")}")
  }

  test("minhash LSH finds planted near-duplicates and skips unrelated docs") {
    val base = "the quick brown fox jumps over the lazy dog again and again " * 5
    val nearDup = base.replace("lazy", "sleepy") // one token changed
    val other = "completely different content about spark shuffles and joins " * 5
    val docs = Seq((1L, base), (2L, nearDup), (3L, other), (4L, base))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.5)
      .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), s"near-dup pair missing: $pairs")
    assert(pairs.contains((1L, 4L)), s"exact-dup pair missing: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), s"false positive: $pairs")
  }

  test("simhash: exact dups pair at hamming 0; one-token edit stays local") {
    val base = Seq.tabulate(80)(i => s"tok$i").mkString(" ")
    val oneEdit = Seq.tabulate(80)(i => if (i == 79) "changed" else s"tok$i").mkString(" ")
    val other = Seq.tabulate(80)(i => s"zzz$i").mkString(" ")
    val docs = Seq((1L, base), (2L, base), (3L, other), (4L, oneEdit)).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 0)
      .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)), s"expected exactly (1,2): $pairs")
    // locality: a single-token edit moves few bits; unrelated text moves many
    val sh = Dedup.withSimhash(docs, "doc_id", "text")
      .select($"doc_id", $"bits").as[(Long, Seq[Long])].collect().toMap
    def hamming(a: Seq[Long], b: Seq[Long]) = a.zip(b).count(p => p._1 != p._2)
    assert(hamming(sh(1L), sh(4L)) < 16, s"edit hamming ${hamming(sh(1L), sh(4L))}")
    assert(hamming(sh(1L), sh(3L)) > 16, s"unrelated hamming ${hamming(sh(1L), sh(3L))}")
  }

  test("ngram jaccard is exact on a constructed pair") {
    // texts: "a b c d" vs "a b c e": 3-gram shingles {abc,bcd} vs {abc,bce}
    // jaccard = 1/3
    val docs = Seq((1L, "a b c d", "s"), (2L, "a b c e", "s")).toDF("doc_id", "text", "source")
    val j = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "source", n = 3, threshold = 0.0)
      .select("jaccard").as[Double].collect()
    assert(j.length == 1 && math.abs(j.head - 1.0 / 3.0) < 1e-15, j.mkString(","))
  }

  test("brute-force top-k cosine ranks an exact copy first") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),   // exact copy of 0
      (2L, Array(0.9f, 0.1f, 0.0f, 0.0f)),   // close
      (3L, Array(0.0f, 0.0f, 1.0f, 0.0f)),   // orthogonal
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" === 0), k = 3)
      .orderBy("rank").select("neighbor_id").as[Long].collect()
    assert(top.toSeq == Seq(1L, 2L, 3L), top.mkString(","))
  }

  test("bitext margin pairs mutual bests and absorbs the hub vector") {
    // tgt 1 is a HUB (diagonal — cosine ≈ 0.58 to every axis-ish src,
    // 0.999 to src 4): raw cosine alone would let it shadow the specific
    // alignments, but its high neighborhood average b(1) deflates every
    // margin through it, so src 0 pairs with its specific target 3 and
    // src 2 with 5, while the hub pairs only with the src that genuinely
    // sits on the diagonal (4). Mutual-best must return EXACTLY the
    // three pairs.
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),          // src: x-axis
      (2L, Array(0.0f, 1.0f, 0.0f)),          // src: y-axis
      (4L, Array(1.0f, 1.0f, 0.9f)),          // src: near-diagonal
      (1L, Array(1.0f, 1.0f, 1.0f)),          // tgt: the hub
      (3L, Array(0.98f, 0.199f, 0.0f)),       // tgt: aligned with src 0
      (5L, Array(0.0f, 0.98f, 0.199f)),       // tgt: aligned with src 2
    ).toDF("vec_id", "embedding")
    val got = graft.ops.Similarity.bitextMargin(
        vecs.filter($"vec_id" % 2 === 0), vecs.filter($"vec_id" % 2 === 1),
        k = 2)
      .select($"src_id", $"tgt_id", $"margin")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(got.map(p => (p._1, p._2)).toSeq == Seq((0L, 3L), (2L, 5L), (4L, 1L)),
      s"mutual pairs: ${got.toSeq}")
    // every mutual pair scores above its neighborhood (margin > 1), and
    // the hub never shadows the specific pairs: (0,1)/(2,1) are absent
    // (implied by the exact-pairs equality) even though cos(0,1) ≈ 0.58
    // beats nothing of it — the deflated margin through b(1) loses to
    // the specific targets on both srcs
    assert(got.forall(_._3 > 1.0), s"margins: ${got.toSeq}")
  }

  test("MMR re-rank demotes the near-duplicate a pure similarity ranking keeps") {
    // Query 0 sits between two directions that are both relevant to it
    // (sim ≈ 0.8) yet nearly opposite to each other in the second axis.
    // Candidate 2 is a near-duplicate of 1 (pair sim ≈ 1), candidate 3
    // is the mirror direction (pair sim to 1 ≈ 0.27). Pure cosine ranks
    // (1, 2, 3): sims 0.8000 > 0.7995 > 0.7915. MMR at λ=0.7 must pick
    // 1, then jump to the diverse 3 (2's ≈1 redundancy kills its
    // margin: 0.26 vs 0.47), and take the duplicate last — the planted
    // case where the greedy penalty provably reorders.
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.8f, 0.6f, 0.0f, 0.0f)),      // relevant
      (2L, Array(0.8f, 0.601f, 0.001f, 0.0f)),  // its near-duplicate
      (3L, Array(0.79f, -0.61f, 0.0f, 0.0f)),   // mirror: diverse
    ).toDF("vec_id", "embedding")
    val got = Similarity.mmrRerank(vecs, vecs.filter($"vec_id" === 0),
        candK = 3, k = 3)
      .orderBy("step")
      .select($"neighbor_id", $"redundancy", $"mmr")
      .as[(Long, Double, Double)].collect()
    assert(got.map(_._1).toSeq == Seq(1L, 3L, 2L),
      got.map(_._1).mkString(","))
    // step 1 pays no redundancy; the demoted near-duplicate's final
    // redundancy is its sim to vector 1 (≈1), far above vector 3's
    assert(got(0)._2 == 0.0)
    assert(got(2)._2 > 0.99 && got(1)._2 < 0.8,
      s"redundancies ${got.map(_._2).mkString(",")}")
    // mmr of every later step is dominated by the earlier pick's score
    assert(got(0)._3 >= got(1)._3 && got(1)._3 >= got(2)._3)
  }

  test("IVF top-k routes an exact duplicate to the same cell and ranks it first") {
    val dim = 64
    val rnd = new scala.util.Random(5)
    val base = (0L until 300L).map(i => (i, Array.fill(dim)(rnd.nextGaussian().toFloat)))
    // vec 300 = exact copy of vec 0
    val vecs = (base :+ ((300L, base.head._2.clone()))).toDF("vec_id", "embedding")
    val out = Similarity.ivfTopK(vecs, vecs.filter($"vec_id" === 0), k = 5)
      .orderBy("rank").select("neighbor_id").as[Long].collect()
    assert(out.headOption.contains(300L), s"expected copy first, got ${out.mkString(",")}")
  }

  test("IVF and LSH hit recall floors on clusterable data; plan size is O(1) in nCells") {
    val dim = 64
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(8)(Array.fill(dim)(rnd.nextGaussian()))
    val pts = for (c <- centers.indices; j <- 0 until 40)
      yield ((c * 40 + j).toLong, centers(c).map(x => (x + 0.05 * rnd.nextGaussian()).toFloat))
    val vecs = pts.toDF("vec_id", "embedding")
    val qs = vecs.filter($"vec_id" % 40 === 0) // one query per cluster
    val exact = Similarity.bruteForceTopK(vecs, qs, k = 10)
    def minRecall(approx: org.apache.spark.sql.DataFrame): Double =
      Similarity.recallAtK(exact, approx).values.min
    // when the data actually clusters, the index earns its keep
    assert(minRecall(Similarity.ivfTopK(vecs, qs, k = 10, nCells = 8, nProbe = 2)) >= 0.9)
    assert(minRecall(Similarity.lshTopK(vecs, qs, k = 10)) >= 0.6)
    // de-literalized centroids: the plan must not grow with the cell count
    def planChars(nCells: Int) = Similarity
      .ivfTopK(vecs, qs, k = 10, nCells = nCells, sampleN = 320)
      .queryExecution.optimizedPlan.toString.length
    val (p8, p64) = (planChars(8), planChars(64))
    assert(p64 < p8 + 500, s"plan grew with nCells: $p8 -> $p64 chars")
  }

  test("prefix filter: equals brute-force all-pairs Jaccard — exact, no recall knob") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val got = Dedup.prefixFilterPairs(docs, "doc_id", "text", n = 3,
        minJaccard = 0.5)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    // ground truth: every pair, no filtering tricks
    val sigs = docs.select($"doc_id",
      graft.functions.textnative.shingle_hashes($"text", 3).as("sh"))
    val brute = sigs.select($"doc_id".as("a"), $"sh".as("sha"))
      .crossJoin(sigs.select($"doc_id".as("b"), $"sh".as("shb")))
      .filter($"a" < $"b")
      .filter(graft.functions.textnative.jaccard_sorted($"sha", $"shb") >= 0.5)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    assert(got == brute, s"missing=${brute -- got} extra=${got -- brute}")
    assert(brute.nonEmpty, "fixture has no qualifying pairs — vacuous test")
  }

  test("nfc normalize: decomposed text composes; composed and ligatures unchanged; null-safe") {
    val nfc = graft.functions.textnative.nfc_normalize _
    val df = Seq(Some("é"), Some("é"), Some("ﬃx"), Some("plain"), None)
      .toDF("t")
      .select($"t", nfc($"t").as("n"))
      .select($"t", $"n", octet_length(encode($"n", "UTF-8")).as("nb"))
      .collect().map(r => (Option(r.getString(0)), Option(r.getString(1)),
        Option(r.get(2)).map(_.toString.toInt)))
    assert(df.contains((Some("é"), Some("é"), Some(2))),
      "combining acute did not compose")
    assert(df.contains((Some("é"), Some("é"), Some(2))))
    assert(df.contains((Some("ﬃx"), Some("ﬃx"), Some(4))),
      "NFC must not decompose compatibility ligatures")
    assert(df.contains((None, None, None)), "null must pass through")
    // the dedup motivation: both spellings of the same text hash equal
    // only AFTER normalization
    val two = Seq("café", "café").toDF("t")
    assert(two.select(md5(encode($"t", "UTF-8"))).distinct().count() == 2L)
    assert(two.select(md5(encode(nfc($"t"), "UTF-8"))).distinct().count() == 1L)
  }

  test("unigram LM: Viterbi picks the likely split where greedy longest-match would not") {
    // vocab weights: "ab" 22, "cd" 21, "abc" 2 — greedy MaxMatch at pos 0
    // of "abcd" takes the LONGEST piece ("abc", then the rare "d");
    // unigram search composes the two high-probability pieces instead
    val docs = (Seq.fill(20)("ab") ++ Seq.fill(20)("cd") ++ Seq("abcd", "abcz"))
      .map(Tuple1(_)).toDF("text")
    val paths = TextAnalysis.unigramWordPaths(docs,
      maxTokLen = 3, topSubs = 8, rounds = 4)
    val m = paths.select($"word", $"path").as[(String, String)].collect().toMap
    assert(m("abcd") == "ab\u001fcd", m.toString)
    // frequent whole words segment as themselves
    assert(m("ab") == "ab" && m("cd") == "cd", m.toString)
    // every distinct word gets exactly one complete segmentation
    assert(m.size == 4, m.toString)
  }

  test("nn-descent: high recall on clustered data, monotone across rounds, no duplicate edges") {
    val dim = 64
    val rnd = new scala.util.Random(23)
    val centers = Array.fill(8)(Array.fill(dim)(rnd.nextGaussian()))
    val pts = for (c <- centers.indices; j <- 0 until 40)
      yield ((c * 40 + j).toLong, centers(c).map(x => (x + 0.05 * rnd.nextGaussian()).toFloat))
    val vecs = pts.toDF("vec_id", "embedding")
    val qs = vecs.filter($"vec_id" % 40 === 0)
    val exact = Similarity.bruteForceTopK(vecs, qs, k = 10)
    def graph(rounds: Int) = Similarity.nnDescent(vecs, k = 10, rounds = rounds)
      .withColumnRenamed("node_id", "query_id")
    def minRecall(rounds: Int): Double = Similarity.recallAtK(exact,
      graph(rounds).join(qs.select($"vec_id".as("query_id")),
        Seq("query_id"), "left_semi")).values.min
    val (r1, r3) = (minRecall(1), minRecall(3))
    // the descent premise: on clustered data, neighbor-of-neighbor rounds
    // converge to the true neighborhood...
    assert(r3 >= 0.9, s"rounds=3 min recall $r3")
    // ...and the k-bounded merge only ever improves a node's list
    assert(r3 >= r1, s"recall regressed across rounds: $r1 -> $r3")
    // the (node, cand) dedupe holds: no duplicate neighbor in any list
    val dup = graph(2).groupBy($"query_id", $"neighbor_id").count()
      .filter($"count" > 1).count()
    assert(dup === 0L, s"$dup duplicate edges")
  }

  test("cosine_sim: null (not NaN) on length mismatch and zero norm; top-k unpoisoned") {
    val degenerate = Seq(
      (Array(1.0, 0.0), Array(1.0)),      // length mismatch
      (Array(0.0, 0.0), Array(1.0, 1.0))) // zero-norm side
      .toDF("a", "b")
      .select(graft.functions.native.cosine_sim($"a", $"b").as("sim"))
      .collect()
    assert(degenerate.forall(_.isNullAt(0)), degenerate.mkString(","))
    // a zero vector in the candidate set is filtered, not ranked nondeterministically
    val vecs = Seq((0L, Array(1f, 0f)), (1L, Array(0f, 0f)), (2L, Array(1f, 0.1f)))
      .toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" === 0), k = 3)
      .select("neighbor_id").as[Long].collect()
    assert(top.toSeq == Seq(2L), top.mkString(","))
  }

  test("embedding near-dup LSH finds planted duplicate vectors") {
    val dim = 64
    val rnd = new scala.util.Random(1)
    val a = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val aJitter = a.map(x => x + 0.001f)
    val b = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val vecs = Seq((1L, a), (2L, aJitter), (3L, b)).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(vecs, "vec_id", "embedding", threshold = 0.99)
      .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)), pairs.mkString(","))
  }

  test("language id picks the language with most function words") {
    val docs = Seq(
      (1L, "the cat sat on the mat and it is happy"),
      (2L, "el gato es un animal que no se mueve"),
      (3L, "der hund ist ein tier und das ist nicht schlecht"),
    ).toDF("doc_id", "text")
    val out = TextAnalysis.languageId(docs)
      .select("doc_id", "predicted_lang").as[(Long, String)].collect().toMap
    assert(out(1L) == "en" && out(2L) == "es" && out(3L) == "de", out.toString)
  }

  test("fingerprint is deterministic and order-sensitive") {
    val docs = Seq((1L, "a b c"), (2L, "a b c"), (3L, "c b a")).toDF("doc_id", "text")
    val fp = TextAnalysis.fingerprint(docs)
      .select("doc_id", "fingerprint").as[(Long, Long)].collect().toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
  }

  test("accumulated metrics: lifetime total + latest-window average") {
    val ev = Seq(
      ("a", "2024-01-01 00:00:10", 10.0),
      ("a", "2024-01-01 00:00:20", 20.0),
      ("a", "2024-01-01 00:02:10", 50.0),
      ("b", "2024-01-01 00:00:30", 7.0),
    ).toDF("city", "ts_s", "fare")
      .select($"city", to_timestamp($"ts_s").as("event_timestamp"),
        $"fare".as("fare_amount"), monotonically_increasing_id().cast("string").as("trip_id"))
    val out = Metrics.accumulatedMetrics(Metrics.WindowSpec())(ev)
      .select("city", "total_trips", "average_fare").as[(String, Long, Double)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out("a") == ((3L, 50.0)), out.toString)  // total 3, latest window avg 50
    assert(out("b") == ((1L, 7.0)), out.toString)
  }

  test("dedupCorpus labels near-dup groups with min-id keeper; singletons survive") {
    val base = "the quick brown fox jumps over the lazy dog again and again " * 5
    val nearDup = base.replace("lazy", "sleepy")
    val other = "completely different content about spark shuffles and joins " * 5
    val docs = Seq((10L, base), (11L, nearDup), (12L, other), (13L, base))
      .toDF("doc_id", "text")
    val out = Dedup.dedupCorpus(docs, "doc_id", "text", threshold = 0.5)
      .select($"doc_id", $"group_id", $"is_duplicate")
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out == Map(
      10L -> ((10L, false)), 11L -> ((10L, true)),
      12L -> ((12L, false)), 13L -> ((10L, true))), out.toString)
  }

  test("duplicate groups: transitive closure labels components by min id") {
    // components: {1,2,4} via 1-2, 2-4 (transitive), and {7,9}
    val pairs = Seq((1L, 2L), (2L, 4L), (7L, 9L)).toDF("left_id", "right_id")
    val groups = Dedup.duplicateGroups(pairs)
      .as[(Long, Long)].collect().toMap
    assert(groups == Map(1L -> 1L, 2L -> 1L, 4L -> 1L, 7L -> 7L, 9L -> 7L), groups.toString)
  }

  /** How many RDDs `body` persisted that are still persisted when it
    * returns. The session's persistent-RDD registry holds RDDs weakly,
    * so a GC during `body` can drop a leaked checkpoint before it is
    * counted. Every persisted RDD a job start sees is held strongly
    * until the count is taken, so only an explicit unpersist removes
    * one. */
  private def leftPersisted(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val held = java.util.concurrent.ConcurrentHashMap
      .newKeySet[org.apache.spark.rdd.RDD[_]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        sc.getPersistentRDDs.values.foreach(held.add)
    }
    sc.addSparkListener(listener)
    try body finally sc.removeSparkListener(listener)
    val live = sc.getPersistentRDDs.keySet
    (held.asScala.map(_.id).toSet -- before).count(live)
  }

  test("duplicate groups: deep chain converges, frees checkpoints, throws past maxIters") {
    // a 12-node path needs ~11 label-propagation rounds — exercises the
    // per-iteration localCheckpoint path well beyond typical LSH cliques
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("left_id", "right_id")
    var groups = Map.empty[Long, Long]
    val left = leftPersisted {
      groups = Dedup.duplicateGroups(chain).as[(Long, Long)].collect().toMap
    }
    assert(groups.size == 12 && groups.values.toSet == Set(1L), groups.toString)
    // what stays is the final labels' checkpoint, which the result reads
    assert(left <= 1, s"leaked checkpoint blocks: $left persistent RDDs left")
    // the unigram Viterbi rounds free their superseded state, the seed
    // round included, and the op frees its dead helpers (vocab,
    // candidates, the reweighted vocab, each pass's edge frame, the first
    // pass's final state) once the second pass has run: what stays is
    // what the result reads, the word-frequency cache and the second
    // pass's final state
    val words = (Seq.fill(20)("ab") ++ Seq.fill(20)("cd") ++ Seq("abcd", "abcz"))
      .map(Tuple1(_)).toDF("text")
    val viterbiLeft = leftPersisted {
      TextAnalysis.unigramWordPaths(words, maxTokLen = 3, topSubs = 8,
        rounds = 4).count()
    }
    assert(viterbiLeft <= 2, s"Viterbi leaked rounds: $viterbiLeft persistent RDDs left")
    // partially-propagated labels must fail loudly, not return wrong groups
    intercept[IllegalStateException] {
      Dedup.duplicateGroups(chain, maxIters = 3).count()
    }
  }

  test("as-of join: inclusive backward match, tolerance bound, null when none") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val trades = Seq(
      (1L, "k1", "2024-01-01 00:00:10"), // after q@00:00:05 -> 100.0
      (2L, "k1", "2024-01-01 00:00:30"), // exactly at q@00:00:30 -> inclusive, 200.0
      (3L, "k1", "2024-01-01 00:10:00"), // far after last quote
      (4L, "k2", "2024-01-01 00:00:10"), // no quote for k2 -> null
    ).toDF("trade_id", "key", "t").select($"trade_id", $"key", to_timestamp($"t").as("ts"))
    val quotes = Seq(
      ("k1", "2024-01-01 00:00:05", 100.0),
      ("k1", "2024-01-01 00:00:30", 200.0),
    ).toDF("key", "t", "px").select($"key", to_timestamp($"t").as("ts"), $"px")

    val out = AsOfJoin.asOfBackward(trades, quotes, "key", "ts", Seq("px"))
      .select($"trade_id", $"asof_px").as[(Long, Option[Double])].collect().toMap
    assert(out == Map(1L -> Some(100.0), 2L -> Some(200.0), 3L -> Some(200.0), 4L -> None), out.toString)

    // 60 s tolerance: trade 3 is ~9.5 min after the last quote -> nulled
    val tol = AsOfJoin.asOfBackward(trades, quotes, "key", "ts", Seq("px"),
      toleranceSec = Some(60.0))
      .select($"trade_id", $"asof_px").as[(Long, Option[Double])].collect().toMap
    assert(tol == Map(1L -> Some(100.0), 2L -> Some(200.0), 3L -> None, 4L -> None), tol.toString)

    // scale shape: exactly one exchange (the key hash-partitioning)
    val plan = AsOfJoin.asOfBackward(trades, quotes, "key", "ts", Seq("px"))
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).size <= 2, s"unexpected shuffles:\n$plan")
  }

  test("bucketed tables join without an exchange") {
    // the in-memory catalog forgets tables between JVMs but the warehouse
    // directories persist — clear both the catalog entry and the location
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    Seq("b_orders", "b_customer").foreach { tbl =>
      val dir = new java.io.File(wh, tbl)
      if (dir.exists()) {
        import scala.reflect.io.Directory
        new Directory(dir).deleteRecursively()
      }
    }
    spark.read.parquet(s"$sfDir/orders.parquet")
      .write.bucketBy(4, "o_custkey").sortBy("o_custkey").saveAsTable("b_orders")
    spark.read.parquet(s"$sfDir/customer.parquet")
      .write.bucketBy(4, "c_custkey").sortBy("c_custkey").saveAsTable("b_customer")
    val joined = spark.table("b_orders")
      .hint("merge") // force SMJ so the broadcast path doesn't mask bucketing
      .join(spark.table("b_customer"),
        col("o_custkey") === col("c_custkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucketed join should have no shuffle exchange:\n$plan")
    assert(joined.count() == spark.read.parquet(s"$sfDir/orders.parquet").count())
  }

  test("salted join equals the plain join exactly") {
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val dim = spark.read.parquet(s"$sfDir/customer.parquet")
      .select($"c_custkey".as("o_custkey"), $"c_mktsegment")
    val salted = Skew.saltedJoin(orders, dim, "o_custkey", 8, Seq("o_orderkey"))
      .groupBy($"c_mktsegment").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    val plain = orders.join(dim, "o_custkey")
      .groupBy($"c_mktsegment").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(salted == plain)
  }

  test("salted two-phase aggregation equals plain groupBy") {
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val salted = Skew.saltedCountSum(orders, "o_orderpriority", "o_totalprice",
      8, Seq("o_orderkey"))
      .select($"o_orderpriority", $"n_rows").as[(String, Long)].collect().toMap
    val plain = orders.groupBy($"o_orderpriority").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(salted == plain)
  }

  test("salted sum is BIT-exact vs unsalted decimal accumulation (not just close)") {
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val salted = Skew.saltedCountSum(orders, "o_orderpriority", "o_totalprice",
      8, Seq("o_orderkey"))
      .select($"o_orderpriority", $"sum_value").as[(String, Double)].collect().toMap
    val exact = orders.groupBy($"o_orderpriority")
      .agg(sum($"o_totalprice".cast("decimal(38,6)")).cast("double").as("s"))
      .as[(String, Double)].collect().toMap
    // == on doubles deliberately: DECIMAL accumulation makes the salted
    // fold order irrelevant, so equality is exact, not approximate
    assert(salted == exact, s"$salted vs $exact")
  }

  test("registered SQL functions match the Column API expressions") {
    org.apache.spark.sql.graftbridge.GraftBridge
      .applyFunctionExtensions(new graft.GraftExtensions, spark)
    val viaSql = spark.sql(
      "SELECT cosine_sim(CAST(array(1.0, 0.0) AS ARRAY<DOUBLE>), CAST(array(1.0, 1.0) AS ARRAY<DOUBLE>))")
      .as[Double].head()
    assert(math.abs(viaSql - 1.0 / math.sqrt(2)) < 1e-15)
    val jac = spark.sql("SELECT jaccard_sorted(array(1L, 2L, 3L), array(2L, 3L, 4L))")
      .as[Double].head()
    assert(jac == 0.5)
    val sh = spark.sql("SELECT size(shingle_hashes('a b c d', 3))").as[Int].head()
    assert(sh == 2)
    val hd = spark.sql("SELECT hamming_bits(array(1L, 0L, 1L), array(1L, 1L, 0L))")
      .as[Long].head()
    assert(hd == 2L)
    val simBits = spark.sql("SELECT size(text_simhash('a b c').bits)").as[Int].head()
    assert(simBits == 64)
    val ts = spark.sql("SELECT text_stats('the Quick fox!') AS s")
      .select("s.n_tokens", "s.n_punct", "s.n_upper", "s.n_stop")
      .as[(Long, Long, Long, Long)].head()
    assert(ts == ((3L, 1L, 1L, 1L)), ts.toString)
  }

  test("file-format roundtrips preserve rows; partitioned layout prunes") {
    import graft.sources.Sources
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft-src").toString
    val df = spark.read.parquet(s"$sfDir/orders.parquet")
    val n = df.count()

    Sources.writePartitioned(df.withColumn("o_year", year($"o_orderdate")),
      s"$dir/part", Seq("o_year"))
    val back = Sources.readParquet(spark, s"$dir/part")
    assert(back.count() == n)
    val pruned = back.filter($"o_year" === 1995)
    assert(pruned.count() == df.filter(year($"o_orderdate") === 1995).count())
    // partition pruning visible in the plan: no o_year filter survives to scan
    assert(pruned.queryExecution.executedPlan.toString.contains("PartitionFilters"))

    Sources.writeCsv(df.select($"o_orderkey", $"o_orderstatus", $"o_totalprice"), s"$dir/csv")
    val csvSchema = new StructType().add("o_orderkey", LongType)
      .add("o_orderstatus", StringType).add("o_totalprice", DoubleType)
    assert(Sources.readCsv(spark, s"$dir/csv", csvSchema).count() == n)

    Sources.writeJsonLines(df.select($"o_orderkey", $"o_orderpriority"), s"$dir/json")
    val jsonSchema = new StructType().add("o_orderkey", LongType)
      .add("o_orderpriority", StringType)
    assert(Sources.readJsonLines(spark, s"$dir/json", jsonSchema).count() == n)
  }

  test("GraftExtensions injects native functions resolvable from SQL") {
    // spark.sql.extensions is a static conf — apply the installer to the
    // live session's registry through the same injectFunction path.
    org.apache.spark.sql.graftbridge.GraftBridge
      .applyFunctionExtensions(new graft.GraftExtensions, spark)
    val v = spark.sql(
      "SELECT dot_product(CAST(array(2.0, 3.0) AS ARRAY<DOUBLE>), CAST(array(4.0, 5.0) AS ARRAY<DOUBLE>)) AS d")
      .collect().head.getDouble(0)
    assert(v == 23.0)
    // The whole table, on a session whose registry holds none of it yet
    // (newSession shares no temporary functions with `spark`).
    val names = Seq("cosine_sim", "dot_product", "sig_agreement",
      "jaccard_sorted", "shingle_hashes", "text_simhash", "hamming_bits",
      "text_stats", "text_repetition", "shingle_md5_keys", "quantize_int8")
    val fresh = spark.newSession()
    assert(names.filter(fresh.catalog.functionExists).isEmpty)
    org.apache.spark.sql.graftbridge.GraftBridge
      .applyFunctionExtensions(new graft.GraftExtensions, fresh)
    assert(names.filterNot(fresh.catalog.functionExists).isEmpty)
    // Applying twice registers once: the second call finds every
    // function and replaces none (each replacement logs a WARN).
    val registry = fresh.sessionState.functionRegistry
    def builders = names.map(n => registry
      .lookupFunctionBuilder(org.apache.spark.sql.catalyst.FunctionIdentifier(n)).get)
    val first = builders
    org.apache.spark.sql.graftbridge.GraftBridge
      .applyFunctionExtensions(new graft.GraftExtensions, fresh)
    assert(builders.zip(first).forall { case (now, was) => now eq was },
      "a second apply replaced registered functions")
  }

  test("consistent sampling is stable, partition-independent, and nests") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val s10 = Sampling.consistentSample(docs, "doc_id", 0.10)
      .select("doc_id").as[Long].collect().toSet
    val s25 = Sampling.consistentSample(docs.repartition(7), "doc_id", 0.25)
      .select("doc_id").as[Long].collect().toSet
    assert(s10.subsetOf(s25), "subsamples must nest (same draw, smaller cutoff)")
    val n = docs.count().toDouble
    assert(math.abs(s25.size / n - 0.25) < 0.08, s"got ${s25.size / n}")
    // fraction 1.0 for a stratum keeps every row of it; 0.0 default drops rest
    val es = Sampling.stratifiedSample(docs, "doc_id", "lang", Map("es" -> 1.0))
    assert(es.count() == docs.filter($"lang" === "es").count())
    assert(es.select("lang").distinct().collect().map(_.getString(0)).toSeq == Seq("es"))
  }

  // ── plan-shape regression guards (scale properties, not row values) ──

  /** Shuffle-exchange count in the (pre-AQE) executed plan. */
  private def numShuffles(df: org.apache.spark.sql.DataFrame): Int =
    "Exchange hashpartitioning".r
      .findAllIn(df.queryExecution.executedPlan.toString).size

  /** Run `body` with AQE off so ShuffleExchangeExec nodes are directly
    * collectible from the executed plan (AdaptiveSparkPlanExec hides its
    * subtree from TreeNode.collect). */
  private def withoutAqe[T](body: => T): T = {
    val old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body finally spark.conf.set("spark.sql.adaptive.enabled", old)
  }

  test("plan: LSH band-join exchanges are narrow — no signature payload") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    withoutAqe {
      // force the at-scale shape: at sf0.001 the band join would broadcast
      val oldBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
      val plan = Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.0)
        .queryExecution.executedPlan
      val bandExchangeCols = plan.collect {
        case e: ShuffleExchangeExec
            if e.outputPartitioning.toString.contains("band_hash") =>
          e.output.map(_.name)
      }
      assert(bandExchangeCols.nonEmpty, "expected band-keyed exchanges in the LSH plan")
      bandExchangeCols.foreach { cols =>
        assert(!cols.exists(_.contains("sig")),
          s"band exchange carries signature arrays: $cols")
      }
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldBc)
    }
  }

  test("plan: sql_entrypoint (TPC-H Q5) broadcasts dims, single agg shuffle") {
    val df = SparkEntry.queries("sql_entrypoint")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(bhj >= 3, s"expected nation/region/customer broadcast, got $bhj BHJ:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"dim join fell back to sort-merge at test scale:\n$plan")
    assert(numShuffles(df) <= 1, s"expected only the final group-by exchange:\n$plan")
  }

  test("plan: salted join replicates the small side map-side (one exchange per side)") {
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val dim = spark.read.parquet(s"$sfDir/customer.parquet")
      .withColumnRenamed("c_custkey", "o_custkey")
    val joined = Skew.saltedJoin(
      orders.hint("merge"), dim.hint("merge"), "o_custkey", salts = 4,
      bigIdCols = Seq("o_orderkey"))
    // exactly the join's own two hash-partitionings: the explode-based
    // replication must not introduce a third exchange on the small side
    assert(numShuffles(joined) == 2,
      s"salt replication added an exchange:\n${joined.queryExecution.executedPlan}")
  }

  test("plan: text projections and chunking are shuffle-free narrow maps") {
    for (name <- Seq("text_pii_scrub", "text_repetition", "pack_chunks")) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      assert(numShuffles(df) == 0,
        s"$name grew a shuffle:\n${df.queryExecution.executedPlan}")
    }
  }

  test("plan: sequence packing — parallel bucket window, broadcast prefix rejoin") {
    val df = SparkEntry.queries("pack_sequences")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // corpus rows: ONE hash exchange (bucket id) for the intra window;
    // the single-partition exchange holds bucket TOTALS only; the prefix
    // rejoin must broadcast, never shuffle the corpus side again
    assert(numShuffles(df) <= 2,
      s"corpus side shuffles more than bucket-window + agg:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"bucket-prefix rejoin fell back to a shuffled join:\n$plan")
  }

  test("plan: decontamination probes a broadcast benchmark set") {
    val df = SparkEntry.queries("decon_ngram")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark probe fell back to a shuffled join:\n$plan")
    // corpus side: no exchange before the probe; only the per-doc count
    // aggregation (plus the small bench-side distinct) shuffles
    assert(numShuffles(df) <= 2,
      s"corpus n-grams shuffle before the broadcast probe:\n$plan")
  }

  test("plan: quantized top-k broadcasts queries and keeps k-bounded partials") {
    val df = SparkEntry.queries("ann_quantized_topk")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"query fan-out is not the broadcast scan:\n$plan")
    assert(numShuffles(df) <= 1,
      s"more than the final Qxk top-k merge shuffles:\n$plan")
  }

  test("plan: vocab encode broadcasts the vocabulary onto the token stream") {
    val df = SparkEntry.queries("text_vocab_encode")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"vocab probe fell back to a shuffled join:\n$plan")
  }

  test("plan: range joins stay equi-joins; gap fill stays linear") {
    for (name <- Seq("rel_range_join", "rel_interval_overlap")) {
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
        s"$name planned as all-pairs:\n$plan")
    }
    // (key,bucket) pre-agg + span agg + grid join + per-key window — the
    // linear budget; a regression to an as-of/theta formulation busts it
    val gf = SparkEntry.queries("rel_gap_fill")(spark, sfDir)
    assert(numShuffles(gf) <= 4,
      s"gap fill shuffles beyond its linear budget:\n${gf.queryExecution.executedPlan}")
  }

  test("bloom semi join equals the plain semi join, probe on the scan side") {
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val dim = spark.read.parquet(s"$sfDir/customer.parquet")
      .filter($"c_mktsegment" === "BUILDING")
    val bloomed = BloomJoin.bloomSemiJoin(orders, "o_custkey", dim, "c_custkey",
      expectedItems = 10000)
    val got = bloomed.select($"o_orderkey").as[Long].collect().toSet
    val expect = orders
      .join(dim.select($"c_custkey".as("o_custkey")).distinct(), Seq("o_custkey"), "semi")
      .select($"o_orderkey").as[Long].collect().toSet
    assert(got == expect, s"bloom changed the result: ${got diff expect} / ${expect diff got}")
    val plan = bloomed.queryExecution.executedPlan.toString.toLowerCase
    assert(plan.contains("mightcontain"), s"bloom probe missing from plan:\n$plan")
  }

  test("plan: interval-join batch twin shuffles each side once") {
    val df = SparkEntry.queries("stream_interval_join")(spark, sfDir)
    assert(numShuffles(df) <= 2,
      s"interval join shuffles more than once per side:\n${df.queryExecution.executedPlan}")
  }

  test("pii scrub counts and redacts emails, ips, and phones") {
    val docs = Seq(
      (1L, "write to a.b@mail.org or c@d.io at 10.0.0.1 tel +44 20 7946 0958"),
      (2L, "no pii here at all"),
    ).toDF("doc_id", "text")
    val out = TextAnalysis.piiScrub(docs)
      .select($"doc_id", $"n_emails", $"n_ips", $"n_phones", $"scrubbed")
      .as[(Long, Long, Long, Long, String)].collect().sortBy(_._1)
    assert(out(0) == ((1L, 2L, 1L, 1L,
      "write to <EMAIL> or <EMAIL> at <IP> tel <PHONE>")), out(0).toString)
    assert(out(1) == ((2L, 0L, 0L, 0L, "no pii here at all")), out(1).toString)
  }

  test("repetition stats match hand-computed counts") {
    // "a a a b": top token a×3/4, distinct {a,b}=2/4,
    // 2-grams [aa, aa, ab]: 3 total, 2 distinct → dup frac 1/3
    val docs = Seq((1L, "a a a b")).toDF("doc_id", "text")
    val r = TextAnalysis.repetitionStats(docs)
      .select($"n_tokens", $"top_token_frac", $"distinct_ratio", $"dup_2gram_frac")
      .as[(Long, Double, Double, Double)].head()
    assert(r._1 == 4L)
    assert(math.abs(r._2 - 0.75) < 1e-15)
    assert(math.abs(r._3 - 0.5) < 1e-15)
    assert(math.abs(r._4 - 1.0 / 3.0) < 1e-15)
  }

  test("chunking splits documents into fixed-token chunks with a short tail") {
    val docs = Seq((1L, Seq.tabulate(10)(i => s"w$i").mkString(" ")), (2L, "solo"))
      .toDF("doc_id", "text")
    val chunks = Training.chunkDocuments(docs, "doc_id", "text", chunkTokens = 4)
      .select($"doc_id", $"chunk_id", $"n_chunk_tokens", $"chunk_text")
      .as[(Long, Long, Long, String)].collect().sortBy(c => (c._1, c._2))
    assert(chunks.map(c => (c._1, c._2, c._3)).toSeq ==
      Seq((1L, 0L, 4L), (1L, 1L, 4L), (1L, 2L, 2L), (2L, 0L, 1L)),
      chunks.mkString(","))
    assert(chunks(2)._4 == "w8 w9")
    // reassembling the chunks recovers the document exactly
    assert(chunks.filter(_._1 == 1L).map(_._4).mkString(" ") ==
      Seq.tabulate(10)(i => s"w$i").mkString(" "))
  }

  test("two-level sequence packing equals the single-window prefix sum") {
    val docs = (0L until 300L).map(i => (i, Seq.fill(1 + (i % 7).toInt)("t").mkString(" ")))
      .toDF("doc_id", "text")
    val packed = Training.packSequences(docs, "doc_id", "text",
        capacity = 16, bucketSize = 8)
      .select($"doc_id", $"n_tokens", $"seq_id", $"seq_offset")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    // reference: direct running sum over doc_id order
    var cum = 0L
    packed.foreach { case (id, n, seqId, off) =>
      assert(n == 1 + id % 7, s"doc $id token count")
      assert(seqId == cum / 16, s"doc $id: seq_id $seqId, expected ${cum / 16}")
      assert(off == cum % 16, s"doc $id: offset $off, expected ${cum % 16}")
      cum += n
    }
    // packing is dense: consecutive docs land in the same or next sequences
    assert(packed.last._3 == (packed.map(_._2).sum - packed.last._2) / 16)
  }

  test("bloom decontamination equals exact decontamination row-for-row") {
    val shared = Seq.tabulate(9)(i => s"leak$i").mkString(" ")
    val corpus = Seq(
      (1L, shared + " trailing words here"),          // contains bench 8-gram
      (2L, Seq.tabulate(20)(i => s"clean$i").mkString(" ")),
      (3L, "too short"),
    ).toDF("doc_id", "text")
    val bench = Seq((100L, shared + " benchy tail")).toDF("doc_id", "text")
    val a = Training.decontaminate(corpus, bench, "doc_id", "text", n = 8)
      .orderBy($"doc_id").collect().toSeq
    val b = Training.decontaminateBloom(corpus, bench, "doc_id", "text",
        n = 8, expectedItems = 1024)
      .orderBy($"doc_id").collect().toSeq
    assert(a == b, s"bloom path diverged:\n$a\n$b")
    val flags = b.map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(flags(1L) && !flags(2L))
  }

  test("soft dedup weights: 1/|cluster| for members, 1 for singletons, mass = n_groups + n_singletons") {
    import spark.implicits._
    // groups frame contract: (doc_id, group_id) for docs IN clusters only
    val docs = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    val groups = Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L))
      .toDF("doc_id", "group_id")
    val out = Dedup.softDedupWeights(docs, groups)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(out.map(r => (r._1, r._2)).toSeq ==
      Seq((1L, 3L), (2L, 3L), (3L, 3L), (4L, 1L), (5L, 2L), (6L, 2L)))
    assert(out.filter(_._2 == 3L).forall(_._3 == 1.0 / 3))
    assert(out.filter(_._2 == 1L).forall(_._3 == 1.0))
    // one document's worth of gradient mass per cluster (+ singletons)
    assert(math.abs(out.map(_._3).sum - 3.0) < 1e-12)
  }

  test("bigramPairs equals the transform+element_at formulation") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(split(trim($"text"), "\\s+").as("__toks"))
      .filter(size($"__toks") >= 2)
    val toks = col("__toks")
    val oldPairs = transform(sequence(lit(0), size(toks) - 2),
      i => struct(element_at(toks, i + 1).as("w1"),
        element_at(toks, i + 2).as("w2")))
    val a = docs.select(explode(oldPairs).as("p"))
      .groupBy($"p.w1", $"p.w2").agg(count(lit(1)).as("n"))
    val b = docs.select(explode(TextAnalysis.bigramPairs(toks)).as("p"))
      .groupBy($"p.w1", $"p.w2").agg(count(lit(1)).as("n"))
    val diff = a.unionAll(b).groupBy("w1", "w2", "n")
      .agg(count(lit(1)).as("k")).filter($"k" =!= 2).count()
    assert(diff == 0, s"bigram formulations diverged on $diff keys")
  }

  test("weighted pagerank: uniform weights reproduce the unweighted ranks") {
    import spark.implicits._
    // star + chain with a cycle so ranks differentiate
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (4L, 1L))
      .toDF("src", "dst")
    val plain = Graph.pagerank(e, "src", "dst", iters = 3, damping = 0.85)
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    val unif = Graph.pagerankWeighted(e.withColumn("w", lit(1L)),
        "src", "dst", "w", iters = 3, damping = 0.85)
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    assert(plain == unif, s"uniform-weight ranks diverged: $plain vs $unif")
    // up-weighting one fan-out edge shifts rank toward its target and
    // away from the sibling (pure fan-out, so no feedback path muddies
    // the direction)
    val fan = Seq((1L, 2L), (1L, 3L), (4L, 1L)).toDF("src", "dst")
    val fu = Graph.pagerankWeighted(fan.withColumn("w", lit(1L)),
        "src", "dst", "w", iters = 3, damping = 0.85)
      .as[(Long, Double)].collect().toMap
    val fw = Graph.pagerankWeighted(
        fan.withColumn("w", when($"src" === 1L && $"dst" === 2L, 10L).otherwise(1L)),
        "src", "dst", "w", iters = 3, damping = 0.85)
      .as[(Long, Double)].collect().toMap
    assert(fw(2L) > fu(2L) && fw(3L) < fu(3L),
      s"weight should pull rank toward node 2: $fu vs $fw")
  }

  test("HITS: zero-score nodes appear in the output with auth/hub 0") {
    import spark.implicits._
    // 1→2, 1→3: node 1 is a pure hub (no in-edges → auth 0),
    // 2 and 3 are pure authorities (no out-edges → hub 0)
    val e = Seq((1L, 2L), (1L, 3L)).toDF("src", "dst")
    val out = Graph.hits(e, "src", "dst", iters = 3)
      .as[(Long, Double, Double)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L), s"nodes: ${out.toSeq}")
    assert(out(0)._2 == 0.0 && out(0)._3 == 1.0, s"hub node: ${out(0)}")
    assert(out(1)._2 == 1.0 && out(1)._3 == 0.0, s"auth node: ${out(1)}")
    assert(out(2)._2 == 1.0 && out(2)._3 == 0.0, s"auth node: ${out(2)}")
  }

  test("bloom decon: exact verify is load-bearing under a saturated bloom") {
    // At fpp=0.01 over tiny fixtures false positives may simply never
    // occur, so the equality test alone can't show the verify join does
    // anything. Force them: expectedItems=1 + fpp=0.5 builds a few-bit
    // filter that the bench inserts saturate — essentially every corpus
    // key passes the prefilter — and the output must STILL be
    // row-identical to the exact path.
    val shared = Seq.tabulate(9)(i => s"leak$i").mkString(" ")
    val corpus = Seq(
      (1L, shared + " trailing words here"),
      (2L, Seq.tabulate(40)(i => s"clean$i").mkString(" ")),
    ).toDF("doc_id", "text")
    // ~200 bench 8-grams × ~44 hash probes over the 64-bit minimum
    // BitArray ⇒ every bit set ⇒ every corpus key passes the prefilter
    val bench = Seq(
      (100L, shared + " " + Seq.tabulate(200)(i => s"benchfill$i").mkString(" ")))
      .toDF("doc_id", "text")
    val exact = Training.decontaminate(corpus, bench, "doc_id", "text", n = 8)
      .orderBy($"doc_id").collect().toSeq
    val bloomed = Training.decontaminateBloom(corpus, bench, "doc_id", "text",
        n = 8, expectedItems = 1L, fpp = 0.5)
      .orderBy($"doc_id").collect().toSeq
    assert(exact == bloomed, s"saturated bloom diverged:\n$exact\n$bloomed")
    // prove FPs actually crossed the prefilter: rebuild the identical
    // deterministic filter (same keys, same builder — murmur3 with a
    // fixed seed, order-insensitive bitwise merge) and count corpus keys
    // it passes that the bench set does NOT contain. Nonzero ⇒ the exact
    // semi join is what keeps doc 2 clean, not bloom luck.
    def keyLong(c: org.apache.spark.sql.Column) =
      conv(substring(c, 1, 15), 16, 10).cast("long")
    val benchKeys = Training.ngramKeys(bench, "doc_id", "text", 8)
      .select($"__k").distinct()
    val bloom = benchKeys.select(keyLong($"__k").as("__kl"))
      .stat.bloomFilter("__kl", 1L, 0.5)
    val fp = Training.ngramKeys(corpus, "doc_id", "text", 8)
      .filter(BloomJoin.mightContain(keyLong($"__k"), bloom))
      .join(benchKeys, Seq("__k"), "left_anti")
      .count()
    assert(fp > 0, "saturated bloom produced no false positives — test is vacuous")
  }

  test("leak-free split: dup-group members share the representative's split") {
    val docs = (0L until 400L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // planted groups spanning many ids: {0,101,202,303}, {7,250}
    val groups = Seq((0L, 0L), (101L, 0L), (202L, 0L), (303L, 0L),
      (7L, 7L), (250L, 7L)).toDF("doc_id", "group_id")
    val splits = Seq("train" -> 0.6, "val" -> 0.2, "test" -> 0.2)
    val out = Sampling.leakFreeSplit(docs, "doc_id", splits, groups)
      .select($"doc_id", $"split", $"reassigned")
      .as[(Long, String, Boolean)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    // every group member carries the minimum member's split
    assert(Seq(101L, 202L, 303L).forall(i => out(i)._1 == out(0L)._1))
    assert(out(250L)._1 == out(7L)._1)
    // representatives are never marked reassigned
    assert(!out(0L)._2 && !out(7L)._2)
    // singletons keep the plain splitAssign draw bit-for-bit
    val plain = Sampling.splitAssign(docs, "doc_id", splits)
      .select($"doc_id", $"split").as[(Long, String)].collect().toMap
    val grouped = Set(0L, 101L, 202L, 303L, 7L, 250L)
    assert(out.filterNot(kv => grouped(kv._1))
      .forall { case (id, (s, r)) => s == plain(id) && !r })
    // a member is flagged reassigned iff its own draw disagreed
    assert(out.filter(kv => grouped(kv._1)).forall { case (id, (s, r)) =>
      r == (plain(id) != s) })
  }

  test("curriculum stages: per-group quartile boundaries, monotone in score") {
    // group A scores 1..8 (quartiles 2.75/4.5/6.25); group B all-equal
    val rows = (1 to 8).map(i => ("A", i.toLong, i.toLong * 10)) ++
      (1 to 4).map(i => ("B", 100L + i, 7L))
    val df = rows.toDF("g", "id", "s")
    val out = Sampling.curriculumStages(df, "g", "s")
      .select($"id", $"stage").as[(Long, Long)].collect().toMap
    // A: 10,20 -> stage1 | 30,40 -> 2 | 50,60 -> 3 | 70,80 -> 4
    assert((1 to 8).map(i => out(i.toLong)) ==
      Seq(1L, 1L, 2L, 2L, 3L, 3L, 4L, 4L), out.toSeq.sorted)
    // B: every score equals every quartile -> all stage 1 (no > holds)
    assert((101L to 104L).forall(out(_) == 1L))
  }

  test("mixture plan: integer targets, epochs, and final partial pass") {
    val docs = Seq.tabulate(30)(i =>
      (i.toLong, if (i < 10) "big" else "small",
        Seq.fill(if (i < 10) 50 else 5)("t").mkString(" ")))
      .toDF("doc_id", "lang", "text")
    // big: 500 tokens, small: 100 tokens; weights 1:3 over budget 400
    val out = Sampling.mixturePlan(docs, "lang", "text",
        Seq("big" -> 1, "small" -> 3), budgetTokens = 400L)
      .select($"lang", $"n_docs", $"n_tokens", $"target_tokens",
        $"n_epochs", $"last_epoch_ppm")
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // big: target 400*1/4=100 of 500 → 1 epoch at 200000 ppm
    assert(out("big") == (("big", 10L, 500L, 100L, 1L, 200000L)), out("big"))
    // small: target 300 of 100 → 3 epochs, final pass full (1e6 ppm)
    assert(out("small") == (("small", 20L, 100L, 300L, 3L, 1000000L)),
      out("small"))
  }

  test("shelf packing: same-length shelves, capacity respected, dense seq ids") {
    val docs = (0L until 240L)
      .map(i => (i, Seq.fill(1 + (i % 9).toInt)("t").mkString(" ")))
      .toDF("doc_id", "text") // lengths 1..9, 26-27 docs each
    val out = Training.packShelves(docs, "doc_id", "text",
        capacity = 16, bucketSize = 8L)
      .select($"doc_id", $"n_tokens", $"seq_id", $"seq_offset")
      .as[(Long, Long, Long, Long)].collect()
    assert(out.length == 240)
    val bySeq = out.groupBy(_._3)
    bySeq.foreach { case (seq, ds) =>
      // one length class per sequence; offsets are 0, L, 2L, …; total fits
      assert(ds.map(_._2).distinct.length == 1, s"seq $seq mixes lengths")
      val l = ds.head._2
      assert(ds.map(_._4).sorted.toSeq == ds.indices.map(_ * l),
        s"seq $seq offsets not contiguous shelves")
      assert(ds.length * l <= 16, s"seq $seq overflows capacity")
      // full utilization except the last shelf of a class
      assert(ds.length <= (16 / l).max(1))
    }
    // dense ids 0..nSeqs-1
    assert(bySeq.keySet == (0L until bySeq.size).toSet, "seq ids not dense")
    // docs longer than capacity get a dedicated sequence at offset 0
    val big = Seq((1L, Seq.fill(40)("w").mkString(" ")),
      (2L, Seq.fill(40)("w").mkString(" "))).toDF("doc_id", "text")
    val bigOut = Training.packShelves(big, "doc_id", "text", capacity = 16)
      .select($"seq_id", $"seq_offset").as[(Long, Long)].collect().toSeq
    assert(bigOut.sorted == Seq((0L, 0L), (1L, 0L)), s"got $bigOut")
    // deterministic re-run
    val again = Training.packShelves(docs, "doc_id", "text",
        capacity = 16, bucketSize = 8L)
      .select($"doc_id", $"seq_id", $"seq_offset")
      .as[(Long, Long, Long)].collect().toSet
    assert(again == out.map(t => (t._1, t._3, t._4)).toSet)
  }

  test("sequence build: concatenating sequences in order reproduces the corpus") {
    val docs = (0L until 50L)
      .map(i => (i, Seq.tabulate(1 + (i % 5).toInt)(j => s"w${i}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    val built = Training.buildSequences(docs, "doc_id", "text",
        capacity = 16, bucketSize = 8)
      .orderBy($"seq_id").select($"seq_text").as[String].collect()
    val direct = docs.orderBy($"doc_id").select($"text").as[String].collect()
    assert(built.mkString(" ") == direct.mkString(" "),
      "sequence concatenation lost or reordered documents")
  }

  test("epoch shuffle is a deterministic bijection; two-level rank equals global rank") {
    val docs = (0L until 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pos = Training.epochShuffle(docs, "doc_id", seed = 7L)
      .select($"doc_id", $"shuffle_pos").as[(Long, Long)].collect()
    // bijection onto 0..n-1
    assert(pos.map(_._2).sorted.toSeq == (0L until 200L))
    // equals the single-window global rank over the same key
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(md5(concat(lit("7"), lit(":"), $"doc_id".cast("string"))), $"doc_id")
    val expect = docs.select($"doc_id", (row_number().over(w) - 1).cast("long").as("p"))
      .as[(Long, Long)].collect().toMap
    pos.foreach { case (id, p) => assert(p == expect(id), s"doc $id: $p vs ${expect(id)}") }
    // rerun identical; different seed permutes differently
    val again = Training.epochShuffle(docs, "doc_id", seed = 7L)
      .select($"doc_id", $"shuffle_pos").as[(Long, Long)].collect().toMap
    assert(pos.toMap == again)
    val other = Training.epochShuffle(docs, "doc_id", seed = 8L)
      .select($"doc_id", $"shuffle_pos").as[(Long, Long)].collect().toMap
    assert(pos.toMap != other)
  }

  test("prepareCorpus composes dedup, quality filter, scrub, and packing") {
    val good = Seq.tabulate(30)(i => s"word$i").mkString(" ")
    val docs = Seq(
      (1L, good + " mail me at a.b@x.io please"),
      (2L, good + " mail me at a.b@x.io please"), // exact dup of 1 → dropped
      (3L, "spam " * 40 + "one"),                 // top-token frac ≈ 1 → dropped
      (4L, "too short"),                          // < 5 tokens → dropped
      (5L, Seq.tabulate(40)(i => s"tok$i").mkString(" ")),
    ).toDF("doc_id", "text")
    val out = Pipelines.prepareCorpus(docs, capacity = 16)
      .select($"doc_id", $"text", $"n_tokens", $"seq_id", $"seq_offset")
      .as[(Long, String, Long, Long, Long)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(1L, 5L), out.map(_._1).mkString(","))
    // PII scrubbed, token count reflects the scrubbed text
    assert(out(0)._2.contains("<EMAIL>") && !out(0)._2.contains("a.b@x.io"))
    assert(out(0)._3 == out(0)._2.split("\\s+").length)
    // packing is the running count over the surviving corpus in id order
    assert(out(0)._4 == 0L && out(0)._5 == 0L)
    assert(out(1)._4 == out(0)._3 / 16 && out(1)._5 == out(0)._3 % 16)
  }

  test("prepareCorpus with a bench set drops the leaked doc, keeps the rest") {
    val good = Seq.tabulate(30)(i => s"word$i").mkString(" ")
    val leakedTail = Seq.tabulate(8)(i => s"bench$i").mkString(" ")
    val docs = Seq(
      (1L, good),
      (2L, Seq.tabulate(40)(i => s"tok$i").mkString(" ") + " " + leakedTail)
    ).toDF("doc_id", "text")
    val bench = Seq((100L, leakedTail + " " + Seq.tabulate(12)(i => s"extra$i").mkString(" ")))
      .toDF("doc_id", "text")
    val kept = Pipelines.prepareCorpus(docs, capacity = 16, bench = Some(bench))
      .select($"doc_id").as[Long].collect().toSeq.sorted
    assert(kept == Seq(1L), kept.mkString(","))
    // without the bench set, both survive
    val all = Pipelines.prepareCorpus(docs, capacity = 16)
      .select($"doc_id").as[Long].collect().toSeq.sorted
    assert(all == Seq(1L, 2L), all.mkString(","))
  }

  test("prepareCorpus url stage: canonical-URL dup collapses to the smallest id") {
    val good = Seq.tabulate(30)(i => s"word$i").mkString(" ")
    val other = Seq.tabulate(40)(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, good, "https://example.com/a?q=1&utm_source=x"),
      (2L, other, "HTTPS://WWW.Example.com:443/a/?q=1"),   // same canonical as 1
      (3L, Seq.tabulate(40)(i => s"distinct$i").mkString(" "),
        "https://example.com/b")
    ).toDF("doc_id", "text", "url")
    val kept = Pipelines.prepareCorpus(docs, capacity = 16,
      urlCol = Some("url")).select($"doc_id").as[Long].collect().toSeq.sorted
    // doc 2 lost the URL dedup (bigger id); 1 and 3 survive the rest
    assert(kept == Seq(1L, 3L), kept.mkString(","))
    val noUrl = Pipelines.prepareCorpus(docs.drop("url"), capacity = 16)
      .select($"doc_id").as[Long].collect().toSeq.sorted
    assert(noUrl == Seq(1L, 2L, 3L), noUrl.mkString(","))
  }

  test("maxsim: late interaction ranks the split-match doc over the pooled look-alike") {
    // query tokens hit DIFFERENT tokens of doc 1 (each matched exactly),
    // while doc 2's tokens are both middling matches of both query
    // tokens — mean-pooling can't tell them apart nearly as sharply.
    val toks = Seq(
      // query doc 0: two orthogonal unit tokens
      (0L, 0L, Seq(1.0, 0.0)), (0L, 1L, Seq(0.0, 1.0)),
      // doc 1: exact copies of the two query tokens → maxsim = 2
      (1L, 0L, Seq(2.0, 0.0)), (1L, 1L, Seq(0.0, 0.5)),
      // doc 2: both tokens at 45° → maxsim = 2·cos45 ≈ 1.4142
      (2L, 0L, Seq(1.0, 1.0)), (2L, 1L, Seq(1.0, 1.0)),
      // doc 3: matches only one query token → maxsim ≈ 1 + 0
      (3L, 0L, Seq(1.0, 0.0)), (3L, 1L, Seq(1.0, 0.0))
    ).toDF("did", "dpos", "dvec")
      .select($"did", $"dpos", $"dvec".cast("array<double>").as("dvec"))
    val q = toks.filter($"did" === 0L)
      .select($"did".as("qid"), $"dpos".as("qpos"), $"dvec".as("qvec"))
    val out = Similarity.maxSimTopK(toks, q, k = 3)
      .select($"doc_id", $"rank", $"score").as[(Long, Int, Double)]
      .collect().sortBy(_._2)
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L), out.mkString(","))
    assert(out(0)._3 == 2.0)
    assert(math.abs(out(1)._3 - math.sqrt(2.0)) < 1e-6)
    assert(math.abs(out(2)._3 - 1.0) < 1e-6)
  }

  test("level shift: planted step flagged at the boundary, stable plateaus are not") {
    import java.sql.Timestamp
    // hourly counts: 12 buckets at 2 events, then 12 at 9 events
    val rows = (0 until 24).flatMap { h =>
      val n = if (h < 12) 2 else 9
      (0 until n).map(i => ("s", new Timestamp(h * 3600000L + i * 1000L)))
    }
    val out = TimeSeries.levelShift(rows.toDF("event_type", "ts"),
        "event_type", "ts", 3600L, w = 3, threshold = 3.0)
      .select($"bucket", $"shift", $"is_shift")
      .as[(Long, Double, Boolean)].collect().sortBy(_._1)
    // full windows exist for buckets 3..21; the step is at bucket 12
    assert(out.head._1 == 3L && out.last._1 == 21L)
    val flagged = out.filter(_._3).map(_._1).toSeq
    // shift = post-mean − pre-mean crosses 3.0 only when the w-window
    // straddles the boundary: buckets 10..14 see mixes; exactly at 12
    // the shift is the full 7.0
    assert(flagged.contains(12L), out.mkString(","))
    assert(out.find(_._1 == 12L).get._2 == 7.0)
    assert(!out.take(3).exists(_._3) && !out.takeRight(3).exists(_._3))
  }

  test("incremental dedup: new docs dedupe against corpus and earlier new docs only") {
    val a = "the quick brown fox jumps over the lazy dog again and again " * 5
    val b = "completely different content about spark shuffles and joins " * 5
    val c = "a third unrelated corpus of words concerning window functions " * 5
    val corpus = Seq((10L, a), (11L, b)).toDF("doc_id", "text")
    val newDocs = Seq(
      (20L, a),                             // dup of corpus doc 10
      (21L, c),                             // unique vs corpus, first of its kind
      (22L, c),                             // dup of EARLIER new doc 21
      (23L, "tiny"),                        // < 3 tokens: can never pair
    ).toDF("doc_id", "text")
    val out = Dedup.dedupIncrement(corpus, newDocs, "doc_id", "text",
        threshold = 0.5)
      .select($"doc_id", $"is_duplicate", $"dup_of")
      .as[(Long, Boolean, Option[Long])].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(20L, 21L, 22L, 23L), out.mkString(","))
    assert(out(0) == ((20L, true, Some(10L))), out(0).toString)
    assert(out(1) == ((21L, false, None)), out(1).toString)
    assert(out(2) == ((22L, true, Some(21L))), out(2).toString)
    assert(out(3) == ((23L, false, None)), out(3).toString)
    // corpus docs never appear in the output
    assert(!out.map(_._1).contains(10L))
  }

  test("decontamination flags a planted leak and spares disjoint docs") {
    val benchText = Seq.tabulate(20)(i => s"bench$i").mkString(" ")
    val cleanText = Seq.tabulate(20)(i => s"clean$i").mkString(" ")
    // leaked doc shares an 8-token window with the benchmark
    val leakedText = Seq.tabulate(8)(i => s"bench$i").mkString(" ") + " " + cleanText
    val bench = Seq((100L, benchText)).toDF("doc_id", "text")
    val corpus = Seq((1L, leakedText), (2L, cleanText)).toDF("doc_id", "text")
    val out = Training.decontaminate(corpus, bench, "doc_id", "text", n = 8)
      .select($"doc_id", $"n_hits", $"contaminated")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(out(0) == ((1L, 1L, true)), out(0).toString)
    assert(out(1) == ((2L, 0L, false)), out(1).toString)
  }

  test("embedding decontamination flags a planted clone and spares orthogonal vectors") {
    val bench = Seq((100L, Array(1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Array(2.0f, 0.0f, 0.0f)),   // same direction as the bench vector
      (2L, Array(0.0f, 3.0f, 0.0f)),   // orthogonal — must NOT be flagged
      (3L, Array(1.0f, 1.0f, 0.0f))    // cos = 1/√2 ≈ 0.707
    ).toDF("vec_id", "embedding")
    val out = Training.deconEmbed(corpus, bench, "vec_id", "embedding", tau = 0.5)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(1L, 3L), out.mkString(","))
    assert(out(0)._3 == 1.0 && out(0)._2 == 1L, out(0).toString)
    assert(math.abs(out(1)._3 - 0.707107) < 1e-6, out(1).toString)
  }

  test("plan: embedding decontamination broadcasts the bench side") {
    val bench = Seq((100L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val corpus = Seq((1L, Array(1.0f, 1.0f))).toDF("vec_id", "embedding")
    val plan = Training.deconEmbed(corpus, bench, "vec_id", "embedding", tau = 0.5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("DSIR weights rank on-target documents above off-target, stable under rerun") {
    // Target vocabulary is disjoint from the noise vocabulary, so a doc
    // written in target words must out-score one written in noise words.
    val tgtText = Seq.tabulate(30)(i => s"tgt${i % 10}").mkString(" ")
    val noiseText = Seq.tabulate(30)(i => s"noise${i % 10}").mkString(" ")
    val corpus = Seq(
      (1L, tgtText), (2L, noiseText), (3L, tgtText + " " + noiseText),
      (4L, "one"), // single token: no bigram, must be absent
      (5L, tgtText), (6L, noiseText)
    ).toDF("doc_id", "text")
    val target = Seq((100L, tgtText)).toDF("doc_id", "text")
    val out = Training.dsirWeights(corpus, target, nBuckets = 32)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    val byId = out.map(t => t._1 -> t._3).toMap
    assert(!byId.contains(4L), "no-bigram doc must be absent")
    assert(byId(1L) > byId(3L) && byId(3L) > byId(2L),
      s"expected tgt > mixed > noise: $byId")
    assert(byId(1L) > 0 && byId(2L) < 0, s"sign check: $byId")
    // partitioning independence
    val re = Training.dsirWeights(corpus.repartition(7), target, nBuckets = 32)
      .as[(Long, Long, Double)].collect().toSet
    assert(re == out.toSet, "weights changed under repartition")
  }

  test("int8 quantization rounds half away from zero and preserves ranking") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    // scale = 127/127 = 1 → q_i = round(v_i): ±2.5 must go to ±3 (away
    // from zero; Math.round would give -2.5 → -2)
    val q = graft.functions.QuantizeInt8.compute(
      new GenericArrayData(Array(127.0, 2.5, -2.5, 0.4, -0.4)))
    assert(q.toSeq == Seq(127.0, 3.0, -3.0, 0.0, -0.0), q.mkString(","))
    // zero vector → zeros, not NaN
    assert(graft.functions.QuantizeInt8.compute(
      new GenericArrayData(Array(0.0, 0.0))).toSeq == Seq(0.0, 0.0))
    // an exact copy still ranks first under quantized cosine
    val vecs = Seq(
      (0L, Array(0.5f, 0.1f, 0.0f, 0.0f)),
      (1L, Array(0.5f, 0.1f, 0.0f, 0.0f)),   // exact copy of 0
      (2L, Array(0.4f, 0.2f, 0.1f, 0.0f)),   // close
      (3L, Array(0.0f, 0.0f, 0.9f, 0.1f)),   // far
    ).toDF("vec_id", "embedding")
    val top = Similarity.quantizedTopK(vecs, vecs.filter($"vec_id" === 0), k = 3)
      .orderBy("rank").select("neighbor_id").as[Long].collect()
    assert(top.toSeq == Seq(1L, 2L, 3L), top.mkString(","))
  }

  test("levenshtein pairs find a small edit inside a block and respect the cap") {
    val base = Seq.tabulate(40)(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, base, "en"),
      (2L, base.replace("tok7", "tok9"), "en"),  // 1 substituted char
      (3L, Seq.tabulate(40)(i => s"zzz$i").mkString(" "), "en"), // far
      (4L, base, "es"),                          // other block: never compared
    ).toDF("doc_id", "text", "lang")
    val pairs = Dedup.levenshteinPairs(docs, "doc_id", "text", col("lang"),
        maxDistance = 5)
      .select($"left_id", $"right_id", $"lev").as[(Long, Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L, 1L)), pairs.toString)
  }

  test("range join: boundary-inclusive, once per pair, no nested loop") {
    val pts = Seq((1L, 0L), (2L, 10L), (3L, 16L), (4L, 47L), (5L, 100L))
      .toDF("pid", "p")
    // interval B spans buckets 0..2 at width 16 — a multi-bucket expansion
    // must still emit each contained point exactly ONCE
    val iv = Seq(("A", 0L, 10L), ("B", 5L, 47L), ("C", 90L, 95L))
      .toDF("iid", "lo", "hi")
    val got = RangeJoin.pointInInterval(pts, iv, "p", "lo", "hi", bucketWidth = 16L)
      .select($"pid", $"iid").as[(Long, String)].collect()
    assert(got.length == got.toSet.size, s"duplicate pairs: ${got.toList}")
    assert(got.toSet == Set((1L, "A"), (2L, "A"), (2L, "B"), (3L, "B"), (4L, "B")),
      got.toList.toString) // both ends inclusive: p=0=lo(A), p=47=hi(B); 100 ∉ C

    // equivalence with the naive theta-join on random data, several widths
    val rnd = new scala.util.Random(7)
    val rp = Seq.tabulate(300)(i => (i.toLong, rnd.nextInt(1000).toLong)).toDF("pid", "p")
    val lo = Seq.tabulate(80)(i => (i.toLong, rnd.nextInt(1000).toLong, rnd.nextInt(60).toLong))
    val ri = lo.map { case (id, l, len) => (id, l, l + len) }.toDF("iid", "lo", "hi")
    val naive = rp.join(ri, $"p" >= $"lo" && $"p" <= $"hi")
      .select($"pid", $"iid").as[(Long, Long)].collect().toSet
    for (w <- Seq(1L, 7L, 64L, 5000L)) {
      val fast = RangeJoin.pointInInterval(rp, ri, "p", "lo", "hi", w)
        .select($"pid", $"iid").as[(Long, Long)].collect()
      assert(fast.length == naive.size && fast.toSet == naive, s"width $w diverged")
    }

    // scale shape: equi-join on the bucket, never a nested loop
    val plan = RangeJoin.pointInInterval(rp, ri, "p", "lo", "hi", 64L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
      s"range join planned as all-pairs:\n$plan")
  }

  test("line dedup drops cross-doc boilerplate, keeps within-doc repeats") {
    val docs = Seq(
      (1L, "COOKIE BANNER\nreal content one\nreal content one\nFOOTER"),
      (2L, "COOKIE BANNER\nreal content two\nFOOTER"),
      (3L, "COOKIE BANNER\nFOOTER"), // all boilerplate -> empty
      (4L, "unique page entirely"),
    ).toDF("doc_id", "text")
    val got = Dedup.dedupLines(docs, "doc_id", "text")
      .select($"doc_id", $"text_clean", $"n_lines", $"n_dropped")
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    // within-doc repeat survives twice, in original order
    assert(got(1L) == ((1L, "real content one\nreal content one", 4L, 2L)), got(1L).toString)
    assert(got(2L) == ((2L, "real content two", 3L, 2L)), got(2L).toString)
    assert(got(3L) == ((3L, "", 2L, 2L)), got(3L).toString)
    assert(got(4L) == ((4L, "unique page entirely", 1L, 0L)), got(4L).toString)
  }

  test("mixture sample: binding domain kept whole, others downsampled, stable") {
    val rows = Seq.tabulate(100)(i => (i.toLong, "a")) ++
      Seq.tabulate(50)(i => (1000L + i, "b")) ++
      Seq.tabulate(30)(i => (2000L + i, "c")) // unweighted -> dropped
    val df = rows.toDF("id", "dom")
    val got = Sampling.mixtureSample(df, "id", "dom",
      Map("a" -> 0.5, "b" -> 0.5))
      .select($"id", $"dom").as[(Long, String)].collect()
    val byDom = got.groupBy(_._2).view.mapValues(_.length).toMap
    // r = min(100/0.5, 50/0.5) = 100: b is binding -> keep fraction exactly 1
    assert(byDom.getOrElse("b", 0) == 50, byDom.toString)
    // a targets 50 of 100; the md5 draw realizes it approximately
    assert(byDom("a") > 25 && byDom("a") < 75, byDom.toString)
    assert(!byDom.contains("c"), byDom.toString)
    // partitioning-independent: same kept set under a different layout
    val again = Sampling.mixtureSample(df.repartition(13, $"dom"), "id", "dom",
      Map("a" -> 0.5, "b" -> 0.5)).select($"id").as[Long].collect()
    assert(again.toSet == got.map(_._1).toSet)
  }

  test("keep-best: longest group member survives, tie prefers smaller id, singletons pass") {
    val docs = Seq(
      (1L, 10L), (2L, 30L), (3L, 30L), // group 1: 3 wins on len, tie → 2
      (7L, 5L)) // singleton
      .toDF("doc_id", "n_chars")
    val groups = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("doc_id", "group_id")
    val got = Dedup.keepBest(docs, groups)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((2L, 1L, 3L, 30L), (7L, 7L, 1L, 5L)), got.mkString)
  }

  test("repeated spans: cross-doc window found with counts, single-doc repeat excluded") {
    val docs = Seq(
      (1L, "alpha beta gamma delta tail1"),   // shares "alpha beta gamma" with 2
      (2L, "alpha beta gamma other words"),
      (3L, "solo solo solo solo solo"),        // repeats only within itself
      (4L, "xy")                               // under n tokens: no windows
    ).toDF("doc_id", "text")
    val got = Dedup.repeatedSpans(docs, "doc_id", "text", n = 3, minDocs = 2)
      .as[(String, Long, Long)].collect().toSeq.sorted
    assert(got == Seq(("alpha beta gamma", 2L, 2L)), got.mkString)
    // single-doc repeats count when minDocs = 1
    val all = Dedup.repeatedSpans(docs, "doc_id", "text", n = 3, minDocs = 1)
      .as[(String, Long, Long)].collect()
      .map { case (s, o, d) => s -> ((o, d)) }.toMap
    assert(all("solo solo solo") == (3L, 1L), all.toString)
  }

  test("span dup ratio: copied doc scores 1.0, unique doc 0.0, short doc excluded") {
    val docs = Seq(
      (1L, "one two three four five"),  // exact copy of 2 → every window dup
      (2L, "one two three four five"),
      (3L, "fully unique words here now"),
      (4L, "ab")                        // < n tokens
    ).toDF("doc_id", "text")
    val got = Dedup.spanDupRatio(docs, "doc_id", "text", n = 3, minDocs = 2)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L), got.mkString)
    assert(got(0) == ((1L, 3L, 3L, 1.0)), got(0).toString)
    assert(got(2) == ((3L, 3L, 0L, 0.0)), got(2).toString)
  }

  test("span scrub: overlapping repeated windows merge, unique and short docs untouched") {
    val docs = Seq(
      (1L, "a b c d e f"),  // shares windows "a b c","b c d" with doc 2
      (2L, "a b c d x y"),
      (3L, "p q r s"),      // unique: untouched
      (4L, "zz")            // under n tokens: passes through whole
    ).toDF("doc_id", "text")
    val got = Dedup.scrubSpans(docs, "doc_id", "text", n = 3, minDocs = 2)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    // positions 0..3 covered by the two overlapping windows — removed ONCE
    assert(got(0) == ((1L, "e f", 6L, 4L)), got(0).toString)
    assert(got(1) == ((2L, "x y", 6L, 4L)), got(1).toString)
    assert(got(2) == ((3L, "p q r s", 4L, 0L)), got(2).toString)
    assert(got(3) == ((4L, "zz", 1L, 0L)), got(3).toString)
  }

  test("hashed linear score: deterministic, bounded, keep consistent with threshold") {
    val docs = Seq((1L, "the quick brown fox"), (2L, "the quick brown fox"),
      (3L, "entirely different content words")).toDF("doc_id", "text")
    val got = TextAnalysis.hashedLinearScore(docs)
      .select($"doc_id", $"n_tokens", $"raw_score", $"quality", $"keep")
      .as[(Long, Long, Long, Double, Boolean)].collect().sortBy(_._1)
    // identical text → identical score (pure function of content)
    assert(got(0)._3 == got(1)._3 && got(0)._4 == got(1)._4)
    got.foreach { case (_, n, raw, q, keep) =>
      assert(n == 4 || n == 3)
      assert(math.abs(raw) <= 1001L * n, s"raw $raw out of bound")
      assert(q == raw.toDouble / (1000.0 * n))
      assert(keep == (q > 0.0))
    }
  }

  test("bpe merges: frequency-weighted argmax chain on a hand-computed vocabulary") {
    // vocab: abc×3, abd×2, xy×1 → pairs (a,b):5 (b,c):3 (b,d):2 (x,y):1
    // m1 = "a b"(5); then abc→[ab,c], abd→[ab,d] → m2 = "ab c"(3);
    // then abc is a single symbol → m3 = "ab d"(2)
    val docs = Seq((1L, "abc abd abc"), (2L, "abc abd xy")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeMerges(docs, iterations = 3)
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, "a b", 5L), (2L, "ab c", 3L), (3L, "ab d", 2L)),
      got.mkString)
  }

  test("filter chain: first failing rule wins, reasons fire as planted") {
    val long = "word " * 5000 // 25000 chars
    val docs = Seq(
      (1L, "tiny"),                                     // too_short
      (2L, long),                                       // too_long
      (3L, "1234567890 " * 12),                         // low_alpha
      (4L, "ab " * 40),                                 // word_len (mean 2)
      (5L, ("zebra quantum voyage " * 7)),              // no_stopword
      (6L, "the quick brown fox jumps over lazy dogs " * 3) // pass
    ).toDF("doc_id", "text")
    val got = TextAnalysis.filterChain(docs)
      .select($"doc_id", $"reason", $"keep")
      .as[(Long, String, Boolean)].collect().sortBy(_._1)
    assert(got.map(_._2).toSeq ==
      Seq("too_short", "too_long", "low_alpha", "word_len", "no_stopword", "pass"),
      got.mkString)
    assert(got.map(_._3).toSeq == Seq(false, false, false, false, false, true))
  }

  test("temperature sample: rarest domain kept whole, dominant thinned toward uniform") {
    val rows = Seq.tabulate(400)(i => (i.toLong, "big")) ++
      Seq.tabulate(25)(i => (1000L + i, "small"))
    val df = rows.toDF("id", "dom")
    val got = Sampling.temperatureSample(df, "id", "dom", temperature = 2.0)
      .select($"id", $"dom").as[(Long, String)].collect()
    val byDom = got.groupBy(_._2).view.mapValues(_.length).toMap
    // T=2: w ∝ sqrt(p) → w_big/w_small = 4, so the tempered mix targets
    // big:small = 4:1 instead of the natural 16:1. The rarest domain
    // binds (n/w ∝ sqrt(n)): all 25 of "small" survive, and "big"
    // targets 4×25 = 100 of its 400.
    assert(byDom("small") == 25, byDom.toString)
    assert(byDom("big") > 60 && byDom("big") < 140, byDom.toString)
    // partitioning-independent membership
    val again = Sampling.temperatureSample(df.repartition(13, $"dom"),
      "id", "dom", temperature = 2.0).select($"id").as[Long].collect()
    assert(again.toSet == got.map(_._1).toSet)
    // T=1 is the identity mix: every row survives
    assert(Sampling.temperatureSample(df, "id", "dom", 1.0).count() == 425)
  }

  test("vocab encode: frequency-ranked ids, asc tie-break, OOV as -1") {
    // tf: a=3, b=2, c=1, d=1 -> V=3 keeps a(0), b(1), c(2): tie c/d -> asc
    val docs = Seq((1L, "b a a c"), (2L, "a b d")).toDF("doc_id", "text")
    val got = TextAnalysis.vocabEncode(docs, vocabSize = 3)
      .select($"doc_id", $"ids_csv", $"n_tokens", $"n_oov")
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, "1,0,0,2", 4L, 0L)), got(1L).toString)
    assert(got(2L) == ((2L, "0,1,-1", 3L, 1L)), got(2L).toString)
  }

  test("interval overlap join: inclusive touch, once per pair, naive-equal") {
    val a = Seq((1L, 0L, 10L), (2L, 20L, 40L)).toDF("aid", "alo", "ahi")
    // touching at a point (10 == blo) IS an overlap (inclusive ends);
    // (2, 20-40) × (20, 18-45) spans several shared buckets at w=4
    val b = Seq((10L, 10L, 12L), (20L, 18L, 45L), (30L, 50L, 60L))
      .toDF("bid", "blo", "bhi")
    val got = RangeJoin.intervalOverlap(a, b, "alo", "ahi", "blo", "bhi", 4L)
      .select($"aid", $"bid").as[(Long, Long)].collect()
    assert(got.length == got.toSet.size, s"duplicate pairs: ${got.toList}")
    assert(got.toSet == Set((1L, 10L), (2L, 20L)), got.toList.toString)

    val rnd = new scala.util.Random(11)
    val ra = Seq.tabulate(120) { i =>
      val lo = rnd.nextInt(500).toLong; (i.toLong, lo, lo + rnd.nextInt(40))
    }.toDF("aid", "alo", "ahi")
    val rb = Seq.tabulate(120) { i =>
      val lo = rnd.nextInt(500).toLong; (i.toLong, lo, lo + rnd.nextInt(40))
    }.toDF("bid", "blo", "bhi")
    val naive = ra.join(rb, $"alo" <= $"bhi" && $"blo" <= $"ahi")
      .select($"aid", $"bid").as[(Long, Long)].collect().toSet
    for (w <- Seq(3L, 16L, 1000L)) {
      val fast = RangeJoin.intervalOverlap(ra, rb, "alo", "ahi", "blo", "bhi", w)
        .select($"aid", $"bid").as[(Long, Long)].collect()
      assert(fast.length == naive.size && fast.toSet == naive, s"width $w diverged")
    }
  }

  test("gap fill: LOCF across missing buckets, span-bounded, in-bucket max") {
    val df = Seq(
      ("A", 5000L, 1.0),   // bucket 0
      ("A", 35000L, 4.0),  // bucket 3 ...
      ("A", 36000L, 9.0),  // ... two obs in one bucket -> max = 9.0
      ("B", 1000000L, 7.0) // single-obs key: one row, no grid beyond span
    ).toDF("k", "ms", "v")
      .select($"k", timestamp_millis($"ms").as("ts"), $"v")
    val got = GapFill.fillForward(df, "k", "ts", "v", bucketSeconds = 10L)
      .select($"k", $"bucket", $"value_filled", $"is_gap")
      .as[(String, Long, Double, Boolean)].collect().sortBy(r => (r._1, r._2))
    assert(got.toSeq == Seq(
      ("A", 0L, 1.0, false), ("A", 1L, 1.0, true), ("A", 2L, 1.0, true),
      ("A", 3L, 9.0, false), ("B", 100L, 7.0, false)), got.toSeq.toString)
  }

  test("multimodal decode stub emits one feature row per media object") {
    val media = Multimodal.asMedia(
      Seq((1L, "hello world"), (2L, "spark")).toDF("doc_id", "text"), "doc_id", "text")
    val feats = Multimodal.decodeStub(spark, media).collect()
    assert(feats.length == 2)
    assert(feats.forall(f => f.width >= 16 && f.height >= 16 && f.feature.length == 8))
    // determinism
    val again = Multimodal.decodeStub(spark, media).collect()
    assert(feats.map(_.feature.toSeq).toSet == again.map(_.feature.toSeq).toSet)
  }

  test("real PNG codec: encode → decode recovers every pixel byte-exactly") {
    // Three gradient images incl. a full 0..255 byte sweep (16x16) — the
    // REAL javax.imageio round trip must be lossless and row-major, and
    // must reject a non-image payload loudly rather than fake a row.
    val specs = Seq((1L, 16, 16, 0L), (2L, 13, 9, 155L), (3L, 1, 1, 7L))
      .toDF("media_id", "width", "height", "seed")
    val pngs = Multimodal.encodePngGray(spark, specs).collect()
    assert(pngs.length == 3)
    // PNG magic: every payload is a real PNG stream, not a passthrough
    assert(pngs.forall(p => (p.png(0) & 0xff) == 0x89 &&
      p.png(1) == 'P' && p.png(2) == 'N' && p.png(3) == 'G'))
    val media = Multimodal.encodePngGray(spark, specs).toDF()
      .select($"media_id", $"png".as("media"), lit("image/png").as("mime"),
        octet_length($"png").cast("long").as("n_bytes"))
    val dec = Multimodal.decodePng(spark, media).collect()
      .map(d => d.media_id -> d).toMap
    for ((id, w, h, seed) <- Seq((1L, 16, 16, 0L), (2L, 13, 9, 155L), (3L, 1, 1, 7L))) {
      val d = dec(id)
      assert(d.width == w && d.height == h, s"dims $id: ${d.width}x${d.height}")
      val expect = Array.tabulate(w * h)(i => ((seed + i) % 256).toByte)
      assert(d.pixels.toSeq == expect.toSeq, s"pixels differ for media $id")
    }
    val junk = Seq((9L, "not a png".getBytes("UTF-8")))
      .toDF("media_id", "media")
      .select($"media_id", $"media", lit("text/plain").as("mime"),
        octet_length($"media").cast("long").as("n_bytes"))
    val err = intercept[Exception] {
      Multimodal.decodePng(spark, junk).collect()
    }
    assert(err.getMessage != null)
  }

  test("plan: partition-pruned read touches only the selected directory") {
    val dir = java.nio.file.Files.createTempDirectory("graft-layout").toString
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select($"l_returnflag", $"l_orderkey", $"l_quantity")
    Layout.writePartitioned(li, "l_returnflag", s"$dir/li")
    val pruned = Layout.readPartition(spark, s"$dir/li", "l_returnflag", "R")
    // the real pruning evidence: the physical scan's partition list after
    // PartitionFilters are applied — one directory of the three written
    // (DataFrame.inputFiles would lie here: it lists the pre-pruning index)
    withoutAqe {
      val scans = pruned.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.nonEmpty, "expected a FileSourceScanExec leaf")
      val parts = scans.head.selectedPartitions
      assert(parts.partitionCount == 1 &&
        parts.toPartitionArray.forall(_.urlEncodedPath.contains("l_returnflag=R")),
        s"scan selected ${parts.partitionCount} partitions:\n${pruned.queryExecution.executedPlan}")
    }
    assert(pruned.count() == li.filter($"l_returnflag" === "R").count())
  }

  test("plan: bucketed join runs with zero exchanges and matches plain join") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val dir = java.nio.file.Files.createTempDirectory("graft-layout").toString
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select($"l_orderkey", $"l_quantity")
    val ord = spark.read.parquet(s"$sfDir/orders.parquet")
      .select($"o_orderkey", $"o_orderpriority")
    Layout.saveBucketed(li, "t_li_b", "l_orderkey", 4, s"$dir/li_b")
    Layout.saveBucketed(ord, "t_ord_b", "o_orderkey", 4, s"$dir/ord_b")
    withoutAqe {
      val joined = Layout.bucketedJoin(spark, "t_li_b", "t_ord_b",
        "l_orderkey", "o_orderkey")
      val exchanges = joined.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty,
        s"bucketed join still shuffles:\n${joined.queryExecution.executedPlan}")
      val plain = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      assert(joined.count() == plain.count())
    }
  }

  test("sessionize splits at strict gaps and keeps tied timestamps together") {
    val ev = Seq(
      (1L, 0L, 1.0), (1L, 10L, 2.0),           // session 1
      (1L, 2000L, 3.0), (1L, 2000L, 4.0),      // session 2 (tied ts)
      (1L, 4000L, 5.0),                        // session 3 (gap 2000 > 1800)
      (2L, 1810L, 6.0), (2L, 3610L, 7.0)       // user 2: gap == 1800 NOT > -> one session
    ).toDF("user_id", "sec", "value")
      .withColumn("ts", timestamp_seconds($"sec"))
    val out = Sessionize.sessionize(ev, "user_id", "ts", "value", gapSec = 1800.0)
      .select($"user_id", $"session_id", $"n_events")
      .as[(Long, Long, Long)].collect().sorted
    assert(out.toSeq == Seq((1L, 1L, 2L), (1L, 2L, 2L), (1L, 3L, 1L), (2L, 1L, 2L)),
      out.mkString(","))
  }

  test("patch grid: positions and bytes match the row-major crop") {
    // payload "abcdefgh" as a 4-wide grid: rows "abcd"/"efgh"; 2x2 patches
    // -> (0,0)="ab"+"ef", (0,1)="cd"+"gh"; a 9th byte is cropped away
    val media = Multimodal.asMedia(
      Seq((1L, "abcdefghX")).toDF("doc_id", "text"), "doc_id", "text")
    val got = Multimodal.patchSample(media, width = 4, patch = 2)
      .select($"patch_row", $"patch_col", $"patch_bytes".cast("string"))
      .as[(Long, Long, String)].collect().sorted
    assert(got.toSeq == Seq((0L, 0L, "abef"), (0L, 1L, "cdgh")), got.mkString(","))
    // payloads shorter than one tile emit nothing (no bogus sequence(0,-1))
    val short = Multimodal.asMedia(
      Seq((2L, "abc")).toDF("doc_id", "text"), "doc_id", "text")
    assert(Multimodal.patchSample(short, width = 4, patch = 2).count() == 0)
  }

  test("group sample: k per group, partition-independent, seed-sensitive, nests") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val sizes = docs.groupBy($"lang").count().as[(String, Long)].collect().toMap
    val k40 = Sampling.groupSample(docs, "doc_id", "lang", k = 40, seed = 42L)
    val perGroup = k40.groupBy($"lang").count().as[(String, Long)].collect().toMap
    assert(perGroup == sizes.map { case (g, n) => g -> math.min(40L, n) })
    val again = Sampling.groupSample(docs.repartition(7), "doc_id", "lang", 40, 42L)
      .select("doc_id").as[Long].collect().toSet
    assert(again == k40.select("doc_id").as[Long].collect().toSet,
      "selection must not depend on partitioning")
    val otherSeed = Sampling.groupSample(docs, "doc_id", "lang", 40, 7L)
      .select("doc_id").as[Long].collect().toSet
    assert(otherSeed != again, "different seed should redraw")
    val k10 = Sampling.groupSample(docs, "doc_id", "lang", 10, 42L)
      .select("doc_id").as[Long].collect().toSet
    assert(k10.subsetOf(again), "smaller k must be a prefix of the seed-fixed rank order")
    // row- and rank-identical to the single-task-per-group window
    // formulation the heap shape replaces (and the oracle SQL uses)
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"lang")
      .orderBy(md5(concat_ws("-", lit(42L), $"doc_id".cast("string"))), $"doc_id")
    val windowed = docs.withColumn("draw_rank", row_number().over(w).cast("long"))
      .filter($"draw_rank" <= 40)
      .select($"doc_id", $"draw_rank").as[(Long, Long)].collect().toSet
    val heap = k40.select($"doc_id", $"draw_rank").as[(Long, Long)].collect().toSet
    assert(heap == windowed, "heap selection must equal the window formulation")
    // the corpus side must come back via a broadcast join, not a shuffle
    val plan = k40.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("scd2: intervals chain per key, current row open; histogram edges half-open") {
    val ev = Seq((1L, 10L, 100L, "a"), (1L, 11L, 200L, "b"), (2L, 12L, 50L, "c"))
      .toDF("k", "id", "sec", "attr")
      .withColumn("ts", timestamp_seconds($"sec"))
    val iv = Profile.scd2(ev, "k", Seq("ts", "id"), Seq("attr"))
      .select($"k", $"attr", $"valid_to".isNull.as("open"))
      .as[(Long, String, Boolean)].collect().toSet
    assert(iv == Set((1L, "a", false), (1L, "b", true), (2L, "c", true)))

    val vals = Seq(0.0, 24999.9, 25000.0, 399999.9, 400000.0, -1.0).toDF("x")
    val h = Profile.histogram(vals, "x", 0.0, 400000.0, 16)
      .select($"bucket", $"n_rows").as[(Long, Long)].collect().toMap
    // 400000.0 and -1.0 fall outside [lo, hi); 25000.0 opens bucket 1
    assert(h == Map(0L -> 2L, 1L -> 1L, 15L -> 1L), h.toString)
  }

  test("profile counts nulls and exact distincts in one pass") {
    val df = Seq((Some(1L), "x"), (None, "x"), (Some(1L), "y"))
      .toDF("a", "b")
    val p = Profile.profile(df, Seq("a", "b"))
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(p("a") == ((3L, 1L, 1L)) && p("b") == ((3L, 0L, 2L)), p.toString)
  }

  test("split assignment covers every row, respects weights, moves boundaries only") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val s1 = Sampling.splitAssign(docs, "doc_id",
      Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
      .select($"doc_id", $"split").as[(Long, String)].collect()
    assert(s1.length == docs.count())
    val frac = s1.groupBy(_._2).view.mapValues(_.length.toDouble / s1.length).toMap
    assert(math.abs(frac("train") - 0.9) < 0.1, frac.toString)
    // growing train's share only converts val/test rows INTO train —
    // no train row ever leaves (boundary moves, rows don't hop)
    val s2 = Sampling.splitAssign(docs, "doc_id",
      Seq("train" -> 0.95, "val" -> 0.025, "test" -> 0.025))
      .select($"doc_id", $"split").as[(Long, String)].collect().toMap
    val train1 = s1.filter(_._2 == "train").map(_._1).toSet
    assert(train1.forall(id => s2(id) == "train"))
  }

  test("bm25 matches the formula on a hand corpus; rare term outranks common") {
    val docs = Seq((1L, "a a b"), (2L, "a c"), (3L, "c c c")).toDF("doc_id", "text")
    val got = TextAnalysis.bm25(docs)
      .select($"doc_id", $"top_term", $"score")
      .as[(Long, String, Double)].collect().sortBy(_._1)
    // N=3, avgdl=8/3; df: a->2, b->1, c->2
    def idf(df: Int) = math.log(1.0 + (3.0 - df + 0.5) / (df + 0.5))
    def score(tf: Int, df: Int, dl: Int) = {
      val raw = idf(df) * (tf * (1.2 + 1.0)) /
        (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / (8.0 / 3.0)))
      BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    // doc 1: b (tf 1, df 1) must beat a (tf 2, df 2) — rarity wins here
    assert(got(0)._2 == "b" && got(0)._3 == score(1, 1, 3), got(0).toString)
    // doc 2: a and c tie exactly (same tf, df, dl) -> term asc picks a
    assert(got(1)._2 == "a" && got(1)._3 == score(1, 2, 2), got(1).toString)
    assert(got(2)._2 == "c" && got(2)._3 == score(3, 2, 3), got(2).toString)
  }

  test("perplexity matches the hand add-k formula; short docs excluded") {
    val docs = Seq((1L, "a b a b"), (2L, "a b"), (3L, "b a"), (4L, "x"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.perplexity(docs)
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1)
    // model: (a,b) n=3, (b,a) n=2; heads a→3 b→2; V = 2 distinct heads
    val pAB = (3 + 0.5) / (3 + 0.5 * 2)
    val pBA = (2 + 0.5) / (2 + 0.5 * 2)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val lp1 = 2 * math.log(pAB) + math.log(pBA)
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L), "doc 4 has no bigrams")
    assert(got(0) == ((1L, 3L, r6(lp1), r6(math.exp(-lp1 / 3)))), got(0).toString)
    assert(got(1) == ((2L, 1L, r6(math.log(pAB)), r6(1 / pAB))), got(1).toString)
    assert(got(2) == ((3L, 1L, r6(math.log(pBA)), r6(1 / pBA))), got(2).toString)
  }

  test("knn label: majority vote, vote tie prefers smaller label") {
    val emb = Seq(
      (10L, Seq(1.0, 0.0), 0), (11L, Seq(0.9, 0.1), 0),
      (14L, Seq(0.8, 0.2), 0),
      (12L, Seq(0.0, 1.0), 1), (13L, Seq(0.1, 0.9), 1))
      .toDF("vec_id", "embedding", "label")
    val q = (id: Long, v: Seq[Double]) =>
      Seq((id, v, -1)).toDF("vec_id", "embedding", "label")
    def pred(cand: org.apache.spark.sql.DataFrame,
        qdf: org.apache.spark.sql.DataFrame, k: Int) =
      Similarity.knnLabel(cand, qdf, k)
        .as[(Long, Int, Long)].collect().toSeq
    // deep in cluster 0: all 3 neighbors vote 0
    assert(pred(emb, q(1L, Seq(1.0, 0.05)), 3) == Seq((1L, 0, 3L)))
    // deep in cluster 1: 2 of 3 vote 1 (third-nearest is (0.8,0.2))
    assert(pred(emb, q(2L, Seq(0.0, 1.0)), 3) == Seq((2L, 1, 2L)))
    // [1,1] is bit-exactly equidistant from (1,0) and (0,1): the vote
    // splits 1–1 and the smaller label must win
    assert(pred(emb.filter($"vec_id".isin(10L, 12L)),
      q(3L, Seq(1.0, 1.0)), 2) == Seq((3L, 0, 1L)))
  }

  test("ewma matches the hand formula and renormalizes at the leading edge") {
    val df = Seq((1L, 1L, 1L, 4.0), (1L, 2L, 2L, 2.0), (1L, 3L, 3L, 1.0))
      .toDF("k", "t", "id", "v")
    val got = TimeSeries.ewma(df, "k", "t", "id", "v", alpha = 0.5, k = 3)
      .select($"id", $"ewma").as[(Long, Double)].collect().toMap
    // row 1: only itself (weights renormalize: 4/1); row 2: (2 + 4*.5)/1.5;
    // row 3: (1 + 2*.5 + 4*.25)/1.75
    assert(got(1L) == 4.0, got.toString)
    assert(got(2L) == BigDecimal(4.0 / 1.5).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble, got.toString)
    assert(got(3L) == BigDecimal(3.0 / 1.75).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble, got.toString)
  }

  test("zscore outliers flag exactly the rounded-|z|>=threshold rows per key") {
    // key "a": nine 0s and one 10 -> the 10 is a strong outlier, the 0s are not
    val rows = (1L to 9L).map(i => ("a", i, 0.0)) :+ (("a", 10L, 10.0))
    val df = rows.toDF("k", "id", "v")
    val got = TimeSeries.zscoreOutliers(df, "k", "id", "v", threshold = 2.0)
      .select($"id", $"z").as[(Long, Double)].collect().toMap
    assert(got.keySet == Set(10L), got.toString)
    // z = (10 - 1) / stddev_samp = 9 / sqrt((9*1 + 81*... )) hand value:
    // mean 1, var_samp = (9*1 + 81)/9 = 10 -> z = 9/sqrt(10)
    val want = BigDecimal(9.0 / math.sqrt(10.0)).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(10L) == want, got.toString)
  }

  test("token entropy: degenerate repetition scores 0, uniform scores ln(n)") {
    val docs = Seq((1L, "x x x x"), (2L, "a b c d")).toDF("doc_id", "text")
    val got = TextAnalysis.tokenEntropy(docs)
      .select($"doc_id", $"n_tokens", $"n_distinct", $"entropy")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 4L, 1L, 0.0)), got.toString)
    val ln4 = BigDecimal(math.log(4.0)).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(2L) == ((2L, 4L, 4L, ln4)), got.toString)
  }

  test("bigram model: top continuation by count, tie broken by token asc") {
    val docs = Seq((1L, "a b a b a c"), (2L, "z")).toDF("doc_id", "text")
    // pairs: (a,b)x2 (b,a)x2 (a,c)x1; single-token doc contributes nothing
    val got = TextAnalysis.bigramModel(docs)
      .as[(String, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got("a") == (("a", "b", 2L, 3L)), got.toString)
    assert(got("b") == (("b", "a", 2L, 2L)), got.toString)
    assert(!got.contains("z"))
    // exact tie: (q,a) and (q,b) once each -> asc picks a
    val tie = TextAnalysis.bigramModel(Seq((1L, "q a q b")).toDF("doc_id", "text"))
      .as[(String, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(tie("q") == (("q", "a", 1L, 2L)), tie.toString)
  }

  test("weighted sample: planted heavy row always selected; prefix-nests; stable") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"n_chars".cast("double").as("w"))
    // a weight orders of magnitude above the rest -> u^(1/w) ~ 1, rank 1
    val heavy = docs.withColumn("w",
      when($"doc_id" === 7L, lit(1e12)).otherwise($"w"))
    val top10 = Sampling.weightedSample(heavy, "doc_id", "w", 10)
      .select($"doc_id").as[Long].collect()
    assert(top10.contains(7L), top10.mkString(","))
    // growing k keeps the smaller sample as a prefix (same fixed order)
    val top20 = Sampling.weightedSample(heavy, "doc_id", "w", 20)
      .select($"doc_id").as[Long].collect()
    assert(top20.take(10).sameElements(top10))
    // partitioning-independent: same set after a reshuffle
    val re = Sampling.weightedSample(heavy.repartition(7), "doc_id", "w", 10)
      .select($"doc_id").as[Long].collect()
    assert(re.toSet == top10.toSet)
  }

  test("null-safe join keeps the null-key group; plans as an equi-join") {
    val a = Seq((Some("x"), 1L), (None, 2L)).toDF("k", "va")
    val b = Seq((Some("x"), 10L), (None, 20L)).toDF("k", "vb")
    val j = a.join(b, a("k") <=> b("k")).select(a("k"), $"va", $"vb")
    val got = j.as[(Option[String], Long, Long)].collect().toSet
    assert(got == Set((Some("x"), 1L, 10L), (None, 2L, 20L)), got.toString)
    // EqualNullSafe must be a JOIN KEY (hash/merge join), not a
    // post-nested-loop filter
    val exec = j.queryExecution.executedPlan.toString
    assert(!exec.contains("NestedLoop"), exec)
  }

  test("graph: canonical edges dedup both orientations; triangles count once") {
    // raw pairs: both orientations of (1,2), a self-loop, and the
    // triangle {1,2,3} plus a tail 3-4
    val raw = Seq((2L, 1L), (1L, 2L), (5L, 5L), (1L, 3L), (3L, 2L), (3L, 4L))
      .toDF("pa", "pb")
    val edges = Graph.canonicalEdges(raw, "pa", "pb")
    val es = edges.as[(Long, Long)].collect().toSet
    assert(es == Set((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)), es.toString)
    val stats = Graph.triangleStats(edges)
      .as[(Long, Long, Long)].head()
    assert(stats == ((4L, 4L, 1L)), stats.toString) // 4 nodes, 4 edges, 1 triangle
    val deg = Graph.degreeDistribution(edges)
      .as[(Long, Long)].collect().toMap
    // degrees: 1->2, 2->2, 3->3, 4->1  =>  one node of degree 1 and 3, two of 2
    assert(deg == Map(1L -> 1L, 2L -> 2L, 3L -> 1L), deg.toString)
  }

  test("pagerank: symmetric pair stays uniform; star centre dominates; mass sums to 1") {
    val pair = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val pr1 = Graph.pagerank(pair, "src", "dst", iters = 3, damping = 0.85)
      .as[(Long, Double)].collect().toMap
    assert(pr1 == Map(1L -> 0.5, 2L -> 0.5), pr1.toString)
    // star: centre 0, leaves 1 and 2, bidirectional
    val star = Seq((0L, 1L), (1L, 0L), (0L, 2L), (2L, 0L)).toDF("src", "dst")
    val pr2 = Graph.pagerank(star, "src", "dst", iters = 3, damping = 0.85)
      .as[(Long, Double)].collect().toMap
    assert(pr2(1L) == pr2(2L), pr2.toString)
    assert(pr2(0L) > pr2(1L), pr2.toString)
    assert(math.abs(pr2.values.sum - 1.0) < 1e-5, pr2.toString)
  }

  test("pagerank: dangling redistribution conserves mass; no-op on bidirectional sets") {
    // 1 -> 2 and nothing out of 2: node 2 is a dangling sink
    val chain = Seq((1L, 2L)).toDF("src", "dst")
    val leaky = Graph.pagerank(chain, "src", "dst", iters = 3, damping = 0.85)
      .as[(Long, Double)].collect().toMap
    assert(leaky.values.sum < 0.9, s"mass should leak without the flag: $leaky")
    val pr = Graph.pagerank(chain, "src", "dst", iters = 3, damping = 0.85,
      redistributeDangling = true).as[(Long, Double)].collect().toMap
    assert(math.abs(pr.values.sum - 1.0) < 1e-5, pr.toString)
    assert(pr(2L) > pr(1L), pr.toString) // the sink still accumulates rank
    // bidirectional edge set: no dangling nodes, flag must change nothing
    val pair = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val off = Graph.pagerank(pair, "src", "dst", iters = 3, damping = 0.85)
      .as[(Long, Double)].collect().toMap
    val on = Graph.pagerank(pair, "src", "dst", iters = 3, damping = 0.85,
      redistributeDangling = true).as[(Long, Double)].collect().toMap
    assert(off == on, s"$off vs $on")
  }

  test("degree-ordered triangle count equals the id-ordered count") {
    // hot hub with the LARGEST id (100): canonical a<b orients every
    // spoke INTO the hub, the degree order orients them into the hub
    // too but numbers the wedges differently — the counts must agree.
    // Triangles: {1,2,100}, {3,4,100}, {1,2,7}.
    val raw = Seq(
      (100L, 1L), (100L, 2L), (100L, 3L), (100L, 4L), (100L, 5L), (100L, 6L),
      (1L, 2L), (3L, 4L), (1L, 7L), (2L, 7L)).toDF("pa", "pb")
    val edges = Graph.canonicalEdges(raw, "pa", "pb")
    val idCount = Graph.triangleStats(edges)
      .select($"n_triangles").as[Long].head()
    val degCount = Graph.triangleCountByDegree(edges).as[Long].head()
    assert(idCount == 3L && degCount == 3L, s"id=$idCount deg=$degCount")
    // degree-oriented out-degree of the hub is 0 (everything points AT
    // the highest-degree node) — the wedge-bound property in one line
    val hubOut = Graph.orientByDegree(edges)
      .filter($"x" === 100L).count()
    assert(hubOut == 0L, s"hub should have no out-edges, got $hubOut")
  }

  test("snapshot diff distinguishes NULL from empty string and classifies all") {
    val old = Seq((1L, Some("a")), (2L, None), (3L, Some("x")))
      .toDF("k", "v")
    val neu = Seq((1L, Some("a")), (2L, Some("")), (4L, Some("y")))
      .toDF("k", "v")
    val got = Profile.snapshotDiff(old, neu, "k", Seq("v"))
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "deleted", 4L -> "added"), got.toString)
  }

  test("cdc apply keeps the latest op per key and drops terminal deletes") {
    val log = Seq(
      (1L, "I", 10L, 1L, 1.0), (1L, "U", 20L, 2L, 2.0),
      (2L, "I", 10L, 3L, 3.0), (2L, "D", 20L, 4L, 0.0),
      (3L, "I", 10L, 5L, 5.0),
      // same ts for user 4 -> event_id breaks the tie (6 < 7, so 7 wins)
      (4L, "U", 10L, 6L, 6.0), (4L, "U", 10L, 7L, 7.0)
    ).toDF("user_id", "op", "ts", "event_id", "value")
    val got = Profile.cdcApply(log, "user_id", "op", Seq("ts", "event_id"), Seq("value"))
      .select($"user_id", $"last_op", $"value", $"n_ops")
      .as[(Long, String, Double, Long)].collect().map(r => r._1 -> r).toMap
    assert(got.keySet == Set(1L, 3L, 4L), got.toString)
    assert(got(1L) == ((1L, "U", 2.0, 2L)), got.toString)
    assert(got(3L) == ((3L, "I", 5.0, 1L)), got.toString)
    assert(got(4L) == ((4L, "U", 7.0, 2L)), got.toString)
  }

  test("plan guards: wave 7/8 scale claims hold in the executed plans") {
    // Every pin is a local checkpoint, which no other plan matches, so
    // these shapes do not depend on what earlier tests pinned.
    withoutAqe {
      // EWMA: all k lag terms ride ONE ordered window pass — one key
      // exchange, one Window node
      val ewma = SparkEntry.queries("ts_ewma")(spark, sfDir)
      assert(numShuffles(ewma) == 1, ewma.queryExecution.executedPlan.toString)
      assert("(?m)^\\s*(\\+-|:-)? ?Window ".r
        .findAllIn(ewma.queryExecution.executedPlan.toString).size <= 1,
        "ewma should need a single Window pass")
      // z-score: grouped moments BROADCAST back, never a full-frame window
      val zs = SparkEntry.queries("ts_zscore")(spark, sfDir)
      val zsPlan = zs.queryExecution.executedPlan.toString
      assert(zsPlan.contains("BroadcastHashJoin"), zsPlan)
      assert(!zsPlan.contains("Window"), "z-score must not plan a window")
      // CDC apply: row_number and count share one sorted pass
      val cdc = SparkEntry.queries("rel_cdc_apply")(spark, sfDir)
      assert(numShuffles(cdc) == 1, cdc.queryExecution.executedPlan.toString)
      assert("(?m)^\\s*(\\+-|:-)? ?Window ".r
        .findAllIn(cdc.queryExecution.executedPlan.toString).size <= 1,
        "cdc apply should need a single Window pass")
      // PageRank: the shared edge/node/outdeg frames are materialized —
      // the unrolled iterations read the pinned checkpoints (`Scan
      // ExistingRDD` leaves), not the upstream join
      val pr = SparkEntry.queries("graph_pagerank")(spark, sfDir)
      assert(pr.queryExecution.executedPlan.toString.contains("Scan ExistingRDD"),
        "pagerank must read its pinned frames")
      // bm25: the corpus token explode is materialized ONCE — all three
      // downstream branches (df build, corpus constants, scoring) read
      // the pinned tf frame, a checkpoint leaf whose plan the string does
      // not print, so an unpinned branch would add a Generate (explode)
      val bm = SparkEntry.queries("text_bm25")(spark, sfDir)
      val bmPlan = bm.queryExecution.executedPlan.toString
      def n(p: String, token: String) = token.r.findAllIn(p).size
      assert(n(bmPlan, "Scan ExistingRDD") == 3,
        "bm25's three tf consumers must all read the pinned frame")
      assert(n(bmPlan, "Generate") == 0,
        "bm25 re-runs the corpus explode outside the pin")
      // snapshot diff: the join exchanges carry (key, md5) — never the
      // attribute payload
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val td = SparkEntry.queries("rel_table_diff")(spark, sfDir)
      val exCols = td.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e.output.map(_.name)
      }
      assert(exCols.nonEmpty)
      exCols.foreach { cols =>
        assert(!cols.exists(c => c.contains("custkey") || c.contains("status")
          || c.contains("totalprice")),
          s"diff exchange carries payload columns: $cols")
      }
    }
  }

  test("plan guards: round-6 scale claims hold in the executed plans") {
    withoutAqe {
      // inverted index: postings come from the k-bounded ObjectHashAggregate
      // (TopKAggregator), never a collect_list of the full posting list
      val ii = SparkEntry.queries("text_inverted_index")(spark, sfDir)
      val iiPlan = ii.queryExecution.executedPlan.toString
      assert(iiPlan.contains("ObjectHashAggregate"), iiPlan)
      assert(!iiPlan.contains("collect_list"),
        "inverted index must not collect_list postings")
      // PSI drift: both cohort histograms broadcast back onto the
      // nBuckets spine — no shuffle join of cohort-sized frames
      val psi = SparkEntry.queries("rel_drift_psi")(spark, sfDir)
      val psiPlan = psi.queryExecution.executedPlan.toString
      assert(psiPlan.contains("BroadcastHashJoin"), psiPlan)
      // OHLC: ONE keyed aggregate, no Window node (min_by/max_by carry
      // open/close through partial aggregation)
      val oh = SparkEntry.queries("ts_ohlc_bars")(spark, sfDir)
      val ohPlan = oh.queryExecution.executedPlan.toString
      assert(!ohPlan.contains("Window"), "OHLC must not plan a window")
      assert(numShuffles(oh) == 1, ohPlan)
      // normalization: zero exchanges — a pure codegen'd projection
      val nm = SparkEntry.queries("text_normalize")(spark, sfDir)
      assert(numShuffles(nm) == 0,
        nm.queryExecution.executedPlan.toString)
      // MAD outliers: percentile moments broadcast back, never a window
      val mad = SparkEntry.queries("ts_mad_outliers")(spark, sfDir)
      val madPlan = mad.queryExecution.executedPlan.toString
      assert(madPlan.contains("BroadcastHashJoin"), madPlan)
      assert(!madPlan.contains("Window"), "MAD must not plan a window")
      // PQ: the query distance table reaches the ADC join by broadcast;
      // the codebook frame is pinned (read via a Scan ExistingRDD leaf)
      val pq = SparkEntry.queries("ann_pq_topk")(spark, sfDir)
      val pqPlan = pq.queryExecution.executedPlan.toString
      assert(pqPlan.contains("BroadcastHashJoin"), pqPlan)
      assert(pqPlan.contains("Scan ExistingRDD"),
        "PQ must read its pinned codebook/subvector frames")
    }
  }

  test("plan guards: round-6 final wave scale claims hold in executed plans") {
    withoutAqe {
      // silhouette: centroids reach every vector by broadcast (K rows),
      // never a shuffled join of corpus-sized frames
      val sil = SparkEntry.queries("ann_silhouette")(spark, sfDir)
      val silPlan = sil.queryExecution.executedPlan.toString
      assert(silPlan.contains("BroadcastNestedLoopJoin") ||
        silPlan.contains("BroadcastHashJoin"), silPlan)
      // tfidf: the corpus explode materializes once — every reference to
      // the (doc, term, tf) frame reads the pinned checkpoint
      val tf = SparkEntry.queries("text_tfidf_topk")(spark, sfDir)
      val tfPlan = tf.queryExecution.executedPlan.toString
      assert("Scan ExistingRDD".r.findAllIn(tfPlan).size >= 3,
        s"tfidf must reuse the pinned type frame for tf/df/N:\n$tfPlan")
      // whitening: the PCA direction arrives as a 1-row broadcast; the
      // residual is the |q|^2 - proj^2 shortcut (no second vector pass,
      // so exactly the quantize projection + one broadcast join)
      val wh = SparkEntry.queries("ann_whiten")(spark, sfDir)
      val whPlan = wh.queryExecution.executedPlan.toString
      assert(whPlan.contains("BroadcastNestedLoopJoin") ||
        whPlan.contains("BroadcastHashJoin"), whPlan)
      // bootstrap: all replicates in one scan — one Generate, one
      // exchange into the replicate aggregate
      val bt = SparkEntry.queries("sample_bootstrap")(spark, sfDir)
      val btPlan = bt.queryExecution.executedPlan.toString
      assert("Generate".r.findAllIn(btPlan).size == 1, btPlan)
      assert(numShuffles(bt) == 1, btPlan)
      // decompose-anomaly: med/MAD moments broadcast back onto the
      // pinned decomposed frame — no corpus-wide window for scoring
      val da = SparkEntry.queries("ts_decompose_anomaly")(spark, sfDir)
      val daPlan = da.queryExecution.executedPlan.toString
      assert(daPlan.contains("BroadcastHashJoin"), daPlan)
      assert(daPlan.contains("Scan ExistingRDD"),
        "anomaly scoring must reuse the pinned decomposed frame")
    }
  }

  test("band join: boundary-inclusive, each pair once, no nested loop") {
    import spark.implicits._
    val l = Seq((1L, 10.0), (2L, 10.5), (3L, 11.01), (4L, 10.0))
      .toDF("l_key", "l_price")
    val r = l.select($"l_key".as("r_key"), $"l_price".as("r_price"))
    val out = RangeJoin.bandJoin(l, r, "l_price", "r_price", width = 0.5)
      .filter($"l_key" < $"r_key")
      .select($"l_key", $"r_key").as[(Long, Long)].collect()
    // |Δ|=0.5 is IN (boundary-inclusive); 1.01 and 0.51 are out;
    // the duplicate price (1,4) matches once despite the 3-bucket fan
    assert(out.length == out.toSet.size, s"pair emitted twice: ${out.toSeq}")
    assert(out.toSet == Set((1L, 2L), (1L, 4L), (2L, 4L)),
      s"got ${out.toSeq}")
    val plan = RangeJoin.bandJoin(l, r, "l_price", "r_price", width = 0.5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      s"band join must not nested-loop:\n$plan")
  }

  test("random walks: edge-respecting, rerun-stable, seed-sensitive") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L)).toDF("a", "b")
    val nbrs = Map(1L -> Set(2L, 3L), 2L -> Set(1L, 3L),
      3L -> Set(1L, 2L, 4L), 4L -> Set(3L))
    val w1 = Graph.randomWalks(edges, len = 4, seed = 7L)
      .as[(Long, String)].collect().toMap
    assert(w1.keySet == nbrs.keySet) // one walk per node
    w1.foreach { case (start, path) =>
      val ids = path.split(",").map(_.toLong)
      assert(ids.length == 5 && ids.head == start, path)
      ids.sliding(2).foreach { case Array(u, v) =>
        assert(nbrs(u).contains(v), s"walk $path uses non-edge $u->$v")
      }
    }
    // deterministic under rerun and partitioning; redrawn under a new seed
    val w1b = Graph.randomWalks(edges.repartition(5), len = 4, seed = 7L)
      .as[(Long, String)].collect().toMap
    assert(w1b == w1)
    val w2 = Graph.randomWalks(edges, len = 4, seed = 8L)
      .as[(Long, String)].collect().toMap
    assert(w2 != w1)
    // degree-1 corridor is forced: node 4's first hop must be 3
    assert(w1(4L).startsWith("4,3"), w1(4L))
  }

  test("label propagation: k rounds reach exactly k hops; components label by min id") {
    // path graph 1-2-3-4-5-6-7 plus isolated edge 10-11
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L),
      (10L, 11L)).toDF("a", "b")
    val r3 = Graph.labelPropagation(edges, rounds = 3)
      .as[(Long, Long, Long)].collect().toSet
    // after 3 rounds a node holds the min id within exactly 3 hops:
    // nodes 1..4 see 1; node 5 sees 2; node 6 sees 3; node 7 sees 4
    assert(r3.contains((1L, 4L, 4L)), s"3-hop reach of label 1: $r3")
    assert(r3.contains((4L, 1L, 7L)), s"chain tail: $r3")
    assert(r3.contains((10L, 2L, 11L)), s"pair: $r3")
    // enough rounds → one label per component
    val r6 = Graph.labelPropagation(edges, rounds = 6)
      .as[(Long, Long, Long)].collect().toSet
    assert(r6 == Set((1L, 7L, 7L), (10L, 2L, 11L)), s"converged: $r6")
  }

  test("two-star CC: long chain converges in O(log) rounds to true components") {
    // a 32-node path has diameter 31 — min-label needs 31 rounds, the
    // alternating star contraction must finish in far fewer
    val chain = (1L until 32L).map(i => (i, i + 1))
    val edges = (chain ++ Seq((100L, 101L), (101L, 102L), (100L, 102L)))
      .toDF("a", "b")
    val nodes = Graph.ccTwoStarsNodes(edges, maxRounds = 8)
      .as[(Long, Long)].collect().toMap
    assert(nodes.size == 35, nodes.toString)
    assert((1L to 32L).forall(nodes(_) == 1L), nodes.toString)
    assert((100L to 102L).forall(nodes(_) == 100L), nodes.toString)
    // aggregated shape matches labelPropagation's converged output
    val comps = Graph.ccTwoStars(edges).as[(Long, Long, Long)].collect().toSet
    assert(comps == Set((1L, 32L, 32L), (100L, 3L, 102L)), comps.toString)
    // the round guard fails loudly rather than returning partial stars
    intercept[IllegalStateException] {
      Graph.ccTwoStarsNodes(edges, maxRounds = 1).count()
    }
    // checkpoint blocks from superseded rounds are freed: what stays is
    // the final round's
    val left = leftPersisted(Graph.ccTwoStarsNodes(edges).count())
    assert(left <= 1, s"leaked checkpoint blocks: $left persistent RDDs left")
    // so are NN-descent's superseded k-NN graphs and, after the last
    // round, its embeddings (what stays: the final graph) and MMR's
    // superseded selections (what stays: the candidate and pair frames
    // and the final selection, all read by the result)
    val rnd = new scala.util.Random(29)
    val vecs = (0L until 120L).map(i => (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val nnLeft = leftPersisted(Similarity.nnDescent(vecs, k = 5, rounds = 5).count())
    assert(nnLeft <= 1, s"NN-descent leaked rounds: $nnLeft persistent RDDs left")
    val mmrLeft = leftPersisted(Similarity.mmrRerank(vecs,
      vecs.filter($"vec_id" % 30 === 0), candK = 16, k = 6).count())
    assert(mmrLeft <= 3, s"MMR leaked steps: $mmrLeft persistent RDDs left")
  }

  test("two-star CC: duplicate (m,w) rows from large-star resolve correctly without its distinct") {
    // r15 optimization guard: large-star's distinct() was dropped (the
    // small-star distinct subsumes it). This graph is built so the FIRST
    // large-star round emits a duplicate edge — u=2 (Γ={1,6}, m=1) and
    // u=3 (Γ={1,6}, m=1) both emit (1,6) — exercising the duplicate path
    // through small-star's min aggregate and final distinct. The loop
    // must still converge to the true components and the terminal
    // star-shape assertion must hold (it throws on any malformed edge
    // set, so a plain pass is the assertion).
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 6L), (3L, 6L),
      (20L, 21L)).toDF("a", "b")
    val nodes = Graph.ccTwoStarsNodes(edges, maxRounds = 8)
      .as[(Long, Long)].collect().toMap
    assert(nodes == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 6L -> 1L,
      20L -> 20L, 21L -> 20L), nodes.toString)
  }

  test("audio fingerprint: offset copy matches at one consistent offset; unrelated doc stays silent") {
    // doc 2 is doc 1 shifted by exactly one hop (32 chars of pad), so
    // every interior frame of 1 reappears in 2 one frame later: the
    // constellation survives the shift and the (pair, offset) vote must
    // land on t_offset = t1(a=1) − t1(b=2) = −1. doc 3 is independent
    // noise — no consistent-offset triple collision.
    val r1 = new scala.util.Random(7)
    val s = Seq.fill(512)((33 + r1.nextInt(94)).toChar).mkString
    val r2 = new scala.util.Random(99)
    val c = Seq.fill(512)((33 + r2.nextInt(94)).toChar).mkString
    val pad = Seq.fill(32)('#').mkString
    val docs = Seq((1L, s), (2L, pad + s), (3L, c))
      .toDF("doc_id", "text")
    val got = graft.ops.Multimodal.audioFingerprint(
        graft.ops.Multimodal.asMedia(docs, "doc_id", "text"))
      .as[(Long, Long, Long, Long)].collect()
    assert(got.map(g => (g._1, g._2)).toSet == Set((1L, 2L)),
      s"pairs: ${got.toSeq}")
    val best = got.maxBy(_._4)
    assert(best._3 == -1L && best._4 >= 3L,
      s"offset vote must land on -1 with >= 3 hits: ${got.toSeq}")
  }

  test("phash: exact copies group; off-stride edits don't move the hash; constant grid hashes 0") {
    // n = 128 bytes → the 64 sampled positions are 1 + 2i (odd
    // positions); editing an EVEN position changes bytes the grid never
    // sees, so the perceptual hash must not move. doc 4 is a constant
    // payload: every pixel equal → all non-DC DCT coefficients are
    // exactly 0, no coefficient exceeds the 0 median, hash = 0.
    val base = (0 until 128).map(i => ('a' + (i * 7) % 26).toChar).mkString
    val offStride = base.updated(1, 'Z').toString // position 2 (1-based)
    val different = (0 until 128).map(i => ('a' + (i * 11 + 3) % 26).toChar).mkString
    val docs = Seq(
      (1L, base), (2L, base), (3L, offStride),
      (4L, "x" * 128), (5L, different),
    ).toDF("doc_id", "text")
    val got = graft.ops.Multimodal.phashGroups(
        graft.ops.Multimodal.asMedia(docs, "doc_id", "text"))
      .as[(Long, Long, Double, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._4, r._5))).toMap
    assert(got.size == 5)
    val (h1, n1, k1) = got(1L)
    assert(got(2L) == ((h1, n1, k1)), "exact copy shares hash and group")
    assert(got(3L)._1 == h1, "off-stride edit must not move the hash")
    assert(n1 == 3L && k1 == 1L, s"group of 1,2,3 keeps min id: ${got(1L)}")
    assert(got(4L)._1 == 0L, s"constant grid must hash to 0: ${got(4L)}")
    assert(got(5L)._1 != h1, "different content should differ")
    // dc of the constant payload is closed-form: w(0,0,x,y) = 1/8 for
    // every cell, so dc = 64 · ascii('x') / 8 = 64 · 120 / 8 = 960
    val dc4 = graft.ops.Multimodal.phashGroups(
        graft.ops.Multimodal.asMedia(docs.filter($"doc_id" === 4), "doc_id", "text"))
      .select($"dc").as[Double].head()
    assert(math.abs(dc4 - 960.0) < 1e-9, s"dc $dc4")
  }

  test("mmr over ivf equals brute-force mmr on clustered data; shared re-rank frames") {
    // 8 tight clusters of 40: each query's home cell is always probed
    // (nProbe=2), the true top-32 is entirely in-cluster, and MMR keeps
    // picking in-cluster (0.7·~1 − 0.3·~1 > 0.7·~0 − 0), so the routed
    // retrieval loses nothing and the IVF-MMR picks must EQUAL the
    // brute-force-MMR picks step for step.
    val dim = 64
    val rnd = new scala.util.Random(29)
    val centers = Array.fill(8)(Array.fill(dim)(rnd.nextGaussian()))
    val pts = for (c <- centers.indices; j <- 0 until 40)
      yield ((c * 40 + j).toLong, centers(c).map(x => (x + 0.05 * rnd.nextGaussian()).toFloat))
    val vecs = pts.toDF("vec_id", "embedding")
    val qs = vecs.filter($"vec_id" % 40 === 0)
    val exact = Similarity.mmrRerank(vecs, qs, candK = 32, k = 6)
      .select($"query_id", $"step", $"neighbor_id")
      .as[(Long, Int, Long)].collect().toSet
    val approx = Similarity.mmrRerankFrom(vecs,
        Similarity.ivfTopK(vecs, qs, k = 32, nCells = 8, nProbe = 2), k = 6)
      .select($"query_id", $"step", $"neighbor_id")
      .as[(Long, Int, Long)].collect().toSet
    assert(exact.nonEmpty && exact.size == 48, s"8 queries x 6 steps: ${exact.size}")
    assert(approx == exact,
      s"ivf-mmr diverged on clustered data: missing=${exact -- approx} extra=${approx -- exact}")
  }

  test("chrf: perfect pair scores 1, clipping caps repeated chars, whitespace stripped, short pair drops") {
    val docs = Seq(
      (1L, "abcdef"), (2L, "abcdef"),          // identical → chrf2 = 1
      (3L, "aaaaaaa"), (4L, "abcdefa"),        // clip: ref has 2 'a', no 'aa'
      (5L, "ab cd ef"), (6L, "abcdef"),        // spaces stripped → identical
      (7L, "abcde"), (8L, "abcdefgh")).toDF("doc_id", "text") // cand < 6 chars → drop
    val pairs = Seq((1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L))
      .toDF("cand_id", "ref_id")
    val got = graft.ops.TextAnalysis.chrF(docs, pairs).collect()
      .map(r => r.getAs[Long]("cand_id") -> r).toMap
    assert(got.size == 3, s"short pair must drop: ${got.keys}")
    val a = got(1L)
    assert((1 to 6).map(n => a.getAs[Long](s"match_$n")) == Seq(6L, 5L, 4L, 3L, 2L, 1L))
    assert(a.getAs[Double]("avg_p") == 1.0 && a.getAs[Double]("chrf2") == 1.0)
    val b = got(3L)
    assert(b.getAs[Long]("match_1") == 2L, "unigram 'a' clips at the ref count")
    assert((2 to 6).forall(n => b.getAs[Long](s"match_$n") == 0L))
    // p = r = (2/7)/6 → chrf2 = 5p²/(5p) = p = 1/21
    assert(math.abs(b.getAs[Double]("chrf2") - 1.0 / 21.0) < 1e-15, b.toString)
    val c = got(5L)
    assert(c.getAs[Long]("cand_len") == 6L && c.getAs[Double]("chrf2") == 1.0,
      s"whitespace must not count as characters: $c")
  }

  test("mv join 2-way: retracting a customer retracts its owned orders; netted-out nation vanishes") {
    // orders (okey, custkey, cents); customers (custkey, nation).
    // Customer 2 (nation 20) owns orders 3 and 4 and is RETRACTED;
    // nation 20 has no other customer, so it must vanish from the view.
    // Customer 1 (nation 10) stays; order 2 is retracted; order 5 is
    // inserted for customer 3 (nation 10, inserted customer).
    val orders = Seq((1L, 1L, 100L), (2L, 1L, 40L), (3L, 2L, 7L),
      (4L, 2L, 9L)).toDF("o_orderkey", "o_custkey", "cents")
    val ordIns = Seq((5L, 3L, 25L)).toDF("o_orderkey", "o_custkey", "cents")
    val ordDel = orders.filter($"o_orderkey" === 2L)
    val ordNew = orders.filter($"o_orderkey" =!= 2L).unionAll(ordIns)
    val custs = Seq((1L, 10L), (2L, 20L)).toDF("c_custkey", "c_nationkey")
    val cIns = Seq((3L, 10L)).toDF("c_custkey", "c_nationkey")
    val cDel = custs.filter($"c_custkey" === 2L)
    val keys = Seq("c_nationkey")
    def j(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      a.join(broadcast(b), $"o_custkey" === $"c_custkey")
    val got = graft.ops.Profile.mergeAggStates(Seq(
        graft.ops.Profile.signedAggState(j(orders, custs), keys, $"cents", 1),
        graft.ops.Profile.signedAggState(j(ordIns, custs), keys, $"cents", 1),
        graft.ops.Profile.signedAggState(j(ordDel, custs), keys, $"cents", -1),
        graft.ops.Profile.signedAggState(j(ordNew, cIns), keys, $"cents", 1),
        graft.ops.Profile.signedAggState(j(ordNew, cDel), keys, $"cents", -1)), keys)
      .as[(Long, Long, Long)].collect().toSet
    // from-scratch: ordNew ⋈ custNew = {(1,1,100),(5,3,25)} under nation 10
    assert(got == Set((10L, 2L, 125L)),
      s"maintained view != from-scratch recompute: $got")
  }

  test("bleu: hand-computed perfect-precision pair (BP<1), clipping zeroes a p_n, short candidate drops") {
    val docs = Seq(
      (1L, "the cat sat on the mat"),                 // 6 tokens, all grams ⊆ ref
      (2L, "the cat sat on the mat tonight"),         // 7 tokens
      (3L, "the the the the the the the"),            // clip: ref has only 2 "the"
      (4L, "the cat is on the mat"),
      (5L, "a b c"),                                  // < 4 tokens → no p_4 → dropped
      (6L, "a b c d e")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("cand_id", "ref_id")
    val got = graft.ops.TextAnalysis.bleu(docs, pairs).collect()
      .map(r => r.getAs[Long]("cand_id") -> r).toMap
    assert(got.size == 2, s"short candidate must drop: ${got.keys}")
    val a = got(1L)
    assert(a.getAs[Long]("cand_len") == 6L && a.getAs[Long]("ref_len") == 7L)
    assert((1 to 4).map(n => a.getAs[Long](s"match_$n")) == Seq(6L, 5L, 4L, 3L))
    (1 to 4).foreach(n => assert(a.getAs[Double](s"p_$n") == 1.0))
    // BP = exp(1 − 7/6) = 0.8464817… → 0.846482 at 6 dp; bleu = BP · 1
    assert(math.abs(a.getAs[Double]("bp") - 0.846482) < 1e-9, s"bp ${a.getAs[Double]("bp")}")
    assert(a.getAs[Double]("bleu") == a.getAs[Double]("bp"))
    val b = got(3L)
    assert(b.getAs[Long]("cand_len") == 7L && b.getAs[Long]("ref_len") == 6L)
    assert((1 to 4).map(n => b.getAs[Long](s"match_$n")) == Seq(2L, 0L, 0L, 0L),
      "unigram matches clip at the reference count")
    assert(math.abs(b.getAs[Double]("p_1") - 2.0 / 7.0) < 1e-15)
    assert(b.getAs[Double]("bp") == 1.0, "candidate longer than reference → no penalty")
    assert(b.getAs[Double]("bleu") == 0.0, "a zero p_n zeroes unsmoothed BLEU")
  }

  test("phash near: 1-bit wobble groups where exact misses; transitive chain; far hash stays alone") {
    // hashes: 1 and 3 differ in ONE bit — exact grouping separates
    // them, near grouping (d=2) must not. 0 is 1 bit from 1; 6 is 2
    // bits from 3 but 3 bits from 1 — only TRANSITIVELY in the group.
    // 31744 (0b111110000000000) is ≥ 5 bits from everything → singleton.
    val hashed = Seq((1L, 1L), (2L, 3L), (3L, 31744L), (4L, 0L), (5L, 6L))
      .toDF("media_id", "phash")
    val got = graft.ops.Multimodal.phashNearFromHashes(hashed, hammingD = 2)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._3, r._4, r._5))).toMap
    assert(got.size == 5)
    assert(got(1L) == ((0L, 4L, 1L)), s"wobbled pair + chain: ${got(1L)}")
    assert(got(2L) == ((0L, 4L, 1L)), "1-bit wobble joins the group exact grouping misses")
    assert(got(4L) == ((0L, 4L, 1L)) && got(5L) == ((0L, 4L, 1L)),
      s"transitive closure: ${got(4L)} ${got(5L)}")
    assert(got(3L) == ((31744L, 1L, 3L)), s"far hash is a singleton: ${got(3L)}")
    // exact grouping on the same hashes: 5 distinct groups — the near
    // grouping is strictly coarser and catches what exact cannot
    assert(hashed.select($"phash").distinct().count() == 5)
  }

  test("incremental agg: signed-state merge equals full recompute; zero groups vanish") {
    val rnd = new scala.util.Random(13)
    (1 to 3).foreach { _ =>
      val rows = Seq.tabulate(300)(i =>
        (i.toLong, s"g${rnd.nextInt(5)}", rnd.nextInt(1000).toLong))
      val df = rows.toDF("id", "k", "v")
      val base = df.filter($"id" % 3 =!= 0)
      val inserts = df.filter($"id" % 3 === 0)
      val deletes = base.filter($"id" % 7 === 0)
      val merged = graft.ops.Profile.mergeAggStates(Seq(
          graft.ops.Profile.signedAggState(base, Seq("k"), $"v", 1),
          graft.ops.Profile.signedAggState(inserts, Seq("k"), $"v", 1),
          graft.ops.Profile.signedAggState(deletes, Seq("k"), $"v", -1)),
          Seq("k"))
        .as[(String, Long, Long)].collect().toSet
      val net = rows.filterNot { case (id, _, _) => id % 3 != 0 && id % 7 == 0 }
      val want = net.groupBy(_._2).map { case (k, rs) =>
        (k, rs.size.toLong, rs.map(_._3).sum) }.toSet
      assert(merged == want, s"missing=${want -- merged} extra=${merged -- want}")
    }
    // a group retracted to zero rows must VANISH, not linger at n=0
    val one = Seq((1L, "solo", 5L)).toDF("id", "k", "v")
    val gone = graft.ops.Profile.mergeAggStates(Seq(
        graft.ops.Profile.signedAggState(one, Seq("k"), $"v", 1),
        graft.ops.Profile.signedAggState(one, Seq("k"), $"v", -1)), Seq("k"))
      .count()
    assert(gone == 0L)
  }

  test("delta-join identity: V_old + dA*B_old + A_new*dB equals the recomputed join view") {
    val rnd = new scala.util.Random(17)
    (1 to 3).foreach { _ =>
      val facts = Seq.tabulate(200)(i =>
        (i.toLong, rnd.nextInt(30).toLong, rnd.nextInt(500).toLong))
      val dims = Seq.tabulate(30)(r => (r.toLong, s"g${r % 4}"))
      val a = facts.toDF("id", "ref", "v")
      val b = dims.toDF("ref2", "g")
      val aOld = a.filter($"id" % 4 =!= 0)
      val aIns = a.filter($"id" % 4 === 0)
      val aDel = aOld.filter($"id" % 9 === 0)
      val aNew = a.filter($"id" % 4 === 0 || $"id" % 9 =!= 0)
      val bOld = b.filter($"ref2" % 5 =!= 0)
      val bIns = b.filter($"ref2" % 5 === 0)
      def j(x: org.apache.spark.sql.DataFrame,
          y: org.apache.spark.sql.DataFrame) = x.join(y, $"ref" === $"ref2")
      val merged = graft.ops.Profile.mergeAggStates(Seq(
          graft.ops.Profile.signedAggState(j(aOld, bOld), Seq("g"), $"v", 1),
          graft.ops.Profile.signedAggState(j(aIns, bOld), Seq("g"), $"v", 1),
          graft.ops.Profile.signedAggState(j(aDel, bOld), Seq("g"), $"v", -1),
          graft.ops.Profile.signedAggState(j(aNew, bIns), Seq("g"), $"v", 1)),
          Seq("g"))
        .as[(String, Long, Long)].collect().toSet
      val dimMap = dims.toMap
      val netFacts = facts.filterNot { case (id, _, _) => id % 4 != 0 && id % 9 == 0 }
      val want = netFacts.flatMap { case (_, r, v) =>
        dimMap.get(r).map(g => (g, v)) }
        .groupBy(_._1).map { case (g, rs) =>
          (g, rs.size.toLong, rs.map(_._2).sum) }.toSet
      assert(merged == want, s"missing=${want -- merged} extra=${merged -- want}")
    }
  }

  test("luby MIS: independent, maximal, and covers every node on random graphs") {
    val rnd = new scala.util.Random(11)
    (1 to 3).foreach { _ =>
      val edges = Seq.fill(80)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter { case (a, b) => a != b }.distinct
      val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val nodes = adj.keySet
      val got = Graph.lubyMis(edges.toDF("a", "b"))
        .as[(Long, Boolean, Int)].collect()
      assert(got.map(_._1).toSet == nodes, "every edge-touched node decided")
      assert(got.length == nodes.size, "exactly once")
      val mis = got.filter(_._2).map(_._1).toSet
      // independence: no edge inside the set
      edges.foreach { case (a, b) =>
        assert(!(mis(a) && mis(b)), s"edge $a-$b inside MIS") }
      // maximality: every excluded node sees a MIS neighbor
      (nodes -- mis).foreach { v =>
        assert(adj(v).exists(mis), s"node $v has no MIS neighbor") }
      // a node's decision round never precedes its own retirement logic:
      // winners and their neighbors share the winner's round
      val roundOf = got.map(r => r._1 -> r._3).toMap
      got.filter(!_._2).foreach { case (v, _, rd) =>
        assert(adj(v).exists(u => mis(u) && roundOf(u) == rd),
          s"node $v retired in round $rd without a round-$rd MIS neighbor")
      }
    }
  }

  test("jones-plassmann: proper greedy coloring, exact round-for-round replay on random graphs") {
    val rnd = new scala.util.Random(13)
    def priL(v: Long) = (v % 1000000007L) * 2654435761L % 1000000007L
    (1 to 3).foreach { _ =>
      val edges = Seq.fill(80)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter { case (a, b) => a != b }.distinct
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val nodes = adj.keySet
      val got = Graph.jonesPlassmann(edges.toDF("a", "b"))
        .as[(Long, Long, Int)].collect()
      assert(got.map(_._1).toSet == nodes && got.length == nodes.size,
        "every node colored exactly once")
      val colorOf = got.map(r => r._1 -> r._2).toMap
      edges.foreach { case (a, b) =>
        assert(colorOf(a) != colorOf(b), s"edge $a-$b monochrome") }
      // exact replay: same fixed priorities, same rounds, same
      // smallest-missing-color rule
      var active = nodes
      val want = scala.collection.mutable.Map.empty[Long, (Long, Int)]
      var r = 0
      while (active.nonEmpty) {
        val wins = active.filter(v => (adj(v) & (active - v))
          .forall(w => priL(v) < priL(w) || (priL(v) == priL(w) && v < w)))
        wins.foreach { v =>
          val used = adj(v).flatMap(w => want.get(w).map(_._1))
          val c = Iterator.from(0).map(_.toLong).find(!used.contains(_)).get
          want(v) = (c, r)
        }
        active --= wins
        r += 1
        assert(r <= 32, "replay runaway")
      }
      got.foreach { case (v, c, rd) =>
        assert(want(v) == ((c, rd)),
          s"node $v: got ($c,$rd) want ${want(v)}") }
    }
  }

  test("bipartite double cover: odd cycle flagged, even cycle and tree 2-colored from the min anchor") {
    // Three planted components: a triangle (odd cycle → NOT bipartite,
    // NULL colors), a 4-cycle (bipartite: 10-11-12-13-10 alternates
    // 0,1,0,1 anchored at 10), and a path/tree 20-21-22 (0,1,0). Plus a
    // pentagon with a chord (still odd) to catch a parity bug that only
    // shows on non-minimal odd cycles.
    val edges = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L),                      // triangle
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 10L),    // 4-cycle
      (20L, 21L), (21L, 22L),                            // path
      (30L, 31L), (31L, 32L), (32L, 33L), (33L, 34L),
      (34L, 30L), (30L, 32L),                            // pentagon + chord
    ).toDF("a", "b")
    val got = Graph.bipartiteColor(edges)
      .as[(Long, Long, Option[Int], Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got.size == 15)
    (Seq(1L, 2L, 3L)).foreach { v =>
      assert(got(v) == ((1L, None, false)), s"$v -> ${got(v)}") }
    (Seq(30L, 31L, 32L, 33L, 34L)).foreach { v =>
      assert(got(v) == ((30L, None, false)), s"$v -> ${got(v)}") }
    assert(got(10L) == ((10L, Some(0), true)))
    assert(got(11L) == ((10L, Some(1), true)))
    assert(got(12L) == ((10L, Some(0), true)))
    assert(got(13L) == ((10L, Some(1), true)))
    assert(got(20L) == ((20L, Some(0), true)))
    assert(got(21L) == ((20L, Some(1), true)))
    assert(got(22L) == ((20L, Some(0), true)))
  }

  test("two-star CC: agrees with min-label duplicateGroups on a random graph") {
    val rnd = new scala.util.Random(11)
    val pairs = (1 to 160).map(_ => (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter { case (a, b) => a != b }
    val edges = pairs.toDF("a", "b")
    val twoStar = Graph.ccTwoStarsNodes(edges).as[(Long, Long)].collect().toMap
    val minLabel = Dedup.duplicateGroups(
        edges.select($"a".as("left_id"), $"b".as("right_id")))
      .as[(Long, Long)].collect().toMap
    assert(twoStar == minLabel,
      s"diff: ${(twoStar.toSet -- minLabel.toSet).take(5)}")
  }

  test("PQ: an exact duplicate shares the query's codes and ranks first") {
    val dim = 64
    val rnd = new scala.util.Random(7)
    val base = (0L until 200L).map(i => (i, Array.fill(dim)(rnd.nextGaussian().toFloat)))
    val vecs = (base :+ ((200L, base.head._2.clone()))).toDF("vec_id", "embedding")
    val out = Similarity.pqTopK(vecs, vecs.filter($"vec_id" === 0), k = 5)
      .orderBy("rank").select("neighbor_id", "adist").as[(Long, Long)].collect()
    // ADC distance is query→centroid (asymmetric), so it is nonzero even
    // for an exact copy — but the copy's codes are the argmin cells of
    // the query's own subvectors, so no vector can score lower
    assert(out.head._1 == 200L, s"expected copy first, got ${out.mkString(",")}")
    assert(out(1)._2 > out.head._2, s"copy should strictly lead: ${out.mkString(",")}")
  }

  test("PQ and IVF-PQ return pure same-cluster neighbors on clusterable data") {
    val dim = 64
    val rnd = new scala.util.Random(23)
    val centers = Array.fill(8)(Array.fill(dim)(rnd.nextGaussian()))
    // interleaved ids: vec_id<8 (coarse init) and vec_id<16 (PQ init)
    // each cover every planted cluster
    val pts = for (c <- 0 until 8; j <- 0 until 40)
      yield ((j * 8 + c).toLong, centers(c).map(x => (x + 0.05 * rnd.nextGaussian()).toFloat))
    val vecs = pts.toDF("vec_id", "embedding")
    val qs = vecs.filter($"vec_id" < 8)
    // within a tight cluster every member shares its codes, so ADC
    // cannot rank INSIDE the cluster (PQ's resolution limit — ties break
    // by id); the honest quality claim is cluster PURITY: every returned
    // neighbor belongs to the query's planted cluster
    def purity(approx: org.apache.spark.sql.DataFrame): Double = {
      val rows = approx.select($"query_id", $"neighbor_id")
        .as[(Long, Long)].collect()
      rows.count { case (q, n) => n % 8 == q % 8 }.toDouble / rows.length
    }
    assert(purity(Similarity.pqTopK(vecs, qs, k = 10)) == 1.0)
    assert(purity(Similarity.ivfPqTopK(vecs, qs, k = 10,
      nCells = 8, nProbe = 2)) == 1.0)
  }

  test("negative sampling: k distinct non-self partners per key, partition-stable") {
    val docs = (0L until 200L).toDF("doc_id")
    val out = graft.ops.Sampling.negativeSample(docs, "doc_id", k = 2, nShards = 8)
      .as[(Long, Long, Long, Long)].collect()
    val byKey = out.groupBy(_._1)
    assert(byKey.size == 200, s"every key present: ${byKey.size}")
    byKey.foreach { case (k, rows) =>
      val negs = rows.map(_._4).toSet
      assert(rows.length == 2 && negs.size == 2 && !negs.contains(k),
        s"key $k: $rows")
    }
    // same pairings regardless of partitioning
    val re = graft.ops.Sampling.negativeSample(docs.repartition(13), "doc_id",
      k = 2, nShards = 8).as[(Long, Long, Long, Long)].collect().toSet
    assert(re == out.toSet, "pairings changed under repartition")
  }

  test("quantized k-means recovers planted clusters and is rerun-stable") {
    val dim = 64
    val rnd = new scala.util.Random(17)
    val centers = Array.fill(4)(Array.fill(dim)(rnd.nextGaussian()))
    // id = j*4 + c interleaves the classes so init vectors 0..3 (vec_id<k)
    // each come from a different planted cluster
    val pts = for (c <- 0 until 4; j <- 0 until 40)
      yield ((j * 4 + c).toLong, centers(c).map(x => (x + 0.05 * rnd.nextGaussian()).toFloat))
    val vecs = pts.toDF("vec_id", "embedding")
    val out = Similarity.kmeansQuantized(vecs, k = 4, iters = 2)
      .select("n_members", "id_sum").as[(Long, Long)].collect().toSet
    // cluster c holds exactly {4j+c : j<40}: sum = 4*(0+..+39) + 40c
    val expected = (0 until 4).map(c => (40L, 3120L + 40L * c)).toSet
    assert(out == expected, s"clusters not recovered: $out")
    val again = Similarity.kmeansQuantized(vecs, k = 4, iters = 2)
      .select("n_members", "id_sum").as[(Long, Long)].collect().toSet
    assert(again == expected, "k-means not rerun-stable")
  }

  test("z-order layout: a 2-D box touches a strict subset of files") {
    val path = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    Layout.zorderWrite(orders, col("o_custkey"),
      floor(col("o_totalprice") / 1000.0).cast("long"), bits = 15,
      nFiles = 16, path)
    val back = spark.read.parquet(path)
    // round-trip completeness
    assert(back.count() == orders.count())
    val boxed = back.filter(col("o_custkey").between(100, 199) &&
      col("o_totalprice") >= 50000.0 && col("o_totalprice") < 150000.0)
    val totalFiles = back.select(input_file_name()).distinct().count()
    val boxFiles = boxed.select(input_file_name()).distinct().count()
    // the selling point: a box selective in BOTH dimensions lands in a
    // strict subset of z-ordered files (a 1-D sort can't cluster both)
    assert(totalFiles >= 8, s"expected multiple files, got $totalFiles")
    assert(boxFiles < totalFiles / 2,
      s"box touched $boxFiles of $totalFiles files — no 2-D clustering")
    // interleave correctness on a hand pair: a=0b101 (bits 0,2), b=0b011
    // (bits 0,1) -> z = a-bits at even positions | b-bits at odd
    val z = Seq((5L, 3L)).toDF("a", "b")
      .select(Layout.zOrderKey(col("a"), col("b"), 3).as("z"))
      .as[Long].head()
    assert(z == ((1L << 0) | (1L << 4) | (1L << 1) | (1L << 3)), z.toString)
  }

  test("skyline: bucketed plan equals brute-force dominance; ties survive") {
    import spark.implicits._
    // crafted frontier with equal-x, equal-(x,y), and dominated points
    val pts = Seq(
      (1L, 10L, 100L), (2L, 10L, 90L),          // same x: only max-y survives
      (3L, 20L, 80L), (4L, 20L, 80L),           // exact tie: BOTH survive
      (5L, 30L, 50L), (6L, 25L, 49L),           // (6) dominated by (5)
      (7L, 40L, 10L), (8L, 5L, 120L),
      (9L, 40L, 10L), (10L, 39L, 10L)           // (9) ties (7); (10) dominated
    ).toDF("id", "x", "y")
    for (buckets <- Seq(1, 3, 32)) {            // bucketing must not matter
      val got = Skyline.frontier(pts, "x", "y", buckets)
        .select("id").as[Long].collect().toSet
      assert(got == Set(1L, 3L, 4L, 5L, 7L, 8L, 9L), s"buckets=$buckets: $got")
    }
    // rerun under different partitioning: selection is value-based
    val re = Skyline.frontier(pts.repartition(7), "x", "y", 3)
      .select("id").as[Long].collect().toSet
    assert(re == Set(1L, 3L, 4L, 5L, 7L, 8L, 9L))
    // scale guard: no corpus-wide unpartitioned window — every window in
    // the executed plan must run over the collapsed level/bucket frames,
    // which the corpus (carrying `id`) never enters
    val plan = Skyline.frontier(pts, "x", "y", 3)
      .queryExecution.executedPlan.toString
    val windowLines = plan.linesIterator.filter(_.contains("Window")).toSeq
    assert(windowLines.nonEmpty && !windowLines.exists(_.contains("id#")),
      s"corpus column inside a window operator:\n$plan")
  }

  test("url canonicalization: each rule fires; canonical forms collide") {
    import spark.implicits._
    val urls = Seq(
      "HTTPS://WWW.Example.COM:443/a/b/?q=1&utm_source=x&page=2#frag",
      "https://example.com/a/b?page=2&q=1",
      "http://example.com:80/",
      "http://example.com",
      "https://example.com:8443/a",                 // non-default port kept
      "ftp://Example.com:80/a",                     // non-http :80 kept
      "https://example.com/a?fbclid=z&gclid=y&ref=r&utm_campaign=c",
      "not a url").toDF("u")
      .select(col("u"), Web.canonicalizeUrl(col("u")).as("c"))
      .as[(String, String)].collect().toMap
    assert(urls("HTTPS://WWW.Example.COM:443/a/b/?q=1&utm_source=x&page=2#frag")
      == "https://example.com/a/b?page=2&q=1")
    assert(urls("https://example.com/a/b?page=2&q=1")
      == "https://example.com/a/b?page=2&q=1")      // already canonical
    assert(urls("http://example.com:80/") == "http://example.com/")
    assert(urls("http://example.com") == "http://example.com/")
    assert(urls("https://example.com:8443/a") == "https://example.com:8443/a")
    assert(urls("ftp://Example.com:80/a") == "ftp://example.com:80/a")
    assert(urls("https://example.com/a?fbclid=z&gclid=y&ref=r&utm_campaign=c")
      == "https://example.com/a")
    assert(urls("not a url") == "://" + "/")        // non-URL: inert key
  }

  test("acf: lag-1 autocorrelation matches the closed form; gaps skip") {
    import spark.implicits._
    import java.sql.Timestamp
    // one event per hour-bucket position in a fixed pattern, one series;
    // counts per bucket: 1,2,1,2,... (alternating) => acf(1) = -1 * (n adj)
    val rows = (0 until 12).flatMap { h =>
      val n = if (h % 2 == 0) 1 else 3
      (0 until n).map(i => ("a", new Timestamp(h * 3600000L + i * 1000L)))
    }
    val df = rows.toDF("event_type", "ts")
    val acf = TimeSeries.acfBuckets(df, "event_type", "ts", 3600L, 2)
      .select("lag", "acf", "n_pairs").as[(Int, Double, Long)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // series 1,3,1,3,... mean 2, deviations ±1: acf(1) = -1, acf(2) = +1
    // up to the (n-1)/n window edge effect; with 12 buckets, num over 11
    // pairs, den over 12 squares: acf(1) = -11/12, acf(2) = 10/12
    assert(math.abs(acf(1)._1 - (-11.0 / 12).toDouble) < 1e-6, acf.toString)
    assert(math.abs(acf(2)._1 - (10.0 / 12).toDouble) < 1e-6, acf.toString)
    assert(acf(1)._2 == 11 && acf(2)._2 == 10)
  }

  test("hits: pure-hub/pure-authority sides, L-inf normalized, converged ranks") {
    import spark.implicits._
    // star-ish bipartite: buyer 1 touches sellers {-1,-2,-3}, buyer 2
    // touches {-1}, buyer 3 touches {-2}. Seller -1,-2 shared, -3 not.
    val ed = Seq((1L, -1L), (1L, -2L), (1L, -3L), (2L, -1L), (3L, -2L))
      .toDF("src", "dst")
    val out = Graph.hits(ed, "src", "dst", iters = 3)
      .as[(Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // L-inf: best auth and best hub are exactly 1.0
    assert(out.values.map(_._1).max == 1.0 && out.values.map(_._2).max == 1.0)
    // buyer 1 is the top hub; sellers -1/-2 tie as top authorities and
    // beat -3 (one strong + one weak buyer vs one strong only)
    assert(out(1L)._2 == 1.0, out.toString)
    assert(out(-1L)._1 == out(-2L)._1 && out(-1L)._1 > out(-3L)._1)
    // hub side of sellers and auth side of buyers are zero
    assert(Seq(-1L, -2L, -3L).forall(k => out(k)._2 == 0.0))
    assert(Seq(1L, 2L, 3L).forall(k => out(k)._1 == 0.0))
  }

  test("ccnet buckets: tertile split per language, monotone in perplexity") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val b = TextAnalysis.perplexityBuckets(docs)
    val byLang = b.groupBy(col("lang"), col("bucket")).count()
      .as[(String, String, Long)].collect()
      .groupBy(_._1).map { case (l, rs) =>
        l -> rs.map(r => r._2 -> r._3).toMap }
    byLang.foreach { case (lang, m) =>
      val n = m.values.sum
      // histogram thresholds: head ends at the first bin crossing n/3,
      // so head is at least a third (can overshoot by one bin's mass)
      assert(m.getOrElse("head", 0L) * 3 >= n, s"$lang: $m")
      assert(m.getOrElse("head", 0L) + m.getOrElse("middle", 0L) >= 2 * n / 3,
        s"$lang: $m")
    }
    // monotone: every head ppl <= every middle ppl <= every tail ppl
    val agg = b.groupBy(col("lang"), col("bucket"))
      .agg(min("ppl").as("lo"), max("ppl").as("hi"))
      .as[(String, String, Double, Double)].collect()
      .groupBy(_._1).map { case (l, rs) =>
        l -> rs.map(r => r._2 -> ((r._3, r._4))).toMap }
    agg.foreach { case (lang, m) =>
      for (h <- m.get("head"); mid <- m.get("middle"))
        assert(h._2 <= mid._1 + 0.125, s"$lang head/middle overlap: $m")
      for (mid <- m.get("middle"); t <- m.get("tail"))
        assert(mid._2 <= t._1 + 0.125, s"$lang middle/tail overlap: $m")
    }
  }

  test("semantic dedup: lowest id survives a planted near-dup group; outlier kept") {
    import spark.implicits._
    val dim = 64
    // ids 0..5: one tight group along e0 (pairwise cosine ≈ 1);
    // id 6: orthogonal outlier along e1
    val group = (0 until 6).map { i =>
      val v = Array.fill(dim)(0.0f)
      v(0) = 1.0f; v(1) = 0.001f * i
      (i.toLong, v)
    }
    val outlier = {
      val v = Array.fill(dim)(0.0f); v(1) = 1.0f
      (6L, v)
    }
    val vecs = (group :+ outlier).toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(vecs, k = 1, iters = 1,
        tauNum = 9, tauDen = 10)
      .select("vec_id", "kept").as[(Long, Boolean)].collect().toMap
    assert(out(0L), "group representative (lowest id) must survive")
    assert(out(6L), "orthogonal outlier must survive")
    assert((1 to 5).forall(i => !out(i.toLong)), s"dups not dropped: $out")
  }

  test("semantic dedup hot-cluster guard: planted giant cluster keeps pair count linear") {
    import spark.implicits._
    val dim = 64
    val n = 300
    // one giant pile of near-identical vectors: every LSH split fails on
    // purpose (identical signs), so the guard must hit the representative
    // fallback — the worst case the cap exists for
    val vecs = (0 until n).map { i =>
      val v = Array.fill(dim)(0.0f); v(0) = 1.0f; v(1) = 0.0001f * (i % 3)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val assigned = Similarity.kmeansAssignments(vecs, k = 1, iters = 1)
    val cap = 32
    val pairs = Dedup.semanticDupPairs(assigned, tauNum = 9, tauDen = 10,
      maxClusterSize = cap, dim = dim)
    val nPairs = pairs.count()
    // unguarded all-pairs would be n(n-1)/2 = 44850; the guard bounds the
    // comparisons at (#cells)·(cellSize-1) ≤ n-ish
    assert(nPairs <= n.toLong, s"pair count not capped: $nPairs")
    // and the dedup verdicts still collapse the pile onto per-cell
    // representatives: at most #cells survivors among the pile
    val out = Dedup.semanticDedup(vecs, k = 1, iters = 1, tauNum = 9,
        tauDen = 10, maxClusterSize = cap, dim = dim)
      .select("vec_id", "kept").as[(Long, Boolean)].collect()
    val survivors = out.count(_._2)
    assert(survivors < n / 4, s"guard kept $survivors of $n near-identical docs")
    assert(out.toMap.apply(0L), "minimum id must survive")
    // guard disabled (default) on an in-cap frame: identical verdicts
    val exact = Dedup.semanticDedup(vecs, k = 1, iters = 1,
        tauNum = 9, tauDen = 10)
      .select("vec_id", "kept").as[(Long, Boolean)].collect().toMap
    assert(exact(0L) && exact.count(_._2) == 1,
      "unguarded run must keep exactly the minimum id")
  }

  test("personalized pagerank: two-node closed form, restart mass on the seed") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val seeds = Seq(Tuple1(1L)).toDF("node")
    val out = Graph.personalizedPagerank(edges, "src", "dst", seeds,
        iters = 2, damping = 0.5)
      .as[(Long, Double)].collect().toMap
    // r=(1,0); pr1=(0.5,0.5); pr2 = (0.5·1+0.5·0.5, 0+0.5·0.5) = (0.75, 0.25)
    assert(out == Map(1L -> 0.75, 2L -> 0.25), out.toString)
    // seeds absent from the graph are ignored; restart renormalizes
    val out2 = Graph.personalizedPagerank(edges, "src", "dst",
        Seq(1L, 99L).toDF("node"), iters = 2, damping = 0.5)
      .as[(Long, Double)].collect().toMap
    assert(out2 == out, s"phantom seed changed scores: $out2")
  }

  test("bounded closeness: path-graph closed form, ball truncated at k hops") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val seeds = Seq(Tuple1(1L)).toDF("node")
    val out = Graph.closenessBounded(edges, seeds, rounds = 3)
      .as[(Long, Long, Long, Double)].collect().toSeq
    // 3 rounds from node 1 reach {1,2,3,4} (node 5 is 4 hops away):
    // sum of distances 0+1+2+3 = 6, closeness (4-1)/6 = 0.5
    assert(out == Seq((1L, 4L, 6L, 0.5)), s"got $out")
  }

  test("bounded betweenness: path-graph dependency closed form") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val seeds = Seq(Tuple1(1L)).toDF("node")
    val out = Graph.betweennessBounded(edges, seeds)
      .as[(Long, Double)].collect().toMap
    // from seed 1 truncated at 3 hops: δ(4)=0, δ(3)=1·(1+0)=1, δ(2)=1·(1+1)=2
    assert(out == Map(2L -> 2.0, 3L -> 1.0, 4L -> 0.0), s"got $out")
  }

  test("pca power iteration: recovers a planted dominant axis at unit norm") {
    import spark.implicits._
    val dim = 64
    val rnd = new scala.util.Random(5)
    val pts = (0 until 200).map { i =>
      val v = Array.fill(dim)(0.05 * rnd.nextGaussian())
      v(7) += (if (i % 2 == 0) 1.0 else -1.0)
      (i.toLong, v.map(_.toFloat))
    }
    val out = Similarity.pcaPowerQuantized(pts.toDF("vec_id", "embedding"),
        iters = 2)
      .as[(Long, Double)].collect().toMap
    val norm = math.sqrt(out.values.map(x => x * x).sum)
    assert(math.abs(norm - 1.0) < 1e-9, s"loadings not unit norm: $norm")
    assert(math.abs(out(7L)) > 0.9, s"dominant axis not found: ${out(7L)}")
  }

  test("kneser-ney: closed form on a tiny corpus") {
    import spark.implicits._
    val docs = Seq((0L, "a b"), (1L, "a b"), (2L, "a c")).toDF("doc_id", "text")
    val kn = TextAnalysis.kneserNey(docs)
      .select("w1", "w2", "pkn").as[(String, String, Double)].collect()
      .map { case (w1, w2, p) => (w1, w2) -> p }.toMap
    // c(a,b)=2, c(a,c)=1, cw1(a)=3, N1+(a·)=2, N1+(·b)=N1+(·c)=1, N1+(··)=2
    assert(kn(("a", "b")) == (2 - 0.75 + 0.75 * 2 * 0.5) / 3)
    assert(kn(("a", "c")) == (0.25 + 0.75 * 2 * 0.5) / 3)
    // observed mass is the full mass here (no unseen continuation of 'a'
    // has backoff weight: 'a' never occurs as a second token)
    assert(math.abs(kn(("a", "b")) + kn(("a", "c")) - 1.0) < 1e-15)
  }

  test("round-6 analytics invariants: bounded scores, identities, bootstrap mass") {
    import spark.implicits._
    val dec = SparkEntry.queries("ts_decompose")(spark, sfDir)
      .select(abs(col("n") - (col("trend") + col("seasonal") + col("residual"))))
      .as[Double].collect()
    assert(dec.forall(_ < 1e-9), "decomposition identity violated")
    val sil = SparkEntry.queries("ann_silhouette")(spark, sfDir)
      .select("s").as[Double].collect()
    assert(sil.forall(s => s >= -1.0 && s <= 1.0), "silhouette out of [-1,1]")
    val ast = SparkEntry.queries("graph_assortativity")(spark, sfDir)
      .select("assortativity").as[Double].collect().head
    assert(ast >= -1.0 && ast <= 1.0, s"assortativity $ast out of [-1,1]")
    val lcc = SparkEntry.queries("graph_clustering_coeff")(spark, sfDir)
      .select("lcc").as[Double].collect()
    assert(lcc.forall(x => x >= 0.0 && x <= 1.0), "lcc out of [0,1]")
    // Poisson(1) weights: each replicate's effective size stays near n
    val nOrders = spark.read.parquet(s"$sfDir/orders.parquet").count()
    val boot = SparkEntry.queries("sample_bootstrap")(spark, sfDir)
      .select("n_eff").as[Long].collect()
    assert(boot.length == 3 &&
      boot.forall(n => math.abs(n - nOrders) < 0.1 * nOrders),
      s"bootstrap mass drifted: $nOrders vs ${boot.toSeq}")
    val tfidf = SparkEntry.queries("text_tfidf_topk")(spark, sfDir)
      .groupBy(col("doc_id")).count().select("count").as[Long].collect()
    assert(tfidf.forall(_ <= 3), "tfidf top-k emitted more than k rows")
  }

  test("rake: phrase segmentation at stopwords, deg sums phrase lengths") {
    import spark.implicits._
    val docs = Seq((0L, "a big fox the red dog"),
      (1L, "big fox")).toDF("doc_id", "text")
    val out = TextAnalysis.rake(docs, stopwords = Seq("a", "the"))
      .select("word", "freq", "deg", "score")
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // phrases: [big fox] ×2, [red dog] ×1
    assert(out("big") == ((2L, 4L, 2.0)), s"got ${out("big")}")
    assert(out("fox") == ((2L, 4L, 2.0)))
    assert(out("red") == ((1L, 2L, 2.0)))
    assert(out("dog") == ((1L, 2L, 2.0)))
    assert(!out.contains("a") && !out.contains("the"))
  }

  test("key-skew: two-level rank matches the global window; no key-frame global sort") {
    // value parity with the direct single-window formulation
    val got = SparkEntry.queries("rel_key_skew")(spark, sfDir)
      .select($"o_custkey", $"n_orders", $"share", $"gini")
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1)
    val cnt = spark.read.parquet(s"$sfDir/orders.parquet")
      .groupBy($"o_custkey").agg(count(lit(1)).as("x"))
    val w = org.apache.spark.sql.expressions.Window.orderBy($"x", $"o_custkey")
    val ranked = cnt.select($"o_custkey", $"x", row_number().over(w).as("i"))
      .as[(Long, Long, Int)].collect()
    val nk = ranked.length.toLong
    val sx = ranked.map(_._2).sum
    val six = ranked.map(r => r._3.toLong * r._2).sum
    val gini = (2L * six - (nk + 1) * sx).toDouble / (nk * sx)
    val expect = ranked.filter(_._3 > nk - 5)
      .map(r => (r._1, r._2, r._2.toDouble / sx, gini)).sortBy(_._1)
    assert(got.toSeq == expect.toSeq,
      s"two-level rank diverged: $got vs ${expect.toSeq}")
    // plan guard: the per-key row_number window is PARTITIONED by
    // (x, stripe); the only ordered-unpartitioned frames are the
    // collapsed bucket-prefix window and the scalar totals — the
    // distinct-key frame never crosses a single task
    withoutAqe {
      val plan = SparkEntry.queries("rel_key_skew")(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert("row_number\\(\\) windowspecdefinition\\(x#\\d+L?, __g#"
        .r.findFirstIn(plan).isDefined,
        "per-key rank must be a partitioned window:\n" + plan.take(3000))
      val singles = "Exchange SinglePartition".r.findAllIn(plan).size
      assert(singles <= 2,
        s"expected at most bucket-prefix + totals single-partition frames, got $singles")
    }
  }

  test("fused co-purchase edge build: equals the multiplicity form, one corpus shuffle") {
    // reference form: (order, part) multiplicities, pair weight cnt(a)*cnt(b)
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select($"l_orderkey".as("ok"), $"l_partkey".as("pk"))
    val byOrder = li.as[(Long, Long)].collect().groupBy(_._1)
    val expect = byOrder.iterator.flatMap { case (_, rows) =>
      val cnt = rows.groupBy(_._2).view.mapValues(_.size.toLong)
      for {
        (a, ca) <- cnt.iterator; (b, cb) <- cnt.iterator if a < b
      } yield ((a, b), ca * cb)
    }.toSeq.groupBy(_._1).view.mapValues(_.map(_._2).sum)
      .filter(_._2 >= 2).keySet.toSeq.sorted
    val got = Harness.materialize(GraphQueries.coPurchaseEdges(spark, sfDir))(
      _.as[(Long, Long)].collect().toSeq.sorted)
    assert(got == expect,
      s"fused edge build diverged: ${got.take(5)}... vs ${expect.take(5)}...")
    // plan guard: exactly two corpus-keyed exchanges — the per-order
    // group and the pair-support aggregate; no self-join, no extra
    // multiplicity stage. Judged on the build coPurchaseEdges pins: the
    // pinned frame's plan is one checkpoint leaf.
    withoutAqe {
      val plan = GraphQueries.coPurchaseWeighted(spark, sfDir).select($"a", $"b")
        .queryExecution.executedPlan.toString
      val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(shuffles == 2,
        s"fused edge build must shuffle exactly twice, got $shuffles:\n" +
          plan.take(3000))
      assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
        "fused edge build must not contain a join:\n" + plan.take(3000))
    }
  }

  test("double-sweep diameter: exact on a path and a star; bounded by rounds") {
    import spark.implicits._
    // path 1-2-3-4-5: sweep 1 from node 1 reaches node 4 at the rounds=3
    // horizon (tie → smallest id); sweep 2 from 4 sees all 5 nodes, max
    // dist 3 (node 1)
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val p = Graph.diameterDoubleSweep(path, rounds = 3)
      .as[(Long, Long, Long, Long)].collect().head
    assert(p == ((1L, 4L, 3L, 5L)), s"path diameter row: $p")
    // with rounds ≥ eccentricity the sweep is exact: far node 5, lb 4
    val pFull = Graph.diameterDoubleSweep(path, rounds = 5)
      .as[(Long, Long, Long, Long)].collect().head
    assert(pFull == ((1L, 5L, 4L, 5L)), s"full path diameter row: $pFull")
    // star 0-{1,2,3}: from 0 all spokes at 1 (far = smallest spoke 1);
    // from 1 the far side is the other spokes at 2 — the true diameter
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("a", "b")
    val st = Graph.diameterDoubleSweep(star, rounds = 3)
      .as[(Long, Long, Long, Long)].collect().head
    assert(st == ((0L, 1L, 2L, 4L)), s"star diameter row: $st")
  }

  test("nearest as-of: min |dt| wins, exact tie goes backward, misses null") {
    import java.sql.Timestamp
    def ts(s: Long) = Timestamp.from(java.time.Instant.ofEpochSecond(s))
    val left = Seq(
      (1L, 10L, ts(100)),  // right at 90 (d=10) and 105 (d=5) -> forward
      (2L, 10L, ts(200)),  // right at 195 (d=5) and 205 (d=5) -> TIE -> backward
      (3L, 10L, ts(300)),  // right exactly at 300 -> backward, d=0
      (4L, 99L, ts(100))   // no right rows for key 99 -> nulls
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (10L, ts(90), 1.0), (10L, ts(105), 2.0),
      (10L, ts(195), 3.0), (10L, ts(205), 4.0),
      (10L, ts(300), 5.0)
    ).toDF("user_id", "ts", "v")
    val out = AsOfJoin.asOfNearest(left, right, "user_id", "ts", Seq("v"))
      .select($"event_id", $"asof_v", $"asof_dir")
      .as[(Long, Option[Double], Option[String])].collect().sortBy(_._1)
    assert(out(0) == ((1L, Some(2.0), Some("forward"))), s"got ${out(0)}")
    assert(out(1) == ((2L, Some(3.0), Some("backward"))), s"got ${out(1)}")
    assert(out(2) == ((3L, Some(5.0), Some("backward"))), s"got ${out(2)}")
    assert(out(3) == ((4L, None, None)), s"got ${out(3)}")
  }

  test("MRR: planted positive rank and beyond-k miss") {
    // 4-dim vectors; query 0 (label A): same-label positive planted as
    // the 2nd-nearest neighbor -> rr = 1/2. Query 1 (label B): its only
    // same-label partner is made maximally dissimilar and k=2 bounds the
    // scan -> miss, rr = 0.
    val e = Seq(
      (0L, Array(1.0f, 0f, 0f, 0f), 10L),   // query, label A
      (1L, Array(0f, 1.0f, 0f, 0f), 20L),   // query, label B
      (2L, Array(0.9f, 0.1f, 0f, 0f), 30L), // nearest to q0, wrong label
      (3L, Array(0.8f, 0.2f, 0f, 0f), 10L), // 2nd nearest to q0, label A
      (4L, Array(0f, -1.0f, 0f, 0f), 20L)   // q1's partner, opposite dir
    ).toDF("vec_id", "embedding", "label")
    val qlab = e.filter($"vec_id" < 2)
      .select($"vec_id".as("query_id"), $"label".as("qlabel"))
    val nn = Similarity.bruteForceTopK(e, e.filter($"vec_id" < 2), k = 2)
      .join(broadcast(qlab), Seq("query_id"))
    val labels = e.select($"vec_id".as("neighbor_id"), $"label".as("nbr_label"))
    val firstRel = labels.join(broadcast(nn), Seq("neighbor_id"))
      .filter($"nbr_label" === $"qlabel")
      .groupBy($"query_id")
      .agg(min($"rank").cast("long").as("first_rel_rank"))
    val out = qlab.join(firstRel, Seq("query_id"), "left")
      .select($"query_id",
        coalesce($"first_rel_rank", lit(0L)),
        when($"first_rel_rank".isNull, lit(0.0))
          .otherwise(lit(1.0) / $"first_rel_rank"))
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(out(0) == ((0L, 2L, 0.5)), s"got ${out(0)}")
    assert(out(1) == ((1L, 0L, 0.0)), s"got ${out(1)}")
  }

  test("writeBinaryFiles: overwrite clears stale files; binary payloads round-trip verbatim") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bin").toString + "/out"
    // round 1: two docs
    graft.sources.Sources.writeBinaryFiles(
      Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    assert(graft.sources.Sources.readBinaryFiles(spark, dir).count() == 2)
    // round 2: doc 2 removed + a NON-UTF8 binary payload — the rewrite
    // must delete-and-recreate (no stale 2.bin) and write bytes verbatim
    val payload = Array[Byte](0, -1, -2, 65, -128)
    graft.sources.Sources.writeBinaryFiles(
      Seq((1L, payload)).toDF("doc_id", "blob"), "doc_id", "blob", dir)
    val back = graft.sources.Sources.readBinaryFiles(spark, dir)
      .select($"path", $"content").as[(String, Array[Byte])].collect()
    assert(back.length == 1, s"stale files survived: ${back.map(_._1).toSeq}")
    assert(back.head._1.endsWith("1.bin"))
    assert(back.head._2.toSeq == payload.toSeq, "bytes not verbatim")
  }

  test("TwoLevelRank: rank/prefixSum equal the single global window") {
    // crafted frame with heavy ties in the order column and a skewed
    // per-class distribution — ids deliberately NOT dense
    val rows = (0 until 500).map { i =>
      (i * 3L + (i % 2), // id (tie-break; stripe = id div 16)
        s"c${i % 3}",    // class (partCols variant)
        (i % 7).toLong,  // order value, heavily tied
        (i % 11).toLong) // prefix-sum payload
    }
    val df = rows.toDF("id", "cls", "v", "w")
    val stripe = expr("id div 16")
    // global rank over (v, id)
    val gotRank = TwoLevelRank.rank(df, Nil, Seq("v"), stripe, Seq("id"), "r")
      .select($"id", $"r").as[(Long, Long)].collect().toMap
    val wantRank = rows.sortBy(r => (r._3, r._1)).zipWithIndex
      .map { case (r, i) => r._1 -> (i + 1L) }.toMap
    assert(gotRank == wantRank)
    // per-class rank over (v, id) within cls
    val gotCls = TwoLevelRank.rank(df, Seq("cls"), Seq("v"), stripe, Seq("id"), "r")
      .select($"id", $"r").as[(Long, Long)].collect().toMap
    val wantCls = rows.groupBy(_._2).flatMap { case (_, g) =>
      g.sortBy(r => (r._3, r._1)).zipWithIndex.map { case (r, i) => r._1 -> (i + 1L) }
    }
    assert(gotCls == wantCls)
    // exclusive prefix sum of w over (v, id)
    val gotSum = TwoLevelRank.prefixSum(df, Nil, Seq("v"), stripe, Seq("id"),
        $"w", "p").select($"id", $"p").as[(Long, Long)].collect().toMap
    val sorted = rows.sortBy(r => (r._3, r._1))
    val wantSum = sorted.zip(sorted.scanLeft(0L)(_ + _._4))
      .map { case (r, pre) => r._1 -> pre }.toMap
    assert(gotSum == wantSum)
  }

  test("TwoLevelRank.ntileFromRank matches ntile() for every N in 1..40") {
    // the exact SQL remainder convention, including N < n
    for (n <- Seq(1, 7, 8, 13, 40)) {
      val df = (1 to n).map(i => (i.toLong, n.toLong)).toDF("r", "tot")
      val got = df.select($"r",
          TwoLevelRank.ntileFromRank($"r", $"tot", 8).as("b"))
        .as[(Long, Int)].collect().toMap
      val w = org.apache.spark.sql.expressions.Window.orderBy($"r")
      val want = df.select($"r", ntile(8).over(w).as("b"))
        .as[(Long, Int)].collect().toMap
      assert(got == want, s"N=$n: $got vs $want")
    }
  }

  test("length-bucket: two-level ntile matches the global window; no doc-frame global sort") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // the query persists the length frame: freed before the plan guard
    val got = Harness.materialize(SparkEntry.queries("sample_length_bucket")(spark, sfDir))(
      _.select($"bucket", $"n_docs", $"min_len", $"max_len", $"sum_len", $"padding_waste")
        .as[(Int, Long, Long, Long, Long, Long)].collect().sortBy(_._1))
    val w = org.apache.spark.sql.expressions.Window.orderBy($"len", $"doc_id")
    val expect = docs
      .select($"doc_id", size(TextAnalysis.tokens($"text")).cast("long").as("len"))
      .withColumn("bucket", ntile(8).over(w))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_docs"), min($"len").as("min_len"),
        max($"len").as("max_len"), sum($"len").as("sum_len"))
      .withColumn("padding_waste", $"max_len" * $"n_docs" - $"sum_len")
      .as[(Int, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == expect.toSeq)
    // plan guard: the per-doc rank window is PARTITIONED by (len, stripe);
    // only the collapsed bucket-prefix window and the 1-row total cross a
    // single task — the raw document frame never does
    withoutAqe {
      val plan = SparkEntry.queries("sample_length_bucket")(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert("row_number\\(\\) windowspecdefinition\\(len#\\d+L?, __g#"
        .r.findFirstIn(plan).isDefined,
        "per-doc rank must be a partitioned window:\n" + plan.take(3000))
      assert(!"ntile".r.findFirstIn(plan).isDefined,
        "no ntile window may remain in the plan")
      val singles = "Exchange SinglePartition".r.findAllIn(plan).size
      assert(singles <= 2,
        s"expected at most bucket-prefix + total single-partition frames, got $singles")
    }
  }

  test("spearman: monotone ±1, a permuted triple gives 1/2, ties use average ranks") {
    def rho(xs: Seq[(Long, Long)]): Double =
      Profile.spearman(xs.toDF("x", "y"), col("x"), col("y"))
        .select($"rho").as[Double].head()
    // sqrt(A)·sqrt(B) reconstructs the denominator to within a ulp —
    // compare at 1e-12, not bit-exactly
    def close(a: Double, b: Double): Boolean = math.abs(a - b) < 1e-12
    assert(close(rho(Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L))), 1.0))
    assert(close(rho(Seq((1L, 40L), (2L, 30L), (3L, 20L), (4L, 10L))), -1.0))
    // ranks x = (1,2,3), y = (2,1,3): Pearson = 1/2
    assert(close(rho(Seq((1L, 2L), (2L, 1L), (3L, 3L))), 0.5))
    // ties: (1,1,2) on both sides stays perfectly concordant under
    // average ranks
    assert(close(rho(Seq((1L, 5L), (1L, 5L), (2L, 9L))), 1.0))
  }

  test("ks test: disjoint samples hit D=1, identical hit 0, interleaved 1/2") {
    def ks(a: Seq[Long], b: Seq[Long]): (Long, Double) = {
      val r = Profile.ksTest(a.toDF("x"), b.toDF("x"), col("x"))
        .select($"d_num", $"d").as[(Long, Double)].head()
      r
    }
    assert(ks(Seq(1L, 2L), Seq(3L, 4L)) == ((4L, 1.0)))
    assert(ks(Seq(1L, 2L), Seq(1L, 2L)) == ((0L, 0.0)))
    assert(ks(Seq(1L, 3L), Seq(2L, 4L)) == ((2L, 0.5)))
  }

  test("chi2 and gini: closed forms on hand tables") {
    // 2×2 contingency: every marginal 3, N=6 → e = 1.5 in each cell,
    // contrib = 0.25/1.5 per cell, χ² = 2/3, dof = 1
    val pairs = Seq(("a1", 1L), ("a1", 1L), ("a1", 2L),
      ("a2", 1L), ("a2", 2L), ("a2", 2L)).toDF("a", "b")
    val chi = Profile.chi2(pairs, "a", "b")
      .select($"chi2_total", $"dof").as[(Double, Long)].head()
    // the χ² total accumulates at DECIMAL(28,12): each cell contributes
    // rounding at the 12th dp
    assert(math.abs(chi._1 - 2.0 / 3.0) < 1e-10 && chi._2 == 1L, s"got $chi")

    // uniform group → gini 0; one-holder group of 4 → (n−1)/n = 0.75
    val v = Seq(("u", 5L), ("u", 5L), ("u", 5L),
      ("p", 0L), ("p", 0L), ("p", 0L), ("p", 8L)).toDF("g", "x")
    val gini = Profile.gini(v, "g", col("x"))
      .select($"g", $"gini").as[(String, Double)].collect().toMap
    assert(gini("u") == 0.0 && gini("p") == 0.75, s"got $gini")
  }

  test("scene detect: sub-threshold deltas merge, cuts split, short tails count as diff") {
    def bytes(c: Char, n: Int): Array[Byte] = Array.fill(n)(c.toByte)
    // media 1: frame0 = 16×A; frame1 = 13×A + 3×X (3 diffs < 4 → same
    // scene); frame2 = 16×B (cut)
    val m1 = bytes('A', 16) ++ (bytes('A', 13) ++ bytes('X', 3)) ++ bytes('B', 16)
    // media 2: a 8-byte tail frame that PREFIXES its predecessor — the
    // 8 unmatched positions count as differing → cut
    val m2 = bytes('C', 16) ++ bytes('C', 8)
    val media = Seq((1L, m1), (2L, m2)).toDF("doc_id", "payload")
    val got = Multimodal.sceneDetect(
        Multimodal.asMedia(media, "doc_id", "payload"),
        chunkBytes = 16, minDiffBytes = 4)
      .select($"media_id", $"scene_id", $"n_frames", $"first_frame")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 1L, 2L, 0L), (1L, 2L, 1L, 2L),
      (2L, 1L, 1L, 0L), (2L, 2L, 1L, 1L)), s"got $got")
  }

  test("cusum: hand trace matches the max(0, S+dev) recurrence, both sides") {
    // one key, hourly buckets with counts [2,2 | 2,3,4,1]; base=2 →
    // S1=4, b=2, slack=0: dev_up = 2n−4 = [0,2,4,−2], P = [0,2,6,4],
    // S⁺ = P − min(0, runmin P) = [0,2,6,4]; dev_dn flips sign:
    // Q = [0,−2,−6,−4], runmin = [0,−2,−6,−6], S⁻ = [0,0,0,2]
    val rows = Seq(0 -> 2, 1 -> 2, 2 -> 2, 3 -> 3, 4 -> 4, 5 -> 1).flatMap {
      case (hr, cnt) => Seq.fill(cnt)(("k", s"2024-01-01 0$hr:30:00"))
    }
    val df = rows.toDF("event_type", "s")
      .select($"event_type", to_timestamp($"s").as("ts"))
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
      .getEpochSecond / 3600
    val got = TimeSeries.cusum(df, "event_type", "ts", bucketSec = 3600L,
        base = 2, slack = 0L, h = 3L)
      .as[(String, Long, Long, Long, Long, Long, Boolean, Boolean)]
      .collect().sortBy(_._2)
      .map { case (k, b, n, bb, up, dn, au, ad) => (b - base, n, bb, up, dn, au, ad) }
    assert(got.toSeq == Seq(
      (2L, 2L, 2L, 0L, 0L, false, false),
      (3L, 3L, 2L, 2L, 0L, false, false),
      (4L, 4L, 2L, 6L, 0L, true, false),   // 6 ≥ h·b = 6 → alarm
      (5L, 1L, 2L, 4L, 2L, false, false)), s"got ${got.toSeq}")
  }

  test("matrix profile: planted motif pairs up; full band replays an in-test brute force") {
    // 60 hourly buckets of pseudo-random counts with the same 8-bucket
    // shape planted at positions 10 and 40 (scaled 2×: Pearson corr is
    // scale-invariant, so the copies match at r = 1 exactly — the motif)
    val rnd = new scala.util.Random(7)
    val motif = Seq(3, 9, 2, 8, 1, 7, 4, 6)
    val base = Array.fill(60)(1 + rnd.nextInt(5))
    motif.zipWithIndex.foreach { case (m, i) => base(10 + i) = m }
    motif.zipWithIndex.foreach { case (m, i) => base(40 + i) = 2 * m }
    val rows = base.zipWithIndex.flatMap { case (cnt, hr) =>
      Seq.fill(cnt)(("k", java.sql.Timestamp.from(
        java.time.Instant.parse("2024-01-01T00:30:00Z")
          .plusSeconds(3600L * hr))))
    }
    val (w, excl, band) = (8, 4, 59)
    val got = graft.ops.TimeSeries.matrixProfileBanded(
        rows.toSeq.toDF("event_type", "ts"), "event_type", "ts", 3600L,
        w = w, excl = excl, band = band)
      .select($"bucket", $"nn_bucket", $"best_corr")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    val b0 = got.map(_._1).min
    val byPos = got.map(r => (r._1 - b0).toInt -> ((r._2 - b0).toInt, r._3)).toMap
    // the two motif windows are each other's (exact r = 1) best match
    assert(byPos(10) == ((40, 1.0)), s"got ${byPos(10)}")
    assert(byPos(40) == ((10, 1.0)), s"got ${byPos(40)}")
    // brute-force replay of the full rule over the in-test series
    def stats(p: Int) = {
      val xs = (p until p + w).map(base(_).toLong)
      (xs, xs.sum, xs.map(x => x * x).sum)
    }
    got.foreach { case (b, nb, r) =>
      val i = (b - b0).toInt
      val cands = (0 to 60 - w).filter(j =>
        math.abs(j - i) >= excl && math.abs(j - i) <= band)
        .map { j =>
          val (xi, si, qi) = stats(i); val (xj, sj, qj) = stats(j)
          val dot = xi.zip(xj).map { case (a, c) => a * c }.sum
          val num = (w * dot - si * sj).toDouble
          val den = math.sqrt(((w * qi - si * si) * (w * qj - sj * sj)).toDouble)
          (j, num / den)
        }
      val best = cands.minBy { case (j, c) => (-c, j) }
      assert((nb - b0).toInt == best._1 && math.abs(r - best._2) < 1e-12,
        s"pos $i: got (${nb - b0}, $r) want $best")
    }
  }

  test("kalman: gain schedule contracts to the Riccati fixpoint; smoother anticipates a step") {
    // A step series (10 buckets at 2, then 10 at 10): the FILTER is
    // causal — its level lags the step and the pre-step estimates never
    // see the jump; the SMOOTHER revises them with future data, so at
    // the last low bucket smooth > level. The gain column must start at
    // exactly 1 (l_1 = y_1), decrease strictly to the fixpoint, and the
    // fixpoint must solve k = (p+q)/(p+q+r) with p = (1−k)(p+q).
    val rows = (0 until 60).flatMap { hr =>
      Seq.fill(if (hr < 30) 2 else 10)(("k", java.sql.Timestamp.from(
        java.time.Instant.parse("2024-01-01T00:20:00Z")
          .plusSeconds(3600L * hr))))
    }
    val (q, r) = (2.0, 8.0)
    val f = graft.ops.TimeSeries.kalmanSmooth(
        rows.toDF("event_type", "ts"), "event_type", "ts", 3600L, q, r)
      .orderBy("bucket")
      .select($"n", $"level", $"smooth")
      .as[(Long, Double, Double)].collect()
    assert(f.length == 60)
    val gains = graft.ops.TimeSeries.kalman(
        rows.toDF("event_type", "ts"), "event_type", "ts", 3600L, q, r)
      .orderBy("bucket").select($"gain").as[Double].collect()
    assert(gains(0) == 1.0, s"first gain is exactly 1: ${gains(0)}")
    val kStar = gains.last
    // fixpoint: p* = (-q + sqrt(q^2 + 4*r*q)) / 2; k* = (p*+q)/(p*+q+r)
    val pStar = (-q + math.sqrt(q * q + 4 * r * q)) / 2
    assert(math.abs(kStar - (pStar + q) / (pStar + q + r)) < 1e-12,
      s"steady gain $kStar vs Riccati fixpoint")
    gains.sliding(2).foreach { w =>
      assert(w(1) <= w(0), s"gain schedule must be non-increasing: ${w.toSeq}") }
    // causal filter: pre-step levels stay at 2 exactly (constant input)
    assert(f(29)._2 == 2.0, s"filter level before the step: ${f(29)}")
    // smoother pulls the last low bucket toward the coming step
    assert(f(29)._3 > f(29)._2 + 1.0,
      s"smooth must anticipate the step: ${f(29)}")
    // at the last bucket smoother == filter (the RTS base case)
    assert(f(59)._3 == f(59)._2, s"s_T = l_T: ${f(59)}")
  }

  test("kalman trend: slope converges to the ramp; local-level filter can't") {
    // counts = hr + 1, a pure unit ramp: the 2-state filter's slope must
    // converge near 1 and its one-step forecast must track the next
    // observation closely; the LOCAL-LEVEL filter on the same series
    // lags by construction (its forecast is the smoothed level).
    val rows = (0 until 60).flatMap { hr =>
      Seq.fill(hr + 1)(("k", java.sql.Timestamp.from(
        java.time.Instant.parse("2024-01-01T00:20:00Z")
          .plusSeconds(3600L * hr))))
    }
    val f = graft.ops.TimeSeries.kalmanTrend(
        rows.toDF("event_type", "ts"), "event_type", "ts", 3600L,
        qL = 2.0, qS = 0.125, r = 8.0)
      .orderBy("bucket")
      .select($"n", $"level", $"slope", $"forecast_next")
      .as[(Long, Double, Double, Double)].collect()
    assert(f.length == 60)
    val last = f.last
    assert(math.abs(last._3 - 1.0) < 0.05, s"slope on a unit ramp: $last")
    assert(math.abs(last._4 - 61.0) < 1.0, s"forecast tracks: $last")
    val ll = graft.ops.TimeSeries.kalman(
        rows.toDF("event_type", "ts"), "event_type", "ts", 3600L,
        q = 2.0, r = 8.0)
      .orderBy("bucket").select($"level").as[Double].collect()
    // local-level forecast = level; on a ramp it trails the trend model
    assert(math.abs(ll.last - 61.0) > math.abs(last._4 - 61.0) + 0.5,
      s"trend model must beat local-level on a ramp: ll=${ll.last} vs $last")
  }

  test("period detect: exact 12-cycle found at the FUNDAMENTAL lag, not its harmonics") {
    // pattern repeats every 12 hours over 120 buckets: with the biased
    // (den over ALL t) ACF estimator a perfect cycle scores exactly
    // overlap/n — 108/120 = 0.9 at lag 12, 96/120 = 0.8 at 24, … — so
    // the fundamental beats its harmonics BY VALUE, and the flag must
    // clear 0.3. (The lag tie-break is exercised when two lags round
    // equal; here the bias already orders them.)
    val pat = Array(3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8)
    val rows = (0 until 120).flatMap { hr =>
      Seq.fill(pat(hr % 12))(("s", java.sql.Timestamp.from(
        java.time.Instant.parse("2024-01-01T00:10:00Z")
          .plusSeconds(3600L * hr))))
    }
    val got = graft.ops.TimeSeries.periodDetect(
        rows.toDF("event_type", "ts"), "event_type", "ts", 3600L,
        maxLag = 48)
      .as[(String, Int, Double, Long, Boolean)].collect()
    assert(got.length == 1)
    val (_, period, acf, nPairs, seasonal) = got.head
    assert(period == 12, s"fundamental, not a harmonic: $period")
    assert(acf == 0.9 && seasonal, s"exact cycle at 108/120 overlap: acf=$acf")
    assert(nPairs == 108L, s"pairs at lag 12 over 120 buckets: $nPairs")
  }

  test("ldp frequency: deterministic k-RR replay exact; debias formula and totals hold") {
    val dom = Seq("A", "B", "C", "D", "E")
    val n = 400
    val truthOf = (i: Int) => dom(i % 5)
    val rows = (1 to n).map(i => (i.toLong, truthOf(i)))
    def draw(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.take(4).map(b => "%02x".format(b & 0xff)).mkString, 16) % 1000000L
    }
    // scala replay of the mechanism
    val reports = rows.map { case (id, v) =>
      val t = dom.indexOf(v) + 1
      if (draw(id.toString) < 750000L) v
      else {
        val f0 = draw(id.toString + ":f") % 4
        val idx = if (f0 + 1 < t) f0 + 1 else f0 + 2
        dom(idx.toInt - 1)
      }
    }
    val expReported = reports.groupBy(identity).view.mapValues(_.size.toLong)
    val got = graft.ops.Profile.ldpFrequency(
        rows.toDF("id", "seg"), "id", "seg", dom, pKeep = 0.75)
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.keySet == dom.toSet)
    def r6(d: Double): Double =
      BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    dom.foreach { seg =>
      val (_, nRep, nTrue, nEst) = got(seg)
      assert(nRep == expReported.getOrElse(seg, 0L),
        s"$seg reported: $nRep vs ${expReported.get(seg)}")
      assert(nTrue == 80L, s"$seg truth: $nTrue")
      assert(nEst == r6((nRep - n * 0.0625) / 0.6875), s"$seg estimate")
    }
    assert(got.values.map(_._2).sum == n, "reports conserve the total")
    // the estimator lands near the truth (sanity of the debias, not a
    // statistical claim: fixed coins, fixed bound)
    dom.foreach { seg =>
      assert(math.abs(got(seg)._4 - 80.0) < 30.0, s"$seg est ${got(seg)._4}") }
  }

  test("backtest: trend series hands the win to holt, pure seasonality to naive") {
    // key "t": linear trend (count = hr+1) — seasonal-naive always lags
    // by the 24-bucket slope (error 24 every eval) while holt tracks
    // the trend; key "s": an exact period-24 pattern — naive is perfect
    // (error 0), holt pays for chasing the oscillation.
    val pattern = (0 until 24).map(h => 1 + (h * 5) % 9)
    val rows = (0 until 60).flatMap { hr =>
      Seq.fill(hr + 1)(("t", hr)) ++ Seq.fill(pattern(hr % 24))(("s", hr))
    }.map { case (k, hr) => (k, java.sql.Timestamp.from(
      java.time.Instant.parse("2024-01-01T00:45:00Z")
        .plusSeconds(3600L * hr)))
    }
    val got = graft.ops.TimeSeries.holtBacktest(
        rows.toDF("event_type", "ts"), "event_type", "ts", 3600L,
        alpha = 0.5, beta = 0.25, period = 24)
      .as[(String, Long, Double, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("t")._2 == 36L && got("s")._2 == 36L, s"evals ${got.values}")
    assert(got("t")._5, s"trend key should favor holt: ${got("t")}")
    assert(got("t")._4 == 24.0, s"naive MAE on slope-1 trend is exactly 24")
    assert(!got("s")._5 && got("s")._4 == 0.0,
      s"seasonal key should favor naive exactly: ${got("s")}")
    assert(got("s")._3 > 0.0, "holt pays a positive MAE chasing the pattern")
  }

  test("seasonal backtest: hybrid beats BOTH baselines on a seasonal+trend key; exact on pure cycle") {
    // key "m": period-24 pattern + 4/cycle drift — naive always lags by
    // the slope (MAE exactly 4), plain holt pays for chasing the
    // oscillation (MAE ~16.7), per-phase holt converges to the drift
    // (MAE ~3.49 over 10 cycles, sequential-replay values). key "s":
    // the pure pattern — naive AND per-phase holt are exact (each
    // phase's series is constant ⇒ l=x, b=0 from step 1), and the tie
    // hands the winner flag to seasonal_holt by the documented order.
    val pat = (0 until 24).map(h => 1 + ((h * 5) % 9) * 5)
    val rows = (0 until 240).flatMap { hr =>
      Seq.fill(pat(hr % 24) + 4 * (hr / 24))(("m", hr)) ++
        Seq.fill(pat(hr % 24))(("s", hr))
    }.map { case (k, hr) => (k, java.sql.Timestamp.from(
      java.time.Instant.parse("2024-01-01T00:45:00Z")
        .plusSeconds(3600L * hr)))
    }
    val got = graft.ops.TimeSeries.seasonalBacktest(
        rows.toDF("event_type", "ts"), "event_type", "ts", 3600L,
        alpha = 0.5, beta = 0.25, period = 24)
      .as[(String, Long, Double, Double, Double, String)].collect()
      .map(r => r._1 -> r).toMap
    val m = got("m")
    assert(m._2 == 216L, s"evals $m")
    assert(m._6 == "seasonal_holt", s"hybrid must win the mixed key: $m")
    assert(m._5 < m._4 && m._5 < m._3,
      s"mae_sholt must beat naive and holt: $m")
    assert(m._4 == 4.0, s"naive MAE on a 4/cycle drift is exactly 4: $m")
    assert(math.abs(m._5 - 3.486598) < 1e-3, s"sholt MAE drifted: $m")
    val sK = got("s")
    assert(sK._4 == 0.0 && sK._5 == 0.0,
      s"pure cycle: naive and per-phase holt are exact: $sK")
    assert(sK._6 == "seasonal_holt", s"tie-break order: $sK")
    assert(sK._3 > 0.0, "plain holt pays a positive MAE on the cycle")
  }

  test("ar2: Yule-Walker wins the four-way backtest on an oscillatory key; constant key degrades to mean") {
    // key "o": an exact period-5 integer pattern (18,12,4,4,12 — one
    // dominant harmonic) over 96 hourly buckets. Period 5 divides
    // neither 24 nor the phase stride, so naive-24 and per-phase holt
    // both see a rotating value (gcd(5,24)=1) and plain holt chases the
    // oscillation; Yule-Walker AR(2) captures the harmonic in closed
    // form (sequential replay: mae_ar2 ≈ 0.6548 vs 5.6–6.6 for the
    // other three). key "c": constant counts — Σd² = 0 trips the
    // degenerate guard, φ = 0, forecast = mean exactly.
    val pat = Seq(18, 12, 4, 4, 12)
    val rows = (0 until 96).flatMap { hr =>
      Seq.fill(pat(hr % 5))(("o", hr)) ++ Seq.fill(7)(("c", hr))
    }.map { case (k, hr) => (k, java.sql.Timestamp.from(
      java.time.Instant.parse("2024-01-01T00:45:00Z")
        .plusSeconds(3600L * hr)))
    }.toDF("event_type", "ts")
    val model = graft.ops.TimeSeries.ar2(rows, "event_type", "ts", 3600L)
      .as[(String, Long, Long, Double, Double, Double, Option[Double])]
      .collect()
    val c = model.filter(_._1 == "c")
    assert(c.forall(r => r._4 == 0.0 && r._5 == 0.0),
      s"constant key must take the degenerate guard: ${c.take(3).toSeq}")
    assert(c.filter(_._7.isDefined).forall(_._7.contains(7.0)),
      "constant key forecasts its mean exactly")
    val o = model.filter(_._1 == "o").sortBy(_._2)
    assert(o.head._7.isEmpty && o.tail.forall(_._7.isDefined),
      "forecast_next exists from the second observed bucket on")
    // sequential replay of the rounded-input Yule-Walker algebra
    assert(math.abs(o.head._4 - 0.586946) < 1e-5, s"phi1 ${o.head._4}")
    assert(math.abs(o.head._5 - (-0.963832)) < 1e-5, s"phi2 ${o.head._5}")
    val bt = graft.ops.TimeSeries.ar2Backtest(rows, "event_type", "ts",
        3600L, alpha = 0.5, beta = 0.25, period = 24)
      .as[(String, Long, Double, Double, Double, Double, String)]
      .collect().map(r => r._1 -> r).toMap
    val bo = bt("o")
    assert(bo._2 == 72L, s"evals $bo")
    assert(bo._7 == "ar2", s"AR(2) must win the oscillatory key: $bo")
    assert(math.abs(bo._6 - 0.654825) < 1e-3, s"mae_ar2 drifted: $bo")
    assert(bo._6 < bo._3 && bo._6 < bo._4 && bo._6 < bo._5,
      s"ar2 beats all three: $bo")
    assert(math.abs(bo._4 - 5.611111) < 1e-3, s"naive replay: $bo")
  }

  test("ar2 forecast: h-step path replays the recurrence exactly and damps toward the mean") {
    // Same period-5 oscillatory key as the backtest spec. The h-step
    // path must (a) equal an in-test replay of the projected-column
    // recurrence bit-for-bit (rounded emission), (b) oscillate with a
    // DAMPING envelope — the estimated roots sit inside the unit circle
    // (|phi2| < 1), so the late-step amplitude is strictly below the
    // early-step amplitude; (c) a single-bucket key emits nothing.
    val pat = Seq(18, 12, 4, 4, 12)
    val rows = ((0 until 96).flatMap { hr =>
      Seq.fill(pat(hr % 5))(("o", hr))
    } ++ Seq(("solo", 3))).map { case (k, hr) =>
      (k, java.sql.Timestamp.from(
        java.time.Instant.parse("2024-01-01T00:45:00Z")
          .plusSeconds(3600L * hr)))
    }.toDF("event_type", "ts")
    val h = 40
    val got = graft.ops.TimeSeries.ar2Forecast(rows, "event_type", "ts",
        3600L, h = h)
      .as[(String, Int, Long, Double)].collect()
    assert(!got.exists(_._1 == "solo"), "single-bucket key emits nothing")
    val o = got.filter(_._1 == "o").sortBy(_._2)
    val b0 = java.time.Instant.parse("2024-01-01T00:45:00Z")
      .getEpochSecond / 3600 // absolute epoch-hour of bucket 0
    assert(o.map(_._2).toSeq == (1 to h) &&
      o.map(_._3).toSeq == ((b0 + 96) to (b0 + 95 + h)),
      "steps and buckets")
    // in-test replay of the op's contract arithmetic
    def r6(d: Double): Double =
      BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val xs = (0 until 96).map(t => pat(t % 5).toDouble)
    val mu = r6(xs.sum / xs.length)
    val d = xs.map(_ - mu)
    val den = d.map(x => x * x).sum
    val r1 = r6(d.zip(d.drop(1)).map { case (a, b) => b * a }.sum / den)
    val r2 = r6(d.zip(d.drop(2)).map { case (a, b) => b * a }.sum / den)
    val p1 = r1 * (1.0 - r2) / (1.0 - r1 * r1)
    val p2 = (r2 - r1 * r1) / (1.0 - r1 * r1)
    val gs = Iterator.iterate((p1 * d(95) + p2 * d(94), d(95))) {
      case (g, gp) => (p1 * g + p2 * gp, g)
    }.map(_._1).take(h).toSeq
    o.zip(gs).foreach { case ((_, step, _, f), g) =>
      assert(f == r6(mu + g) + 0.0, s"step $step: $f vs ${r6(mu + g)}")
    }
    val early = gs.take(5).map(math.abs).max
    val late = gs.drop(h - 5).map(math.abs).max
    assert(late < early, s"damping envelope: late $late >= early $early")
  }

  test("ari2: differenced AR(2) wins the five-way backtest on a trend+cycle key; linear key is exact") {
    // key "tc": drift +1 per bucket PLUS the period-5 harmonic
    // (n_t = t + pat(t%5)) — the level AR(2) chases the unit root, holt
    // misses the cycle, naive-24 pays the 24-bucket drift; differencing
    // removes the trend and leaves an exactly periodic difference series
    // ARI(2) models in closed form. key "lin": n_t = 5 + 2t — constant
    // differences trip the Σd² = 0 guard (φ = 0) and the integrated
    // forecast n_t + μz is EXACT (mae_ari2 = 0, the naive-with-drift
    // degeneration). key "solo": a single bucket emits nothing.
    val pat = Seq(10, 6, 2, 2, 6)
    val rows = ((0 until 96).flatMap { hr =>
      Seq.fill(hr + pat(hr % 5))(("tc", hr)) ++
        Seq.fill(5 + 2 * hr)(("lin", hr))
    } ++ Seq(("solo", 3))).map { case (k, hr) =>
      (k, java.sql.Timestamp.from(
        java.time.Instant.parse("2024-01-01T00:45:00Z")
          .plusSeconds(3600L * hr)))
    }.toDF("event_type", "ts")
    val model = graft.ops.TimeSeries.ari2(rows, "event_type", "ts", 3600L)
      .as[(String, Long, Long, Double, Double, Double, Option[Double])]
      .collect()
    assert(!model.exists(_._1 == "solo"), "single-bucket key emits nothing")
    val lin = model.filter(_._1 == "lin").sortBy(_._2)
    assert(lin.forall(r => r._4 == 0.0 && r._5 == 0.0),
      s"constant differences take the degenerate guard: ${lin.take(3).toSeq}")
    assert(lin.forall(_._6 == 2.0), "drift mu is the constant step")
    lin.filter(_._7.isDefined).foreach { r =>
      assert(r._7.contains(r._3.toDouble + 2.0),
        s"linear key integrates exactly: $r")
    }
    // sequential replay of the differenced Yule-Walker algebra for "tc"
    def r6(d: Double): Double =
      BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val xs = (0 until 96).map(t => (t + pat(t % 5)).toDouble)
    val zs = xs.zip(xs.drop(1)).map { case (a, b) => b - a }
    val mu = r6(zs.sum / zs.length)
    val d = zs.map(_ - mu)
    val den = d.map(x => x * x).sum
    val r1 = r6(d.zip(d.drop(1)).map { case (a, b) => b * a }.sum / den)
    val r2 = r6(d.zip(d.drop(2)).map { case (a, b) => b * a }.sum / den)
    val p1 = r1 * (1.0 - r2) / (1.0 - r1 * r1)
    val p2 = (r2 - r1 * r1) / (1.0 - r1 * r1)
    val tc = model.filter(_._1 == "tc").sortBy(_._2)
    assert(math.abs(tc.head._4 - r6(p1)) < 1e-9, s"phi1 ${tc.head._4}")
    assert(math.abs(tc.head._5 - r6(p2)) < 1e-9, s"phi2 ${tc.head._5}")
    assert(tc.take(2).forall(_._7.isEmpty) && tc.drop(2).forall(_._7.isDefined),
      "forecast_next exists from the third observed bucket on")
    // d(i) deviates z_{i+1} = x_{i+1} − x_i: the forecast AT bucket t is
    // x_t + mu + p1·d(t−1) + p2·d(t−2)
    tc.drop(2).foreach { r =>
      val t = (r._2 - tc.head._2).toInt
      val f = r6(xs(t) + mu + p1 * d(t - 1) + p2 * d(t - 2))
      assert(r._7.contains(f + 0.0), s"bucket $t: ${r._7} vs $f")
    }
    val bt = graft.ops.TimeSeries.ari2Backtest(rows, "event_type", "ts",
        3600L, alpha = 0.5, beta = 0.25, period = 24)
      .as[(String, Long, Double, Double, Double, Double, Double, String)]
      .collect().map(r => r._1 -> r).toMap
    val b = bt("tc")
    assert(b._2 == 72L, s"evals $b")
    assert(b._8 == "ari2", s"ARI(2) must win the trend+cycle key: $b")
    assert(b._7 < b._3 && b._7 < b._4 && b._7 < b._5 && b._7 < b._6,
      s"ari2 beats all four: $b")
    // replay the ari2 MAE over the evaluable buckets t = 24..95
    val maeReplay = (24 until 96).map { t =>
      math.abs(xs(t) - r6(xs(t - 1) + mu + p1 * d(t - 2) + p2 * d(t - 3)))
    }.sum / 72.0
    assert(math.abs(b._7 - maeReplay) < 1e-3, s"mae_ari2 replay: $b vs $maeReplay")
    val bl = bt("lin")
    assert(bl._7 == 0.0 && bl._8 == "ari2",
      s"linear key: ari2 exact and wins: $bl")
    // multi-step integrated forecast: replay ĝ_k = p1·ĝ_{k-1} + p2·ĝ_{k-2}
    // seeded from the last two deviations, ŷ_k = n_T + k·μz + Σ_{j≤k} ĝ_j
    val fc = graft.ops.TimeSeries.ari2Forecast(rows, "event_type", "ts",
        3600L, h = 6)
      .as[(String, Int, Long, Double)].collect()
    assert(!fc.exists(_._1 == "solo"), "no seed, no forecast rows")
    val fcTc = fc.filter(_._1 == "tc").sortBy(_._2)
    assert(fcTc.map(_._2).toSeq == (1 to 6) &&
      fcTc.map(_._3).toSeq == (1 to 6).map(tc.head._2 + 95 + _),
      s"step/bucket grid: ${fcTc.toSeq}")
    var g1 = d(94); var g2 = d(93); var sAcc = 0.0
    (1 to 6).foreach { k =>
      val g = p1 * g1 + p2 * g2; g2 = g1; g1 = g; sAcc += g
      val want = r6(xs(95) + k * mu + sAcc) + 0.0
      assert(fcTc(k - 1)._4 == want, s"step $k: ${fcTc(k - 1)._4} vs $want")
    }
    // pure-linear key: φ = 0 via the guard, forecast is the exact drift line
    val fcLin = fc.filter(_._1 == "lin").sortBy(_._2)
    assert(fcLin.map(_._4).toSeq == (1 to 6).map(k => 195.0 + 2.0 * k),
      s"drift extrapolation: ${fcLin.toSeq}")
  }

  test("bitext IVF miner re-mines the planted parallel pairs the exact miner finds") {
    // 4 tight axis clusters in 8 dims; each src (even id) has a planted
    // tgt partner (odd id) 0.002 away on the cluster's spread axis while
    // same-cluster neighbors sit ≥ 0.2 apart — the exact miner's mutual
    // bests are exactly the 16 planted pairs. The IVF swap (4 cells,
    // nProbe 2) must route partners to the same cell and re-mine them:
    // containment vs the exact miner ≥ 75%, and every IVF pair IS a
    // planted pair (tgt = src + 1).
    def vec(c: Int, off: Double): Array[Float] = {
      val a = Array.fill(8)(0.0f); a(c) = 1.0f; a(c + 4) = off.toFloat; a
    }
    val vecs = (0 until 16).flatMap { i =>
      val c = i % 4
      Seq((2L * i, vec(c, 0.1 + 0.05 * i)),
        (2L * i + 1, vec(c, 0.1 + 0.05 * i + 0.002)))
    }.toDF("vec_id", "embedding")
    val src = vecs.filter($"vec_id" % 2 === 0)
    val tgt = vecs.filter($"vec_id" % 2 === 1)
    val planted = (0 until 16).map(i => (2L * i, 2L * i + 1)).toSet
    val exact = graft.ops.Similarity.bitextMargin(src, tgt, k = 4)
      .select($"src_id", $"tgt_id").as[(Long, Long)].collect().toSet
    // margin-based mutual matching is a PARTIAL matching: every mined
    // pair must be planted, and most planted pairs are mined (the
    // neighborhood normalization legitimately drops a few within-cluster
    // pairs whose margins cross)
    assert(exact.subsetOf(planted) && exact.size >= 12,
      s"exact miner mines planted pairs only: $exact")
    val ivf = graft.ops.Similarity.bitextMarginIvf(src, tgt, k = 4,
        nCells = 4, nProbe = 2)
      .select($"src_id", $"tgt_id").as[(Long, Long)].collect().toSet
    assert(ivf.forall(p => p._2 == p._1 + 1),
      s"every IVF pair must be a planted pair: $ivf")
    assert(ivf.intersect(exact).size * 4 >= exact.size * 3,
      s"containment >= 75%: ${ivf.size} of ${exact.size}")
  }

  test("holt: doubling scan equals the sequential recurrence, every key length") {
    // Key lengths 1, 2, 9 exercise every doubling-round edge: no rounds,
    // one partial round, and prefixes that straddle 2^r boundaries. The
    // reference is the textbook sequential fold (l₁=x₁, b₁=0); the scan
    // reassociates the same affine maps, so parity must hold to well
    // under the 6-decimal gate round.
    val counts = Map(
      "a" -> Seq(5),
      "b" -> Seq(3, 7),
      "c" -> Seq(4, 9, 2, 8, 8, 1, 6, 3, 5))
    val rows = counts.toSeq.flatMap { case (k, cs) =>
      cs.zipWithIndex.flatMap { case (c, hr) =>
        Seq.fill(c)((k, java.sql.Timestamp.from(
          java.time.Instant.parse("2024-01-01T00:30:00Z")
            .plusSeconds(3600L * hr))))
      }
    }
    val (alpha, beta) = (0.5, 0.25)
    val got = TimeSeries.holt(rows.toDF("event_type", "ts"), "event_type",
        "ts", bucketSec = 3600L, alpha = alpha, beta = beta)
      .as[(String, Long, Long, Double, Double, Double)]
      .collect().sortBy(r => (r._1, r._2))
    val want = counts.toSeq.sortBy(_._1).flatMap { case (k, cs) =>
      cs.tail.scanLeft((cs.head.toDouble, 0.0)) { case ((l, b), x) =>
        val ln = alpha * x + (1 - alpha) * (l + b)
        (ln, beta * (ln - l) + (1 - beta) * b)
      }.map { case (l, b) => (k, l, b) }
    }
    assert(got.length == want.length)
    // The operator emits round(…,6) (HALF_UP, both engines); with dyadic
    // α, β and small integer counts every true value is an exact dyadic,
    // so the rounded outputs must match the rounded reference EXACTLY —
    // including the genuine half-way case this fixture lands on
    // (6.2734375 → 6.273438).
    def r6(d: Double): Double =
      BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    got.zip(want).foreach { case ((k, _, _, l, b, f), (wk, wl, wb)) =>
      assert(k == wk)
      assert(l == r6(wl), s"$k level $l vs ${r6(wl)}")
      assert(b == r6(wb), s"$k trend $b vs ${r6(wb)}")
      assert(f == r6(wl + wb), s"$k forecast $f vs ${r6(wl + wb)}")
    }
  }

  test("plan sweep: every partition-less window sits above a collapsing aggregate") {
    // The r6/r7 scale-killer class (rel_key_skew, sample_length_bucket):
    // a Window with no partition key serializes its whole input through
    // one task. A global window is legitimate ONLY over a frame some
    // aggregation has already collapsed (per-community rollups, 1-row
    // totals). This sweep asserts the structural form for EVERY query's
    // final plan: each partition-less (or constant-partitioned) window
    // must see an aggregate/limit on every path from every scan leaf.
    // Loop internals truncated behind localCheckpoint leaves are out of
    // view here — those recurrences carry their own dedicated guards.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec,
      ObjectHashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.execution.{GlobalLimitExec, TakeOrderedAndProjectExec}
    def collapsed(p: SparkPlan): Boolean = p match {
      case _: HashAggregateExec | _: SortAggregateExec |
           _: ObjectHashAggregateExec => true
      case _: GlobalLimitExec | _: TakeOrderedAndProjectExec => true
      // a literal range spine (psiDrift's 16-bucket frame) is bounded by
      // construction — constant-sized at any corpus scale
      case r: org.apache.spark.sql.execution.RangeExec
        if r.numElements <= BigInt(4096) => true
      // a reused exchange is a leaf that POINTS at the original exchange
      // (rel_quantile_merge's total row rides the sketch's single-
      // partition exchange twice) — judge the plan it reuses
      case re: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        collapsed(re.child)
      case leaf if leaf.children.isEmpty => false
      case other => other.children.forall(collapsed)
    }
    withoutAqe {
      val offenders =
        sweepQueries() { (name, fn) =>
          Harness.materialize(fn(spark, sfDir))(_.queryExecution.executedPlan.collect {
            case w: WindowExec if w.partitionSpec.forall(_.foldable) &&
                !collapsed(w.child) =>
              s"$name: partition-less window over a non-collapsed input"
          }.toSeq)
        }
      assert(offenders.isEmpty, offenders.mkString("\n"))
    }
  }

  test("fuzzy decon: perturbed bench copy flagged, unrelated doc clean, no corpus self-pairs") {
    val benchText = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    val bench = Seq((0L, benchText)).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "zq " + benchText),                      // near-dup of bench
      (11L, "one two three four five six seven eight nine ten " * 4),
      (12L, "one two three four five six seven eight nine ten " * 4))
      .toDF("doc_id", "text")                         // 11/12 duplicate EACH OTHER
    val got = Training.decontaminateFuzzy(corpus, bench, "doc_id", "text")
      .as[(Long, Long, Long, Boolean)].collect()
      .map { case (id, c, h, f) => (id, (c, h, f)) }.toMap
    assert(got(10L)._3, s"perturbed copy must flag: $got")
    // 11 and 12 collide with each other but NOT with bench — a decon
    // pass must never surface corpus-internal duplicates
    assert(got(11L) == ((0L, 0L, false)) && got(12L) == ((0L, 0L, false)),
      s"corpus self-dups must stay clean: $got")
  }

  test("maxmatch: longest vocab token wins, OOV words decompose, rounds truncate") {
    // corpus: abc×3, ab×2, abx×1; vocab = top-2 words {abc, ab} + chars.
    // "abx" must take the LONGEST match ab at pos 0 (never a), then x.
    val docs = Seq("abc abc ab", "abc ab abx").toDF("text")
    val got = TextAnalysis.maxMatchTokenize(docs,
        topWords = 2, topGrams = 0, gramLen = 4, maxTokLen = 12, rounds = 16)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == Set(
      ("abc", 3L, 1L, 3L),
      ("ab", 2L, 2L, 3L),   // the word ab (×2) and abx's prefix (×1)
      ("x", 1L, 1L, 1L)), s"got $got")

    // the round cap truncates identically to the oracle's recursion
    // bound: "aaaa" against a char-only vocab at rounds=2 emits 2 tokens
    val trunc = TextAnalysis.maxMatchTokenize(Seq("aaaa").toDF("text"),
        topWords = 0, topGrams = 0, gramLen = 4, maxTokLen = 12, rounds = 2)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(trunc == Set(("a", 1L, 1L, 2L)), s"got $trunc")
  }

  test("scc bounded: cycles resolve, chains don't, and the round bound is sharp") {
    // 2-cycle {1,2}, 3-cycle {3,4,5}, chain 6→7→8
    val e = Seq((1L, 2L), (2L, 1L), (3L, 4L), (4L, 5L), (5L, 3L),
      (6L, 7L), (7L, 8L)).toDF("src", "dst")
    val got = Graph.sccBounded(e, "src", "dst", rounds = 3)
      .as[(Long, Long, Long, Long)].collect().toSet
    // 6 resolves as a true singleton SCC (it is its own min both ways);
    // 7 and 8 stay unresolved (reached by 6 but never reaching it)
    assert(got == Set((1L, 2L, 2L, 2L), (3L, 3L, 5L, 2L), (6L, 1L, 6L, 2L)),
      s"got $got")

    // a 5-cycle at rounds=2: only the min id has both labels meet; at
    // rounds=4 the whole cycle resolves
    val c5 = Seq((10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), (14L, 10L))
      .toDF("src", "dst")
    val r2 = Graph.sccBounded(c5, "src", "dst", rounds = 2)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(r2 == Set((10L, 1L, 10L, 4L)), s"rounds=2: $r2")
    val r4 = Graph.sccBounded(c5, "src", "dst", rounds = 4)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(r4 == Set((10L, 5L, 14L, 0L)), s"rounds=4: $r4")
  }

  test("AQE skew join: a planted hot key splits at runtime into multiple tasks") {
    // Complements Skew.saltedJoin: AQE's skew handling is the right tool
    // when skew shows up at RUNTIME in a shuffle join (it splits oversized
    // partitions after seeing map output sizes — no plan rewrite, exact
    // results); explicit salting remains necessary where AQE can't reach —
    // skewed AGGREGATIONS (saltedCountSum) and skew known in advance on
    // joins AQE won't split (e.g. under another operator's partitioning
    // contract).
    val knobs = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // fixture-sized thresholds so a local[4] test trips the real code path
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      // force the sort-merge path: broadcast would hide the skew entirely
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = knobs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      knobs.foreach { case (k, v) => spark.conf.set(k, v) }
      // hot key 0 carries 50k of 55k rows — one shuffle partition would
      // hold ~2 MB against a 64 KB threshold
      val big = spark.range(0, 55000).select(
        when($"id" < 50000, 0L).otherwise($"id").as("k"),
        md5($"id".cast("string")).as("payload"))
      val small = spark.range(0, 55000).select($"id".as("k"),
        ($"id" * 2).as("v"))
      val joined = big.join(small, Seq("k"))
      // run THIS queryExecution (count() would plan a separate query and
      // leave this adaptive plan unexecuted/unfinalized)
      assert(joined.collect().length === 55000)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE did not mark the join skewed:\n$finalPlan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("runtime bloom-filter join pruning: a selective dim filter reaches the fact side") {
    // the row-level runtime filter: a selective filter on the join's
    // build side is turned into a bloom filter applied to the probe side
    // BEFORE its shuffle — at 100 TB this is what keeps a fact-table
    // shuffle proportional to the matched keys, not the table
    val knobs = Map(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // fixture-sized thresholds so the injection fires at test scale
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = knobs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      knobs.foreach { case (k, v) => spark.conf.set(k, v) }
      val fact = spark.range(0, 200000).select($"id".as("k"),
        md5($"id".cast("string")).as("payload"))
      val dim = spark.range(0, 10000)
        .select($"id".as("k"), ($"id" % 100).as("cat"))
        .filter($"cat" === 7)
      val joined = fact.join(dim, Seq("k"))
      assert(joined.collect().length === 100)
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain"),
        s"no runtime bloom filter injected:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("scc converge: planted cycles + chain fully resolve across multiple peels") {
    // cycles {1,2,3} and {4,5}, a bridge, and a DESCENDING chain 10→9→8 —
    // the chain is the multi-peel shape: b(9) stays 8 until node 8 peels,
    // so convergence takes three peels, each resolving a frontier
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 4L),
      (3L, 4L), (10L, 9L), (9L, 8L)).toDF("src", "dst")
    val got = Graph.sccConverge(edges, "src", "dst")
      .as[(Long, Long, Long)].collect().toSet
    val expect = Set(
      (1L, 3L, 3L),   // the 3-cycle
      (4L, 2L, 5L),   // the 2-cycle
      (8L, 1L, 8L), (9L, 1L, 9L), (10L, 1L, 10L)) // chain singletons
    assert(got == expect, s"got $got")
    // the bounded twin on the same graph leaves the chain unresolved at
    // rounds=1 — converge is strictly stronger, not a re-labeling
    val bounded = Graph.sccBounded(edges, "src", "dst", rounds = 1)
      .select($"n_unresolved").as[Long].head()
    assert(bounded > 0L, "expected the 1-round bound to leave a remainder")
  }

  test("cdc chunking: lossless reassembly; a front insertion shifts at most one chunk") {
    import graft.functions.textnative.cdc_chunks
    // reassembly: chunks concatenate back to the exact text, every doc
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(200)
    val bad = docs.select($"text",
        array_join(cdc_chunks($"text", 8, 16), "").as("re"))
      .filter($"text" =!= $"re").count()
    assert(bad == 0, s"$bad docs failed chunk reassembly")

    // content-defined resilience: inserting 3 chars at the FRONT may
    // change only the chunks before the first post-insertion boundary —
    // every later boundary derives from an unchanged 8-gram, so all of
    // A's chunks except the first survive verbatim in B
    val rnd = new scala.util.Random(11)
    val a = (1 to 400).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val pair = Seq(("A", a), ("B", "XY!" + a)).toDF("id", "text")
      .select($"id", cdc_chunks($"text", 8, 16).as("ch"))
      .as[(String, Seq[String])].collect().toMap
    assert(pair("A").size >= 5, s"fixture too short to chunk: ${pair("A").size}")
    val lost = pair("A").toSet -- pair("B").toSet
    assert(lost.subsetOf(Set(pair("A").head)),
      s"only the first chunk may be disturbed, lost: $lost")
  }

  test("louvain local move: two triangles + bridge closed form, gain tie → lowest id") {
    // triangles {1,2,3}, {4,5,6}, bridge 3-4; m=7, 2m=14
    // gains g(i,j) = 14 − d_i·d_j: node 1 → 2 (g=10 beats 8); node 3 has
    // a 8/8 tie between 1 and 2 → lowest id 1; node 4 ties 5/6 → 5
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L)).toDF("a", "b")
    val got = Graph.louvainLocalMove(edges)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // labels: 1→2, 2→1, 3→1 (tie), 4→5 (tie), 5→6, 6→5
    val expect = Set(
      (1L, 2L, 2L, 5L, 1L),  // {2,3}: deg 2+3, internal edge (2,3)
      (2L, 1L, 1L, 2L, 0L),  // {1}
      (5L, 2L, 4L, 5L, 1L),  // {4,6}: deg 3+2, internal edge (4,6)
      (6L, 1L, 5L, 2L, 0L))  // {5}
    assert(got == expect, s"got $got")
  }

  test("tar shards: real ustar archives, members round-trip by offset slicing") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id",
        concat(unhex(md5($"text")), encode($"text", "UTF-8")).as("payload"))
    val media = Multimodal.asMedia(docs, "doc_id", "payload")
    val tars = Multimodal.tarShardBytes(media, shardBytes = 16384L).cache()
    // structure: 512-aligned archives closed by two zero blocks
    assert(tars.filter(octet_length($"tar") % 512 =!= 0).count() == 0L)
    assert(tars.filter(
      hex(substring($"tar", -1024, 1024)) =!= lit("00" * 1024)).count() == 0L)
    // every payload comes back byte-identical from offset slicing (binary
    // payloads: the md5 prefix spans non-UTF-8 bytes)
    val back = Multimodal.tarMemberSlices(tars)
      .select(expr("cast(split(name, '\\\\.')[0] as long)").as("media_id"),
        $"payload")
    val joined = media.select($"media_id", $"media")
      .join(back, Seq("media_id"), "full")
    assert(joined.filter(!($"media" <=> $"payload")).count() == 0L,
      "member payloads diverged or went missing")
    // the first header is spec-conformant: magic, and the POSIX checksum
    // (header bytes summed with the checksum field as spaces) recomputes
    val tar0 = tars.orderBy("shard_id").select($"tar")
      .as[Array[Byte]].head()
    val hdr = tar0.take(512)
    assert(new String(hdr.slice(257, 262), "US-ASCII") == "ustar")
    val stored = Integer.parseInt(new String(hdr.slice(148, 154), "US-ASCII"), 8)
    val withSpaces = hdr.clone()
    (148 until 156).foreach(i => withSpaces(i) = ' '.toByte)
    assert(stored == withSpaces.map(_ & 0xff).sum, "checksum mismatch")
  }

  test("louvain two-level: barbell closed form; modularity never drops vs level 1") {
    // same barbell as the local-move spec: level-1 communities
    // {2,3}/{1}/{4,6}/{5}; the coarse pass pairs them mutually (the
    // synchronous swap), so the composed partition is isomorphic — Q
    // identical — and the rollup closed form pins the full two-level trace
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L)).toDF("a", "b")
    val got = Graph.louvainTwoLevel(edges)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val expect = Set(
      (1L, 1L, 1L, 2L, 0L),  // {1}
      (2L, 2L, 2L, 5L, 1L),  // {2,3}
      (6L, 2L, 4L, 5L, 1L),  // {4,6}
      (5L, 1L, 5L, 2L, 0L))  // {5}
    assert(got == expect, s"got $got")
    // the headline property on a real graph: the second level only ever
    // coarsens, and partition quality does not regress
    def q(labels: org.apache.spark.sql.DataFrame): Double = {
      val ed = GraphQueries.coPurchaseEdges(spark, sfDir)
      Graph.modularity(ed, labels.select($"node", $"lbl"))
        .select($"q_total").as[Double].head()
    }
    val ed = GraphQueries.coPurchaseEdges(spark, sfDir)
    val l1 = Graph.louvainMoveLabels(ed)
    val l2 = Graph.louvainTwoLevelLabels(ed)
    val (q1, q2) = (q(l1), q(l2))
    assert(q2 >= q1, s"modularity regressed: $q1 -> $q2")
    val (n1, n2) = (l1.select($"lbl").distinct().count(),
      l2.select($"lbl").distinct().count())
    assert(n2 <= n1, s"level 2 split communities: $n1 -> $n2")
  }

  test("k-center: farthest-first selection trace and cover radius, tie → lowest id") {
    val dim = 64
    def v(xs: (Int, Float)*): Array[Float] = {
      val a = Array.fill(dim)(0.0f); xs.foreach { case (i, x) => a(i) = x }; a
    }
    // max|x| = 127 in every vector → int8 quantization is the identity,
    // so distances are plain integer geometry on the first coordinate
    val vecs = Seq(
      (0L, v(1 -> 127f)),             // seed (lowest id), x=0
      (1L, v(0 -> 127f, 1 -> 127f)),  // x=127 — farthest from seed
      (2L, v(0 -> 10f, 1 -> 127f)),   // x=10
      (3L, v(0 -> 120f, 1 -> 127f))   // x=120
    ).toDF("vec_id", "embedding")
    val got = Similarity.kCenterQuantized(vecs, k = 3)
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    // trace: seed 0 (d=0) → 1 at 127² → 2 at min(10², 117²)=100;
    // afterwards only 3 is uncovered at min(120², 7², 110²)=49
    assert(got.toSeq == Seq(
      (1L, 0L, 0L, 49L, 49L, 4L),
      (2L, 1L, 16129L, 49L, 49L, 4L),
      (3L, 2L, 100L, 49L, 49L, 4L)), s"got ${got.toSeq}")

    // equidistant farthest pair → the lower id is chosen
    val tie = Seq(
      (0L, v(1 -> 127f)),
      (1L, v(0 -> 100f, 1 -> 127f)),
      (2L, v(0 -> -100f, 1 -> 127f))).toDF("vec_id", "embedding")
    val second = Similarity.kCenterQuantized(tie, k = 2)
      .filter($"sel_order" === 2).select($"center_id").as[Long].head()
    assert(second == 1L, s"tie must break to the lower id, got $second")
  }

  test("weighted SSSP: a cheap 2-hop detour beats the direct edge; hop bound holds") {
    // 1→2 costs 10 direct, but 1→3→2 costs 3; node 4 hangs off 2
    val edges = Seq((1L, 2L, 10L), (1L, 3L, 1L), (3L, 2L, 2L), (2L, 4L, 1L))
    val adj = (edges ++ edges.map { case (a, b, w) => (b, a, w) })
      .toDF("src", "dst", "w")
    val seeds = Seq(Tuple1(1L)).toDF("node")
    val r1 = Graph.ssspBounded(adj, seeds, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1 == Map(1L -> 0L, 2L -> 10L, 3L -> 1L), r1.toString)
    val r3 = Graph.ssspBounded(adj, seeds, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(r3 == Map(1L -> 0L, 2L -> 3L, 3L -> 1L, 4L -> 4L), r3.toString)
  }

  test("FS record linkage: hand-computed u odds, patterns, and 10:1 verdicts") {
    // one block, ordered 1..4; fields: city [A,A,A,B] → u = 6/12 = 0.5
    // (ppm 500000), zip [X,Y,X,Y] → u = 4/12 = 1/3 (ppm 333333)
    val recs = Seq(
      (1L, 0L, 1L, "A", "X"),
      (2L, 0L, 2L, "A", "Y"),
      (3L, 0L, 3L, "A", "X"),
      (4L, 0L, 4L, "B", "Y")).toDF("rid", "block", "ord", "city", "zip")
    val out = Dedup.erScoredPairs(recs, "rid", "block", "ord",
        Seq("city", "zip"), window = 2, thresholdNum = 10L, thresholdDen = 1L)
      .as[(Long, Long, String, Long, Boolean)].collect().toSet
    // agree-city factor: 9e6/(10·500000) = 9/5; disagree-city: 1e6/(10·500000) = 1/5
    // agree-zip: 9e6/(10·333333) = 2.70…; disagree-zip: 1e6/(10·666667) = 0.1499…
    // "11" → 4.86, "10" → 0.269…, "01" → 0.54, "00" → 0.0299… — all < 10
    assert(out == Set(
      (1L, 2L, "10", 1L, false), (1L, 3L, "11", 2L, false),
      (2L, 3L, "10", 1L, false), (2L, 4L, "01", 1L, false),
      (3L, 4L, "00", 0L, false)), out.toString)
    // exact rational boundary: tags [u1,u1,u3,u4] → u ppm = 2e6/12 =
    // 166666 (floored), agree odds 9e6/1666660 = 5.40000648… — a 5:1
    // threshold matches, 6:1 does not; the verdict flips on the exact
    // cross-multiplied integers, not a float rounding
    val uniq = Seq(
      (1L, 0L, 1L, "u1"), (2L, 0L, 2L, "u1"), (3L, 0L, 3L, "u3"),
      (4L, 0L, 4L, "u4")).toDF("rid", "block", "ord", "tag")
    def verdicts(tn: Long) = Dedup.erScoredPairs(uniq, "rid", "block", "ord",
        Seq("tag"), window = 1, thresholdNum = tn, thresholdDen = 1L)
      .as[(Long, Long, String, Long, Boolean)].collect().toSet
    val at5 = verdicts(5L)
    assert(at5.contains((1L, 2L, "1", 1L, true)), at5.toString)
    assert(at5.contains((2L, 3L, "0", 0L, false)), at5.toString)
    assert(verdicts(6L).contains((1L, 2L, "1", 1L, false)), "6:1 must reject")
    // pairs never cross blocks
    val blocked = Seq(
      (1L, 0L, 1L, "A"), (2L, 0L, 2L, "A"),
      (3L, 1L, 3L, "A"), (4L, 1L, 4L, "A")).toDF("rid", "block", "ord", "f")
    val bp = Dedup.erScoredPairs(blocked, "rid", "block", "ord", Seq("f"),
        window = 3).select($"left_id", $"right_id")
      .as[(Long, Long)].collect().toSet
    assert(bp == Set((1L, 2L), (3L, 4L)), bp.toString)
  }

  test("Boruvka MSF: cycles drop their heaviest edge; forest spans every component") {
    val edges = Seq(
      (1L, 2L, 1L), (2L, 3L, 2L), (1L, 3L, 5L),       // triangle: drop 1-3
      (10L, 11L, 9L), (11L, 12L, 8L), (12L, 13L, 7L), // path: keep all
      (20L, 21L, 3L), (21L, 22L, 4L), (20L, 22L, 6L)  // triangle: drop 20-22
    ).toDF("a", "b", "w")
    val mst = Graph.mstBoruvka(edges).as[(Long, Long, Long)].collect().toSet
    assert(mst == Set((1L, 2L, 1L), (2L, 3L, 2L),
      (10L, 11L, 9L), (11L, 12L, 8L), (12L, 13L, 7L),
      (20L, 21L, 3L), (21L, 22L, 4L)), mst.toString)
  }

  test("Boruvka MSF: equals Prim on a random connected graph with distinct weights") {
    val rnd = new scala.util.Random(23)
    val n = 40
    val ring = (0 until n).map(i => (i.toLong, ((i + 1) % n).toLong))
    val extra = (1 to 60).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    val all = (ring ++ extra)
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val weights = rnd.shuffle((1 to all.size).toList)
    val wedges = all.zip(weights).map { case ((a, b), w) => (a, b, w.toLong) }
    val mst = Graph.mstBoruvka(wedges.toDF("a", "b", "w"))
      .as[(Long, Long, Long)].collect().toSet
    // reference Prim over the same graph
    val adj = wedges.flatMap { case (a, b, w) =>
      Seq(a -> ((b, w, (a, b))), b -> ((a, w, (a, b)))) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val inTree = scala.collection.mutable.Set(0L)
    val picked = scala.collection.mutable.Set.empty[(Long, Long)]
    while (inTree.size < n) {
      val cands = inTree.toSeq.flatMap(u => adj(u).filter(e => !inTree(e._1)))
      val best = cands.minBy(e => (e._2, e._3._1, e._3._2))
      inTree += best._1; picked += best._3
    }
    assert(mst.map(e => (e._1, e._2)) == picked.toSet,
      s"diff: ${mst.map(e => (e._1, e._2)) -- picked} / ${picked.toSet -- mst.map(e => (e._1, e._2))}")
    assert(mst.size == n - 1, s"tree must have n-1 edges, got ${mst.size}")
  }

  test("item-item CF: closed-form cosine over basket count vectors") {
    // baskets: {1,2} twice, {1,3} once-with-double-3 → edge supports
    // w(1,2)=2, w(1,3)=2 (1·2 cnt product); ssq: 1→1+1+1=3, 2→2, 3→4
    val edges = Seq((1L, 2L, 2L), (1L, 3L, 2L)).toDF("a", "b", "w")
    val norms = Seq((1L, 3L), (2L, 2L), (3L, 4L)).toDF("node", "ssq")
    val out = Graph.itemItemCosine(edges, norms, topK = 5)
      .select($"item", $"rec", $"score", $"rank")
      .as[(Long, Long, Double, Int)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(math.abs(out((1L, 2L))._1 - 2.0 / math.sqrt(6.0)) < 1e-12)
    assert(math.abs(out((1L, 3L))._1 - 2.0 / math.sqrt(12.0)) < 1e-12)
    // per-item ranking: for item 1, rec 2 (0.816) outranks rec 3 (0.577)
    assert(out((1L, 2L))._2 == 1 && out((1L, 3L))._2 == 2, out.toString)
    // symmetrized: 2 and 3 each recommend 1 at rank 1
    assert(out((2L, 1L))._2 == 1 && out((3L, 1L))._2 == 1, out.toString)
  }

  test("MLM mask: deterministic across partitionings, ~pct masked, md5 pins positions") {
    val docs = (0L until 50L).map(i => (i, (1 to 40).map(j => s"w$j").mkString(" ")))
      .toDF("doc_id", "text")
    val a = Training.mlmMask(docs, "doc_id", "text", pct = 15)
      .as[(Long, Long, Long, String)].collect().toSet
    val b = Training.mlmMask(docs.repartition(7), "doc_id", "text", pct = 15)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(a == b, "masking must not depend on partitioning")
    val totalMasked = a.toSeq.map(_._3).sum.toDouble / a.toSeq.map(_._2).sum
    assert(totalMasked > 0.10 && totalMasked < 0.20, s"mask rate $totalMasked")
    // same text, different doc → different draws → different masked_md5
    val twoDocs = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h"))
      .toDF("doc_id", "text")
    val md = Training.mlmMask(twoDocs, "doc_id", "text", pct = 50)
      .select($"masked_md5").as[String].collect()
    assert(md.distinct.length == 2, "per-doc draws must differ")
  }

  test("feature hash: buckets bounded by dim, counts exact, collisions merge") {
    val docs = Seq((1L, "x x y"), (2L, "y z")).toDF("doc_id", "text")
    val out = TextAnalysis.featureHash(docs, "doc_id", "text", dim = 8)
      .as[(Long, Long, Long)].collect()
    assert(out.forall(r => r._2 >= 0 && r._2 < 8), out.mkString(","))
    assert(out.map(_._3).sum == 5, s"total tf must be 5: ${out.mkString(",")}")
    // same term hashes to the same bucket in both docs
    val yBuckets = out.filter(_._1 == 1L).map(_._2).toSet
      .intersect(out.filter(_._1 == 2L).map(_._2).toSet)
    assert(yBuckets.nonEmpty, "shared term must share a bucket")
  }

  test("RRF fusion: consensus beats single-list wins; missing ranks contribute 0") {
    // doc 30 is 2nd on both lists; docs 10/20 top exactly one list each:
    // rrf(30) = 2/62 = 0.0322… > rrf(10) = rrf(20) = 1/61 = 0.0163…
    val lex = Seq((1L, 10L, 1), (1L, 30L, 2)).toDF("query_id", "neighbor_id", "rank")
    val vec = Seq((1L, 20L, 1), (1L, 30L, 2)).toDF("query_id", "neighbor_id", "rank")
    val out = Similarity.rrfFuse(lex, vec, c = 60, topK = 10)
      .select($"neighbor_id", $"rank_a", $"rank_b", $"fused_rank")
      .as[(Long, Int, Int, Int)].collect().sortBy(_._4)
    assert(out.map(_._1).toSeq == Seq(30L, 10L, 20L), out.mkString(","))
    assert(out.head == ((30L, 2, 2, 1)), out.head.toString)
    // single-list docs: missing rank surfaces as 0, tie breaks by id
    assert(out(1) == ((10L, 1, 0, 2)) && out(2) == ((20L, 0, 1, 3)), out.mkString(","))
  }

  test("idf overlap ranks: rare shared terms outrank common ones; self excluded") {
    // q0 shares rare 'zebra' with d1, common 'the' with d2 (and d1)
    val docs = Seq(
      (0L, "zebra the alpha"), (1L, "zebra the beta"),
      (2L, "the gamma delta"), (3L, "the epsilon eta"),
      (4L, "the theta iota")).toDF("doc_id", "text")
    val out = TextAnalysis.idfOverlapRanks(docs, docs.filter($"doc_id" === 0),
        "doc_id", "text", topK = 10)
      .select($"neighbor_id", $"rank").as[(Long, Int)].collect().toMap
    assert(out(1L) == 1, s"zebra+the match must rank first: $out")
    assert(!out.contains(0L), s"self excluded: $out")
    assert(Set(2L, 3L, 4L).forall(out.contains), s"'the' matches present: $out")
  }

  test("quality checks: one-pass suite reports exact metrics and verdicts") {
    val df = Seq(
      (1L, Some("A"), 10.0), (2L, Some("A"), -5.0), (2L, None, 3.0))
      .toDF("k", "v", "x")
    val out = Profile.qualityChecks(df, Seq(
        ("rows", count(lit(1)), (m: org.apache.spark.sql.Column) => m >= 3L),
        ("k_unique", count(lit(1)) - countDistinct($"k"), (m: org.apache.spark.sql.Column) => m === 0L),
        ("v_complete", sum(when($"v".isNull, 1L).otherwise(0L)),
          (m: org.apache.spark.sql.Column) => m === 0L),
        ("x_positive", sum(when($"x" <= 0, 1L).otherwise(0L)),
          (m: org.apache.spark.sql.Column) => m === 0L)))
      .as[(String, Long, Boolean)].collect().toSet
    assert(out == Set(
      ("rows", 3L, true), ("k_unique", 1L, false),
      ("v_complete", 1L, false), ("x_positive", 1L, false)), out.toString)
  }

  test("k-anonymity: class sizes, l-diversity, and the under-k release blockers") {
    val df = Seq(
      ("n1", 1L, "s1"), ("n1", 1L, "s2"), ("n1", 1L, "s1"),
      ("n1", 2L, "s1"), ("n2", 1L, "s1"), ("n2", 1L, "s1"))
      .toDF("nat", "band", "seg")
    val out = Profile.kAnonymity(df, Seq("nat", "band"), "seg", k = 3, l = 2)
      .as[(String, Long, Long, Long, Boolean, Boolean)].collect().toSet
    assert(out == Set(
      ("n1", 1L, 3L, 2L, true, true),   // big enough, diverse
      ("n1", 2L, 1L, 1L, false, false), // singleton: re-identifiable
      ("n2", 1L, 2L, 1L, false, false)  // homogeneous: attribute leak
    ), out.toString)
  }

  test("ROUGE-1/2: clipped counts, hand-computed P/R/F1, repeat farming capped") {
    // cand "the cat sat" vs ref "the cat the dog":
    //   R1 clipped: the→min(1,2)=1, cat→1, sat→0 ⇒ match 2; P=2/3 R=2/4
    //   R2: cand {the cat, cat sat} ∩ ref {the cat, cat the, the dog}
    //       ⇒ match 1; P=1/2 R=1/3
    // pair (3,4) plants the clipping case: cand repeats "a" 4×, ref has 2
    //   ⇒ R1 match = min(4,2)=2, NOT 4 — the un-clipped metric would
    //   reward repetition.
    val docs = Seq(
      (1L, "the cat sat"), (2L, "the cat the dog"),
      (3L, "a a a a"), (4L, "a b a")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("cand_id", "ref_id")
    val out = TextAnalysis.rougeN(docs, pairs, "doc_id", "text", Seq(1, 2))
      .as[(Long, Long, Int, Long, Long, Long, Double, Double, Double)]
      .collect().map(r => (r._1, r._3) -> r).toMap
    val r1 = out((1L, 1))
    assert((r1._4, r1._5, r1._6) == ((2L, 3L, 4L)), r1.toString)
    assert(math.abs(r1._7 - 2.0 / 3) < 1e-15 && math.abs(r1._8 - 0.5) < 1e-15)
    assert(math.abs(r1._9 - 2.0 * (2.0 / 3) * 0.5 / (2.0 / 3 + 0.5)) < 1e-15)
    val r2 = out((1L, 2))
    assert((r2._4, r2._5, r2._6) == ((1L, 2L, 3L)), r2.toString)
    // clipping: repeated cand gram counts only up to the ref multiplicity
    val c1 = out((3L, 1))
    assert((c1._4, c1._5, c1._6) == ((2L, 4L, 3L)), c1.toString)
    assert(c1._7 == 0.5 && math.abs(c1._8 - 2.0 / 3) < 1e-15)
    // bigrams share nothing: match 0 ⇒ F1 guard returns exactly 0
    val c2 = out((3L, 2))
    assert(c2._4 == 0L && c2._9 == 0.0, c2.toString)
  }

  test("k-truss: K4 survives 4-truss, diamond cascades away, pendant edge drops") {
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), // K4
      (5L, 6L), (5L, 7L), (6L, 7L), (7L, 8L),  // triangle + pendant edge
      (9L, 10L), (9L, 11L), (10L, 11L), (10L, 12L), (11L, 12L) // diamond
    ).toDF("a", "b")
    // k=4 (support ≥ 2): K4 edges sit in 2 triangles each and survive;
    // the diamond's outer edges die round 1, which orphans the shared
    // edge (10,11) — the CASCADE round 2 exists to catch (round 1 alone
    // would keep it).
    val t4 = Graph.kTrussPeel(edges, k = 4, rounds = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(t4 == Set((1L, 2L, 2L), (1L, 3L, 2L), (1L, 4L, 2L),
      (2L, 3L, 2L), (2L, 4L, 2L), (3L, 4L, 2L)), t4.toString)
    val t4r1 = Graph.kTrussPeel(edges, k = 4, rounds = 1)
      .as[(Long, Long, Long)].collect().toSet
    assert(t4r1.contains((10L, 11L, 0L)), t4r1.toString)
    // k=3 (support ≥ 1): only the triangle-less pendant edge drops
    val t3 = Graph.kTrussPeel(edges, k = 3, rounds = 1)
      .as[(Long, Long, Long)].collect().toSet
    assert(!t3.exists(e => e._1 == 7L && e._2 == 8L), t3.toString)
    assert(t3.contains((5L, 6L, 1L)) && t3.contains((10L, 11L, 2L)),
      t3.toString)
    assert(t3.size == 14, t3.toString)
  }

  test("FS linkage: decimal headroom guard rejects k=6 at defaults, admits k=5") {
    // (mDen·10⁶)^k·threshold for mDen=10, threshold=10: k=5 → 10³⁶ (fits
    // DECIMAL(38,0)); k=6 → 10⁴³ (would overflow MID-PRODUCT and either
    // null out or mis-compare) — the guard must reject before any plan runs
    val recs = Seq(
      (1L, 0L, 1L, "a", "b", "c", "d", "e", "f"),
      (2L, 0L, 2L, "a", "b", "c", "d", "e", "g"))
      .toDF("rid", "block", "ord", "f1", "f2", "f3", "f4", "f5", "f6")
    val ex = intercept[IllegalArgumentException] {
      Dedup.erScoredPairs(recs, "rid", "block", "ord",
        Seq("f1", "f2", "f3", "f4", "f5", "f6"), window = 1)
    }
    assert(ex.getMessage.contains("caps k at 5"), ex.getMessage)
    // k=5 at the same defaults runs and scores the pair (u=1 on every
    // field — agreement carries no evidence, odds 0.9⁵ < 10 → no match)
    val ok = Dedup.erScoredPairs(recs, "rid", "block", "ord",
        Seq("f1", "f2", "f3", "f4", "f5"), window = 1)
      .as[(Long, Long, String, Long, Boolean)].collect()
    assert(ok.toSeq == Seq((1L, 2L, "11111", 5L, false)), ok.mkString(","))
    // a tighter threshold denominator re-opens headroom the guard honors:
    // same k=6 with mDen=2 → (2·10⁶)⁶·10 ≈ 6.4·10³⁸ still rejected, mNum=1
    val ex2 = intercept[IllegalArgumentException] {
      Dedup.erScoredPairs(recs, "rid", "block", "ord",
        Seq("f1", "f2", "f3", "f4", "f5", "f6"), window = 1,
        mNum = 1L, mDen = 2L)
    }
    assert(ex2.getMessage.contains("overflow"), ex2.getMessage)
  }

  test("unigram LM: a word unreachable within `rounds` fails loudly, not silently") {
    // maxTokLen=1 forces pure char pieces: "abcdef" needs 6 rounds; at
    // rounds=3 the old code dropped the word from the output (and the
    // oracle replayed the same truncation) — now it must throw
    val docs = Seq("ab ab abcdef").toDF("text")
    val ex = intercept[IllegalArgumentException] {
      TextAnalysis.unigramWordPaths(docs, maxTokLen = 1, topSubs = 4,
        rounds = 3).collect()
    }
    assert(ex.getMessage.contains("dropped 1 of 2 distinct words"),
      ex.getMessage)
    // with rounds >= max word length every word segments
    val full = TextAnalysis.unigramWordPaths(docs, maxTokLen = 1, topSubs = 4,
      rounds = 6).select($"word", $"path").as[(String, String)].collect().toMap
    assert(full("abcdef") == "abcdef",
      full.toString)
  }

  test("tar read: a payload forging the ustar magic is rejected by the POSIX checksum") {
    // 512 zero bytes with "ustar" spelled at offset 257 — lands 512-aligned
    // in the archive (payloads start on block boundaries), passes the magic
    // nomination, but its stored checksum (NULs) cannot match the byte sum:
    // pre-fix this block was parsed as a bogus extra member (empty name,
    // size 0); post-fix only the true members come back
    val forged = Array.fill[Byte](512)(0)
    "ustar".getBytes("US-ASCII").copyToArray(forged, 257)
    val honest = Array.tabulate[Byte](300)(i => (i % 251).toByte)
    val media = Multimodal.asMedia(
      Seq((1L, forged), (2L, honest)).toDF("doc_id", "payload"),
      "doc_id", "payload")
    val tars = Multimodal.tarShardBytes(media, shardBytes = 65536L)
    val back = Multimodal.tarMemberSlices(tars)
      .select($"name", $"size", $"payload")
      .as[(String, Long, Array[Byte])].collect()
    assert(back.length == 2, back.map(_._1).mkString(","))
    assert(back.forall(_._1.matches("\\d{12}\\.bin")),
      back.map(_._1).mkString(","))
    // and the forged payload itself still round-trips byte-exact
    val m = back.map(r => (r._1, r._3)).toMap
    assert(java.util.Arrays.equals(m("000000000001.bin"), forged))
    assert(java.util.Arrays.equals(m("000000000002.bin"), honest))
  }

  test("boruvka oracle: unrolled to the engine's 20-round bound with a loud convergence assert") {
    // the oracle is DuckDB-side (driver-run); pin its structure here — a
    // 10-round unroll silently emitted a partial forest past ~2¹⁰-node
    // components, and nothing flagged non-convergence
    val sql = SparkEntry.oracleSql("graph_mst_boruvka")
    assert(sql.contains("e20"), "unroll must reach 20 rounds")
    assert(sql.contains("error("), "must carry the convergence assert")
    assert(sql.contains("FROM e20)"), "the assert must probe the FINAL round's edges")
  }

  test("keep-first span dedup: first occurrence survives intact, later copies scrub, uniques untouched") {
    // doc 1 carries the corpus-FIRST copy of the 4-token passage; docs 2
    // and 3 repeat it (doc 3 twice, overlapping unique context); doc 4 is
    // untouched
    val span = "P1 P2 P3 P4"
    val docs = Seq(
      (1L, s"a1 $span a2"),
      (2L, s"b1 b2 $span"),
      (3L, s"$span c1 $span"),
      (4L, "d1 d2 d3 d4 d5")).toDF("doc_id", "text")
    val got = Dedup.keepFirstSpans(docs, "doc_id", "text", n = 4)
      .select($"doc_id", $"text_clean", $"n_removed")
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // doc 1: untouched (it IS the first occurrence)
    assert(got(1L) == ((s"a1 $span a2", 0L)), got.toString)
    // doc 2: its copy scrubbed, context kept
    assert(got(2L) == (("b1 b2", 4L)), got.toString)
    // doc 3: BOTH its copies scrubbed (neither is the global first);
    // other windows of doc 3 ("P4 c1 P1 P2" etc.) occur once and add no
    // coverage, so c1 survives
    assert(got(3L) == (("c1", 8L)), got.toString)
    // doc 4: no repeated window anywhere near it
    assert(got(4L) == (("d1 d2 d3 d4 d5", 0L)), got.toString)
    // contrast with scrubSpans at minDocs=2: the first copy dies too
    val all = Dedup.scrubSpans(docs, "doc_id", "text", n = 4, minDocs = 2)
      .select($"doc_id", $"text_clean").as[(Long, String)].collect().toMap
    assert(all(1L) == "a1 a2", all.toString)
  }

  test("per-group log quantiles: partitioned walk matches the ungrouped sketch per group; edges decode hand-checked") {
    // group a: 1..100 (e spans 0..6); group b: three heavy outliers —
    // the per-group walk must not let b's tail contaminate a's ranks
    val rows = (1L to 100L).map(("a", _)) ++
      Seq(("b", 1000000L), ("b", 2000000L), ("b", 4000000L))
    val df = rows.toDF("g", "v")
    val p = 4
    val sk = df.select($"g",
        graft.ops.Profile.logBucket($"v", p).as("bucket"))
      .groupBy($"g", $"bucket").agg(count(lit(1)).as("cnt"))
    val got = graft.ops.Profile.quantilesFromLogSketchBy(
        sk, Seq("g"), p, Seq(50, 99))
      .select($"g", $"q_pct", $"n", $"estimate", $"est_upper")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    // each group independently agrees with the UNGROUPED walk on its rows
    for (g <- Seq("a", "b")) {
      val solo = graft.ops.Profile.quantilesFromLogSketch(
          graft.ops.Profile.quantileLogSketch(
            df.filter($"g" === g).select($"v"), $"v", p), p, Seq(50, 99))
        .select($"q_pct", $"n", $"estimate", $"est_upper")
        .as[(Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      for (q <- Seq(50L, 99L))
        assert(got((g, q)) == solo(q), s"g=$g q=$q")
    }
    // hand-checked: a's p50 = rank 50 -> value 50, e=5, s=2,
    // prefix=12 -> edges [48, 52); b's p50 = rank 2 -> 2000000
    assert(got(("a", 50L)) == ((100L, 48L, 52L)), got.toString)
    val (nB, loB, upB) = got(("b", 50L))
    assert(nB == 3L && loB <= 2000000L && 2000000L < upB, got.toString)
  }

  test("keep-first MAXIMAL-span dedup: full-span removal, threshold, keeper integrity — the nested case where the fixed-n rule provably differs") {
    // the nested repeat: a 4-token idiom lives both standalone (doc 1,
    // the corpus-first copy) and embedded inside a 12-token passage
    // duplicated across docs 2 and 3
    val idiom = "I1 I2 I3 I4"
    val rep = s"R1 R2 R3 R4 $idiom R5 R6 R7 R8" // 12 tokens >= minLen
    val docs = Seq(
      (1L, s"z1 $idiom z2"),
      (2L, s"a1 $rep a2"),
      (3L, s"b1 b2 $rep")).toDF("doc_id", "text")
    val got = Dedup.keepFirstMaximalSpans(docs, "doc_id", "text",
        minLen = 8, cap = 32)
      .select($"doc_id", $"text_clean", $"n_removed")
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // the idiom's own maximal extension is 4 tokens (< minLen = 8):
    // below the threshold, it survives EVERYWHERE
    assert(got(1L) == ((s"z1 $idiom z2", 0L)), got.toString)
    // the keeper of the 12-token passage stays INTACT: the embedded
    // idiom having an earlier copy in doc 1 is irrelevant at maximal
    // granularity
    assert(got(2L) == ((s"a1 $rep a2", 0L)), got.toString)
    // the later copy loses the passage as ONE 12-token span
    assert(got(3L) == (("b1 b2", 12L)), got.toString)
    // the provable divergence: the fixed-n rule scrubs the idiom out of
    // the passage's FIRST copy (doc 1 holds the earlier 4-window), and
    // dedupes the idiom across docs — both over-deletions at n < minLen
    val fixed = Dedup.keepFirstSpans(docs, "doc_id", "text", n = 4)
      .select($"doc_id", $"n_removed").as[(Long, Long)].collect().toMap
    assert(fixed(1L) == 0L, fixed.toString)
    assert(fixed(2L) == 4L, fixed.toString) // keeper damaged by the sub-window
    assert(fixed(3L) == 12L, fixed.toString)
  }

  test("rouge-l: LCS rewards order where the n-gram bags cannot; hand-computed P/R/F1") {
    val docs = Seq(
      (1L, "a b c d e"), (2L, "b x c y e"),   // LCS "b c e" = 3
      (3L, "a b"), (4L, "b a"),               // bag match 2, LCS 1
      (5L, "p q r"), (6L, "p q r"),           // identical: LCS 3, F1 1
      (7L, "u v"), (8L, "w z")                // disjoint: LCS 0, F1 0
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L))
      .toDF("cand_id", "ref_id")
    val got = TextAnalysis.rougeL(docs, pairs)
      .select($"cand_id", $"lcs_len", $"cand_total", $"ref_total", $"rouge_f1")
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 3L, 5L, 5L, 0.6)), got.toString)
    assert(got(3L)._2 == 1L, "LCS of reversed bigram must be 1, not 2")
    assert(got(5L) == ((5L, 3L, 3L, 3L, 1.0)), got.toString)
    assert(got(7L) == ((7L, 0L, 2L, 2L, 0.0)), got.toString)
    // the order-sensitivity CONTRAST: rougeN(1) on the reversed pair
    // counts both unigrams as matched
    val n1 = TextAnalysis.rougeN(docs, pairs.filter($"cand_id" === 3L),
        ns = Seq(1))
      .select($"match_n").as[Long].head()
    assert(n1 == 2L, s"rouge-1 clipped match should be 2, got $n1")
  }

  test("snapshot log: read-your-writes, version isolation, replay equality, compaction horizon") {
    // one key's life: insert @1, update @2, delete @3, re-insert @4 —
    // plus a second key that never changes after @1
    val log = Seq(
      (7L, 1L, 10L, "I", 1.0), (7L, 2L, 20L, "U", 2.0),
      (7L, 3L, 30L, "D", 0.0), (7L, 4L, 40L, "I", 4.0),
      (8L, 1L, 11L, "I", 8.0)).toDF("k", "v", "seq", "op", "value")
    def read(v: Long) =
      Profile.snapshotAt(log, "k", "v", Seq("seq"), "op", Seq("value"), v)
        .select($"k", $"last_version", $"value")
        .as[(Long, Long, Double)].collect().toSet
    // read-your-writes at each version; a commit at v+1 is INVISIBLE at v
    assert(read(1L) == Set((7L, 1L, 1.0), (8L, 1L, 8.0)))
    assert(read(2L) == Set((7L, 2L, 2.0), (8L, 1L, 8.0)))
    assert(read(3L) == Set((8L, 1L, 8.0)), "delete must hide the key")
    assert(read(4L) == Set((7L, 4L, 4.0), (8L, 1L, 8.0)))
    // replay equality: snapshotAt(v) == a test-side fold of commits 1..v
    val rows = Seq(
      (7L, 1L, 10L, "I", 1.0), (7L, 2L, 20L, "U", 2.0),
      (7L, 3L, 30L, "D", 0.0), (7L, 4L, 40L, "I", 4.0),
      (8L, 1L, 11L, "I", 8.0))
    for (v <- 1L to 4L) {
      val folded = rows.filter(_._2 <= v).sortBy(r => (r._2, r._3))
        .foldLeft(Map.empty[Long, (Long, Double)]) { (st, r) =>
          if (r._4 == "D") st - r._1 else st + (r._1 -> ((r._2, r._5)))
        }
      val want = folded.map { case (k, (lv, x)) => (k, lv, x) }.toSet
      assert(read(v) == want, s"replay mismatch at v=$v")
    }
    // compaction at horizon 3: reads at v >= 3 identical, log shrinks,
    // the pre-horizon history (key 7's insert/update) is forfeited
    val compacted = Profile.compactLog(log, "k", "v", Seq("seq"), "op",
      Seq("value"), horizon = 3L)
    def readC(v: Long) =
      Profile.snapshotAt(compacted, "k", "v", Seq("seq"), "op",
        Seq("value"), v)
        .select($"k", $"last_version", $"value")
        .as[(Long, Long, Double)].collect().toSet
    assert(readC(3L) == read(3L) && readC(4L) == read(4L))
    assert(compacted.count() == 2L, // key 8's state + key 7's re-insert @4
      compacted.collect().mkString(","))
  }

  test("quantile sketch: merge-of-merges is state-identical in any grouping; estimate within width always") {
    val w = 8L
    val a = Seq(1L, 5L, 9L, 100L).toDF("v")
    val b = Seq(2L, 9L, 63L, 64L, -17L).toDF("v")
    val c = Seq(900L, 901L, -1L).toDF("v")
    def sk(df: org.apache.spark.sql.DataFrame) =
      Profile.quantileSketch(df, $"v", w)
    def state(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long)].collect().toMap
    val ab_c = state(Profile.mergeQuantileSketches(Seq(
      Profile.mergeQuantileSketches(Seq(sk(a), sk(b))), sk(c))))
    val a_bc = state(Profile.mergeQuantileSketches(Seq(
      sk(a), Profile.mergeQuantileSketches(Seq(sk(b), sk(c))))))
    val all = state(sk(a.unionAll(b).unionAll(c)))
    assert(ab_c == a_bc && a_bc == all, s"$ab_c / $a_bc / $all")
    // negative values floor-bucket (not truncate-toward-zero):
    // -17 -> bucket -3 (covers [-24,-16)), -1 -> bucket -1
    assert(all(-3L) == 1L && all(-1L) == 1L, all.toString)
    // unconditional guarantee: every percentile's estimate is the lower
    // edge of the bucket HOLDING the exact rank element, on skewed data
    val skew = (Seq.fill(90)(3L) ++ (1L to 10L).map(_ * 1000L)).toDF("v")
    val est = Profile.quantilesFromSketch(sk(skew), w,
        Seq(1, 10, 50, 89, 90, 91, 95, 100))
      .select($"q_pct", $"estimate").as[(Long, Long)].collect().toMap
    val sorted = (Seq.fill(90)(3L) ++ (1L to 10L).map(_ * 1000L)).sorted
    for ((q, e) <- est) {
      val exact = sorted(((sorted.size * q + 99) / 100 - 1).toInt)
      assert(exact >= e && exact < e + w, s"q=$q est=$e exact=$exact")
    }
    assert(est(50L) == 0L && est(95L) == 5000L, est.toString)
  }

  test("dbscan: planted lines cluster apart, shared border takes min cluster, noise stays noise") {
    // two dense integer lines 16 apart (eps=10 keeps them separate), a
    // point eps-adjacent to BOTH clusters' end cores (the shared-border
    // min rule), and far noise; negative coordinates exercise the pmod
    // cell floor
    val pts = ((0 to 10).map(i => (1L + i, 5L * i, 0L)) ++
      (0 to 10).map(i => (21L + i, 5L * i, -16L)) ++
      Seq((40L, 55L, -8L), (50L, 300L, 300L), (51L, -200L, -150L)))
    val eps = 10L; val minPts = 4
    // in-test brute force: the independent ground truth
    val byId = pts.map(p => p._1 -> (p._2, p._3)).toMap
    def d2(a: Long, b: Long) = {
      val (xa, ya) = byId(a); val (xb, yb) = byId(b)
      (xa - xb) * (xa - xb) + (ya - yb) * (ya - yb)
    }
    val ids = pts.map(_._1)
    val neigh = ids.map(a => a -> ids.filter(b => d2(a, b) <= eps * eps)).toMap
    val core = ids.filter(a => neigh(a).size >= minPts).toSet
    // components of core-core adjacency by label flooding to the min id
    var lbl = core.map(c => c -> c).toMap
    var changed = true
    while (changed) {
      changed = false
      for (a <- core; b <- neigh(a) if core(b) && lbl(b) < lbl(a)) {
        lbl += a -> lbl(b); changed = true
      }
    }
    val want = ids.map { a =>
      if (core(a)) (a, "core", lbl(a))
      else {
        val adjCore = neigh(a).filter(b => b != a && core(b))
        if (adjCore.nonEmpty) (a, "border", adjCore.map(lbl).min)
        else (a, "noise", -1L)
      }
    }.toSet
    val got = Similarity.dbscanGrid(pts.toDF("id", "x", "y"), eps, minPts)
      .select($"id", $"kind", $"cluster")
      .as[(Long, String, Long)].collect().toSet
    assert(got == want, s"missing=${want -- got} ; extra=${got -- want}")
    // the planted facts hold: interiors of the two lines carry two
    // DIFFERENT cluster labels, the shared border picked the smaller one,
    // far points are noise
    val m = got.map(r => r._1 -> ((r._2, r._3))).toMap
    assert(m(6L)._1 == "core" && m(26L)._1 == "core" && m(6L)._2 != m(26L)._2)
    assert(m(40L)._1 == "border" && m(40L)._2 == math.min(m(11L)._2, m(31L)._2))
    assert(m(50L) == (("noise", -1L)) && m(51L) == (("noise", -1L)))
    // line ENDPOINTS have only 3 eps-neighbors (self + 2) at minPts=4:
    // border, not core — density, not connectivity, defines the core set
    assert(m(1L)._1 == "border" && m(21L)._1 == "border", m.toString)
  }

  test("leiden refinement: a bridge-hollowed community splits into components; modularity never drops") {
    // Hub 5 carries leaves 1 and 9 and hangs off anchor node 0's K6
    // clique. Synchronized local moves: 1, 9, AND 0 all pick hub 5 (their
    // best gain) while 5 itself defects to leaf 1 (highest gain, lowest
    // id) — so the label-5 community is {1, 9, 0}, three MUTUALLY
    // NON-ADJACENT nodes whose only connection ran through the departed
    // hub: the Louvain disconnected-community defect from the Leiden
    // paper, planted. (Level 2 swaps labels between {1,9,0} and {5} but
    // merges nothing, so the defect survives composition.)
    def clique(ids: Seq[Long]) =
      for (i <- ids.indices; j <- i + 1 until ids.size) yield (ids(i), ids(j))
    val edges = (clique(Seq(0L, 21L, 22L, 23L, 24L, 25L)) ++
      Seq((1L, 5L), (9L, 5L), (0L, 5L))).toDF("a", "b")
    val lou = Graph.louvainTwoLevelLabels(edges)
      .select($"node", $"lbl").as[(Long, Long)].collect().toMap
    val lei = Graph.leidenRefineLabels(edges)
      .select($"node", $"lbl").as[(Long, Long)].collect().toMap
    // louvain: {1, 9, 0} share a label, hub 5 is elsewhere
    assert(lou(1L) == lou(9L) && lou(9L) == lou(0L) && lou(5L) != lou(1L),
      s"fixture no longer plants the defect: $lou")
    // leiden: the disconnected trio splits into three singletons
    assert(Set(lei(1L), lei(9L), lei(0L)).size == 3,
      s"disconnected community not split: $lei")
    // every refined community is internally connected: per community, the
    // within-community subgraph has exactly one component
    val lbls = Graph.leidenRefineLabels(edges)
    val wce = edges
      .join(lbls.select($"node".as("a"), $"lbl".as("la")), Seq("a"))
      .join(lbls.select($"node".as("b"), $"lbl".as("lb")), Seq("b"))
      .filter($"la" === $"lb").select($"a", $"b")
    val perComm = Graph.ccTwoStarsNodes(wce)
      .withColumnRenamed("lbl", "comp")
      .join(lbls.select($"node", $"lbl"), Seq("node"))
      .groupBy($"lbl").agg(countDistinct($"comp").as("nc"))
    assert(perComm.filter($"nc" > 1).count() == 0L,
      "a refined community is still disconnected")
    // modularity non-decrease, exactly
    def q(nl: org.apache.spark.sql.DataFrame) =
      Graph.modularity(edges, nl).select($"q_total").as[Double].head()
    val qLou = q(Graph.louvainTwoLevelLabels(edges).select($"node", $"lbl"))
    val qLei = q(lbls.select($"node", $"lbl"))
    assert(qLei >= qLou, s"modularity dropped: $qLou -> $qLei")
    assert(qLei > qLou, "splitting a disconnected community must strictly raise Q")
    // the one-row quality gate sees the same story: the split (+2
    // communities), full connectivity, and a STRICT scaled-Q increase
    val quality = Graph.leidenQuality(edges)
      .as[(Long, Long, Long, Boolean, Long, Long, Boolean)].head()
    assert(quality._2 == quality._1 + 2, quality.toString)
    assert(quality._3 == 0L && quality._4, quality.toString)
    assert(quality._6 > quality._5 && quality._7, quality.toString)
    // scaled integer Q agrees with the double-valued modularity() up to
    // the scaling: Q_double = Q_scaled / (4 m²)
    val m = edges.count().toDouble
    assert(math.abs(quality._5 / (4 * m * m) - qLou) < 1e-9, quality.toString)
    assert(math.abs(quality._6 / (4 * m * m) - qLei) < 1e-9, quality.toString)
  }

  test("leiden quality closure reuse: within-refined edge set equals within-Louvain, second closure equals first") {
    // The r16 leidenQuality optimization replaces the second full-edge
    // label-join pair and the second star-contraction loop with the
    // first closure's output (the call-site theorem). This test
    // recomputes both the long way on (a) the planted bridge-hollowed
    // defect fixture and (b) a pseudorandom multi-component graph, and
    // asserts the multiset/label identities the shortcut relies on.
    def clique(ids: Seq[Long]) =
      for (i <- ids.indices; j <- i + 1 until ids.size) yield (ids(i), ids(j))
    val planted = (clique(Seq(0L, 21L, 22L, 23L, 24L, 25L)) ++
      Seq((1L, 5L), (9L, 5L), (0L, 5L))).toDF("a", "b")
    // deterministic pseudorandom graph: 60 nodes, hash-derived edges
    // (several components, chains, a clique, and a node with only a
    // self-loop to hit the closure's self-loop drop path)
    val rnd = ((0 until 120).map { i =>
      val a = (i * 2654435761L) % 60
      val b = (i * 40503L + 7) % 60
      (math.min(a, b), math.max(a, b))
    } :+ ((59L, 59L))).toDF("a", "b")
    for (edges <- Seq(planted, rnd)) {
      val lou = Graph.louvainTwoLevelLabels(edges)
      def withinOf(lf: org.apache.spark.sql.DataFrame) = edges
        .join(lf.select($"node".as("a"), $"lbl".as("la")), Seq("a"))
        .join(lf.select($"node".as("b"), $"lbl".as("lb")), Seq("b"))
        .filter($"la" === $"lb").select($"a", $"b")
      val withinLou = withinOf(lou)
      val comp = Graph.ccTwoStarsNodes(withinLou)
      val leiden = lou
        .join(comp.select($"node", $"lbl".as("__c")), Seq("node"), "left")
        .select($"node", coalesce($"__c", $"node").as("lbl"), $"d")
      // (1) within-refined edge multiset == within-Louvain edge multiset
      val longWay = withinOf(leiden.select($"node", $"lbl"))
        .groupBy($"a", $"b").count()
      val shortWay = withinLou.groupBy($"a", $"b").count()
      assert(longWay.exceptAll(shortWay).isEmpty &&
        shortWay.exceptAll(longWay).isEmpty,
        "within-refined edge multiset differs from within-Louvain")
      // (2) the closure over the within-refined edges IS the first closure
      val compR = Graph.ccTwoStarsNodes(withinOf(leiden))
        .as[(Long, Long)].collect().toMap
      assert(comp.as[(Long, Long)].collect().toMap == compR,
        "second component closure differs from the first")
    }
  }

  test("byte-level BPE: hex-space merges on mixed scripts, non-ASCII round-trip, binary units") {
    // café=63 61 66 C3 A9 (x3), naïve=6E 61 C3 AF 76 65 (x1),
    // 東京=E6 9D B1 E4 BA AC (x2): top pair count is 3 (café's four
    // adjacent byte pairs); the (cnt DESC, a, b) tiebreak picks hex-least
    // a — ("61","66")
    val docs = Seq("café café naïve", "東京 東京 café").toDF("text")
    val merges = TextAnalysis.bpeBytesMerges(docs, iterations = 3)
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(merges.head == ((1L, "61 66", 3L)), merges.mkString(","))
    // every word round-trips: unhex(concat(tokens)) = its UTF-8 bytes
    val enc = TextAnalysis.bpeBytesEncodeWords(docs, iterations = 3)
      .select($"word", array_join($"tokens", "").as("hx"))
      .as[(String, String)].collect()
    assert(enc.length == 3)
    enc.foreach { case (w, hx) =>
      val bytes = (0 until hx.length / 2)
        .map(i => Integer.parseInt(hx.substring(2 * i, 2 * i + 2), 16).toByte)
      assert(new String(bytes.toArray, "UTF-8") == w, s"$w -> $hx")
    }
    // multi-byte symbols never split a codepoint ACROSS a merge? they may —
    // byte level merges bytes regardless of codepoint boundaries (the
    // GPT-2 behavior); what IS guaranteed is byte-exact reassembly, which
    // the loop above pins for 2- and 3-byte scripts
    // true non-UTF-8 binary units through the OnHex entry: NUL runs and
    // invalid continuation bytes
    val raw = Seq(
      ("u1", 2L, Array[Byte](0, -1, -2, 0, -1, -2, 0x41)),
      ("u2", 1L, Array[Byte](-1, -2, 0x41, 0x41, 0, 0))).toDF("word", "freq", "bin")
      .select($"word", $"freq", hex($"bin").as("hx"))
    val m2 = TextAnalysis.bpeBytesMergesOnHex(raw, iterations = 2)
      .as[(Long, String, Long)].collect().sortBy(_._1)
    // pairs: (00,FF)x2w -> cnt 2*2=4... weighted by freq: u1 has (00,FF)x2,
    // (FF,FE)x2, (FE,00)x1, (FE,41)x1 at freq 2; u2 has (FF,FE),(FE,41),
    // (41,41),(41,00) at freq 1 (self-pair 00,00 excluded) ->
    // (00,FF)=4, (FF,FE)=5, (FE,41)=3, (FE,00)=2, (41,41)=1, (41,00)=1
    assert(m2.head == ((1L, "FF FE", 5L)), m2.mkString(","))
    val enc2 = TextAnalysis.bpeBytesEncodeOnHex(raw, iterations = 2)
      .select($"word", array_join($"tokens", "").as("out"))
      .as[(String, String)].collect().toMap
    assert(enc2("u1") == "00FFFE00FFFE41" && enc2("u2") == "FFFE41410000",
      enc2.toString)
  }

  test("maximal repeats: nested spans report once at full length; wa/wb splits; doc-end; self-repeat") {
    // independent brute force over every (position, length) — the spec-side
    // twin of the DuckDB oracle, on planted cases
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def brute(docs: Seq[(Long, String)], minLen: Int): Set[(Long, Long, Long, String)] = {
      val tks = docs.map { case (id, t) => (id, t.trim.split("\\s+")) }
      val byId = tks.toMap
      val occ = scala.collection.mutable.Map.empty[(Int, String), List[(Long, Int)]]
      for ((id, w) <- tks; l <- minLen to w.length; p <- 0 to w.length - l) {
        val s = w.slice(p, p + l).mkString(" ")
        occ((l, s)) = (id, p) :: occ.getOrElse((l, s), Nil)
      }
      occ.iterator.filter(_._2.size >= 2).flatMap { case ((l, s), os) =>
        val nxt = os.map { case (d, p) =>
          val w = byId(d); if (p + l < w.length) Some(w(p + l)) else None }
        val prv = os.map { case (d, p) =>
          val w = byId(d); if (p > 0) Some(w(p - 1)) else None }
        val rMax = nxt.contains(None) || nxt.flatten.distinct.size >= 2
        val lMax = prv.contains(None) || prv.flatten.distinct.size >= 2
        if (rMax && lMax)
          Some((l.toLong, os.size.toLong, os.map(_._1).distinct.size.toLong, md5hex(s)))
        else None
      }.toSet
    }
    val w8 = (1 to 8).map(i => s"W$i").mkString(" ")
    val n12 = (1 to 12).map(i => s"N$i").mkString(" ")
    val e6 = (1 to 6).map(i => s"E$i").mkString(" ")
    val docs = Seq(
      // 4-way repeat w8 with two 2-way extensions "w8 a" / "w8 b"
      (1L, s"p1 p2 $w8 a q1 q2"),
      (2L, s"r1 $w8 a s1"),
      (3L, s"t1 $w8 b u1"),
      (4L, s"v1 $w8 b x1 y1"),
      // nested: a 12-token repeat must NOT also report 4..11-token subs
      (5L, s"c1 c2 $n12 c3"),
      (6L, s"d1 $n12 d2"),
      // doc-end repeat (right-maximal via both documents ending)
      (7L, s"e1 e2 $e6"),
      (8L, s"f1 $e6"),
      // within-document self-repeat (n_docs = 1, n_occ = 2)
      (9L, "g1 S1 S2 S3 S4 g2 S1 S2 S3 S4 g3"))
    val df = docs.toDF("doc_id", "text")
    val got = Dedup.maxRepeats(df, "doc_id", "text", minLen = 4, cap = 32)
      .as[(Long, Long, Long, String)].collect().toSet
    val want = brute(docs, minLen = 4)
    assert(got == want,
      s"missing=${want -- got} ; extra=${got -- want}")
    // the planted spans themselves are in the output at FULL length only
    assert(got.contains((8L, 4L, 4L, md5hex(w8))), "w8 missing")
    assert(got.contains((9L, 2L, 2L, md5hex(s"$w8 a"))), "w8+a missing")
    assert(got.contains((9L, 2L, 2L, md5hex(s"$w8 b"))), "w8+b missing")
    assert(got.contains((12L, 2L, 2L, md5hex(n12))), "n12 missing")
    assert(!got.exists(r => r._4 == md5hex((1 to 11).map(i => s"N$i").mkString(" "))),
      "an 11-token prefix of the 12-token repeat leaked out")
    assert(got.contains((6L, 2L, 2L, md5hex(e6))), "doc-end repeat missing")
    assert(got.contains((4L, 2L, 1L, md5hex("S1 S2 S3 S4"))), "self-repeat missing")
  }

  test("maximal repeats: periodic text nests linearly — loud maxLevels, exact at a high bound") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val per = Seq((1L, Seq.fill(12)("x").mkString(" "))).toDF("doc_id", "text")
    val ex = intercept[IllegalArgumentException] {
      Dedup.maxRepeats(per, "doc_id", "text", minLen = 4, cap = 16,
        maxLevels = 2).collect()
    }
    assert(ex.getMessage.contains("maxLevels"), ex.getMessage)
    // x^l for l in 4..11 each recurs (12-l+1 times), every one maximal
    // (an occurrence starts at pos 0 and another ends at doc end)
    val got = Dedup.maxRepeats(per, "doc_id", "text", minLen = 4, cap = 16,
        maxLevels = 12)
      .as[(Long, Long, Long, String)].collect().toSet
    val want = (4 to 11).map(l =>
      (l.toLong, (13 - l).toLong, 1L, md5hex(Seq.fill(l)("x").mkString(" ")))).toSet
    assert(got == want, s"missing=${want -- got} ; extra=${got -- want}")
  }

  test("maximal repeats: a repeat reaching cap raises instead of truncating; no repeats -> empty") {
    val twin = Seq(
      (1L, (1 to 10).map(i => s"T$i").mkString(" ")),
      (2L, (1 to 10).map(i => s"T$i").mkString(" "))).toDF("doc_id", "text")
    val ex = intercept[IllegalArgumentException] {
      Dedup.maxRepeats(twin, "doc_id", "text", minLen = 4, cap = 8).collect()
    }
    assert(ex.getMessage.contains("cap=8"), ex.getMessage)
    // at cap >= the repeat length the identical-twin pair IS the repeat
    val ok = Dedup.maxRepeats(twin, "doc_id", "text", minLen = 4, cap = 16)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(ok.map(r => (r._1, r._2, r._3)) == Set((10L, 2L, 2L)), ok.toString)
    val none = Dedup.maxRepeats(
      Seq((1L, "a b c d e f"), (2L, "g h i j k l")).toDF("doc_id", "text"),
      "doc_id", "text", minLen = 4, cap = 16)
    assert(none.count() == 0L)
  }

  test("funnel steps: earliest-greedy prefix, strict ordering, tie excluded") {
    val ev = Seq(
      // user 1 completes all four steps in order
      (1L, 0L, "signup"), (1L, 10L, "view"), (1L, 20L, "click"),
      (1L, 30L, "purchase"),
      // user 2's only views precede its signup -> stops at step 1
      (2L, 0L, "view"), (2L, 10L, "signup"), (2L, 5L, "view"),
      // user 3: view TIES the signup (strict > excludes it); the later
      // click can't count without a view
      (3L, 0L, "signup"), (3L, 0L, "view"), (3L, 5L, "click"),
      // user 4 reaches step 2 and then skips click -> purchase ignored
      (4L, 0L, "signup"), (4L, 5L, "view"), (4L, 6L, "purchase"))
      .toDF("user_id", "sec", "event_type")
      .withColumn("ts", timestamp_seconds($"sec"))
    val got = Behavior.funnelSteps(ev, "user_id", "ts", "event_type",
      Seq("signup", "view", "click", "purchase"))
      .select($"step_idx", $"step", $"n_users")
      .as[(Int, String, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1, "signup", 4L), (2, "view", 2L),
      (3, "click", 1L), (4, "purchase", 1L)), got.mkString(","))
  }

  test("transition matrix: counts, row-normalized p, id tiebreak at tied ts") {
    val ev = Seq(
      (1L, 1L, 1L, "A"), (1L, 2L, 2L, "B"), (1L, 3L, 3L, "A"),
      (2L, 1L, 4L, "A"), (2L, 2L, 5L, "A"),
      // user 3: equal timestamps -> event_id orders X before Y
      (3L, 5L, 1L, "X"), (3L, 5L, 2L, "Y"))
      .toDF("user_id", "sec", "event_id", "event_type")
      .withColumn("ts", timestamp_seconds($"sec"))
    val got = Behavior.transitionMatrix(ev, "user_id", "ts", "event_id",
      "event_type")
      .select($"prev_type", $"next_type", $"n", $"p")
      .as[(String, String, Long, Double)].collect().toSet
    assert(got == Set(
      ("A", "B", 1L, 0.5), ("A", "A", 1L, 0.5), ("B", "A", 1L, 1.0),
      ("X", "Y", 1L, 1.0)), got.toString)
  }

  test("retention cohort: first-month cohorts, distinct actives, offsets") {
    val orders = Seq(
      // c1: two orders in 2020-01 collapse to one active month
      (1L, "2020-01-05"), (1L, "2020-01-20"), (1L, "2020-03-02"),
      (2L, "2020-03-15"),
      // c3 spans a year boundary: offset 2 from 2019-12
      (3L, "2019-12-01"), (3L, "2020-02-10"))
      .toDF("cust", "d").withColumn("d", to_timestamp($"d"))
    val got = Behavior.retentionCohort(orders, "cust", "d")
      .select($"cohort_year", $"cohort_month", $"month_offset", $"n_customers")
      .as[(Int, Int, Int, Long)].collect().toSet
    assert(got == Set(
      (2020, 1, 0, 1L), (2020, 1, 2, 1L),
      (2020, 3, 0, 1L),
      (2019, 12, 0, 1L), (2019, 12, 2, 1L)), got.toString)
  }

  test("theta method: exact trend on a linear key, SES recursion replay") {
    // key L: y_t = 10 + 2t for t=0..9 -> OLS recovers intercept 10,
    // slope 2 exactly (integer moments); z_t = 2y - trend = y, so ses
    // follows the sequential SES of y and the forecast averages the
    // extrapolated line with the rounded ses.
    val ev = (0 until 10).flatMap { t0 =>
      Seq.fill(10 + 2 * t0)(("L", t0.toLong * 3600L))
    }.toDF("k", "sec").withColumn("ts", timestamp_seconds($"sec"))
    val got = TimeSeries.theta(ev, "k", "ts", bucketSec = 3600L)
      .select($"bucket", $"n", $"trend", $"ses", $"forecast_next")
      .as[(Long, Long, Double, Double, Double)].collect().sortBy(_._1)
    // sequential replay with the same rounded algebra
    var s = 0.0
    got.zipWithIndex.foreach { case ((_, n, trend, ses, fc), t0) =>
      val line = 10.0 + 2.0 * t0
      assert(trend == line, s"trend at $t0: $trend != $line")
      val z = 2.0 * n - line
      s = if (t0 == 0) z else 0.5 * z + 0.5 * s
      assert(math.abs(ses - s) < 2e-6, s"ses at $t0: $ses vs $s")
      val sesR = math.rint(s * 1e6) / 1e6
      val want = math.rint((0.5 * (10.0 + 2.0 * (t0 + 1.0)) + 0.5 * sesR) * 1e6) / 1e6
      assert(math.abs(fc - want) < 2e-6, s"forecast at $t0: $fc vs $want")
    }
  }

  test("pps sample: inclusion proportional to size, caps at 1, deterministic") {
    val df = (1L to 200L).map(k => (k, if (k <= 10) 1000.0 else 1.0))
      .toDF("key", "v")
    val got = Sampling.ppsSample(df, "key", "v", totalN = 5L)
      .as[(Long, Long)].collect().toMap
    // total cents = 10*100000 + 190*100 = 1019000; big rows have
    // pi = min(1, 5*100000/1019000) = 0.49...; small pi ~ 0.00049
    val piBig = math.round(math.min(1.0, 5.0 * 100000.0 / 1019000.0) * 1e6)
    got.foreach { case (k, ppm) =>
      assert(ppm == (if (k <= 10) piBig else
        math.round(math.min(1.0, 5.0 * 100.0 / 1019000.0) * 1e6)), (k, ppm))
    }
    // determinism: same selection under a different partitioning
    val again = Sampling.ppsSample(df.repartition(7), "key", "v", 5L)
      .as[(Long, Long)].collect().toMap
    assert(again == got)
    // a value large enough to dominate caps at pi_ppm = 1e6 and is
    // always selected
    val capped = Sampling.ppsSample(
      Seq((1L, 1e9), (2L, 0.01)).toDF("key", "v"), "key", "v", 10L)
      .as[(Long, Long)].collect().toMap
    assert(capped(1L) == 1000000L, capped.toString)
  }

  test("decile lift: concentrated value ranks first, gain/lift exact") {
    // 100 rows: keys 1..10 worth $100 each, keys 11..100 worth $1 ->
    // decile 1 is exactly the ten $100 rows: gain = 1000/1090,
    // lift = gain/0.1
    val df = (1L to 100L).map(k => (k, if (k <= 10) 100.0 else 1.0))
      .toDF("key", "v")
    val got = Profile.decileLift(df, "key", col("v"), n = 10)
      .select($"decile", $"n_rows", $"cum_rows", $"gain", $"lift")
      .as[(Int, Long, Long, Double, Double)].collect().sortBy(_._1)
    assert(got.length == 10 && got.forall(_._2 == 10L))
    assert(got.head._4 == 100000.0 / 109000.0, got.head.toString)
    assert(got.head._5 == (100000.0 / 109000.0) / 0.1, got.head.toString)
    assert(got.last._3 == 100L && got.last._4 == 1.0 && got.last._5 == 1.0)
  }

  test("neyman allocation: budget follows N_h*sigma_h; degenerate strata get 0") {
    val df = Seq(
      // stratum A: zero variance -> sigma 0 -> alloc 0
      ("A", 10.0), ("A", 10.0), ("A", 10.0),
      // stratum B: sd of {10,20,30} dollars = 10 exactly
      ("B", 10.0), ("B", 20.0), ("B", 30.0),
      // singleton stratum: n=1 guard -> sigma 0
      ("C", 99.0))
      .toDF("stratum", "v")
    val got = Sampling.neymanAllocation(df, "stratum", "v", totalN = 1000L)
      .select($"stratum", $"n_pop", $"sigma", $"alloc")
      .as[(String, Long, Double, Long)].collect().toSet
    assert(got == Set(
      ("A", 3L, 0.0, 0L), ("B", 3L, 10.0, 1000L), ("C", 1L, 0.0, 0L)),
      got.toString)
  }

  test("two-star CC and bipartite: non-canonical input gives the canonical labels") {
    import spark.implicits._
    // Both closures canonicalize their own input: flipping orientations,
    // repeating rows and adding a self-loop must leave every label as
    // the strictly-canonical distinct edge list gives it.
    val rnd = new scala.util.Random(1608L)
    val canon = (1 to 150).map(_ => (rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct
    val messy = canon.zipWithIndex.flatMap { case ((a, b), i) =>
      val row = if (i % 2 == 0) (b, a) else (a, b)
      if (i % 3 == 0) Seq(row, (a, b), (b, a)) else Seq(row)
    } :+ ((7L, 7L))
    assert(messy.exists { case (a, b) => a > b } && messy.size > canon.size + 1)
    val (e, m) = (canon.toDF("a", "b"), messy.toDF("a", "b"))
    def cc(df: org.apache.spark.sql.DataFrame) =
      Graph.ccTwoStarsNodes(df).as[(Long, Long)].collect().sorted.toSeq
    assert(cc(m) == cc(e), "closure labels drifted on non-canonical input")
    def bip(df: org.apache.spark.sql.DataFrame) = Graph.bipartiteColor(df)
      .as[(Long, Long, Option[Int], Boolean)].collect().sortBy(_._1).toSeq
    assert(bip(m) == bip(e), "bipartite decode drifted on non-canonical input")
  }

  test("modularity d_c from the node-degree fold equals the endpoint count") {
    import spark.implicits._
    val rnd = new scala.util.Random(42L)
    val e = (1 to 120).map(_ => (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct.toDF("a", "b")
    val nl = Graph.labelPropagationNodes(e, rounds = 2)
    val out = Graph.modularity(e, nl)
      .select($"community", $"d_c").as[(Long, Long)].collect().toMap
    // by hand: Σ deg(v) over each community's members
    val deg = e.as[(Long, Long)].collect().toSeq
      .flatMap { case (a, b) => Seq(a, b) }.groupBy(identity)
      .map { case (v, ends) => v -> ends.size.toLong }
    val byHand = nl.select($"node", $"lbl").as[(Long, Long)].collect().toSeq
      .groupBy(_._2).map { case (c, ms) => c -> ms.map(m => deg(m._1)).sum }
    assert(out == byHand, s"d_c drifted: $byHand vs $out")
  }
}
