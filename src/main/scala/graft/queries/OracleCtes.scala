package graft
package queries

/** Oracle CTE builders shared across query families: the LSH bucketing
  * (ann, dedup), the int8 quantization and k-means chains (ann, dedup,
  * sample) and the md5-LSH candidate pairs (dedup, decon). */
object OracleCtes {
  /** The LSH top-k oracle replicates the ENTIRE approximate pipeline in
    * DuckDB — hyperplane sign-bit bucketing included — by materializing
    * the deterministic plane matrix (Similarity.hyperplanes(8, 64), the
    * exact planes lshTopK uses) as SQL literals. Java's Double.toString is
    * shortest-round-trip, so DuckDB parses each literal back to the
    * identical double; dot products fold left-to-right on both sides.
    * This upgrades ann_lsh_topk from "no_oracle" to a full hash gate: the
    * approximate answer itself is verified, not just its row count. */
  private[graft] def sqlDoubleArray(xs: Seq[Double]): String =
    xs.map(d => java.lang.Double.toString(d)).mkString("[", ", ", "]::DOUBLE[]")

  /** CTE chain `e, planes, b` computing every vector's sign-bit bucket
    * from a literal plane matrix — shared by the two LSH oracles. */
  private[graft] def bucketCtes(planes: Seq[Seq[Double]]): String = {
    val planeRows = planes.zipWithIndex
      .map { case (p, i) => s"($i, ${sqlDoubleArray(p)})" }.mkString(", ")
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |planes(pid, p) AS (VALUES $planeRows),
       |b AS (
       |  SELECT vec_id, v,
       |         sum(CASE WHEN list_reduce(list_transform(range(0, len(v)), i -> v[i+1] * p[i+1]), (x,y) -> x + y) >= 0
       |                  THEN CAST(1 AS BIGINT) << pid ELSE 0 END) AS bucket
       |  FROM e, planes GROUP BY vec_id, v)""".stripMargin
  }

  /** Shared int8-quantization CTEs (`e` raw vectors → `s` (vec_id, qv)) —
    * the DuckDB replica of vectornative.quantize_int8, composed by every
    * quantized-analytics oracle (k-means, SemDeDup, PCA power iteration). */
  private[graft] val quantizeCtes: String =
    """e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |s AS (SELECT vec_id,
      |    CASE WHEN list_max(list_transform(v, x -> abs(x))) = 0
      |         THEN list_transform(v, x -> 0.0)
      |         ELSE list_transform(v, x -> round(x / (list_max(list_transform(v, y -> abs(y))) / 127))) END AS qv
      |  FROM e)""".stripMargin

  /** Shared CTE chain of the quantized-k-means recurrence (quantize →
    * init → `iters` assign/update rounds → final assignment s{iters+1}
    * with (vec_id, qv, cid)) — composed by the kmeans oracle and the
    * SemDeDup oracle so the clustering replay can't drift between them. */
  private[graft] def kmeansCtes(iters: Int): String = {
    def assign(src: String, cents: String, out: Int): String =
      s"""a$out AS (SELECT vec_id, qv, $cents.cid AS cid, row_number() OVER (PARTITION BY vec_id ORDER BY
         |  list_reduce(list_transform(range(0, len(qv)), i -> (qv[i+1]-cv[i+1])*(qv[i+1]-cv[i+1])), (x,y) -> x+y), $cents.cid) AS rk
         |  FROM $src, $cents),
         |s$out AS (SELECT vec_id, qv, cid FROM a$out WHERE rk = 1)""".stripMargin
    def update(n: Int): String =
      s"""x$n AS (SELECT cid, i AS pos, qv[CAST(i+1 AS INT)] AS val
         |  FROM s$n, unnest(range(0, len(qv))) AS u(i)),
         |m$n AS (SELECT cid, pos, round(avg(val)) + 0.0 AS cval FROM x$n GROUP BY cid, pos),
         |c$n AS (SELECT cid, list(cval ORDER BY pos) AS cv FROM m$n GROUP BY cid)""".stripMargin
    val rounds = (1 to iters).map(i =>
      assign(if (i == 1) "s" else s"s${i - 1}", s"c${i - 1}", i) + ",\n" + update(i))
      .mkString(",\n")
    val fin = iters + 1
    s"""WITH $quantizeCtes,
       |c0 AS (SELECT vec_id AS cid, qv AS cv FROM s WHERE vec_id < 8),
       |$rounds,
       |${assign(s"s$iters", s"c$iters", fin)}""".stripMargin
  }

  private[graft] def md5LshCandCtes(docsSrc: String): String = {
    val famRows = graft.ops.Dedup.hashFamily(64).zipWithIndex
      .map { case ((a, b), i) => s"($i, $a, $b)" }.mkString(", ")
    s"""fam(hid, a, b) AS (VALUES $famRows),
       |tk AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM $docsSrc),
       |sh AS (SELECT doc_id, array_to_string(toks[i+1:i+3], ' ') AS s
       |       FROM tk, unnest(range(0, greatest(len(toks) - 2, 0))) AS u(i)),
       |hs AS (SELECT doc_id, CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) % 2147483647 AS h
       |       FROM sh),
       |sig AS (SELECT doc_id, hid, min((a * h + b) % 2147483647) AS m
       |        FROM hs, fam GROUP BY doc_id, hid),
       |sigl AS (SELECT doc_id, list(m ORDER BY hid) AS sig FROM sig GROUP BY doc_id),
       |banded AS (SELECT doc_id, b AS band_id,
       |             array_to_string(sig[b * 4 + 1 : b * 4 + 4], ',') AS bkey
       |           FROM sigl, unnest(range(0, 16)) AS u(b)),
       |cand AS (SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id
       |         FROM banded l JOIN banded r
       |           ON l.band_id = r.band_id AND l.bkey = r.bkey AND l.doc_id < r.doc_id)""".stripMargin
  }
}
