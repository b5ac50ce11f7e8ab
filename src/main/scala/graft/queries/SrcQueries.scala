package graft
package queries

import graft.ops._
import graft.sources.Sources
import org.apache.spark.sql.functions._
import Fixtures._

/** Sources: file-format round-trips (CSV, JSON, ORC, tar, binary files)
  * and schema evolution. */
object SrcQueries {
  val cases: Seq[Case] = Seq(
    // S-format round-trips through the oracle gate: write CSV/JSONL to
    // scratch, read back with the declared schema, aggregate — the
    // oracle aggregates the ORIGINAL table, so any value mangled by
    // serialization (double shortest-round-trip, nulls, quoting) flips
    // the hash.
    Case("src_csv_roundtrip", { (s, dir) =>
      val path = layoutPath("orders_csv")
      val src = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      Sources.writeCsv(src, path)
      // Read-back schema is DERIVED from the source frame, not hard-coded:
      // if the driver's fixture generation shifts a column's physical type,
      // the declared read shifts with it instead of silently re-casting.
      // The price sum leaves the gate as exact integer CENTS — a decimal
      // column renders scale-dependently ("x.00" vs "x.0") once a checker
      // materializes one side as float, so no decimal crosses the boundary.
      Sources.readCsv(s, path, src.schema)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          (sum(col("o_totalprice").cast("decimal(18,2)")) * 100).cast("long")
            .as("sum_price_cents"),
          min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
    },
      Some("""SELECT o_orderstatus, count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |         AS sum_price_cents,
        |       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders GROUP BY o_orderstatus""".stripMargin)),

    // Schema evolution: generation 1 writes (key, price); generation 2
    // appends (key, price, priority); a mergeSchema read unions the
    // schemas, backfilling generation-1 rows with NULL priority — the
    // lakehouse column-add path. The oracle reproduces the union from
    // the source table (priority visible only for the gen-2 half), so a
    // read that dropped either generation's column set turns the hash.
    Case("src_schema_evolution", { (s, dir) =>
      val path = layoutPath("orders_evo")
      val o = t(s, dir, "orders")
      o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(path)
      o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        .write.mode("append").parquet(path)
      s.read.option("mergeSchema", "true").parquet(path)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_rows"),
          (sum(col("o_totalprice").cast("decimal(18,2)")) * 100).cast("long")
            .as("sum_price_cents"))
    },
      Some("""SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END AS o_orderpriority,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |         AS sum_price_cents
        |FROM orders GROUP BY 1""".stripMargin)),

    Case("src_json_roundtrip", { (s, dir) =>
      val path = layoutPath("orders_json")
      val src = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      Sources.writeJsonLines(src, path)
      Sources.readJsonLines(s, path, src.schema)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          (sum(col("o_totalprice").cast("decimal(18,2)")) * 100).cast("long")
            .as("sum_price_cents"))
    },
      Some("""SELECT o_orderpriority, count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |         AS sum_price_cents
        |FROM orders GROUP BY o_orderpriority""".stripMargin)),

    // binaryFile round-trip — the multimodal ingestion path: one opaque
    // .bin file per document (executor-side writes), read back via the
    // binaryFile source; id parsed from the path, byte length and
    // content md5 gated against the original strings. Any byte the
    // file/read cycle mangles (encoding, truncation, content cap) flips
    // the hash.
    Case("src_binaryfile", { (s, dir) =>
      val path = layoutPath("docs_bin")
      Sources.writeBinaryFiles(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", path)
      Sources.readBinaryFiles(s, path)
        .select(
          regexp_extract(col("path"), "(\\d+)\\.bin$", 1).cast("long")
            .as("doc_id"),
          col("length").as("n_bytes"),
          md5(col("content")).as("content_md5"))
    },
      // Byte length + md5 computed from the ORIGINAL strings (duck md5 of
      // a VARCHAR hashes its UTF-8 bytes, octet_length(encode(..)) counts
      // them — the same bytes the .bin files carry).
      Some("""SELECT doc_id,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |       md5(text) AS content_md5
        |FROM documents""".stripMargin)),

    Case("src_orc_roundtrip", { (s, dir) =>
      val path = layoutPath("orders_orc")
      Sources.writeOrc(t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")), path)
      Sources.readOrc(s, path)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          (sum(col("o_totalprice").cast("decimal(18,2)")) * 100).cast("long")
            .as("sum_price_cents"),
          min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
    },
      Some("""SELECT o_orderstatus, count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |         AS sum_price_cents,
        |       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders GROUP BY o_orderstatus""".stripMargin)),

    // The READ path of the tar shards, gated end-to-end: write real
    // archives in-plan, slice every member back out by 512-aligned
    // offsets, parse names and octal sizes from the headers — and the
    // recovered payloads must md5-match ground truth the oracle computes
    // directly from the source rows (it never sees the archives, so any
    // write- OR read-side byte error turns the gate red).
    Case("src_tar_roundtrip", (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          concat(unhex(md5(col("text"))), encode(col("text"), "UTF-8"))
            .as("payload"))
      val tars = Multimodal.tarShardBytes(
        Multimodal.asMedia(docs, "doc_id", "payload"), shardBytes = 65536L)
      Multimodal.tarMemberSlices(tars)
        .select(expr("cast(split(name, '\\\\.')[0] as long)").as("media_id"),
          col("size"), md5(hex(col("payload"))).as("payload_hex_md5"))
    },
      // Ground truth straight from the source rows — the oracle never sees
      // the archives the engine wrote and re-sliced.
      Some("""SELECT doc_id AS media_id,
        |       CAST(16 + octet_length(text::BLOB) AS BIGINT) AS size,
        |       md5(upper(md5(text)) || hex(text)) AS payload_hex_md5
        |FROM documents""".stripMargin)),
  )
}
