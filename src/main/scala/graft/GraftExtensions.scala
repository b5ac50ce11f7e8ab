package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions._

/** Session-extension entry point: installs the engine's native functions
  * into every session built with
  * `spark.sql.extensions=graft.GraftExtensions` — the standard way a
  * Spark-native library ships cluster-wide (no per-session register()
  * call). Injected functions resolve in SQL text and survive into views.
  * This is the engine's one SQL function table; a session that is already
  * running gets it through `GraftBridge.applyFunctionExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in")

  private def intLit(e: Expression): Int =
    e.asInstanceOf[org.apache.spark.sql.catalyst.expressions.Literal]
      .value.asInstanceOf[Number].intValue()

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("cosine_sim"),
      info("cosine_sim", "cosine_sim(a, b) - cosine similarity of two double arrays"),
      (es: Seq[Expression]) => CosineSimilarity(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("dot_product"),
      info("dot_product", "dot_product(a, b) - dot product of two double arrays"),
      (es: Seq[Expression]) => DotProduct(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("sig_agreement"),
      info("sig_agreement", "sig_agreement(a, b) - fraction of equal signature positions"),
      (es: Seq[Expression]) => SignatureAgreement(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("jaccard_sorted"),
      info("jaccard_sorted", "jaccard_sorted(a, b) - Jaccard of two sorted long arrays"),
      (es: Seq[Expression]) => JaccardSorted(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("shingle_hashes"),
      info("shingle_hashes", "shingle_hashes(text, n) - sorted distinct word n-gram hashes"),
      (es: Seq[Expression]) => ShingleHashes(es(0), intLit(es(1)))))
    ext.injectFunction((FunctionIdentifier("text_simhash"),
      info("text_simhash", "text_simhash(text) - struct(bits, chunks) 64-bit SimHash"),
      (es: Seq[Expression]) => TextSimHash(es(0))))
    ext.injectFunction((FunctionIdentifier("hamming_bits"),
      info("hamming_bits", "hamming_bits(a, b) - positions where two long arrays differ"),
      (es: Seq[Expression]) => HammingBits(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("text_stats"),
      info("text_stats", "text_stats(text) - struct(n_tokens, n_regex_tokens, " +
        "sum_token_len, n_chars, n_punct, n_upper, n_stop), en stopwords"),
      (es: Seq[Expression]) => TextStats(es(0), graft.ops.TextAnalysis.stopwords("en"))))
    ext.injectFunction((FunctionIdentifier("text_repetition"),
      info("text_repetition", "text_repetition(text) - struct(n_tokens, n_distinct, " +
        "max_count, n_2grams, n_distinct_2grams), one fused pass"),
      (es: Seq[Expression]) => TextRepetition(es(0))))
    ext.injectFunction((FunctionIdentifier("shingle_md5_keys"),
      info("shingle_md5_keys", "shingle_md5_keys(text, n) - distinct word " +
        "n-gram md5 hex keys, one fused pass"),
      (es: Seq[Expression]) => ShingleMd5Keys(es(0), intLit(es(1)))))
    ext.injectFunction((FunctionIdentifier("quantize_int8"),
      info("quantize_int8", "quantize_int8(v) - int8 scalar quantization " +
        "round(v_i / (max|v|/127)), integer-valued doubles"),
      (es: Seq[Expression]) => QuantizeInt8(es(0))))
  }
}
