package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.scale.{CountMinAgg, DotProduct, MinHashSig, MisraGriesAgg, PolyHash, ShingleHashes, SimHash64, TopKAgg, TopKStrAgg}

/** SparkSessionExtensions entry point: registers graft's custom codegen
  * expressions as SQL functions, so `spark.sql("SELECT simhash64(text) …")`
  * works next to the Column API. `Sessions.local` installs it in every
  * graft session; a cluster deployment would ship the config form,
  * `spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(text) - 64-bit SimHash of whitespace tokens"),
      (args: Seq[Expression]) => SimHash64(args.head)))

    ext.injectFunction((
      FunctionIdentifier("dot_product"),
      info("dot_product", "dot_product(a, b) - double dot product of float/double arrays"),
      (args: Seq[Expression]) => DotProduct(args(0), args(1))))

    ext.injectFunction((
      FunctionIdentifier("shingle_hashes"),
      info("shingle_hashes", "shingle_hashes(text, n) - distinct hashed word n-grams"),
      (args: Seq[Expression]) => ShingleHashes(args.head, GraftExtensions.intArg(args, 1))))

    ext.injectFunction((
      FunctionIdentifier("minhash_sig"),
      info("minhash_sig", "minhash_sig(text, n, perms) - MinHash signature array"),
      (args: Seq[Expression]) =>
        MinHashSig(args.head, GraftExtensions.intArg(args, 1), GraftExtensions.intArg(args, 2))))

    ext.injectFunction((
      FunctionIdentifier("poly_hash"),
      info("poly_hash", "poly_hash(text) - polynomial rolling-hash fingerprint"),
      (args: Seq[Expression]) => PolyHash(args.head)))

    ext.injectFunction((
      FunctionIdentifier("bpe_token_count"),
      info("bpe_token_count",
        "bpe_token_count(text) - match count of the BPE pre-tokenizer regex in one scan"),
      (args: Seq[Expression]) => graft.functions.BpeCount(args.head)))

    ext.injectFunction((
      FunctionIdentifier("ws_token_count"),
      info("ws_token_count",
        "ws_token_count(text) - whitespace-token count (maximal non-\\s runs) in one scan"),
      (args: Seq[Expression]) => graft.functions.WsTokenCount(args.head)))

    // aggregates: the analyzer wraps a returned AggregateFunction in an
    // AggregateExpression, so these work directly in SQL GROUP BY queries
    ext.injectFunction((
      FunctionIdentifier("top_k"),
      info("top_k", "top_k(score, id, k) - bounded top-k (score desc, id asc) per group"),
      (args: Seq[Expression]) =>
        TopKAgg(args(0), args(1), GraftExtensions.intArg(args, 2))))

    ext.injectFunction((
      FunctionIdentifier("top_k_str"),
      info("top_k_str", "top_k_str(score, id, k) - bounded top-k with string ids"),
      (args: Seq[Expression]) =>
        TopKStrAgg(args(0), args(1), GraftExtensions.intArg(args, 2))))

    ext.injectFunction((
      FunctionIdentifier("misra_gries"),
      info("misra_gries",
        "misra_gries(key, k) - bounded heavy-hitter counters (Misra-Gries sketch)"),
      (args: Seq[Expression]) =>
        MisraGriesAgg(args(0), GraftExtensions.intArg(args, 1))))

    ext.injectFunction((
      FunctionIdentifier("count_min"),
      info("count_min",
        "count_min(key, depth, width) - serialized Count-Min frequency sketch"),
      (args: Seq[Expression]) =>
        CountMinAgg(args(0), GraftExtensions.intArg(args, 1), GraftExtensions.intArg(args, 2))))
  }
}

object GraftExtensions {
  /** Literal-int argument extraction for function-registry builders. */
  private[graft] def intArg(args: Seq[Expression], i: Int): Int =
    args(i).eval(null) match {
      case n: Int => n
      case n: Number => n.intValue()
      case other => throw new IllegalArgumentException(
        s"argument $i must be an integer literal, got $other")
    }
}
