package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions._

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions as SQL functions, so `spark.sql` users get them too:
  *
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions
  *   // or: SparkSession.builder().withExtensions(new GraftExtensions)
  *
  *   SELECT float_vec_cosine(a.embedding, b.embedding) FROM ...
  *   SELECT simhash64(tokens), minhash_bands(shingles, 32, 16, 42) ...
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "4.0.0", "", "scala_udf")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.TopKPairsStrategy)
    ext.injectFunction((
      FunctionIdentifier("float_vec_dot"),
      info("float_vec_dot", "_FUNC_(a, b) - dot product of two float vectors"),
      (args: Seq[Expression]) => FloatVecDot(args(0), args(1))))
    ext.injectFunction((
      FunctionIdentifier("float_vec_cosine"),
      info("float_vec_cosine", "_FUNC_(a, b) - cosine similarity of two float vectors"),
      (args: Seq[Expression]) => FloatVecCosine(args(0), args(1))))
    ext.injectFunction((
      FunctionIdentifier("simhash64"),
      info("simhash64", "_FUNC_(tokens) - 64-bit SimHash of a token array"),
      (args: Seq[Expression]) => SimHash64(args.head)))
    ext.injectFunction((
      FunctionIdentifier("minhash_signature"),
      info("minhash_signature", "_FUNC_(shingles, k, seed) - k-permutation MinHash signature"),
      (args: Seq[Expression]) => MinHashSignature(args(0),
        intArg(args(1), "k"), longArg(args(2), "seed"))))
    ext.injectFunction((
      FunctionIdentifier("minhash_bands"),
      info("minhash_bands", "_FUNC_(shingles, k, bands, seed) - LSH band hashes of a MinHash signature"),
      (args: Seq[Expression]) => MinHashBands(args(0),
        intArg(args(1), "k"), intArg(args(2), "bands"), longArg(args(3), "seed"))))
    ext.injectFunction((
      FunctionIdentifier("hyperplane_sig"),
      info("hyperplane_sig", "_FUNC_(vec, dim, nBits, seed) - random-hyperplane LSH signature"),
      (args: Seq[Expression]) => HyperplaneSig(args(0),
        intArg(args(1), "dim"), intArg(args(2), "nBits"), longArg(args(3), "seed"))))
    ext.injectFunction((
      FunctionIdentifier("token_stats"),
      info("token_stats", "_FUNC_(text) - [n_tokens, sum_token_len, stopword hits de/en/es/fr/zh] in one tokenize pass"),
      (args: Seq[Expression]) => TokenStats(args.head)))
    ext.injectFunction((
      FunctionIdentifier("poly_fingerprint"),
      info("poly_fingerprint", "_FUNC_(text) - rolling-hash document fingerprint (h*31 + codepoint mod 2^31-1)"),
      (args: Seq[Expression]) => PolyFingerprint(args.head)))
    ext.injectFunction((
      FunctionIdentifier("float_vec_l2_normalize"),
      info("float_vec_l2_normalize", "_FUNC_(vec) - L2-normalize a float vector to a unit double vector"),
      (args: Seq[Expression]) => FloatVecL2Normalize(args.head)))
  }

  private def intArg(e: Expression, name: String): Int = e.eval() match {
    case i: Int => i
    case l: Long => l.toInt
    case other => throw new IllegalArgumentException(
      s"$name must be an integer literal, got $other")
  }
  private def longArg(e: Expression, name: String): Long = e.eval() match {
    case i: Int => i.toLong
    case l: Long => l
    case other => throw new IllegalArgumentException(
      s"$name must be an integer literal, got $other")
  }
}
