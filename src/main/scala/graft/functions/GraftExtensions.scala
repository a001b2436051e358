package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.functions.{call_function, lit}

/**
 * Session extensions registering graft's native expressions with the
 * function registry, so they're callable from SQL text and from the Column
 * API. Installed by `GraftSession` (embedded) or via
 * `spark.sql.extensions=graft.functions.GraftExtensions` (spark-submit).
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[CosineSim].getName, null, name, usage, "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      info("cosine_sim", "cosine_sim(a, b) - cosine similarity of two float/double vectors"),
      (children: Seq[Expression]) => CosineSim(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("dot_product"),
      info("dot_product", "dot_product(a, b) - dot product of two float/double vectors"),
      (children: Seq[Expression]) => DotProduct(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("jaro_winkler"),
      info("jaro_winkler", "jaro_winkler(a, b) - Jaro-Winkler similarity of two strings"),
      (children: Seq[Expression]) => JaroWinklerSim(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("minhash_bands"),
      new ExpressionInfo(classOf[MinHashBands].getName, null, "minhash_bands",
        "minhash_bands(text, k, r, w) - the k/r LSH band hashes of the " +
          "w-word shingle MinHash signature of text", ""),
      (children: Seq[Expression]) =>
        MinHashKernel.build("minhash_bands", Seq("k", "r", "w"), children) {
          case (text, Seq(k, r, w)) => MinHashBands(text, k, r, w)
        }))
    ext.injectFunction((
      FunctionIdentifier("shingle_set"),
      new ExpressionInfo(classOf[ShingleSet].getName, null, "shingle_set",
        "shingle_set(text, w) - the distinct w-word shingles of text", ""),
      (children: Seq[Expression]) =>
        MinHashKernel.build("shingle_set", Seq("w"), children) {
          case (text, Seq(w)) => ShingleSet(text, w)
        }))
    ext.injectFunction((
      FunctionIdentifier("l2_sq"),
      info("l2_sq", "l2_sq(a, b) - squared Euclidean distance of two float/double vectors"),
      (children: Seq[Expression]) => L2Sq(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("stable_literal"),
      new ExpressionInfo(classOf[StableLiteral].getName, null, "stable_literal",
        "stable_literal(c) - the constant c, kept out of generated code", ""),
      (children: Seq[Expression]) => StableLiteral(children(0))))
    // Spark's internal bounded-priority-queue top-k collector (the
    // engine behind pandas-API nsmallest/nlargest), surfaced as a SQL
    // function: exact per-group top-k with O(k) state — map-side
    // combinable, so a grouped top-k shuffles k rows per group instead
    // of sorting the whole group under a window (see operators.TopK).
    ext.injectFunction((
      FunctionIdentifier("collect_top_k"),
      info("collect_top_k",
        "collect_top_k(expr, k, reverse) - k largest (reverse=false) or smallest (reverse=true) values of expr per group, sorted"),
      (children: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.aggregate
          .GraftCollectTopK(children(0), children(1), children(2))))
  }
}

/** Column-API entry points for the registered vector functions. */
object VectorFunctions {
  def cosineSim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)
  def dotProduct(a: Column, b: Column): Column = call_function("dot_product", a, b)
  def l2Sq(a: Column, b: Column): Column = call_function("l2_sq", a, b)
}

/** Column-API entry point for [[StableLiteral]]. */
object CodegenFunctions {
  def stableLiteral(c: Column): Column = call_function("stable_literal", c)
}

/** Column-API entry points for the registered string functions. */
object StringFunctions {
  def jaroWinkler(a: Column, b: Column): Column = call_function("jaro_winkler", a, b)

  /** [[MinHashBands]]: the k/r band hashes of `text`. */
  def minHashBands(text: Column, k: Int, r: Int, w: Int): Column =
    call_function("minhash_bands", text, lit(k), lit(r), lit(w))

  /** [[ShingleSet]]: the distinct w-word shingles of `text`. */
  def shingleSet(text: Column, w: Int): Column =
    call_function("shingle_set", text, lit(w))
}
