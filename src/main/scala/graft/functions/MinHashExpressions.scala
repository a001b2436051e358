package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * MinHash banding kernel: the per-document half of the text LSH family
 * (`TextDedup.bandsPerRow`, `TextDedup.shingles`) as one compiled call
 * per row instead of `transform`/`zip_with` lambdas, which Spark runs
 * interpreted outside whole-stage codegen.
 *
 * Every value is bit-identical to the column-expression form the DuckDB
 * oracles mirror:
 *  - words: `split(text, ' ')` — one space, empty words kept;
 *  - shingles: `w` consecutive words joined by " ", distinct, in
 *    first-occurrence order; none when the text has fewer than `w` words;
 *  - h1/h2: the first 4 bytes of md5("a_" ‖ s) and md5("b_" ‖ s) as
 *    unsigned 32-bit values (the first 8 hex digits);
 *  - sig_i = min over shingles of (h1 + i·h2) mod 2³² (Kirsch–Mitzenmacher);
 *  - band b: the lowercase-hex md5 of sig_{b·r} … sig_{b·r+r−1} in
 *    decimal, joined by ",".
 */
object MinHash {
  private val Space = UTF8String.fromString(" ")
  private val SaltA = "a_".getBytes("UTF-8")
  private val SaltB = "b_".getBytes("UTF-8")
  private val Hex = "0123456789abcdef".toCharArray

  /** Distinct w-word shingles of `text`, in first-occurrence order. */
  private def shingles(text: UTF8String, w: Int): Array[UTF8String] = {
    val words = text.split(Space, -1)
    if (words.length < w) return Array.empty
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i + w <= words.length) {
      seen.add(UTF8String.concatWs(Space, words.slice(i, i + w): _*))
      i += 1
    }
    seen.toArray(new Array[UTF8String](seen.size))
  }

  /** Static entry point of `shingle_set`, shared by eval and codegen. */
  def shingleSet(text: UTF8String, w: Int): ArrayData =
    new GenericArrayData(shingles(text, w).asInstanceOf[Array[Any]])

  private def word32(md: MessageDigest, salt: Array[Byte], s: Array[Byte]): Long = {
    md.update(salt)
    val d = md.digest(s)
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) |
      (d(3) & 0xffL)
  }

  private def md5Hex(md: MessageDigest, s: String): UTF8String = {
    val d = md.digest(s.getBytes("UTF-8"))
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = Hex((d(i) >> 4) & 0xf).toByte
      out(2 * i + 1) = Hex(d(i) & 0xf).toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** The k MinHash signature values of `text`; empty when it has no
    * shingles. */
  private def signatures(md: MessageDigest, text: UTF8String, k: Int,
                         w: Int): Array[Long] = {
    val sh = shingles(text, w)
    if (sh.isEmpty) return Array.empty
    val sig = Array.fill(k)(Long.MaxValue)
    sh.foreach { s =>
      val bytes = s.getBytes
      val h1 = word32(md, SaltA, bytes)
      val h2 = word32(md, SaltB, bytes)
      var i = 0
      while (i < k) {
        val g = (h1 + i * h2) % 4294967296L
        if (g < sig(i)) sig(i) = g
        i += 1
      }
    }
    sig
  }

  /** Static entry point of `minhash_bands`, shared by eval and codegen:
    * the k/r band hashes of `text`, band b at position b. */
  def bands(text: UTF8String, k: Int, r: Int, w: Int): ArrayData = {
    val md = MessageDigest.getInstance("MD5")
    val sig = signatures(md, text, k, w)
    if (sig.isEmpty) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](k / r)
    var b = 0
    while (b < k / r) {
      out(b) = md5Hex(md, sig.slice(b * r, (b + 1) * r).mkString(","))
      b += 1
    }
    new GenericArrayData(out)
  }
}

/** Shared checks of the two kernel expressions: a string argument and
  * null in, null out. */
sealed trait MinHashKernel extends UnaryExpression {
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.sql}")
}

object MinHashKernel {
  /** The registry builder of a kernel function: `text` then the constant
    * INT arguments `names`. */
  def build(fn: String, names: Seq[String], children: Seq[Expression])
      (make: (Expression, Seq[Int]) => Expression): Expression = {
    require(children.size == names.size + 1,
      s"$fn takes ${names.size + 1} arguments (text, ${names.mkString(", ")}), " +
        s"got ${children.size}")
    val ints = names.zip(children.tail).map { case (name, e) =>
      if (e.foldable && e.dataType == IntegerType && e.eval() != null)
        e.eval().asInstanceOf[Int]
      else throw new IllegalArgumentException(
        s"$fn: $name must be a constant INT, got ${e.sql}")
    }
    make(children.head, ints)
  }
}

/** minhash_bands(text, k, r, w): the k/r LSH band hashes of `text`'s
  * w-word shingle MinHash signature, as array<string> (band b at
  * position b); empty when the text has fewer than w words. */
case class MinHashBands(child: Expression, k: Int, r: Int, w: Int)
    extends MinHashKernel {
  require(k > 0 && r > 0 && k % r == 0,
    s"minhash_bands: k=$k must be a positive multiple of r=$r")
  require(w > 0, s"minhash_bands: w=$w must be positive")

  override def prettyName: String = "minhash_bands"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def sql: String = s"$prettyName(${child.sql}, $k, $r, $w)"

  override def nullSafeEval(text: Any): Any =
    MinHash.bands(text.asInstanceOf[UTF8String], k, r, w)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.functions.MinHash.bands($t, $k, $r, $w)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** shingle_set(text, w): the distinct w-word shingles of `text` in
  * first-occurrence order; empty when it has fewer than w words. */
case class ShingleSet(child: Expression, w: Int) extends MinHashKernel {
  require(w > 0, s"shingle_set: w=$w must be positive")

  override def prettyName: String = "shingle_set"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def sql: String = s"$prettyName(${child.sql}, $w)"

  override def nullSafeEval(text: Any): Any =
    MinHash.shingleSet(text.asInstanceOf[UTF8String], w)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.functions.MinHash.shingleSet($t, $w)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
