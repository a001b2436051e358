package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{MinHashBands, ShingleSet, StringFunctions}
import graft.operators.TextDedup

/** The compiled MinHash banding kernel (`minhash_bands`, `shingle_set`)
  * against the column-expression forms it replaced — the forms the DuckDB
  * oracles mirror, kept here as the reference. */
class MinHashKernelSpec extends SparkSpec {
  import spark.implicits._

  /** Reference: distinct w-word shingles as `split` + `transform` lambdas. */
  private def refShingleSet(text: org.apache.spark.sql.Column, w: Int) = {
    val ws = split(text, " ")
    array_distinct(
      when(size(ws) >= w,
        transform(sequence(lit(0), size(ws) - w),
          i => concat_ws(" ", (0 until w).map(o => element_at(ws, i + o + 1)): _*)))
        .otherwise(array().cast(ArrayType(StringType))))
  }

  /** Reference: (id, band, bh) rows from K–M signature lambdas. */
  private def refBands(docs: DataFrame, k: Int, r: Int, w: Int): DataFrame = {
    def md5Word32(salt: String, s: org.apache.spark.sql.Column) =
      conv(substring(md5(concat(lit(salt), s)), 1, 8), 16, 10).cast(LongType)
    val sh = col("graft_sh")
    val withH = docs
      .withColumn("graft_sh", refShingleSet(col("text"), w))
      .filter(size(sh) > 0)
      .withColumn("graft_h1", transform(sh, s => md5Word32("a_", s)))
      .withColumn("graft_h2", transform(sh, s => md5Word32("b_", s)))
    val sigs = (0 until k).map(i =>
      array_min(zip_with(col("graft_h1"), col("graft_h2"),
        (a, b) => (a + lit(i.toLong) * b) % 4294967296L)).as(s"sig_$i"))
    TextDedup.lshBandsFromWide(withH.select(col("doc_id") +: sigs: _*),
      "doc_id", k, r)
  }

  private val edgeTexts: Seq[String] = Seq(
    null,
    "",
    " ",
    "two words",
    "exactly three words",
    "a a a a a a a a",                       // one shingle, repeated
    "x y z x y z x y z",                     // repeated shingles
    "double  spaced  words here",            // empty words kept
    "trailing space words here ",
    " leading space words here",
    "café naïve résumé déjà vu über straße",
    "日本語 の テキスト を 分割 する",
    "emoji 🙂 🚀 👍🏽 and more 🙂 🚀 👍🏽 text")

  private def corpus: DataFrame = {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id").cast(LongType).as("doc_id"), col("text"))
    val edge = edgeTexts.zipWithIndex
      .map { case (t, i) => (-1L - i, t) }.toDF("doc_id", "text")
    real.unionByName(edge)
  }

  private def arrays(df: DataFrame): Map[Long, Seq[String]] =
    df.collect().map(r => r.getLong(0) -> Option(r.getSeq[String](1))
      .getOrElse(Seq.empty)).toMap

  test("shingle_set is bit-identical to the split/transform shingle form") {
    Seq(1, 3, 5).foreach { w =>
      val docs = corpus
      val ref = arrays(docs.select(col("doc_id"), refShingleSet(col("text"), w)))
      val got = arrays(docs.select(col("doc_id"),
        StringFunctions.shingleSet(col("text"), w)))
      assert(got == ref, s"w=$w")
    }
    // the exploded form TextDedup.shingles builds on
    val rows = TextDedup.shingles(corpus, "doc_id", "text", 3)
      .as[(Long, String)].collect().toSet
    val refRows = corpus
      .select(col("doc_id"), explode(refShingleSet(col("text"), 3)))
      .as[(Long, String)].collect().toSet
    assert(rows == refRows && rows.nonEmpty)
  }

  test("minhash_bands is bit-identical to the transform/zip_with band form") {
    Seq((16, 4, 3), (16, 2, 3), (8, 8, 2), (6, 3, 1)).foreach { case (k, r, w) =>
      val docs = corpus
      val ref = refBands(docs, k, r, w).as[(Long, Int, String)].collect()
      val got = TextDedup.bandsPerRow(docs, "doc_id", "text", k, r, w)
        .as[(Long, Int, String)].collect()
      assert(got.toSet == ref.toSet && got.length == ref.length,
        s"(k, r, w) = ($k, $r, $w)")
      // edge rows: null and < w words band nothing; the rest band k/r
      val byDoc = got.groupBy(_._1).map { case (d, rs) => d -> rs.length }
      edgeTexts.zipWithIndex.foreach { case (t, i) =>
        val words = Option(t).map(_.split(" ", -1).length).getOrElse(0)
        assert(byDoc.getOrElse(-1L - i, 0) == (if (words >= w) k / r else 0),
          s"edge row ${i}: '$t' at w=$w")
      }
    }
  }

  test("kernel: generated code and interpreted eval agree with the reference") {
    val texts = corpus.select("text").as[String].collect().toSeq
    val k = 16; val r = 4; val w = 3
    val ref = refBands(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text"), k, r, w)
      .as[(Long, Int, String)].collect()
      .groupBy(_._1).map { case (i, rs) => i.toInt -> rs.sortBy(_._2).map(_._3).toSeq }
    val refSh = texts.toDF("text").select(refShingleSet(col("text"), w))
      .collect().map(row => Option(row.getSeq[String](0)).getOrElse(Seq.empty))
    def strings(a: ArrayData): Seq[String] =
      if (a == null) Seq.empty
      else (0 until a.numElements()).map(a.getUTF8String(_).toString)
    val input = BoundReference(0, StringType, nullable = true)
    def compiled(e: Expression) = GenerateUnsafeProjection.generate(Seq(e))
    val bandsCode = compiled(MinHashBands(input, k, r, w))
    val shCode = compiled(ShingleSet(input, w))
    texts.zipWithIndex.foreach { case (t, i) =>
      val u = UTF8String.fromString(t)
      val row = InternalRow(u)
      val lit = Literal.create(t, StringType)
      val expectBands = ref.getOrElse(i, Seq.empty)
      val bandsGen = bandsCode(row)
      val bandsEval = MinHashBands(lit, k, r, w).eval()
      assert(strings(if (bandsGen.isNullAt(0)) null else bandsGen.getArray(0)) ==
        expectBands, s"generated minhash_bands, text $i")
      assert(strings(bandsEval.asInstanceOf[ArrayData]) == expectBands,
        s"interpreted minhash_bands, text $i")
      assert((t == null) == bandsGen.isNullAt(0) && (t == null) == (bandsEval == null))
      val shGen = shCode(row)
      assert(strings(if (shGen.isNullAt(0)) null else shGen.getArray(0)) == refSh(i),
        s"generated shingle_set, text $i")
      assert(strings(ShingleSet(lit, w).eval().asInstanceOf[ArrayData]) == refSh(i),
        s"interpreted shingle_set, text $i")
    }
    // in a query the kernel runs inside a whole-stage-codegen stage
    val df = corpus.select(StringFunctions.minHashBands(col("text"), k, r, w))
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(plan.collect {
      case s: org.apache.spark.sql.execution.WholeStageCodegenExec => s
    }.exists(_.child.expressions.exists(_.exists(_.isInstanceOf[MinHashBands]))),
      s"minhash_bands is not inside a codegen stage:\n$plan")
  }

  test("kernel: callable from SQL by its registered names") {
    corpus.createOrReplaceTempView("kernel_docs")
    val viaSql = spark.sql(
      """SELECT doc_id, minhash_bands(text, 16, 4, 3) AS b,
        |       shingle_set(text, 3) AS s
        |FROM kernel_docs""".stripMargin)
    val viaApi = corpus.select(col("doc_id"),
      StringFunctions.minHashBands(col("text"), 16, 4, 3).as("b"),
      StringFunctions.shingleSet(col("text"), 3).as("s"))
    assert(viaSql.collect().toSet == viaApi.collect().toSet)
    val nulls = spark.sql(
      "SELECT minhash_bands(CAST(NULL AS STRING), 16, 4, 3), shingle_set(CAST(NULL AS STRING), 3)")
      .head()
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
  }

  test("kernel: k must be a positive multiple of r") {
    val e = intercept[IllegalArgumentException](MinHashBands(Literal("a b c"), 16, 5, 3))
    assert(e.getMessage.contains("multiple of r=5"))
    intercept[IllegalArgumentException](MinHashBands(Literal("a b c"), 16, 0, 3))
    def rejected(f: => Any): Unit = {
      val err = intercept[Exception](f)
      assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .exists(c => c.isInstanceOf[IllegalArgumentException] &&
          c.getMessage.contains("multiple of r=5")), err.toString)
    }
    rejected(spark.range(1).select(
      StringFunctions.minHashBands(lit("a b c"), 16, 5, 3)).collect())
    rejected(spark.sql("SELECT minhash_bands('a b c', 16, 5, 3)").collect())
  }
}
