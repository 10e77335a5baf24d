package graft.functions

import graft.SparkSpec
import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

class TextKernelsSpec extends SparkSpec {
  import spark.implicits._

  // plain-Scala references; Spark's split(t, " ") is Java's split(" ", -1)
  private def refTokens(t: String): Seq[String] = t.split(" ", -1).toSeq
  private def refGrams(t: String, n: Int): Seq[String] = {
    val ws = refTokens(t)
    (0 until math.max(ws.size - (n - 1), 1)).map(i => ws.slice(i, i + n).mkString(" "))
  }
  private def refStopwords(t: String): Int =
    refTokens(t).count(TextAnalysis.stopwords.contains)

  private val widths = Seq(1, 2, 3, 5)

  /** 200 seeded random texts over ASCII and multibyte tokens with
    * leading, trailing and repeated spaces, plus the edge cases. */
  private val texts: Seq[String] = {
    val rnd = new scala.util.Random(13)
    val vocab = Seq("the", "a", "an", "cat", "ab", "ba", "é", "éa", "日本", "語",
      "straße", "😀", "the😀", "x")
    def sep(): String = rnd.nextInt(8) match { case 0 => "  " case 1 => "   " case _ => " " }
    val random = (1 to 200).map { _ =>
      val body = Seq.fill(rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size)))
        .map(_ + sep()).mkString.dropRight(1)
      (if (rnd.nextInt(6) == 0) " " else "") + body + (if (rnd.nextInt(6) == 0) " " else "")
    }
    random ++ Seq("", " ", "  ", "solo", "日本", "the", " lead", "trail ", "a  b",
      "  x  y  ", "x x y x x y", "a a a a a",
      (0 until 200).map(i => s"w${i % 7}").mkString(" "),
      (0 until 120).map(i => Seq("the", "日本", "é")(i % 3)).mkString(" "))
  }

  test("text kernels match a plain-Scala reference and the built-ins, " +
      "codegen and interpreted") {
    val dir = java.nio.file.Files.createTempDirectory("textkernels").toString
    texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("i", "t")
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val words = Seq("é", "the😀", "")
    val cols = widths.flatMap(n => Seq(
      VectorFunctions.gramCount(col("t"), n),
      VectorFunctions.distinctGramCount(col("t"), n),
      size(Dedup.wordGrams(col("t"), n)),
      size(array_distinct(Dedup.wordGrams(col("t"), n))))) ++ Seq(
      TextAnalysis.stopwordCount(col("t")),
      size(filter(split(col("t"), " "), w => w.isin(TextAnalysis.stopwords: _*))),
      VectorFunctions.stopwordCount(col("t"), words),
      size(filter(split(col("t"), " "), w => array_contains(typedLit(words), w))))
    def run(): Seq[Seq[Int]] = df.select(col("i") +: cols: _*).collect()
      .sortBy(_.getInt(0)).map(r => (1 to cols.size).map(r.getInt)).toSeq
    val fast = withConfs("spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(run())
    assert(fast.size == texts.size)
    fast.zip(texts).foreach { case (r, t) =>
      widths.zipWithIndex.foreach { case (n, k) =>
        val grams = refGrams(t, n)
        assert(r(4 * k) == grams.size, s"gram count n=$n t='$t'")
        assert(r(4 * k + 1) == grams.distinct.size, s"distinct grams n=$n t='$t'")
        assert(r(4 * k + 2) == r(4 * k) && r(4 * k + 3) == r(4 * k + 1), s"built-ins n=$n t='$t'")
      }
      val s = 4 * widths.size
      assert(r(s) == refStopwords(t) && r(s + 1) == r(s), s"stopwords t='$t'")
      assert(r(s + 2) == refTokens(t).count(words.contains) && r(s + 3) == r(s + 2),
        s"word list t='$t'")
    }
    assert(withCodegenDisabled(run()) == fast)
    assert(fast.exists(r => r(5) < r(4)) && fast.exists(r => r(4 * widths.size) > 0))
  }

  test("a constant gram hash gives the same distinct counts") {
    val collide: VectorKernels.SliceHash = (_, _, _) => 7L
    for (t <- texts; n <- widths) {
      val u = UTF8String.fromString(t)
      assert(VectorKernels.distinctGrams(u, n, collide) == refGrams(t, n).distinct.size,
        s"n=$n t='$t'")
      assert(VectorKernels.distinctGramCount(u, n) == refGrams(t, n).distinct.size)
    }
  }

  test("null text gives null counts; a width below 1 is refused") {
    val df = Seq((1, null.asInstanceOf[String]), (2, "a b")).toDF("i", "t").repartition(2)
    val r = df.filter(col("i") === 1).select(VectorFunctions.gramCount(col("t"), 2),
      VectorFunctions.distinctGramCount(col("t"), 2), TextAnalysis.stopwordCount(col("t")))
      .collect().head
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
    for (n <- Seq(0, -1)) {
      val e = intercept[Exception](df.select(VectorFunctions.gramCount(col("t"), n)).collect())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(x => Option(x.getMessage).exists(_.contains("gram width"))), e)
      intercept[IllegalArgumentException](
        VectorKernels.distinctGramCount(UTF8String.fromString("a b"), n))
    }
  }
}
