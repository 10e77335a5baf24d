package graft.functions

import graft.SparkSpec
import graft.ScaleBench
import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame}
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

  /** The scrub as the two regex passes the kernel replaces. */
  private def regexScrub(t: Column): Column =
    regexp_replace(regexp_replace(t, lit(TextAnalysis.emailRe), lit("<EMAIL>")),
      lit(TextAnalysis.phoneRe), lit("<PHONE>"))

  /** (rows where graft_scrub_pii and the regex chain differ, rows the
    * scrub changed) over `df`'s column `t`, as generated code and then
    * interpreted; `df` must read a file, so the projection is not folded
    * on the driver. */
  private def scrubDiffs(df: DataFrame): Seq[(Long, Long)] = {
    val kernel = VectorFunctions.scrubPii(col("t"))
    def run(): (Long, Long) = {
      val r = df.agg(count(when(!(kernel <=> regexScrub(col("t"))), 1)),
        count(when(kernel =!= col("t"), 1))).head
      (r.getLong(0), r.getLong(1))
    }
    Seq(withConfs("spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(run()), withCodegenDisabled(run()))
  }

  private def viaParquet(df: DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("scrub").toString
    df.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  test("graft_scrub_pii equals the emailRe-then-phoneRe regex chain on " +
      "300k seeded random texts, codegen and interpreted") {
    val rnd = new scala.util.Random(17)
    val alphabet = "abcmoxyzAQZ0123456789@.-_%+ é"
    val pieces = Seq("ab@cd.com", "x.y+z@sub-d.co.uk", "@", ".", "..", "-", "a@b.c",
      "555-123-4567", "12-345-6789", "1234-567-8901", "-555-", "@x.", ".co", "é@é.com")
    def piece(): String =
      if (rnd.nextInt(3) == 0) pieces(rnd.nextInt(pieces.size))
      else Seq.fill(1 + rnd.nextInt(6))(alphabet(rnd.nextInt(alphabet.length))).mkString
    val texts = (0 until 300000).map(_ => Seq.fill(rnd.nextInt(7))(piece()).mkString)
    val diffs = scrubDiffs(viaParquet(texts.toDF("t")))
    assert(diffs.map(_._1) === Seq(0L, 0L))
    assert(diffs(0)._2 == diffs(1)._2 && diffs(0)._2 > 10000, diffs)
  }

  test("graft_scrub_pii equals the regex chain on a corpus in the shape of " +
      "the stream benchmark's, whose PII rows it changes") {
    val id = col("id")
    val k = xxhash64(lit(1L), id)
    val body = array_join(transform(sequence(lit(0), lit(ScaleBench.tokensPerDoc - 1)),
      j => ScaleBench.zipfToken(k, j)), " ")
    val docs = spark.range(2800).select(when(pmod(id, lit(25)) === 3,
      concat(lit("user"), id.cast("string"), lit("@example.com "), body, lit(" 555-"),
        lpad(pmod(id, lit(1000)).cast("string"), 3, "0"), lit("-"),
        lpad(pmod(k, lit(10000)).cast("string"), 4, "0"))).otherwise(body).as("t"))
    assert(scrubDiffs(viaParquet(docs)) === Seq((0L, 112L), (0L, 112L)))
  }

  test("graft_scrub_pii edge cases: leftmost-greedy emails, phones in the " +
      "gaps, null, and text that is not valid UTF-8") {
    val cases = Seq(
      "a@b.c" -> "a@b.c",
      "a@b.co" -> "<EMAIL>",
      "x@y@b.com" -> "x@<EMAIL>",
      "a@b.com.x" -> "<EMAIL>.x",
      "a@b.cd.ef" -> "<EMAIL>",
      "a@b..cc" -> "<EMAIL>",
      "a@b.co1x@c.de" -> "<EMAIL><EMAIL>",
      "Mail Ann.Lee@x-y.org." -> "Mail Ann.L<EMAIL>.",
      "1234-567-89012" -> "1<PHONE>2",
      "555-123-4567-890-123-4567" -> "<PHONE>-<PHONE>",
      "555-123-4567@b.com" -> "<EMAIL>",
      "555-12é3-4567 x" -> "555-12é3-4567 x",
      "" -> "")
    val df = viaParquet((cases.map(c => Option(c._1)) :+ None).toDF("t"))
    val got = df.select(col("t"), VectorFunctions.scrubPii(col("t")),
      regexScrub(col("t"))).collect().map(r => Option(r.getString(0)) ->
        (Option(r.getString(1)), Option(r.getString(2)))).toMap
    cases.foreach { case (in, want) =>
      assert(got(Some(in)) === (Some(want), Some(want)), in)
    }
    assert(got(None) === (None, None))
    // a text with nothing to redact is the input itself, not a copy
    val plain = UTF8String.fromString("no pii here 555-12")
    assert(VectorKernels.scrubPii(plain) eq plain)

    // Not valid UTF-8: regexp_replace decodes the text to a Java String,
    // which puts U+FFFD in place of each malformed sequence, and the
    // kernel does the same, whether or not anything is redacted
    val bad = Seq(Array[Byte](0xC3.toByte, '(', 'a', '@', 'b', '.', 'c', 'o'),
      Array[Byte]('x', 0xFF.toByte, 'y'),
      Array[Byte](0xED.toByte, 0xA0.toByte, 0x80.toByte, '5', '5', '5', '-', '1', '2', '3',
        '-', '4', '5', '6', '7'))
    val surrogate = new String(bad(2).take(3), java.nio.charset.StandardCharsets.UTF_8)
    assert(surrogate.nonEmpty && surrogate.forall(_ == '\uFFFD'))
    assert(bad.map(b => VectorKernels.scrubPii(UTF8String.fromBytes(b))) === Seq(
      "\uFFFD(<EMAIL>", "x\uFFFDy", s"$surrogate<PHONE>").map(UTF8String.fromString))
    val rnd = new scala.util.Random(29)
    val bytes = Array(0x80, 0xA9, 0xBF, 0xC0, 0xC3, 0xE2, 0xED, 0xF0, 0xF4, 0xFF, 0xA0, 0x90)
      .map(_.toByte) ++ "a.b@-5-1 ".getBytes("UTF-8")
    val blobs = bad ++ (0 until 20000).map(_ =>
      Array.fill(rnd.nextInt(24))(bytes(rnd.nextInt(bytes.length))))
    val diffs = scrubDiffs(viaParquet(blobs.toDF("b")).select(col("b").cast("string").as("t")))
    assert(diffs.map(_._1) === Seq(0L, 0L))
  }
}
