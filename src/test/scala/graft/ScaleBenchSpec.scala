package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions._

/** The scale driver's generator contract and its session-free bookkeeping.
  * perfbench builds its corpus inputs from `ScaleBench.zipfToken` and
  * `tokensPerDoc`, and every doc-shaped SCALING.md curve reads `genDocs`,
  * so both are pinned by a SHA-256 of their sorted rows: a change to the
  * vocabulary, the hash key, the language draw or the planted near-dups
  * moves the pin. */
class ScaleBenchSpec extends SparkSpec {

  private def sha256(rows: Seq[String]): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(rows.sorted.mkString("\n").getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString

  test("genDocs at n = 200 is pinned row for row") {
    val path = java.nio.file.Files.createTempDirectory("scale_spec")
      .resolve("docs").toString
    ScaleBench.genDocs(spark, 200, path)
    val rows = spark.read.parquet(path)
      .select("doc_id", "text", "lang", "source", "n_chars").collect()
    assert(rows.length == 210)
    assert(sha256(rows.map(_.mkString("|")).toSeq) ==
      "c5b3c070f8b87a70988f69f8f43f6b899230d5831b72bb2b136cf17db19bb878")
  }

  test("zipfToken over a (doc, k) grid is pinned") {
    val docs = (0L until 16L) ++ Seq(10000000L, 800000000L, 900000000L)
    val rows = spark.createDataFrame(docs.map(Tuple1(_))).toDF("doc")
      .select(col("doc"), explode(sequence(lit(0), lit(7))).as("k"))
      .select(col("doc"), col("k"), ScaleBench.zipfToken(col("doc"), col("k")))
      .collect()
    assert(rows.length == docs.size * 8)
    assert(sha256(rows.map(_.mkString("|")).toSeq) ==
      "302a8696250674e7cda1549b8968bc8cf51cd8639c486a0af2f1bd0ad3f9eb92")
  }

  private val names = ScaleBench.cases.map(_._1)

  test("registry: case names are unique; the default set is all but gramhd") {
    assert(names.distinct == names)
    assert(ScaleBench.namedOnly.subsetOf(names.toSet))
    assert(ScaleBench.selected(Nil).map(_._1) == names.filterNot(_ == "gramhd"))
    assert(ScaleBench.selected(Seq("rank", "gramhd", "dedup")).map(_._1) ==
      Seq("dedup", "gramhd", "rank"))
    intercept[IllegalArgumentException](ScaleBench.selected(Seq("nope")))
  }

  test("a timer line with a hostile label parses with Jackson") {
    val hostile = "a\"b\\c\nd\re\tf\u0001g/\u001fh"
    val line = new ObjectMapper().readTree(
      ScaleBench.jsonLine("case\"", hostile, 1.23456, hostile, 4, 812.34))
    assert(line.get("case").asText == "case\"")
    assert(line.get("label").asText == hostile)
    assert(line.get("sec").asDouble == 1.235)
    assert(line.get("result").asText == hostile)
    assert(line.get("cores").asInt == 4)
    assert(line.get("host_canary_ms").asDouble == 812.3)
    val unit = new ObjectMapper().readTree(
      ScaleBench.jsonLine("c", "l", 0.5, (), 1, 1.0))
    assert(unit.get("result").isNull)
  }
}
