package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Bench bookkeeping that needs no Spark session: block layout, class
  * stamps, rep counts and the JSON record's string escaping. */
class BenchSpec extends AnyFunSuite {
  private val names = SparkEntry.queries.keys.toSeq.sorted
  private val mapper = new ObjectMapper()

  test("blocks: solo names alone, the rest once each in ordered blocks <= 30") {
    val bs = Bench.blocks(names, 30)
    assert(bs.flatten.sorted == names, "a name was lost or duplicated")
    bs.filter(_.exists(Bench.solo)).foreach(b => assert(b.size == 1, b))
    val rest = bs.filterNot(_.exists(Bench.solo))
    rest.foreach(b => assert(b.nonEmpty && b.size <= 30, b))
    assert(rest.flatten == names.filterNot(Bench.solo))
  }

  test("queryClass stamps stream, codec, solo and default rows") {
    assert(Bench.queryClass("q_corpus_stream") == "stream")
    assert(Bench.queryClass("q_audio_neardup") == "codec")
    assert(Bench.queryClass("q_pagerank") == "solo")
    assert(Bench.queryClass("q_agg_group") == "default")
  }

  test("repsFor: roamers take max(benchReps, roamerReps), others benchReps") {
    Bench.roamers.foreach(r =>
      assert(Bench.repsFor(r) == Bench.benchReps.max(Bench.roamerReps)))
    assert(Bench.repsFor("q_agg_group") == Bench.benchReps)
  }

  private val hostile = "a\"b\\c\nd\re\tf\u0001g/\u001fh"

  test("jsonString round-trips quotes, backslashes and control characters") {
    Seq(hostile, "", "plain", "\u0000", "é—✓").foreach { s =>
      assert(mapper.readValue(Bench.jsonString(s), classOf[String]) == s)
    }
  }

  test("emit: a hostile sf dir and detail path still give parseable records") {
    val dir = java.nio.file.Files.createTempDirectory("bench_spec")
    val detail = dir.resolve("de\"tail\\.json").toString
    val results = Seq(Bench.QResult("q_agg_group", 1.5, ok = true, leaked = 0),
      Bench.QResult("q_bfs", 0.1, ok = false, leaked = 2))
    val out = new java.io.ByteArrayOutputStream()
    try {
      Console.withOut(out)(Bench.emit(results, hostile, 10.0, 5.0, detail))
      val line = mapper.readTree(out.toString("UTF-8").trim)
      assert(line.get("sf").asText == hostile)
      assert(line.get("detail").asText == detail)
      assert(line.get("errors").get(0).asText == "q_bfs")
      val rec = mapper.readTree(java.nio.file.Files.readString(
        java.nio.file.Paths.get(detail)))
      assert(rec.get("sf").asText == hostile)
      assert(rec.get("mode").asText == "fork")
      assert(rec.get("warm_target").asInt == 1)
      assert(rec.get("action").asText == "noop")
      assert(rec.get("leaked").get("q_bfs").asInt == 2)
    } finally {
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(detail))
      java.nio.file.Files.delete(dir)
    }
  }
}
