package graft.modules

import graft.SparkSpec
import graft.engine.RunLog
import graft.functions.MinHashAgg
import java.nio.file.Files
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction

class CorpusModuleSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String, String, Int)*) =
    rows.toSeq.toDF("doc_id", "text", "lang", "n_chars")

  test("module pipeline: normalize → dedupe → score → filter through Graph") {
    val block = docs(
      (1L, "the cat sat on the mat with a hat and a bat near the door", "en", 58),
      (2L, "the cat sat on the mat with a hat and a bat near the door", "en", 58), // dup of 1
      (3L, "x", "en", 1)) // too short: filtered by quality
    val out = CorpusModule.graph(minQuality = 0.1)
      .run(Map("docs" -> block))
    val kept = out("kept").collect()
    assert(kept.map(_.getAs[Long]("id")).toSeq == Seq(1L)) // dup 2 and junk 3 gone
    assert(out("kept").columns.contains("quality"))
    assert(out("deduped").count() == 2) // 1 (keeper of {1,2}) and 3
  }

  test("the kept frame's optimized plan has no higher-order function") {
    // an interpreted lambda per row on the stream's trigger path would
    // undo the codegen'd score kernels
    val block = docs((1L, "the cat sat on the mat", "en", 22))
    val plan = CorpusModule.graph().run(Map("docs" -> block))("kept")
      .queryExecution.optimizedPlan
    val hofs = plan.flatMap(_.expressions.flatMap(_.collect { case h: HigherOrderFunction => h }))
    assert(hofs.isEmpty, hofs.map(_.prettyName))
  }

  test("module pipeline with benchmark: leaked docs dropped, PII scrubbed") {
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("id", "text")
    val block = docs(
      (1L, "intro words then the quick brown fox jumps over copied verbatim here", "en", 69), // leaked 5-gram
      (2L, "a clean document with an email bob@corp.example.com inside it and words", "en", 72),
      (3L, "another perfectly ordinary document with a good number of words", "en", 64))
    val out = CorpusModule.graph(minQuality = 0.0, benchmark = Some(bench))
      .run(Map("docs" -> block))
    val kept = out("kept").collect().map(r =>
      r.getAs[Long]("id") -> r.getAs[String]("text")).toMap
    assert(!kept.contains(1L))                 // decontaminated
    assert(kept(2L).contains("<EMAIL>"))       // scrubbed
    assert(!kept(2L).contains("bob@corp.example.com"))
    assert(kept.contains(3L))
    assert(out("kept").columns.contains("repetition"))
  }

  test("langs + benchmark combined: decontaminate consumes GATED docs") {
    // the two options are tested separately elsewhere; this pins their
    // COMBINED wiring — the decon node must depend on "gated" (not
    // "normalized"), so a non-allowlisted doc never reaches the shingle
    // join, and a gated-in doc that leaks a benchmark 5-gram is dropped
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("id", "text")
    val block = docs(
      (1L, "intro words then the quick brown fox jumps over copied verbatim here", "en", 69), // en + leaked
      (2L, "le chat est assis sur le tapis pres de la porte en silence ce soir", "fr", 67), // gated out
      (3L, "another perfectly ordinary document with a good number of words", "en", 64))
    val nodes = CorpusModule.nodes(minQuality = 0.0,
      benchmark = Some(bench), langs = Seq("en"))
    // structural pin: the wiring itself, not just this run's values
    assert(nodes.map(n => n.id -> n.deps).take(3) == Seq(
      "normalized" -> Seq("docs"),
      "gated" -> Seq("normalized"),
      "decontaminated" -> Seq("gated")))
    val out = CorpusModule.graph(minQuality = 0.0,
      benchmark = Some(bench), langs = Seq("en")).run(Map("docs" -> block))
    // the decon stage's input is the gated set only
    assert(out("decontaminated").select("lang").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("en"))
    assert(out("kept").collect().map(_.getAs[Long]("id")).toSeq == Seq(3L))
  }

  test("module runs incrementally: second run touches only the new block") {
    val dir = Files.createTempDirectory("graftmod").toString
    val log = new RunLog(dir)
    val b1 = docs((1L, "the first block document with plenty of words in it", "en", 52))
    val b2 = docs((2L, "the second block document also with plenty of words", "en", 52))
    val g = CorpusModule.graph(minQuality = 0.0)
    val r1 = g.runIncremental(Map("docs" -> Seq("b1" -> b1)), log)
    assert(r1("kept").collect().map(_.getAs[Long]("id")).toSeq == Seq(1L))
    val r2 = g.runIncremental(Map("docs" -> Seq("b1" -> b1, "b2" -> b2)), log)
    assert(r2("kept").collect().map(_.getAs[Long]("id")).toSeq == Seq(2L))
    assert(log.consumedBlocks("docs") == Set("b1", "b2"))
  }

  test("cross-run duplicates are removed at materialization (documented path)") {
    val dir = Files.createTempDirectory("graftxrun").toString
    val log = new RunLog(dir)
    val text = "the same exact document content shipped twice across blocks"
    val b1 = docs((1L, text, "en", 59))
    val b2 = docs((2L, text, "en", 59)) // same content, later block, new id
    val g = CorpusModule.graph(minQuality = 0.0)
    val k1 = g.runIncremental(Map("docs" -> Seq("b1" -> b1)), log)("kept")
    val k2 = g.runIncremental(Map("docs" -> Seq("b1" -> b1, "b2" -> b2)), log)("kept")
    // per-delta dedupe keeps both (documented) …
    assert(k1.count() + k2.count() == 2)
    // … the corpus VIEW dedupes across runs: module dedupe over the
    // accumulated kept blocks keeps only the first copy
    val view = CorpusModule.dedupe(k1.unionByName(k2))
    assert(view.collect().map(_.getAs[Long]("id")).toSeq == Seq(1L))
  }

  test("incremental signature maintenance equals batch signatures") {
    // the same doc gains tokens across blocks; merged sketches must equal
    // the batch sketch over the union (mergeability, not approximation)
    val b1 = Seq((10L, "alpha beta gamma"), (20L, "delta epsilon"))
      .toDF("id", "text")
    val b2 = Seq((10L, "gamma zeta eta"), (30L, "theta iota"))
      .toDF("id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma gamma zeta eta"),
      (20L, "delta epsilon"),
      (30L, "theta iota")).toDF("id", "text")

    val inc = CorpusModule.mergeSignatures(
        CorpusModule.signatures(b1), CorpusModule.signatures(b2))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    val bat = CorpusModule.signatures(batch)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(inc == bat)
    // and the signatures are usable: self-similarity of doc 10 is 1.0
    assert(MinHashAgg.estimate(inc(10L).toArray, bat(10L).toArray) == 1.0)
  }
}
