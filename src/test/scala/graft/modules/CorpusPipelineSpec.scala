package graft.modules

import graft.{SparkEntry, SparkSpec}

/** The declared q_corpus_pipeline row (the CorpusModule DAG run through
  * Graph.run): plan-level scale assertions — the language gate declared
  * in the SECOND node must cross the normalize node's boundary into the
  * parquet scan's PushedFilters, and the scan must prune to the four
  * consumed columns — plus the gate's value semantics. */
class CorpusPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("q_corpus_pipeline pushes the lang gate into the parquet scan") {
    val df = SparkEntry.queries("q_corpus_pipeline")(spark, sf001)
    val p = df.queryExecution.executedPlan.toString
    // the gate predicate, declared one node ABOVE the scan, must reach it
    assert(p.contains("PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]"),
      p)
    // and the scan must prune to the consumed columns (documents has 5;
    // `source` is never touched)
    val schemaLine = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!schemaLine.contains("source"), schemaLine)
    Seq("doc_id", "text", "lang", "n_chars").foreach(c =>
      assert(schemaLine.contains(c), schemaLine))
  }

  test("q_corpus_pipeline output honors the module's gates") {
    val rows = SparkEntry.queries("q_corpus_pipeline")(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[String]("lang") == "en")
      assert(r.getAs[Double]("quality") >= 0.5)
      assert(r.getAs[Double]("repetition") <= 0.9)
    }
  }

  test("language gate keeps only allowlisted langs, before the dedupe") {
    val block = Seq(
      (1L, "the cat sat on the mat with a hat and a bat near the door", "en", 58),
      (2L, "le chat est assis sur le tapis pres de la porte en silence", "fr", 59),
      (3L, "the cat sat on the mat with a hat and a bat near the door", "en", 58))
      .toDF("doc_id", "text", "lang", "n_chars")
    val out = CorpusModule.graph(minQuality = 0.0, langs = Seq("en"))
      .run(Map("docs" -> block))
    assert(out("gated").select("lang").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("en"))
    // dedupe sees only gated docs: 1 and 3 collapse, 2 is gone already
    assert(out("deduped").select("id").collect().map(_.getLong(0)).toSeq
      == Seq(1L))
  }

  test("no langs param means no gate node (module default unchanged)") {
    assert(!CorpusModule.nodes().exists(_.id == "gated"))
    assert(CorpusModule.nodes(langs = Seq("en")).map(_.id).take(2)
      == Seq("normalized", "gated"))
  }

  test("q_corpus_incr: block-scoped dedupe, full parity coverage") {
    val rows = SparkEntry.queries("q_corpus_incr")(spark, sf001).collect()
    assert(rows.nonEmpty)
    val ids = rows.map(_.getAs[Long]("id")).toSeq
    assert(ids == ids.sorted)
    // both parity blocks (delta 1 and delta 2) contribute to the view
    assert(ids.exists(_ % 2 == 0) && ids.exists(_ % 2 == 1))
    rows.foreach { r =>
      assert(r.getAs[Double]("quality") >= 0.5)
      assert(r.getAs[Double]("repetition") <= 0.9)
    }
  }

  test("nearDedupe drops non-keepers; exact stage feeds it first") {
    // doc 2 is a near-dup of doc 1 (one token differs in 20 → jac 19/21
    // ≈ 0.905 ≥ 0.9); doc 3 is a BYTE-identical copy of doc 1 (exact
    // stage removes it before the pair join); doc 4 is unrelated
    val t1 = "a b c d e f g h i j k l m n o p q r s t"
    val block = Seq(
      (1L, t1, "en", 40), (2L, t1.replace(" t", " z"), "en", 40),
      (3L, t1, "en", 40), (4L, "u v w x y", "en", 10))
      .toDF("doc_id", "text", "lang", "n_chars")
    val nodes = CorpusModule.nodes(nearDupJaccard = Some(0.9))
    assert(nodes.map(_.id).containsSlice(
      Seq("deduped", "neardeduped", "scored")))
    assert(nodes.find(_.id == "neardeduped").get.deps == Seq("deduped"))
    assert(nodes.find(_.id == "scored").get.deps == Seq("neardeduped"))
    val out = CorpusModule.graph(minQuality = 0.0, maxRepetition = 1.0,
      nearDupJaccard = Some(0.9)).run(Map("docs" -> block))
    assert(out("deduped").select("id").collect().map(_.getLong(0)).sorted
      .toSeq == Seq(1L, 2L, 4L)) // exact copy 3 gone
    assert(out("neardeduped").select("id").collect().map(_.getLong(0))
      .sorted.toSeq == Seq(1L, 4L)) // near-dup 2 collapsed to keeper 1
    assert(out("kept").collect().map(_.getAs[Long]("id")).sorted.toSeq
      == Seq(1L, 4L))
  }

  test("q_corpus_neardup removes docs the exact stage alone keeps") {
    val bounded = graft.sources.Tables.table(spark, sf001, "documents")
      .filter(org.apache.spark.sql.functions.col("doc_id") < 200)
    val exactOnly = CorpusModule.graph(minQuality = 0.5,
      langs = Seq("en")).run(Map("docs" -> bounded))("deduped").count()
    val withNear = CorpusModule.graph(minQuality = 0.5, langs = Seq("en"),
      nearDupJaccard = Some(0.9)).run(Map("docs" -> bounded))("neardeduped")
      .count()
    assert(withNear < exactOnly, s"near-dup stage dropped nothing " +
      s"($withNear vs $exactOnly) — corpus should contain near-dups")
  }

  test("q_corpus_incr_neardup: near-dedupe scopes per delta") {
    val rows = SparkEntry.queries("q_corpus_incr_neardup")(spark, sf001).collect()
    assert(rows.nonEmpty)
    val ids = rows.map(_.getAs[Long]("id")).toSeq
    assert(ids == ids.sorted)
    assert(ids.exists(_ % 2 == 0) && ids.exists(_ % 2 == 1))
    // per-delta vs batch, UNCAPPED counts on the same bound (the
    // declared row limits to 100, which would mask the comparison):
    // batch closure sees cross-parity pairs too, so it keeps a strict
    // subset whenever a near-dup pair straddles the parity split —
    // asserting STRICTLY fewer pins that such a cross-block pair exists
    // and survives the per-delta scope (the module's documented
    // incremental semantic; cross-run dedupe happens at materialization)
    val bounded = graft.sources.Tables.table(spark, sf001, "documents")
      .filter(org.apache.spark.sql.functions.col("doc_id") < 400)
    def kept(g: graft.engine.Graph, in: org.apache.spark.sql.DataFrame) =
      g.run(Map("docs" -> in))("kept").count()
    val batchKept = kept(CorpusModule.graph(minQuality = 0.5,
      nearDupJaccard = Some(0.9)), bounded)
    val perDelta = Seq(0, 1).map(p => kept(
      CorpusModule.graph(minQuality = 0.5, nearDupJaccard = Some(0.9)),
      bounded.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === p)))
      .sum
    assert(perDelta > batchKept,
      s"per-delta scope ($perDelta) vs batch closure ($batchKept): " +
        "expected a surviving cross-parity near-dup pair")
  }

  test("q_corpus_index_probe equals the standalone indexed probe") {
    // the module-grain orchestration (shared ledger, sink-gated index
    // persist, delta-only probe run) must preserve the operator's result
    // EXACTLY — both rows share one oracle text, so cross-checking the
    // two engine paths against each other pins the composition layer
    val viaModule = SparkEntry.queries("q_corpus_index_probe")(spark, sf001)
      .collect().map(_.toSeq).toSeq
    val standalone = SparkEntry.queries("q_neardup_incr_indexed")(spark, sf001)
      .collect().map(_.toSeq).toSeq
    assert(viaModule == standalone)
    assert(viaModule.head.head.asInstanceOf[Long] > 0) // pairs found
  }

  test("q_corpus_pipeline has a single shuffle: the dedupe window") {
    val df = SparkEntry.queries("q_corpus_pipeline")(spark, sf001)
    val p = df.queryExecution.executedPlan.toString
    // narrow stages (gate/scrub/score) must not add exchanges: the only
    // repartitioning is the dedupe window's hash by fingerprint (the
    // final orderBy+limit plans as TakeOrderedAndProject, which gathers
    // without printing an Exchange). Count EVERY Exchange occurrence
    // regardless of tree-prefix (`+- `/`:- `/root) so a future module
    // change that introduces a join cannot hide its build-side exchange
    // behind a branch prefix; ReusedExchange re-reads an already-counted
    // shuffle, so it stays excluded.
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("ReusedExchange"))
    assert(exchanges == 1, p)
  }
}
