package graft.engine

import org.apache.spark.sql.functions._
import graft.{SparkEntry, SparkSpec}
import graft.modules.CorpusModule

/** Per-node observability ([[Observed]]): metric exactness on the
  * single materializing action, the placement trade-off on scan
  * pushdown (a gauge pins the rows crossing it; a selective gauge
  * leaves upstream gates free to reach the scan), and the declared
  * q_corpus_observed row against a direct recomputation. */
class ObservedSpec extends SparkSpec {
  import spark.implicits._

  private def block = Seq(
    (1L, "the cat sat on the mat with a hat and a bat near the door", "en", 58),
    (2L, "le chat est assis sur le tapis pres de la porte en silence", "fr", 59),
    (3L, "the cat sat on the mat with a hat and a bat near the door", "en", 58),
    (4L, "a dog ran over the hill to the pond and back to the house", "en", 57))
    .toDF("doc_id", "text", "lang", "n_chars")

  test("one action delivers every ancestor node's exact row count") {
    val base = CorpusModule.graph(minQuality = 0.0, langs = Seq("en"))
    val (g, h) = Observed.instrument(base)
    val out = g.run(Map("docs" -> block))
    assert(h.metricsOrEmpty("kept").isEmpty) // nothing materialized yet
    out("kept").count() // THE action; no per-stage counts anywhere below
    val want = base.run(Map("docs" -> block))
    val stages = base.topoOrder.map(_.id)
    assert(stages === Seq("normalized", "gated", "scrubbed", "deduped",
      "scored", "kept")) // the chain the oracle's ord column pins
    stages.foreach { id =>
      assert(h.metrics(id)("n_rows") === want(id).count(), id)
    }
    // non-blocking read works once delivered
    assert(h.metricsOrEmpty("gated")("n_rows") === 3L)
  }

  test("a pre-gate gauge pins the scan: the lang filter stays above it") {
    val (g, _) = Observed.instrument(
      CorpusModule.graph(minQuality = 0.0, langs = Seq("en")))
    val kept = g.run(Map("docs" ->
      graft.sources.Tables.table(spark, sf001, "documents")))("kept")
    val plan = kept.queryExecution.executedPlan.toString
    // six observed boundaries in the plan...
    assert("CollectMetrics".r.findAllIn(plan).size === 6, plan)
    // ...and the gate can NOT collapse into the scan: counting the
    // pre-gate intake requires reading it (the metric's meaning)
    assert(!plan.contains("EqualTo(lang,en)"), plan)
    // Deliver the wiring's observers: a plan-only test would park six
    // undelivered CollectMetrics listeners on the shared suite session
    // — the accumulation Observed's own scaladoc warns against.
    kept.limit(1).count()
  }

  test("a selective gauge keeps the gate's scan pushdown intact") {
    val (g, h) = Observed.instrument(
      CorpusModule.graph(minQuality = 0.0, langs = Seq("en")),
      only = Set("kept"))
    val kept = g.run(Map("docs" ->
      graft.sources.Tables.table(spark, sf001, "documents")))("kept")
    val plan = kept.queryExecution.executedPlan.toString
    assert("CollectMetrics".r.findAllIn(plan).size === 1, plan)
    assert(plan.contains("PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]"),
      plan)
    assert(h.nodeIds === Set("kept"))
    kept.limit(1).count() // deliver the observer (see the pre-gate test)
  }

  test("only= rejects unknown node ids eagerly") {
    val e = intercept[IllegalArgumentException] {
      Observed.instrument(CorpusModule.graph(), only = Set("nope"))
    }
    assert(e.getMessage.contains("nope"))
  }

  test("custom metric columns ride the same action") {
    val (g, h) = Observed.instrument(
      CorpusModule.graph(minQuality = 0.0, langs = Seq("en")),
      metrics = _ => Seq(count(lit(1)).as("n_rows"),
        sum(col("n_chars").cast("long")).as("n_chars_sum")),
      only = Set("gated"))
    g.run(Map("docs" -> block))("kept").count()
    val m = h.metrics("gated")
    assert(m("n_rows") === 3L)
    assert(m("n_chars_sum") === (58L + 58L + 57L))
  }

  test("metrics() for an uninstrumented node names the valid ids") {
    val (g, h) = Observed.instrument(
      CorpusModule.graph(minQuality = 0.0, langs = Seq("en")),
      only = Set("kept"))
    g.run(Map("docs" -> block))("kept").count()
    val e = intercept[IllegalArgumentException] { h.metrics("scrubbed") }
    assert(e.getMessage.contains("scrubbed") && e.getMessage.contains("kept"))
  }

  test("an empty stage reports a NULL volume gauge, not 0") {
    val (g, h) = Observed.instrument(
      CorpusModule.graph(minQuality = 0.0, langs = Seq("xx")), // gate keeps nothing
      metrics = _ => Seq(count(lit(1)).as("n_rows"),
        sum(col("n_chars").cast("long")).as("n_chars_sum")),
      only = Set("gated"))
    g.run(Map("docs" -> block))("kept").count()
    val m = h.metrics("gated")
    assert(m("n_rows") === 0L)
    assert(Option(m("n_chars_sum")).isEmpty) // sum over no rows is NULL
  }

  test("q_corpus_incr_observed: per-run gauges equal each delta's direct run") {
    val got = SparkEntry.queries("q_corpus_incr_observed")(spark, sf001).collect()
    assert(got.length === 12) // 2 runs x 6 stages
    val docs = graft.sources.Tables.table(spark, sf001, "documents")
    (1 to 2).foreach { run =>
      val delta = docs.filter(col("doc_id") % 2 === (run - 1))
      val direct = CorpusModule.graph(minQuality = 0.5, maxRepetition = 0.9,
        langs = Seq("en")).run(Map("docs" -> delta))
      got.filter(_.getInt(0) === run).foreach { r =>
        val df = direct(r.getString(2))
        assert(r.getLong(3) === df.count(),
          s"run $run stage ${r.getString(2)}")
        assert(r.getLong(4) ===
          df.agg(sum(col("n_chars").cast("long"))).head.getLong(0),
          s"run $run stage ${r.getString(2)} volume")
      }
    }
  }

  test("q_corpus_observed equals a direct per-stage recomputation") {
    val got = SparkEntry.queries("q_corpus_observed")(spark, sf001).collect()
    assert(got.map(_.getString(1)).toSeq ===
      Seq("normalized", "gated", "scrubbed", "deduped", "scored", "kept"))
    val stages = CorpusModule.graph(minQuality = 0.5, maxRepetition = 0.9,
        langs = Seq("en"))
      .run(Map("docs" ->
        graft.sources.Tables.table(spark, sf001, "documents")))
    got.foreach { r =>
      val df = stages(r.getString(1))
      assert(r.getLong(2) === df.count(), r.getString(1))
      assert(r.getLong(3) ===
        df.agg(sum(col("n_chars").cast("long"))).head.getLong(0),
        r.getString(1))
    }
  }
}
