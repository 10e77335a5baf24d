package graft

import java.nio.file.{Files, Paths}
import java.util.Locale
import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.RunLog
import graft.functions.{KmvAgg, QSketch, QSketchAgg, QSketchMergeAgg}
import graft.modules.CorpusModule
import graft.operators._
import graft.streaming.Streams

/** The scaling-evidence driver behind SCALING.md:
  *
  *   sbt "runMain graft.ScaleBench <outRoot> [case…]"
  *
  * runs the named cases in registry order ([[cases]]; with none named,
  * every case but the named-only ones) on the bench's session at
  * `SPARK_GRAFT_CPUS` cores (default 4). Each case generates its inputs
  * under `outRoot` — hash-deterministic, no rand(), so stable across runs
  * and partitionings — and reads them back from parquet, so scans, not
  * generation, are timed. It warms its plan shapes, then times each row
  * through [[Run.time]]: one System.gc(), one window, one JSON line
  *
  *   {"case":…,"label":…,"sec":…,"result":…,"cores":…,"host_canary_ms":…}
  *
  * stamped with the host canary measured once at start, so lines of
  * separate runs can be pooled. Every timed body forces the operator's
  * computed columns (a pair count, an aggregate of computed columns that
  * is collected, or a micro-batch count): a bare count() over a
  * row-preserving plan lets column pruning delete the work it should time.
  */
object ScaleBench {

  // ---- generators -------------------------------------------------------

  val vocab = 20000
  val tokensPerDoc = 80

  // token k of doc i: Zipf-ish via inverse transform floor(V^u) with a
  // hash-uniform u — pmf ∝ 1/rank, matching natural-language token skew
  def zipfToken(doc: Column, k: Column): Column = {
    val u = pmod(xxhash64(doc, k), lit(1000000)).cast("double") / 1000000.0
    concat(lit("w"), floor(pow(lit(vocab.toDouble), u)).cast("long").cast("string"))
  }

  /** `n` Zipfian docs (doc_id, text) with ids `offset` … `offset + n - 1`;
    * a far offset gives a hash stream disjoint from every corpus. */
  def zipfDocs(spark: SparkSession, n: Long, offset: Long): DataFrame =
    spark.range(offset, offset + n).select(col("id").as("doc_id"),
      array_join(transform(sequence(lit(0), lit(tokensPerDoc - 1)),
        k => zipfToken(col("id"), k)), " ").as("text"))

  /** The scale corpus: `n` Zipfian docs in 3 languages plus 5% planted
    * near-dups (same tokens + 3 fresh ones appended, Jaccard ≈ 0.95 on the
    * distinct sets, same language, ids offset by n), written to `path`. */
  def genDocs(spark: SparkSession, n: Long, path: String): Unit = {
    val base = zipfDocs(spark, n, 0).withColumn("lang",
      element_at(array(lit("en"), lit("de"), lit("fr")),
        (pmod(xxhash64(col("doc_id"), lit(7)), lit(3)) + 1).cast("int")))
    val dups = base.filter(pmod(col("doc_id"), lit(20)) === 0)
      .select((col("doc_id") + n).as("doc_id"),
        concat(col("text"), lit(" zz1x zz2x zz3x")).as("text"), col("lang"))
    base.unionByName(dups)
      .withColumn("source", lit("synb"))
      .withColumn("n_chars", length(col("text")))
      .repartition(32)
      .write.mode("overwrite").parquet(path)
  }

  /** Hash-uniform vectors in [-1, 1]^dim plus 5% planted near-dups
    * (every coordinate + 0.01, ids offset by n). */
  private def embeddings(spark: SparkSession, n: Long, dim: Int): DataFrame = {
    val base = spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), j =>
        (pmod(xxhash64(col("id"), j), lit(2001)).cast("double") / 1000.0 - 1.0)
          .cast("float")).as("embedding"))
    val dups = base.filter(pmod(col("vec_id"), lit(20)) === 0)
      .select((col("vec_id") + n).as("vec_id"),
        transform(col("embedding"), x => x + lit(0.01f)).as("embedding"))
    base.unionByName(dups)
  }

  /** `m` draws of uniform endpoints over V = m/15 vertices (average degree
    * ~30) plus a planted hub: 2% of all edges leave vertex 0. */
  private def uniformEdges(spark: SparkSession, m: Long): DataFrame = {
    def uni(salt: Int) = pmod(xxhash64(col("id"), lit(salt)), lit(m / 15)) + 1
    spark.range(m).select(
        when(pmod(xxhash64(col("id"), lit(99)), lit(50)) === 0, lit(0L))
          .otherwise(uni(1)).as("src"),
        uni(2).as("dst"))
      .where(col("src") =!= col("dst"))
  }

  /** Zipf-degree edges: endpoint ids via inverse-CDF floor(V^u), so
    * P(id) ∝ 1/id and the top vertex takes ~6% of all endpoint draws. */
  private def powerLawEdges(spark: SparkSession, m: Long): DataFrame = {
    def zipf(salt: Int) = {
      val u = (pmod(xxhash64(col("id"), lit(salt)), lit(1000000L))
        .cast("double") + 0.5) / 1000000.0
      floor(pow(lit((m / 15).toDouble), u)).cast("long")
    }
    spark.range(m).select(zipf(11).as("src"), zipf(12).as("dst"))
      .where(col("src") =!= col("dst"))
  }

  /** Entity frame (ent, v): a skewed long measure with mod-1000 ties. */
  private def rankRows(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(col("id").as("ent"),
      (pmod(xxhash64(col("id"), lit(7)), lit(1000L)) *
        (pmod(xxhash64(col("id"), lit(11)), lit(97L)) + 1)).as("v"))

  /** Events (event_type, ts, value): 5 types over 30 days. */
  private def events(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      concat(lit("t"), pmod(xxhash64(col("id"), lit(3)), lit(5))).as("event_type"),
      timestamp_seconds(lit(1700000000L) +
        pmod(xxhash64(col("id"), lit(5)), lit(86400L * 30))).as("ts"),
      (pmod(xxhash64(col("id"), lit(7)), lit(100000L)) / 1000.0).as("value"))

  private val rangeSpan = 30L * 24 * 3600 * 1000000 // 30 days in µs
  private val hour = 3600L * 1000000

  /** `n` uniform points (pt, pid) over the 30-day µs domain. */
  private def points(spark: SparkSession, n: Long): DataFrame = spark.range(n)
    .select((abs(xxhash64(col("id"))) % rangeSpan).as("pt"), col("id").as("pid"))

  /** `m` one-hour windows (s, wid, e) over the same domain. */
  private def intervals(spark: SparkSession, m: Long): DataFrame = spark.range(m)
    .select((abs(xxhash64(col("id"), lit(1))) % rangeSpan).as("s"), col("id").as("wid"))
    .withColumn("e", col("s") + hour)

  /** `n` rows (k, t) with ~10 rows per equi key. */
  private def keyed(spark: SparkSession, n: Long, tag: Int): DataFrame = spark.range(n)
    .select((col("id") % (n / 10)).as("k"),
      (abs(xxhash64(col("id"), lit(tag))) % rangeSpan).as("t"))

  // ---- driver -----------------------------------------------------------

  /** One driver run: the session, the output root every input and sink
    * lives under, and the core count and canary each line is stamped with. */
  final class Run(val spark: SparkSession, root: String, cores: Int,
      canaryMs: Double) {
    private[ScaleBench] var caseName = ""
    private val written = mutable.Set[String]()

    def path(name: String): String = s"$root/$name"

    /** The parquet at `root/name`, written by `write` once per run. */
    def stash(name: String)(write: String => Unit): DataFrame = {
      if (written.add(name)) write(path(name))
      spark.read.parquet(path(name))
    }

    /** `df` landed as `parts` parquet files at `root/name` once per run. */
    def frame(name: String, parts: Int = 32)(df: => DataFrame): DataFrame =
      stash(name)(df.repartition(parts).write.mode("overwrite").parquet(_))

    def docs(n: Long): DataFrame = stash(s"docs_$n")(genDocs(spark, n, _))
    def emb(n: Long, dim: Int = 64): DataFrame =
      frame(s"emb_${n}_d$dim")(embeddings(spark, n, dim))

    /** A new empty directory under the root, for stateful sinks: a reused
      * checkpoint or ledger would mark the new run's input consumed. */
    def freshDir(tag: String): String =
      Files.createTempDirectory(Paths.get(root), tag).toString

    /** Times `body` in one window after a GC and prints its JSON line. */
    def time[T](label: String)(body: => T): T = {
      System.gc()
      val t0 = System.nanoTime()
      val r = body
      println(jsonLine(caseName, label, (System.nanoTime() - t0) / 1e9, r,
        cores, canaryMs))
      r
    }
  }

  private[graft] def jsonLine(caseName: String, label: String, sec: Double,
      result: Any, cores: Int, canaryMs: Double): String = {
    def num(v: Double, digits: Int) = s"%.${digits}f".formatLocal(Locale.ROOT, v)
    val res = result match {
      case () => "null"
      case r => Bench.jsonString(String.valueOf(r))
    }
    s"""{"case":${Bench.jsonString(caseName)},"label":${Bench.jsonString(label)},""" +
      s""""sec":${num(sec, 3)},"result":$res,"cores":$cores,""" +
      s""""host_canary_ms":${num(canaryMs, 1)}}"""
  }

  /** The case registry, in run order. */
  val cases: Seq[(String, Run => Unit)] = Seq(
    "dedup" -> dedup _, "kmeans" -> kmeans _, "assign" -> assign _,
    "gram" -> gram _, "gramhd" -> gramhd _, "sketch" -> sketch _,
    "incr" -> incr _, "tree_bm25" -> treeBm25 _, "pq_dsir" -> pqDsir _,
    "dup_spans" -> dupSpans _, "corpus" -> corpus _,
    "corpus_nocoalesce" -> corpusNoCoalesce _,
    "corpus_stream" -> corpusStream _, "graph" -> graph _,
    "graph_pl" -> graphPl _, "rank" -> rank _, "stream" -> stream _,
    "range" -> range _)

  /** Cases that run only when named: gramhd's monolith row is expected to
    * fail (that failure is its datapoint). */
  val namedOnly = Set("gramhd")

  /** The registry entries `named` selects, in registry order. */
  def selected(named: Seq[String]): Seq[(String, Run => Unit)] = {
    val unknown = named.filterNot(cases.map(_._1).contains)
    require(unknown.isEmpty, s"unknown case(s) ${unknown.mkString(" ")}; " +
      s"cases: ${cases.map(_._1).mkString(" ")}")
    if (named.isEmpty) cases.filterNot(c => namedOnly(c._1))
    else cases.filter(c => named.contains(c._1))
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ScaleBench <outRoot> [case…]")
    val todo = selected(args.toSeq.tail)
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // measured BEFORE any Spark work so it reads the host, not the run
    val canaryMs = Bench.hostCanaryMs()
    val spark = Bench.buildSession(cores.toString)
    Files.createDirectories(Paths.get(args.head))
    val run = new Run(spark, args.head, cores, canaryMs)
    try todo.foreach { case (name, body) => run.caseName = name; body(run) }
    finally spark.stop()
  }

  // ---- cases ------------------------------------------------------------

  // sf0.1 row counts × {1, 3, 10}
  private val docSizes = Seq(5000L, 15000L, 50000L)
  private val embSizes = Seq(2000L, 6000L, 20000L)

  /** MinHash-LSH and PPJoin near-dup pairs and sign-bucket cosine pairs
    * over the full corpus at each size. */
  private def dedup(r: Run): Unit = {
    val docs = docSizes.map(r.docs)
    val embs = embSizes.map(r.emb(_))
    Dedup.lshVerifiedPairs(docs.head, "doc_id", "text", 8, 2, 0.8).count()
    Dedup.prefixFilteredPairs(docs.head, "doc_id", "lang", "text", 0.8).count()
    Similarity.cosinePairs(embs.head, "vec_id", "embedding", 0.9).count()
    docSizes.zip(docs).foreach { case (n, d) =>
      r.time(s"lsh_verified_$n") {
        Dedup.lshVerifiedPairs(d, "doc_id", "text", 8, 2, 0.8).count()
      }
      r.time(s"prefix_exact_$n") {
        Dedup.prefixFilteredPairs(d, "doc_id", "lang", "text", 0.8).count()
      }
    }
    embSizes.zip(embs).foreach { case (n, e) =>
      r.time(s"cosine_pairs_$n") {
        Similarity.cosinePairs(e, "vec_id", "embedding", 0.9).count()
      }
    }
  }

  /** Integer-exact Lloyd's k-means (the q_kmeans surface): per round one
    * narrow assignment scan + one k-row shuffle. */
  private def kmeans(r: Run): Unit = {
    val embs = embSizes.map(r.emb(_))
    KMeans.train(embs.head, "vec_id", "embedding", 4, 1) // warm the plan shapes
    embSizes.zip(embs).foreach { case (n, emb) =>
      // training is deterministic, so the timed run's centroids ARE the
      // trained artifact the census reads; its result is their checksum
      var trained = Array.empty[Array[Long]]
      r.time(s"kmeans_train_$n") {
        trained = KMeans.train(emb, "vec_id", "embedding", 4, 3)
        trained.map(_.sum).sum
      }
      r.time(s"kmeans_census_$n") {
        KMeans.census(emb, "vec_id", "embedding", trained)
          .agg(sum(col("n") + col("inertia") + col("chk"))).collect()(0).get(0)
      }
    }
  }

  /** The codegen'd assignment scan (NearestCell) vs the interpreted
    * HOF-fold reference on 210k rows × dim 64, k = 16 — big enough that
    * per-row work dominates the scheduling floor. */
  private def assign(r: Run): Unit = {
    val emb = r.emb(200000)
    val cents = KMeans.train(emb, "vec_id", "embedding", 16, 1)
    val q = KMeans.quantize(col("embedding"), 1000)
    def scan(cell: Column): Long =
      emb.select(cell.as("c")).agg(sum("c")).collect()(0).getLong(0)
    scan(KMeans.cellOf(cents, q)) // warm both plan shapes
    scan(KMeans.cellOfFold(cents, q))
    r.time("assign_codegen_210k")(scan(KMeans.cellOf(cents, q)))
    r.time("assign_fold_210k")(scan(KMeans.cellOfFold(cents, q)))
  }

  /** One-pass GramAgg vs the join-form Gram at dim 64 → 256, n = 6000:
    * the join re-keys dim×n rows on both sides of an id self-join, the
    * agg shuffles one (2+dim+dim²)-long buffer per map task. Timed through
    * the public API with one power round. */
  private def gram(r: Run): Unit = for (dim <- Seq(64, 256)) {
    val emb = r.emb(6000, dim)
    def run(viaJoin: Boolean): Unit = Pca.dominantDirection(emb, "vec_id",
      "embedding", iters = 1, gramViaJoin = viaJoin).collect()
    run(viaJoin = false); run(viaJoin = true) // warm both shapes
    r.time(s"gram_agg_d$dim")(run(viaJoin = false))
    r.time(s"gram_join_d$dim")(run(viaJoin = true))
  }

  /** High-dim Gram at dim 1024 → 4096, n = 2000: the monolithic GramAgg
    * buffer (~134 MB of longs per map task at dim 4096) vs the column-block
    * tiles (GramTileAgg, B = 128), which hold O(threshold · B²) resident. */
  private def gramhd(r: Run): Unit = for (dim <- Seq(1024, 2048, 4096)) {
    val emb = r.emb(2000, dim)
    def run(blk: Int): Unit = Pca.dominantDirection(emb, "vec_id",
      "embedding", iters = 1, gramBlock = blk).collect()
    run(128) // warm the tiled shape
    r.time(s"gramhd_tiled_d$dim")(run(128))
    // the monolith is EXPECTED to hit its per-task dim² wall: the failure
    // is the datapoint, recorded as the row's result. It runs last so the
    // tiled rows always land (a local-mode executor OOM can still take the
    // JVM down).
    try { run(0); r.time(s"gramhd_mono_d$dim")(run(0)) }
    catch {
      case e: Throwable => r.time(s"gramhd_mono_d$dim")(s"FAILED " +
        s"(${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)})")
    }
  }

  /** The mergeable-sketch rows vs their exact competitors at 200k → 2M
    * input rows: KMV overlap shuffles ≤ k longs per task where exact
    * distinct-overlap shuffles every distinct key; the quantile compactor
    * partial-aggregates O(cap·log) state where exact percentile sorts
    * whole groups. */
  private def sketch(r: Run): Unit = {
    val kmv = udaf(new KmvAgg(256), Encoders.scalaLong)
    val qsk = udaf(new QSketchAgg(128), Encoders.scalaDouble)
    val qmg = udaf(new QSketchMergeAgg(128), ExpressionEncoder[QSketch]())
    for (n <- Seq(200000L, 2000000L)) {
      // 4 duplicate observations per key; sides off the 3-/2-grids (the
      // q_kmv_overlap shape). The portable-md5 hash is written into the
      // layout so BOTH paths read the same parquet and the timed
      // difference is the aggregation shape alone
      val sides = r.frame(s"kmv_$n")(r.spark.range(4 * n)
        .select(pmod(xxhash64(col("id")), lit(n)).as("key"))
        .select(col("key"),
          expr("CAST(conv(substr(md5(CAST(key AS STRING)), 1, 12), " +
            "16, 10) AS BIGINT)").as("h"))
        .select(col("key"), col("h"), explode(array(
          when(pmod(col("key"), lit(3)) =!= 0, lit("a")),
          when(pmod(col("key"), lit(2)) =!= 0, lit("b")))).as("side"))
        .where(col("side").isNotNull))
      def kmvPath(): Unit =
        sides.groupBy("side").agg(kmv(col("h")).as("sk"))
          .select(explode(col("sk")).as("h"))
          .agg(kmv(col("h")).as("sku")).collect()
      def exactPath(): Unit =
        sides.groupBy().agg(
          countDistinct(when(col("side") === "a", col("key"))),
          countDistinct(when(col("side") === "b", col("key"))),
          countDistinct(col("key"))).collect()
      kmvPath(); exactPath() // warm both plan shapes
      r.time(s"kmv_sketch_$n")(kmvPath())
      r.time(s"kmv_exact_$n")(exactPath())

      // quantile rollup: 20 "days" of hash-uniform doubles → day sketches
      // → one merged sketch (the q_quantile_rollup shape) vs the exact
      // per-group percentile sort; the rollup's result is the merged
      // sketch's point count and error bound (the log-state claim)
      val vals = r.frame(s"qsk_$n")(r.spark.range(n).select(
        pmod(xxhash64(col("id"), lit(3)), lit(20)).as("day"),
        (pmod(xxhash64(col("id"), lit(5)), lit(1000000)).cast("double")
          / 1000.0).as("value")))
      def sketchPath(): String = {
        val sk = vals.groupBy("day").agg(qsk(col("value")).as("sk"))
          .agg(qmg(col("sk.items"), col("sk.weights"), col("sk.n"),
            col("sk.err")).as("sk"))
          .select(size(col("sk.items")), col("sk.err")).collect()(0)
        s"${sk.getInt(0)} points err=${sk.getLong(1)}"
      }
      def exactQ(): Unit =
        vals.groupBy("day")
          .agg(expr("percentile(value, 0.5D)"), expr("percentile(value, 0.95D)"))
          .collect()
      sketchPath(); exactQ() // warm both plan shapes
      r.time(s"qsketch_rollup_$n")(sketchPath())
      r.time(s"qsketch_exact_$n")(exactQ())
    }
  }

  /** Daily-increment near-dup: a FIXED 2.5k-doc delta probed against each
    * corpus size vs re-running the full near-dup over corpus ∪ delta, then
    * the persisted-index probe (index build is ingest-time work, untimed). */
  private def incr(r: Run): Unit = {
    val docs = docSizes.map(r.docs)
    // 1250 fresh docs (a hash stream not near anything) + 1250 near-dups
    // of base ids every corpus size shares
    val deltaDups = docs.head.filter(col("doc_id") < 1250)
      .select((col("doc_id") + 20000000L).as("doc_id"),
        concat(col("text"), lit(" zz9x")).as("text"), col("lang"),
        col("source"), col("n_chars"))
    val delta = zipfDocs(r.spark, 1250, 10000000L)
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("synb").as("source"), lit(0).as("n_chars"))
      .unionByName(deltaDups)
    Dedup.incrementalLshVerifiedPairs(docs.head, delta,
      "doc_id", "text", 8, 2, 0.8).count() // warm the delta plan shape
    docSizes.zip(docs).foreach { case (n, corpus) =>
      r.time(s"incr_delta_$n") {
        Dedup.incrementalLshVerifiedPairs(corpus, delta, "doc_id", "text",
          8, 2, 0.8).count()
      }
      r.time(s"full_rerun_$n") {
        Dedup.lshVerifiedPairs(corpus.unionByName(delta), "doc_id", "text",
          8, 2, 0.8).count()
      }
    }
    // the timed probe reads band + token-hash rows back from parquet, so a
    // corpus document's signatures are never recomputed per batch
    docSizes.zip(docs).foreach { case (n, corpus) =>
      Dedup.writeLshIndex(Dedup.lshBands(corpus, "doc_id", "text", 8, 2),
        Dedup.tokenHashIndex(corpus, "doc_id", "text"), r.path(s"ix_$n"),
        "overwrite")
    }
    def probe(n: Long): Long = Dedup.incrementalLshVerifiedPairs(
      r.spark.read.parquet(r.path(s"ix_$n/bands")),
      r.spark.read.parquet(r.path(s"ix_$n/tokens")),
      delta, "doc_id", "text", 8, 2, 0.8).count()
    probe(docSizes.head) // warm the indexed shape
    docSizes.foreach(n => r.time(s"incr_indexed_$n")(probe(n)))
  }

  /** Fixpoint tree depth (rounds grow with log depth, so near-flat in n
    * beyond per-round cost) and BM25 (a narrow two-scan pipeline). */
  private def treeBm25(r: Run): Unit = {
    val docs = docSizes.map(r.docs)
    def forest(d: DataFrame) =
      d.select(col("doc_id"), expr("doc_id div 2").as("parent"))
    val terms = Seq("w1", "w13", "w1337")
    Iterate.treeDepth(forest(docs.head), "doc_id", "parent").count() // warm
    TextAnalysis.bm25Scores(docs.head, "doc_id", "text", terms).count() // warm
    docSizes.zip(docs).foreach { case (n, d) =>
      r.time(s"tree_depth_$n") {
        Iterate.treeDepth(forest(d), "doc_id", "parent").count()
      }
      r.time(s"bm25_$n")(TextAnalysis.bm25Scores(d, "doc_id", "text", terms).count())
    }
  }

  /** PQ ANN (integer-code scan + TakeOrdered, then a shortlist-sized join)
    * and DSIR (bounded-table aggregates + a broadcast-scored token stream). */
  private def pqDsir(r: Run): Unit = {
    val embs = embSizes.map(r.emb(_))
    val docs = docSizes.map(r.docs)
    Pq.searchPq(embs.head, "vec_id", "embedding", 0L, 10).count() // warm
    Sampling.dsirWeights(docs.head, "doc_id", "text", "lang", "en", 128)
      .count() // warm
    embSizes.zip(embs).foreach { case (n, e) =>
      r.time(s"pq_search_$n")(Pq.searchPq(e, "vec_id", "embedding", 0L, 10).count())
    }
    docSizes.zip(docs).foreach { case (n, d) =>
      r.time(s"dsir_$n") {
        Sampling.dsirWeights(d, "doc_id", "text", "lang", "en", 128).count()
      }
    }
  }

  /** Duplicate spans: one window-hash shuffle + a per-document merge
    * window; the planted near-dups share long verbatim prefixes. */
  private def dupSpans(r: Run): Unit = {
    val docs = docSizes.map(r.docs)
    Dedup.duplicateSpans(docs.head, "doc_id", "text", 8).count() // warm
    docSizes.zip(docs).foreach { case (n, d) =>
      r.time(s"dup_spans_$n")(Dedup.duplicateSpans(d, "doc_id", "text", 8).count())
    }
  }

  /** The corpus-intake module with a fixed 500-doc eval set for the
    * decontaminate stage, drawn from a hash stream disjoint from every
    * corpus. */
  private def corpusGraph(spark: SparkSession) =
    CorpusModule.graph(minQuality = 0.0, maxRepetition = 1.0,
      benchmark = Some(zipfDocs(spark, 500, 900000000L)
        .withColumnRenamed("doc_id", "id")),
      langs = Seq("en"))

  /** A fixed 2.5k-doc ingest delta (a fresh hash stream). */
  private def corpusDelta(spark: SparkSession) =
    zipfDocs(spark, 2500, 800000000L).select(col("doc_id"), col("text"),
      lit("en").as("lang"), lit("synb").as("source"), lit(400).as("n_chars"))

  /** The corpus-intake MODULE end to end (normalize → lang gate →
    * decontaminate → scrub → dedupe shuffle → score → filter): batch
    * `Graph.run` per corpus size, and a fixed delta consumed through
    * `Graph.runIncremental` against an already-consumed backlog of each
    * size — the RunLog ledger must make that flat in backlog size. The
    * result is Σquality + Σrepetition of the kept docs. */
  private def corpus(r: Run): Unit = {
    val g = corpusGraph(r.spark)
    val delta = corpusDelta(r.spark)
    val docs = docSizes.map(r.docs)
    def settle(kept: DataFrame): Any =
      kept.agg(sum(col("quality")) + sum(col("repetition"))).collect()(0).get(0)
    def incremental(d: DataFrame, log: RunLog) = settle(g.runIncremental(
      Map("docs" -> Seq("backlog" -> d, "delta" -> delta)), log)("kept"))
    def consumed(d: DataFrame): RunLog = {
      val log = new RunLog(r.freshDir("corpus_log"))
      g.runIncremental(Map("docs" -> Seq("backlog" -> d)), log)
      log
    }
    settle(g.run(Map("docs" -> docs.head))("kept")) // warm both plan shapes
    incremental(docs.head, consumed(docs.head))
    docSizes.zip(docs).foreach { case (n, d) =>
      r.time(s"corpus_batch_$n")(settle(g.run(Map("docs" -> d))("kept")))
      // the backlog is consumed OUTSIDE the timed window (prior runs' work)
      val log = consumed(d)
      r.time(s"corpus_incr_$n")(incremental(d, log))
    }
  }

  /** [[corpus]] with AQE partition coalescing off: at these sizes the
    * dedupe shuffle is far below AQE's 64 MB advisory target, so
    * coalescing caps parallelism; off, the rows show the algorithmic
    * slope. */
  private def corpusNoCoalesce(r: Run): Unit = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val before = r.spark.conf.get(key)
    r.spark.conf.set(key, "false")
    try corpus(r) finally r.spark.conf.set(key, before)
  }

  /** Stream-fed module ingest (`Streams.corpusIngest`, the q_corpus_stream
    * surface): FIXED 2.5k-doc blocks, growing block COUNT, so growth of the
    * file source's seen-files map or the checkpoint logs would show as
    * rising wall per block; then the RESUME row, one fresh block landed
    * after N are consumed (same dirs), which must track the new block, not
    * the backlog. The sink writes the scored kept parquet, so the work is
    * forced inside the window; the result is the micro-batch count. */
  private def corpusStream(r: Run): Unit = {
    val g = corpusGraph(r.spark)
    val delta = corpusDelta(r.spark)
    def ingest(docs: DataFrame, dir: String, nb: Int): Long =
      Streams.corpusIngest(docs, g, s"$dir/src", s"$dir/kept", s"$dir/ckpt",
        s"$dir/log", nBlocks = nb)._2
    locally { // warm the streaming plan shape once
      val w = r.freshDir("corpus_stream_warm")
      val docs = r.docs(5000).limit(500).localCheckpoint(true)
      Streams.landBlocks(docs, s"$w/src", 2)
      ingest(docs, w, 2)
    }
    Seq(2, 8, 32).foreach { nb =>
      val docs = r.docs(nb * 2500L)
      val dir = r.freshDir(s"corpus_stream_n$nb")
      Streams.landBlocks(docs, s"$dir/src", nb) // landing: upstream reality
      r.time(s"corpus_stream_${nb}blocks") {
        val n = ingest(docs, dir, nb)
        require(n == nb, s"expected $nb micro-batches, got $n")
        n
      }
      delta.repartition(1).write.mode("overwrite").parquet(s"$dir/src/p$nb")
      r.time(s"corpus_stream_resume_after_$nb") {
        val n = ingest(docs, dir, nb)
        require(n == 1, s"expected 1 resumed micro-batch, got $n")
        n
      }
    }
  }

  private val graphSizes = Seq(300000L, 900000L, 3000000L)

  // the wedge census: one spelling of the dedup / degree / orientation
  // logic for the hub probe and the power-law stats
  private def undirected(edges: DataFrame) =
    edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b")).distinct()
  private def degrees(und: DataFrame) =
    und.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("dg"))
  private def naiveWedges(deg: DataFrame): Long =
    deg.agg(sum(expr("dg * (dg - 1) div 2"))).head().getLong(0)
  private def orderedWedges(und: DataFrame, deg: DataFrame): Long = {
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    und.join(deg.select(col("v").as("a"), col("dg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("dg").as("db")), "b")
      .select(when(aFirst, col("a")).otherwise(col("b")).as("u"))
      .groupBy("u").agg(count(lit(1)).as("od"))
      .agg(sum(expr("od * (od - 1) div 2"))).head().getLong(0)
  }

  /** pageRank, triangles and bfs on uniform graphs with a planted hub,
    * then the skew probe at 10×: candidate wedges with vs without the
    * degree ordering, which orients every hub edge TOWARD the hub so the
    * hub builds no wedges at all. */
  private def graph(r: Run): Unit = {
    val edges = graphSizes.map(m => r.frame(s"edges_$m")(uniformEdges(r.spark, m)))
    Components.pageRank(edges.head).count() // warm both plan shapes
    Components.triangles(edges.head).count()
    graphSizes.zip(edges).foreach { case (m, e) =>
      r.time(s"pagerank_$m")(Components.pageRank(e, iters = 5).count())
      r.time(s"triangles_$m")(Components.triangles(e).count())
      r.time(s"bfs_$m")(Components.bfsDistances(e, source = 1L).count())
    }
    r.time("wedges") {
      val und = undirected(edges.last)
      val deg = degrees(und)
      val hub = deg.where(col("v") === 0).select(col("dg")).head().getLong(0)
      s"naive=${naiveWedges(deg)} ordered=${orderedWedges(und, deg)} " +
        s"hub_degree=$hub"
    }
  }

  /** The iterative family on Zipf-degree graphs, with the degree-ordered
    * wedge count (triangles' candidate space) and the top raw degree per
    * size. */
  private def graphPl(r: Run): Unit = {
    val edges = graphSizes.map(m =>
      r.frame(s"pl_edges_$m")(powerLawEdges(r.spark, m)))
    Components.pageRank(edges.head).count() // warm the plan shapes
    Components.triangles(edges.head).count()
    Components.kCorePeel(edges.head, k = 10, rounds = 3).count()
    Components.labelPropagation(edges.head).count()
    graphSizes.zip(edges).foreach { case (m, e) =>
      r.time(s"pl_stats_$m") {
        val und = undirected(e)
        // top degree counts RAW endpoint draws (parallel edges included):
        // the skew statistic of the generator itself
        val top = e.select(explode(array(col("src"), col("dst"))).as("v"))
          .groupBy("v").agg(count(lit(1)).as("dg"))
          .orderBy(col("dg").desc).limit(1).head().getLong(1)
        s"wedges_ordered=${orderedWedges(und, degrees(und))} top_degree=$top"
      }
      r.time(s"pl_pagerank_$m")(Components.pageRank(e, iters = 5).count())
      r.time(s"pl_triangles_$m")(Components.triangles(e).count())
      r.time(s"pl_kcore_$m")(Components.kCorePeel(e, k = 10, rounds = 3).count())
      r.time(s"pl_communities_$m") {
        Components.labelPropagation(e, rounds = 3).count()
      }
    }
  }

  /** The two-pass distributed rank (`Rank.rowNumbered` + running sum, and
    * `Rank.ntiled`) vs the single-partition `row_number().over(orderBy)`
    * window, on entity frames with skew and ties. The result is Σ of the
    * rank (+ running sum) column. */
  private def rank(r: Run): Unit = {
    val sizes = Seq(1000000L, 3000000L, 10000000L)
    def rows(n: Long) = r.frame(s"rows_$n")(rankRows(r.spark, n))
    sizes.foreach(rows)
    val order = Seq(col("v").asc, col("ent").asc)
    def twoPass(n: Long) =
      Rank.rowNumbered(rows(n), order, "r", sumOf = Some("v"), cumCol = "cum")
    def onePartition(n: Long) = {
      val w = Window.orderBy(order: _*)
      rows(n).withColumn("r", row_number().over(w))
        .withColumn("cum", sum(col("v")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    }
    // an aggregate OF the computed column: a bare count() lets column
    // pruning delete the window/rank entirely
    def sumR(df: DataFrame): Long =
      df.agg(sum(col("r").cast("long"))).collect()(0).getLong(0)
    twoPass(sizes.head).agg(sum(col("r"))).collect() // warm both shapes
    onePartition(sizes.head).agg(sum(col("r"))).collect()
    val rankAndCum = (col("r") + col("cum")).as("r")
    sizes.foreach { n =>
      r.time(s"rank2p_$n")(sumR(twoPass(n).select(rankAndCum)))
      r.time(s"window_$n")(sumR(onePartition(n).select(rankAndCum)))
      r.time(s"ntile2p_$n") {
        sumR(Rank.ntiled(rows(n), order, 10, "t").select(col("t").as("r")))
      }
    }
  }

  /** The declared streaming pipeline (`Streams.incrementalEventStats`, the
    * q_stream_pipeline surface: 8 source files, 3 per trigger → 3
    * micro-batches, each writing its additive partial) vs the same
    * aggregate as one batch job, the floor the stream should stay a
    * bounded factor of. Both collect their 5-row aggregates. */
  private def stream(r: Run): Unit = {
    val sizes = Seq(2000000L, 6000000L, 20000000L)
    def src(n: Long) = r.frame(s"events_$n", parts = 8)(events(r.spark, n))
    def run(n: Long, dir: String): (DataFrame, Long) =
      Streams.incrementalEventStats(src(n), r.path(s"events_$n"),
        s"$dir/delta", s"$dir/ckpt", srcPrewritten = true)
    // land every source outside the timed windows (upstream reality)
    sizes.foreach(src)
    run(sizes.head, r.freshDir("stream_warm"))._1.collect() // warm once
    sizes.foreach { n =>
      val dir = r.freshDir(s"stream_$n")
      r.time(s"stream_$n") {
        val (state, batches) = run(n, dir)
        s"${state.collect().length} types, $batches batches"
      }
      r.time(s"batch_$n") {
        val b = src(n).groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * 1000).cast("long")).as("mv"),
            countDistinct(to_date(col("ts"))).as("days"))
          .collect().length
        s"$b types"
      }
    }
  }

  /** The range-join strategy decision (SURVEY §7.6): the keyless
    * point-in-interval join Spark plans as BroadcastNestedLoopJoin vs
    * `IntervalJoin.pointInInterval` (equi-join on bin ids), and the
    * q_join_range shape (equi key + residual) with vs without its
    * residual. The BNLJ size is capped so the baseline finishes. The
    * result is the pair count. */
  private def range(r: Run): Unit = {
    val spark = r.spark
    def bnlj(n: Long, m: Long) = points(spark, n).join(intervals(spark, m),
      col("pt") >= col("s") && col("pt") < col("e"))
    def binned(n: Long, m: Long) = IntervalJoin.pointInInterval(
      points(spark, n), "pt", intervals(spark, m), "s", "e", hour)
    def equiPair(n: Long, residual: Boolean): DataFrame = {
      val joined = keyed(spark, n, 2).join(keyed(spark, n, 3)
        .withColumnRenamed("k", "k2").withColumnRenamed("t", "t2"),
        col("k") === col("k2"))
      if (residual) joined.where(col("t") > col("t2")) else joined
    }
    binned(10000, 1000).count() // warm both plan shapes
    bnlj(2000, 1000).count()
    r.time("bnlj_100k_x_10k")(bnlj(100000, 10000).count())
    r.time("binned_100k_x_10k")(binned(100000, 10000).count())
    r.time("binned_1m_x_100k")(binned(1000000, 100000).count())
    r.time("binned_10m_x_1m")(binned(10000000, 1000000).count())
    r.time("equi_residual_6m")(equiPair(6000000, residual = true).count())
    r.time("equi_noresidual_6m")(equiPair(6000000, residual = false).count())
    r.time("equi_residual_60m")(equiPair(60000000, residual = true).count())
    r.time("equi_noresidual_60m")(equiPair(60000000, residual = false).count())
  }
}
