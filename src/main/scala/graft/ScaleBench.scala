package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, KMeans, Similarity}

/** Scaling-evidence run for the dedup/ANN flagships (round-3 verdict #4).
  *
  * The shipped testdata corpus has a 31-word vocabulary, which makes every
  * doc pair a near-candidate — fine for correctness, pathological for
  * scaling curves. This bench generates a REALISTIC corpus (Zipfian draws
  * over a 20k-word vocab, ~80 tokens/doc, 5% planted near-dups, 3
  * languages) and unit-norm-ish random embeddings (dim 64, 5% planted
  * near-dup vectors) at 1×/3×/10× the sf0.1 row counts, then times
  *
  *   - `Dedup.lshVerifiedPairs`   (MinHash-LSH bands → exact verify)
  *   - `Dedup.prefixFilteredPairs`(PPJoin exact, NO corpus bound here)
  *   - `Similarity.cosinePairs`   (sign-bucket-blocked embedding pairs)
  *
  * on the full corpus at each size. Observed wall-time exponents
  * (log-ratio between successive sizes) go into SCALING.md: sub-quadratic
  * observed growth is the evidence behind the 100 TB plan-shape claims.
  *
  * Corpora are written to /tmp (testdata is read-only) and re-read from
  * parquet so scans, not generation, are what's timed. All generation is
  * hash-deterministic — no rand(), stable across runs/partitionings.
  */
object ScaleBench {

  val vocab = 20000
  val tokensPerDoc = 80

  // token k of doc i: Zipf-ish via inverse transform floor(V^u) with a
  // hash-uniform u — pmf ∝ 1/rank, matching natural-language token skew
  def zipfToken(doc: org.apache.spark.sql.Column, k: org.apache.spark.sql.Column) = {
    val u = pmod(xxhash64(doc, k), lit(1000000)).cast("double") / 1000000.0
    concat(lit("w"), floor(pow(lit(vocab.toDouble), u)).cast("long").cast("string"))
  }

  /** Hash-deterministic Zipfian corpus at `n` base docs + 5% planted
    * near-dups — shared with [[CorpusScaleBench]] so every doc-shaped
    * scaling curve measures the SAME synthetic distribution. */
  def genDocs(spark: SparkSession, n: Long, path: String): Unit = {
    import spark.implicits._
    val base = spark.range(n).select(
      $"id".as("doc_id"),
      array_join(transform(sequence(lit(0), lit(tokensPerDoc - 1)),
        k => zipfToken($"id", k)), " ").as("text"),
      element_at(array(lit("en"), lit("de"), lit("fr")),
        (pmod(xxhash64($"id", lit(7)), lit(3)) + 1).cast("int")).as("lang"))
    // 5% near-dups: same tokens + 3 fresh ones appended (Jaccard ≈ 0.95
    // on the distinct sets), same language, ids offset by n
    val dups = base.filter(pmod($"doc_id", lit(20)) === 0)
      .select(($"doc_id" + n).as("doc_id"),
        concat($"text", lit(" zz1x zz2x zz3x")).as("text"), $"lang")
    base.unionByName(dups)
      .withColumn("source", lit("synb"))
      .withColumn("n_chars", length($"text"))
      .repartition(32)
      .write.mode("overwrite").parquet(path)
  }

  def main(args: Array[String]): Unit = {
    val spark = Bench.buildSession("32")
    import spark.implicits._

    val outRoot = args.headOption.getOrElse("/tmp/graft_scale")

    def genDocs(n: Long, path: String): Unit =
      ScaleBench.genDocs(spark, n, path)

    def genEmb(n: Long, path: String, dim: Int = 64): Unit = {
      val base = spark.range(n).select(
        $"id".as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)), j =>
          (pmod(xxhash64($"id", j), lit(2001)).cast("double") / 1000.0 - 1.0)
            .cast("float")).as("embedding"))
      val dups = base.filter(pmod($"vec_id", lit(20)) === 0)
        .select(($"vec_id" + n).as("vec_id"),
          transform($"embedding", x => x + lit(0.01f)).as("embedding"))
      base.unionByName(dups).repartition(32)
        .write.mode("overwrite").parquet(path)
    }

    def time(label: String)(df: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      val n = df.count()
      println(f"SCALE $label ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
    }

    // sf0.1 row counts × {1, 3, 10}
    val docSizes = Seq(5000L, 15000L, 50000L)
    val embSizes = Seq(2000L, 6000L, 20000L)

    // SPARK_GRAFT_SCALE_ONLY={kmeans|assign|gram} reruns ONE section
    // (with min-of-SPARK_GRAFT_SCALE_REPS windows) — the regenerability
    // knob for its SCALING.md row without paying the full doc suite
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
    val onlyKmeans = only.contains("kmeans")
    val scaleReps =
      sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "1").toInt.max(1)
    def winMin(f: => Unit): Double = (1 to scaleReps).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }.min

    if (only.isEmpty) docSizes.foreach(n => genDocs(n, s"$outRoot/docs_$n"))
    if (only.isEmpty || onlyKmeans)
      embSizes.foreach(n => genEmb(n, s"$outRoot/emb_$n"))
    println("SCALE generated")

    if (only.isEmpty) {

    // warmup all three plan shapes on the smallest corpus
    Dedup.lshVerifiedPairs(spark.read.parquet(s"$outRoot/docs_5000"),
      "doc_id", "text", 8, 2, 0.8).count()
    Dedup.prefixFilteredPairs(spark.read.parquet(s"$outRoot/docs_5000"),
      "doc_id", "lang", "text", 0.8).count()
    Similarity.cosinePairs(spark.read.parquet(s"$outRoot/emb_2000"),
      "vec_id", "embedding", 0.9).count()

    docSizes.foreach { n =>
      val docs = spark.read.parquet(s"$outRoot/docs_$n")
      time(s"lsh_verified_$n") {
        Dedup.lshVerifiedPairs(docs, "doc_id", "text", 8, 2, 0.8)
      }
      time(s"prefix_exact_$n") {
        Dedup.prefixFilteredPairs(docs, "doc_id", "lang", "text", 0.8)
      }
    }
    embSizes.foreach { n =>
      val emb = spark.read.parquet(s"$outRoot/emb_$n")
      time(s"cosine_pairs_$n") {
        Similarity.cosinePairs(emb, "vec_id", "embedding", 0.9)
      }
    }
    } // only.isEmpty (dedup/ANN flagship sections)

    if (only.isEmpty || onlyKmeans) {
    // round 11: integer-exact Lloyd's k-means (the q_kmeans surface) —
    // per round one narrow assignment scan + one k-row shuffle, centroids
    // bounded driver state, so the curve should track the scan. Min of
    // `scaleReps` windows: the ~1 s scheduling floor roams several-fold
    // under host contention, and a single window published a 13× outlier
    KMeans.train(spark.read.parquet(s"$outRoot/emb_2000"),
      "vec_id", "embedding", 4, 1) // warm the plan shapes
    embSizes.foreach { n =>
      val emb = spark.read.parquet(s"$outRoot/emb_$n")
      // training is deterministic, so the timed reps' centroids ARE the
      // trained artifact — no extra untimed pass needed for the census
      val runs = (1 to scaleReps).map { _ =>
        val t0 = System.nanoTime()
        val c = KMeans.train(emb, "vec_id", "embedding", 4, 3)
        ((System.nanoTime() - t0) / 1e9, c)
      }
      val trainSec = runs.map(_._1).min
      val trained = runs.head._2
      println(f"SCALE kmeans_train_$n $trainSec%.2f s (3 rounds, min of $scaleReps)")
      val censusSec = (1 to scaleReps).map { _ =>
        val t0 = System.nanoTime()
        // force through an aggregate of the COMPUTED columns AND collect
        // it: a bare count() lets pruning delete both the inner sum and
        // the inertia fold (memory rule; the other scale benches collect)
        KMeans.census(emb, "vec_id", "embedding", trained)
          .agg(sum($"n" + $"inertia" + $"chk")).collect()
        (System.nanoTime() - t0) / 1e9
      }.min
      println(f"SCALE kmeans_census_$n $censusSec%.2f s (min of $scaleReps)")
    }
    } // kmeans section

    // round 12: the codegen'd assignment scan (NearestCell, the hot
    // per-row cost of Lloyd's at 100 TB) vs the interpreted HOF-fold
    // reference — measured on a corpus big enough (210k rows × dim 64,
    // k = 16) that per-row work dominates the ~1 s scheduling floor the
    // kmeans_train rows sit on. SPARK_GRAFT_SCALE_ONLY=assign.
    if (only.isEmpty || only.contains("assign")) {
      genEmb(200000L, s"$outRoot/emb_200000")
      val emb = spark.read.parquet(s"$outRoot/emb_200000")
      val cents = KMeans.train(emb, "vec_id", "embedding", 16, 1)
      val q = KMeans.quantize(col("embedding"), 1000)
      def scan(cell: org.apache.spark.sql.Column): Unit =
        // force through an aggregate OF the computed column + collect
        // (bare count() would prune the assignment away — memory rule)
        emb.select(cell.as("c")).agg(sum("c")).collect()
      scan(KMeans.cellOf(cents, q)) // warm both plan shapes
      scan(KMeans.cellOfFold(cents, q))
      val fast = winMin(scan(KMeans.cellOf(cents, q)))
      val slow = winMin(scan(KMeans.cellOfFold(cents, q)))
      println(f"SCALE assign_codegen_210k $fast%.2f s (min of $scaleReps)")
      println(f"SCALE assign_fold_210k $slow%.2f s (min of $scaleReps)")
    }

    // round 12: one-pass GramAgg vs the join-form Gram, dim 64 → 256 at
    // fixed n — the dim-scaling evidence for q_embed_pc1's covariance
    // pass (the join form re-keys dim×n rows BOTH sides of an id
    // self-join; the agg's shuffle carries one (2+dim+dim²)-long buffer
    // per map task whatever n is). SPARK_GRAFT_SCALE_ONLY=gram.
    if (only.isEmpty || only.contains("gram")) {
      import graft.operators.Pca
      for (dim <- Seq(64, 256)) {
        genEmb(6000L, s"$outRoot/embd_$dim", dim)
        val emb = spark.read.parquet(s"$outRoot/embd_$dim")
        // timed through the public API (1 power round; the driver-side
        // BigInt algebra it adds is microseconds at these dims)
        def run(viaJoin: Boolean): Unit =
          Pca.dominantDirection(emb, "vec_id", "embedding", iters = 1,
            gramViaJoin = viaJoin).collect()
        run(viaJoin = false); run(viaJoin = true) // warm both shapes
        val agg = winMin(run(viaJoin = false))
        val join = winMin(run(viaJoin = true))
        println(f"SCALE gram_agg_d$dim $agg%.2f s (min of $scaleReps)")
        println(f"SCALE gram_join_d$dim $join%.2f s (min of $scaleReps)")
      }
    }

    // round 13: the HIGH-DIM Gram regime — GramAgg's monolithic
    // (2+dim+dim²)-long per-task buffer vs the column-block TILED outer
    // product (GramTileAgg, B = 128) at dim 1024 → 4096, n = 2000 fixed.
    // At dim 4096 the monolith is ~134 MB of longs PER MAP TASK (32
    // tasks ≈ 4.3 GB resident before any merge, plus a 134 MB single-row
    // final merge); the tiles hold O(fallback-threshold · B²) resident
    // and stream everything else. Timed through the public API with
    // iters = 1 (the driver BigInt algebra is shared by both paths).
    // SPARK_GRAFT_SCALE_ONLY=gramhd.
    if (only.contains("gramhd")) {
      import graft.operators.Pca
      val dims = sys.env.getOrElse("SPARK_GRAFT_GRAMHD_DIMS",
        "1024,2048,4096").split(",").map(_.trim.toInt).toSeq
      for (dim <- dims) {
        genEmb(2000L, s"$outRoot/embhd_$dim", dim)
        val emb = spark.read.parquet(s"$outRoot/embhd_$dim")
        def run(blk: Int): Unit =
          Pca.dominantDirection(emb, "vec_id", "embedding", iters = 1,
            gramBlock = blk).collect()
        run(128) // warm the tiled shape
        val tiled = winMin(run(128))
        println(f"SCALE gramhd_tiled_d$dim $tiled%.2f s (min of $scaleReps)")
        // the monolith is EXPECTED to hit its per-task dim² wall here —
        // a failure is the datapoint, not a bench bug, so record it
        // instead of dying (executor OOM in local mode can still take
        // the JVM down; run mono LAST so tiled numbers always land)
        try {
          run(0)
          val mono = winMin(run(0))
          println(f"SCALE gramhd_mono_d$dim $mono%.2f s (min of $scaleReps)")
        } catch {
          case e: Throwable =>
            println(s"SCALE gramhd_mono_d$dim FAILED " +
              s"(${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)})")
        }
      }
    }

    // round 12 second wave: the two mergeable-sketch rows vs their exact
    // competitors at 200k → 2M input rows (10×). KMV overlap shuffles
    // ≤ k longs per task where exact distinct-overlap shuffles every
    // distinct key; the quantile compactor partial-aggregates O(cap·log)
    // state where exact percentile shuffles and sorts whole groups.
    // SPARK_GRAFT_SCALE_ONLY=sketch.
    if (only.isEmpty || only.contains("sketch")) {
      import org.apache.spark.sql.functions.udaf
      val kmv = udaf(new graft.functions.KmvAgg(256),
        org.apache.spark.sql.Encoders.scalaLong)
      val qsk = udaf(new graft.functions.QSketchAgg(128),
        org.apache.spark.sql.Encoders.scalaDouble)
      val qmg = udaf(new graft.functions.QSketchMergeAgg(128),
        org.apache.spark.sql.catalyst.encoders
          .ExpressionEncoder[graft.functions.QSketch]())
      for (n <- Seq(200000L, 2000000L)) {
        // 4 duplicate observations per key; sides off the 3-/2-grids
        // (the q_kmv_overlap shape). The portable-md5 hash is written
        // into the layout so BOTH paths read the same parquet and the
        // timed difference is the aggregation shape alone
        spark.range(4 * n)
          .select(pmod(xxhash64($"id"), lit(n)).as("key"))
          .select($"key",
            expr("CAST(conv(substr(md5(CAST(key AS STRING)), 1, 12), " +
              "16, 10) AS BIGINT)").as("h"))
          .select($"key", $"h", explode(array(
            when(pmod($"key", lit(3)) =!= 0, lit("a")),
            when(pmod($"key", lit(2)) =!= 0, lit("b")))).as("side"))
          .where($"side".isNotNull)
          .repartition(32)
          .write.mode("overwrite").parquet(s"$outRoot/kmv_$n")
        val sides = spark.read.parquet(s"$outRoot/kmv_$n")
        def kmvPath(): Unit =
          sides.groupBy("side").agg(kmv($"h").as("sk"))
            .select(explode($"sk").as("h"))
            .agg(kmv($"h").as("sku")).collect()
        def exactPath(): Unit =
          sides.groupBy().agg(
            countDistinct(when($"side" === "a", $"key")),
            countDistinct(when($"side" === "b", $"key")),
            countDistinct($"key")).collect()
        kmvPath(); exactPath() // warm both plan shapes
        println(f"SCALE kmv_sketch_$n ${winMin(kmvPath())}%.2f s (min of $scaleReps)")
        println(f"SCALE kmv_exact_$n ${winMin(exactPath())}%.2f s (min of $scaleReps)")

        // quantile rollup: 20 "days" of hash-uniform doubles → day
        // sketches → one merged sketch (the q_quantile_rollup shape) vs
        // the exact per-group percentile sort
        spark.range(n).select(
            pmod(xxhash64($"id", lit(3)), lit(20)).as("day"),
            (pmod(xxhash64($"id", lit(5)), lit(1000000)).cast("double")
              / 1000.0).as("value"))
          .repartition(32)
          .write.mode("overwrite").parquet(s"$outRoot/qsk_$n")
        val vals = spark.read.parquet(s"$outRoot/qsk_$n")
        def sketchPath(): Unit =
          vals.groupBy("day").agg(qsk($"value").as("sk"))
            .agg(qmg($"sk.items", $"sk.weights", $"sk.n", $"sk.err")
              .as("sk"))
            .select(size($"sk.items"), $"sk.err").collect()
        def exactQ(): Unit =
          vals.groupBy("day")
            .agg(expr("percentile(value, 0.5D)"), expr("percentile(value, 0.95D)"))
            .collect()
        sketchPath(); exactQ() // warm both plan shapes
        println(f"SCALE qsketch_rollup_$n ${winMin(sketchPath())}%.2f s (min of $scaleReps)")
        println(f"SCALE qsketch_exact_$n ${winMin(exactQ())}%.2f s (min of $scaleReps)")
        // the log-state claim: merged-sketch points at this n
        val sk = vals.groupBy("day").agg(qsk($"value").as("sk"))
          .agg(qmg($"sk.items", $"sk.weights", $"sk.n", $"sk.err").as("sk"))
          .select(size($"sk.items").as("pts"), $"sk.err".as("err"))
          .collect()(0)
        println(s"SCALE qsketch_state_$n ${sk.getInt(0)} points err=${sk.getLong(1)}")
      }
    }

    if (only.isEmpty) {
    // incremental mode: a FIXED 2.5k-doc delta batch (half of them
    // near-dups of corpus docs, ids disjoint) probed against each corpus
    // size, vs re-running the full near-dup over corpus ∪ delta — the
    // daily-increment production question: what does a new batch cost as
    // the indexed corpus grows?
    val deltaDups = spark.read.parquet(s"$outRoot/docs_5000")
      .filter($"doc_id" < 1250) // base ids shared by every corpus size
      .select(($"doc_id" + 20000000L).as("doc_id"),
        concat($"text", lit(" zz9x")).as("text"), $"lang", $"source", $"n_chars")
    val deltaFresh = spark.range(1250).select(
      ($"id" + 10000000L).as("doc_id"), // fresh hash stream: not near anything
      array_join(transform(sequence(lit(0), lit(tokensPerDoc - 1)),
        k => zipfToken($"id" + 10000000L, k)), " ").as("text"),
      lit("en").as("lang"), lit("synb").as("source"), lit(0).as("n_chars"))
    val delta = deltaFresh.unionByName(deltaDups)
    Dedup.incrementalLshVerifiedPairs(
      spark.read.parquet(s"$outRoot/docs_5000"), delta,
      "doc_id", "text", 8, 2, 0.8).count() // warmup the delta plan shape
    docSizes.foreach { n =>
      val corpus = spark.read.parquet(s"$outRoot/docs_$n")
      time(s"incr_delta_$n") {
        Dedup.incrementalLshVerifiedPairs(corpus, delta, "doc_id", "text", 8, 2, 0.8)
      }
      time(s"full_rerun_$n") {
        Dedup.lshVerifiedPairs(corpus.unionByName(delta), "doc_id", "text", 8, 2, 0.8)
      }
    }

    // indexed incremental: the persisted-index production path. Index
    // build is ingest-time work and is NOT in the timed window — the
    // timed probe reads band + token-hash rows back from parquet, so a
    // corpus document's signatures are never recomputed per batch.
    docSizes.foreach { n =>
      val corpus = spark.read.parquet(s"$outRoot/docs_$n")
      Dedup.writeLshIndex(Dedup.lshBands(corpus, "doc_id", "text", 8, 2),
        Dedup.tokenHashIndex(corpus, "doc_id", "text"),
        s"$outRoot/ix_$n", "overwrite")
    }
    Dedup.incrementalLshVerifiedPairs(
      spark.read.parquet(s"$outRoot/ix_5000/bands"),
      spark.read.parquet(s"$outRoot/ix_5000/tokens"),
      delta, "doc_id", "text", 8, 2, 0.8).count() // warmup the indexed shape
    docSizes.foreach { n =>
      time(s"incr_indexed_$n") {
        Dedup.incrementalLshVerifiedPairs(
          spark.read.parquet(s"$outRoot/ix_$n/bands"),
          spark.read.parquet(s"$outRoot/ix_$n/tokens"),
          delta, "doc_id", "text", 8, 2, 0.8)
      }
    }

    // fixpoint tree depth: rounds grow with log(depth) = log(log-ish of n)
    // for the binary forest, so wall time should be near-flat in n beyond
    // per-round fixed cost; and BM25 is a narrow two-scan pipeline, so it
    // should scale like the scan
    import graft.operators.{Iterate, TextAnalysis}
    import org.apache.spark.sql.functions.{col, expr}
    Iterate.treeDepth(spark.read.parquet(s"$outRoot/docs_5000")
      .select(col("doc_id"), expr("doc_id div 2").as("parent")),
      "doc_id", "parent").count() // warmup
    TextAnalysis.bm25Scores(spark.read.parquet(s"$outRoot/docs_5000"),
      "doc_id", "text", Seq("w1", "w13", "w1337")).count() // warmup
    docSizes.foreach { n =>
      val docs = spark.read.parquet(s"$outRoot/docs_$n")
      time(s"tree_depth_$n") {
        Iterate.treeDepth(docs.select(col("doc_id"),
          expr("doc_id div 2").as("parent")), "doc_id", "parent")
      }
      time(s"bm25_$n") {
        TextAnalysis.bm25Scores(docs, "doc_id", "text", Seq("w1", "w13", "w1337"))
      }
    }

    // PQ ANN: stage 1 is an integer-code scan + TakeOrdered, stage 2 a
    // shortlist-sized join — wall time should track the scan; and DSIR is
    // two bounded-table aggregates + a broadcast-scored token stream, the
    // bigram-LM shape, so it should scale like the token explode
    import graft.operators.{Pq, Sampling}
    Pq.searchPq(spark.read.parquet(s"$outRoot/emb_2000"),
      "vec_id", "embedding", 0L, 10).count() // warmup
    Sampling.dsirWeights(spark.read.parquet(s"$outRoot/docs_5000"),
      "doc_id", "text", "lang", "en", 128).count() // warmup
    embSizes.foreach { n =>
      val emb = spark.read.parquet(s"$outRoot/emb_$n")
      time(s"pq_search_$n") {
        Pq.searchPq(emb, "vec_id", "embedding", 0L, 10)
      }
    }
    docSizes.foreach { n =>
      val docs = spark.read.parquet(s"$outRoot/docs_$n")
      time(s"dsir_$n") {
        Sampling.dsirWeights(docs, "doc_id", "text", "lang", "en", 128)
      }
    }

    // duplicate spans: one window-hash shuffle + a per-document merge
    // window — should scale like the window-hash word-count. The 5%
    // planted near-dups share long verbatim prefixes, so spans exist.
    Dedup.duplicateSpans(spark.read.parquet(s"$outRoot/docs_5000"),
      "doc_id", "text", 8).count() // warmup
    docSizes.foreach { n =>
      val docs = spark.read.parquet(s"$outRoot/docs_$n")
      time(s"dup_spans_$n") {
        Dedup.duplicateSpans(docs, "doc_id", "text", 8)
      }
    }
    } // only.isEmpty (doc-corpus sections: incremental, indexed,
      // tree-depth/bm25, pq/dsir, dup_spans)
    spark.stop()
  }
}
