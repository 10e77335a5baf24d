package graft

/** Physical-plan assertions (SURVEY §4, §5.2.4): the scale-critical
  * properties — filter pushdown to parquet, broadcast of small dims,
  * top-k as TakeOrdered — must hold, not just correctness. */
class PlanSpec extends SparkSpec {

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf001).queryExecution.executedPlan.toString

  test("q_filter pushes predicates into the parquet scan") {
    val p = plan("q_filter")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("IsNotNull(l_shipdate)") || p.contains("GreaterThanOrEqual"), p)
  }

  test("q_sql_pipe: the |> WHERE stage reaches the parquet scan's PushedFilters") {
    // pipe syntax is grammar sugar — the pre-aggregation |> WHERE must
    // lower to the same pushed predicate the ANSI WHERE produces, through
    // the withViews temp-view boundary (views inline at analysis; a
    // filter stuck above the scan would read all of lineitem at 100 TB)
    val p = plan("q_sql_pipe")
    assert(p.contains("GreaterThan(l_quantity,10"), p)
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,10"), p)
  }

  test("q_join_bcast broadcasts the dimension side") {
    assert(plan("q_join_bcast").contains("BroadcastHashJoin"))
  }

  test("q_join_inner broadcasts the nation dim") {
    assert(plan("q_join_inner").contains("BroadcastHashJoin"))
  }

  test("q_sort_limit compiles to TakeOrderedAndProject (no global sort)") {
    assert(plan("q_sort_limit").contains("TakeOrderedAndProject"))
  }

  test("q_dpp_prune: the dim filter reaches the fact scan as a RUNTIME " +
      "partition filter (dynamic partition pruning)") {
    // the declared row's contract beyond values: the date-partitioned
    // fact scan must carry a dynamicpruning subquery fed by the filtered
    // dim — whole unselected date directories are never opened
    val p = plan("q_dpp_prune")
    assert(p.contains("dynamicpruning"), p)
    assert(p.contains("PartitionFilters"), p)
  }

  test("q_join_semi/anti decorrelate to semi/anti hash joins") {
    assert(plan("q_join_semi").contains("SemiJoin") || plan("q_join_semi").contains("Semi"))
    assert(plan("q_join_anti").contains("Anti"))
  }

  test("q_scan prunes columns: count reads no data columns") {
    val p = SparkEntry.queries("q_scan")(spark, sf001).queryExecution.optimizedPlan
    // count(*) over parquet must not require any column in the scan schema
    val scans = p.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
        if r.nodeName.contains("Relation") => r.output.map(_.name)
    }
    assert(scans.nonEmpty)
  }

  test("q_incremental pushes the watermark predicate into the events scan") {
    val p = plan("q_incremental")
    // the raw-nanos comparison must reach the parquet reader
    assert(p.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts,"), p)
  }

  test("date-partitioned events layout prunes partitions on the watermark") {
    import graft.sources.Tables
    val dir = java.nio.file.Files.createTempDirectory("graftpart").toString
    Tables.writeEventsPartitioned(spark, sf001, s"$dir/events")
    val since = Tables.eventsSincePartitioned(spark, s"$dir/events",
      java.time.LocalDate.parse("2024-01-15"))
    val p = since.queryExecution.executedPlan.toString
    // the predicate must be a PartitionFilter (file-listing pruning),
    // not a post-scan data filter
    assert(p.contains("PartitionFilters: [isnotnull(dt"), p)
    assert(p.contains("2024-01-15"), p)
    // and pruning actually bites: fewer files read than the full layout
    val all = spark.read.parquet(s"$dir/events")
    assert(since.count() > 0 && since.count() < all.count())
  }

  test("bucket-partitioned ANN layout prunes to the probe buckets' files") {
    import graft.operators.Similarity
    val dir = java.nio.file.Files.createTempDirectory("graftann").toString
    val emb = graft.sources.Tables.table(spark, sf001, "embeddings")
    val bits = 3
    Similarity.writeBucketedEmbeddings(emb, "embedding", bits, s"$dir/emb")
    val qv = emb.filter(org.apache.spark.sql.functions.col("vec_id") === 7L)
      .select("embedding").head().getSeq[Float](0).toArray
    val pruned = Similarity.annMultiProbePruned(spark, s"$dir/emb",
      "vec_id", "embedding", qv, 10, bits)
    val rows = pruned.collect()
    assert(rows.length == 10 && rows.head.getLong(0) == 7L) // finds itself at cos 1
    // the probe-bucket filter must be a PartitionFilter (file-listing
    // pruning), not a post-scan data filter
    val p = pruned.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [bk"), p)
    assert(!p.contains("PushedFilters: [In(bk"), p)
    // and pruning actually bites: the scan reads (1+bits)/2^bits of the
    // layout's files — 4 of the 8 bucket directories
    val scans = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    val filesRead = scans.map(_.metrics("numFiles").value).sum
    val filesTotal = graft.sources.Layout.dataFiles(s"$dir/emb")
    assert(filesRead > 0 && filesRead < filesTotal,
      s"filesRead=$filesRead filesTotal=$filesTotal")
    val bucketDirs = new java.io.File(s"$dir/emb").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("bk="))
    assert(bucketDirs == (1 << bits))
    // exactly the 1 + bits probe directories' files are read, no more
    val qbk = (0 until bits).map(i => if (qv(i) > 0) 1 << (bits - 1 - i) else 0).sum
    val probes = (qbk +: (0 until bits).map(i => qbk ^ (1 << i))).toSet
    val probeFiles = probes.toSeq
      .filter(b => new java.io.File(s"$dir/emb/bk=$b").isDirectory)
      .map(b => graft.sources.Layout.dataFiles(s"$dir/emb/bk=$b")).sum
    assert(filesRead == probeFiles,
      s"filesRead=$filesRead probeFiles=$probeFiles filesTotal=$filesTotal")
  }

  test("q_embed_neardup pair join is bucket-blocked, never cartesian") {
    val p = plan("q_embed_neardup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_agg_group uses partial (map-side) aggregation") {
    val p = plan("q_agg_group")
    assert(p.contains("partial_sum") || p.contains("partial"), p)
  }

  test("q_fuzzy pair join is prefix-blocked: equi-join, never nested-loop") {
    val p = plan("q_fuzzy")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_funnel is conditional aggregates only: no window sort, one agg chain") {
    val p = plan("q_funnel")
    assert(!p.contains("Window"), p)
    assert(p.contains("partial"), p) // map-side partial aggregation
  }

  test("q_gapfill is single-pass: one scan, no self-join of the daily agg") {
    val p = plan("q_gapfill")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1, p)
  }

  test("q_bm25 scores at scan speed: broadcast stats, corpus never shuffles") {
    val p = plan("q_bm25")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastExchange"), p) // the single-row stats
    assert(!p.contains("Exchange hashpartitioning"), p) // no corpus shuffle
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_bigram_lm broadcasts the model tables onto the bigram stream") {
    val p = plan("q_bigram_lm")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p) // scoring never shuffles the stream
  }

  test("q_impute broadcasts the tiny segment means, no few-partition window") {
    val p = plan("q_impute")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Window"), p)
  }

  test("q_topk_group partial-aggregates before the shuffle (no window sort)") {
    val p = plan("q_topk_group")
    assert(p.contains("partial_topkagg"), p) // map-side k-bounded buffers
    assert(!p.contains("Window"), p)
  }

  test("q_quota partial-aggregates before the shuffle (no few-partition window)") {
    val p = plan("q_quota")
    assert(p.contains("partial_topkagg"), p) // map-side k-bounded buffers
    assert(!p.contains("Window"), p)
  }

  test("q_kmv_overlap: sketches partial-aggregate; the raw sides never " +
      "pair-join (the overlap math touches only ≤k-long arrays)") {
    val p = plan("q_kmv_overlap")
    assert(p.contains("partial_kmvagg"), p) // map-side ≤k-long buffers
    // the only joins are the deliberate 1-row broadcast attaches; the
    // distinct sets themselves are never joined or shuffled row-by-row
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_kmv_retention: day-sketch build and weekly rollup both " +
      "partial-aggregate; pairing never goes cartesian") {
    val p = plan("q_kmv_retention")
    assert(p.contains("partial_kmvagg"), p) // map-side ≤k-long buffers
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_kmv_rolling: day sketches partial-aggregate; the window range " +
      "joins stay off cartesian (sketch-table-sized sides only)") {
    val p = plan("q_kmv_rolling")
    assert(p.contains("partial_kmvagg"), p) // map-side ≤k-long buffers
    // the anchor×day-sketch date-range joins are non-equi by design —
    // their broadcast side is one row per week (bounded metadata, never
    // event rows), so a nested-loop probe over it is the intended plan;
    // an unbounded cartesian is not
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_kmv_horizons: one sketch-table pass answers every horizon; " +
      "partial-aggregated, no cartesian") {
    val p = plan("q_kmv_horizons")
    assert(p.contains("partial_kmvagg"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_quantile_rolling: window merges partial-aggregate stored " +
      "sketches; range joins stay off cartesian") {
    val p = plan("q_quantile_rolling")
    assert(p.contains("partial_qsketchmergeagg"), p) // map-side compactors
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_quantile_rollup: the weekly rollup partial-aggregates stored " +
      "sketches; the rank-check join broadcasts the estimate frame") {
    // the day-sketch BUILD is a separate parquet write action since the
    // artifact was persisted (r13) — the returned frame starts from the
    // sketch table, so the pin is on the MERGE aggregate's map side
    val p = plan("q_quantile_rollup")
    assert(p.contains("partial_qsketchmergeagg"), p) // map-side compactors
    assert(p.contains("BroadcastHashJoin"), p) // estimates attach broadcast
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_neardup_lsh: candidate + verify joins never go cartesian") {
    val p = plan("q_neardup_lsh")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_neardup_incr_indexed probes parquet band rows, never cartesian") {
    val p = plan("q_neardup_incr_indexed")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the corpus side of the candidate probe must come from the persisted
    // index files, not be recomputed from documents: the plan reads the
    // bands/tokens scratch layout
    assert(p.contains("graft_lsh_index"), p)
  }

  test("q_ann_ivf_fixed probes via a broadcast of the single query row") {
    val p = plan("q_ann_ivf_fixed")
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_chunk stays narrow until the final top-k") {
    val p = plan("q_chunk")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange hashpartitioning"), p) // no shuffle at all
  }

  test("q_decontaminate broadcasts the bench shingle set, never cartesian") {
    val p = plan("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p) // bench side broadcast semi-join
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_repetition / q_pii_scrub stay narrow (scan-speed per-row work)") {
    Seq("q_repetition", "q_pii_scrub").foreach { q =>
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"), s"$q: $p")
      assert(!p.contains("Exchange hashpartitioning"), s"$q shuffles: $p")
    }
  }

  test("q_join_interval bins away the nested-loop: equi join only") {
    val p = plan("q_join_interval")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_stratified partial-aggregates (no few-partition window)") {
    val p = plan("q_stratified")
    assert(p.contains("partial_topkagg"), p) // map-side k-bounded buffers
    assert(!p.contains("Window"), p)
  }

  test("q_anomaly broadcasts the cohort moments onto a narrow scan") {
    val p = plan("q_anomaly")
    assert(p.contains("BroadcastHashJoin"), p)
    // the only hash shuffle is the tiny cohort-stats aggregate, never the
    // documents themselves: every hashpartitioning key set is the cohort
    assert(!p.contains("hashpartitioning(doc_id"), p)
  }

  test("q_heavy_hitters recounts candidates via broadcast, no vocab shuffle of raw rows") {
    val p = plan("q_heavy_hitters")
    assert(p.contains("BroadcastHashJoin"), p) // candidate semi-join side
    assert(p.contains("partial_misragriesagg"), p) // map-side sketch buffers
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_triangles / q_pagerank / q_bfs joins stay equi: never cartesian") {
    Seq("q_triangles", "q_pagerank", "q_bfs").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: $p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q: $p")
    }
  }

  test("q_drift broadcasts the one-row corpus counts; no category shuffle") {
    val p = plan("q_drift")
    assert(p.contains("BroadcastExchange"), p) // the corpus-totals row
    // exactly one hash shuffle: the per-source conditional aggregate
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("q_keywords windows per document, never a few-partition funnel") {
    val p = plan("q_keywords")
    // the only Window is partitioned by the document id — partition count
    // scales with the corpus, the opposite of the q_quota funnel shape
    assert(p.contains("Window"), p)
    assert(p.contains("windowspecdefinition(id"), p)
  }

  test("q_ann_pq shortlists with a TakeOrdered over the code scan") {
    val p = plan("q_ann_pq")
    // stage 1 is integer code distance + top-N: no global sort, and the
    // shortlist re-rank join must not be a shuffle of the corpus
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_cms partial-aggregates the sketch map-side (fixed-size buffers)") {
    val p = plan("q_cms")
    assert(p.contains("partial_cmsagg"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_dsir broadcasts the bucket model onto the token stream") {
    val p = plan("q_dsir")
    assert(p.contains("BroadcastHashJoin"), p) // lr table join
    assert(!p.contains("SortMergeJoin"), p) // the stream never shuffles to score
  }

  test("q_dup_spans merges per document, never a cartesian pair join") {
    val p = plan("q_dup_spans")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the span merge windows BY DOCUMENT — corpus-cardinality partitions
    assert(p.contains("windowspecdefinition(doc_id"), p)
  }

  test("q_dup_scrub joins on id only: no pair explosion, windows only by hash") {
    val p = plan("q_dup_scrub")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // rebuild is a narrow per-row transform: no per-document window (the
    // operator NAME appears in a raise_error literal, so match the
    // window-function node, not "Window")
    assert(!p.contains("windowspecdefinition(doc_id"), p)
    // the count and keeper are window aggregates over the hash partition
    // alone, unordered and unbounded
    val specs = "windowspecdefinition\\(([^)]*)".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(specs.nonEmpty, p)
    assert(specs.forall(_.matches("h#\\d+, specifiedwindowframe\\(RowFrame, " +
      "unboundedpreceding\\$\\(")), p)
  }

  test("q_winsorize broadcasts the quantile table; data never shuffles to clip") {
    val p = plan("q_winsorize")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Window"), p)
  }

  test("q_bloom_join probes a broadcast filter in-plan, then joins exactly") {
    val p = plan("q_bloom_join")
    // the probe is a narrow Filter over broadcast state (xxhash64 + bit
    // test) — the 1-row bloom attaches via a broadcast, never a shuffle...
    assert(p.contains("shiftright") && p.contains("xxhash64"), p)
    assert(!p.contains("CartesianProduct"), p)
    // ...and the final exactness join is a real semi equi join
    assert(p.contains("LeftSemi"), p)
  }

  test("q_bucket_join reads pre-bucketed tables: no exchange below the join") {
    val df = SparkEntry.queries("q_bucket_join")(spark, sf001)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"), p)
    if (p.contains("SortMergeJoin")) {
      // bucket metadata proves co-partitioning: the join's inputs come
      // straight from the bucketed file scans, no hash repartition
      val joinInputs = p.split("SortMergeJoin")(1)
      assert(!joinInputs.contains("Exchange hashpartitioning"), p)
      assert(p.contains("Bucketed: true"), p)
    }
  }

  test("q_ks windows over the bounded grid, not the event rows") {
    val p = plan("q_ks")
    // two partial-agg passes reduce the corpus to grid cells BEFORE the
    // running-sum window: the window's child must be an aggregate result
    assert(p.contains("Window"), p)
    val beforeWindow = p.substring(p.indexOf("Window"))
    assert(beforeWindow.contains("HashAggregate"), p)
  }

  test("q_winnow / q_containment pair work never goes cartesian") {
    Seq("q_winnow", "q_containment").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
    }
  }

  test("q_rrf fuses BOUNDED lists: top-k before ranks, no cartesian") {
    val p = plan("q_rrf")
    // each retriever ends in TakeOrderedAndProject (the top-50 bound);
    // the windows rank those 50-row frames, never the corpus
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_cooccur joins the pair domain through a broadcast topM vocab") {
    val p = plan("q_cooccur")
    assert(p.contains("BroadcastHashJoin"), p) // topM vocabulary attach
    assert(!p.contains("CartesianProduct"), p) // pair join is equi on doc
  }

  test("q_ndcg / q_jsd shuffle-join shapes stay non-cartesian") {
    Seq("q_ndcg", "q_jsd").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
  }

  test("q_next_event / q_attribution window by user, then tiny aggregates") {
    Seq("q_next_event", "q_attribution").foreach { q =>
      val p = plan(q)
      assert(p.contains("Window"), s"$q:\n$p")
      assert(p.contains("user_id"), s"$q:\n$p") // partitioned, not global
      assert(p.contains("HashAggregate"), s"$q:\n$p")
    }
  }

  test("q_kcore / q_degree_dist stay equi-join shaped: never cartesian") {
    // q_kcore's per-round LeftSemi joins live behind the round checkpoint
    // cuts (like q_pagerank's), so the final plan is asserted the same
    // negative way as the other iterative ops
    Seq("q_kcore", "q_degree_dist").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
    }
  }

  test("q_survivor / q_scd2 / q_token_budget window by their key, not globally") {
    Seq("q_survivor" -> "o_custkey", "q_scd2" -> "o_custkey",
        "q_token_budget" -> "source").foreach { case (q, key) =>
      val p = plan(q)
      assert(p.contains("Window"), s"$q:\n$p")
      assert(p.contains(key), s"$q:\n$p") // partitioned window
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
  }

  test("q_dataset_card / q_normalize are single-scan: no join anywhere") {
    Seq("q_dataset_card", "q_normalize").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Join"), s"$q:\n$p")
    }
  }

  test("q_auc windows over the bounded score grid, not corpus rows") {
    val p = plan("q_auc")
    // the corpus reduces to the quantized-score grid BEFORE the global
    // running-sum window (the q_ks shape): HashAggregate below Window
    assert(p.contains("Window"), p)
    assert(p.indexOf("HashAggregate") >= 0 &&
      p.indexOf("Window") < p.lastIndexOf("HashAggregate"), p)
    assert(!p.contains("Join"), p)
  }

  test("q_calibration / q_confusion are single-scan conditional aggregates") {
    Seq("q_calibration", "q_confusion").foreach { q =>
      val p = plan(q)
      assert(p.contains("HashAggregate"), s"$q:\n$p")
      assert(!p.contains("Join"), s"$q:\n$p")
    }
  }

  test("q_table_diff full-outer compares on the key equi-join, no cartesian") {
    val p = plan("q_table_diff")
    assert(p.contains("FullOuter"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_2hop seeds bound the wedge join; anti join removes directs") {
    val p = plan("q_2hop")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_pareto windows over the customer aggregate, total broadcast") {
    val p = plan("q_pareto")
    assert(p.contains("Window"), p)
    assert(p.contains("BroadcastExchange"), p) // the 1-row total
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_basket pair join is equi on the order key, supports broadcast") {
    val p = plan("q_basket")
    assert(p.contains("BroadcastHashJoin"), p) // part-support attach
    assert(!p.contains("CartesianProduct"), p) // basket join equi on o
  }

  test("q_gap_dist / q_funnel_deadline stay user-partitioned and equi") {
    Seq("q_gap_dist", "q_funnel_deadline").foreach { q =>
      val p = plan(q)
      assert(p.contains("user_id"), s"$q:\n$p")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
    }
  }

  test("q_active_users fans out user-days then joins the day spine equi") {
    val p = plan("q_active_users")
    assert(p.contains("Generate"), p) // the 0..6 window-day fan-out
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_seq_match builds paths by aggregate, not per-user windows") {
    val p = plan("q_seq_match")
    assert(!p.contains("Window"), p) // collect+sort agg, no corpus window
    assert(!p.contains("Join"), p)
  }

  test("q_churn / q_balance broadcast their 1-row stats frame") {
    Seq("q_churn", "q_balance").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastExchange"), s"$q:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
  }

  test("q_keep_best windows per cluster after an equi pair join") {
    val p = plan("q_keep_best")
    assert(p.contains("Window"), p)
    assert(p.contains("comp"), p) // partitioned by cluster, not global
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_join_nullsafe plans <=> as a true equi join, not a nested loop") {
    val p = plan("q_join_nullsafe")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
  }

  test("q_merge_upsert is one full outer hash/sort-merge join") {
    val p = plan("q_merge_upsert")
    assert(p.contains("FullOuter"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
  }

  test("q_inverted_index is one shuffle-by-term aggregate after explode") {
    val p = plan("q_inverted_index")
    assert(p.contains("Generate"), p) // posexplode
    assert(!p.contains("Join"), p)    // no self-join: postings in one agg
  }

  test("q_maxsim broadcasts the 8-row query sub-vector frame") {
    val p = plan("q_maxsim")
    assert(p.contains("BroadcastExchange"), p)
    assert(p.contains("graft_dot"), p) // codegen'd DotProduct in the plan
  }

  test("q_path_mining windows per user, never globally") {
    val p = plan("q_path_mining")
    assert(p.contains("Window"), p)
    assert(p.contains("user_id"), p)
    assert(!p.contains("Join"), p)
  }

  test("q_benford broadcasts its 1-row total") {
    val p = plan("q_benford")
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_skyline joins facts to the broadcast size grid; no pair join") {
    val p = plan("q_skyline")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // exactly one Join NODE (the grid attach — a pair-join skyline would
    // show 2+), counted on the optimized plan: substring-counting "join"
    // in the plan string would miscount on any alias containing it
    val joins = SparkEntry.queries("q_skyline")(spark, sf001)
      .queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
    assert(joins.size == 1, p)
  }

  test("q_assortativity broadcasts the degree table to the edge scan") {
    val p = plan("q_assortativity")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_quantile_bin classifies via broadcast cutpoints, no global sort") {
    val p = plan("q_quantile_bin")
    assert(p.contains("BroadcastExchange"), p)
    // the corpus itself must not pass through a Window (cutpoint agg only)
    assert(!p.contains("RunningWindowFunction"), p)
  }

  test("q_interval_coalesce windows per user, never globally") {
    val p = plan("q_interval_coalesce")
    assert(p.contains("Window"), p)
    assert(p.contains("user_id"), p)
    assert(!p.contains("Join"), p)
  }

  test("q_random_walk steps are equi joins: never cartesian") {
    val p = plan("q_random_walk")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_dup_payments pairs form by equi join only: never cartesian") {
    val p = plan("q_dup_payments")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_concurrency sweep line windows per user, never globally") {
    // inspect the Window NODE's partition spec — a plan-string contains()
    // on "user_id" is vacuously true for any plan reading events
    val p = SparkEntry.queries("q_concurrency")(spark, sf001)
      .queryExecution.optimizedPlan
    val w = p.collect {
      case n: org.apache.spark.sql.catalyst.plans.logical.Window => n }
    assert(w.nonEmpty, p.toString)
    w.foreach { win =>
      assert(win.partitionSpec.exists(_.references.map(_.name)
          .exists(_ == "user_id")),
        "window is not partitioned by user_id:\n" + p.toString)
    }
    assert(!p.toString.contains("Join"), p.toString)
  }

  test("q_exact_median's second pass probes one bin via broadcast") {
    val p = plan("q_exact_median")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_weighted_median / q_new_vs_returning never sort the facts " +
      "globally for selection") {
    // weighted median: the window runs on the checkpointed GRID (a
    // LogicalRDD after the lineage cut), never on the lineitem scan —
    // no file relation may appear under the Window
    val p = SparkEntry.queries("q_weighted_median")(spark, sf001)
      .queryExecution.optimizedPlan
    val w = p.collect {
      case n: org.apache.spark.sql.catalyst.plans.logical.Window => n }
    assert(w.nonEmpty, p.toString)
    val scansUnderWindow = w.head.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }
    assert(scansUnderWindow.isEmpty,
      "window reads the fact scan directly:\n" + p.toString)
    val p2 = plan("q_new_vs_returning")
    assert(!p2.contains("CartesianProduct"), p2)
  }

  test("q_gini ranks the per-customer aggregate, not the fact rows") {
    val p = SparkEntry.queries("q_gini")(spark, sf001).queryExecution.optimizedPlan
    // the Window must sit ABOVE the aggregate in the tree: facts
    // aggregate first, only ~customers rows are sorted
    val w = p.collect {
      case n: org.apache.spark.sql.catalyst.plans.logical.Window => n }
    assert(w.nonEmpty, p.toString)
    assert(w.head.collectFirst {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.nonEmpty, "window input is not an aggregate:\n" + p.toString)
  }

  test("q_linkpred emits pairs per pivot group: no self-join, no window, " +
      "top-k as TakeOrdered") {
    val p = plan("q_linkpred")
    // the pair stage is a groupBy + in-array combination emission — the
    // e×e self-join spelling (the oracle's) would shuffle lineitem twice
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_cluster_coeff: equi joins only, top-k as TakeOrdered") {
    val p = plan("q_cluster_coeff")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_did: entity aggregates with partials, no window, no cartesian " +
      "beyond the scalar attaches") {
    val p = plan("q_did")
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
  }

  test("q_price_index: one fact aggregate, equi join on part, no window") {
    val p = plan("q_price_index")
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
  }

  test("q_ann_recall: no cartesian beyond the 1-row scalar attach") {
    val p = plan("q_ann_recall")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_"), p)
  }

  test("q_growth_accounting windows per user; census aggregates partial") {
    val p = SparkEntry.queries("q_growth_accounting")(spark, sf001)
      .queryExecution.optimizedPlan
    val w = p.collect {
      case n: org.apache.spark.sql.catalyst.plans.logical.Window => n }
    assert(w.nonEmpty, p.toString)
    assert(w.forall(_.partitionSpec.nonEmpty), p.toString)
    val phys = plan("q_growth_accounting")
    assert(phys.contains("partial_"), phys)
    assert(!phys.contains("CartesianProduct"), phys)
  }

  test("q_stickiness: one distinct pass feeds both grids, no nested loop") {
    val p = plan("q_stickiness")
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_kappa: marginal join is label-sized, aggregates partial") {
    val p = plan("q_kappa")
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop is the 1-row scalar broadcast attach
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("q_cohort_ltv: cohort size attaches broadcast; window is " +
      "partitioned by cohort") {
    val p = plan("q_cohort_ltv")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_"), p)
  }

  test("q_embed_outlier broadcasts the centroid table; shuffles carry " +
      "dims, never pairs") {
    val p = plan("q_embed_outlier")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_zipf ranks the vocab on Rank and keeps exact moments partial") {
    val p = plan("q_zipf")
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the frequency-rank sort is Rank's range shuffle, not a global sort
    // into one task; the window sweep vouches for the pid windows
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_hhi aggregates facts with map-side partials; equi join only") {
    val p = plan("q_hhi")
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // no window anywhere: pure two-level hash aggregate
    assert(!p.contains("Window"), p)
  }

  test("q_spearman tie-group windows partition by the tied value") {
    val p = SparkEntry.queries("q_spearman")(spark, sf001)
      .queryExecution.optimizedPlan
    val w = p.collect {
      case n: org.apache.spark.sql.catalyst.plans.logical.Window => n }
    assert(w.nonEmpty, p.toString)
    // the average-rank attach must hash-distribute by x and by y — a
    // broadcast of the distinct-value table would be as large as the
    // frame at scale; Rank's internal pid windows are partitioned or
    // bounded-grid (the global sweep vouches for those)
    val parts = w.flatMap(_.partitionSpec)
      .flatMap(_.references.map(_.name)).toSet
    assert(parts.contains("x") && parts.contains("y"), p.toString)
    assert(!p.toString.contains("CartesianProduct"), p.toString)
  }

  test("q_bootstrap forms all replicates in one narrow pass: no join, " +
      "no window, partial aggregates") {
    val p = plan("q_bootstrap")
    assert(p.contains("partial_"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    // the ×B row expansion is a Generate (explode), not a cross join
    assert(p.contains("Generate"), p)
  }

  test("q_asof_nearest pairs directional passes by equi join, no range join") {
    val p = plan("q_asof_nearest")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("no declared query windows an entity-grain frame without a partition") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, Window => LWindow}
    // Every partition-less Window in every declared query's optimized plan
    // must be on a BOUNDED frame. Three passes of evidence:
    //  (a) Rank's offset windows group on the partition-id column first —
    //      ≤ shuffle-partitions rows by construction — structural, always
    //      allowed;
    //  (b) a window whose input subtree contains a GlobalLimit is bounded
    //      by the limit constant (the top-k-then-rank shape: q_rbo, q_rrf,
    //      q_vocab_coverage) — structural, always allowed;
    //  (c) everything else must sit in the reviewed allowlist below, one
    //      entry per query whose partition-less windows all run on frames
    //      bounded by the SCHEMA, not the data — documented per name.
    // A new query with an unpartitioned window over a per-entity frame
    // (customer/user/supplier/doc grain grows with the data) fails here
    // until it is rewritten on Rank / limit-then-rank or consciously
    // allow-listed.
    // Every entry names its CARDINALITY BOUND and why it is independent
    // of data VOLUME (a 100× corpus adds rows, not calendar days, not
    // schema domain values) — the review a new entry must pass. Grid
    // kinds: calendar grids (days/months/quarters of the observed span —
    // ≤3.7e3 days even at a decade; volume adds rows per day, not days),
    // schema-domain grids (a column's value domain fixed by the
    // generator/schema), and quantization grids (explicitly capped by a
    // rounding step). Anything that could exceed ~10⁴ rows at 100× must
    // ride the Rank pattern instead of entering this list.
    val boundedGrid: Set[String] = Set(
      "q_anomaly_days",    // calendar day grid, ≤3.7e3 at a decade
      "q_auc",             // 4-dp-quantized score grid: ≤10⁴ cells by the
                           // rounding step itself
      "q_changepoint",     // calendar day grid, ≤3.7e3 at a decade
      "q_cte",             // calendar month grid, 12·years (~80 rows)
      "q_cum_uniques",     // calendar day grid, ≤3.7e3 at a decade
      "q_exact_median",    // floor(o_totalprice/1e3) grid: order-value
                           // DOMAIN (~600 cells, set by the price schema,
                           // not row count); the bin sliver ranks via Rank
      "q_ks",              // pooled floor(value) grid: per-user-mean
                           // domain, bounded by the value schema (~100)
      "q_pop",             // calendar month grid, 12·years
      "q_rank_change",     // nation×year schema grid: 25 nations × 2 years
      "q_rolling_rev",     // calendar day grid, ≤3.7e3 at a decade
      "q_skyline",         // p_size schema domain, ≤50 cells
      "q_stl",             // calendar month grid, 12·years (~80 rows)
      "q_survival",        // lifetime-hour grid ≤ observed span in hours
                           // (~720 for the 30-day events window)
      "q_weighted_median") // l_quantity schema domain, 1..50 = 50 cells
    // the GlobalLimit must DOMINATE the window's input — reachable from
    // its child through row-preserving/reducing unary nodes only. A limit
    // merely somewhere in the subtree (e.g. on a join's broadcast dim
    // side) does NOT bound the window frame and must not pass.
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalLimit,
      LogicalPlan, Project, Repartition, RepartitionByExpression, Sort,
      SubqueryAlias}
    def limitDominates(p: LogicalPlan): Boolean = p match {
      case _: GlobalLimit => true
      case u @ (_: Project | _: Filter | _: Sort | _: SubqueryAlias |
          _: LocalLimit | _: Repartition | _: RepartitionByExpression |
          _: Aggregate | _: LWindow) =>
        limitDominates(u.children.head)
      case _ => false // joins, generators, unions: frame no longer bounded
    }
    def bounded(w: LWindow): Boolean =
      limitDominates(w.child) || w.child.collectFirst {
        case a: Aggregate if a.groupingExpressions.nonEmpty &&
          a.groupingExpressions.flatMap(_.references.map(_.name)).toSet ==
            Set("_gr_pid") => a
      }.nonEmpty
    val flagged = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val plan = SparkEntry.queries(name)(spark, sf001).queryExecution.optimizedPlan
      val bad = plan.collect {
        case w: LWindow if w.partitionSpec.isEmpty && !bounded(w) => w }
      if (bad.nonEmpty && !boundedGrid.contains(name)) Some(name) else None
    }
    assert(flagged.isEmpty,
      s"unreviewed partition-less windows in: ${flagged.mkString(", ")}")
  }

  test("no declared query leaves catalog residue (withViews contract)") {
    // Round-10 invariant: every sql-text query binds its tables through
    // Queries.withViews (query-scoped uuid view, dropped after the
    // eager analysis) and Node.sql drops its dep views the same way. A
    // query that registers a session-global view captures whichever SF
    // it last ran at — a later catalog resolver would silently bind
    // stale data. Build every declared query on a FRESH newSession()
    // (isolated, empty temp-view registry — the shared suite session
    // carries views from other tests, which would mask a leaker whose
    // name collides) and assert the catalog is empty AFTER EACH build,
    // so a violation names its query instead of the sweep's tail.
    val s = spark.newSession()
    val leakers = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      SparkEntry.queries(name)(s, sf001)
      // temp views only: the catalog also lists the PERSISTENT bucketed
      // tables (g6_*, spark-warehouse) that q_bucket_join depends on —
      // durable by design, not per-query residue
      val left = s.catalog.listTables().collect()
        .filter(_.isTemporary).map(_.name).toSet
      left.foreach(v => s.catalog.dropTempView(v)) // isolate per query
      if (left.nonEmpty) Some(s"$name -> ${left.mkString(",")}") else None
    }
    assert(leakers.isEmpty,
      s"queries leaving catalog residue: ${leakers.mkString("; ")}")
  }
}
