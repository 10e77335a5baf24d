package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Structured-Streaming operators. The reference's "streams" are
  * micro-batched block streams (SURVEY §2.9); Structured Streaming's
  * incremental model is a strict superset, so each operator below works on
  * a `readStream` source and, where marked, on a batch frame with identical
  * semantics (the declared queries run the batch form; these run under
  * `writeStream` with state stores + watermark-bounded state).
  *
  * State at scale: every operator keys its state by a high-cardinality
  * column (user/event id), so state shards across executors with the
  * shuffle; watermarks bound state size — nothing accumulates unboundedly.
  */
object Streams {

  /** Tumbling-window counts/sums per event_type. Batch-equivalent:
    * date_trunc to the window length (q_tumble). */
  def tumblingStats(events: DataFrame, tsCol: String, duration: String,
      watermarkDelay: String): DataFrame =
    events.withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), duration), col("event_type"))
      .agg(count(lit(1)).as("c"), sum("value").as("s"))
      .select(col("window.start").as("ws"), col("event_type"), col("c"), col("s"))

  /** Native session windows with an inactivity gap, per user.
    * Batch-equivalent: the lag/break/running-sum form (q_sessionize). */
  def sessionStats(events: DataFrame, tsCol: String, gap: String,
      watermarkDelay: String): DataFrame =
    events.withWatermark(tsCol, watermarkDelay)
      .groupBy(session_window(col(tsCol), gap), col("user_id"))
      .agg(count(lit(1)).as("c"))
      .select(col("session_window.start").as("ss"),
        col("session_window.end").as("se"), col("user_id"), col("c"))

  /** Streaming exactly-one-per-key dedupe with watermark-bounded state —
    * the streaming form of the reference's dedupe pipe. Drops any row whose
    * key was already seen within the watermark horizon. */
  def dedupeWithinWatermark(events: DataFrame, tsCol: String,
      watermarkDelay: String, keys: Seq[String]): DataFrame =
    events.withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Watermarked stream-stream interval join: each left row joins right
    * rows with the same key whose time lies in [leftTs − lookback, leftTs]
    * — the streaming enrichment/as-of shape. Watermarks on BOTH sides plus
    * the time-range condition let Spark bound the join state: buffered
    * rows older than watermark + lookback are evicted, so state never
    * grows unboundedly (the property that makes this run forever on a
    * cluster). */
  def intervalJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, leftTs: String, rightTs: String,
      watermarkDelay: String, lookback: String): DataFrame = {
    // alias both sides so homogeneous streams (same key/ts column names on
    // both sides — the common case) don't hit AMBIGUOUS_REFERENCE
    val l = left.withWatermark(leftTs, watermarkDelay).alias("__l")
    val r = right.withWatermark(rightTs, watermarkDelay).alias("__r")
    l.join(r,
      col(s"__l.$leftKey") === col(s"__r.$rightKey") &&
        col(s"__r.$rightTs") <= col(s"__l.$leftTs") &&
        col(s"__r.$rightTs") >= col(s"__l.$leftTs") - expr(s"INTERVAL $lookback"))
  }

  final case class KeyedTotal(key: Long, count: Long, total: Double)

  /** Custom arbitrary state: per-key running (count, total) maintained with
    * `flatMapGroupsWithState` across micro-batches — the escape hatch for
    * stateful semantics the built-in windows can't express. State is one
    * tiny struct per key, sharded by the groupBy shuffle; at scale the
    * state store partitions with the key like any agg. Emits the updated
    * running value for every key touched in a batch. */
  def runningTotals[T](events: Dataset[T], key: T => Long,
      value: T => Double): Dataset[KeyedTotal] = {
    import events.sparkSession.implicits._
    events.groupByKey(key)
      .flatMapGroupsWithState[KeyedTotal, KeyedTotal](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (k: Long, rows: Iterator[T], state: GroupState[KeyedTotal]) =>
          val prev = state.getOption.getOrElse(KeyedTotal(k, 0L, 0.0))
          var c = prev.count
          var s = prev.total
          rows.foreach { r => c += 1; s += value(r) }
          val next = KeyedTotal(k, c, s)
          state.update(next)
          Iterator.single(next)
      }
  }

  /** [[runningTotals]] on the transformWithState API (Spark 4's successor
    * to (flat)mapGroupsWithState): typed per-key `ValueState` handles, a
    * TimeMode/TTL surface for state expiry, and the RocksDB state store as
    * the intended backend — the operator model that scales state past
    * executor memory. Semantics are identical to [[runningTotals]]; the
    * StreamsSpec pins the two equal on the same input. */
  final class RunningTotalProcessor[T](value: T => Double)
      extends StatefulProcessor[Long, T, KeyedTotal] {
    @transient private var state: ValueState[KeyedTotal] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[KeyedTotal]("running",
        Encoders.product[KeyedTotal], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[T],
        timerValues: TimerValues): Iterator[KeyedTotal] = {
      val prev = Option(state.get()).getOrElse(KeyedTotal(key, 0L, 0.0))
      var c = prev.count
      var s = prev.total
      rows.foreach { r => c += 1; s += value(r) }
      val next = KeyedTotal(key, c, s)
      state.update(next)
      Iterator.single(next)
    }
  }

  def runningTotalsV2[T](events: Dataset[T], key: T => Long,
      value: T => Double): Dataset[KeyedTotal] = {
    import events.sparkSession.implicits._
    events.groupByKey(key)
      .transformWithState(new RunningTotalProcessor[T](value),
        TimeMode.None(), OutputMode.Update())
  }

  /** `batch` marked as the one partition it is, when the source read the
    * micro-batch as a single partition: `coalesce(1)` plans as a
    * `CoalesceExec` whose `SinglePartition` satisfies every clustered
    * distribution, so a keyed window or aggregate over the batch plans no
    * exchange, and the trigger runs one stage. foreachBatch hands over a
    * `LogicalRDD` of the planned micro-batch, so this reads only the RDD's
    * partitions, which planning computed; a micro-batch Spark split (a
    * multi-split file, or a large block on several cores) is returned as
    * it is and keeps its exchange. */
  private def keepOnePartition(batch: DataFrame): DataFrame =
    batch.queryExecution.analyzed match {
      case r: LogicalRDD if r.rdd.getNumPartitions == 1 => batch.coalesce(1)
      case _ => batch
    }

  /** A COMPLETE declared streaming pipeline (readStream → foreachBatch →
    * materialized state), run to completion over a file-streamed copy of
    * the events table — the continuous-ingest shape a user deploys, not
    * just an operator: each micro-batch writes its partial
    * (event_type, day) aggregate into the delta log under its own
    * `batch=<id>` partition with overwrite — IDEMPOTENT under
    * foreachBatch's at-least-once replay contract (the log-structured
    * ADDITIVE-merge pattern: at 100 TB a batch writes O(delta) and never
    * rewrites accumulated state; compaction is a separate concern,
    * [[graft.sources.Layout.compact]]) — and the final state is the
    * delta log re-aggregated. Because every partial is additive and
    * commutative, the result is INDEPENDENT of how the files split into
    * micro-batches — exactly what makes a streaming pipeline's output
    * deterministic and batch-oracle-able (q_stream_pipeline).
    *
    * Returns the final per-event_type state plus the number of
    * micro-batches the run actually processed (so callers can assert the
    * pipeline really ran incrementally, StreamsSpec). */
  def incrementalEventStats(events: DataFrame, srcDir: String,
      deltaDir: String, ckptDir: String, srcFiles: Int = 8,
      filesPerTrigger: Int = 3, srcPrewritten: Boolean = false): (DataFrame, Long) = {
    val spark = events.sparkSession
    // srcPrewritten: the caller already materialized srcDir (e.g. a
    // bench timing only the streaming run) — skip the landing write
    if (!srcPrewritten)
      events.repartition(srcFiles).write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger).parquet(srcDir)
    val nBatches = new java.util.concurrent.atomic.AtomicLong(0L)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        nBatches.incrementAndGet()
        // keyed by batchId, mode=overwrite: foreachBatch is AT-LEAST-ONCE
        // (a crash between the data commit and the checkpoint commit
        // replays the batch) — a plain append would double-count the
        // replayed partial; overwriting batch=<id> makes the write
        // idempotent, and the Hive-style dir name lets the final read
        // discover `batch` as a partition column
        keepOnePartition(batch)
          .groupBy(col("event_type"), to_date(col("ts")).as("dy"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * 1000).cast("long")).as("mv"))
          .write.mode("overwrite").parquet(s"$deltaDir/batch=$batchId")
        ()
      }
      .option("checkpointLocation", ckptDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val state = spark.read.parquet(deltaDir)
      .groupBy("event_type")
      .agg(sum("n").as("n"), sum("mv").as("mv"),
        countDistinct("dy").as("days"))
    (state, nBatches.get())
  }

  /** STREAM-FED MODULE INGEST — the dags production shape where a
    * pipeline graph consumes a stream: every micro-batch becomes one
    * [[graft.engine.RunLog]] block and flows through
    * [[graft.engine.Graph.runIncremental]], whose consumed-block ledger
    * upgrades foreachBatch's at-least-once replay contract to
    * EXACTLY-ONCE at block grain: a replayed batchId is already in the
    * ledger, so `runIncremental` no-ops BEFORE the sink — the module's
    * pipeline, its durable writes, and its lineage rows all fire at most
    * once per block (and the per-block overwrite keeps the one genuine
    * crash window — sink committed, ledger not yet — idempotent too).
    * Compare [[incrementalEventStats]], which gets idempotence from
    * additive partials; this needs none — the ledger gates everything,
    * so even NON-commutative per-delta logic (the module's block-scoped
    * dedupe) streams correctly.
    *
    * The corpus lands as one file per doc_id residue class mod `nBlocks`
    * (default 2 — the declared row's two parities) and the stream reads
    * `maxFilesPerTrigger=1`, so each micro-batch is exactly one residue
    * block REGARDLESS of file-discovery order — block membership (hence
    * the module's per-delta dedupe scope, hence the kept union) is
    * deterministic and batch-oracle-able, the q_stream_pipeline
    * principle applied to a whole module. 100 TB posture: each trigger
    * costs its delta's scan + the module's per-delta plan; the backlog
    * is never re-read (ledger), and state never accumulates in the
    * stream itself (the module is stateless per block; durable state
    * lives in the kept parquet).
    *
    * Returns (kept union read back from the per-block sink dirs, number
    * of micro-batches processed). */
  private def allBlocksLanded(fs: org.apache.hadoop.fs.FileSystem,
      srcDir: String, nBlocks: Int): Boolean =
    (0 until nBlocks).forall(i =>
      fs.exists(new org.apache.hadoop.fs.Path(s"$srcDir/p$i")))

  /** Landing manifest file name: records {nBlocks, rows} at land time so
    * a later invocation over the same srcDir can detect a shape mismatch
    * (nBlocks changed between runs) instead of silently streaming a
    * landing with a different block structure. Content, not location,
    * is the contract — it lives inside srcDir so it travels with the
    * landing on any Hadoop filesystem. */
  private val manifestName = "_graft_landing.json"

  /** Land `docs` under `srcDir` as `nBlocks` one-file block dirs
    * (`p<i>` = residue class pmod(doc_id, nBlocks) — pmod, not `%`,
    * so negative ids land too) in ONE pass over the source: a
    * partitioned staging write hash-distributes the residue column
    * across `nBlocks` tasks, so every class lives wholly in one task
    * and `partitionBy` emits exactly one file per class (classes may
    * share a task; that still yields one file per directory), then the
    * class dirs rename (a metadata op on any Hadoop filesystem) to the
    * stable `p<i>` names the streaming contract expects. An empty
    * residue class still lands as one empty file so block count —
    * hence micro-batch count — stays `nBlocks` on any corpus. Partial
    * landings (crash mid-write) are wiped and redone: the caller
    * guarantees no stream has recorded the old names (corpusIngest
    * lands before its first trigger and refuses this path once a
    * checkpoint exists). All filesystem ops go through the Hadoop
    * `FileSystem` of `srcDir`, not java.io — the dirs need not be
    * local. */
  def landBlocks(docs: DataFrame, srcDir: String, nBlocks: Int): Unit = {
    require(nBlocks >= 1, s"nBlocks must be >= 1, got $nBlocks")
    val conf = docs.sparkSession.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(srcDir)
    val fs = root.getFileSystem(conf)
    def block(i: Int) = new org.apache.hadoop.fs.Path(root, s"p$i")
    (0 until nBlocks).foreach(i => fs.delete(block(i), true))
    val stage = new org.apache.hadoop.fs.Path(root, ".landing")
    docs.withColumn("par", pmod(col("doc_id"), lit(nBlocks)))
      .repartition(nBlocks, col("par"))
      .write.mode("overwrite").partitionBy("par").parquet(stage.toString)
    (0 until nBlocks).foreach { i =>
      val landed = new org.apache.hadoop.fs.Path(stage, s"par=$i")
      if (fs.exists(landed)) {
        require(fs.rename(landed, block(i)), s"rename $landed -> p$i failed")
      } else { // empty residue class: one empty file keeps block count
        docs.filter(lit(false)).repartition(1)
          .write.parquet(block(i).toString)
      }
    }
    fs.delete(stage, true)
    // Manifest last: its existence certifies a COMPLETE landing with
    // this shape. Row count comes from the landed parquet footers
    // (metadata-only count), not a second pass over docs.
    val rows = docs.sparkSession.read
      .parquet((0 until nBlocks).map(block(_).toString): _*).count()
    val mf = fs.create(new org.apache.hadoop.fs.Path(root, manifestName), true)
    try mf.write(s"""{"nBlocks":$nBlocks,"rows":$rows}"""
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally mf.close()
  }

  def corpusIngest(docs: DataFrame, graph: graft.engine.Graph,
      srcDir: String, keptDir: String, ckptDir: String,
      logDir: String, nBlocks: Int = 2): (DataFrame, Long) = {
    require(nBlocks >= 1, s"nBlocks must be >= 1, got $nBlocks")
    val spark = docs.sparkSession
    // land each block once and NEVER rewrite: a restart with the same
    // dirs must see the same part-file names the checkpoint's
    // file-source log recorded, or the resumed stream would treat a
    // rewrite's fresh UUID-named files as new data and re-ingest the
    // block under fresh batchIds that bypass the ledger. A COMPLETE
    // landing is therefore immutable; a PARTIAL one (crash mid-landing)
    // may only be rewritten if no stream ever started — landBlocks
    // checks all nBlocks dirs, and the require below rejects the one
    // inconsistent state it cannot repair: a checkpoint that exists
    // while the landing it recorded is incomplete (a foreign checkpoint
    // or an nBlocks changed between invocations over the same srcDir).
    // `docs` is consumed ONLY on the first invocation per srcDir: a
    // complete landing is immutable (see below), so a caller reusing
    // srcDir with different docs content streams the ORIGINAL landing —
    // that is the resume contract (ScaleBench's corpus_stream resume row
    // passes the same docs and relies on not re-landing). The landing manifest
    // written by landBlocks pins the landing's SHAPE: a reuse whose
    // nBlocks disagrees (or whose landing predates the manifest, i.e.
    // was written by something other than landBlocks) fails loudly here
    // instead of silently streaming a structure the ledger keys don't
    // mean. Content equality of a re-passed docs is deliberately NOT
    // re-checked — that would cost a full pass over docs per resume.
    val conf = spark.sparkContext.hadoopConfiguration
    val srcFs = new org.apache.hadoop.fs.Path(srcDir).getFileSystem(conf)
    // ckptDir may live on a DIFFERENT filesystem than srcDir (local
    // scratch checkpoint over an object-store landing, say) — resolving
    // it through srcFs would misresolve the exists() check (or throw
    // "Wrong FS") and could re-land files a stream has already seen
    val ckptPath = new org.apache.hadoop.fs.Path(ckptDir)
    val ckptExists = ckptPath.getFileSystem(conf).exists(ckptPath)
    if (!allBlocksLanded(srcFs, srcDir, nBlocks)) {
      require(!ckptExists,
        s"checkpoint $ckptDir exists but $srcDir has fewer than " +
          s"$nBlocks landed blocks — refusing to rewrite landing files " +
          "a recorded stream may have seen (was nBlocks changed?)")
      landBlocks(docs, srcDir, nBlocks)
    } else {
      val mfPath = new org.apache.hadoop.fs.Path(srcDir, manifestName)
      if (!srcFs.exists(mfPath)) {
        // a landing whose blocks completed but whose manifest never
        // landed (crash between the two writes, or a landing made before
        // manifests existed) is recoverable exactly when no stream has
        // recorded a checkpoint over it: re-land, same safety argument
        // as the partial-landing branch above (no recorded stream ⇒ no
        // seen-files map to betray). With a checkpoint the files are
        // immutable — refuse, and name the recovery step.
        require(!ckptExists,
          s"$srcDir has $nBlocks landed blocks but no landing manifest, " +
            s"and checkpoint $ckptDir already recorded a stream over it — " +
            "refusing to rewrite landing files that stream has seen. " +
            s"Recovery: delete both $srcDir and $ckptDir, then re-invoke " +
            "to land and stream afresh")
        landBlocks(docs, srcDir, nBlocks)
      } else {
      val in = srcFs.open(mfPath)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val landed = "\"nBlocks\":(\\d+)".r.findFirstMatchIn(txt)
        .map(_.group(1).toInt)
      require(landed.contains(nBlocks),
        s"$srcDir was landed with nBlocks=${landed.getOrElse("?")} but " +
          s"this invocation asked for $nBlocks — block structure (hence " +
          "ledger batch keys) would not match the recorded landing")
      }
    }
    val schema = spark.read.parquet(s"$srcDir/p0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$srcDir/p*")
    val log = new graft.engine.RunLog(logDir)
    val nBatches = new java.util.concurrent.atomic.AtomicLong(0L)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        nBatches.incrementAndGet()
        // not spread: a maxFilesPerTrigger=1 micro-batch scans one
        // file, but spreading it before the module chain won under 10%
        // in a 10-pair A/B at 4 cores (SCALING.md "Spread sites")
        // batchId is stable under replay — the ledger key that makes
        // the replayed batch a no-op
        graph.runIncremental(
          Map("docs" -> Seq(s"batch$batchId" -> keepOnePartition(batch))), log,
          sink = out => {
            out("kept").write.mode("overwrite")
              .parquet(s"$keptDir/batch=$batchId")
            ()
          })
        ()
      }
      .option("checkpointLocation", ckptDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    (spark.read.parquet(keptDir).drop("batch"), nBatches.get())
  }
}
