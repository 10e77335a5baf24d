package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

case class REv(rid: Long, rts: Timestamp, rkey: Long)

/** Structured-Streaming semantics under MemoryStream micro-batches:
  * watermark late-data drops, stateful dedupe, and session windows
  * (SURVEY §2.9 — unit-tested, not oracle-gated). */
class StreamsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int) = new Timestamp(3600_000L * 24 + minute * 60_000L)

  private def runBatches[T](name: String)(build: MemoryStream[Ev] => org.apache.spark.sql.DataFrame)(
      batches: Seq[Seq[Ev]]): Array[org.apache.spark.sql.Row] = {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Ev]
    val q = build(src).writeStream.format("memory")
      .queryName(name).outputMode("append").start()
    batches.foreach { b => src.addData(b); q.processAllAvailable() }
    q.stop()
    spark.table(name).collect()
  }

  test("tumbling agg with watermark drops late rows after the horizon") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Ev]
    val q = Streams.tumblingStats(src.toDF(), "ts", "10 minutes", "10 minutes")
      .writeStream.format("memory").queryName("tumb").outputMode("append").start()
    // batch 1: events at minute 5 and 12
    src.addData(Seq(Ev(1, ts(5), 1, "click", 1.0), Ev(2, ts(12), 1, "click", 1.0)))
    q.processAllAvailable()
    // batch 2: advance watermark far ahead (minute 60)
    src.addData(Seq(Ev(3, ts(60), 1, "click", 1.0)))
    q.processAllAvailable()
    // batch 3: a LATE event at minute 7 — watermark 50 > window end 10, dropped
    src.addData(Seq(Ev(4, ts(7), 1, "click", 99.0)))
    q.processAllAvailable()
    // batch 4: push watermark further so remaining windows close
    src.addData(Seq(Ev(5, ts(120), 1, "click", 1.0)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("tumb").collect()
      .map(r => r.getTimestamp(0).getTime -> r.getLong(2)).toMap
    // window [0,10) closed with ONLY event 1 (late event 4 dropped)
    assert(rows(ts(0).getTime) == 1L)
    assert(rows(ts(10).getTime) == 1L)
  }

  test("stream-static join enriches a stream against a batch dimension") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((7L, "gold"), (8L, "basic")).toDF("ukey", "tier")
    val src = MemoryStream[Ev]
    val q = src.toDF().join(dim, col("user_id") === col("ukey"), "left")
      .select(col("event_id"), col("tier"))
      .writeStream.format("memory").queryName("ssj").outputMode("append").start()
    src.addData(Seq(Ev(1, ts(1), 7, "a", 1.0), Ev(2, ts(2), 9, "b", 1.0)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ssj").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    assert(rows == Set((1L, Some("gold")), (2L, None)))
  }

  test("stream-stream interval join matches within the lookback window only") {
    implicit val sqlCtx = spark.sqlContext
    val lsrc = MemoryStream[Ev]
    val rsrc = MemoryStream[REv]
    val q = Streams.intervalJoin(lsrc.toDF(), rsrc.toDF(),
        "user_id", "rkey", "ts", "rts", "10 minutes", "10 minutes")
      .select(col("event_id"), col("rid"))
      .writeStream.format("memory").queryName("ivj").outputMode("append").start()
    lsrc.addData(Seq(Ev(1, ts(20), 7, "a", 1.0)))
    rsrc.addData(Seq(
      REv(100, ts(15), 7),  // same key, within [10, 20] -> match
      REv(101, ts(5), 7),   // too old
      REv(102, ts(25), 7),  // in the future of the left row
      REv(103, ts(15), 8))) // wrong key
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ivj").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows == Set((1L, 100L)))
  }

  test("interval join works when both streams share column names") {
    implicit val sqlCtx = spark.sqlContext
    val lsrc = MemoryStream[Ev]
    val rsrc = MemoryStream[Ev] // SAME schema on both sides
    val q = Streams.intervalJoin(lsrc.toDF(), rsrc.toDF(),
        "user_id", "user_id", "ts", "ts", "10 minutes", "10 minutes")
      .select(col("__l.event_id").as("le"), col("__r.event_id").as("re"))
      .writeStream.format("memory").queryName("ivj2").outputMode("append").start()
    lsrc.addData(Seq(Ev(1, ts(20), 7, "a", 1.0)))
    rsrc.addData(Seq(Ev(50, ts(15), 7, "b", 1.0), Ev(51, ts(2), 7, "b", 1.0)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ivj2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows == Set((1L, 50L)))
  }

  test("dropDuplicatesWithinWatermark emits one row per event_id") {
    val out = runBatches("dedup")(s =>
      Streams.dedupeWithinWatermark(s.toDF(), "ts", "30 minutes", Seq("event_id")))(
      Seq(
        Seq(Ev(1, ts(1), 1, "a", 1.0), Ev(1, ts(1), 1, "a", 1.0)),
        Seq(Ev(1, ts(2), 1, "a", 2.0), Ev(2, ts(2), 2, "b", 3.0))))
    assert(out.map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("session windows split on the inactivity gap") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Ev]
    val q = Streams.sessionStats(src.toDF(), "ts", "30 minutes", "10 minutes")
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    // user 1: minutes 0,10 (one session), then 100 (second session)
    src.addData(Seq(Ev(1, ts(0), 1, "a", 1.0), Ev(2, ts(10), 1, "a", 1.0),
      Ev(3, ts(100), 1, "a", 1.0)))
    q.processAllAvailable()
    src.addData(Seq(Ev(4, ts(500), 1, "a", 1.0))) // advance watermark, close sessions
    q.processAllAvailable()
    q.stop()
    val sessions = spark.table("sess").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getLong(3)))
    // first session has 2 events, second has 1
    assert(sessions.contains((ts(0).getTime, 2L)))
    assert(sessions.contains((ts(100).getTime, 1L)))
  }

  test("flatMapGroupsWithState running totals accumulate across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Ev]
    val q = Streams.runningTotals[Ev](src.toDS(), _.user_id, _.value)
      .writeStream.format("memory").queryName("rt").outputMode("append").start()
    src.addData(Seq(Ev(1, ts(0), 1, "a", 10.0), Ev(2, ts(1), 1, "a", 5.0),
      Ev(3, ts(1), 2, "a", 1.0)))
    q.processAllAvailable()
    src.addData(Seq(Ev(4, ts(2), 1, "a", 5.0)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("rt").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // batch 1 emits user1 (2, 15.0) and user2 (1, 1.0); batch 2 emits the
    // carried-forward user1 state (3, 20.0)
    assert(rows.contains((1L, 2L, 15.0)))
    assert(rows.contains((2L, 1L, 1.0)))
    assert(rows.contains((1L, 3L, 20.0)))
  }

  test("transformWithState (v2 API, RocksDB store) matches flatMapGroupsWithState") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val old = spark.conf.getOption(key)
    // transformWithState requires the RocksDB state store — the backend
    // that scales state past executor memory at 100 TB
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val src = MemoryStream[Ev]
      val q = Streams.runningTotalsV2[Ev](src.toDS(), _.user_id, _.value)
        .writeStream.format("memory").queryName("rt2").outputMode("update").start()
      src.addData(Seq(Ev(1, ts(0), 1, "a", 10.0), Ev(2, ts(1), 1, "a", 5.0),
        Ev(3, ts(1), 2, "a", 1.0)))
      q.processAllAvailable()
      src.addData(Seq(Ev(4, ts(2), 1, "a", 5.0)))
      q.processAllAvailable()
      q.stop()
      val rows = spark.table("rt2").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // same emissions as the flatMapGroupsWithState form on the same input
      assert(rows.contains((1L, 2L, 15.0)))
      assert(rows.contains((2L, 1L, 1.0)))
      assert(rows.contains((1L, 3L, 20.0)))
    } finally {
      old match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("foreachBatch + mergeAdditive: streaming incremental aggregate state") {
    // per-batch partial aggregates fold into a stored totals table — the
    // IVM shape: state stays |keys| rows, history is never rescanned
    import graft.operators.Incremental
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graftivm").toString
    val src = MemoryStream[Ev]
    val q = src.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
        val partial = batch.groupBy("user_id")
          .agg(count(lit(1)).as("c"), sum("value").as("s"))
        val acc = new java.io.File(s"$out/totals")
        val merged =
          if (!acc.exists()) partial
          else Incremental.mergeAdditive(
            spark.read.parquet(s"$out/totals"), partial,
            Seq("user_id"), Seq("c", "s"))
        // write-to-new-then-swap: the fold reads the old totals while
        // writing a NEW directory, then an atomic move replaces the old —
        // never overwrite the path a running plan is reading (a cache
        // eviction mid-overwrite would recompute from truncated input)
        val next = java.nio.file.Paths.get(s"$out/totals-$bid")
        merged.write.parquet(next.toString)
        val cur = java.nio.file.Paths.get(s"$out/totals")
        if (acc.exists()) {
          def rmRec(p: java.nio.file.Path): Unit = {
            if (java.nio.file.Files.isDirectory(p))
              java.nio.file.Files.list(p).forEach(rmRec(_))
            java.nio.file.Files.delete(p)
          }
          rmRec(cur)
        }
        java.nio.file.Files.move(next, cur,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        ()
      }
      .start()
    src.addData(Seq(Ev(1, ts(1), 1, "a", 1.0), Ev(2, ts(2), 2, "a", 2.0)))
    q.processAllAvailable()
    src.addData(Seq(Ev(3, ts(3), 1, "a", 9.0), Ev(4, ts(4), 3, "a", 4.0)))
    q.processAllAvailable()
    q.stop()
    val totals = spark.read.parquet(s"$out/totals")
      .collect().map(r => (r.getAs[Long]("user_id"),
        r.getAs[Long]("c"), r.getAs[Double]("s"))).toSet
    assert(totals === Set((1L, 2L, 10.0), (2L, 1L, 2.0), (3L, 1L, 4.0)))
  }

  test("foreachBatch pipeline: stream blocks -> keep-newest DataSet materialization") {
    // end-to-end dags pipeline on a stream: each micro-batch appends a
    // block; foreachBatch re-materializes the deduped latest view
    import graft.operators.Incremental
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graftds").toString
    val src = MemoryStream[Ev]
    val blocks = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.DataFrame]()
    val q = src.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        blocks += batch.persist()
        Incremental.asDataset(blocks.toSeq, Seq("user_id"),
            Seq(col("ts").desc, col("event_id").desc))
          .write.mode("overwrite").parquet(s"$out/latest")
      }
      .start()
    src.addData(Seq(Ev(1, ts(1), 1, "a", 1.0), Ev(2, ts(2), 2, "a", 2.0)))
    q.processAllAvailable()
    src.addData(Seq(Ev(3, ts(3), 1, "a", 9.0)))  // newer row for user 1
    q.processAllAvailable()
    q.stop()
    val latest = spark.read.parquet(s"$out/latest")
      .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[Double]("value")).toMap
    assert(latest == Map(1L -> 9.0, 2L -> 2.0))
  }

  test("file-source block stream: new parquet blocks are consumed incrementally") {
    // the dags DataBlockStream model: each block = one new file in a dir
    val dir = java.nio.file.Files.createTempDirectory("graftblocks").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graftckpt").toString
    val schema = Seq((1L, 10.0)).toDF("id", "v").schema
    Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")
      .write.parquet(s"$dir/block1.parquet")
    val stream = spark.readStream.schema(schema).parquet(s"$dir/*.parquet")
      .groupBy().agg(sum("v").as("s"))
    val q = stream.writeStream.format("memory").queryName("blocks")
      .outputMode("complete").option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    val first = spark.table("blocks").collect().head.getDouble(0)
    assert(first == 30.0)
    Seq((3L, 5.0)).toDF("id", "v").write.parquet(s"$dir/block2.parquet")
    q.processAllAvailable()
    q.stop()
    val second = spark.table("blocks").collect().head.getDouble(0)
    assert(second == 35.0) // block 2 consumed incrementally, block 1 not reread
  }

  test("declared tumble/slide/sessionize match batch when events arrive as a file stream") {
    // streaming parity on the REAL events table (round-4 verdict #8, not
    // a MemoryStream toy): the table is staged as 4 block files, consumed
    // as a file stream one file per micro-batch, and foreachBatch lands
    // each block into an accumulating events layout; the DECLARED batch
    // queries then run unchanged over the accumulated layout and must
    // equal their run over the original table. This is the production
    // micro-batch shape: stream in, land blocks, batch semantics hold.
    import graft.SparkEntry
    val dir = java.nio.file.Files.createTempDirectory("graftevblocks").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graftevckpt").toString
    val acc = java.nio.file.Files.createTempDirectory("graftevacc").toString
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // raw file: ts arrives as int64 nanos; blocks keep that physical type
    // so the accumulated layout reads through Tables.table unchanged
    val raw = spark.read.parquet(s"$sf001/events.parquet")
    (0 until 4).foreach { i =>
      raw.filter(pmod(col("event_id"), lit(4)) === i).coalesce(1)
        .write.parquet(s"$dir/blk$i.parquet")
    }
    var batches = 0
    val q = spark.readStream.schema(raw.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/*.parquet")
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batches += 1
        batch.write.mode("append").parquet(s"$acc/events.parquet")
        ()
      }.start()
    q.processAllAvailable()
    q.stop()
    assert(batches >= 4, s"expected one micro-batch per block file, got $batches")
    // doubles compared with tolerance: the accumulated layout has a
    // different file split, so float sums may differ in the last bit
    def close(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Double, y: Double) => math.abs(x - y) < 1e-6
      case (x, y) => x == y
    }
    for (name <- Seq("q_tumble", "q_slide", "q_sessionize")) {
      val streamed = SparkEntry.queries(name)(spark, acc).collect()
      val batch = SparkEntry.queries(name)(spark, sf001).collect()
      assert(streamed.length == batch.length, s"$name row count")
      streamed.zip(batch).foreach { case (s, b) =>
        assert(s.length == b.length &&
          (0 until s.length).forall(i => close(s.get(i), b.get(i))),
          s"$name row mismatch: $s vs $b")
      }
    }
  }

  test("streaming sessionization agrees with the batch operator on the same data") {
    val evs = Seq(Ev(1, ts(0), 1, "a", 1.0), Ev(2, ts(10), 1, "a", 1.0),
      Ev(3, ts(100), 1, "a", 1.0), Ev(4, ts(110), 2, "a", 1.0))
    // batch: native session_window in a batch groupBy
    val batch = evs.toDF()
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("c"))
      .select(col("session_window.start").as("ss"), col("user_id"), col("c"))
      .collect().map(r => (r.getTimestamp(0).getTime, r.getLong(1), r.getLong(2))).toSet
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Ev]
    val q = Streams.sessionStats(src.toDF(), "ts", "30 minutes", "0 seconds")
      .writeStream.format("memory").queryName("sess2").outputMode("append").start()
    src.addData(evs)
    q.processAllAvailable()
    src.addData(Seq(Ev(9, ts(999), 9, "z", 0.0)))
    q.processAllAvailable()
    q.stop()
    val stream = spark.table("sess2").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getLong(2), r.getLong(3))).toSet
    assert(batch.subsetOf(stream + ((ts(999).getTime, 9L, 1L))) )
  }

  test("streaming index maintenance: per-batch band/token appends == full recompute") {
    // the ingest side of the persisted-index incremental dedup: each
    // micro-batch of documents appends its LSH band rows + token-hash
    // arrays to the index layout; a later delta probed against the
    // STREAMED index must equal the in-memory form that derives the whole
    // corpus in-plan. Closes the loop between Streams and
    // Dedup.incrementalLshVerifiedPairs' production path.
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graftstreamidx").toString
    def text(i: Long) = s"alpha bravo charlie delta echo tok$i tok${i + 1} " +
      s"tok${i + 2} tok${i + 3} tok${i + 4} tok${i + 5} tok${i + 6}"
    val corpus = (0L until 40L).map(i => (i, text(i)))
    val src = MemoryStream[(Long, String)]
    val q = src.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Dedup.lshBands(batch, "doc_id", "text", 8, 2)
          .write.mode("append").parquet(s"$dir/bands")
        Dedup.tokenHashIndex(batch, "doc_id", "text")
          .write.mode("append").parquet(s"$dir/tokens")
        ()
      }
      .start()
    corpus.grouped(10).foreach { b => src.addData(b); q.processAllAvailable() }
    q.stop()
    // delta: near-dups of docs 3 and 17 (one token appended) + one fresh
    val delta = Seq((103L, text(3) + " zzz"), (117L, text(17) + " zzz"),
      (200L, "totally different words entirely unrelated content here"))
      .toDF("doc_id", "text")
    val viaIndex = Dedup.incrementalLshVerifiedPairs(
      spark.read.parquet(s"$dir/bands"), spark.read.parquet(s"$dir/tokens"),
      delta, "doc_id", "text", 8, 2, 0.7)
      .select("da", "db").as[(Long, Long)].collect().toSet
    val inMem = Dedup.incrementalLshVerifiedPairs(
      corpus.toDF("doc_id", "text"), delta, "doc_id", "text", 8, 2, 0.7)
      .select("da", "db").as[(Long, Long)].collect().toSet
    assert(viaIndex === inMem)
    assert(viaIndex.exists(p => p._1 == 3L || p._2 == 103L),
      s"expected the planted near-dup pair, got $viaIndex")
  }

  test("streaming sketch upkeep: per-batch CMS sums equal the batch sketch") {
    // frequency monitoring over a stream: fold each micro-batch into a
    // CMS and merge grids additively — CmsAgg.merge is elementwise sum,
    // so streamed upkeep is exact (same invariant as the band index)
    import graft.functions.CmsAgg
    implicit val sqlCtx = spark.sqlContext
    val agg = udaf(new CmsAgg(3, 32), org.apache.spark.sql.Encoders.STRING)
    val state = new java.util.concurrent.atomic.AtomicReference[Array[Long]](
      Array.fill(3 * 32)(0L))
    val src = MemoryStream[String]
    val q = src.toDF().toDF("w").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val sk = batch.agg(agg(col("w"))).head.getSeq[Long](0).toArray
        state.updateAndGet(cur => cur.zip(sk).map { case (a, b) => a + b })
        ()
      }.start()
    src.addData("scan", "merge", "scan"); q.processAllAvailable()
    src.addData("key", "scan"); q.processAllAvailable()
    q.stop()
    val whole = Seq("scan", "merge", "scan", "key", "scan").toDF("w")
      .agg(agg(col("w"))).head.getSeq[Long](0).toArray
    assert(state.get.toSeq == whole.toSeq)
    assert(whole.sum == 3L * 5) // every arrival lands d times
  }

  test("q_stream_pipeline's pipeline runs MULTIPLE micro-batches and " +
      "lands exactly on the batch aggregate") {
    import graft.sources.Tables
    val ev = Tables.table(spark, sf001, "events")
    val dir = java.nio.file.Files.createTempDirectory("graftstream").toString
    val (state, nBatches) = Streams.incrementalEventStats(ev,
      s"$dir/src", s"$dir/delta", s"$dir/ckpt")
    // the declared row is only evidence of STREAMING execution if the
    // run really split into several incremental triggers
    assert(nBatches >= 2, s"pipeline collapsed into $nBatches batch(es)")
    val got = state.orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val want = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 1000).cast("long")).as("mv"),
        countDistinct(to_date(col("ts"))).as("days"))
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.sameElements(want))
  }

  test("corpusIngest: stream-fed module == per-parity module runs, " +
      "exactly-once at block grain") {
    import graft.sources.Tables
    import graft.modules.CorpusModule
    val docs = Tables.table(spark, sf001, "documents")
    val dir = java.nio.file.Files.createTempDirectory("graftcstream").toString
    val g = CorpusModule.graph(minQuality = 0.5, maxRepetition = 0.9)
    val (kept, nBatches) = Streams.corpusIngest(docs, g,
      s"$dir/src", s"$dir/kept", s"$dir/ckpt", s"$dir/log")
    // one parity file per trigger: the stream must have split in two
    assert(nBatches === 2L, s"expected 2 micro-batches, got $nBatches")
    val got = kept.select("id").as[Long].collect().sorted
    val want = (0 to 1).flatMap { par =>
      CorpusModule.graph(minQuality = 0.5, maxRepetition = 0.9)
        .run(Map("docs" -> docs.filter(col("doc_id") % 2 === par)))("kept")
        .select("id").as[Long].collect()
    }.sorted.toArray
    assert(got.sameElements(want))
    // EXACTLY-ONCE at block grain: re-offering a consumed batchId to the
    // same ledger no-ops BEFORE plan wiring or the sink — the streaming
    // replay path (crash after checkpoint-uncommitted foreachBatch)
    val log = new graft.engine.RunLog(s"$dir/log")
    val replay = g.runIncremental(
      Map("docs" -> Seq("batch0" -> docs.limit(1))), log)
    assert(replay.isEmpty)
    // RESTART path: re-invoking with the SAME dirs must resume the
    // checkpoint against the STABLE landing files (never rewritten) —
    // zero new batches, kept unchanged. A landing rewrite would mint
    // new part-file names the file-source log has not seen and
    // re-ingest both parities under fresh ledger keys.
    val (kept2, nBatches2) = Streams.corpusIngest(docs, g,
      s"$dir/src", s"$dir/kept", s"$dir/ckpt", s"$dir/log")
    assert(nBatches2 === 0L, s"restart re-ingested $nBatches2 batches")
    assert(kept2.select("id").as[Long].collect().sorted.sameElements(got))
  }

  test("corpusIngest: both crash-replay windows are exactly-once — " +
      "checkpoint-commit lost (ledger gates), ledger-entry lost " +
      "(per-block overwrite is idempotent)") {
    import graft.sources.Tables
    import graft.modules.CorpusModule
    val docs = Tables.table(spark, sf001, "documents")
    val dir = java.nio.file.Files.createTempDirectory("graftcrash").toString
    val g = CorpusModule.graph(minQuality = 0.5, maxRepetition = 0.9)
    val (kept0, n0) = Streams.corpusIngest(docs, g,
      s"$dir/src", s"$dir/kept", s"$dir/ckpt", s"$dir/log")
    assert(n0 === 2L)
    val want = kept0.select("id").as[Long].collect().sorted

    // WINDOW A: crash after foreachBatch ran batch 1 to completion but
    // before the streaming checkpoint committed it. The restart replays
    // batch 1 under the SAME batchId; the ledger already holds batch1,
    // so runIncremental no-ops BEFORE plan wiring — neither the module,
    // nor its sink, nor its lineage rows fire a second time.
    // a commit marker is the file AND its Hadoop checksum sidecar: a
    // stale .1.crc would fail the replayed commit's atomic rename (it
    // surfaces as "multiple streaming queries concurrently using")
    def dropCommit1(): Unit = {
      assert(java.nio.file.Files.deleteIfExists(
          java.nio.file.Paths.get(s"$dir/ckpt/commits/1")),
        "checkpoint layout changed: expected a commits/1 marker")
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(s"$dir/ckpt/commits/.1.crc"))
      ()
    }
    dropCommit1()
    val lineageBefore = new graft.engine.RunLog(s"$dir/log").lineage.size
    val (keptA, nA) = Streams.corpusIngest(docs, g,
      s"$dir/src", s"$dir/kept", s"$dir/ckpt", s"$dir/log")
    assert(nA === 1L, s"expected exactly the replayed batch, got $nA")
    assert(keptA.select("id").as[Long].collect().sorted.sameElements(want))
    assert(new graft.engine.RunLog(s"$dir/log").lineage.size === lineageBefore,
      "a ledger-gated replay must not append lineage rows")

    // WINDOW B: crash BETWEEN the sink's durable write and the ledger
    // append — the one window where the module genuinely re-runs. Drop
    // batch1 from the consumed ledger AND the checkpoint commit; the
    // replay re-runs the block through the module, the per-block
    // overwrite lands the same rows, and the ledger heals.
    dropCommit1()
    val consumed = java.nio.file.Paths.get(s"$dir/log/consumed/docs")
    val lines = java.nio.file.Files.readAllLines(consumed)
    assert(lines.remove("batch1"), "ledger layout changed: no batch1 entry")
    java.nio.file.Files.write(consumed, lines)
    val (keptB, nB) = Streams.corpusIngest(docs, g,
      s"$dir/src", s"$dir/kept", s"$dir/ckpt", s"$dir/log")
    assert(nB === 1L, s"expected exactly the replayed batch, got $nB")
    assert(keptB.select("id").as[Long].collect().sorted.sameElements(want))
    assert(new graft.engine.RunLog(s"$dir/log").consumedBlocks("docs")("batch1"),
      "the re-run replay must re-mark the block consumed")
  }

  test("a second corpusIngest in one session starts no OS process, " +
      "compiles no generated class and keeps the same rows") {
    import graft.sources.Tables
    import graft.modules.CorpusModule
    import org.apache.spark.metrics.source.CodegenMetrics
    import scala.jdk.CollectionConverters._
    val docs = Tables.table(spark, sf001, "documents")
    val dir = java.nio.file.Files.createTempDirectory("graftrerun").toString
    def ingest(tag: String) = Streams.corpusIngest(docs,
      CorpusModule.graph(minQuality = 0.5, maxRepetition = 0.9),
      s"$dir/src", s"$dir/$tag/kept", s"$dir/$tag/ckpt", s"$dir/$tag/log")
    def rows(kept: org.apache.spark.sql.DataFrame) =
      kept.collect().map(_.toString).sorted.toSeq
    val first = rows(ingest("a")._1)
    // each streaming query runs on its own clone of the session; the
    // second must hit the codegen cache the first filled, and neither
    // Hadoop permission nor link calls may fork chmod/readlink
    // Spark's process-tree metrics fork `getconf PAGESIZE` once per JVM,
    // on the first executor-metrics poll: take that fork before recording
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    // Spark's ArtifactManager cleaner forks `rm -rf` of a session clone's
    // artifact directory when the JVM collects the clone, so the clones
    // that earlier streaming queries left behind fork at whatever GC
    // comes next: collect them, and let their cleaner run, before
    // recording. The full GC also moves the clones still held (by AQE
    // pool threads) to the old generation, out of a young GC's reach.
    System.gc()
    Thread.sleep(1000)
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    rec.start()
    val (kept, n) = try ingest("b") finally rec.stop()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    val jfr = java.nio.file.Files.createTempFile("ingest", ".jfr")
    rec.dump(jfr)
    rec.close()
    val started = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command"))
    java.nio.file.Files.delete(jfr)
    assert(n === 2L)
    assert(started.isEmpty, s"${started.size} processes: ${started.take(3)}")
    assert(compiles === 0L)
    assert(rows(kept) === first)
  }

  /** Streams the sf0.001 documents through `corpusIngest` in two blocks;
    * returns the kept rows, the Spark jobs each trigger ran (by batch id),
    * and, per block, whether the plan of its kept write held a shuffle
    * exchange. A marker job after the run fences the listener events. */
  private def tracedIngest(dir: String): (Seq[String], Seq[Int], Seq[Boolean]) = {
    import graft.sources.Tables
    import graft.modules.CorpusModule
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.util.QueryExecutionListener
    object Plans extends AdaptiveSparkPlanHelper
    val marker = "graft.streamsspec.marker"
    val jobs = new java.util.concurrent.ConcurrentHashMap[Long, Int]()
    val exchanges = new java.util.concurrent.ConcurrentHashMap[String, Boolean]()
    val done = new java.util.concurrent.CountDownLatch(1)
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        if (p.exists(_.getProperty(marker) != null)) done.countDown()
        p.flatMap(x => Option(x.getProperty("streaming.sql.batchId")))
          .foreach(b => jobs.merge(b.toLong, 1, _ + _))
      }
    }
    val planListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        Plans.collect(qe.executedPlan) { case w: DataWritingCommandExec => w }.foreach { w =>
          w.cmd match {
            case i: InsertIntoHadoopFsRelationCommand
                if i.outputPath.toString.contains(s"$dir/kept/") =>
              exchanges.put(i.outputPath.getName,
                Plans.find(w.child)(_.isInstanceOf[ShuffleExchangeExec]).isDefined)
            case _ =>
          }
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val docs = Tables.table(spark, sf001, "documents")
    val sc = spark.sparkContext
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    val kept = try {
      val (kept, n) = Streams.corpusIngest(docs, CorpusModule.graph(),
        s"$dir/src", s"$dir/kept", s"$dir/ckpt", s"$dir/log")
      assert(n === 2L)
      sc.setLocalProperty(marker, "end")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(marker, null)
      assert(done.await(30, java.util.concurrent.TimeUnit.SECONDS), "marker never arrived")
      kept.collect().map(_.toString).sorted.toSeq
    } finally {
      spark.listenerManager.unregister(planListener)
      sc.removeSparkListener(jobListener)
    }
    import scala.jdk.CollectionConverters._
    (kept, jobs.asScala.toSeq.sortBy(_._1).map(_._2),
      exchanges.asScala.toSeq.sortBy(_._1).map(_._2))
  }

  test("a one-partition micro-batch runs one job per trigger: its kept " +
      "write plans no exchange and keeps the rows of a split micro-batch") {
    import graft.modules.CorpusModule
    val dir = java.nio.file.Files.createTempDirectory("graftonepart").toString
    val (kept, jobs, exchanges) = tracedIngest(s"$dir/one")
    assert(jobs === Seq(1, 1))
    assert(exchanges === Seq(false, false))
    // a block read as several splits is not marked: the dedupe window
    // keeps its exchange (and its second stage)
    val (keptSplit, jobsSplit, exchangesSplit) =
      withConfs("spark.sql.files.maxPartitionBytes" -> "4096",
        "spark.sql.files.openCostInBytes" -> "0")(tracedIngest(s"$dir/split"))
    assert(exchangesSplit === Seq(true, true))
    assert(jobsSplit.size == 2 && jobsSplit.forall(_ >= 2), jobsSplit)
    assert(keptSplit === kept)
    val docs = graft.sources.Tables.table(spark, sf001, "documents")
    val want = (0 to 1).flatMap { par =>
      CorpusModule.graph().run(Map("docs" -> docs.filter(col("doc_id") % 2 === par)))("kept")
        .select("id").as[Long].collect()
    }.sorted
    assert(spark.read.parquet(s"$dir/one/kept").select("id").as[Long].collect()
      .sorted.toSeq === want)
  }

  test("corpusIngest with the near-dup ladder == per-parity module runs " +
      "(the non-commutative cell: only the ledger keeps replays exact)") {
    import graft.sources.Tables
    import graft.modules.CorpusModule
    val docs = Tables.table(spark, sf001, "documents")
      .filter(col("doc_id") < 400)
    val dir = java.nio.file.Files.createTempDirectory("graftcsnd").toString
    def g = CorpusModule.graph(minQuality = 0.5, maxRepetition = 0.9,
      nearDupJaccard = Some(0.9))
    val (kept, nBatches) = Streams.corpusIngest(docs, g,
      s"$dir/src", s"$dir/kept", s"$dir/ckpt", s"$dir/log")
    assert(nBatches === 2L, s"expected 2 micro-batches, got $nBatches")
    val got = kept.select("id").as[Long].collect().sorted
    val want = (0 to 1).flatMap { par =>
      g.run(Map("docs" -> docs.filter(col("doc_id") % 2 === par)))("kept")
        .select("id").as[Long].collect()
    }.sorted.toArray
    assert(got.sameElements(want))
  }

  test("landBlocks: one file per residue block, pmod semantics, empty " +
      "classes land, partial landings repair, checkpoints block rewrites") {
    val dir = java.nio.file.Files.createTempDirectory("graftland").toString
    val docs = Seq((-3L, "a"), (0L, "b"), (1L, "c"), (4L, "d"))
      .toDF("doc_id", "text")
    Streams.landBlocks(docs, s"$dir/src", 3)
    // pmod, not %: -3 lands in class 0 (Spark % would put it nowhere)
    def ids(i: Int): Array[Long] = spark.read.parquet(s"$dir/src/p$i")
      .select("doc_id").as[Long].collect().sorted
    assert(ids(0).sameElements(Array(-3L, 0L)))
    assert(ids(1).sameElements(Array(1L, 4L)))
    assert(ids(2).isEmpty) // empty class still lands (block count holds)
    // exactly ONE data file per block — the maxFilesPerTrigger=1
    // contract that makes each block one micro-batch
    (0 to 2).foreach { i =>
      val parts = new java.io.File(s"$dir/src/p$i").listFiles()
        .count(_.getName.startsWith("part-"))
      assert(parts === 1, s"block p$i has $parts part files")
    }
    // a partial landing (crash remnant) is wiped and redone
    import scala.reflect.io.Directory
    assert(new Directory(new java.io.File(s"$dir/src/p2")).deleteRecursively())
    Streams.landBlocks(docs, s"$dir/src", 3)
    assert(ids(0).sameElements(Array(-3L, 0L)) && ids(2).isEmpty)
    // but corpusIngest refuses to repair UNDER an existing checkpoint —
    // rewriting landing files a recorded stream may have seen re-ingests
    // them under fresh batchIds (the nBlocks-changed hazard)
    assert(new Directory(new java.io.File(s"$dir/src/p2")).deleteRecursively())
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/ckpt"))
    val g = graft.modules.CorpusModule.graph(
      minQuality = 0.5, maxRepetition = 0.9)
    val ex = intercept[IllegalArgumentException] {
      Streams.corpusIngest(docs, g, s"$dir/src", s"$dir/kept",
        s"$dir/ckpt", s"$dir/log", nBlocks = 3)
    }
    assert(ex.getMessage.contains("refusing to rewrite"))
  }

  test("corpusIngest: a complete landing missing its manifest re-lands " +
      "when no checkpoint exists, refuses (with a recovery step) when " +
      "one does") {
    val dir = java.nio.file.Files.createTempDirectory("graftmf").toString
    val docs = graft.sources.Tables.table(spark, sf001, "documents")
    val g = graft.modules.CorpusModule.graph(
      minQuality = 0.5, maxRepetition = 0.9)
    // land, then lose the manifest (crash between blocks and manifest
    // write, or a landing predating manifests)
    Streams.landBlocks(docs, s"$dir/src", 2)
    val mf = java.nio.file.Paths.get(s"$dir/src/_graft_landing.json")
    assert(java.nio.file.Files.deleteIfExists(mf))
    // no checkpoint ⇒ recoverable: re-lands (manifest restored) + streams
    val (kept, nBatches) = Streams.corpusIngest(docs, g, s"$dir/src",
      s"$dir/kept", s"$dir/ckpt", s"$dir/log", nBlocks = 2)
    assert(java.nio.file.Files.exists(mf))
    assert(nBatches === 2L)
    assert(kept.count() > 0)
    // checkpoint exists ⇒ immutable: refuse, and say how to recover
    assert(java.nio.file.Files.deleteIfExists(mf))
    val ex = intercept[IllegalArgumentException] {
      Streams.corpusIngest(docs, g, s"$dir/src", s"$dir/kept",
        s"$dir/ckpt", s"$dir/log", nBlocks = 2)
    }
    assert(ex.getMessage.contains("Recovery: delete both"))
  }

  test("KMV and quantile sketches merge correctly across streaming " +
      "micro-batch state (the mergeability contract, second regime)") {
    // the batch specs pin merge ≡ fold under explicit splits; this pins
    // the OTHER merge path production hits: a windowed streaming agg
    // whose state buffer is partially aggregated per micro-batch and
    // merged by the state store across batches
    implicit val sqlCtx = spark.sqlContext
    val kmv = udaf(new graft.functions.KmvAgg(8),
      org.apache.spark.sql.Encoders.scalaLong)
    val qsk = udaf(new graft.functions.QSketchAgg(16),
      org.apache.spark.sql.Encoders.scalaDouble)
    def h(c: org.apache.spark.sql.Column) = pmod(xxhash64(c), lit(1000))
    val src = MemoryStream[Ev]
    val q = src.toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes").as("w"))
      .agg(kmv(h(col("user_id"))).as("sk"), qsk(col("value")).as("qs"))
      .writeStream.format("memory").queryName("skst")
      .outputMode("append").start()
    // two micro-batches land in the SAME window -> cross-batch merge
    val b1 = (1 to 30).map(i => Ev(i, ts(3), i % 7, "c", i.toDouble))
    val b2 = (31 to 60).map(i => Ev(i, ts(5), i % 9, "c", i.toDouble))
    src.addData(b1); q.processAllAvailable()
    src.addData(b2); q.processAllAvailable()
    src.addData(Seq(Ev(99, ts(60), 1L, "c", 0.0))) // close the window
    q.processAllAvailable()
    q.stop()
    val row = spark.table("skst").collect()
      .find(_.getStruct(0).getTimestamp(0).getTime == ts(0).getTime).get
    // KMV sketches are canonical (k smallest distinct), so streaming
    // state merge must equal the single batch fold EXACTLY
    val batchSk = spark.createDataset(b1 ++ b2).toDF()
      .agg(kmv(h(col("user_id"))).as("sk"))
      .collect()(0).getSeq[Long](0)
    assert(row.getSeq[Long](1) === batchSk)
    // the quantile compactor's layout is merge-order-dependent, but its
    // CERTIFICATE is not: n, Σweights, and the rank bound must hold
    val qs = row.getStruct(2)
    val items = qs.getSeq[Double](0)
    val weights = qs.getSeq[Long](1)
    val (n, err) = (qs.getLong(2), qs.getLong(3))
    val vals = (b1 ++ b2).map(_.value)
    assert(n === vals.length.toLong)
    assert(weights.sum === n)
    for (x <- Seq(10.0, 30.5, 55.0)) {
      val skLe = items.zip(weights).collect { case (v, w) if v <= x => w }.sum
      assert(math.abs(skLe - vals.count(_ <= x)) <= err, s"probe $x")
    }
  }
}
