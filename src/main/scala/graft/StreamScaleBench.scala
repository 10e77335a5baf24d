package graft

import org.apache.spark.sql.functions._

/** Scaling evidence for the declared streaming pipeline
  * ([[graft.streaming.Streams.incrementalEventStats]] — the
  * q_stream_pipeline surface), same protocol as the other *ScaleBench
  * tools: hash-deterministic synthetic event frames at 1×/3×/10× row
  * counts. Two numbers per size:
  *   - `stream`: the full readStream → foreachBatch run (8 source files,
  *     3 per trigger → 3 micro-batches), each batch writing its additive
  *     (type, day) partial under `batch=<id>`, then the delta log
  *     re-aggregated — O(delta) written per batch, state never rewritten;
  *   - `batch`: the same aggregate as one batch job — the lower bound
  *     the micro-batch pipeline's total should stay a bounded factor of.
  * The claim at 100×: per-trigger cost tracks THAT trigger's delta, the
  * accumulated state is append-only, and the fixed per-trigger scheduling
  * overhead amortizes as deltas grow — the stream/batch ratio should FALL
  * as volume rises. */
object StreamScaleBench {
  def main(args: Array[String]): Unit = {
    val spark = Bench.buildSession("32")
    import spark.implicits._

    val outRoot = args.headOption.getOrElse("/tmp/graft_sscale")
    val sizes = Seq(2000000L, 6000000L, 20000000L)

    def gen(n: Long): org.apache.spark.sql.DataFrame =
      spark.range(n).select(
        concat(lit("t"), pmod(xxhash64($"id", lit(3)), lit(5)))
          .as("event_type"),
        timestamp_seconds(lit(1700000000L) +
          pmod(xxhash64($"id", lit(5)), lit(86400L * 30))).as("ts"),
        (pmod(xxhash64($"id", lit(7)), lit(100000L)) / 1000.0).as("value"))

    // land every source OUTSIDE the timed windows (the landing write is
    // upstream reality, not pipeline cost), then warm the streaming
    // machinery once on the smallest size
    sizes.foreach { n =>
      gen(n).repartition(8).write.mode("overwrite").parquet(s"$outRoot/n$n/src")
    }
    import scala.reflect.io.Directory
    new Directory(new java.io.File(s"$outRoot/warm")).deleteRecursively()
    graft.streaming.Streams.incrementalEventStats(
      spark.read.parquet(s"$outRoot/n${sizes.head}/src"),
      s"$outRoot/n${sizes.head}/src", s"$outRoot/warm/delta",
      s"$outRoot/warm/ckpt", srcPrewritten = true)._1.collect()
    println("SCALE generated+warm")

    // force results by COLLECTING the (5-row) aggregates: a bare count()
    // lets column pruning delete the sums/countDistinct and times a
    // single-column distinct instead (the RankScaleBench lesson)
    sizes.foreach { n =>
      val dir = s"$outRoot/n$n"
      // a stale checkpoint from a previous run would mark the rewritten
      // source files unseen/seen inconsistently and double-aggregate old
      // delta partitions — wipe the stateful dirs, never reuse them
      new Directory(new java.io.File(s"$dir/delta")).deleteRecursively()
      new Directory(new java.io.File(s"$dir/ckpt")).deleteRecursively()
      val events = spark.read.parquet(s"$dir/src")
      System.gc()
      val t0 = System.nanoTime()
      val (state, batches) = graft.streaming.Streams.incrementalEventStats(
        events, s"$dir/src", s"$dir/delta", s"$dir/ckpt",
        srcPrewritten = true)
      val rows = state.collect().length
      val tStream = (System.nanoTime() - t0) / 1e9
      System.gc()
      val t1 = System.nanoTime()
      val b = spark.read.parquet(s"$dir/src")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 1000).cast("long")).as("mv"),
          countDistinct(to_date(col("ts"))).as("days"))
        .collect().length
      val tBatch = (System.nanoTime() - t1) / 1e9
      println(f"SCALE stream_$n $tStream%.2f s ($rows types, $batches batches)")
      println(f"SCALE batch_$n $tBatch%.2f s ($b types)")
    }
    spark.stop()
  }
}
