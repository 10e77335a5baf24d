package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Scale-adaptive parallelism floor for narrow, compute-heavy stages
  * (optimization guide §2.5 "input skew": one small/unsplittable file).
  *
  * The driver testdata ships each table as ONE parquet file with ONE row
  * group, so every scan plans a single input split and all scan-adjacent
  * narrow work — md5/minhash signatures, tokenization regexes, codec
  * encode/decode, per-row vector math — runs on ONE core of the
  * local[32] session until the first exchange. At 100 TB the same scan
  * has thousands of row-group splits and needs no help; an unconditional
  * `repartition` there would add a full payload shuffle (guide §8: never
  * move heavy bytes to fix a placement problem). So the spread is
  * CONDITIONAL on the measured shape, and the probe is METADATA-ONLY:
  * it walks the ANALYZED plan (already computed eagerly for every
  * Dataset, so this forces no extra analysis, optimization, or physical
  * planning — an earlier `df.rdd.getNumPartitions` probe re-planned the
  * frame per call and measurably slowed the module-graph rows that wire
  * plans several times per run) and spreads exactly when
  *
  *  - the plan is NARROW scan→head (no join/agg/window/sort/limit —
  *    anything above an exchange is already wide), and
  *  - every leaf is a file relation, and
  *  - their total size fits in ONE scan split (≤ maxPartitionBytes), so
  *    Spark would plan single-digit tasks for it, and
  *  - the session actually has parallelism to win (defaultParallelism ≥ 4).
  *
  * At any real scale the size test fails and this is the identity — no
  * shuffle is ever added on a big input. Values are unaffected in all
  * cases: every consumer below a spread is key-based (joins/aggregates)
  * or totally ordered, and round-robin repartition sorts records within
  * input partitions first (SPARK-23207), so retried tasks reproduce the
  * same assignment. */
object Spread {

  /** A/B kill switch (env, read once per JVM): SPARK_GRAFT_SPREAD=0 turns
    * every [[auto]] into the identity, so spread-vs-no-spread is one env
    * flip on identical bits. */
  private val enabled: Boolean =
    sys.env.getOrElse("SPARK_GRAFT_SPREAD", "1") != "0"

  /** Scoped suppression for WRITE-ONLY consumers: a signature/token build
    * whose only downstream is a small index write gains nothing from the
    * fan-out — it pays the spread exchange plus one output file per task,
    * and every later probe pays the extra file opens (measured r16:
    * q_corpus_index_probe 3.2-3.7 s with the build spread vs 2.5-2.6 s
    * without, across the rebalance on/off matrix — the spread, not the
    * rebalance, was the r15 regression). Spread exists for compute-heavy
    * narrow stages feeding heavy downstream consumers (pair joins,
    * aggregations); inside this scope [[auto]] is the identity. At scale
    * spread is the identity anyway, so the scope only removes local
    * overhead. Thread-local: module graphs build their node frames on the
    * calling thread. */
  private val suppressed = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = java.lang.Boolean.FALSE
  }
  def noSpread[T](body: => T): T = {
    val prev = suppressed.get()
    suppressed.set(java.lang.Boolean.TRUE)
    try body finally suppressed.set(prev)
  }

  /** True when the analyzed plan is narrow from scan to head: no node
    * that implies an exchange. Unions of narrow branches count as narrow. */
  private def isNarrow(plan: LogicalPlan): Boolean =
    plan.collectFirst {
      case p: Join => p
      case p: Aggregate => p
      case p: Window => p
      case p: Sort => p
      case p: RepartitionOperation => p
      case p: GlobalLimit => p
      case p: Distinct => p
      case p: Deduplicate => p
    }.isEmpty

  /** Total bytes of the plan's file-relation leaves; None when any leaf
    * is not a file relation (checkpointed RDDs, local relations, views
    * over non-file sources — those carry their own partitioning). */
  private def fileBytes(plan: LogicalPlan): Option[Long] = {
    val leaves = plan.collectLeaves()
    val sizes = leaves.map {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        Some(fs.location.sizeInBytes)
      case _ => None
    }
    if (sizes.forall(_.isDefined)) Some(sizes.flatMap(x => x).sum) else None
  }

  /** Output-sizing decision for index/sink writes (guide §6): REBALANCE —
    * keyed by the write's partition columns when given, so the file count
    * stays bounded per partition value (AQE still SPLITS an oversized key,
    * so a low-cardinality key does not cap write parallelism) — but ONLY
    * when the plan's file-relation leaves exceed the AQE advisory
    * partition size. Below that the whole frame fits ONE advisory
    * partition, so the rebalance shuffle moves every row to save at most
    * a handful of file opens (measured r15: the unconditional hint cost
    * q_corpus_index_probe 2.70 → 3.35 s at sf0.1). At scale the leaves
    * are big, the gate passes, and the write gets advisory-sized files —
    * the identity decision the r15 verdict asked for. Non-file leaves
    * (checkpointed RDDs, local relations) default to rebalancing: their
    * size is unknown and an unneeded shuffle is recoverable, unsized
    * giant files are not. */
  def rebalanceForWrite(df: DataFrame, cols: String*): DataFrame = {
    val advisory = df.sparkSession.sessionState.conf.getConf(
      org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    fileBytes(df.queryExecution.analyzed) match {
      case Some(bytes) if bytes <= advisory => df
      case _ =>
        if (cols.nonEmpty) df.hint("rebalance", cols.map(col): _*)
        else df.hint("rebalance")
    }
  }

  /** The adaptive spread: identity unless narrow + single-split-small. */
  def auto(df: DataFrame): DataFrame = {
    if (!enabled || suppressed.get()) return df
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    if (target < 4) return df
    val plan = df.queryExecution.analyzed
    if (!isNarrow(plan)) return df
    fileBytes(plan) match {
      case Some(bytes)
          if bytes <= spark.sessionState.conf.filesMaxPartitionBytes =>
        df.repartition(target)
      case _ => df
    }
  }

  /** Spread for foreachBatch micro-batch frames, METADATA-ONLY like
    * [[auto]] (r15 ADVICE: the `batch.rdd.getNumPartitions` probe it
    * replaces forced full physical planning of every micro-batch). A
    * micro-batch's leaves differ by source version: a LogicalRDD already
    * HOLDS its RDD (partition count is a field read, no planning), and a
    * file-relation leaf carries its byte size like any scan. Spread when
    * the probed parallelism is under half the session's cores — tiny
    * one-file trigger batches — and stay the identity when any leaf is
    * unprobeable or the batch is already wide (a block file landing with
    * enough row groups scans wide on its own). */
  def autoBatch(batch: DataFrame): DataFrame = {
    if (!enabled || suppressed.get()) return batch
    val spark = batch.sparkSession
    val target = spark.sparkContext.defaultParallelism
    if (target < 4) return batch
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    val parts = batch.queryExecution.analyzed.collectLeaves().map {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        Some(r.rdd.getNumPartitions)
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        Some(math.max(1,
          math.ceil(fs.location.sizeInBytes.toDouble / maxSplit).toInt))
      case _ => None
    }
    if (parts.nonEmpty && parts.forall(_.isDefined) &&
        parts.flatten.sum * 2 <= target) batch.repartition(target)
    else batch
  }

  /** Keyed spread for aggregation mouths whose PER-GROUP work is heavy
    * (quadratic pair emission from collected arrays, big array builds):
    * same single-split-small gate as [[auto]], but the repartition is
    * HASH by the groupBy keys with an explicit count, so (a) the
    * following groupBy on the same keys satisfies its clustered
    * distribution on this layout and plans NO second exchange, and
    * (b) AQE cannot coalesce it (explicit-count repartitions are exact).
    * Without it, AQE sizes the aggregate's post-shuffle side by shuffle
    * BYTES — blind to downstream compute — and a small-bytes/heavy-CPU
    * stage (q_triangles' per-order pair emission: measured 1.0 s on 4 of
    * 32 cores) serializes. At scale the gate fails and the groupBy plans
    * its own exchange, sized by AQE exactly as before — identity.
    * Only for order-insensitive aggregates (sums/counts/sorted arrays):
    * the partitioning this declares changes which rows meet in a
    * partition, never the grouped values. */
  def autoKeyed(df: DataFrame, keys: String*): DataFrame = {
    require(keys.nonEmpty, "autoKeyed needs at least one grouping key")
    if (!enabled || suppressed.get()) return df
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    if (target < 4) return df
    val plan = df.queryExecution.analyzed
    if (!isNarrow(plan)) return df
    fileBytes(plan) match {
      case Some(bytes)
          if bytes <= spark.sessionState.conf.filesMaxPartitionBytes =>
        df.repartition(target, keys.map(col): _*)
      case _ => df
    }
  }
}
