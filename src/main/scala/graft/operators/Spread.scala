package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Parallelism floor for narrow, compute-heavy stages (optimization
  * guide §2.5 "input skew": one small/unsplittable file).
  *
  * The driver testdata ships each table as ONE parquet file with ONE row
  * group, so every scan plans a single input split and the narrow work
  * next to it runs on ONE core until the first exchange. At 100 TB the
  * same scan has thousands of row-group splits and needs no help; an
  * unconditional `repartition` there would add a full payload shuffle
  * (guide §8: never move heavy bytes to fix a placement problem). So the
  * spread is CONDITIONAL on the measured shape, and the probe is
  * METADATA-ONLY: it walks the ANALYZED plan (already computed eagerly
  * for every Dataset, so this forces no extra planning) and spreads
  * exactly when
  *
  *  - the plan is NARROW scan→head (no join/agg/window/sort/limit —
  *    anything above an exchange is already wide), and
  *  - every leaf is a file relation, and
  *  - their total size fits in ONE scan split (≤ maxPartitionBytes), and
  *  - the session actually has parallelism to win (defaultParallelism ≥ 4).
  *
  * At any real scale the size test fails and this is the identity — no
  * shuffle is ever added on a big input. Values are unaffected: every
  * consumer below a spread is key-based (joins/aggregates) or totally
  * ordered, and round-robin repartition sorts records within input
  * partitions first (SPARK-23207), so retried tasks reproduce the same
  * assignment.
  *
  * A call site stays only where it fires on a workload and its rows win
  * ≥10% on the median of a 10-pair `SPARK_GRAFT_SPREAD=0` A/B at 4 cores
  * (SCALING.md "Spread sites: census and A/B"): the md5/minhash frames
  * that feed pair joins, the JPEG codec map, and the tokenizers whose
  * per-token work is heavy (BPE, BM25, DSIR, token entropy,
  * decontamination n-grams, window hashes). Where the narrow work is light next to the shuffle
  * after it, the added exchange costs more than the parallelism saves,
  * and those sites were deleted. */
object Spread {

  /** A/B kill switch (env, read once per JVM): SPARK_GRAFT_SPREAD=0 turns
    * every [[auto]] into the identity, so spread-vs-no-spread is one env
    * flip on identical bits. */
  private val enabled: Boolean =
    sys.env.getOrElse("SPARK_GRAFT_SPREAD", "1") != "0"

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

  /** The adaptive spread: a round-robin repartition to the session's
    * cores when the gate above passes, else the identity.
    *
    * Placement is the caller's decision: spread the frame that feeds a
    * heavy narrow consumer, never a build whose only downstream is a
    * small write (measured r16: spreading a write-only LSH index build
    * cost q_corpus_index_probe ~0.7 s in exchange plus per-task files). */
  def auto(df: DataFrame): DataFrame = {
    if (!enabled) return df
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
}
