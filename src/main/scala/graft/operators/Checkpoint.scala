package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Lineage cut for iterative loops ([[Components]], [[Iterate]]): each
  * round must eagerly materialize its frame, or the plan re-grows a deeper
  * tree every round (the classic iterative-DataFrame trap).
  *
  * Two postures, selected per session:
  *  - DEFAULT `localCheckpoint(eager = true)`: blocks live in executor
  *    storage (memory, spilling to local disk). Fast, no configuration —
  *    but blocks die with their executor, so a lost executor aborts the
  *    job mid-loop. Right for local mode and short loops.
  *  - RELIABLE `checkpoint(eager = true)` when
  *    `spark.conf.set("graft.checkpoint.reliable", "true")` AND a
  *    `sparkContext.setCheckpointDir(...)` are both set: blocks go to the
  *    checkpoint directory (HDFS/object store on a cluster), surviving
  *    executor loss — the 100×-scale deployment posture for multi-round
  *    loops on preemptible fleets, at the cost of a write per round.
  *
  * A flag without a directory is a configuration error and RAISES (falling
  * back silently to local would let an operator believe it is durable when
  * it is not).
  */
object Checkpoint {

  /** Session conf key enabling reliable (durable) checkpointing. */
  val ReliableKey = "graft.checkpoint.reliable"

  def cut(df: DataFrame): DataFrame =
    // case-insensitive: a capitalized "True" from a boolean-typed
    // launcher set must not silently lose durability
    if (df.sparkSession.conf.getOption(ReliableKey)
        .exists(_.equalsIgnoreCase("true"))) {
      require(df.sparkSession.sparkContext.getCheckpointDir.isDefined,
        s"$ReliableKey=true but no checkpoint directory is set — call " +
          "sparkContext.setCheckpointDir(<durable path>) first")
      df.checkpoint(eager = true)
    } else df.localCheckpoint(eager = true)

  /** Cut that MATERIALIZES AND DECLARES a hash layout: repartition by
    * `keys` with an explicit partition count (AQE never coalesces an
    * explicit-count repartition, so the layout is exact), checkpoint, and
    * re-declare the partitioning on the resulting frame — checkpointing
    * under AQE otherwise reports `UnknownPartitioning` and every
    * downstream join re-shuffles the frame. Pays when the frame's
    * consumers group or join on `keys` (the triangle probe's oriented
    * edges); the iterative loops' static edge frames take a plain [[cut]]
    * instead, which won every A/B against this layout for them, with and
    * without broadcast joins (SCALING.md "Static frames and round
    * shape"). */
  def cutBy(df: DataFrame, keys: String*): DataFrame = {
    require(keys.nonEmpty, "cutBy needs at least one partitioning key")
    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // sortWithinPartitions so the declared ordering lets every downstream
    // sort-merge join skip its per-round Sort of this frame too
    val cp = cut(df.repartition(n, keys.map(col): _*)
      .sortWithinPartitions(keys.map(col): _*))
    org.apache.spark.sql.graft.PlanBridge.declareHashPartitioned(cp, n, keys,
      sorted = true)
  }

  /** Fluent syntax: `df.cut` ≡ `Checkpoint.cut(df)`. */
  implicit final class CutOps(private val df: DataFrame) extends AnyVal {
    def cut: DataFrame = Checkpoint.cut(df)
    def cutBy(keys: String*): DataFrame = Checkpoint.cutBy(df, keys: _*)
  }
}
