package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation for hot-key joins. AQE's skew-join split handles most
  * cases at runtime; explicit salting is the deterministic fallback when a
  * single key dominates so badly that even split partitions overwhelm one
  * executor (the classic null-key / power-law tail at 100 TB).
  *
  * `saltedJoin` fans the probe side out over `salts` buckets via a random
  * salt and replicates the build side once per bucket: the hot key's rows
  * spread across `salts` tasks instead of one. Replication multiplies the
  * build side by `salts` — use with a small/dimension build side only.
  */
object Skew {

  /** Equi-join `left ⋈ right` on `leftKey = rightKey`, salted.
    *
    * Only inner/left joins are allowed: the build side is replicated
    * `salts` times, so a right/full outer join would emit each unmatched
    * right row once per replica. The salt derives from the row's position
    * (`monotonically_increasing_id`: partition id + offset) rather than
    * `rand()` or a hash of the row's values — positions are reproduced
    * when a recomputed task re-reads the same input in the same order
    * (true for direct file scans; after an upstream shuffle, retry fetch
    * order can differ, though results stay correct because every salt
    * replica of the build side is identical — only the probe row's bucket
    * assignment moves). Prefer salting directly over source scans when
    * deterministic salts matter. A value hash would be fully deterministic
    * but sends every copy of a duplicate hot row to ONE bucket, silently
    * defeating the operator — position wins for the skew use-case. */
  def saltedJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, salts: Int,
      joinType: String = "inner"): DataFrame = {
    val jt = joinType.toLowerCase.replace("_", "")
    require(jt == "inner" || jt == "left" || jt == "leftouter",
      s"saltedJoin supports inner/left only (got $joinType): the replicated " +
        "build side would emit unmatched right rows once per salt")
    val saltedLeft = left.withColumn("__salt",
      pmod(hash(monotonically_increasing_id()), lit(salts)))
    val saltedRight = right.crossJoin(
      spark_range_df(right, salts))
    saltedLeft.join(saltedRight,
      col(leftKey) === col(rightKey) && col("__salt") === col("__rep"),
      joinType)
      .drop("__salt", "__rep")
  }

  private def spark_range_df(df: DataFrame, n: Int) =
    df.sparkSession.range(n).select(col("id").cast("int").as("__rep"))
}
