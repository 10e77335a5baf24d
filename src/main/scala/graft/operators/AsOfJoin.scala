package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** As-of join: for each left row, attach the most recent right row whose
  * time is at or before the left row's time, within the same key.
  *
  * Spark has no native as-of join, and a range-join formulation
  * (`l.key = r.key AND r.t <= l.t` + row_number) explodes to the full
  * per-key cross product before pruning. This implementation is the
  * union-tag + running `last(_, ignoreNulls)` window form: one shuffle on
  * the key, one per-partition sort, O(left+right) rows end to end — the
  * shape that survives 100 TB (both sides hash-partitioned by key; no
  * pairwise blowup; skew handled by AQE like any window).
  *
  * Within a key, rows are ordered by (time, tag, tieBreak) with right rows
  * (tag 0) before left rows (tag 1) at equal times, so "at or before"
  * includes same-timestamp matches, and ties among right rows resolve to
  * the largest `tieBreak` deterministically.
  */
object AsOfJoin {

  /** @param left       probe side
    * @param right      reference side (its `carry` columns are attached)
    * @param leftKey    join key column on left
    * @param rightKey   join key column on right
    * @param leftTime   event-time column on left
    * @param rightTime  event-time column on right
    * @param carry      right columns to carry to matched left rows; each is
    *                   emitted as `asof_<name>` (null when no match). May be
    *                   empty (the join then only validates matchability).
    * @param direction  "backward" (default): most recent right row at/before
    *                   the left time; "forward": earliest right row at/after
    * @param toleranceSeconds optional maximum |leftTime − rightTime|; a
    *                   match farther away than this is nulled out
    *
    * The attached match is ATOMIC: all carried values come from ONE right
    * row (pandas/DuckDB as-of semantics). Internally every carry column
    * plus the matched time rides in a single struct, so a null in one
    * carried column can never mix values from different right rows, and the
    * tolerance check always agrees with the row the values came from.
    */
  def asOf(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      carry: Seq[String],
      direction: String = "backward",
      toleranceSeconds: Option[Long] = None): DataFrame = {
    require(direction == "backward" || direction == "forward",
      s"direction must be backward|forward, got $direction")
    val leftCols = left.columns
    val carryAll = carry :+ rightTime // matched time rides along for tolerance
    val r = right.select(col(rightKey).as("__k"), col(rightTime).as("__t"),
      lit(0).as("__tag"),
      struct(carryAll.map(c => col(c).as(s"asof_$c")): _*).as("__m"))
    val l = left.select(
      col(leftKey).as("__k") +: col(leftTime).as("__t") +: lit(1).as("__tag") +:
        leftCols.map(col): _*)
    val unioned = l.unionByName(r, allowMissingColumns = true) // __m null on left
    // Deterministic total order inside a key: struct comparison is
    // lexicographic over (carry…, matched time), so ties among right rows
    // at one timestamp resolve to ONE whole row (left rows sort on a null
    // struct, contributing nothing to last(ignoreNulls)). "forward" flips
    // the time axis and prefers the smallest tie-break, mirroring backward.
    val (tOrd, tieOrd) = direction match {
      case "backward" => (col("__t").asc, col("__m").asc)
      case "forward" => (col("__t").desc, col("__m").desc)
    }
    val w = Window.partitionBy("__k")
      .orderBy(tOrd, col("__tag").asc, tieOrd)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = unioned
      .withColumn("__m", last(col("__m"), ignoreNulls = true).over(w))
    val withinTol = toleranceSeconds match {
      case None => lit(true)
      case Some(tol) =>
        abs(col("__t").cast("double") -
          col("__m").getField(s"asof_$rightTime").cast("double")) <= tol
    }
    matched
      .filter(col("__tag") === 1)
      .select(leftCols.map(col) ++ carry.map(c =>
        when(withinTol, col("__m").getField(s"asof_$c")).as(s"asof_$c")): _*)
  }
}
