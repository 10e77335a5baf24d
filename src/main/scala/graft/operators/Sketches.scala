package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Rolling DATE-RANGE windows over a persisted day-sketch table — the
  * shared skeleton of the sketch-window family (q_kmv_rolling,
  * q_kmv_horizons, q_quantile_rolling), extracted so the next horizon or
  * sketch type is a PARAMETER, not a fourth copy of the anchor × range ×
  * merge shape (VERDICT r13 #6).
  *
  * The shape: one ANCHOR per distinct week present in the day column;
  * each (anchor, window) pair selects the day rows in the date range
  * [week + lo, week + hi]; the caller's `merge` reduces the in-window
  * rows per (week, window) key — typically a mergeable-sketch
  * re-aggregation (a window k-minimum is a k-minimum of its own days; a
  * window GK sketch is a merge of its day sketches), but the same
  * skeleton carries the exact-side oracle riders (countDistinct over an
  * event frame) so query and rider provably use IDENTICAL windows.
  *
  * Gap tolerance BY CONSTRUCTION: windows are date arithmetic, not
  * adjacency — a missing day or week contributes no rows but shifts
  * nothing, where an equi-join on week−7 (kmvWeekPairs) drops the pair
  * at any series gap. A window with NO rows yields no output row for
  * that (anchor, window); callers that must keep the anchor (empty
  * PRIOR window of a young series) left-join the window labels back.
  *
  * Scale shape: the windows literal explodes against the ANCHOR frame
  * (one row per week — bounded metadata), never the day table, and the
  * range join is anchors × day rows where the sketch side is one row
  * per day; at 100 TB each window merges ≤ (hi − lo + 1) sketch rows
  * and the event log is touched only if the caller feeds it (riders). */
object Sketches {

  /** @param dayRows day-keyed frame: a sketch table (one row/day) or an
    *                event-grain frame for exact riders
    * @param dayCol  the date column anchors and ranges key on
    * @param windows (label, lo, hi) day offsets relative to the anchor
    *                week's Monday: window = [week + lo, week + hi]
    * @param merge   reduction of the in-window rows — receives the
    *                joined frame (columns: `week` date, `win` string
    *                label, plus `dayRows`' own columns) and the group
    *                keys Seq("week", "win"); must return one row per key
    * @param anchorDays frame the ANCHOR weeks derive from (same `dayCol`
    *                name); defaults to `dayRows`. Exact riders over an
    *                event-grain frame should pass the day-SKETCH table
    *                here: its day set is identical by construction (the
    *                sketch table is a groupBy(day) of the events), and
    *                deriving anchors from the one-row-per-day frame
    *                skips a full event-scan distinct
    * @return whatever `merge` returns, one row per non-empty
    *         (anchor week, window label) */
  def rollingWindows(dayRows: DataFrame, dayCol: String,
      windows: Seq[(String, Int, Int)],
      anchorDays: DataFrame = null)(
      merge: (DataFrame, Seq[String]) => DataFrame): DataFrame = {
    require(windows.nonEmpty, "rollingWindows: need at least one window")
    require(windows.forall { case (_, lo, hi) => lo <= hi },
      s"rollingWindows: every window needs lo <= hi (got $windows)")
    require(windows.map(_._1).distinct.size == windows.size,
      s"rollingWindows: window labels must be unique (got ${windows.map(_._1)})")
    val anchored = Option(anchorDays).getOrElse(dayRows)
      .select(to_date(date_trunc("week", col(dayCol))).as("week")).distinct()
      .select(col("week"), explode(typedlit(windows)).as("w"))
      .select(col("week"), col("w._1").as("win"),
        col("w._2").as("lo"), col("w._3").as("hi"))
    // anchor × day-row range join: the anchor side is (weeks × windows)
    // rows — bounded metadata; bounds are per-window columns so EVERY
    // window rides one join
    val joined = anchored.as("a")
      .join(dayRows.as("d"), col(s"d.$dayCol").between(
        date_add(col("a.week"), col("a.lo")),
        date_add(col("a.week"), col("a.hi"))))
      .drop("lo", "hi")
    merge(joined, Seq("week", "win"))
  }

  /** The KMV-specific merge most windows here use: explode the stored
    * bottom-k arrays and re-aggregate per key (exact — a window
    * k-minimum is a k-minimum of its own day sketches). `skCol` is the
    * stored array column; the result carries it under the same name. */
  def kmvMerge(kmv: org.apache.spark.sql.expressions.UserDefinedFunction,
      skCol: String): (DataFrame, Seq[String]) => DataFrame =
    (rows, keys) => rows
      .select(keys.map(col) :+ explode(col(skCol)).as("__h"): _*)
      .groupBy(keys.map(col): _*)
      .agg(kmv(col("__h")).as(skCol))
}
