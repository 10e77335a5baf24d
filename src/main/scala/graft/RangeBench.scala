package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.IntervalJoin

/** Range-join strategy decision bench (SURVEY §7.6 #1, round-3 verdict #3).
  *
  * Measures, on synthetic data at growing scale:
  *   1. `bnlj`    — the plain non-equi point-in-interval join Spark plans
  *                  as BroadcastNestedLoopJoin (the do-nothing baseline);
  *   2. `binned`  — IntervalJoin.pointInInterval (equi-join on bin ids);
  *   3. `equi`    — q_join_range's shape: equi key + residual predicate;
  *   4. `equi_nores` — same equi join without the residual, to isolate the
  *                  residual-evaluation cost a custom sort-merge-on-bounds
  *                  SparkStrategy could at best remove.
  *
  * The custom strategy is justified only if (a) `binned` does NOT already
  * beat `bnlj` by ≥2× at scale, or (b) the residual overhead
  * (`equi` − `equi_nores`) is a large fraction of `equi`. Results are
  * recorded in SURVEY §7.6 / SCALING.md; both BNLJ sizes are capped so the
  * baseline finishes — its per-pair cost extrapolates linearly in N·M.
  */
object RangeBench {
  def main(args: Array[String]): Unit = {
    val spark = Bench.buildSession("32")
    import spark.implicits._

    val span = 30L * 24 * 3600 * 1000000 // 30 days in µs
    val hour = 3600L * 1000000

    // points: N uniform event times; intervals: M windows of ~1h
    def points(n: Long): DataFrame = spark.range(n)
      .select((abs(xxhash64($"id")) % span).as("pt"), $"id".as("pid"))
    def intervals(m: Long): DataFrame = spark.range(m)
      .select((abs(xxhash64($"id", lit(1))) % span).as("s"), $"id".as("wid"))
      .withColumn("e", $"s" + hour)

    def time(label: String)(df: => DataFrame): (String, Double, Long) = {
      val t0 = System.nanoTime()
      val n = df.count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"RANGE $label $sec%.2f s ($n pairs)")
      (label, sec, n)
    }

    val results = scala.collection.mutable.ArrayBuffer[(String, Double, Long)]()

    // warmup both plan shapes
    IntervalJoin.pointInInterval(points(10000), "pt", intervals(1000), "s", "e", hour).count()
    points(2000).join(intervals(1000), $"pt" >= $"s" && $"pt" < $"e").count()

    // BNLJ baseline: 100k × 10k = 1e9 predicate pairs (already painful);
    // anything bigger is extrapolation territory.
    results += time("bnlj_100k_x_10k") {
      points(100000).join(intervals(10000), $"pt" >= $"s" && $"pt" < $"e")
    }
    results += time("binned_100k_x_10k") {
      IntervalJoin.pointInInterval(points(100000), "pt", intervals(10000), "s", "e", hour)
    }
    results += time("binned_1m_x_100k") {
      IntervalJoin.pointInInterval(points(1000000), "pt", intervals(100000), "s", "e", hour)
    }
    results += time("binned_10m_x_1m") {
      IntervalJoin.pointInInterval(points(10000000), "pt", intervals(1000000), "s", "e", hour)
    }

    // q_join_range shape at 10×/100× sf0.1 row counts: equi key with ~10
    // rows per key on each side, with vs without the residual predicate.
    def keyed(n: Long, tag: Int): DataFrame = spark.range(n)
      .select(($"id" % (n / 10)).as("k"),
        (abs(xxhash64($"id", lit(tag))) % span).as("t"))
    def equiPair(n: Long, residual: Boolean): DataFrame = {
      val l = keyed(n, 2)
      val r = keyed(n, 3).withColumnRenamed("k", "k2").withColumnRenamed("t", "t2")
      val base = l.join(r, $"k" === $"k2")
      if (residual) base.where($"t" > $"t2") else base
    }
    results += time("equi_residual_6m")(equiPair(6000000, residual = true))
    results += time("equi_noresidual_6m")(equiPair(6000000, residual = false))
    results += time("equi_residual_60m")(equiPair(60000000, residual = true))
    results += time("equi_noresidual_60m")(equiPair(60000000, residual = false))

    val json = results.map { case (l, s, n) =>
      f""""$l":{"sec":$s%.3f,"pairs":$n}""" }.mkString("{", ",", "}")
    println(s"""{"metric":"range_bench","results":$json}""")
    spark.stop()
  }
}
