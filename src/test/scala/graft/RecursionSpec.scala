package graft

import org.apache.spark.sql.catalyst.plans.logical.UnionLoop

/** The recursive-CTE surface (q_rcte_decay / q_rcte_reach): Spark 4's
  * UnionLoop vs independent Scala reference computations, plus the plan
  * shapes that make the recursion scale-safe (per-step DISTINCT bounding
  * each frontier by the node count).
  */
class RecursionSpec extends SparkSpec {

  test("q_rcte_decay matches the recurrence folded on the driver") {
    val out = SparkEntry.queries("q_rcte_decay")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(out.nonEmpty)
    // independent reference: quarterly integer-cents revenue, folded
    // sequentially with the same integer-division decay
    val quarterly = spark.read.parquet(s"$sf001/orders.parquet")
      .selectExpr("CAST(year(o_orderdate)*4 + quarter(o_orderdate) AS BIGINT) q",
        "CAST(round(o_totalprice*100) AS BIGINT) c")
      .groupBy("q").sum("c")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var carry = 0L
    val ref = quarterly.zipWithIndex.map { case ((q, rev), i) =>
      carry = (if (i == 0) 0L else carry * 9 / 10) + rev
      (q, carry / 100.0)
    }
    // the chain only continues across consecutive quarters; testdata has
    // no gaps, so the full fold is the reference
    assert(quarterly.map(_._1).sliding(2).forall(w => w.length < 2 || w(1) == w(0) + 1))
    assert(out.toSeq == ref.toSeq)
  }

  test("q_rcte_reach matches a driver-side BFS on the collected graph") {
    val out = SparkEntry.queries("q_rcte_reach")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out.nonEmpty)
    val oi = spark.read.parquet(s"$sf001/orders.parquet")
      .join(spark.read.parquet(s"$sf001/lineitem.parquet"),
        org.apache.spark.sql.functions.expr("o_orderkey = l_orderkey"))
      .selectExpr("o_custkey*2 s", "l_suppkey*2+1 d").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj: Map[Long, Seq[Long]] =
      (oi ++ oi.map(_.swap)).toSeq.groupMap(_._1)(_._2)
    var frontier = adj.keySet.filter(_ < 20)
    val depth = collection.mutable.Map(frontier.map(_ -> 0L).toSeq: _*)
    for (d <- 1L to 3L) {
      frontier = frontier.flatMap(n => adj.getOrElse(n, Seq.empty))
      frontier.foreach(n => if (!depth.contains(n)) depth(n) = d)
    }
    assert(out == depth.toMap)
  }

  test("q_holt matches the two-state recurrence folded on the driver") {
    val out = SparkEntry.queries("q_holt")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty)
    val quarterly = spark.read.parquet(s"$sf001/orders.parquet")
      .selectExpr("CAST(year(o_orderdate)*4 + quarter(o_orderdate) AS BIGINT) m",
        "CAST(round(o_totalprice*100) AS BIGINT) c")
      .groupBy("m").sum("c")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(quarterly.map(_._1).sliding(2).forall(w => w.length < 2 || w(1) == w(0) + 1))
    var lvl = 0L; var tr = 0L
    val ref = quarterly.zipWithIndex.map { case ((m, rev), i) =>
      if (i == 0) { lvl = rev; tr = 0L }
      else {
        val nl = (rev * 2 + (lvl + tr) * 8) / 10 // all-positive: / == div
        tr = ((nl - lvl) * 3 + tr * 7) / 10      // can be negative: JVM /
        lvl = nl                                 // truncates like SQL DIV
      }
      (m, lvl, tr)
    }
    assert(out.toSeq == ref.toSeq)
  }

  test("q_holt_grouped matches the per-segment recurrence folded on the driver") {
    val out = SparkEntry.queries("q_holt_grouped")(spark, sf001)
      .collect()
      .map(r => ((r.getString(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(out.nonEmpty)
    // independent reference: per-segment quarterly cents, folded
    // sequentially per segment over the DENSE quarter range — a segment
    // missing a quarter contributes rev = 0, exactly the densified grid
    val rev = spark.read.parquet(s"$sf001/orders.parquet")
      .join(spark.read.parquet(s"$sf001/customer.parquet"),
        org.apache.spark.sql.functions.expr("o_custkey = c_custkey"))
      .selectExpr("c_mktsegment seg",
        "CAST(year(o_orderdate)*4 + quarter(o_orderdate) AS BIGINT) m",
        "CAST(round(o_totalprice*100) AS BIGINT) c")
      .groupBy("seg", "m").sum("c")
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(2)))
      .toMap
    val ms = rev.keys.map(_._2)
    val (lo, hi) = (ms.min, ms.max)
    val segs = rev.keys.map(_._1).toSeq.distinct.sorted
    assert(segs.size > 1, "need several segments for the × group shape")
    for (s <- segs) {
      var lvl = 0L; var tr = 0L
      for ((m, i) <- (lo to hi).zipWithIndex) {
        val r = rev.getOrElse((s, m), 0L)
        if (i == 0) { lvl = r; tr = 0L }
        else {
          val nl = (r * 2 + (lvl + tr) * 8) / 10 // JVM / truncates toward
          tr = ((nl - lvl) * 3 + tr * 7) / 10    // zero like SQL DIV, so
          lvl = nl                               // negative trend is safe
        }
        assert(out((s, m)) == ((lvl, tr, lvl + tr)), s"seg=$s m=$m")
      }
    }
    // totality: every (segment, quarter) cell exists exactly once
    assert(out.size == segs.size * (hi - lo + 1).toInt)
  }

  test("q_backtest: skill metrics agree with a driver-side recompute") {
    val r = SparkEntry.queries("q_backtest")(spark, sf001).collect()(0)
    // recompute from the same fold RecursionSpec already trusts for
    // q_holt: forecasts vs next-quarter actuals, naive = carry-forward
    val quarterly = spark.read.parquet(s"$sf001/orders.parquet")
      .selectExpr("CAST(year(o_orderdate)*4 + quarter(o_orderdate) AS BIGINT) m",
        "CAST(round(o_totalprice*100) AS BIGINT) c")
      .groupBy("m").sum("c")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var lvl = 0L; var tr = 0L
    val st = quarterly.zipWithIndex.map { case ((m, rev), i) =>
      if (i == 0) { lvl = rev; tr = 0L }
      else {
        val nl = (rev * 2 + (lvl + tr) * 8) / 10
        tr = ((nl - lvl) * 3 + tr * 7) / 10
        lvl = nl
      }
      (m, lvl + tr, rev)
    }
    // index-paired fold assumes a gapless grid — same premise the
    // sibling tests assert before trusting their folds
    assert(quarterly.map(_._1).sliding(2)
      .forall(w => w.length < 2 || w(1) == w(0) + 1))
    val sc = st.zip(st.drop(1)).map { case ((_, f, prev), (_, _, a)) =>
      (f, a, prev) }
    val n = sc.length.toLong
    val sh = sc.map { case (f, a, _) => math.abs(f - a) * 1000000L / a }.sum
    val sn = sc.map { case (_, a, p) => math.abs(p - a) * 1000000L / a }.sum
    val sb = sc.map { case (f, a, _) => f - a }.sum
    def r4(x: Double) = BigDecimal(x).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getLong(0) == n)
    assert(r.getDouble(1) == r4(sh.toDouble / n / 1e6))
    assert(r.getDouble(2) == r4(sn.toDouble / n / 1e6))
    assert(r.getDouble(3) == r4(sh.toDouble / sn.toDouble))
    assert(r.getDouble(4) == BigDecimal(sb.toDouble / n / 100.0)
      .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("q_stl: rev = trend + seasonal + resid wherever trend is defined") {
    val rows = SparkEntry.queries("q_stl")(spark, sf001).collect()
    assert(rows.length > 12)
    val full = rows.filter(!_.isNullAt(2))
    assert(full.nonEmpty)
    full.foreach { r =>
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3) + r.getLong(4),
        r.toString)
    }
    // edge months: no full 12-month window -> trend and resid both null
    rows.filter(_.isNullAt(2)).foreach(r => assert(r.isNullAt(4), r.toString))
  }

  test("all recursive queries plan a UnionLoop, never a cartesian") {
    for (name <- Seq("q_rcte_decay", "q_rcte_reach", "q_holt", "q_backtest",
        "q_holt_grouped")) {
      val qe = SparkEntry.queries(name)(spark, sf001).queryExecution
      val loops = qe.optimizedPlan.collect { case u: UnionLoop => u }
      assert(loops.nonEmpty, s"$name lost its UnionLoop")
      assert(!qe.executedPlan.toString.contains("CartesianProduct"), name)
    }
  }

  test("the reach recursion dedups inside the loop (frontier <= nodes)") {
    // the scale guard: the recursive term must re-DISTINCT each step, or
    // path multiplicity compounds as degree^depth
    val qe = SparkEntry.queries("q_rcte_reach")(spark, sf001).queryExecution
    val loop = qe.optimizedPlan.collect { case u: UnionLoop => u }.head
    val dedups = loop.recursion.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      case d: org.apache.spark.sql.catalyst.plans.logical.Distinct => d
    }
    assert(dedups.nonEmpty, loop.recursion.toString)
  }
}
