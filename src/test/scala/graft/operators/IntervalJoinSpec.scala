package graft.operators

import graft.SparkSpec

class IntervalJoinSpec extends SparkSpec {
  import spark.implicits._

  test("pointInInterval equals the brute-force non-equi join (random data)") {
    val rnd = new scala.util.Random(42)
    val pts = (0 until 400).map(i => (i.toLong, rnd.nextInt(2000).toLong))
      .toDF("pid", "pt")
    // mix of lengths around/below/above the bin width, incl. empty
    val ivs = (0 until 120).map { i =>
      val s = rnd.nextInt(2000).toLong
      (i.toLong, s, s + rnd.nextInt(300).toLong)
    }.toDF("wid", "s", "e")

    val got = IntervalJoin.pointInInterval(pts, "pt", ivs, "s", "e", 100L)
      .select("pid", "wid").as[(Long, Long)].collect().toSet
    val want = pts.join(ivs, $"pt" >= $"s" && $"pt" < $"e")
      .select("pid", "wid").as[(Long, Long)].collect().toSet
    assert(got == want)
    assert(want.nonEmpty) // the comparison must actually exercise matches
  }

  test("pointInInterval is exact on negative domains and bin boundaries") {
    val pts = Seq(-100L, -1L, 0L, 1L, 99L, 100L).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("pid", "pt")
    val ivs = Seq((0L, -100L, 0L), (1L, 0L, 100L), (2L, 100L, 101L))
      .toDF("wid", "s", "e")
    val got = IntervalJoin.pointInInterval(pts, "pt", ivs, "s", "e", 100L)
      .select("pt", "wid").as[(Long, Long)].collect().toSet
    // half-open: -100,-1 -> iv0; 0,1,99 -> iv1; 100 -> iv2
    assert(got == Set((-100L, 0L), (-1L, 0L), (0L, 1L), (1L, 1L), (99L, 1L), (100L, 2L)))
  }

  test("extraKeys restrict matches to equal keys") {
    val pts = Seq((1L, 50L, "a"), (2L, 50L, "b")).toDF("pid", "pt", "pk")
    val ivs = Seq((10L, 0L, 100L, "a")).toDF("wid", "s", "e", "ik")
    val got = IntervalJoin.pointInInterval(pts, "pt", ivs, "s", "e", 64L,
        extraKeys = Seq(("pk", "ik")))
      .select("pid").as[Long].collect().toSeq
    assert(got == Seq(1L))
  }

  test("empty and inverted intervals match nothing") {
    val pts = Seq((1L, 5L)).toDF("pid", "pt")
    val ivs = Seq((10L, 5L, 5L), (11L, 9L, 2L)).toDF("wid", "s", "e")
    assert(IntervalJoin.pointInInterval(pts, "pt", ivs, "s", "e", 10L).isEmpty)
  }

  test("bin math is exact beyond double precision (values near 2^62)") {
    val base = (1L << 62) + 12345L
    // points sit just inside / just outside an interval whose bounds are
    // NOT representable as doubles — double division would misbin them
    val pts = Seq((1L, base), (2L, base + 999L), (3L, base + 1000L))
      .toDF("pid", "pt")
    val ivs = Seq((10L, base, base + 1000L)).toDF("wid", "s", "e")
    val got = IntervalJoin.pointInInterval(pts, "pt", ivs, "s", "e", 1000L)
      .select("pid").as[Long].collect().toSet
    assert(got == Set(1L, 2L)) // 3 is at the exclusive end bound
  }

  test("an oversized sentinel interval is excluded, not fatal") {
    val pts = Seq((1L, 500L)).toDF("pid", "pt")
    val ivs = Seq(
      (10L, 0L, 1000L),             // sane: matches
      (11L, 0L, Long.MaxValue),     // corrupt sentinel: would explode
      // BOTH bounds corrupt: endBin - startBin overflows Long and wraps
      // NEGATIVE — a plain `span < cap` long filter would PASS it and the
      // sequence explode/throw; the decimal span check must exclude it
      (12L, Long.MinValue, Long.MaxValue)
    ).toDF("wid", "s", "e")
    val got = IntervalJoin.pointInInterval(pts, "pt", ivs, "s", "e", 100L)
      .select("wid").as[Long].collect().toSeq
    assert(got == Seq(10L)) // query survives; only the sane interval joins

    // binWidth=1 is the case where the LONG span subtraction actually
    // wraps: endBin-startBin ≈ 2^64 > Long.MaxValue goes negative and
    // would PASS a plain `span < cap` filter — only the decimal span
    // check excludes it (at binWidth=100 the span still fits in a long,
    // so the case above never exercises the wrap)
    val got1Ids = IntervalJoin.pointInInterval(
      Seq((1L, 25L)).toDF("pid", "pt"), "pt",
      Seq((10L, 0L, 50L), (12L, Long.MinValue, Long.MaxValue)).toDF("wid", "s", "e"),
      "s", "e", 1L)
      .select("wid").as[Long].collect().toSeq
    assert(got1Ids == Seq(10L))
  }

  test("the plan is an equi join — no nested loop, no cartesian") {
    val pts = spark.range(100).select($"id".as("pid"), ($"id" * 7 % 500).as("pt"))
    val ivs = spark.range(20).select($"id".as("wid"), ($"id" * 25).as("s"),
      ($"id" * 25 + 40).as("e"))
    val plan = IntervalJoin.pointInInterval(pts, "pt", ivs, "s", "e", 50L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("Cartesian"), plan)
  }
}
