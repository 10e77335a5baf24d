package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ValidateSpec extends SparkSpec {
  import spark.implicits._

  private def collectReport(df: org.apache.spark.sql.DataFrame) =
    df.as[(String, Long)].collect().toMap

  test("each check counts its violations; nulls handled per contract") {
    val child = Seq(
      (Some(1L), Some(10.0)), (Some(2L), None), (Some(9L), Some(3.0)),
      (None, Some(-1.0))).toDF("fk", "v")
    val parent = Seq(1L, 2L).toDF("pk")
    val dup = Seq(1L, 1L, 1L, 2L).toDF("k")
    val rep = collectReport(Validate.report(Seq(
      Validate.notNull(child, "v"),                       // 1 null
      // null predicate (null v) must count as a violation, not vanish
      Validate.expect(child, "v>=0", col("v") >= 0),      // -1 and null v
      Validate.refIntegrity(child, "fk", parent, "pk"),   // 9 unmatched; null fk ignored
      Validate.uniqueKey(dup, Seq("k")))))                // 2 extra rows of k=1
    assert(rep === Map(
      "not_null(v)" -> 1L,
      "expect(v>=0)" -> 2L,
      "ref(fk->pk)" -> 1L,
      "unique(k)" -> 2L))
  }

  test("clean data reports zero violations for every check") {
    val df = Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v")
    val rep = collectReport(Validate.report(Seq(
      Validate.notNull(df, "v"),
      Validate.uniqueKey(df, Seq("k")),
      Validate.refIntegrity(df, "k", df, "k"))))
    assert(rep.values.forall(_ == 0L), rep.toString)
  }

  test("zOutliers flags the planted outlier and only it") {
    // group a: nine values at 100±1 plus one at 500 — a huge z; group b:
    // constant (zero variance) so it must be excluded, not NaN-compared
    val a = (0L until 9L).map(i => (i, "a", 99L + (i % 3))) :+ (9L, "a", 500L)
    val b = (10L until 14L).map(i => (i, "b", 42L))
    val df = (a ++ b).toDF("id", "g", "v")
    val got = Validate.zOutliers(df, "v", 2.0, Seq("g"))
      .select("id", "z").as[(Long, Double)].collect().toMap
    assert(got.keySet === Set(9L))
    assert(got(9L) > 2.0)
    // the z value matches the exact-moments formula
    val vs = a.map(_._3.toDouble)
    val n = vs.length
    val mean = vs.sum / n
    val variance = (vs.map(x => x * x).sum - vs.sum * vs.sum / n) / (n - 1)
    assert(math.abs(got(9L) - (500.0 - mean) / math.sqrt(variance)) < 1e-12)
  }

  test("klDrift: identical slices diverge zero; skew matches hand formula") {
    // slice a: 3 en / 1 de; slice b: 1 en / 3 de; corpus: 4 en / 4 de
    val df = (Seq.fill(3)("en") :+ "de").map(("a", _)) ++
      (Seq.fill(3)("de") :+ "en").map(("b", _))
    val got = Validate.klDrift(df.toDF("src", "lang"), "src", "lang",
        Seq("en", "de")).as[(String, Double)].collect().toMap
    val kl = 0.75 * math.log(0.75 / 0.5) + 0.25 * math.log(0.25 / 0.5)
    assert(math.abs(got("a") - kl) < 1e-12 && math.abs(got("b") - kl) < 1e-12)
    // uniform corpus: a slice with the corpus mix has zero divergence
    val uni = Seq(("a", "en"), ("a", "de"), ("b", "en"), ("b", "de"))
    val z = Validate.klDrift(uni.toDF("src", "lang"), "src", "lang",
      Seq("en", "de")).as[(String, Double)].collect().toMap
    assert(z.values.forall(_ == 0.0))
  }

  test("klDrift: categories absent from a slice contribute zero, not NaN") {
    val df = Seq(("a", "en"), ("a", "en"), ("b", "en"), ("b", "de"))
    val got = Validate.klDrift(df.toDF("src", "lang"), "src", "lang",
        Seq("en", "de")).as[(String, Double)].collect().toMap
    // slice a has no 'de': its KL is 1.0*ln(1.0/0.75), finite
    assert(math.abs(got("a") - math.log(1.0 / 0.75)) < 1e-12)
    assert(!got.values.exists(_.isNaN))
  }

  test("zOutliers: Σv² overflow RAISES instead of silently dropping the group") {
    // two values near Long.MaxValue: each square ≈ 8.5e37 fits decimal(38,0)
    // but their sum ≈ 1.7e38 overflows → NULL under non-ANSI Spark; before
    // the guard that NULL silently excluded the whole group at __var > 0
    // while an exact-arithmetic oracle kept it — now it fails loudly
    val big = Long.MaxValue - 1
    val df = Seq((1L, "g", big), (2L, "g", big - 7)).toDF("id", "g", "v")
    // under ANSI (the Spark 4 default) the decimal sum itself throws; the
    // guard exists for non-ANSI sessions where the sum silently NULLs —
    // exercise THAT path explicitly, then restore
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val e = intercept[Exception](
        Validate.zOutliers(df, "v", 2.0, Seq("g")).collect())
      assert(e.getMessage.contains("overflowed"))
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  test("zOutliers: cut bounds are respected in both tails") {
    val rows = Seq((1L, "g", 0L), (2L, "g", 10L), (3L, "g", 10L),
      (4L, "g", 10L), (5L, "g", 20L))
    val got = Validate.zOutliers(rows.toDF("id", "g", "v"), "v", 1.2, Seq("g"))
      .select("id", "z").as[(Long, Double)].collect().toMap
    // symmetric data: 0 and 20 are mirrored outliers, the 10s are not
    assert(got.keySet === Set(1L, 5L))
    assert(got(1L) < -1.2 && got(5L) > 1.2)
  }

  test("winsorize clips each group to its own exact percentiles") {
    // g: 1..10 -> p10 = 1.9, p90 = 9.1 (interpolated); h stays untouched
    val rows = ((1 to 10).map(i => ("g", i.toDouble)) :+ ("h", 100.0) :+ ("h", 200.0))
      .toDF("grp", "value")
    val w = Validate.winsorize(rows, "grp", "value", 0.1, 0.9)
      .groupBy("grp")
      .agg(org.apache.spark.sql.functions.min("value"),
        org.apache.spark.sql.functions.max("value"),
        org.apache.spark.sql.functions.count("value"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getLong(3))).toMap
    assert(w("g") == ((1.9, 9.1, 10L))) // tails clipped TO the percentile
    assert(w("h") == ((110.0, 190.0, 2L))) // 2-point group: interpolation between them
    // row count and schema preserved: it is a value rewrite, not a filter
    assert(Validate.winsorize(rows, "grp", "value", 0.1, 0.9).columns.toSeq
      == rows.columns.toSeq)
  }

  test("winsorize passes NULL groups and NULL values through untouched") {
    val rows = Seq[(Option[String], Option[Double])](
      (Some("g"), Some(1.0)), (Some("g"), Some(2.0)), (Some("g"), Some(100.0)),
      (Some("g"), None),  // null VALUE: must stay null, not become p-hi
      (None, Some(42.0))  // null GROUP: must survive, unclipped
    ).toDF("grp", "value")
    val out = Validate.winsorize(rows, "grp", "value", 0.1, 0.9).collect()
    assert(out.length == rows.count()) // a value rewrite, never a filter
    assert(out.exists(r => r.isNullAt(0) && r.getDouble(1) == 42.0))
    assert(out.count(r => !r.isNullAt(0) && r.isNullAt(1)) == 1)
  }

  test("jsDivergencePairs: 0 for identical slices, ln 2 for disjoint vocab") {
    val docs = Seq(
      ("a", "x y x y"), ("b", "x y x y"),      // identical distribution
      ("c", "p p q q")                          // disjoint vocabulary
    ).toDF("src", "text")
    val got = Validate.jsDivergencePairs(docs, "src", "text",
        Seq(("a", "b"), ("a", "c")))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
      .toMap
    assert(got(("a", "b")) == 0.0)
    // disjoint: every token sees m = p/2, JSD = ln 2 exactly
    assert(got(("a", "c")) == math.floor(math.log(2) * 1e4 + 0.5) / 1e4 ||
      got(("a", "c")) == BigDecimal(math.log(2)).setScale(4,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("jsDivergencePairs is symmetric and bounded by ln 2") {
    val docs = Seq(("a", "x x y"), ("b", "x y y z")).toDF("src", "text")
    val ab = Validate.jsDivergencePairs(docs, "src", "text", Seq(("a", "b")))
      .head.getDouble(2)
    val ba = Validate.jsDivergencePairs(docs, "src", "text", Seq(("b", "a")))
      .head.getDouble(2)
    assert(ab == ba)
    assert(ab > 0.0 && ab < math.log(2))
  }

  test("jsDivergencePairs RAISES on a slice absent from the data") {
    val docs = Seq(("a", "x y"), ("b", "x z")).toDF("src", "text")
    val e = intercept[Exception](
      Validate.jsDivergencePairs(docs, "src", "text", Seq(("a", "nope")))
        .collect())
    assert(e.getMessage.contains("no tokens"))
  }
}
