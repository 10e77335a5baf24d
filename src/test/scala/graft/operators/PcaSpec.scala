package graft.operators

import graft.SparkSpec

/** Power-iteration dominant direction: alignment on planted data,
  * determinism, fixed-point contract, degenerate guard. */
class PcaSpec extends SparkSpec {
  import spark.implicits._

  // corpus whose variance lives along (3, 4): points t·(0.3, 0.4) for
  // t in ±{1..4}, plus tiny off-axis jitter so the covariance is full
  // rank (the jitter axis carries ~1e4× less variance)
  private def planted = Seq(
    (1L, Array(0.3f, 0.4f)), (2L, Array(-0.3f, -0.4f)),
    (3L, Array(0.6f, 0.8f)), (4L, Array(-0.6f, -0.8f)),
    (5L, Array(0.9f, 1.2f)), (6L, Array(-0.9f, -1.2f)),
    (7L, Array(0.31f, 0.39f)), (8L, Array(-0.29f, -0.41f))
  ).toDF("vec_id", "embedding")

  test("planted dominant direction is recovered: components in 3:4 " +
      "ratio, max-abs coordinate renormalized to the scale") {
    val v = Pca.dominantDirection(planted, "vec_id", "embedding", iters = 3)
      .orderBy("i").as[(Int, Long)].collect()
    assert(v.map(_._1).toSeq === Seq(1, 2))
    val Array(x1, x2) = v.map(_._2)
    // renorm contract: the max-abs coordinate IS ±scale
    assert(math.max(math.abs(x1), math.abs(x2)) === 1000L)
    // direction ∝ (3,4): x1/x2 = 750/1000 within fixed-point slack
    assert(math.abs(x2) === 1000L)
    assert(math.abs(math.abs(x1) - 750L) <= 3L, s"($x1, $x2)")
    // same sign (both positive or both negative — the direction, not
    // its orientation, is the semantic)
    assert(x1 * x2 > 0)
  }

  test("deterministic across repartitionings") {
    val a = Pca.dominantDirection(planted.repartition(5), "vec_id",
      "embedding", 3).orderBy("i").as[(Int, Long)].collect().toSeq
    val b = Pca.dominantDirection(planted.coalesce(1), "vec_id",
      "embedding", 3).orderBy("i").as[(Int, Long)].collect().toSeq
    assert(a === b)
  }

  test("an all-constant corpus (zero covariance) raises, not NaN/garbage") {
    val const = Seq((1L, Array(0.5f, 0.5f)), (2L, Array(0.5f, 0.5f)))
      .toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException] {
      Pca.dominantDirection(const, "vec_id", "embedding", 1)
    }
    assert(ex.getMessage.contains("degenerate"))
  }

  test("matches the same integer recurrence computed locally") {
    // independent reimplementation of the exact arithmetic over the
    // planted corpus — the in-JVM oracle for the driver-side algebra
    val rows = planted.orderBy("vec_id").as[(Long, Array[Float])].collect()
    val qs = rows.map(_._2.map(f => math.floor(f.toDouble * 1000 + 0.5).toLong))
    val n = qs.length.toLong
    val dim = 2
    val s = Array.tabulate(dim)(i => qs.map(_(i)).sum)
    val g = Array.tabulate(dim, dim) { (i, j) =>
      (n * qs.map(q => q(i) * q(j)).sum - s(i) * s(j)) / (n * n)
    }
    var v = Array(1000L, 0L)
    for (_ <- 1 to 3) {
      val w = Array.tabulate(dim)(i => (0 until dim).map(j => g(i)(j) * v(j)).sum)
      val m = w.map(math.abs).max
      v = w.map(x => x * 1000 / m)
    }
    val got = Pca.dominantDirection(planted, "vec_id", "embedding", 3)
      .orderBy("i").as[(Int, Long)].collect().map(_._2).toSeq
    assert(got === v.toSeq)
  }

  test("one-pass GramAgg path ≡ the join-form fallback, bit for bit") {
    // a 5-dim deterministic pseudo-random corpus so the equality is not
    // an artifact of the planted corpus's symmetry
    val corpus = (1L to 40L).map { id =>
      (id, Array.tabulate(5)(j =>
        (math.sin(id * 7.3 + j * 1.9) * (1 + j)).toFloat))
    }.toDF("vec_id", "embedding").repartition(7)
    for (src <- Seq(planted.repartition(3), corpus)) {
      val agg = Pca.dominantDirection(src, "vec_id", "embedding", 3)
        .orderBy("i").as[(Int, Long)].collect().toSeq
      val join = Pca.dominantDirection(src, "vec_id", "embedding", 3,
        gramViaJoin = true).orderBy("i").as[(Int, Long)].collect().toSeq
      assert(agg === join)
    }
  }

  test("blocked (tiled) gram path ≡ GramAgg ≡ join, bit for bit — " +
      "including block sizes that do and don't divide dim") {
    // 5-dim corpus: B=2 leaves a short edge block (5 = 2+2+1), B=5 is a
    // single tile, B=8 over-covers — all must agree with the monolith
    val corpus = (1L to 40L).map { id =>
      (id, Array.tabulate(5)(j =>
        (math.sin(id * 7.3 + j * 1.9) * (1 + j)).toFloat))
    }.toDF("vec_id", "embedding").repartition(7)
    val ref = Pca.dominantDirection(corpus, "vec_id", "embedding", 3)
      .orderBy("i").as[(Int, Long)].collect().toSeq
    for (b <- Seq(1, 2, 3, 5, 8)) {
      val tiled = Pca.dominantDirection(corpus, "vec_id", "embedding", 3,
        gramBlock = b).orderBy("i").as[(Int, Long)].collect().toSeq
      assert(tiled === ref, s"gramBlock=$b diverged from GramAgg")
    }
    // and on the planted corpus against the join reference too
    val j = Pca.dominantDirection(planted, "vec_id", "embedding", 3,
      gramViaJoin = true).orderBy("i").as[(Int, Long)].collect().toSeq
    val t = Pca.dominantDirection(planted, "vec_id", "embedding", 3,
      gramBlock = 1).orderBy("i").as[(Int, Long)].collect().toSeq
    assert(t === j)
  }

  test("tiled gram rejects a ragged corpus by name, like the monolith") {
    val ragged = Seq((1L, Array(0.1f, 0.2f, 0.3f)), (2L, Array(0.3f)))
      .toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      Pca.dominantDirection(ragged, "vec_id", "embedding", 1, gramBlock = 2)
    }
    def causes(th: Throwable): Seq[Throwable] =
      if (th == null) Nil else th +: causes(th.getCause)
    assert(causes(ex).exists(c =>
      Option(c.getMessage).exists(_.contains("ragged"))), ex.getMessage)
  }

  test("tile frame plan: ONE aggregation exchange keyed by tile; the " +
      "explode feeds the partial agg in-stage (no raw block-row shuffle)") {
    val f = Pca.gramTileFrame(planted, "embedding", 1000, 1)
    f.collect()
    val plan = f.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // partial aggregation must sit UNDER the exchange: the shuffle
    // carries per-task tile buffers, never exploded corpus rows
    assert(plan.contains("partial_gramtileagg"),
      s"no map-side partial tile agg:\n$plan")
    assert("Exchange".r.findAllIn(plan).size === 1, plan)
    assert(!plan.contains("Join"), plan)
  }

  test("gram frame plan: no Generate, no Join, no corpus re-key") {
    val f = Pca.gramFrame(planted, "embedding", 1000)
    f.collect()
    // final AQE plan only (the executed-plan string repeats the initial)
    val plan = f.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("Generate"), s"posexplode leaked into:\n$plan")
    assert(!plan.contains("Join"), s"join leaked into:\n$plan")
    assert(plan.contains("partial_gramagg"), s"no map-side partial:\n$plan")
    // exactly one exchange: the partial→final buffer merge (one
    // (2+dim+dim²)-long buffer per map task, never corpus rows)
    assert("Exchange".r.findAllIn(plan).size === 1, plan)
  }

  test("magnitudes past the old int64 cell bound now compute exactly " +
      "(driver algebra in BigInt — the production-scale variant)") {
    // coords ~±100 quantize to ~±100k; covariance cells ~1e10, past the
    // round-11 bound Long.MaxValue/(dim·scale²·2) ≈ 2.3e9 that used to
    // reject this corpus loudly
    val big = Seq(
      (1L, Array(100f, 0.1f)), (2L, Array(-100f, -0.1f)),
      (3L, Array(200f, 0.2f)), (4L, Array(-200f, -0.2f))
    ).toDF("vec_id", "embedding")
    val got = Pca.dominantDirection(big, "vec_id", "embedding", 2)
      .orderBy("i").as[(Int, Long)].collect()
    // local BigInt recurrence, independently
    val qs = Seq(Array(100000L, 100L), Array(-100000L, -100L),
      Array(200000L, 200L), Array(-200000L, -200L))
    val n = BigInt(4)
    val s = Array.tabulate(2)(i => qs.map(q => BigInt(q(i))).sum)
    val g = Array.tabulate(2, 2) { (i, j) =>
      (n * qs.map(q => BigInt(q(i)) * q(j)).sum - s(i) * s(j)) / (n * n)
    }
    var v = Array(BigInt(1000), BigInt(0))
    for (_ <- 1 to 2) {
      val w = Array.tabulate(2)(i => (0 until 2).map(j => g(i)(j) * v(j)).sum)
      val m = w.map(_.abs).max
      v = w.map(x => x * 1000 / m)
    }
    assert(got.map(_._2).toSeq === v.map(_.toLong).toSeq)
    assert(math.abs(got(0)._2) === 1000L) // variance lives on axis 1
  }

  test("a ragged corpus is rejected by name, not an opaque lookup error") {
    val ragged = Seq((1L, Array(0.1f, 0.2f)), (2L, Array(0.3f)))
      .toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      Pca.dominantDirection(ragged, "vec_id", "embedding", 1)
    }
    // surfaces from the GramAgg reduce, possibly wrapped by Spark
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(c =>
      Option(c.getMessage).exists(_.contains("ragged"))), ex.getMessage)
  }
}
