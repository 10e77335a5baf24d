package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Integer-exact Lloyd's k-means: determinism, the emptied-cell
  * convention, quantization arithmetic, and clustering behavior on
  * planted blobs. */
class KMeansSpec extends SparkSpec {
  import spark.implicits._

  private def blobs = {
    // two well-separated 4-dim blobs, 4 points each, ids fix the seeds:
    // ids 0,1 seed cells 0,1 (k=2 init = first k in id order)
    Seq(
      (0L, Array(0.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(10.0f, 10.0f, 10.0f, 10.0f)),
      (2L, Array(0.2f, -0.1f, 0.1f, 0.0f)),
      (3L, Array(10.2f, 9.9f, 10.1f, 10.0f)),
      (4L, Array(-0.2f, 0.1f, 0.0f, 0.1f)),
      (5L, Array(9.8f, 10.1f, 10.0f, 9.9f))
    ).toDF("vec_id", "embedding")
  }

  test("planted blobs separate: every point lands with its blob's seed") {
    val cent = KMeans.train(blobs, "vec_id", "embedding", k = 2, iters = 2)
    val cells = blobs
      .select(col("vec_id"),
        KMeans.cellOf(cent, KMeans.quantize(col("embedding"), 1000)).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(Set(0L, 2L, 4L).map(cells) === Set(0))
    assert(Set(1L, 3L, 5L).map(cells) === Set(1))
    // trained centroid 0 is the floor-div mean of the quantized blob:
    // coords (0+200-200)/3=0, (0-100+100)/3=0, (0+100+0)/3=33, (0+0+100)/3=33
    assert(cent(0).toSeq === Seq(0L, 0L, 33L, 33L))
  }

  test("train is deterministic across repartitionings") {
    val a = KMeans.train(blobs.repartition(7), "vec_id", "embedding", 2, 3)
    val b = KMeans.train(blobs.coalesce(1), "vec_id", "embedding", 2, 3)
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
  }

  test("an emptied cell keeps its previous centroid (and can refill)") {
    // duplicate seed vectors: both centroids start at (1000,1000), so
    // EVERY point ties and the tie-break (smaller cell id) sends all
    // members to cell 0 — cell 1 is genuinely empty after round 1 and
    // must keep its seed centroid
    val df = Seq(
      (0L, Array(1.0f, 1.0f)),
      (1L, Array(1.0f, 1.0f)),
      (2L, Array(1.1f, 1.0f))
    ).toDF("vec_id", "embedding")
    val r1 = KMeans.train(df, "vec_id", "embedding", k = 2, iters = 1)
    assert(r1(1).toSeq === Seq(1000L, 1000L)) // kept, not NaN/zeroed
    assert(r1(0).toSeq === Seq((1000L + 1000L + 1100L) / 3, 1000L))
    // round 2: cell 0's mean moved to (1033,1000), so the two (1,1)
    // points are now strictly closer to the kept cell-1 centroid — the
    // emptied cell REFILLS (the convention that makes keeping it matter)
    val r2 = KMeans.train(df, "vec_id", "embedding", k = 2, iters = 2)
    assert(r2(1).toSeq === Seq(1000L, 1000L))
    assert(r2(0).toSeq === Seq(1100L, 1000L))
  }

  test("quantize is floor(x*scale + 0.5) on the double-widened value " +
      "(signed-safe half-up)") {
    val vs = Seq(-0.0015f, 0.0015f, -0.5f, 0.4995f, -1.0f, 0.9999f)
    val q = Seq((1L, vs.toArray)).toDF("id", "e")
      .select(KMeans.quantize(col("e"), 1000).as("q"))
      .as[Seq[Long]].head()
    // the contract is the double-widened arithmetic exactly — float
    // literals like -0.0015 are NOT exactly representable, so the
    // expectation must be computed, not hand-written
    def expect(f: Float): Long =
      math.floor(f.toDouble * 1000 + 0.5).toLong
    assert(q === vs.map(expect))
  }

  test("train matches a single-threaded reference on random corpora " +
      "(property, seeded)") {
    // local replication of the exact integer recurrence — same contract
    // the DuckDB oracle pins, exercised across shapes the fixed corpus
    // can't reach (k up to 5, dims 2-5, duplicate points, negatives)
    def refTrain(qs: Array[(Long, Array[Long])], k: Int,
        iters: Int): Array[Array[Long]] = {
      var cent = qs.sortBy(_._1).take(k).map(_._2)
      def cellOf(q: Array[Long]): Int =
        cent.map(c => c.zip(q).map { case (a, b) => (b - a) * (b - a) }.sum)
          .zipWithIndex.minBy { case (d, j) => (d, j) }._2
      for (_ <- 1 to iters) {
        val members = qs.groupBy { case (_, q) => cellOf(q) }
        cent = cent.zipWithIndex.map { case (old, cell) =>
          members.get(cell) match {
            case Some(rows) =>
              val n = rows.length
              Array.tabulate(old.length)(i => rows.map(_._2(i)).sum / n)
            case None => old
          }
        }
      }
      cent
    }
    val rnd = new scala.util.Random(421)
    for (trial <- 1 to 8) {
      val dim = 2 + rnd.nextInt(4)
      val k = 2 + rnd.nextInt(4)
      val nPts = k + rnd.nextInt(30)
      val pts = (0 until nPts).map { id =>
        (id.toLong, Array.fill(dim)((rnd.nextInt(4001) - 2000) / 1000.0f))
      }
      val df = pts.toDF("vec_id", "embedding").repartition(3)
      val got = KMeans.train(df, "vec_id", "embedding", k, iters = 2)
      val qs = pts.map { case (id, e) =>
        (id, e.map(f => math.floor(f.toDouble * 1000 + 0.5).toLong))
      }.toArray
      val want = refTrain(qs, k, 2)
      assert(got.map(_.toSeq).toSeq === want.map(_.toSeq).toSeq,
        s"trial=$trial dim=$dim k=$k n=$nPts")
    }
  }

  test("codegen'd assignment (NearestCell/NearestDist2) ≡ the HOF fold " +
      "reference, codegen and interpreted, ties included") {
    // random corpora + engineered exact ties (duplicate centroids, points
    // equidistant to two cells) — the early-exit loop must keep the FIRST
    // minimum exactly like the fold's strict `<`
    val rnd = new scala.util.Random(77)
    val pts = (0 until 60).map { id =>
      (id.toLong, Array.fill(3)((rnd.nextInt(9) - 4) / 2.0f))
    } :+ (100L, Array(1.0f, 1.0f, 1.0f)) // ties to duplicate centroids
    val df = pts.toDF("vec_id", "embedding").repartition(4)
    val cents = Array(
      Array(1000L, 1000L, 1000L),
      Array(1000L, 1000L, 1000L), // exact duplicate: tie -> cell 0
      Array(-500L, 0L, 500L),
      Array(0L, 0L, 0L))
    val q = KMeans.quantize(col("embedding"), 1000)
    def run() = df.select(col("vec_id"),
        KMeans.cellOf(cents, q).as("cell"),
        KMeans.minDist2(cents, q).as("d2"),
        KMeans.cellOfFold(cents, q).as("cell_ref"),
        KMeans.minDist2Fold(cents, q).as("d2_ref"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getInt(3), r.getLong(4))).toSeq.sortBy(_._1)
    val fast = run()
    fast.foreach { case (id, c, d, cr, dr) =>
      assert(c === cr, s"cell mismatch id=$id")
      assert(d === dr, s"dist mismatch id=$id")
    }
    assert(fast.find(_._1 == 100L).get._2 === 0) // tie kept the first cell
    // interpreted path of the custom expressions agrees with codegen
    withCodegenDisabled(assert(run() === fast))
  }

  test("census covers every cell, n sums to corpus, inertia is the " +
      "assigned distance sum") {
    val cent = KMeans.train(blobs, "vec_id", "embedding", k = 2, iters = 2)
    val rows = KMeans.census(blobs, "vec_id", "embedding", cent)
      .orderBy("cell").collect()
    assert(rows.map(_.getInt(0)).toSeq === Seq(0, 1))
    assert(rows.map(_.getLong(1)).sum === 6L)
    assert(rows.forall(_.getLong(2) >= 0L))
    // checksum pins the trained coordinates: Σ c_i·(i+1)
    val want = cent.map(c => c.zipWithIndex.map { case (v, i) => v * (i + 1) }.sum)
    assert(rows.map(_.getLong(3)).toSeq === want.toSeq)
  }
}
