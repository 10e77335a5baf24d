package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class IvfSpec extends SparkSpec {
  import spark.implicits._

  // two well-separated clusters around (±10, 0)
  private def vecs = (0 until 20).map { i =>
    val base = if (i % 2 == 0) 10.0f else -10.0f
    (i.toLong, Array(base + (i % 5) * 0.1f, (i % 3) * 0.1f))
  }.toDF("vec_id", "embedding")

  test("train produces k centroids that separate the clusters") {
    val c = Ivf.train(vecs, "vec_id", "embedding", k = 2, iters = 3)
    assert(c.length == 2)
    val xs = c.map(_._2.head).sorted
    assert(xs(0) < -5 && xs(1) > 5, xs.toSeq.toString)
  }

  test("assign is a narrow shuffle-free argmin to the nearest centroid") {
    val cents = Ivf.train(vecs, "vec_id", "embedding", 2, 3)
    val assigned = Ivf.assign(vecs, cents, "embedding")
    // no Exchange in the plan: assignment must not shuffle
    assert(!assigned.queryExecution.executedPlan.toString.contains("Exchange"))
    val a = assigned.collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
    assert(a.size == 20)
    assert(a.filterKeys(_ % 2 == 0).values.toSet.size == 1)
    assert(a.filterKeys(_ % 2 == 1).values.toSet.size == 1)
    assert(a(0L) != a(1L))
  }

  test("search with nprobe=1 finds neighbours from the query's cluster only") {
    val cents = Ivf.train(vecs, "vec_id", "embedding", 2, 3)
    val hits = Ivf.search(vecs, cents, "vec_id", "embedding",
      queryId = 0L, k = 5, nprobe = 1).collect().map(_.getLong(0))
    assert(hits.nonEmpty && hits.forall(_ % 2 == 0))
  }

  test("fixedCellOf assigns argmax dim, ties to the smallest dim") {
    val d = Seq(
      (0L, Array(5.0f, 1.0f, 0.0f)),  // cell 0
      (1L, Array(1.0f, 9.0f, 0.0f)),  // cell 1
      (2L, Array(2.0f, 2.0f, 1.0f))   // tie dims 0,1 -> cell 0
    ).toDF("vec_id", "embedding")
    val cells = d.select(col("vec_id"), Ivf.fixedCellOf("embedding", 3).as("c"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cells == Map(0L -> 0, 1L -> 1, 2L -> 0))
  }

  test("cellOf (codegen'd NearestCellF) ≡ the inlined reference form, " +
      "codegen and interpreted, ties included") {
    // engineered exact ties: duplicate centroids and a point equidistant
    // to two cells — the primitive scan must keep the FIRST minimum
    // exactly like array_position(ds, array_min(ds)) on the inlined form
    val rnd = new scala.util.Random(55)
    val pts = (0 until 60).map { id =>
      (id.toLong, Array.fill(3)((rnd.nextInt(9) - 4) / 2.0f))
    } :+ (100L, Array(1.0f, 1.0f, 1.0f))
    val df = pts.toDF("vec_id", "embedding").repartition(4)
    val cents: Ivf.Centroids = Array(
      (0, Array(1.0f, 1.0f, 1.0f)),
      (1, Array(1.0f, 1.0f, 1.0f)), // exact duplicate: tie -> cell 0
      (2, Array(-0.5f, 0.0f, 0.5f)),
      (3, Array(0.0f, 0.0f, 0.0f)))
    def run() = df.select(col("vec_id"),
        Ivf.cellOf(cents, "embedding").as("cell"),
        Ivf.cellOfInlined(cents, "embedding").as("cell_ref"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
      .toSeq.sortBy(_._1)
    val fast = run()
    fast.foreach { case (id, c, cr) => assert(c === cr, s"id=$id") }
    assert(fast.find(_._1 == 100L).get._2 === 0) // tie kept the first cell
    withCodegenDisabled(assert(run() === fast))
  }

  test("train rejects a ragged corpus by name (no avg-null NPE)") {
    val ragged = Seq(
      (0L, Array(1.0f, 2.0f)),
      (1L, Array(3.0f, 4.0f)),
      (2L, Array(5.0f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Ivf.train(ragged, "vec_id", "embedding", k = 1, iters = 1)
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("ragged")), s"got: $e")
  }

  test("train planning is dim-independent: one array-typed aggregate at " +
      "dim 2048 (the retired per-coordinate avg fan-out built 2048 " +
      "aggregate expressions here)") {
    val rnd = new scala.util.Random(91)
    val hi = (0 until 12).map(i =>
      (i.toLong, Array.fill(2048)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val cents = Ivf.train(hi, "vec_id", "embedding", k = 4, iters = 1)
    assert(cents.nonEmpty && cents.head._2.length == 2048)
  }

  test("cellOf has no cell-count cap: train + search at k=1024 cells") {
    // production coarse IVF wants k ~ √n cells (thousands); the retired
    // inlined form capped at 256 because codegen grew linearly with k.
    // NearestCellF's code size is k-independent — one Lloyd round and a
    // probed search at k=1024 must just work.
    val big = (0 until 1200).map { i =>
      // +1 keeps every vector (and so every cosine denominator) nonzero
      (i.toLong, Array((i % 40 + 1).toFloat, (i / 40 + 1).toFloat))
    }.toDF("vec_id", "embedding")
    val cents = Ivf.train(big, "vec_id", "embedding", k = 1024, iters = 1)
    assert(cents.length > 256, s"only ${cents.length} cells survived")
    val hits = Ivf.search(big, cents, "vec_id", "embedding",
      queryId = 41L, k = 5, nprobe = 8).collect() // vec (1,1): nonzero norm
    assert(hits.nonEmpty)
  }

  test("searchFixed probes the query's top cells and ranks by cosine") {
    // cell structure on dims 0..2; query's top-2 dims are 0 and 1
    val d = Seq(
      (0L, Array(3.0f, 2.0f, 0.0f)),  // query: probes cells {0, 1}
      (1L, Array(4.0f, 2.5f, 0.0f)),  // cell 0, nearly parallel to query
      (2L, Array(0.0f, 5.0f, 0.0f)),  // cell 1
      (3L, Array(0.0f, 0.0f, 9.0f))   // cell 2: NOT probed
    ).toDF("vec_id", "embedding")
    val hits = Ivf.searchFixed(d, "vec_id", "embedding",
      queryId = 0L, k = 10, cells = 3, nprobe = 2)
      .collect().map(_.getLong(0)).toSeq
    assert(hits == Seq(1L, 2L)) // ranked by cosine, cell-2 vector excluded
  }

  test("float-Lloyd trained centroids at sf0.1 are pinned by digest") {
    // the float-Lloyd library path's trained state, pinned (q_cosine_ivf
    // itself moved to the oracle-exact integer-KMeans quantizer in round
    // 12): Lloyd training with k=8, iters=2, id-ordered init on
    // the sf0.1 embeddings must reproduce THESE centroids. Values are
    // rounded to 1e-4 before hashing so a ±1-ulp float-merge-order wobble
    // in the distributed mean can never flip the digest, while any real
    // change (init, assignment, re-indexing, iteration count) does.
    val emb = graft.sources.Tables.table(spark, "/root/testdata/sf0.1",
      "embeddings")
    val cs = Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 2)
    val rendered = cs.map { case (i, a) =>
      s"$i:" + a.map(v => "%.4f".formatLocal(java.util.Locale.ROOT, v))
        .mkString(",") }.mkString(";")
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(rendered.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(digest == "354ccba931abc08b53f296b37b25bc04",
      s"centroid digest changed: $digest\n$rendered")
  }

  test("searchKMeansTrained probes the trained cells nearest the query " +
      "and ranks candidates by exact cosine") {
    // two planted blobs + one outlier; k=2 trained cells separate the
    // blobs, nprobe=1 restricts candidates to the query's own blob
    val d = Seq(
      (0L, Array(10.0f, 10.0f)),   // query, blob A (seeds cell 0)
      (1L, Array(-10.0f, 10.0f)),  // blob B (seeds cell 1)
      (2L, Array(11.0f, 9.5f)),    // blob A — must rank first (cos)
      (3L, Array(9.0f, 12.0f)),    // blob A
      (4L, Array(-9.5f, 11.0f)),   // blob B: excluded by nprobe=1
      (5L, Array(-11.0f, 9.0f))    // blob B: excluded
    ).toDF("vec_id", "embedding")
    val hits = Ivf.searchKMeansTrained(d, "vec_id", "embedding",
      queryId = 0L, k = 10, cells = 2, nprobe = 1, iters = 2)
      .collect().map(_.getLong(0)).toSeq
    assert(hits.toSet === Set(2L, 3L)) // own-blob candidates only
    assert(hits.head === 2L) // nearly-parallel vector ranks first
  }
}
