package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def comps(edges: Seq[(Long, Long)], maxIter: Int = 20) =
    Components.connectedComponents(edges.toDF("src", "dst"), maxIter = maxIter)
      .as[(Long, Long)].collect().toMap

  /** Seeded random digraph with self-loops and parallel edges, plus a
    * source-only vertex (40 → 3) and a dangling sink (5 → 41): the rows
    * where a keep-own-label or zero-inflow combine could go wrong. */
  private lazy val seededGraph: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(16)
    Seq.fill(120)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong)) ++
      Seq((40L, 3L), (5L, 41L))
  }

  test("two components, direction-agnostic, min-id label") {
    // {1,2,3} linked as a path (3->2, 1->2: both edge directions) + {5,6}
    val m = comps(Seq((3L, 2L), (1L, 2L), (5L, 6L)))
    assert(m === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("chain graph converges with maxIter == diameter exactly") {
    // 0-1-2-…-9 path: worst case for hash-min (diameter 9); the loop runs
    // maxIter+1 rounds so diameter == maxIter is sufficient (the +1 is the
    // no-change round that OBSERVES the fixpoint)
    val chain = (0L until 9L).map(i => (i, i + 1))
    val m = comps(chain, maxIter = 9)
    assert(m.size === 10 && m.values.forall(_ == 0L))
  }

  test("non-convergence within maxIter is an error, not a wrong answer") {
    val chain = (0L until 9L).map(i => (i, i + 1))
    val e = intercept[IllegalArgumentException](comps(chain, maxIter = 2))
    assert(e.getMessage.contains("converge"))
  }

  test("empty edges yield empty labels") {
    val empty = spark.emptyDataset[(Long, Long)].toDF("src", "dst")
    assert(Components.connectedComponents(empty).isEmpty)
  }

  test("dupClusters sizes: triangle + pair") {
    val df = Components.dupClusters(
      Seq((1L, 2L), (2L, 3L), (1L, 3L), (7L, 9L)).toDF("a", "b"), "a", "b")
      .as[(Long, Long, Long)].collect().toSet
    assert(df === Set((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (7L, 7L, 2L), (9L, 7L, 2L)))
  }

  test("self-loops and duplicate edges are harmless") {
    val m = comps(Seq((1L, 1L), (1L, 2L), (2L, 1L), (1L, 2L)))
    assert(m === Map(1L -> 1L, 2L -> 1L))
  }

  test("random graphs match a local union-find (property, seeded)") {
    val rnd = new scala.util.Random(7)
    val n = 60 // also bounds seededGraph's vertex ids
    val inputs = Seq(0.3, 1.0, 2.5).map(density =>
      s"density=$density" -> Seq.fill((n * density).toInt)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))) :+
      ("seededGraph" -> seededGraph)
    for ((input, edges) <- inputs) {
      // local ground truth: path-compressing union-find, min-id roots
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != c) { val p = parent(c); parent(c) = r; c = p }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      // min-id normalization: the root chosen above is always the min
      // because unions always point the larger root at the smaller
      val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(v => v -> find(v.toInt).toLong).toMap
      assert(comps(edges, maxIter = 64) === expected, input)
    }
  }

  // --- pageRank ---

  private def pr(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    Components.pageRank(edges.toDF("src", "dst"), iters = iters)
      .as[(Long, Long)].collect().toMap

  /** The same scaled-integer recurrence spelled single-threaded — the
    * distributed loop must reproduce it EXACTLY (integer ranks admit no
    * tolerance), same idea as the DuckDB oracle for q_pagerank. */
  private def refPr(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val e = edges.distinct
    val deg = e.groupBy(_._1).map { case (u, es) => u -> es.size.toLong }
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    var r = nodes.map(_ -> 1000000000L).toMap
    for (_ <- 1 to iters) {
      val in = e.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _) => r(u) / deg(u) }.sum
      }
      r = nodes.map(n => n -> (150000000L + 85L * in.getOrElse(n, 0L) / 100L))
        .toMap
    }
    r
  }

  test("pageRank: regular graphs are a fixed point at exactly `scale`") {
    // bidirectional 4-ring: outdeg 2 everywhere and 2 | 10⁹, so each round
    // redistributes mass with zero floor loss — ranks never move
    val ring = (0L until 4L).flatMap(i => Seq((i, (i + 1) % 4), ((i + 1) % 4, i)))
    assert(pr(ring, 7).values.toSet === Set(1000000000L))
  }

  test("pageRank: star centre outranks leaves; no-in-edge node gets base") {
    // 1..4 -> 0 and 0 -> 1..4, plus 9 -> 0 with nothing pointing at 9
    val star = (1L to 4L).flatMap(l => Seq((l, 0L), (0L, l))) :+ (9L, 0L)
    val got = pr(star, 5)
    assert(got === refPr(star, 5))
    assert((1L to 4L).forall(l => got(0L) > got(l)))
    assert(got(9L) === 150000000L)
  }

  test("pageRank: exact vs single-threaded recurrence on random digraphs") {
    val rnd = new scala.util.Random(11)
    val trials = Seq.fill(3)(
      Seq.fill(40)((rnd.nextInt(12).toLong, rnd.nextInt(12).toLong))
        .filter(e => e._1 != e._2).distinct) :+ seededGraph
    for ((edges, trial) <- trials.zipWithIndex)
      assert(pr(edges, 5) === refPr(edges, 5), s"trial=$trial")
  }

  test("pageRank: zero iterations returns uniform initial mass") {
    assert(pr(Seq((1L, 2L), (2L, 1L)), 0).values.toSet === Set(1000000000L))
  }

  test("graph ops tolerate empty edge lists") {
    val empty = spark.emptyDataset[(Long, Long)].toDF("src", "dst")
    assert(Components.pageRank(empty).isEmpty)
    assert(Components.triangles(empty).isEmpty)
    // bfs: an isolated source is still at distance 0 of itself
    assert(Components.bfsDistances(empty, source = 5L)
      .as[(Long, Long)].collect().toMap === Map(5L -> 0L))
  }

  // --- bfsDistances ---

  test("bfs: chain with shortcut; unreachable nodes absent") {
    // 0→1→2→3 plus shortcut 0→2; 9→0 leaves 9 unreachable FROM 0
    val e = Seq((0L, 1L), (1L, 2L), (2L, 3L), (0L, 2L), (9L, 0L))
    val d = Components.bfsDistances(e.toDF("src", "dst"), source = 0L)
      .as[(Long, Long)].collect().toMap
    assert(d === Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 2L))
  }

  test("bfs matches level-by-level reference on random digraphs") {
    val rnd = new scala.util.Random(41)
    for (trial <- 0 until 3) {
      val n = 30
      val edges = Seq.fill(70)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2).distinct
      val adj = edges.groupBy(_._1).map { case (u, es) => u -> es.map(_._2) }
      var dist = Map(0L -> 0L)
      var frontier = Seq(0L)
      var lvl = 0L
      while (frontier.nonEmpty) {
        lvl += 1
        frontier = frontier.flatMap(u => adj.getOrElse(u, Nil))
          .filterNot(dist.contains).distinct
        frontier.foreach(v => dist += v -> lvl)
      }
      val got = Components.bfsDistances(edges.toDF("src", "dst"), source = 0L)
        .as[(Long, Long)].collect().toMap
      assert(got === dist, s"trial=$trial")
    }
  }

  // --- cheapestPaths ---

  private def sssp(edges: Seq[(Long, Long, Long)], source: Long,
      hops: Int): Map[Long, Long] =
    Components.cheapestPaths(edges.toDF("src", "dst", "w"), "src", "dst", "w",
      source, hops).as[(Long, Long)].collect().toMap

  test("cheapestPaths relaxes through cheaper multi-hop routes") {
    // direct 0->3 costs 10; the 0->1->2->3 route costs 3
    val e = Seq((0L, 3L, 10L), (0L, 1L, 1L), (1L, 2L, 1L), (2L, 3L, 1L))
    assert(sssp(e, 0L, 3) === Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L))
    // parallel edges collapse to the cheapest
    assert(sssp(e :+ ((0L, 1L, 7L)), 0L, 3) ===
      Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("cheapestPaths honors the hop budget as the semantic") {
    // with only 1 hop the expensive direct edge is the best available;
    // 3 hops unlock the cheap route — both answers are CORRECT for their
    // budget, which is exactly why the bounded form is oracle-able
    val e = Seq((0L, 3L, 10L), (0L, 1L, 1L), (1L, 2L, 1L), (2L, 3L, 1L))
    assert(sssp(e, 0L, 1) === Map(0L -> 0L, 1L -> 1L, 3L -> 10L))
    assert(sssp(e, 0L, 2) === Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 10L))
    assert(sssp(e, 0L, 3)(3L) === 3L)
  }

  // --- labelPropagation ---

  private def lpa(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] =
    Components.labelPropagation(edges.toDF("src", "dst"), rounds = rounds)
      .as[(Long, Long)].collect().toMap

  /** Single-threaded reference of the same deterministic rule (most
    * frequent in-neighbor label, ties to smallest) on symmetric graphs. */
  private def lpaRef(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    var lbl = nodes.map(n => n -> n).toMap
    for (_ <- 1 to rounds) {
      val in = e.groupBy(_._2)
      lbl = in.map { case (v, es) =>
        // toSeq BEFORE re-keying: a Map keyed by count would collapse
        // labels with tied counts into one arbitrary survivor
        val votes = es.groupBy(x => lbl(x._1)).toSeq.map { case (l, g) => (g.size, l) }
        v -> votes.sortBy(t => (-t._1, t._2)).head._2
      }
    }
    lbl
  }

  test("labelPropagation: two cliques with a bridge settle into two communities") {
    def clique(vs: Seq[Long]) =
      for (a <- vs; b <- vs if a != b) yield (a, b)
    val edges = clique(Seq(0L, 1L, 2L, 3L)) ++ clique(Seq(10L, 11L, 12L, 13L)) ++
      Seq((3L, 10L), (10L, 3L))
    val got = lpa(edges, 3)
    assert(got === lpaRef(edges, 3))
    assert(Seq(0L, 1L, 2L).forall(v => got(v) == 0L))
    assert(Seq(11L, 12L, 13L).forall(v => got(v) == 10L))
  }

  test("labelPropagation is TOTAL on directed inputs: source-only vertices " +
      "keep their label instead of vanishing") {
    // 9 only ever SENDS (9→0); with votes left-joined back onto the full
    // node set it must survive all rounds carrying its own label, and the
    // adopted labels downstream must match the kept-label semantics
    val edges = Seq((9L, 0L), (0L, 1L), (1L, 0L))
    val got = lpa(edges, 3)
    assert(got.keySet === Set(0L, 1L, 9L))
    assert(got(9L) === 9L) // no votes ever arrive at 9 — label carried
    // 0 gets votes from {9, 1} each round, 1 from {0}: round 1 → 0 takes
    // min(9's 9, 1's 1)=1 (tie count 1 ↦ smallest), 1 takes 0 … the pair
    // {0,1} keeps swapping; whatever the unrolled value, every vertex is
    // present and labels are drawn from the initial id set
    assert(got.values.toSet.subsetOf(Set(0L, 1L, 9L)))
  }

  test("labelPropagation matches the reference on random symmetric graphs") {
    val rnd = new scala.util.Random(53)
    for (trial <- 0 until 3) {
      val n = 16
      val base = Seq.fill(40)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2).distinct
      val edges = (base ++ base.map(_.swap)).distinct
      assert(lpa(edges, 3) === lpaRef(edges, 3), s"trial=$trial")
    }
  }

  // --- triangles ---

  private def tris(edges: Seq[(Long, Long)]): Set[(Long, Long, Long)] =
    Components.triangles(edges.toDF("src", "dst"))
      .as[(Long, Long, Long)].collect().toSet

  test("triangles: K4 has all four, C5 has none") {
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    assert(tris(k4) === Set((1L, 2L, 3L), (1L, 2L, 4L), (1L, 3L, 4L),
      (2L, 3L, 4L)))
    val c5 = (0L until 5L).map(i => (i, (i + 1) % 5))
    assert(tris(c5) === Set.empty)
  }

  test("triangles: hub orientation, duplicate/reversed edges, self-loops") {
    // star 0-{1..10} has no triangle until a rim edge closes one; noisy
    // input (both directions, dups, a self-loop) must not change that
    val star = (1L to 10L).map(l => (0L, l))
    val noisy = star ++ star.map(_.swap) ++ Seq((1L, 2L), (2L, 1L), (3L, 3L))
    assert(tris(noisy) === Set((0L, 1L, 2L)))
  }

  test("triangles: matches brute force on random graphs") {
    val rnd = new scala.util.Random(29)
    for (trial <- 0 until 3) {
      val n = 14
      val edges = (for (i <- 0L until n; j <- (i + 1) until n
        if rnd.nextDouble() < 0.35) yield (i, j)).toSeq
      val es = edges.toSet
      val expected = (for {
        a <- 0L until n; b <- (a + 1) until n; c <- (b + 1) until n
        if es((a, b)) && es((b, c)) && es((a, c))
      } yield (a, b, c)).toSet
      assert(tris(edges) === expected, s"trial=$trial")
    }
  }

  // --- kCorePeel ---

  private def kcore(edges: Seq[(Long, Long)], k: Int, rounds: Int) =
    Components.kCorePeel(edges.toDF("src", "dst"), k = k, rounds = rounds)
      .as[(Long, Long)].collect().toMap

  /** Single-threaded peel reference (symmetrize+distinct, then `rounds`
    * synchronous drops of vertices with current degree < k). */
  private def kcoreRef(edges: Seq[(Long, Long)], k: Int, rounds: Int) = {
    var e = edges.flatMap(p => Seq(p, p.swap)).distinct
    for (_ <- 1 to rounds) {
      val deg = e.groupBy(_._1).map { case (v, es) => v -> es.size }
      val keep = deg.filter(_._2 >= k).keySet
      e = e.filter(p => keep(p._1) && keep(p._2))
    }
    e.groupBy(_._1).map { case (v, es) => v -> es.size.toLong }
  }

  test("kCorePeel: a triangle with a pendant peels to the triangle at k=2") {
    // 0-1-2 triangle + pendant 3 on vertex 0: round 1 drops 3 (deg 1);
    // the triangle survives with every degree exactly 2
    val edges = Seq((0L, 1L), (1L, 2L), (0L, 2L), (0L, 3L))
    assert(kcore(edges, k = 2, rounds = 2) ===
      Map(0L -> 2L, 1L -> 2L, 2L -> 2L))
  }

  test("kCorePeel: chain cascade needs one round per shell") {
    // path 0-1-2-3-4 at k=2: each round peels the two current endpoints —
    // bounded rounds expose exactly the intermediate peel state
    val chain = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L))
    assert(kcore(chain, k = 2, rounds = 1) ===
      Map(1L -> 1L, 2L -> 2L, 3L -> 1L))
    assert(kcore(chain, k = 2, rounds = 3) === Map.empty[Long, Long])
  }

  test("kCorePeel: matches the single-threaded peel on random graphs") {
    val rnd = new scala.util.Random(31)
    for (trial <- 0 until 3) {
      val n = 16
      val edges = (for (i <- 0L until n; j <- (i + 1) until n
        if rnd.nextDouble() < 0.3) yield (i, j)).toSeq
      for (k <- Seq(2, 3); r <- Seq(1, 3))
        assert(kcore(edges, k, r) === kcoreRef(edges, k, r),
          s"trial=$trial k=$k rounds=$r")
    }
  }

  private def modOf(edges: Seq[(Long, Long)], labels: Seq[(Long, Long)]) =
    Components.modularity(edges.toDF("src", "dst"),
        labels.toDF("id", "lbl"))
      .as[(Long, Long, Long)].head()

  test("modularity: two disjoint triangles split perfectly = 0.5") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L), (6L, 4L))
    val l = Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 4L)
    // m=6, per community m_c=3, d_c=6: Q = 2·(3/6 − (6/12)²) = 0.5
    assert(modOf(e, l) === ((2L, 6L, 500000L)))
  }

  test("modularity: everything in one community = 0") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    val l = Seq(1L -> 1L, 2L -> 1L, 3L -> 1L)
    // m_c=m, d_c=2m: 4m·m − 4m² = 0
    assert(modOf(e, l) === ((1L, 3L, 0L)))
  }

  test("modularity: anti-community split is negative (truncated " +
      "toward zero like the oracle's //)") {
    // a 4-cycle split across its diagonal pairs: zero intra edges,
    // Q = 2·(0 − (4/8)²) = −0.5
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    val l = Seq(1L -> 1L, 3L -> 1L, 2L -> 2L, 4L -> 2L)
    assert(modOf(e, l) === ((2L, 4L, -500000L)))
  }

  test("modularity: m past the old 1.5e6 int64 cap computes exactly " +
      "(decimal(38,0) community terms — the production-scale arithmetic)") {
    // 4e6 edges in two communities: a star forest (structure irrelevant)
    // whose num = Q·4m² = 3.2e13 makes num·10⁶ = 3.2e19 OVERFLOW int64 —
    // the round-11 in-plan cap rejected this loudly; decimal(38,0) now
    // computes it. Shape: hub h (h < 1000) connects to 4000 unique
    // spokes, all inside its own community c = h%2 — every edge intra.
    // m = 4e6, per community: m_c = 2e6, d_c = 4e6 (sum of degrees).
    // Q = Σ_c (m_c/m − (d_c/2m)²) = 2·(0.5 − 0.25) = 0.5
    val e = spark.range(4000000L).select(
      (col("id") % 1000L).as("src"), // 1000 hubs
      (lit(10000000L) + col("id")).as("dst")) // unique spokes
    val nodes = spark.range(4000000L)
      .select((lit(10000000L) + col("id")).as("id"),
        (col("id") % 1000L % 2L).as("lbl"))
      .union(spark.range(1000L).select(col("id"), (col("id") % 2L).as("lbl")))
    val got = Components.modularity(e, nodes)
      .as[(Long, Long, Long)].head()
    assert(got === ((2L, 4000000L, 500000L)))
  }

  test("modularity: a zero-intra-edge community still contributes " +
      "its degree term") {
    // triangle {1,2,3} + node 4 attached to 1; 4 alone in community B:
    // m=4, A: m_c=3, d_c=7; B: m_c=0, d_c=1
    // Q = (3/4 − (7/8)²) + (0 − (1/8)²) = 0.75 − 49/64 − 1/64 = −1/32
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L))
    val l = Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 9L)
    assert(modOf(e, l) === ((2L, 4L, -31250L)))
  }
}
