package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Checkpoint.CutOps

/** Connected components over an edge list — the final stage of fuzzy
  * deduplication: near-dup PAIRS (from LSH/Jaccard/SimHash) are only
  * pairwise evidence; transitive closure groups them into duplicate
  * CLUSTERS so a pipeline can keep exactly one representative per cluster
  * (the min id, which doubles as the component label).
  *
  * Algorithm: hash-min label propagation. Every vertex starts labeled with
  * its own id; each round every vertex adopts the minimum label among
  * itself and its neighbors; fixpoint = each vertex holds the minimum id
  * reachable from it, i.e. its component. Each round is one equi-join
  * (edges ⋈ labels on the source vertex), a min-aggregate, and a left
  * join of that minimum back onto the labels — plain shuffles Catalyst
  * plans like any join/agg, no driver-side graph state.
  *
  * Scale notes (100 TB):
  *  - rounds needed = graph diameter. Near-dup clusters are dense (most
  *    members pairwise-similar), so diameters are tiny (2–4) and hash-min
  *    converges in a handful of rounds; for adversarially long chain
  *    graphs the known accelerant is the large-star/small-star reshaping
  *    of Kiveris et al., "Connected Components in MapReduce and Beyond"
  *    (SoCC'14), which this implementation deliberately omits — dedup
  *    graphs don't need it and it triples the per-round shuffle count;
  *  - per round the loop materializes labels via [[Checkpoint.cut]] to
  *    truncate lineage (an iterative DataFrame otherwise re-plans a
  *    growing tree each round): eager `localCheckpoint` by default; on a
  *    real cluster with executor-loss risk set
  *    `graft.checkpoint.reliable=true` plus a checkpoint dir and every
  *    round durably `checkpoint`s instead — same code shape;
  *  - convergence is detected from `sum(labels)`: labels only ever
  *    decrease, so an unchanged sum ⟺ no label moved — one cheap
  *    aggregate per round instead of a self-join diff.
  */
object Components {

  /** Components of the undirected graph given by (srcCol, dstCol) integer
    * edge endpoints. Returns (id, comp): one row per vertex appearing in
    * any edge, comp = min vertex id in its component. Vertices with no
    * edges are absent (their component is trivially themselves — callers
    * wanting them add a left join + coalesce(comp, id)). */
  def connectedComponents(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", maxIter: Int = 20): DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("s"),
      col(dstCol).cast("long").as("d"))
    val sym = e.union(e.select(col("d").as("s"), col("s").as("d")))
      .distinct().cut
    var labels = sym.select(col("s").as("id")).distinct()
      .withColumn("comp", col("id")).cut
    // decimal(38,0) sum: exact and unoverflowable for any vertex count ×
    // id range (sum(long) could wrap — or throw under ANSI — at extreme n)
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("comp").cast("decimal(38,0)")),
        lit(java.math.BigDecimal.ZERO))).head.getDecimal(0)
    var last = labelSum(labels)
    var iter = 0
    var converged = labels.isEmpty
    // a diameter-d graph needs d label-moving rounds plus ONE no-change
    // round to OBSERVE the fixpoint, so allow maxIter+1 total rounds:
    // maxIter == diameter must succeed, not spuriously report divergence
    while (iter <= maxIter && !converged) {
      // min over {own label} ∪ {neighbor labels}: the neighbor min is
      // aggregated alone and left-joined back onto the previous labels,
      // the shape that won every A/B against unioning the labels into
      // the aggregate (SCALING.md "Static frames and round shape")
      val msgs = sym.join(labels.withColumnRenamed("id", "s"), "s")
        .select(col("d").as("id"), col("comp"))
      val next = labels.join(
          msgs.groupBy("id").agg(min("comp").as("nc")), Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("nc"), col("comp"))).as("comp"))
        .cut
      val s = labelSum(next)
      converged = s.compareTo(last) == 0
      last = s
      // `next` is eagerly materialized with lineage truncated at its own
      // checkpoint, so the previous round's labels are unreferenced once
      // reassigned; the ContextCleaner reclaims their checkpoint blocks
      // (Dataset.unpersist would be a no-op here — it only clears
      // CacheManager entries, not localCheckpoint RDD storage)
      labels = next
      iter += 1
    }
    require(converged, s"connectedComponents did not converge with maxIter=" +
      s"$maxIter — graph diameter exceeds maxIter (raise it, or use a " +
      "star-contraction variant for chain-like graphs)")
    labels
  }

  /** Duplicate clusters from near-dup pairs: components plus per-cluster
    * size, one row per clustered vertex. comp is the keeper (min id). */
  def dupClusters(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cc = connectedComponents(pairs, aCol, bCol)
    cc.join(cc.groupBy("comp").agg(count(lit(1)).as("sz")), "comp")
      .select(col("id"), col("comp"), col("sz"))
  }

  /** The dedupe DELIVERABLE shared by the declared q_dedup_apply row and
    * the corpus module's near-dup stage: drop every clustered vertex
    * except its cluster keeper (min id) from `df`. The loser set is
    * usually far smaller than the corpus, but it is NOT forced broadcast:
    * AQE broadcasts it when its runtime size allows and falls back to a
    * shuffled anti-join when it doesn't — at web scale near-dup losers
    * can be a large fraction of all documents, and a forced broadcast
    * would collect them all to the driver. `maxIter` bounds the
    * components rounds (chain-shaped near-dup graphs — successive edit
    * versions — can exceed the default diameter bound of 20). */
  def keepClusterKeepers(df: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String, bCol: String, maxIter: Int = 20): DataFrame = {
    val losers = connectedComponents(pairs, aCol, bCol, maxIter)
      .filter(col("id") =!= col("comp"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Cheapest paths within a hop budget — `hops` rounds of Bellman–Ford
    * relaxation over integer edge weights: dist'(v) = min(dist(v),
    * min_{u→v}(dist(u) + w(u,v))). The hop bound IS the semantic (the
    * cheapest cost using at most `hops` edges), which is what makes the
    * result oracle-able: an unbounded Dijkstra needs up to |V|−1 rounds,
    * but a fixed-round relaxation unrolls to straight-line SQL and the
    * integer costs must match bit-for-bit. For full shortest paths pick
    * hops ≥ the source's eccentricity (then the bound is vacuous).
    *
    * Parallel edges collapse to their cheapest; weights may be any
    * integers (costs with ≤ hops edges are well-defined even negative).
    * Same per-round shape as [[bfsDistances]]: one equi-join + one
    * min-aggregate, lineage cut per round. Unreached vertices absent. */
  def cheapestPaths(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, source: Long, hops: Int): DataFrame = {
    require(hops >= 0, s"hops must be >= 0 (got $hops)")
    val e = edges.select(col(srcCol).cast("long").as("s"),
        col(dstCol).cast("long").as("d"), col(weightCol).cast("long").as("w"))
      .groupBy("s", "d").agg(min("w").as("w"))
      .cut
    var dist = e.sparkSession.range(1)
      .select(lit(source).as("id"), lit(0L).as("dist"))
    for (_ <- 1 to hops) {
      dist = dist.union(dist.join(e, col("id") === col("s"))
          .select(col("d").as("id"), (col("dist") + col("w")).as("dist")))
        .groupBy("id").agg(min("dist").as("dist"))
        .cut
    }
    dist
  }

  /** Synchronous label propagation (Raghavan et al. 2007) for community
    * detection, made DETERMINISTIC: every vertex starts labeled with its
    * own id and each round adopts the most frequent label among its
    * neighbors, ties broken by the SMALLEST label — the classic LPA
    * "random tie" replaced with a total order so results are stable
    * across runs, partitionings, and engines (synchronous LPA can
    * oscillate on bipartite-ish structure, hence FIXED rounds rather
    * than a fixpoint: `rounds` IS the semantic, and an oracle unrolls
    * the same rounds straight-line).
    *
    * The per-vertex argmax is `max(struct(count, -label))` — a plain
    * partial-aggregable max, no per-vertex window, no shuffle beyond the
    * (vertex, label) count. Labels/ids must be non-negative (the
    * negation trick turns smallest-label into largest-(-label)).
    * Symmetrize the edge list for undirected communities; a vertex's own
    * label does not vote (neighbors only, the standard rule).
    *
    * TOTAL labeling: a vertex that receives no votes in a round (no
    * in-edges on a directed input) KEEPS its current label via a left
    * join back onto the full node set — source-only vertices stay in the
    * output instead of silently vanishing after round 1. On a symmetrized
    * edge list every vertex votes every round, so this join changes
    * nothing there. */
  def labelPropagation(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", rounds: Int = 3): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0 (got $rounds)")
    val e = edges.select(col(srcCol).cast("long").as("s"),
      col(dstCol).cast("long").as("d")).distinct()
      .cut
    var labels = e.select(col("s").as("id")).union(e.select(col("d")))
      .distinct().withColumn("lbl", col("id")).cut
    for (_ <- 1 to rounds) {
      // TOTAL labeling: the votes argmax is joined back onto the full
      // label frame and a vertex without votes keeps coalesce(vl, lbl)
      val votes = e.join(labels.withColumnRenamed("id", "s"), "s")
        .groupBy(col("d").as("id"), col("lbl"))
        .agg(count(lit(1)).as("c"))
      labels = labels.join(
          votes.groupBy("id")
            .agg(max(struct(col("c"), (-col("lbl")).as("nl"))).as("m"))
            .select(col("id"), (-col("m.nl")).as("vl")), Seq("id"), "left")
        .select(col("id"), coalesce(col("vl"), col("lbl")).as("lbl"))
        .cut
    }
    labels
  }

  /** Single-source BFS distances over a directed edge list — the
    * reachability / hop-count workload (the other canonical recursive-CTE
    * shape next to [[Iterate.treeDepth]]'s hierarchy flattening), run as
    * frontier-free min-relaxation on [[Iterate.fixpoint]]: each round
    * unions the current distance frame with every out-neighbor at dist+1
    * and takes the per-vertex min. Distances are exact integers, so the
    * oracle (the same relaxation unrolled to ≥eccentricity rounds in
    * straight-line SQL) must match bit-for-bit.
    *
    * Rounds needed = eccentricity of the source (tiny for the dense
    * near-diameter graphs pipelines see); each round is one equi-join +
    * one min-aggregate — plain shuffles, no driver-side frontier state.
    * Unreached vertices are simply absent. Symmetrize the edge list for
    * undirected reachability. */
  def bfsDistances(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", source: Long = 0L,
      maxIter: Int = 20): DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("s"),
      col(dstCol).cast("long").as("d")).distinct()
      .cut
    val init = e.sparkSession.range(1)
      .select(lit(source).as("id"), lit(0L).as("dist"))
    Iterate.fixpoint(init, maxIter) { cur =>
      cur.union(cur.join(e, col("id") === col("s"))
          .select(col("d").as("id"), (col("dist") + 1).as("dist")))
        .groupBy("id").agg(min("dist").as("dist"))
    }
  }

  /** Triangle enumeration by the degree-ordered compact-forward join
    * (Latapy 2008; the MapReduce form is Suri & Vassilvitskii, WWW'11):
    * orient every undirected edge from its lower-(degree, id) endpoint to
    * the higher one, then find each edge's triangles by intersecting the
    * two endpoints' out-neighbor lists.
    *
    * Why the orientation matters at 100 TB: naive wedge-building at a hub
    * of degree d makes d² candidates — one celebrity vertex in a
    * power-law graph produces more wedges than the rest of the graph
    * combined. Ordering by degree caps every vertex's out-degree at
    * O(√m), so total wedges are O(m^{3/2}) (optimal for triangle
    * listing) regardless of skew — the same hot-key discipline as the
    * salted joins in [[Skew]], but obtained by orienting the data
    * instead of salting it.
    *
    * Returns one row per triangle as (a, b, c), a < b < c by vertex id.
    * Input edges are symmetrized/deduped and self-loops dropped, so
    * either or both directions may be supplied — unless `assumeCanonical`
    * is set, in which case the caller guarantees src < dst, distinct, no
    * self-loops, and an already-materialized frame (it feeds three
    * consumers), and the canonicalizing exchange is skipped entirely. */
  def triangles(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", assumeCanonical: Boolean = false): DataFrame = {
    // the canonical edge set feeds THREE consumers (degree counts, the
    // orientation join, the wedge-closing join) — materialize it once, or
    // an expensive upstream (e.g. the co-purchase self-join) runs 3×
    val e0 = if (assumeCanonical)
      edges.select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
    else edges.select(col(srcCol).cast("long").as("x"),
        col(dstCol).cast("long").as("y"))
      .where(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"))
      .distinct().cut
    val deg = e0.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("dg"))
    triangleProbe(e0, deg)
      // canonicalize by sorting the triple — a sum-minus-extremes middle
      // would wrap int64 for hash-derived vertex ids near 2⁶²
      .select(sort_array(array(col("u"), col("w"), col("t"))).as("s"))
      .select(col("s")(0).as("a"), col("s")(1).as("b"), col("s")(2).as("c"))
  }

  /** The compact-forward probe over a canonical edge set `e0` (a < b,
    * distinct, materialized) given its degree frame `deg` (v, dg): one row
    * per triangle as the UNSORTED (u, w, t) triple in (degree, id)
    * orientation order. Shared by [[triangles]] (which canonicalizes the
    * triple) and [[triangleCounts]] (which only needs the endpoints). */
  private def triangleProbe(e0: DataFrame, deg: DataFrame): DataFrame = {
    val aFirst = // true when a precedes b in the (degree, id) total order
      col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    val oriented = e0
      .join(deg.select(col("v").as("a"), col("dg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("dg").as("db")), "b")
      .select(when(aFirst, col("a")).otherwise(col("b")).as("u"),
        when(aFirst, col("b")).otherwise(col("a")).as("w"))
      // u-layout for BOTH consumers (adjacency groupBy(u) + the probe's
      // u-join). Unlike the iterative loops' static frames (plain cut),
      // this one is laid out: A/B at sf0.1 showed u-clustering pays even
      // locally (3.2 s vs 4.4-4.9 s plain cut) — co-locating u keys
      // collapses the adjacency partial agg before its exchange — and
      // cutBy also DECLARES the layout (a bare
      // repartition+localCheckpoint reports UnknownPartitioning under
      // AQE, forfeiting the probe join's exchange skip).
      .cutBy("u") // consumed by the adjacency agg AND the probe
    // edge-iterator form: a triangle π-ordered v1→v2→v3 is found exactly
    // once, at edge (v1,v2), as v3 ∈ N⁺(v1) ∩ N⁺(v2). Intersecting
    // adjacency ARRAYS per edge emits only true triangles — the wedge
    // self-join spelling would materialize and shuffle every candidate
    // wedge first (measured sf0.1 co-purchase graph: 41M wedges for 1.9M
    // triangles — 20× the rows through the exchange for the same answer).
    // Adjacency lists are sorted ONCE at build so the per-edge intersect
    // is the codegen'd two-pointer merge ([[graft.functions
    // .SortedIntersect]], zero allocation) instead of array_intersect's
    // per-evaluation hash set — the probe runs once per oriented edge
    // with O(√m)-element arrays, so the hash-set build dominated the
    // stage (measured sf0.1: 12.1 s → 5.6 s for the full query).
    val adj = oriented.groupBy(col("u"))
      .agg(sort_array(collect_list(col("w"))).as("nbr"))
    oriented
      .join(adj.select(col("u"), col("nbr").as("nu")), Seq("u"))
      .join(adj.select(col("u").as("w"), col("nbr").as("nw")), Seq("w"))
      .select(col("u"), col("w"),
        explode(graft.functions.VectorFunctions
          .sortedIntersect(col("nu"), col("nw"))).as("t"))
  }

  /** Per-node (node, deg, tri) over a CANONICAL edge frame (src < dst,
    * distinct, no self-loops, materialized) — the clustering-coefficient
    * shape. ONE degree pass feeds the orientation step AND the caller's
    * denominator (q_cluster_coeff previously aggregated degrees twice
    * over the same frame), and the per-triangle triple is exploded
    * straight into counts with no canonicalizing sort — counts are
    * orientation-invariant. Zero-triangle nodes appear with tri = 0. */
  def triangleCounts(canon: DataFrame, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val e0 = canon.select(col(srcCol).cast("long").as("a"),
      col(dstCol).cast("long").as("b"))
    val deg = e0.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("dg"))
    val tri = triangleProbe(e0, deg)
      .select(explode(array(col("u"), col("w"), col("t"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri"))
    deg.select(col("v").as("node"), col("dg").as("deg"))
      .join(tri, Seq("node"), "left")
      .select(col("node"), col("deg"), coalesce(col("tri"), lit(0L)).as("tri"))
  }

  /** PageRank over a directed edge list, run ENTIRELY in scaled integer
    * arithmetic — rank is a BIGINT in units of `scale⁻¹` (node mass starts
    * at `scale`), each round
    *
    *   rank'(v) = (1−d)·scale  +  d · Σ_{u→v} ⌊rank(u) / outdeg(u)⌋
    *
    * with d = dampNum/dampDen applied as `(dampNum · Σ) div dampDen`.
    * Integer ranks are the portability play (same reasoning as Sampling's
    * md5 buckets): floor-division sums are order-independent and exact, so
    * any engine spelling the same recurrence — e.g. a DuckDB oracle with
    * `//` — reproduces every rank BIT-IDENTICALLY, where a double-typed
    * rank diverges in the last ulp on the first differently-ordered sum.
    * The quantization error is ≤ outdeg(u) mass units per node per round —
    * at the default scale = 10⁹ that is noise in the 9th significant digit.
    *
    * Variant notes: dangling mass is dropped, not redistributed (the
    * "leaky" simplification — ranks are relative scores, which is what
    * dedup/curation ranking needs); nodes with no in-edges settle at the
    * base (1−d)·scale after round 1. Pass a symmetrized edge list for
    * undirected graphs.
    *
    * Scale shape (100 TB): per round one equi-join of the degree-annotated
    * edge list with the rank frame on the source vertex, one map-side
    * partial SUM by destination, one left join back onto the node set —
    * all plain Catalyst shuffles, no driver-side graph state; lineage is
    * cut per round with [[Checkpoint.cut]] like [[connectedComponents]]
    * (set `graft.checkpoint.reliable=true` + a checkpoint dir on clusters
    * with executor-loss risk). Overflow headroom: `dampNum · Σ inflow`
    * must stay under 2⁶³ — at scale 10⁹ that allows ~10⁸ nodes of mass
    * into one vertex; shrink `scale` if the graph is bigger and hotter. */
  def pageRank(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", iters: Int = 5, scale: Long = 1000000000L,
      dampNum: Long = 85, dampDen: Long = 100): DataFrame = {
    require(iters >= 0, s"iters must be >= 0 (got $iters)")
    require(dampDen > 0 && dampNum >= 0 && dampNum <= dampDen,
      s"damping must satisfy 0 <= dampNum <= dampDen (got $dampNum/$dampDen)")
    require(scale > 0 && scale % dampDen == 0,
      s"scale must be a positive multiple of dampDen so the teleport base " +
        s"(1-d)*scale is exact (got scale=$scale, dampDen=$dampDen)")
    // materialized once: the edge list feeds the degree count, the
    // degree-annotated join, and the node set — without this an expensive
    // upstream (a join deriving the edges) would run for each consumer
    val e = edges.select(col(srcCol).cast("long").as("s"),
      col(dstCol).cast("long").as("d")).distinct().cut
    val ew = e.join(e.groupBy("s").agg(count(lit(1)).as("deg")), "s").cut
    val nodes = e.select(col("s").as("id")).union(e.select(col("d").as("id")))
      .distinct().cut
    val base = (dampDen - dampNum) * (scale / dampDen)
    var pr = nodes.withColumn("rank", lit(scale))
    for (_ <- 1 to iters) {
      // inflow ids ⊆ nodes, so the left join + coalesce(m, 0) keeps every
      // node and gives an inflow-free node the base rank
      val inflow = ew.join(pr, col("s") === col("id"))
        .select(col("d").as("id"), expr("rank div deg").as("c"))
      pr = nodes.join(
          inflow.groupBy("id").agg(sum("c").as("m")), Seq("id"), "left")
        .select(col("id"), (lit(base) +
          expr(s"($dampNum * coalesce(m, 0L)) div $dampDen")).as("rank"))
        .cut
    }
    pr
  }

  /** Bounded k-core peeling (Seidman '83 / the Batagelj–Zaveršnik degree
    * peel, distributed): `rounds` synchronous rounds of "drop every
    * vertex whose CURRENT degree < k, then drop its edges", returning the
    * per-vertex degree of the surviving subgraph. Fixed rounds ARE the
    * semantic (the same bounded-iteration contract as
    * [[labelPropagation]]/[[cheapestPaths]]): the full k-core is the
    * fixpoint, but a fixed peel unrolls to straight-line SQL so an
    * oracle pins every surviving degree exactly; pick rounds ≥ the peel
    * depth (rarely more than a handful in practice — each round removes
    * a whole "shell") and the bound is vacuous.
    *
    * Why a pipeline wants it: the k-core is the standard dense-substructure
    * filter — on a near-dup or citation graph it isolates the heavily
    * interlinked cluster mass that sampling/curation treats differently
    * from the long tail ([[triangles]] counts closure; this keeps the
    * subgraph itself).
    *
    * Scale shape: per round ONE degree aggregate + two left-semi joins
    * (edge endpoints against the survivor set) — all partial-aggregable
    * hash shuffles, no driver state; lineage cut per round via
    * [[Checkpoint.cut]] (same `graft.checkpoint.reliable` posture as the
    * other iterative ops). The edge list is symmetrized + distinct'd
    * internally, so each vertex's degree counts distinct neighbors. */
  def kCorePeel(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    require(rounds >= 0, s"rounds must be >= 0 (got $rounds)")
    val e0 = edges.select(col(srcCol).cast("long").as("s"),
      col(dstCol).cast("long").as("d"))
    val e = e0.union(e0.select(col("d").as("s"), col("s").as("d")))
      .distinct().cut
    // Only the survivor VERTEX set is carried round to round — because
    // survivor sets shrink monotonically, the subgraph induced by the
    // LATEST set equals the iteratively peeled edge set, so each round is
    // two semi joins of the once-materialized edge list against a small
    // vertex frame (broadcast at any graph size whose core fits driver
    // memory; never a re-materialization of the O(m) edge list — the
    // edge-carrying spelling localCheckpointed m rows per round, tripling
    // the round cost on the sf0.1 trade graph).
    var keep: Option[DataFrame] = None
    def induced: DataFrame = keep match {
      case None => e
      case Some(kp) => e.join(kp, Seq("s"), "left_semi")
        .join(kp.select(col("s").as("d")), Seq("d"), "left_semi")
    }
    for (_ <- 1 to rounds) {
      keep = Some(induced.groupBy("s").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select("s").cut)
    }
    induced.groupBy(col("s").as("id")).agg(count(lit(1)).as("deg"))
  }

  /** Newman–Girvan modularity (Newman PNAS 2006) of a labeling over an
    * UNDIRECTED graph, in exact integer arithmetic: with m = |edges|,
    * m_c = intra-community edges and d_c = summed member degrees,
    *
    *   Q · 4m² = Σ_c (4·m·m_c − d_c²)
    *
    * — every term integer, so cross-multiplying removes the one float
    * division and the quality score of an iterative community algorithm
    * (e.g. [[labelPropagation]]) becomes bit-exactly oracle-able, like
    * the algorithm itself. Returned as micro-units (Q·10⁶, truncated
    * toward zero — Spark `div` ≡ DuckDB `//`).
    *
    * `undirected`: each undirected edge EXACTLY ONCE (any orientation),
    * no self-loops. `labels`: total (id, lbl) over the edge vertices —
    * [[labelPropagation]]'s output contract. Scale shape: one degree
    * aggregate + two id-grain joins of node-level frames; the edge list
    * is scanned twice and never self-joined.
    *
    * Arithmetic: m, m_c, d_c are int64 counts (the per-edge work); the
    * per-community terms and the final Q·10⁶ ride decimal(38,0) — the
    * q_hhi/q_spearman HUGEINT discipline — because 4·m·m_c·10⁶ outgrows
    * int64 past m ≈ 1.5e6 edges (the round-11 in-plan cap this replaces).
    * decimal(38,0) holds 4m²·10⁶ to m ≈ 5e15 edges, i.e. any graph whose
    * edge COUNT fits int64 in practice; the decimal ops touch only the
    * n_comm-row community frame, never the edges, so the swap is free.
    * |Q| ≤ 1 ⇒ q_micro ∈ [−10⁶, 10⁶], cast back to BIGINT losslessly
    * (same output schema as before). */
  def modularity(undirected: DataFrame, labels: DataFrame,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    val oi = undirected.select(col(srcCol).cast("long").as("s"),
      col(dstCol).cast("long").as("d"))
    val e = oi.union(oi.select(col("d").as("s"), col("s").as("d")))
    val lbl = labels.select(col("id").cast("long").as("id"),
      col("lbl").cast("long").as("lbl"))
    val deg = e.groupBy(col("s").as("id")).agg(count(lit(1)).as("deg"))
    val dC = deg.join(lbl, "id").groupBy("lbl")
      .agg(sum("deg").as("dc"))
    val mC = oi
      .join(lbl.select(col("id").as("s"), col("lbl").as("ls")), "s")
      .join(lbl.select(col("id").as("d"), col("lbl").as("ld")), "d")
      .filter(col("ls") === col("ld"))
      .groupBy(col("ls").as("lbl")).agg(count(lit(1)).as("mc"))
    val m = oi.agg(count(lit(1)).as("m"))
    // a community with zero intra edges still contributes its −d_c² term
    dC.join(mC, Seq("lbl"), "left")
      .select(col("lbl"), col("dc"), coalesce(col("mc"), lit(0L)).as("mc"))
      .crossJoin(broadcast(m))
      .agg(count(lit(1)).as("n_comm"), max("m").as("m"),
        sum(lit(4).cast("decimal(38,0)") * col("m") * col("mc") -
          col("dc").cast("decimal(38,0)") * col("dc")).as("num"))
      .select(col("n_comm"), col("m"),
        // `div` on decimals is IntegralDivide: the integral quotient,
        // truncating toward zero (≡ Long `div` ≡ DuckDB `//`), emitted
        // as BIGINT — |Q| ≤ 1 ⇒ |q_micro| ≤ 10⁶, always in range
        expr("num * CAST(1000000 AS DECIMAL(38,0)) div " +
          "(CAST(4 AS DECIMAL(38,0)) * m * m)").as("q_micro"))
  }
}
