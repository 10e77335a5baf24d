package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Integer-exact Lloyd's k-means (Lloyd 1982; the MacQueen'67 batch
  * variant) over embedding columns — the cluster-analysis primitive, and
  * [[Ivf.searchKMeansTrained]]'s coarse quantizer, built so an ITERATIVE
  * TRAINED algorithm can carry a bit-exact cross-engine oracle (the
  * q_pagerank / q_bpe_train discipline):
  *
  *   - vectors are quantized ONCE to integer grid points
  *     (`floor(x·scale + 0.5)` — half-up on the binary value, identical in
  *     Spark and DuckDB for signed data, unlike `round`);
  *   - assignment = argmin of exact INTEGER squared-L2 distance, ties to
  *     the smaller cell id — order-independent, no float drift;
  *   - update = per-coordinate floor division `sum DIV count` (truncation
  *     toward zero, verified identical in Spark `div` and DuckDB `//`),
  *     so centroids stay integer grid points every round;
  *   - a cell that loses all members KEEPS its previous centroid (the
  *     deterministic convention the oracle mirrors with a LEFT JOIN).
  *
  * Scale shape: quantization + assignment are narrow codegen'd scans —
  * assignment is the codegen'd [[graft.functions.NearestCell]] argmin
  * loop (primitive arithmetic, sound partial-distance early exit; the
  * interpreted HOF folds remain as [[cellOfFold]], the spec-pinned
  * reference semantics); each round's update is ONE partial
  * aggregate whose shuffle carries k·dim (cell, coord) rows, never the
  * corpus; centroids are bounded driver state (k·dim longs), the same
  * trained-artifact pattern as TextAnalysis.bpeTrain's merge list. At
  * 100 TB the per-round cost is one corpus scan + one k·dim-row shuffle
  * — Lloyd's lower bound.
  */
object KMeans {

  /** Quantize a float-array column to integer grid points:
    * floor(x·scale + 0.5) per element — the signed-safe half-up both
    * engines compute identically on the binary double (SURVEY §7.4). */
  def quantize(embCol: Column, scale: Int): Column =
    // widen float→double EXPLICITLY before the multiply: the widening is
    // exact and the double multiply is IEEE-identical cross-engine,
    // whereas mixed float×int arithmetic is promoted differently by
    // different engines (a 1-ulp float multiply difference would move a
    // grid point and break the bit-exact oracle)
    transform(embCol,
      v => floor(v.cast("double") * scale + lit(0.5)).cast("long"))

  /** Exact integer squared-L2 distance from a quantized array column to a
    * literal centroid, as a single codegen'd fold. */
  private def dist2(qCol: Column, c: Array[Long]): Column =
    aggregate(
      zip_with(qCol, typedlit(c.toSeq), (a, b) => (a - b) * (a - b)),
      lit(0L), (acc, x) => acc + x)

  /** Nearest-centroid cell id for a quantized vector column: argmin of
    * integer distance, first occurrence on ties (= the smaller cell id —
    * the convention the oracle's `ORDER BY d2, cell` mirrors).
    * Implemented by the codegen'd [[graft.functions.NearestCell]] — one
    * tight primitive nested loop with a sound partial-distance early
    * exit — because the assignment scan is the dominant per-round cost
    * of Lloyd's at 100 TB and the HOF folds it replaces are interpreted
    * ([[cellOfFold]] stays as the pure-built-in reference formulation;
    * KMeansSpec pins the two bit-identical). */
  def cellOf(centroids: Array[Array[Long]], qCol: Column): Column = {
    require(centroids.nonEmpty, "cellOf needs at least one centroid")
    graft.functions.VectorFunctions.nearestCell(
      typedlit(centroids.map(_.toSeq).toSeq), qCol)
  }

  /** [[cellOf]] composed purely from built-in higher-order functions —
    * one zip_with/aggregate distance fold per centroid + a single-fold
    * argmin (interpreted, so k ≤ 64 keeps the expression tree bounded).
    * Retained as the executable reference semantics for the codegen'd
    * expression; not used on the hot path. */
  private[graft] def cellOfFold(centroids: Array[Array[Long]],
      qCol: Column): Column = {
    require(centroids.nonEmpty && centroids.length <= 64,
      s"cellOfFold supports 1..64 centroids (got ${centroids.length}) — " +
        "one distance fold per centroid is inlined into the plan")
    val ds = array(centroids.map(c => dist2(qCol, c)): _*)
    // single-fold argmin: building `ds` once and folding — instead of
    // array_position(ds, array_min(ds)), which materializes ds TWICE.
    // Strict `<` keeps the FIRST minimum = the smaller cell id.
    val indexed = zip_with(ds,
      sequence(lit(0L), lit((centroids.length - 1).toLong)),
      (d, j) => struct(d.as("d"), j.as("j")))
    aggregate(indexed,
      struct(lit(Long.MaxValue).as("d"), lit(-1L).as("j")),
      (acc, x) => when(x.getField("d") < acc.getField("d"), x)
        .otherwise(acc))
      .getField("j").cast("int")
  }

  /** The integer distance to the assigned (nearest) centroid — the
    * per-row inertia term (codegen'd, same loop as [[cellOf]]). */
  def minDist2(centroids: Array[Array[Long]], qCol: Column): Column = {
    require(centroids.nonEmpty, "minDist2 needs at least one centroid")
    graft.functions.VectorFunctions.nearestDist2(
      typedlit(centroids.map(_.toSeq).toSeq), qCol)
  }

  /** [[minDist2]] as built-in folds — the reference formulation. */
  private[graft] def minDist2Fold(centroids: Array[Array[Long]],
      qCol: Column): Column =
    array_min(array(centroids.map(c => dist2(qCol, c)): _*))

  /** Train k centroids with `iters` Lloyd rounds over `emb(idCol, embCol)`.
    * Init = the first k vectors in `idCol` order (deterministic). Returns
    * the trained integer centroids, cell id = array index. */
  def train(emb: DataFrame, idCol: String, embCol: String, k: Int,
      iters: Int, scale: Int = 1000): Array[Array[Long]] = {
    require(k >= 1 && iters >= 0, s"need k >= 1, iters >= 0 (got $k, $iters)")
    val q = emb.select(col(idCol).cast("long").as("id"),
      quantize(col(embCol), scale).as("q"))
    var cent: Array[Array[Long]] = q.orderBy("id").limit(k)
      .orderBy("id").collect()
      .map(_.getSeq[Long](1).toArray)
    require(cent.length == k, s"need at least $k vectors (got ${cent.length})")
    val dim = cent(0).length
    for (_ <- 1 to iters) {
      // one partial-agg pass with per-coordinate element_at sums: the
      // shuffle carries k rows × (dim+1) columns, never the corpus.
      // Deliberately NOT select(cellOf, posexplode): a generator in the
      // same projection puts the assignment argmin ABOVE the Generate,
      // re-evaluating it once per EXPLODED row — measured 64× the
      // assignment scan's cost on this shape (with the then-interpreted
      // folds; the blowup is dim× regardless of codegen).
      val aggs = (0 until dim).map(i =>
        sum(element_at(col("q"), i + 1)).as(s"s$i")) :+
        count(lit(1)).as("n")
      val stats = q
        .select(cellOf(cent, col("q")).as("cell"), col("q"))
        .groupBy("cell")
        .agg(aggs.head, aggs.tail: _*)
        .collect()
      val byCell = stats.map(r => r.getInt(0) -> r).toMap
      cent = cent.zipWithIndex.map { case (old, cell) =>
        byCell.get(cell) match {
          // Long division truncates toward zero — the same contract as
          // Spark `div` and DuckDB `//` (verified on negatives), so the
          // unrolled oracle reproduces every coordinate bit-exactly
          case Some(r) =>
            val n = r.getLong(dim + 1)
            Array.tabulate(dim)(i => r.getLong(i + 1) / n)
          case None => old // an emptied cell keeps its centroid
        }
      }
    }
    cent
  }

  /** Final assignment census under trained centroids: one row per cell —
    * member count, exact integer inertia (sum of assigned distances) and
    * a centroid checksum (Σ (i+1)·c_i, 1-based) that pins every trained
    * coordinate into the oracle compare. */
  def census(emb: DataFrame, idCol: String, embCol: String,
      centroids: Array[Array[Long]], scale: Int = 1000): DataFrame = {
    val q = emb.select(col(idCol).cast("long").as("id"),
      quantize(col(embCol), scale).as("q"))
    val chk = centroids.zipWithIndex.map { case (c, cell) =>
      (cell, c.zipWithIndex.map { case (v, i) => v * (i + 1) }.sum)
    }
    val chkDf = emb.sparkSession.createDataFrame(chk.toSeq)
      .toDF("cell", "chk")
    val stats = q
      .select(cellOf(centroids, col("q")).as("cell"),
        minDist2(centroids, col("q")).as("d2"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n"), sum("d2").as("inertia"))
    // k-row frame joins k-row frame: preserve every cell (an emptied one
    // reports n=0 with its kept centroid's checksum)
    chkDf.join(stats, Seq("cell"), "left")
      .select(col("cell"), coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("inertia"), lit(0L)).as("inertia"), col("chk"))
  }
}
