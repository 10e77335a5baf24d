package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** IVF (inverted-file) approximate nearest neighbour: each vector gets a
  * coarse cell, and a search ranks only the vectors in the `nprobe` cells
  * nearest the query. Two quantizers, both oracle-checked end to end:
  *
  *   - [[fixedCellOf]]/[[searchFixed]]: fixed axis-aligned cells, no
  *     training (q_ann_ivf_fixed);
  *   - [[searchKMeansTrained]]: cells trained by the integer-exact
  *     [[KMeans.train]], assigned by the codegen'd [[KMeans.cellOf]]
  *     (q_cosine_ivf).
  *
  * Scale shape: cell assignment is a NARROW codegen'd scan (no crossJoin,
  * no shuffle), the probe set is bounded state next to the query vector,
  * and a search touches `nprobe`/cells of the data — with the cell id as a
  * partition column that is partition pruning at the scan. Top-k is a
  * TakeOrdered.
  */
object Ivf {

  /** Fixed axis-aligned coarse cells: cell j is the unit vector along
    * dimension j (j < cells), so assignment = argmax of the first `cells`
    * coordinates (nearest unit axis = largest coordinate; ties to the
    * smallest j). No training, fully deterministic, SQL-expressible —
    * the oracle-checkable IVF variant. Narrow and codegen'd;
    * [[searchKMeansTrained]] is the trained-centroid path. */
  def fixedCellOf(embCol: String, cells: Int): Column = {
    val ds = array((0 until cells).map(j =>
      expr(s"element_at($embCol, ${j + 1})")): _*)
    (array_position(ds, array_max(ds)) - 1).cast("int")
  }

  /** IVF search over the fixed axis cells: probe the query's `nprobe`
    * largest of the first `cells` dimensions, rank candidates by cosine.
    * The probe set is computed inside the plan from the query row (no
    * driver collect) and broadcast with the query vector; at scale `cell`
    * doubles as a partition column → scan-level pruning to nprobe/cells
    * of the data. */
  def searchFixed(emb: DataFrame, idCol: String, embCol: String,
      queryId: Long, k: Int, cells: Int, nprobe: Int): DataFrame = {
    val assigned = emb.withColumn("cell", fixedCellOf(embCol, cells))
    // top-nprobe probe cells: sort (−value, dim) structs, take the head
    val probes = expr(
      s"transform(slice(array_sort(transform(sequence(1, $cells), " +
        s"j -> struct(-element_at($embCol, j) AS nv, j AS j))), 1, $nprobe), " +
        "s -> s.j - 1)")
    val q = assigned.filter(col(idCol) === queryId)
      .select(col(embCol).as("qe"), probes.as("probes"))
    assigned.filter(col(idCol) =!= queryId)
      .join(broadcast(q), array_contains(col("probes"), col("cell")))
      .select(col(idCol),
        round(VectorFunctions.dotProduct(col(embCol), col("qe")) /
          (sqrt(VectorFunctions.norm2(col(embCol))) *
            sqrt(VectorFunctions.norm2(col("qe")))), 4).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** IVF search over INTEGER-KMEANS-trained coarse cells — a trained
    * quantizer that is cross-engine ORACLE-EXACT end to end: train =
    * [[KMeans.train]] (bit-exact integer Lloyd), assignment = the
    * codegen'd [[KMeans.cellOf]] argmin, probe selection = integer
    * distances from the QUANTIZED query vector to the k trained
    * centroids (driver-side arithmetic on bounded trained state, ties
    * to the smaller cell — reproducible in SQL), candidate ranking =
    * exact float cosine, ordered (cos DESC, id).
    *
    * Same physical shape as [[searchFixed]]: narrow codegen'd assignment, the
    * nprobe/k probe filter prunes the candidate scan (with `cell` as a
    * partition column that is partition pruning at the scan — the
    * [[graft.sources]] bucketed-embeddings pattern), top-k is a
    * TakeOrdered. At 100 TB: train cost = iters narrow scans + k·dim-row
    * shuffles, search cost = nprobe/k of one scan. */
  def searchKMeansTrained(emb: DataFrame, idCol: String, embCol: String,
      queryId: Long, k: Int, cells: Int, nprobe: Int, iters: Int,
      scale: Int = 1000): DataFrame = {
    val cents = KMeans.train(emb, idCol, embCol, cells, iters, scale)
    val qCol = KMeans.quantize(col(embCol), scale)
    val qv = emb.filter(col(idCol) === queryId)
      .select(col(embCol)).collect().head.getSeq[Float](0).toArray
    // quantize the query EXACTLY as the corpus was (same double-widened
    // half-up), then integer distance to each trained centroid; ties to
    // the smaller cell id — the (d2, cell) sort the oracle mirrors
    val qq = qv.map(f => math.floor(f.toDouble * scale + 0.5).toLong)
    val probed = cents.zipWithIndex.map { case (c, cell) =>
      (c.zip(qq).map { case (a, b) => val d = a - b; d * d }.sum, cell)
    }.sorted.take(nprobe).map(_._2).toSeq
    val qlit = typedlit(qv)
    emb.withColumn("cell", KMeans.cellOf(cents, qCol))
      .filter(col("cell").isin(probed: _*) && col(idCol) =!= queryId)
      .select(col(idCol),
        round(VectorFunctions.dotProduct(col(embCol), qlit) /
          (sqrt(VectorFunctions.norm2(col(embCol))) *
            lit(math.sqrt(qv.map(x => x.toDouble * x).sum))), 4).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }
}
