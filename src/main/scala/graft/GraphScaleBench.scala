package graft

import org.apache.spark.sql.functions._
import graft.operators.Components

/** Scaling evidence for the graph operators (pageRank, triangles), same
  * protocol as [[ScaleBench]]: hash-deterministic synthetic graphs at
  * 1×/3×/10× edge counts, written to /tmp and re-read from parquet so
  * scans (not generation) are timed; observed wall-time exponents go into
  * SCALING.md.
  *
  * Graph shape: uniform random endpoints over V = m/15 vertices (average
  * degree ~30, Erdős–Rényi-ish) PLUS a planted hub — 2% of all edges
  * touch vertex 0. The hub is the skew probe: naive wedge-building at a
  * degree-d hub costs d²/2 candidates, while degree-ordering orients
  * every hub edge TOWARD the hub (highest degree = last in the order), so
  * the hub builds no wedges at all. The bench prints both wedge counts so
  * the immunity is a measured number, not a claim. */
object GraphScaleBench {
  def main(args: Array[String]): Unit = {
    val spark = Bench.buildSession("32")
    import spark.implicits._

    val outRoot = args.headOption.getOrElse("/tmp/graft_gscale")
    val sizes = Seq(300000L, 900000L, 3000000L)

    def gen(m: Long, path: String): Unit = {
      val v = m / 15
      def uni(salt: Int) = pmod(xxhash64($"id", lit(salt)), lit(v)) + 1
      spark.range(m).select(
          when(pmod(xxhash64($"id", lit(99)), lit(50)) === 0, lit(0L))
            .otherwise(uni(1)).as("src"),
          uni(2).as("dst"))
        .where($"src" =!= $"dst")
        .repartition(32)
        .write.mode("overwrite").parquet(path)
    }

    def time(label: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
      System.gc()
      val t0 = System.nanoTime()
      val n = df.count()
      println(f"SCALE $label ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
    }

    sizes.foreach(m => gen(m, s"$outRoot/edges_$m"))
    println("SCALE generated")

    // warmup both plan shapes
    Components.pageRank(spark.read.parquet(s"$outRoot/edges_${sizes.head}")).count()
    Components.triangles(spark.read.parquet(s"$outRoot/edges_${sizes.head}")).count()

    sizes.foreach { m =>
      val e = spark.read.parquet(s"$outRoot/edges_$m")
      time(s"pagerank_$m")(Components.pageRank(e, iters = 5))
      time(s"triangles_$m")(Components.triangles(e))
      time(s"bfs_$m")(Components.bfsDistances(e, source = 1L))
    }

    // shared wedge-census helpers (used by the hub probe here and the
    // power-law per-size stats below — one spelling of the dedup /
    // degree / orientation logic, so the two printed censuses can never
    // silently diverge)
    def undirected(edges: org.apache.spark.sql.DataFrame) =
      edges.select(least($"src", $"dst").as("a"),
          greatest($"src", $"dst").as("b"))
        .where($"a" =!= $"b").distinct()
    def degrees(und: org.apache.spark.sql.DataFrame) =
      und.select(explode(array($"a", $"b")).as("v"))
        .groupBy("v").agg(count(lit(1)).as("dg"))
    def naiveWedges(deg: org.apache.spark.sql.DataFrame): Long =
      deg.agg(sum(expr("dg * (dg - 1) div 2"))).head.getLong(0)
    def orderedWedges(und: org.apache.spark.sql.DataFrame,
        deg: org.apache.spark.sql.DataFrame): Long = {
      val aFirst = $"da" < $"db" || ($"da" === $"db" && $"a" < $"b")
      und.join(deg.select($"v".as("a"), $"dg".as("da")), "a")
        .join(deg.select($"v".as("b"), $"dg".as("db")), "b")
        .select(when(aFirst, $"a").otherwise($"b").as("u"))
        .groupBy("u").agg(count(lit(1)).as("od"))
        .agg(sum(expr("od * (od - 1) div 2"))).head.getLong(0)
    }

    // skew probe at 10×: candidate wedges with vs without degree ordering
    val e10 = undirected(spark.read.parquet(s"$outRoot/edges_${sizes.last}"))
    val deg = degrees(e10)
    val naive = naiveWedges(deg)
    val ordered = orderedWedges(e10, deg)
    val hubDeg = deg.where($"v" === 0).select($"dg").as[Long].head()
    println(s"SCALE wedges naive=$naive ordered=$ordered hub_degree=$hubDeg")

    // ---- POWER-LAW block (round-7 verdict #2): the full iterative
    // family on a Zipf-degree graph — the realistic web/social shape
    // where naive triangle counting dies on the head vertices. Endpoint
    // ids draw via inverse-CDF id = floor(V^u) (P(id) ∝ 1/id, α≈1), so
    // the top vertex alone touches ~6% of all endpoint draws — a far
    // harsher skew than the 2% planted hub above. Ordered wedge counts
    // print per size: triangles' cost must track THAT number (the
    // degree-ordered candidate space, O(m^1.5) worst case), not n².
    def genPl(m: Long, path: String): Unit = {
      val v = m / 15
      def zipf(salt: Int) = {
        val u = (pmod(xxhash64($"id", lit(salt)), lit(1000000L))
          .cast("double") + 0.5) / 1000000.0
        floor(pow(lit(v.toDouble), u)).cast("long")
      }
      spark.range(m).select(zipf(11).as("src"), zipf(12).as("dst"))
        .where($"src" =!= $"dst")
        .repartition(32)
        .write.mode("overwrite").parquet(path)
    }
    sizes.foreach(m => genPl(m, s"$outRoot/pl_edges_$m"))
    println("SCALE power-law generated")
    Components.kCorePeel(spark.read.parquet(s"$outRoot/pl_edges_${sizes.head}"),
      k = 10, rounds = 3).count() // warm the remaining plan shapes
    Components.labelPropagation(
      spark.read.parquet(s"$outRoot/pl_edges_${sizes.head}")).count()
    sizes.foreach { m =>
      val e = spark.read.parquet(s"$outRoot/pl_edges_$m")
      val und = undirected(e)
      // top degree counts RAW endpoint draws (parallel edges included) —
      // the skew statistic of the generator itself, as recorded in
      // SCALING.md; the wedge census runs on the deduped undirected frame
      val topDeg = e.select(explode(array($"src", $"dst")).as("v"))
        .groupBy("v").agg(count(lit(1)).as("dg"))
        .orderBy($"dg".desc).limit(1).select($"dg").as[Long].head()
      println(s"SCALE pl_stats_$m wedges_ordered=${orderedWedges(und, degrees(und))} " +
        s"top_degree=$topDeg")
      time(s"pl_pagerank_$m")(Components.pageRank(e, iters = 5))
      time(s"pl_triangles_$m")(Components.triangles(e))
      time(s"pl_kcore_$m")(Components.kCorePeel(e, k = 10, rounds = 3))
      time(s"pl_communities_$m")(Components.labelPropagation(e, rounds = 3))
    }
    spark.stop()
  }
}
