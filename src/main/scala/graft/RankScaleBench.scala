package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Rank

/** Scaling evidence for the two-pass distributed global rank/ntile
  * ([[operators.Rank]] — the round-7 rewrite that removed the last
  * entity-grain single-partition windows), same protocol as
  * [[ScaleBench]] / [[GraphScaleBench]]: hash-deterministic synthetic
  * entity frames at 1×/3×/10× row counts, written to /tmp and re-read
  * from parquet so scans (not generation) are timed.
  *
  * Both spellings are timed on every size:
  *   - `window`: `row_number().over(Window.orderBy(...))` — the
  *     single-partition baseline ("No Partition Defined for Window"),
  *     whose sort serializes the whole frame into ONE task;
  *   - `rank2p`: `Rank.rowNumbered` + running sum — range shuffle,
  *     per-partition windows, broadcast offsets; every stage uses all
  *     cores.
  * The frame mimics the q_pareto/q_lift shape: an entity id, a skewed
  * long measure (so the running sum is exercised, not just the rank),
  * and ties (measure mod 1000) so tie-group handling is in the timed
  * path. Results + observed exponents go into SCALING.md. */
object RankScaleBench {
  def main(args: Array[String]): Unit = {
    val spark = Bench.buildSession("32")
    import spark.implicits._

    val outRoot = args.headOption.getOrElse("/tmp/graft_rscale")
    val sizes = Seq(1000000L, 3000000L, 10000000L)

    def gen(n: Long, path: String): Unit =
      spark.range(n).select($"id".as("ent"),
          (pmod(xxhash64($"id", lit(7)), lit(1000L)) *
            (pmod(xxhash64($"id", lit(11)), lit(97L)) + 1)).as("v"))
        .repartition(32)
        .write.mode("overwrite").parquet(path)

    // force through an aggregate of the COMPUTED columns: a bare count()
    // lets column pruning delete the window/rank entirely (row_number
    // preserves cardinality), which times the scan, not the operator
    def time(label: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
      System.gc()
      val t0 = System.nanoTime()
      val r = df.agg(sum($"r".cast("long")).as("sr")).collect()(0).getLong(0)
      println(f"SCALE $label ${(System.nanoTime() - t0) / 1e9}%.2f s (Σr=$r)")
    }

    sizes.foreach(n => gen(n, s"$outRoot/rows_$n"))
    println("SCALE generated")

    def twoPass(path: String) = {
      val f = spark.read.parquet(path)
      Rank.rowNumbered(f, Seq($"v".asc, $"ent".asc), "r",
        sumOf = Some("v"), cumCol = "cum")
    }
    def onePartition(path: String) = {
      val f = spark.read.parquet(path)
      val w = Window.orderBy($"v".asc, $"ent".asc)
      f.withColumn("r", row_number().over(w))
        .withColumn("cum", sum($"v").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    }

    // warmup both plan shapes on the smallest frame
    twoPass(s"$outRoot/rows_${sizes.head}").agg(sum($"r")).collect()
    onePartition(s"$outRoot/rows_${sizes.head}").agg(sum($"r")).collect()

    sizes.foreach { n =>
      time(s"rank2p_$n")(twoPass(s"$outRoot/rows_$n")
        .select(($"r" + $"cum").as("r"))) // consume rank AND running sum
      time(s"window_$n")(onePartition(s"$outRoot/rows_$n")
        .select(($"r" + $"cum").as("r")))
      time(s"ntile2p_$n")(Rank.ntiled(
        spark.read.parquet(s"$outRoot/rows_$n"),
        Seq($"v".asc, $"ent".asc), 10, "t").select($"t".as("r")))
    }
    spark.stop()
  }
}
