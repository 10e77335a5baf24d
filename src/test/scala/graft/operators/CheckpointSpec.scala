package graft.operators

import graft.SparkSpec
import java.nio.file.Files

/** [[Checkpoint.cut]] — the deployment switch between executor-local
  * lineage cuts (default) and durable reliable checkpoints (the posture for
  * multi-round loops on clusters with executor-loss risk). */
class CheckpointSpec extends SparkSpec {
  import spark.implicits._

  private def withReliable[A](dir: Option[String])(body: => A): A = {
    val sc = spark.sparkContext
    val prevDir = sc.getCheckpointDir
    spark.conf.set(Checkpoint.ReliableKey, "true")
    dir.foreach(sc.setCheckpointDir)
    try body
    finally {
      spark.conf.unset(Checkpoint.ReliableKey)
      // SparkContext has no un-set; restore a prior dir if there was one
      prevDir.foreach(sc.setCheckpointDir)
    }
  }

  // registered FIRST: later tests set a checkpoint dir on the shared
  // context, after which the raise precondition can no longer be staged
  test("reliable flag without a checkpoint dir raises (no silent fallback)") {
    if (spark.sparkContext.getCheckpointDir.isEmpty) {
      spark.conf.set(Checkpoint.ReliableKey, "true")
      try {
        val e = intercept[IllegalArgumentException](
          Checkpoint.cut(Seq(1).toDF("v")))
        assert(e.getMessage.contains("checkpoint directory"))
      } finally spark.conf.unset(Checkpoint.ReliableKey)
    }
  }

  test("default mode localCheckpoints (no checkpoint dir needed)") {
    assert(spark.conf.getOption(Checkpoint.ReliableKey).isEmpty)
    val out = Checkpoint.cut(Seq(1, 2, 3).toDF("v"))
    assert(out.as[Int].collect().sorted === Array(1, 2, 3))
  }

  test("reliable mode writes durable checkpoint files and stays correct") {
    val dir = Files.createTempDirectory("graft-ckpt").toString
    withReliable(Some(dir)) {
      val out = Checkpoint.cut(Seq(4, 5, 6).toDF("v"))
      assert(out.as[Int].collect().sorted === Array(4, 5, 6))
      // the cut must be DURABLE: rdd checkpoint files exist under dir
      val files = Files.walk(java.nio.file.Paths.get(dir)).toArray.map(_.toString)
      assert(files.exists(_.contains("rdd-")),
        s"no rdd checkpoint files under $dir")
    }
  }

  test("reliable mode in a full iterative operator (connectedComponents)") {
    val dir = Files.createTempDirectory("graft-ckpt-cc").toString
    withReliable(Some(dir)) {
      val m = Components.connectedComponents(
        Seq((3L, 2L), (1L, 2L), (5L, 6L)).toDF("src", "dst"))
        .as[(Long, Long)].collect().toMap
      assert(m === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
    }
  }

  test("cutBy declares its hash layout: equi-join plans NO exchange and " +
      "NO sort on the cut side (the iterative static-side contract)") {
    import org.apache.spark.sql.functions._
    val big = spark.range(10000)
      .select((col("id") % 997).as("k"), col("id").as("v"))
    val cut = Checkpoint.cutBy(big, "k")
    val other = spark.range(997).select(col("id").as("k"), lit(1L).as("w"))
      .groupBy("k").agg(sum("w").as("w"))
    val joined = cut.join(other, "k")
    val plan = joined.queryExecution.executedPlan.toString
    // the cut side must contribute neither an Exchange nor a Sort: its
    // declared HashPartitioning + ordering satisfy the join requirement.
    // (the other side may shuffle; assert the scan side's subtree shape)
    val scanIdx = plan.linesIterator.indexWhere(_.contains("Scan ExistingRDD"))
    assert(scanIdx >= 0, s"no ExistingRDD scan in:\n$plan")
    val aboveScan = plan.linesIterator.toSeq.take(scanIdx)
    // walk upward from the scan: no Exchange/Sort may sit directly on it
    val cutSide = aboveScan.reverse.takeWhile(l =>
      !l.contains("Join") && !l.contains("Aggregate"))
    assert(!cutSide.exists(l => l.contains("Exchange") || l.contains("Sort")),
      s"cut side re-shuffled/re-sorted:\n$plan")
    // and the declared layout must be TRUTHFUL: same rows as a plain join
    val expect = big.join(other, "k").collect().map(_.toSeq).toSet
    assert(joined.collect().map(_.toSeq).toSet === expect)
  }

  test("cutBy grouping on the cut key aggregates without an exchange") {
    import org.apache.spark.sql.functions._
    val df = spark.range(5000).select((col("id") % 13).as("k"), col("id").as("v"))
    val agg = Checkpoint.cutBy(df, "k").groupBy("k").agg(sum("v").as("s"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"groupBy over cutBy frame still exchanges:\n$plan")
    val m = agg.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exp = df.groupBy("k").agg(sum("v").as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m === exp)
  }
}
