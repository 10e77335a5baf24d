package graft

/** The two runtime scan-reduction mechanisms that matter most at 100 TB —
  * dynamic partition pruning (skip whole partitions of the fact scan based
  * on the dim side's filter result) and runtime bloom-filter join pruning
  * (drop non-joining fact rows BEFORE the shuffle). Both are free when the
  * plan is declarative; these tests pin that our table layouts and join
  * shapes actually trigger them, so a layout refactor can't silently turn
  * them off. */
class RuntimeFiltersSpec extends SparkSpec {
  import spark.implicits._

  test("partitioned layout + dim filter triggers dynamic partition pruning") {
    val dir = java.nio.file.Files.createTempDirectory("dpp").toString
    (0L until 20000L).map(i => (i, i % 50))
      .toDF("id", "p")
      .write.mode("overwrite").partitionBy("p").parquet(s"$dir/fact")
    (0L until 50L).map(i => (i, s"d$i")).toDF("k", "name")
      .write.mode("overwrite").parquet(s"$dir/dim")

    val fact = spark.read.parquet(s"$dir/fact")
    val dim = spark.read.parquet(s"$dir/dim").filter($"name" === "d7")
    val joined = fact.join(dim, $"p" === $"k")
    val n = joined.collect().length
    assert(n == 400) // 20000/50 rows in the one surviving partition
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), s"no DPP in plan:\n$plan")
  }

  test("selective dim filter injects a runtime bloom filter on the fact scan") {
    val dir = java.nio.file.Files.createTempDirectory("bloom").toString
    (0L until 200000L).map(i => (i, i % 1000)).toDF("id", "fk")
      .write.mode("overwrite").parquet(s"$dir/fact")
    (0L until 1000L).map(i => (i, i % 10)).toDF("k", "cat")
      .write.mode("overwrite").parquet(s"$dir/dim")

    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // production defaults (10 MB / 10 GB) are sized for real clusters;
      // lower them so the same rewrite fires on test-sized data
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10MB")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1KB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // bloom targets shuffle joins
      val fact = spark.read.parquet(s"$dir/fact")
      val dim = spark.read.parquet(s"$dir/dim").filter($"cat" === 3)
      val joined = fact.join(dim, $"fk" === $"k")
      assert(joined.collect().length == 20000) // 100 surviving keys × 200 rows
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"), s"no runtime bloom filter in plan:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
