package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.RebalancePartitions
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

/** The spread gate on the local[4] session: a table written as ONE small
  * parquet file is the single-split input [[Spread.auto]] exists for. */
class SpreadSpec extends SparkSpec {
  import spark.implicits._

  private lazy val table: DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("spread").resolve("t")
    spark.range(400).select(col("id").as("id"), (col("id") % 7).as("k"))
      .coalesce(1).write.parquet(dir.toString)
    spark.read.parquet(dir.toString)
  }

  private def fileSize: Long =
    table.inputFiles.map(f => new java.io.File(new java.net.URI(f)).length).sum

  /** Exchanges of the physical plan as planned, before AQE runs it. */
  private def exchanges(df: DataFrame): Seq[ShuffleExchangeExec] = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    plan.collect { case e: ShuffleExchangeExec => e }
  }

  private def sortedRows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  private def assertSameRows(spread: DataFrame, input: DataFrame): Unit =
    assert(sortedRows(spread) === sortedRows(input))

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("auto spreads a narrow single-file scan round-robin to the cores") {
    val spread = Spread.auto(table.filter(col("k") =!= 3))
    val ex = exchanges(spread)
    assert(ex.size === 1, ex)
    assert(ex.head.outputPartitioning === RoundRobinPartitioning(4))
    assertSameRows(spread, table.filter(col("k") =!= 3))
  }

  test("auto is the identity over an aggregate") {
    val agg = table.groupBy("k").count()
    assert(Spread.auto(agg) eq agg)
  }

  test("auto is the identity for local and checkpointed frames") {
    val local = Seq((1L, 1L), (2L, 2L)).toDF("id", "k")
    assert(Spread.auto(local) eq local)
    val cut = table.localCheckpoint()
    assert(Spread.auto(cut) eq cut)
  }

  test("auto is the identity once the file exceeds one scan split") {
    withConf(SQLConf.FILES_MAX_PARTITION_BYTES.key, (fileSize - 1).toString) {
      assert(Spread.auto(table) eq table)
    }
  }

  private def rebalanced(df: DataFrame): Option[RebalancePartitions] =
    df.queryExecution.analyzed.collectFirst { case r: RebalancePartitions => r }

  test("rebalanceForWrite is the identity below the advisory partition size") {
    assert(fileSize < spark.sessionState.conf.getConf(
      SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
    assert(Spread.rebalanceForWrite(table) eq table)
    assert(Spread.rebalanceForWrite(table, "k") eq table)
  }

  test("rebalanceForWrite rebalances once the file exceeds the advisory size") {
    withConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES.key, (fileSize - 1).toString) {
      val plain = Spread.rebalanceForWrite(table)
      assert(rebalanced(plain).exists(_.partitionExpressions.isEmpty))
      val keyed = Spread.rebalanceForWrite(table, "k")
      assert(rebalanced(keyed).exists(_.partitionExpressions.size == 1))
      assertSameRows(keyed, table)
    }
  }

  test("rebalanceForWrite always rebalances a frame of unknown size") {
    val local = Seq((1L, 1L), (2L, 2L)).toDF("id", "k")
    assert(rebalanced(Spread.rebalanceForWrite(local)).isDefined)
  }
}
