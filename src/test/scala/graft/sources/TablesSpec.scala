package graft.sources

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** The schema-cached reader: same schema and rows as a bare
  * `spark.read.parquet`, no inference job on a repeated read, re-inference
  * on a rewritten file, and fresh exprIds per read. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  // the sf0.01 tables sit next to sf0.001
  private val sf = s"${new java.io.File(sf001).getParent}/sf0.01"

  private def uncached(name: String): DataFrame = {
    val df = spark.read.parquet(s"$sf/$name.parquet")
    if (name == "events") Tables.normalizeTs(df) else df
  }

  /** Spark jobs started by `body`. Listener events arrive asynchronously,
    * so a marker job before and after fences the window. */
  private def jobsDuring(body: => Unit): Int = {
    val marker = "graft.tablesspec.marker"
    val counted = new AtomicInteger(0)
    @volatile var open = false
    val done = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(marker))) match {
          case Some("start") => open = true
          case Some("end") => open = false; done.countDown()
          case _ => if (open) counted.incrementAndGet()
        }
    }
    val sc = spark.sparkContext
    def fence(tag: String): Unit = {
      sc.setLocalProperty(marker, tag)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(marker, null)
    }
    sc.addSparkListener(listener)
    try {
      fence("start")
      body
      fence("end")
      assert(done.await(30, TimeUnit.SECONDS), "end marker never arrived")
      counted.get()
    } finally sc.removeSparkListener(listener)
  }

  test("every sf0.01 table reads with the uncached schema and rows") {
    Tables.all.foreach { name =>
      val got = Tables.table(spark, sf, name)
      val want = uncached(name)
      assert(got.schema == want.schema, name)
      assert(got.exceptAll(want).isEmpty, name)
      assert(want.exceptAll(got).isEmpty, name)
    }
  }

  test("a repeated read of an unchanged file launches no Spark job") {
    Tables.table(spark, sf, "lineitem")
    assert(jobsDuring(Tables.table(spark, sf, "lineitem")) == 0)
    Tables.eventsSince(spark, sf, java.time.Instant.EPOCH)
    assert(jobsDuring(Tables.eventsSince(spark, sf, java.time.Instant.EPOCH)) == 0)
  }

  test("a table rewritten at the same path is re-inferred") {
    val dir = Files.createTempDirectory("grafttables").toString
    (1L to 5L).toDF("a").write.parquet(s"$dir/t.parquet")
    assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("a"))
    (1L to 5L).map(i => (i, i * 10)).toDF("a", "b")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val back = Tables.table(spark, dir, "t")
    assert(back.columns.toSeq == Seq("a", "b"))
    assert(back.agg(sum("b")).as[Long].head() == 150L)
  }

  test("two reads of one table self-join like two uncached reads") {
    val a = Tables.table(spark, sf, "documents")
    val b = Tables.table(spark, sf, "documents")
    val ra = uncached("documents")
    val rb = uncached("documents")
    val n = a.join(b, a("doc_id") === b("doc_id")).count()
    assert(n == ra.join(rb, ra("doc_id") === rb("doc_id")).count())
    assert(n == a.count())
  }
}
