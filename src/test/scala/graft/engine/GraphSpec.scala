package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("run executes in topological order and wires upstream frames") {
    val src = Seq((1, 10), (2, 20)).toDF("k", "v")
    val g = new Graph(Seq(
      Node("double", Seq("src"), m => m("src").withColumn("v", col("v") * 2)),
      Node("total", Seq("double"), m => m("double").agg(sum("v").as("s")))))
    val out = g.run(Map("src" -> src))
    assert(out("total").collect().head.getLong(0) == 60L)
  }

  test("diamond dependencies run each node once, in order") {
    val dir = Files.createTempDirectory("graftlog").toString
    val log = new RunLog(dir)
    val src = Seq(1).toDF("x")
    val g = new Graph(Seq(
      Node("d", Seq("b", "c"), m => m("b").union(m("c"))),
      Node("b", Seq("a"), m => m("a")),
      Node("c", Seq("a"), m => m("a")),
      Node("a", Seq("src"), m => m("src"))))
    g.run(Map("src" -> src), Some(log))
    val order = log.runs.map(_._2)
    assert(order.indexOf("a") < order.indexOf("b"))
    assert(order.indexOf("a") < order.indexOf("c"))
    assert(order.indexOf("b") < order.indexOf("d"))
    assert(order.size == 4)
  }

  test("SQL pipe nodes run against upstream temp views") {
    val src = Seq((1, 10.0), (1, 5.0), (2, 2.0)).toDF("k", "v")
    val g = new Graph(Seq(
      Node.sql("agg", Seq("src"),
        "SELECT k, sum(v) AS s FROM src GROUP BY k")))
    val out = g.run(Map("src" -> src))
    assert(out("agg").collect().map(r => (r.getInt(0), r.getDouble(1))).toMap ==
      Map(1 -> 15.0, 2 -> 2.0))
  }

  test("SQL pipe: dep binding never touches a user view of the same " +
      "name, merges with the query's own WITH, and skips leading " +
      "comments") {
    val src = Seq((1, 1.0), (2, 2.0)).toDF("k", "v")
    // a pre-existing USER view named like the dep must neither be read
    // nor dropped (round-10 ADVICE: uuid scoping + CTE shadowing)
    Seq((99, 99.0)).toDF("k", "v").createOrReplaceTempView("src")
    try {
      val g = new Graph(Seq(Node.sql("agg", Seq("src"),
        "-- roll it up\n/* block */ WITH t AS (SELECT v FROM src) " +
          "SELECT sum(v) AS s FROM t")))
      val out = g.run(Map("src" -> src))
      assert(out("agg").head().getDouble(0) === 3.0) // upstream, not the view
      // the user view survives with its own content
      assert(spark.table("src").head().getInt(0) === 99)
    } finally spark.catalog.dropTempView("src")
  }

  test("SQL pipe: dep bindings merge into a WITH RECURSIVE query " +
      "(RECURSIVE keyword stays leading)") {
    val src = Seq((1, 3)).toDF("k", "n") // count down from n=3
    val g = new Graph(Seq(Node.sql("walk", Seq("src"),
      "/* nested /* comment */ ok */ WITH RECURSIVE r AS (" +
        "SELECT n FROM src UNION ALL SELECT n - 1 FROM r WHERE n > 1) " +
        "SELECT count(*) AS c, sum(n) AS s FROM r")))
    val out = g.run(Map("src" -> src))
    val row = out("walk").head()
    assert((row.getLong(0), row.getLong(1)) === ((3L, 6L))) // 3,2,1
  }

  test("partitioned parquet sink round-trips with partition pruning") {
    val dir = java.nio.file.Files.createTempDirectory("graftsink").toString
    val df = Seq((1, "a", 1.0), (2, "b", 2.0), (3, "a", 3.0)).toDF("id", "part", "v")
    df.write.partitionBy("part").parquet(s"$dir/t")
    val back = spark.read.parquet(s"$dir/t").filter(col("part") === "a")
    assert(back.count() == 2)
    val scan = back.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(part"), scan)
  }

  test("Snapshot.asOf replays a 3-block history to each historical state") {
    val dir = Files.createTempDirectory("graftsnap").toString
    val log = new RunLog(dir)
    val blk = Map(
      "b0" -> Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      "b1" -> Seq((3L, "c")).toDF("id", "v"),
      "b2" -> Seq((4L, "d"), (5L, "e")).toDF("id", "v"))
    val g = new Graph(Seq(Node("ds", Seq("src"), up => up("src"))))
    val arrival = Seq("b0", "b1", "b2")
    for (i <- 1 to 3)
      g.runIncremental(Map("src" -> arrival.take(i).map(b => b -> blk(b))), log)
    def ids(seq: Long) = Snapshot.asOf(log, "ds", blk, seq)
      .select("id").as[Long].collect().toSet
    assert(ids(1L) === Set(1L, 2L))
    assert(ids(2L) === Set(1L, 2L, 3L))
    assert(ids(3L) === Set(1L, 2L, 3L, 4L, 5L))
    assert(ids(99L) === Set(1L, 2L, 3L, 4L, 5L)) // beyond history = latest
    // before any run, or for an unknown node, there is nothing to rebuild
    intercept[IllegalArgumentException](Snapshot.asOf(log, "ds", blk, 0L))
    intercept[IllegalArgumentException](Snapshot.asOf(log, "nope", blk, 3L))
    // a consumed block whose frame is missing must raise, not silently shrink
    intercept[IllegalArgumentException](
      Snapshot.asOf(log, "ds", blk - "b1", 3L))
  }

  test("Snapshot.asOf unions evolved block schemas like the delta path") {
    val dir = Files.createTempDirectory("graftsnapevo").toString
    val log = new RunLog(dir)
    val b0 = Seq((1L, "x")).toDF("id", "v")
    val b1 = Seq((2L, "y", 9L)).toDF("id", "v", "extra") // later schema
    val g = new Graph(Seq(Node("ds", Seq("src"), up => up("src"))))
    g.runIncremental(Map("src" -> Seq("b0" -> b0)), log)
    g.runIncremental(Map("src" -> Seq("b0" -> b0, "b1" -> b1)), log)
    val snap = Snapshot.asOf(log, "ds", Map("b0" -> b0, "b1" -> b1), 2L)
    assert(snap.columns.toSet === Set("id", "v", "extra"))
    assert(snap.where(col("id") === 1L).select("extra").head.isNullAt(0))
  }

  test("cycles are detected") {
    val g = new Graph(Seq(
      Node("a", Seq("b"), m => m("b")),
      Node("b", Seq("a"), m => m("a"))))
    intercept[CycleException](g.topoOrder)
  }

  test("incremental node run: RunLog watermark bounds each pass (dags consumption loop)") {
    import graft.operators.Incremental
    import org.apache.spark.sql.functions.{lit, max}
    val dir = java.nio.file.Files.createTempDirectory("graftinc").toString
    val log = new RunLog(dir)
    val events = Seq((1L, 10), (2L, 20), (3L, 30)).toDF("id", "t")
    def pass(): Long = {
      val wm = log.watermark("n").map(_.toInt).getOrElse(Int.MinValue)
      val fresh = Incremental.sinceWatermark(events, "t", lit(wm + 1))
      val n = fresh.count()
      if (n > 0) {
        val newWm = fresh.agg(max("t")).collect().head.getInt(0)
        log.setWatermark("n", newWm.toString)
      }
      log.append("n")
      n
    }
    assert(pass() == 3)  // first run consumes everything
    assert(pass() == 0)  // nothing new -> nothing reprocessed
    val more = events.union(Seq((4L, 40)).toDF("id", "t"))
    val wm = log.watermark("n").get.toInt
    assert(Incremental.sinceWatermark(more, "t", lit(wm + 1)).count() == 1)
  }

  test("runIncremental consumes only unprocessed blocks and records lineage") {
    val dir = Files.createTempDirectory("graftblk").toString
    val log = new RunLog(dir)
    val b1 = Seq((1L, 10.0)).toDF("id", "v")
    val b2 = Seq((2L, 32.0)).toDF("id", "v")
    val g = new Graph(Seq(
      Node("clean", Seq("ev"), m => m("ev").filter(col("v") > 0)),
      Node.sql("total", Seq("clean"), "SELECT count(*) c, sum(v) s FROM clean")))

    val r1 = g.runIncremental(Map("ev" -> Seq("b1" -> b1)), log)
    assert(r1("total").collect().head.getLong(0) == 1L)

    // second run sees both blocks registered but consumes ONLY the new one
    val r2 = g.runIncremental(Map("ev" -> Seq("b1" -> b1, "b2" -> b2)), log)
    val row = r2("total").collect().head
    assert(row.getLong(0) == 1L && row.getDouble(1) == 32.0)

    // third run: nothing new -> no-op, nothing recomputed or logged
    val before = log.lineage.size
    assert(g.runIncremental(Map("ev" -> Seq("b1" -> b1, "b2" -> b2)), log).isEmpty)
    assert(log.lineage.size == before)

    assert(log.consumedBlocks("ev") == Set("b1", "b2"))
    // lineage: both nodes record the block ids they (transitively) consumed
    assert(log.lineage.filter(_._2 == "total").map(_._3) == Seq(Seq("b1"), Seq("b2")))
    assert(log.lineage.filter(_._2 == "clean").map(_._3) == Seq(Seq("b1"), Seq("b2")))
  }

  test("runIncremental: a failing sink leaves blocks unconsumed (at-least-once)") {
    val dir = Files.createTempDirectory("graftsink2").toString
    val log = new RunLog(dir)
    val b1 = Seq((1L, 5.0)).toDF("id", "v")
    val g = new Graph(Seq(Node("out", Seq("ev"), m => m("ev"))))
    intercept[RuntimeException] {
      g.runIncremental(Map("ev" -> Seq("b1" -> b1)), log,
        sink = _ => throw new RuntimeException("sink outage"))
    }
    assert(log.consumedBlocks("ev").isEmpty) // retried on the next run
    // lineage too: runs.log records only materialized runs, so the failed
    // attempt leaves no row and the retry can't double-log
    assert(log.lineage.isEmpty)
    val r = g.runIncremental(Map("ev" -> Seq("b1" -> b1)), log)
    assert(r("out").count() == 1 && log.consumedBlocks("ev") == Set("b1"))
    assert(log.lineage.map(_._2) == Seq("out"))
  }

  test("runIncremental rejects an empty block-source map (would silently no-op)") {
    val dir = Files.createTempDirectory("graftempty").toString
    val g = new Graph(Seq(Node("out", Seq("src"), m => m("src"))))
    intercept[IllegalArgumentException] {
      g.runIncremental(Map.empty, new RunLog(dir),
        inputs = Map("src" -> Seq(1).toDF("x")))
    }
  }

  test("runIncremental handles evolved block schemas in one delta") {
    val dir = Files.createTempDirectory("graftevo2").toString
    val log = new RunLog(dir)
    val b1 = Seq((1L, 1.0)).toDF("id", "v")
    val b2 = Seq((2L, 2.0, "x")).toDF("id", "v", "tag") // later block adds a column
    val g = new Graph(Seq(Node("out", Seq("ev"), m => m("ev"))))
    val r = g.runIncremental(Map("ev" -> Seq("b1" -> b1, "b2" -> b2)), log)
    val rows = r("out").orderBy("id").collect()
    assert(rows.length == 2 && rows.head.isNullAt(2) && rows(1).getString(2) == "x")
  }

  test("RunLog rejects ids that would corrupt the delimited log format") {
    val dir = Files.createTempDirectory("graftids").toString
    val log = new RunLog(dir)
    intercept[IllegalArgumentException](log.append("n", Seq("a,b")))
    intercept[IllegalArgumentException](log.markConsumed("src", Seq("a\nb")))
    intercept[IllegalArgumentException](log.append("n\tx"))
  }

  test("RunLog rejects ids that would escape the ledger directory") {
    val dir = Files.createTempDirectory("graftpath").toString
    val log = new RunLog(dir)
    // source/node ids become file names: '../runs.log' or 'a/b' must fail
    intercept[IllegalArgumentException](log.markConsumed("../runs.log", Seq("b")))
    intercept[IllegalArgumentException](log.consumedBlocks("a/b"))
    intercept[IllegalArgumentException](log.setWatermark("..\\wm", "1"))
    intercept[IllegalArgumentException](log.watermark("x/y"))
    intercept[IllegalArgumentException](log.append("", Seq("b")))
  }

  test("runIncremental rejects bad ids BEFORE the sink materializes") {
    val dir = Files.createTempDirectory("grafteager").toString
    val g = new Graph(Seq(Node("out", Seq("ev"), m => m("ev"))))
    var sinkRan = false
    // a comma block id would corrupt the runs.log lineage field — it must
    // fail at validation time, not after the sink has written durably
    intercept[IllegalArgumentException] {
      g.runIncremental(Map("ev" -> Seq("b,1" -> Seq(1).toDF("x"))),
        new RunLog(dir), sink = _ => sinkRan = true)
    }
    assert(!sinkRan, "sink must not run for an invalid block id")
  }

  test("path-derived block ids ('/' in content, not file names) are accepted") {
    val dir = Files.createTempDirectory("graftpathblk").toString
    val log = new RunLog(dir)
    val g = new Graph(Seq(Node("out", Seq("ev"), m => m("ev"))))
    val bid = "events/dt=2024-08-01/part-0" // the natural file-source shape
    val r = g.runIncremental(Map("ev" -> Seq(bid -> Seq(1).toDF("x"))), log)
    assert(r("out").count() == 1)
    assert(log.consumedBlocks("ev") === Set(bid))
    assert(log.lineage.head._3 === Seq(bid))
  }

  test("resetSource backfills: blocks reconsume, lineage history remains") {
    val dir = Files.createTempDirectory("graftbackfill").toString
    val log = new RunLog(dir)
    val g = new Graph(Seq(Node("out", Seq("ev"), m => m("ev"))))
    val src = Map("ev" -> Seq("b1" -> Seq(1).toDF("x"), "b2" -> Seq(2).toDF("x")))
    assert(g.runIncremental(src, log)("out").count() == 2)
    assert(g.runIncremental(src, log).isEmpty) // all consumed → no-op
    log.resetSource("ev")
    val again = g.runIncremental(src, log) // backfill: full reconsumption
    assert(again("out").count() == 2)
    assert(log.consumedBlocks("ev") === Set("b1", "b2"))
    // lineage keeps BOTH runs' rows — history is append-only
    assert(log.lineage.count(_._2 == "out") == 2)
  }

  test("RunLog seq and consumed ledger survive reopen") {
    val dir = Files.createTempDirectory("graftreopen").toString
    val log1 = new RunLog(dir)
    log1.append("n", Seq("blk-0"))
    log1.markConsumed("src", Seq("blk-0"))
    val log2 = new RunLog(dir)
    log2.append("n", Seq("blk-1"))
    assert(log2.lineage.map(_._1) == Seq(1L, 2L)) // seq continues, not restarts
    assert(log2.consumedBlocks("src") == Set("blk-0"))
  }

  test("watermark store round-trips for incremental consumption") {
    val dir = Files.createTempDirectory("graftwm").toString
    val log = new RunLog(dir)
    assert(log.watermark("n1").isEmpty)
    log.setWatermark("n1", "2024-01-15 00:00:00")
    assert(log.watermark("n1").contains("2024-01-15 00:00:00"))
    log.setWatermark("n1", "2024-01-16 00:00:00")
    assert(log.watermark("n1").contains("2024-01-16 00:00:00"))
  }
}
