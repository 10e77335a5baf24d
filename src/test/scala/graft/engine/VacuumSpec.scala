package graft.engine

import graft.SparkSpec
import java.nio.file.{Files, Paths}

/** Block-store retention: orphans sweep, referenced blocks survive, time
  * travel and pending backfills stay intact. */
class VacuumSpec extends SparkSpec {
  import spark.implicits._

  private def landBlock(root: String, id: String, ids: Seq[Long]): Unit =
    ids.toDF("id").write.mode("overwrite").parquet(s"$root/$id")

  test("sweep deletes only unreferenced blocks past grace; snapshot " +
      "still reconstructs afterward") {
    val dir = Files.createTempDirectory("graftvac").toString
    val root = s"$dir/blocks"
    landBlock(root, "b1", Seq(1L, 2L))
    landBlock(root, "b2", Seq(3L))
    landBlock(root, "b3", Seq(9L)) // landed, never consumed = orphan
    val log = new RunLog(s"$dir/log")
    val g = new Graph(Seq(Node("ds", Seq("src"), up => up("src"))))
    def blk(id: String) = spark.read.parquet(s"$root/$id")
    g.runIncremental(Map("src" -> Seq("b1" -> blk("b1"))), log)
    g.runIncremental(Map("src" -> Seq("b1" -> blk("b1"), "b2" -> blk("b2"))), log)

    val (referenced, orphans) = Vacuum.plan(log, root)
    assert(referenced === Seq("b1", "b2"))
    assert(orphans === Seq("b3"))

    // young orphan survives a graceful sweep…
    assert(Vacuum.sweep(log, root, graceMs = 3600 * 1000L) === ((0, 1, 2)))
    assert(Files.isDirectory(Paths.get(root, "b3")))
    // …and a grace-0 sweep removes exactly it
    assert(Vacuum.sweep(log, root, graceMs = 0L) === ((1, 0, 2)))
    assert(!Files.exists(Paths.get(root, "b3")))
    assert(Files.isDirectory(Paths.get(root, "b1")))
    assert(Files.isDirectory(Paths.get(root, "b2")))

    // time travel over the swept store: run 1 = b1 only, run 2 = b1+b2
    val blocks = Map("b1" -> blk("b1"), "b2" -> blk("b2"))
    assert(Snapshot.asOf(log, "ds", blocks, 1L).as[Long].collect().sorted
      === Array(1L, 2L))
    assert(Snapshot.asOf(log, "ds", blocks, 2L).as[Long].collect().sorted
      === Array(1L, 2L, 3L))
  }

  test("a reset source's blocks stay referenced through lineage — a " +
      "pending backfill cannot lose inputs to a sweep") {
    val dir = Files.createTempDirectory("graftvac2").toString
    val root = s"$dir/blocks"
    landBlock(root, "b1", Seq(1L))
    val log = new RunLog(s"$dir/log")
    val g = new Graph(Seq(Node("ds", Seq("src"), up => up("src"))))
    g.runIncremental(
      Map("src" -> Seq("b1" -> spark.read.parquet(s"$root/b1"))), log)
    log.resetSource("src") // backfill switch: ledger cleared, lineage kept
    assert(Vacuum.plan(log, root) === ((Seq("b1"), Seq.empty)))
    assert(Vacuum.sweep(log, root, graceMs = 0L) === ((0, 0, 1)))
    assert(Files.isDirectory(Paths.get(root, "b1")))
  }

  test("plan rejects a nonexistent block root") {
    val dir = Files.createTempDirectory("graftvac3").toString
    val log = new RunLog(s"$dir/log")
    intercept[IllegalArgumentException] {
      Vacuum.plan(log, s"$dir/nope")
    }
  }

  test("plan refuses a store that does not use ids-as-directory-names " +
      "instead of classifying everything as orphaned") {
    // the corpusIngest shape: ledger ids batchN, physical dirs pN — a
    // sweep here would have deleted checkpoint-immutable landed blocks
    val dir = Files.createTempDirectory("graftvac4").toString
    val root = s"$dir/blocks"
    landBlock(root, "p0", Seq(1L))
    landBlock(root, "p1", Seq(2L))
    val log = new RunLog(s"$dir/log")
    log.markConsumed("docs", Seq("batch0", "batch1"))
    val ex = intercept[IllegalArgumentException] {
      Vacuum.plan(log, root)
    }
    assert(ex.getMessage.contains("ids-as-directory-names"))
    assert(Files.isDirectory(Paths.get(root, "p0")))
  }
}
