package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional extra args: restrict to these query names (local iteration)
    val only = selected(args.drop(2).toSeq)
    // the bench's session, so the library's deployment surface
    // (GraftExtensions: codegen'd graft_* SQL functions and the
    // size(array_intersect) rewrite) is active exactly as a cluster
    // would enable it
    val spark = Bench.buildSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Bench.jsonString(k)}: ${Bench.jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** The names a run is restricted to (empty = all). A name that is not
    * registered fails here, before a session is built, instead of
    * silently writing no output. */
  private[graft] def selected(names: Seq[String]): Set[String] = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query: ${unknown.mkString(", ")}")
    names.toSet
  }
}
