package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries.Registry

/** Driver contract (SURVEY.md §7). Both maps are built once from
  * [[Registry]]. */
object SparkEntry {
  /** Flagship query (TPC-H Q1 shape) on sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_agg_group")(spark, "/root/testdata/sf0.001")
  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.byName.map { case (n, d) => n -> d.build }
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  val oracleSql: Map[String, String] =
    Registry.byName.flatMap { case (n, d) => d.oracle.map(n -> _) }
}
