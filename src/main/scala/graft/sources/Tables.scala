package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Readers for the driver testdata (TESTDATA.md): one parquet file per
  * table under `$sfDir/`.
  *
  * The only non-trivial read is `events`: its `ts` column's physical type
  * has varied across testdata generations — TIMESTAMP(NANOS) (rounds 1–5),
  * which Spark 4.x refuses to read unless
  * `spark.sql.legacy.parquet.nanosAsLong=true` (arriving as `long`
  * nanoseconds, rebuilt here to a microsecond timestamp), and plain
  * timestamp[us] without timezone (round 6+), which arrives as
  * TIMESTAMP_NTZ. [[normalizeTs]] detects the arrived type and normalizes
  * all of them to a session-timezone (UTC) `timestamp`, so every consumer
  * sees one stable schema regardless of which generation wrote the file.
  * The nanos path uses integer division (`DIV`) rather than `/1000` so no
  * precision is lost converting the int64 nanos through a double
  * (2024-era nanos ≈ 1.7e18 > 2^53).
  *
  * At 100 TB these readers would pick up partitioned directories the same
  * way — `spark.read.parquet` on a directory of row-group-sized files with
  * hive-style partition columns enables partition pruning for free; nothing
  * here assumes a single file.
  *
  * Every table read goes through [[read]], which resolves a path's schema
  * once per file version instead of on every call: a bare
  * `spark.read.parquet` runs schema inference, a one-task Spark job that
  * reads a footer, each time a query is wired. The process-wide cache is
  * keyed by the qualified path, its Hadoop `FileStatus` length and
  * modification time ([[fileVersion]]), and the session's values of the
  * four confs that change how a parquet footer converts to Spark types
  * ([[schemaConfs]]). A rewritten file, or a session that reads it
  * differently, therefore misses and re-infers. A directory's version is
  * the directory's own status, which moves whenever a file is added,
  * removed or renamed in it. The cache holds only schemas (a few KB each),
  * never a DataFrame, relation or file listing: each call still lists the
  * path and builds a fresh relation with fresh exprIds, so a self-join of
  * two reads analyzes as before. It needs no eviction, because its keys
  * are bounded by sf dirs × 10 tables × file versions.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session settings the readers depend on (nanos-as-long for the events
    * TIMESTAMP(NANOS) column, UTC so date/timestamp functions are
    * engine-portable). Applied once per session — prefer setting these in
    * the SparkSession builder; this guard exists so a bare session still
    * reads correctly without per-read conf churn. */
  private def ensureConfigured(spark: SparkSession): Unit = {
    if (!spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if (!spark.conf.getOption("spark.sql.session.timeZone").contains("UTC"))
      spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  /** Normalize an events frame's `ts` to session-tz `timestamp`, whatever
    * physical type the parquet writer used: int64 (nanos-as-long), NTZ
    * (timestamp[us] with no zone — values are UTC wall clock, and the
    * session tz is pinned to UTC so the cast is value-preserving), or
    * already a zoned timestamp. */
  private[sources] def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }

  /** Parquet confs that change the schema inferred from a footer. */
  private val schemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  private val schemas =
    new ConcurrentHashMap[((String, Long, Long), Seq[String]), StructType]()

  /** A file version: (qualified path, length, modification time) from the
    * path's Hadoop `FileStatus` — a metadata call, no Spark job. */
  def fileVersion(spark: SparkSession, path: String): (String, Long, Long) = {
    val p = new Path(path)
    val st = p.getFileSystem(spark.sessionState.newHadoopConf()).getFileStatus(p)
    (st.getPath.toString, st.getLen, st.getModificationTime)
  }

  /** `spark.read.parquet(path)`, with the schema inferred once per file
    * version and session schema confs (see the object doc). */
  private def read(spark: SparkSession, path: String): DataFrame = {
    ensureConfigured(spark)
    val key = (fileVersion(spark, path), schemaConfs.map(spark.conf.get))
    val schema = Option(schemas.get(key)).getOrElse {
      val inferred = spark.read.parquet(path).schema
      schemas.putIfAbsent(key, inferred)
      inferred
    }
    spark.read.schema(schema).parquet(path)
  }

  /** Read one table as a DataFrame (events gets the ts rebuild). */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = read(spark, s"$sfDir/$name.parquet")
    if (name == "events") normalizeTs(df) else df
  }

  /** Register temp views for the named tables (all by default), so both
    * DataFrame-API operators and `spark.sql` queries see the same inputs. */
  def views(spark: SparkSession, sfDir: String, names: Seq[String] = all): Unit =
    names.foreach(n => table(spark, sfDir, n).createOrReplaceTempView(n))

  /** Write `events` as a hive-partitioned parquet layout (dt=YYYY-MM-DD
    * directories) — the 100 TB layout: a time-ranged query prunes whole
    * date partitions at the scan (see [[eventsSincePartitioned]] and the
    * PartitionFilters plan assertion in PlanSpec). Testdata stays
    * read-only; callers pass a scratch `outDir`. */
  def writeEventsPartitioned(spark: SparkSession, sfDir: String,
      outDir: String): Unit =
    table(spark, sfDir, "events")
      .withColumn("dt", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("dt").parquet(outDir)

  /** Incremental read over the partitioned layout: the watermark predicate
    * lands on the PARTITION column, so pruning happens at file listing —
    * unneeded date directories are never opened (vs. row-group pruning on
    * the raw-nanos path of [[eventsSince]]). */
  def eventsSincePartitioned(spark: SparkSession, dir: String,
      watermark: java.time.LocalDate): DataFrame =
    spark.read.parquet(dir)
      .filter(col("dt") >= lit(java.sql.Date.valueOf(watermark)))

  /** JDBC table read (the reference's database storages, e.g. Postgres
    * tables, behind the same reader API). `options` passes through Spark
    * JDBC tuning — at scale ALWAYS set partitionColumn/lowerBound/
    * upperBound/numPartitions so the read is N parallel range scans
    * instead of one executor draining the whole table over one
    * connection; predicates on the partition column prune ranges. */
  def readJdbc(spark: SparkSession, url: String, table: String,
      options: Map[String, String] = Map.empty): DataFrame =
    spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)
      .options(options).load()

  /** JDBC table write. `mode` follows DataFrameWriter ("overwrite",
    * "append", …); batching is Spark's JDBC writer (per-partition
    * connections, `batchsize` rows per round trip via `options`). */
  def writeJdbc(df: DataFrame, url: String, table: String,
      mode: String = "overwrite",
      options: Map[String, String] = Map.empty): Unit =
    df.write.format("jdbc")
      .option("url", url).option("dbtable", table)
      .options(options).mode(mode).save()

  /** Events at/after a watermark, with the predicate applied to the RAW
    * column *before* the timestamp rebuild, so it pushes down into the
    * parquet scan (row-group + page pruning). On the nanos-as-long layout
    * the comparison is against the int64 nanos value; on the timestamp[us]
    * layout it is an NTZ-literal comparison (both pushable). Filtering the
    * rebuilt column instead would defeat pushdown — a full scan at 100 TB. */
  def eventsSince(spark: SparkSession, sfDir: String,
      watermark: java.time.Instant): DataFrame = {
    val raw = read(spark, s"$sfDir/events.parquet")
    val filtered = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.filter(col("ts") >=
          (watermark.getEpochSecond * 1000000000L + watermark.getNano))
      case _ =>
        raw.filter(col("ts") >= lit(
          java.time.LocalDateTime.ofInstant(watermark, java.time.ZoneOffset.UTC)))
    }
    normalizeTs(filtered)
  }
}
