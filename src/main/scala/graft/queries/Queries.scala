package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables
import graft.operators.{AsOfJoin, Bloom, Components, Dedup, Incremental, IntervalJoin, Iterate, Ivf, KMeans, Multimodal, Pca, Pq, Rank, Retrieval, Sampling, Similarity, Skew, TextAnalysis, Validate}
import graft.engine.{Graph, Node, Observed, RunLog, Snapshot}
import graft.modules.CorpusModule
import graft.sources.Layout

/** The declared query inventory (SURVEY.md §2) as idiomatic DataFrame-API
  * plans. Each plan is `(spark, sfDir) => DataFrame`; [[Registry]] names
  * it and pairs it with its DuckDB oracle.
  *
  * Correctness conventions (SURVEY §7.4): every query either ends in a
  * total ORDER BY (tie-broken down to a unique key) or is a tiny aggregate;
  * float aggregates are rounded on both engine and oracle sides; grouping
  * nulls are ordered NULLS FIRST explicitly; `date_trunc` results are cast
  * to DATE where month-granular; raw `events.ts` never appears in output.
  *
  * Scale posture: all plans are shuffle-parallel (hash aggregate with
  * map-side partials, sort-merge or broadcast joins, window functions over
  * hash-partitioned keys); nothing collects to the driver.
  */
object Queries {
  type Q = (SparkSession, String) => DataFrame

  /** The maxDf-style pivot hub cap shared by q_linkpred and
    * q_cluster_coeff (a pivot's pair emission is quadratic in its
    * width). ONE definition, interpolated into the [[Registry]] oracle texts
    * for both queries, so the engine and its oracle can never silently
    * diverge on the query definition (a mismatch would otherwise be
    * invisible on narrow-basket data, where the cap is a no-op). */
  val hubCapLo = 2
  val hubCapHi = 100

  private def t(spark: SparkSession, sf: String, name: String): DataFrame =
    Tables.table(spark, sf, name)

  /** Run one sql() text over query-scoped temp views: each frame
    * registers under a UNIQUE name (base + uuid), `build` receives the
    * names in order, and the views drop right after the eager analysis
    * — no declared query leaves catalog residue, so a later
    * catalog-resolving consumer (a Node.sql, a user's spark.sql) can
    * never silently bind a view that captured whichever SF ran last
    * (round-9 ADVICE, generalized from q_sql_pipe to every sql-text
    * query). sql() analysis inlines the view subplan into the returned
    * frame, so execution never re-reads the catalog; a localCheckpoint
    * referenced by the subplan stays alive through the plan itself. */
  private def withViews(s: SparkSession, frames: (String, DataFrame)*)(
      build: Seq[String] => String): DataFrame = {
    val names = frames.map { case (base, df) =>
      val v = base + "_" +
        java.util.UUID.randomUUID().toString.takeWhile(_ != '-')
      df.createOrReplaceTempView(v)
      v
    }
    try s.sql(build(names))
    finally names.foreach(s.catalog.dropTempView(_))
  }

  // ---------------------------------------------------------------- scans

  private[queries] val qScan: Q = (s, sf) =>
    t(s, sf, "lineitem").agg(count(lit(1)).as("n"))

  /** The event table, grouped — proves the ts-normalizing read (the
    * physical ts type has varied across testdata generations: int64
    * nanos, then timestamp[us]; Tables.normalizeTs absorbs both). */
  private[queries] val qScanEvents: Q = (s, sf) =>
    t(s, sf, "events").groupBy("event_type")
      .agg(count(lit(1)).as("c"))
      .orderBy("event_type")

  // ------------------------------------------------- projection / filter

  private[queries] val qProject: Q = (s, sf) =>
    t(s, sf, "lineitem")
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net"))
      .orderBy("l_orderkey", "net")
      .limit(100)

  private[queries] val qFilter: Q = (s, sf) =>
    t(s, sf, "lineitem")
      .filter(col("l_shipdate") >= lit("1994-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1995-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"))

  // ---------------------------------------------------------------- joins

  private[queries] val qJoinInner: Q = (s, sf) =>
    t(s, sf, "orders")
      .join(t(s, sf, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, sf, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(round(sum("o_totalprice"), 2).as("s"), count(lit(1)).as("c"))
      .orderBy("n_name")

  private[queries] val qJoinOuter: Q = (s, sf) =>
    t(s, sf, "customer")
      .join(t(s, sf, "orders"), col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c"))
      .orderBy(col("c").desc, col("c_custkey"))
      .limit(50)

  private[queries] val qJoinSemi: Q = (s, sf) =>
    t(s, sf, "customer")
      .join(t(s, sf, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
      .agg(count(lit(1)).as("n"))

  private[queries] val qJoinAnti: Q = (s, sf) =>
    t(s, sf, "customer")
      .join(t(s, sf, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
      .agg(count(lit(1)).as("n"))

  private[queries] val qJoinRange: Q = (s, sf) =>
    t(s, sf, "lineitem")
      .join(t(s, sf, "orders"),
        col("l_orderkey") === col("o_orderkey") && col("l_shipdate") > col("o_orderdate"))
      .agg(count(lit(1)).as("n"))

  /** Keyless point-in-interval join — the shape stock Spark plans as a
    * BroadcastNestedLoopJoin. [[IntervalJoin]] restores an equi key by
    * binning (here: 1-hour bins = the interval length), so the plan is an
    * ordinary shuffle hash/sort-merge join; exact µs-epoch arithmetic on
    * both engines. Views are counted per platform-wide error window. */
  private[queries] val qJoinInterval: Q = (s, sf) => {
    val us = 3600L * 1000000
    val ev = t(s, sf, "events")
    val w = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("wid"), unix_micros(col("ts")).as("s_us"))
      .withColumn("e_us", col("s_us") + us)
    val p = ev.filter(col("event_type") === "view")
      .select(unix_micros(col("ts")).as("pt"))
    IntervalJoin.pointInInterval(p, "pt", w, "s_us", "e_us", us)
      .groupBy("wid").agg(count(lit(1)).as("n_views"))
      .orderBy("wid").limit(100)
  }

  private[queries] val qCase: Q = (s, sf) =>
    t(s, sf, "orders")
      .groupBy(
        when(col("o_totalprice") >= 300000, "high")
          .when(col("o_totalprice") >= 150000, "mid")
          .otherwise("low").as("band"),
        coalesce(nullif(col("o_orderstatus"), lit("O")), lit("OPEN")).as("st"))
      .agg(count(lit(1)).as("c"))
      .orderBy("band", "st")

  private[queries] val qDistinct: Q = (s, sf) =>
    t(s, sf, "customer")
      .select("c_mktsegment", "c_nationkey")
      .distinct()
      .orderBy("c_mktsegment", "c_nationkey")

  /** Fact ⋈ small-dim with an explicit broadcast hint; the plan is asserted
    * broadcast in tests — at 100 TB the 20k-row part dim must never shuffle
    * the 600M-row lineitem side. */
  private[queries] val qJoinBcast: Q = (s, sf) =>
    t(s, sf, "lineitem")
      .join(broadcast(t(s, sf, "part")), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(round(sum("l_extendedprice"), 2).as("s"), count(lit(1)).as("c"))
      .orderBy("p_brand")

  private[queries] val qJoinFull: Q = (s, sf) => {
    val c = t(s, sf, "customer").groupBy(col("c_nationkey").as("ck"))
      .agg(count(lit(1)).as("cc"))
    val su = t(s, sf, "supplier").groupBy(col("s_nationkey").as("sk"))
      .agg(count(lit(1)).as("sc"))
    c.join(su, col("ck") === col("sk"), "full")
      .select(coalesce(col("ck"), col("sk")).as("k"),
        coalesce(col("cc"), lit(0L)).as("cc"),
        coalesce(col("sc"), lit(0L)).as("sc"))
      .orderBy("k")
  }

  private[queries] val qJoinCross: Q = (s, sf) =>
    t(s, sf, "region")
      .crossJoin(t(s, sf, "nation"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("c"))
      .orderBy("r_name")

  // ----------------------------------------------------------- aggregation

  private[queries] val qAggGroup: Q = (s, sf) =>
    t(s, sf, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(round(sum("l_quantity"), 2).as("sq"),
        round(sum("l_extendedprice"), 2).as("sp"),
        round(avg("l_discount"), 4).as("ad"),
        count(lit(1)).as("c"))
      .orderBy("l_returnflag", "l_linestatus")

  private[queries] val qAggDistinct: Q = (s, sf) =>
    t(s, sf, "customer")
      .groupBy("c_mktsegment")
      .agg(countDistinct(col("c_nationkey")).as("dn"))
      .orderBy("c_mktsegment")

  private[queries] val qRollup: Q = (s, sf) =>
    t(s, sf, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("c"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first, col("c"))

  private[queries] val qCube: Q = (s, sf) =>
    t(s, sf, "customer")
      .cube("c_mktsegment", "c_nationkey")
      .agg(round(sum("c_acctbal"), 2).as("s"))
      .orderBy(col("c_mktsegment").asc_nulls_first, col("c_nationkey").asc_nulls_first)

  private[queries] val qGroupingSets: Q = (s, sf) => {
    val li = t(s, sf, "lineitem")
    li.groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq.empty),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping(col("l_returnflag")).as("gf"),
        grouping(col("l_linestatus")).as("gs"),
        count(lit(1)).as("c"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first, col("c"))
  }

  /** event_type → columns. The value list is explicit so the plan needs no
    * distinct-collect pass and the output schema is static (required at
    * scale: pivot without values collects the distinct set to the driver). */
  private[queries] val qPivot: Q = (s, sf) =>
    t(s, sf, "events")
      .groupBy((col("user_id") % 10).as("ub"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .count()
      .na.fill(0L)
      .orderBy("ub")

  /** Correlated scalar subquery (customers above their nation's average
    * balance) through the SQL runtime — Catalyst decorrelates it to an
    * aggregate + join, no per-row subquery execution. The mean is rounded
    * before comparing so the threshold is engine-portable. */
  private[queries] val qCorrelated: Q = (s, sf) =>
    withViews(s, "customer" -> t(s, sf, "customer")) { case Seq(c) =>
      s"""SELECT c_nationkey, count(*) AS c FROM $c c1
          WHERE c_acctbal > (SELECT round(avg(c_acctbal), 2)
                             FROM $c c2
                             WHERE c2.c_nationkey = c1.c_nationkey)
          GROUP BY c_nationkey ORDER BY c_nationkey"""
    }

  /** CTE pipeline through the SQL runtime: monthly revenue then
    * month-over-month delta. The window is over the ~80-row aggregate
    * output, not raw orders, so the single-partition sort is trivial. */
  private[queries] val qCte: Q = (s, sf) =>
    withViews(s, "orders" -> t(s, sf, "orders")) { case Seq(o) =>
      s"""WITH mo AS (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
                 round(sum(o_totalprice), 2) AS rev
              FROM $o GROUP BY m)
          SELECT m, rev,
                 round(rev - lag(rev, 1, 0.0) OVER (ORDER BY m), 2) AS d
          FROM mo ORDER BY m"""
    }

  /** Correlated LATERAL subquery: top-2 nations per region without a
    * window — the lateral per-row subquery surface of the SQL runtime. */
  private[queries] val qLateral: Q = (s, sf) =>
    withViews(s, "region" -> t(s, sf, "region"),
        "nation" -> t(s, sf, "nation")) { case Seq(r, n) =>
      s"""SELECT r_name, n_name
          FROM $r, LATERAL (SELECT n_name FROM $n
                            WHERE n_regionkey = r_regionkey
                            ORDER BY n_name LIMIT 2)
          ORDER BY r_name, n_name"""
    }

  /** Array-valued aggregation: the distinct set per group, sorted so the
    * array value is deterministic (collect_set order is not). The array is
    * built as an array, then rendered as a joined string for output: the
    * compare driver normalizes cells via pandas sort, which cannot hash
    * array cells (round-2 ADVICE) — scalars are the portable surface. */
  private[queries] val qAggList: Q = (s, sf) =>
    t(s, sf, "customer")
      .groupBy("c_mktsegment")
      .agg(array_sort(collect_set(col("c_nationkey"))).as("nation_arr"),
        count(lit(1)).as("c"))
      .select(col("c_mktsegment"),
        array_join(transform(col("nation_arr"), _.cast("string")), ",").as("nations"),
        size(col("nation_arr")).as("n_nations"),
        col("c"))
      .orderBy("c_mktsegment")

  /** String aggregation: sorted distinct values joined per group (the
    * listagg/string_agg shape, ordered for determinism). */
  private[queries] val qStringAgg: Q = (s, sf) =>
    t(s, sf, "customer")
      .groupBy("c_nationkey")
      .agg(array_join(array_sort(collect_set(col("c_mktsegment"))), ",").as("segs"),
        count(lit(1)).as("c"))
      .orderBy("c_nationkey")

  /** Struct construction + struct-ordering argmax: max(struct(p, k)) is
    * the lexicographic top row per group (the argmax idiom without a
    * window), then nested-field access unpacks it. */
  private[queries] val qStructAgg: Q = (s, sf) =>
    t(s, sf, "orders")
      .groupBy("o_orderpriority")
      .agg(max(struct(col("o_totalprice").as("p"), col("o_orderkey").as("k"))).as("top"))
      .select(col("o_orderpriority"), col("top.p").as("p"), col("top.k").as("k"))
      .orderBy("o_orderpriority")

  /** Unpivot (melt): measures back to (metric, value) rows — the inverse
    * of q_pivot, static schema, narrow reshape after the aggregate. */
  private[queries] val qUnpivot: Q = (s, sf) =>
    t(s, sf, "orders")
      .groupBy("o_orderpriority")
      .agg(round(sum("o_totalprice"), 2).as("total"),
        round(avg("o_totalprice"), 2).as("mean"))
      .unpivot(Array(col("o_orderpriority")), Array(col("total"), col("mean")),
        "metric", "value")
      .orderBy("o_orderpriority", "metric")

  /** Exact interpolated percentiles (DuckDB quantile_cont ≡ Spark
    * percentile). At scale the approx_percentile sketch replaces this;
    * exact needs the full sorted group. */
  private[queries] val qPercentile: Q = (s, sf) =>
    t(s, sf, "lineitem")
      .groupBy("l_returnflag")
      .agg(round(expr("percentile(l_quantity, 0.5)"), 4).as("p50"),
        round(expr("percentile(l_quantity, 0.9)"), 4).as("p90"),
        round(expr("percentile(l_extendedprice, 0.99)"), 2).as("p99e"))
      .orderBy("l_returnflag")

  /** Statistical aggregates (merge-order-sensitive floats → rounded). */
  private[queries] val qStats: Q = (s, sf) =>
    t(s, sf, "lineitem")
      .groupBy("l_linestatus")
      .agg(round(stddev_samp(col("l_quantity")), 4).as("sd"),
        round(var_samp(col("l_quantity")), 3).as("vr"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("cr"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("cv"))
      .orderBy("l_linestatus")

  // --------------------------------------------------------------- windows

  private[queries] val qWindowRank: Q = (s, sf) => {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, sf, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        rank().over(w).as("r"))
      .filter(col("r") <= 2)
      .orderBy("o_custkey", "r", "o_orderkey")
      .limit(100)
  }

  private[queries] val qWindowRunning: Q = (s, sf) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, sf, "events")
      .select(col("user_id"), col("event_id"),
        round(sum("value").over(w), 2).as("rs"))
      .orderBy("user_id", "event_id")
      .limit(100)
  }

  private[queries] val qWindowLag: Q = (s, sf) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t(s, sf, "events")
      .select(col("user_id"), col("event_id"),
        round(col("value") - lag(col("value"), 1, 0.0).over(w), 2).as("d"))
      .orderBy("user_id", "event_id")
      .limit(100)
  }

  private[queries] val qWindowNtile: Q = (s, sf) => {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, sf, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        ntile(4).over(w).as("nt"),
        round(percent_rank().over(w), 4).as("pr"))
      .orderBy("o_orderkey")
      .limit(100)
  }

  private[queries] val qWindowRange: Q = (s, sf) => {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderkey"))
      .rangeBetween(-100L, Window.currentRow)
    t(s, sf, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        round(avg("o_totalprice").over(w), 2).as("ma"))
      .orderBy("o_orderkey")
      .limit(100)
  }

  private[queries] val qWindowFirstLast: Q = (s, sf) => {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t(s, sf, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        first("o_totalprice").over(w).as("fv"),
        last("o_totalprice").over(w).as("lv"))
      .orderBy("o_orderkey")
      .limit(100)
  }

  // -------------------------------------------------- sort / limit / sets

  private[queries] val qSortLimit: Q = (s, sf) =>
    t(s, sf, "orders")
      .select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)

  private[queries] val qSetops: Q = (s, sf) =>
    t(s, sf, "customer").select(col("c_nationkey").as("k"))
      .intersect(t(s, sf, "supplier").select(col("s_nationkey").as("k")))
      .orderBy("k")

  /** UNION ALL + agg — also the shape of dags block accumulation. */
  private[queries] val qUnionAll: Q = (s, sf) =>
    t(s, sf, "customer").select(col("c_nationkey").as("k"))
      .unionByName(t(s, sf, "supplier").select(col("s_nationkey").as("k")))
      .groupBy("k")
      .agg(count(lit(1)).as("c"))
      .orderBy("k")

  private[queries] val qUnionDistinct: Q = (s, sf) =>
    t(s, sf, "customer").select(col("c_nationkey").as("k"))
      .union(t(s, sf, "supplier").select(col("s_nationkey").as("k")))
      .distinct()
      .orderBy("k")

  private[queries] val qExcept: Q = (s, sf) =>
    t(s, sf, "customer").select(col("c_nationkey").as("k"))
      .except(t(s, sf, "supplier").select(col("s_nationkey").as("k")))
      .orderBy("k")

  // ------------------------------------------------------ scalar functions

  private[queries] val qString: Q = (s, sf) =>
    t(s, sf, "part")
      .filter(col("p_name").like("%a%"))
      .groupBy(upper(substring(col("p_name"), 1, 3)).as("pre"))
      .agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("pre"))
      .limit(20)

  private[queries] val qDate: Q = (s, sf) =>
    t(s, sf, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("m"))
      .agg(count(lit(1)).as("c"), round(sum("o_totalprice"), 2).as("s"))
      .orderBy("m")

  private[queries] val qJson: Q = (s, sf) =>
    t(s, sf, "events")
      .groupBy((get_json_object(col("props"), "$.k").cast("int") % 10).as("kb"))
      .agg(count(lit(1)).as("c"))
      .orderBy("kb")

  private[queries] val qRegex: Q = (s, sf) =>
    t(s, sf, "part")
      .groupBy(regexp_extract(col("p_type"), "^(\\w+)", 1).as("tok"))
      .agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok"))

  private[queries] val qMath: Q = (s, sf) =>
    t(s, sf, "orders")
      .groupBy("o_orderpriority")
      .agg(round(sum(abs(col("o_totalprice") - 150000)), 2).as("sa"),
        round(pow(avg("o_totalprice"), 0.5), 4).as("sq"),
        round(log(max("o_totalprice")), 4).as("lg"))
      .orderBy("o_orderpriority")

  /** Array higher-order functions over the embedding column; the sum
    * accumulates float→double left-to-right, matching DuckDB list_sum. */
  private[queries] val qArray: Q = (s, sf) =>
    t(s, sf, "embeddings")
      .select(col("vec_id"),
        size(col("embedding")).as("d"),
        round(element_at(col("embedding"), 1).cast("double"), 4).as("e1"),
        round(expr("aggregate(embedding, CAST(0.0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE))"), 3).as("sm"))
      .orderBy("vec_id")
      .limit(100)

  private[queries] val qMap: Q = (s, sf) =>
    t(s, sf, "events")
      .select(explode(expr("from_json(props, 'map<string,int>')")).as(Seq("mk", "mv")))
      .groupBy("mk")
      .agg(count(lit(1)).as("c"), sum("mv").as("sv"))
      .orderBy("mk")

  // ------------------------------------- dags-signature incremental ops

  /** dedupe-unique-keep-newest-row — the reference's flagship pipe. */
  private[queries] val qDedupe: Q = (s, sf) => {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    t(s, sf, "events")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("s"))
  }

  /** Block accumulation + keep-newest dedupe = the reference's DataSet
    * materialization, over two event "blocks" (split on event_id parity). */
  private[queries] val qAccumulate: Q = (s, sf) => {
    val ev = t(s, sf, "events")
    val blocks = Seq(ev.filter(col("event_id") % 2 === 0),
      ev.filter(col("event_id") % 2 === 1))
    Incremental.asDataset(blocks, Seq("user_id"),
        Seq(col("ts").desc, col("event_id").desc))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("s"))
  }

  /** Schema "implements": customer projected onto a generic Entity shape. */
  private[queries] val qSchemaCast: Q = (s, sf) =>
    Incremental.schemaCast(t(s, sf, "customer"), Seq(
        ("c_custkey", "id", "bigint"),
        ("c_name", "name", "string"),
        ("c_acctbal", "score", "double")))
      .orderBy("id")
      .limit(100)

  /** High-watermark consumption: rows at/after the checkpoint parameter.
    * Uses the raw-nanos pushdown reader — the predicate reaches the parquet
    * scan (plan-asserted in PlanSpec), unlike a filter on the rebuilt
    * timestamp column. */
  private[queries] val qIncremental: Q = (s, sf) =>
    Tables.eventsSince(s, sf, java.time.Instant.parse("2024-01-15T00:00:00Z"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("s"))

  /** As-of join: each event matched to the customer's most recent order at
    * or before the event time (union-tag + window — no range blowup). */
  private[queries] val qJoinAsof: Q = (s, sf) => {
    val ev = t(s, sf, "events").select("event_id", "user_id", "ts")
    val ord = t(s, sf, "orders")
    AsOfJoin.asOf(ev, ord, "user_id", "o_custkey", "ts", "o_orderdate",
        Seq("o_orderkey"))
      .select(col("event_id"), col("user_id"), col("asof_o_orderkey").as("mk"))
      .orderBy("event_id")
      .limit(100)
  }

  // -------------------------------------------------- time-series / text

  private[queries] val qTumble: Q = (s, sf) =>
    t(s, sf, "events")
      .groupBy(date_trunc("hour", col("ts")).as("w"), col("event_type"))
      .agg(count(lit(1)).as("c"), round(sum("value"), 2).as("s"))
      .orderBy("w", "event_type")
      .limit(200)

  /** 1-hour windows sliding every 30 minutes (each event lands in 2
    * windows). Spark's `window()` works in batch GROUP BY too; streaming
    * uses the identical expression plus a watermark (graft.streaming). */
  private[queries] val qSlide: Q = (s, sf) =>
    t(s, sf, "events")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("c"), round(sum("value"), 2).as("s"))
      .select(col("window.start").as("ws"), col("c"), col("s"))
      .orderBy("ws")
      .limit(200)

  /** Time-series gap filling (resample-to-daily): each user's series is
    * densified over its OWN [min(day), max(day)] span. Single-pass shape:
    * one aggregate collects the span AND a day→(c,v) map per user, the
    * calendar explodes from `sequence(d0, d1)`, and each day is a map
    * lookup with zero fill — ONE scan, ONE shuffle, no self-join (the
    * naive spans⋈daily form scans the input twice; Catalyst doesn't reuse
    * the exchange across the two branches). Per-user state is its
    * observed days — bounded by the span, fine for any real resample; a
    * span too large to hold per key is the cue to fall back to the
    * calendar⋈daily equi-join. */
  private[queries] val qGapfill: Q = (s, sf) => {
    val daily = t(s, sf, "events")
      .filter(col("user_id") < 5)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"), round(sum("value"), 2).as("v"))
    daily.groupBy("user_id")
      .agg(min("day").as("d0"), max("day").as("d1"),
        map_from_arrays(collect_list("day"),
          collect_list(struct(col("c"), col("v")))).as("obs"))
      .select(col("user_id"),
        explode(sequence(col("d0"), col("d1"))).as("day"), col("obs"))
      .select(col("user_id"), col("day"),
        coalesce(element_at(col("obs"), col("day")).getField("c"), lit(0L)).as("c"),
        coalesce(element_at(col("obs"), col("day")).getField("v"), lit(0.0)).as("v"))
      .orderBy("user_id", "day")
  }

  /** Forward fill (last observation carried forward) — the other canonical
    * resample mode: densify each user's daily series (same single-pass
    * map-lookup shape as [[qGapfill]]) leaving gaps NULL, then
    * `last(ignoreNulls)` over a per-user ordered window carries the prior
    * observation forward. No leading nulls by construction: the span
    * starts at each user's first observed day. Window partitions by the
    * high-cardinality user key — shards cleanly at scale. */
  private[queries] val qLocf: Q = (s, sf) => {
    val daily = t(s, sf, "events")
      .filter(col("user_id") < 5)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(round(sum("value"), 2).as("v"))
    val dense = daily.groupBy("user_id")
      .agg(min("day").as("d0"), max("day").as("d1"),
        map_from_arrays(collect_list("day"), collect_list("v")).as("obs"))
      .select(col("user_id"),
        explode(sequence(col("d0"), col("d1"))).as("day"), col("obs"))
      .select(col("user_id"), col("day"),
        element_at(col("obs"), col("day")).as("v"))
    val w = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dense
      .select(col("user_id"), col("day"), col("v").isNull.as("gap"),
        last("v", ignoreNulls = true).over(w).as("v"))
      .orderBy("user_id", "day")
  }

  /** Data-quality report: dbt-style constraint checks (expectation,
    * not-null, referential integrity, unique key) declared as plans and
    * unioned into one (check, violations) frame — each check is a
    * filter/anti-join/aggregate Catalyst plans like any query. */
  private[queries] val qValidate: Q = (s, sf) => {
    val li = t(s, sf, "lineitem")
    graft.operators.Validate.report(Seq(
      graft.operators.Validate.expect(li, "qty<=30", col("l_quantity") <= 30),
      graft.operators.Validate.notNull(li, "l_orderkey"),
      graft.operators.Validate.refIntegrity(li, "l_orderkey",
        t(s, sf, "orders"), "o_orderkey"),
      graft.operators.Validate.uniqueKey(t(s, sf, "customer"),
        Seq("c_custkey"))))
  }

  /** HLL++ approximate distinct — mergeable sketch, no exact-count shuffle
    * of raw user ids at deployment. No value oracle (sketch estimates are
    * engine-specific), so the declared row carries its own MACHINE-CHECKED
    * bound: the exact count rides along, the 3·rsd window (rsd = 0.05,
    * approx_count_distinct's default) is a visible output column, and
    * assert_true enforces it IN-PLAN — an out-of-bound sketch turns the
    * row into an execution error the driver records, never a silent
    * rows>0 pass. */
  private[queries] val qApproxDistinct: Q = (s, sf) => {
    val rsd = 0.05
    t(s, sf, "events")
      .groupBy("event_type")
      .agg(approx_count_distinct("user_id").as("du"),
        countDistinct("user_id").as("exact"))
      .withColumn("within3rsd",
        abs(col("du") - col("exact")) <= lit(3 * rsd) * col("exact"))
      .filter(assert_true(col("within3rsd"),
        lit("HLL estimate out of the 3*rsd error bound")).isNull)
      .orderBy("event_type")
  }

  /** Distribution window functions: cume_dist + percent_rank per segment —
    * both are integer-count ratios, so values are engine-identical. */
  private[queries] val qWindowDist: Q = (s, sf) => {
    val w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal")
    t(s, sf, "customer")
      .select(col("c_custkey"), col("c_mktsegment"),
        cume_dist().over(w).as("cd"), percent_rank().over(w).as("pr"))
      .orderBy("c_custkey").limit(100)
  }

  /** Fixed-width histogram: floor-binning is the portable width_bucket
    * (floor rounds toward −∞ in both engines, so negative balances bin
    * correctly). One partial-agg shuffle — histograms of 100 TB are cheap. */
  private[queries] val qHistogram: Q = (s, sf) =>
    t(s, sf, "customer")
      .groupBy(floor(col("c_acctbal") / 1000).cast("bigint").as("bin"))
      .agg(count(lit(1)).as("c"), round(avg("c_acctbal"), 2).as("m"))
      .orderBy("bin")

  /** Funnel analysis (view → click → purchase): per-user FIRST timestamp
    * of each stage via conditional min — one pass over events, one
    * hash-shuffle on user_id — then one global count of users whose firsts
    * are stage-ordered. The first-touch ordering variant: stage k counts
    * users whose first stage-k event follows their first stage-(k−1)
    * event. At 100 TB this is the shape you want: no per-user event-list
    * collection, no window sort — conditional aggregates only. */
  private[queries] val qFunnel: Q = (s, sf) => {
    val firsts = t(s, sf, "events")
      .groupBy("user_id")
      .agg(
        min(when(col("event_type") === "view", col("ts"))).as("t1"),
        min(when(col("event_type") === "click", col("ts"))).as("t2"),
        min(when(col("event_type") === "purchase", col("ts"))).as("t3"))
    firsts.agg(
      count(col("t1")).as("s_view"),
      count(when(col("t2") > col("t1"), lit(1))).as("s_click"),
      count(when(col("t2") > col("t1") && col("t3") > col("t2"), lit(1)))
        .as("s_purchase"))
  }

  /** Cohort retention: cohort = the Monday of each user's first-activity
    * week; cell (cohort, k) = distinct users of that cohort active k weeks
    * later. The raw event stream is FIRST reduced to distinct (user, week)
    * pairs — ≤ |users|·|weeks| rows however many raw events exist — so the
    * cohort join and the final count are over the compacted activity set
    * and the last agg is a plain count, not a count-distinct expansion:
    * the shape that survives 100 TB of events. */
  private[queries] val qRetention: Q = (s, sf) => {
    val wk = t(s, sf, "events")
      .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("wk"))
      .distinct()
    val cohort = wk.groupBy("user_id").agg(min("wk").as("cw"))
    wk.join(cohort, "user_id")
      .groupBy(col("cw"), (datediff(col("wk"), col("cw")) / 7)
        .cast("bigint").as("k"))
      .agg(count(lit(1)).as("u"))
      .orderBy("cw", "k")
  }

  /** Linear-regression aggregates (slope/intercept/R²) per group — single
    * shuffle, partial-aggregable moments, the distributed OLS-by-group
    * primitive. R² here is ≈0: the synthetic price is independent of
    * quantity, which the near-zero slope/R² correctly report. */
  private[queries] val qRegression: Q = (s, sf) =>
    t(s, sf, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        round(regr_slope(col("l_extendedprice"), col("l_quantity")), 2).as("b1"),
        round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 2).as("b0"),
        round(regr_r2(col("l_extendedprice"), col("l_quantity")), 4).as("r2"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** Fuzzy-match self-join, prefix-blocked: candidate pairs share a
    * blocking key (name minus its last 2 chars — the classic record-linkage
    * block), so the pair join is an EQUI-join on the block with the id
    * residual, never a nested-loop over all pairs; Levenshtein then scores
    * only in-block pairs. Levenshtein is integer-valued — bit-identical
    * across engines — so the distance histogram is a strong oracle. Same
    * shape as the LSH near-dup pipeline: blocking bounds the pair space,
    * the scorer verifies. */
  private[queries] val qFuzzy: Q = (s, sf) => {
    val c = t(s, sf, "customer").filter(col("c_custkey") < 100)
      .select(col("c_custkey").as("ck"), col("c_name").as("nm"),
        expr("substr(c_name, 1, length(c_name) - 2)").as("blk"))
    val a = c.select(col("ck").as("ka"), col("nm").as("na"), col("blk"))
    val b = c.select(col("ck").as("kb"), col("nm").as("nb"),
      col("blk").as("blk2"))
    a.join(b, col("blk") === col("blk2") && col("ka") < col("kb"))
      .select(levenshtein(col("na"), col("nb")).as("d"))
      .filter(col("d") <= 2)
      .groupBy("d").agg(count(lit(1)).as("c"))
      .orderBy("d")
  }

  /** Mergeable quantile sketch (approx_percentile ≈ KLL/GK family): the
    * distributed path when exact percentiles' full sort is too expensive.
    * No value oracle (sketch internals are engine-specific), so the row
    * carries the sketch's OWN guarantee as a machine-checked output: each
    * estimate's exact rank bracket [#<v + 1, #≤v] (one counting pass, no
    * sort) must overlap the target rank window (q ± 1/accuracy)·n — the
    * Greenwald–Khanna contract itself, ±1 for floor/ceil conventions —
    * and assert_true enforces it in-plan: a sketch outside its documented
    * bound becomes an execution error the driver records. */
  private[queries] val qApproxPercentile: Q = (s, sf) => {
    val eps = 1.0 / 10000
    val pcts = t(s, sf, "lineitem")
      .groupBy("l_returnflag")
      .agg(percentile_approx(col("l_extendedprice"),
        array(lit(0.5), lit(0.9), lit(0.99)), lit(10000)).as("pcts"))
      .select(col("l_returnflag").as("rf"),
        element_at(col("pcts"), 1).as("p50"),
        element_at(col("pcts"), 2).as("p90"),
        element_at(col("pcts"), 3).as("p99"))
    def rankCnt(p: String, strict: Boolean) =
      sum((if (strict) col("x") < col(p) else col("x") <= col(p))
        .cast("long"))
    def inWindow(q: Double, lt: Column, le: Column) =
      (lt + 1 <= ceil(lit(q + eps) * col("n")) + 1) &&
        (le >= floor(lit(q - eps) * col("n")) - 1)
    t(s, sf, "lineitem").select(col("l_returnflag"),
        col("l_extendedprice").as("x"))
      .join(broadcast(pcts), col("l_returnflag") === col("rf"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        first("p50").as("p50"), first("p90").as("p90"),
        first("p99").as("p99"),
        rankCnt("p50", strict = true).as("lt50"),
        rankCnt("p50", strict = false).as("le50"),
        rankCnt("p90", strict = true).as("lt90"),
        rankCnt("p90", strict = false).as("le90"),
        rankCnt("p99", strict = true).as("lt99"),
        rankCnt("p99", strict = false).as("le99"))
      .withColumn("within_eps",
        inWindow(0.5, col("lt50"), col("le50")) &&
          inWindow(0.9, col("lt90"), col("le90")) &&
          inWindow(0.99, col("lt99"), col("le99")))
      .filter(assert_true(col("within_eps"),
        lit("approx_percentile outside its rank-error guarantee")).isNull)
      .select(col("l_returnflag"), col("p50"), col("p90"), col("p99"),
        col("within_eps"))
      .orderBy("l_returnflag")
  }

  /** Scalar subquery in the SELECT list (uncorrelated): each row carries
    * the corpus-wide aggregate — planned as a broadcast of one value, not
    * a per-row execution. */
  private[queries] val qScalarSubq: Q = (s, sf) =>
    withViews(s, "customer" -> t(s, sf, "customer")) { case Seq(c) =>
      s"""SELECT c_mktsegment,
            round(avg(c_acctbal), 2) seg_avg,
            round((SELECT avg(c_acctbal) FROM $c), 2) all_avg
          FROM $c GROUP BY c_mktsegment ORDER BY c_mktsegment"""
    }

  /** Sessionize with a 30-minute inactivity gap: lag → break flag →
    * running sum = session id → distinct sessions per user. */
  private[queries] val qSessionize: Q = (s, sf) => {
    val byTime = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val running = byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prevTs = lag(col("ts"), 1).over(byTime)
    t(s, sf, "events")
      .withColumn("brk",
        when(prevTs.isNull || (col("ts").cast("double") - prevTs.cast("double") > 1800), 1)
          .otherwise(0))
      .withColumn("sid", sum("brk").over(running))
      .groupBy("user_id")
      .agg(countDistinct(col("sid")).as("sessions"))
      .orderBy("user_id")
      .limit(100)
  }

  private[queries] val qTopkTerms: Q = (s, sf) =>
    t(s, sf, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w")
      .agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w"))
      .limit(10)

  private[queries] val qTextStats: Q = (s, sf) =>
    t(s, sf, "documents")
      .groupBy("lang")
      .agg(count(lit(1)).as("c"),
        round(avg("n_chars"), 2).as("ac"),
        round(avg(size(split(col("text"), " "))), 2).as("atok"))
      .orderBy("lang")

  /** Multimodal row: document text joined with its embedding vector plus
    * derived vector metadata — the docs⋈vectors co-location join. */
  private[queries] val qMultimodalJoin: Q = (s, sf) =>
    t(s, sf, "documents")
      .join(t(s, sf, "embeddings"), col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("lang"),
        size(col("embedding")).as("dim"),
        round(sqrt(expr("aggregate(embedding, CAST(0.0 AS DOUBLE), (a, x) -> a + CAST(x * x AS DOUBLE))")), 4).as("nrm"))
      .orderBy("doc_id")
      .limit(100)

  /** Exact cosine top-k against the query vector (vec_id=0), 100 TB shape:
    * the 1-row query vector is broadcast and the dot product runs as a
    * codegen'd higher-order function per row — no posexplode blowup, no
    * shuffle except the final top-k (see [[Similarity.cosineTopK]]). */
  private[queries] val qCosineTopk: Q = (s, sf) =>
    Similarity.cosineTopK(t(s, sf, "embeddings"), "vec_id", "embedding", 0L, 10)

  /** ANN variant: same ranking restricted to the query's sign-bit bucket —
    * the read-one-bucket scale path. */
  private[queries] val qAnnLsh: Q = (s, sf) =>
    Similarity.annBucketTopK(t(s, sf, "embeddings"), "vec_id", "embedding", 0L, 10)

  /** Multi-probe ANN (query bucket + Hamming-1 probes): recall strictly ≥
    * the single-probe path at (1+bits)/2^bits of the data read. */
  private[queries] val qAnnMultiprobe: Q = (s, sf) =>
    Similarity.annMultiProbeTopK(t(s, sf, "embeddings"), "vec_id", "embedding", 0L, 10)

  /** IVF ANN with a TRAINED coarse quantizer, probing the 2 nearest of 8
    * cells ([[operators.Ivf.searchKMeansTrained]]). The quantizer is the
    * integer-exact [[operators.KMeans]] Lloyd training, so the WHOLE
    * train→assign→probe→rank path is bit-reproducible in SQL and this row
    * is oracle-checked end to end. */
  private[queries] val qCosineIvf: Q = (s, sf) =>
    Ivf.searchKMeansTrained(t(s, sf, "embeddings"), "vec_id", "embedding",
      queryId = 0L, k = 10, cells = 8, nprobe = 2, iters = 2)

  /** IVF over FIXED axis-aligned cells (8 cells, probe 2): deterministic
    * and SQL-expressible with no training step, so oracle-checked end to
    * end like q_cosine_ivf. Same physical shape: narrow argmax
    * assignment, probe-pruned candidates, top-k cosine. */
  private[queries] val qAnnIvfFixed: Q = (s, sf) =>
    Ivf.searchFixed(t(s, sf, "embeddings"), "vec_id", "embedding",
      queryId = 0L, k = 10, cells = 8, nprobe = 2)

  /** PQ-compressed ANN (sign-orthant codebooks, 8×8-dim subspaces =
    * 32× compression): integer code-distance shortlist over the code
    * table, exact cosine re-rank of the 50-row shortlist. The oracle
    * verifies the code Hamming from the raw floats (per-dim sign
    * disagreements) — a different formulation of the same integer. */
  private[queries] val qAnnPq: Q = (s, sf) =>
    Pq.searchPq(t(s, sf, "embeddings"), "vec_id", "embedding",
      queryId = 0L, k = 10, m = 8, subDim = 8, shortlist = 50)

  /** Embedding-cosine near-duplicate pairs over the WHOLE corpus,
    * bucket-blocked: the pair join is an equi-join on the 6-bit sign
    * bucket (plan-asserted non-cartesian in PlanSpec), so the pair space
    * is ~64× smaller than all-pairs and every stage is a plain shuffle —
    * the shape that survives 100 TB. Exact all-pairs scoring stays
    * available as Similarity.cosinePairsExact for candidate verification. */
  private[queries] val qEmbedNeardup: Q = (s, sf) =>
    Similarity.cosinePairs(t(s, sf, "embeddings"), "vec_id", "embedding", 0.4)
      .agg(count(lit(1)).as("pairs"),
        sum(col("da") + col("db")).as("chk"),
        round(avg("cos"), 4).as("ac"))

  // ----------------------------------------------------- dedup / text ops

  private[queries] val qDedupExact: Q = (s, sf) =>
    Dedup.exactGroups(t(s, sf, "documents"), "doc_id", "text")
      .agg(count(lit(1)).as("g"), sum("cnt").as("n"), sum("keeper").as("chk"))

  private[queries] val qFingerprint: Q = (s, sf) =>
    TextAnalysis.fingerprints(t(s, sf, "documents"), "doc_id", "text")
      .orderBy("doc_id")
      .limit(100)

  private[queries] val qTokenCount: Q = (s, sf) =>
    t(s, sf, "documents")
      .select(col("doc_id"),
        TextAnalysis.wsTokenCount(col("text")).as("wt"),
        TextAnalysis.regexTokenCount(col("text")).as("rt"))
      .orderBy("doc_id")
      .limit(100)

  /** Arbitrary-alignment duplicate spans ([[operators.Dedup
    * .duplicateSpans]], the Lee et al. 2022 exact-substring semantic):
    * maximal token spans whose 8-token windows all repeat corpus-wide.
    * One hash-partition count window + a per-document merge window. */
  private[queries] val qDupSpans: Q = (s, sf) =>
    Dedup.duplicateSpans(t(s, sf, "documents"), "doc_id", "text", 8)
      .orderBy("doc_id", "sp")

  /** Duplicate-window removal census ([[operators.Dedup
    * .removeDuplicateWindows]]): docs changed + token totals before and
    * after scrubbing every cross-doc duplicated 8-window outside its
    * keeper document. */
  private[queries] val qDupScrub: Q = (s, sf) => {
    val clean = Dedup.removeDuplicateWindows(
      t(s, sf, "documents"), "doc_id", "text", 8)
    clean.select(
        size(split(col("text"), " ")).as("nb"),
        // untouched docs keep nb exactly (incl. the empty-text edge where
        // split("") = [""]); a doc scrubbed down to nothing counts 0
        when(col("clean") === col("text"), size(split(col("text"), " ")))
          .when(col("clean") === "", 0)
          .otherwise(size(split(col("clean"), " "))).as("na"))
      .agg(sum(when(col("na") < col("nb"), 1L).otherwise(0L)).as("docs_changed"),
        sum("nb").as("toks_before"), sum("na").as("toks_after"))
  }

  /** Content-defined chunking rows for the first 10 docs
    * ([[operators.TextAnalysis.cdcChunkRows]]): boundaries are local
    * hash decisions, so chunk fingerprints are stable under edits —
    * the storage/corpus-dedup pre-chunker. */
  private[queries] val qCdcChunk: Q = (s, sf) =>
    TextAnalysis.cdcChunkRows(
        t(s, sf, "documents").filter(col("doc_id") < 10), "doc_id", "text")
      .orderBy("doc_id", "i")

  /** DSIR data selection ([[operators.Sampling.dsirWeights]]): top-20
    * most target-like docs by hashed-unigram importance weight, the
    * `lang = 'en'` slice standing in for the curated target corpus.
    * Both model tables are ≤128 rows and broadcast; scoring is a narrow
    * join — the train-once/score-many shape. */
  private[queries] val qDsir: Q = (s, sf) =>
    Sampling.dsirWeights(t(s, sf, "documents"), "doc_id", "text",
        "lang", "en", buckets = 128)
      .orderBy(col("w").desc, col("doc_id"))
      .limit(20)

  /** Tokenizer induction: top-10 BPE merge candidates (adjacent symbol
    * pairs by corpus frequency) — one explode + one pair-key shuffle,
    * [[operators.TextAnalysis.bpeMergeCandidates]]. */
  private[queries] val qBpeMerges: Q = (s, sf) =>
    TextAnalysis.bpeMergeCandidates(t(s, sf, "documents"), "text", 10)

  /** Tokenizer APPLY ([[operators.TextAnalysis.bpeSegment]]): per-doc
    * token counts under the top-3 corpus merges from q_bpe_merges
    * (er, in, ow — baked as literals, the trained-artifact pattern).
    * nbpe < nchar exactly where merges bind. */
  private[queries] val qBpeApply: Q = (s, sf) => {
    val (nc, nb) = TextAnalysis.bpeTokenCounts("text",
      Seq(("e", "r"), ("i", "n"), ("o", "w")))
    t(s, sf, "documents")
      .select(col("doc_id"), nc.as("n_char"), nb.as("n_bpe"))
      .orderBy("doc_id")
      .limit(100)
  }

  /** Iterated BPE training ([[operators.TextAnalysis.bpeTrain]]): the
    * first 3 learned merges with their counts — each round's argmax
    * feeds the next round's segmentation. Oracle unrolls the identical
    * 3 rounds with scalar-subquery merges. */
  private[queries] val qBpeTrain: Q = (s, sf) =>
    TextAnalysis.bpeTrain(t(s, sf, "documents"), "text", iters = 3)
      .orderBy("rank")

  /** Model-scoring plumbing: a linear quality classifier (fastText-filter
    * shape) with literal trained weights, sigmoid score, threshold gate.
    * Narrow per-row scan — the weights live in the plan. */
  private[queries] val qClassify: Q = (s, sf) =>
    t(s, sf, "documents")
      .select(col("doc_id"),
        TextAnalysis.classifierScore("text", bias = -2.0, wLnWc = 0.6,
          wMwl = -0.4, wStop = 8.0, wUniq = 1.5).as("score"))
      .withColumn("keep", col("score") >= 0.5)
      .orderBy("doc_id")
      .limit(100)

  private[queries] val qQuality: Q = (s, sf) =>
    t(s, sf, "documents")
      .select(col("doc_id"), TextAnalysis.qualityScore("text", "n_chars").as("score"))
      .orderBy("doc_id")
      .limit(100)

  private[queries] val qLangId: Q = (s, sf) =>
    t(s, sf, "documents")
      .groupBy(col("lang"), TextAnalysis.languageId("text").as("pred"))
      .agg(count(lit(1)).as("c"))
      .orderBy("lang", "pred")

  /** MinHash-LSH candidate pairs (8 hashes, 2 bands × 4) — the
    * sub-quadratic near-dup path. Banding is tuned to the τ≈0.8 Jaccard
    * target: the S-curve threshold (1/b)^(1/r) = (1/2)^(1/4) ≈ 0.84, so
    * mid-similarity pairs (which dominate this 31-word-vocab corpus) are
    * filtered in the bucket hash, not in a post-join. Output is the pair
    * count + checksum. */
  private[queries] val qMinhashLsh: Q = (s, sf) =>
    Dedup.lshCandidatePairs(t(s, sf, "documents"), "doc_id", "text", 8, 2)
      .agg(count(lit(1)).as("pairs"), sum(col("da") + col("db")).as("chk"))

  /** Exact token-set Jaccard near-dup pairs (τ=0.8) within a language.
    * Bounded corpus (doc_id<1000): this synthetic corpus has a 31-word
    * vocabulary, so *every* doc pair is a near-candidate and the exact
    * inverted-index join is inherently quadratic on it; at scale exact
    * Jaccard runs only on LSH candidates (q_minhash_lsh). */
  private[queries] val qNeardup: Q = (s, sf) =>
    Dedup.jaccardPairs(t(s, sf, "documents").filter(col("doc_id") < 1000),
        "doc_id", "lang", "text", 0.8)
      .agg(count(lit(1)).as("pairs"),
        sum(col("da") + col("db")).as("chk"),
        round(avg("jac"), 4).as("aj"))

  /** Character 3-gram (shingle) Jaccard near-dup pairs, τ≥0.9, per lang —
    * the n-gram variant of q_neardup. Bounded corpus: frequent shingles in
    * this 31-word vocabulary make the inverted index quadratic here; the
    * scale path hashes shingles into MinHash bands first. */
  private[queries] val qNgramNeardup: Q = (s, sf) =>
    Dedup.ngramJaccardPairs(t(s, sf, "documents").filter(col("doc_id") < 200),
        "doc_id", "lang", "text", 0.9)
      .agg(count(lit(1)).as("pairs"),
        sum(col("da") + col("db")).as("chk"),
        round(avg("jac"), 4).as("aj"))

  /** Corpus TF-IDF term ranking: one token shuffle + broadcast corpus
    * count; ordering on the rounded score so ranking is engine-portable. */
  private[queries] val qTfidf: Q = (s, sf) =>
    TextAnalysis.tfIdfTopTerms(t(s, sf, "documents"), "doc_id", "text", 15)

  /** BM25 ranked retrieval: every doc scored against a literal query
    * ("dup vector the" — one rare, two common terms, so idf
    * discrimination is visible), top 15. Corpus stats are one partial-agg
    * pass broadcast back; scoring is a narrow scan — the corpus never
    * shuffles (plan-asserted). */
  private[queries] val qBm25: Q = (s, sf) =>
    TextAnalysis.bm25Scores(t(s, sf, "documents"), "doc_id", "text",
      Seq("dup", "vector", "the"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(15)

  /** Hierarchy flattening by the generic distributed fixpoint — the
    * recursive-CTE workload, run as O(log depth) pointer-doubling rounds
    * ([[operators.Iterate.treeDepth]]). The forest is derived from the
    * corpus itself (parent = doc_id DIV 2, doc 0 the root — a binary
    * tree ~log2(N) deep); output is the per-depth census. The DuckDB
    * oracle computes the same depths with an actual WITH RECURSIVE —
    * pinning that the log-round engine form ≡ the row-at-a-time
    * recursive semantics. */
  private[queries] val qTreeDepth: Q = (s, sf) => {
    val nodes = t(s, sf, "documents")
      .select(col("doc_id"), expr("doc_id div 2").as("parent"))
    Iterate.treeDepth(nodes, "doc_id", "parent")
      .groupBy("depth")
      .agg(count(lit(1)).as("c"), sum("doc_id").as("chk"))
      .orderBy("depth")
  }

  /** The trade graph's ONE-orientation edge list (each undirected
    * customer↔supplier edge exactly once, even/odd node encoding; distinct
    * (custkey, suppkey) pairs through orders⨝lineitem) — the single
    * definition every trade-graph query derives from, so the graph a
    * labeling is computed ON and the graph it is scored AGAINST
    * (q_communities / q_modularity) can never silently diverge. */
  private def tradeOriented(s: SparkSession, sf: String): DataFrame =
    t(s, sf, "orders")
      .join(t(s, sf, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("s"), (col("l_suppkey") * 2 + 1).as("d"))
      .distinct()
      .localCheckpoint(true) // feeds both union branches

  /** [[tradeOriented]] symmetrized — the undirected adjacency the graph
    * queries traverse. */
  private def tradeEdges(s: SparkSession, sf: String): DataFrame = {
    val oi = tradeOriented(s, sf)
    oi.union(oi.select(col("d"), col("s")))
  }

  /** PageRank on the trade graph, 5 rounds of
    * [[operators.Components.pageRank]]'s scaled-integer recurrence. Ranks
    * are BIGINTs, so the DuckDB oracle — the same recurrence unrolled as
    * five chained CTEs with `//` — must match bit for bit: the iterative
    * engine loop is pinned against a straight-line relational spelling
    * with no float tolerance at all. */
  private[queries] val qPagerank: Q = (s, sf) =>
    Components.pageRank(tradeEdges(s, sf), "s", "d", iters = 5)
      .orderBy(col("rank").desc, col("id"))
      .limit(20)

  /** Community census of the trade graph after 3 synchronous
    * label-propagation rounds ([[operators.Components.labelPropagation]]
    * — deterministic LPA: most-frequent neighbor label, ties to the
    * smallest). Fixed rounds ARE the semantic (synchronous LPA may
    * oscillate), so the oracle unrolls the same 3 rounds with the ANSI
    * row_number argmax while the engine uses the partial-aggregable
    * max(struct(count, -label)) — integer labels, bit-exact. */
  private[queries] val qCommunities: Q = (s, sf) =>
    Components.labelPropagation(tradeEdges(s, sf), "s", "d", rounds = 3)
      .orderBy("id")
      .limit(100)

  /** Cheapest trade routes within 4 hops from customer 1: edge cost =
    * lineitem count of the (customer, supplier) pair, 4 Bellman–Ford
    * rounds ([[operators.Components.cheapestPaths]] — the hop budget is
    * the semantic, which is what keeps the oracle straight-line). Integer
    * costs, bit-exact against the unrolled relaxation. */
  private[queries] val qSssp: Q = (s, sf) => {
    val pc = t(s, sf, "orders")
      .join(t(s, sf, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .groupBy((col("o_custkey") * 2).as("s"), (col("l_suppkey") * 2 + 1).as("d"))
      .agg(count(lit(1)).as("w"))
      .localCheckpoint(true) // feeds both union branches
    val e = pc.union(pc.select(col("d"), col("s"), col("w")))
    Components.cheapestPaths(e, "s", "d", "w", source = 2L, hops = 4)
      .orderBy("id")
      .limit(100)
  }

  /** Single-source hop distances on the trade graph from customer 1
    * (node 2), as a per-distance census — the reachability workload on
    * [[operators.Components.bfsDistances]]'s fixpoint min-relaxation.
    * The oracle unrolls the same relaxation 6 rounds (> the measured
    * eccentricity 4 at every shipped SF): integer distances, bit-exact. */
  private[queries] val qBfs: Q = (s, sf) =>
    Components.bfsDistances(tradeEdges(s, sf), "s", "d", source = 2L)
      .groupBy("dist").agg(count(lit(1)).as("c"), sum("id").as("chk"))
      .orderBy("dist")

  /** Ordered pair combinations from a sorted distinct array column —
    * the shared per-group emission (one shuffle, no self-join) behind
    * q_triangles / q_basket / q_linkpred / q_cluster_coeff. Group size
    * bounds the quadratic; struct field names are the caller's. */
  private def pairCombosExpr(arr: String, aName: String, bName: String): String =
    s"flatten(transform($arr, (x, i) -> transform(" +
      s"slice($arr, i + 2, size($arr)), y -> struct(x AS $aName, y AS $bName))))"

  /** Per-part triangle participation in the co-purchase graph (parts
    * sharing an order), top 15. The engine enumerates via the
    * degree-ordered compact-forward join
    * ([[operators.Components.triangles]] — wedge count O(m^1.5) under any
    * skew); the oracle is the naive a<b<c triple self-join. Counts are
    * orientation-invariant, so the two different enumeration strategies
    * must agree exactly. */
  private[queries] val qTriangles: Q = (s, sf) => {
    val li = t(s, sf, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
    // co-occurrence pairs via ONE groupBy + in-array combination emission,
    // not a self-join: the join spelling shuffles+sorts lineitem twice on
    // the order key for the same pair set (measured sf0.1: 5.8 s → 3.2 s
    // cold for the edge build alone). Group size is the order's line
    // count — bounded small — so the per-group quadratic emission never
    // meets a hot key; no .distinct() here because triangles()
    // canonicalizes and dedups internally.
    val e = li.groupBy("o")
      .agg(sort_array(array_distinct(collect_list(col("p").cast("long"))))
        .as("ps"))
      .select(explode(expr(pairCombosExpr("ps", "a", "b"))).as("pr"))
      .select(col("pr.a").as("src"), col("pr.b").as("dst"))
    Components.triangles(e)
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri"))
      .orderBy(col("tri").desc, col("node"))
      .limit(15)
  }

  /** Length-weighted sample: 20 docs drawn with probability ∝ n_chars by
    * the Efraimidis–Spirakis key ([[operators.Sampling.weightedKey]]) —
    * importance sampling for curation, deterministic under the md5
    * uniform. Ranking uses the raw key (bit-identical cross-engine);
    * the emitted key is rounded for display only. */
  private[queries] val qWeightedSample: Q = (s, sf) =>
    t(s, sf, "documents")
      .select(col("doc_id"), col("n_chars"),
        Sampling.weightedKey(col("doc_id"), col("n_chars")).as("k"))
      .orderBy(col("k"), col("doc_id"))
      .limit(20)
      .select(col("doc_id"), col("n_chars"), round(col("k"), 8).as("k"))

  /** Deterministic uniform 10-per-stratum sample over lang×source by md5
    * key order ([[operators.Sampling.stratifiedSample]]) — the mergeable
    * TopKAgg keeps the shuffle at k·|strata| rows however big the corpus
    * is; the ANSI row_number spelling stays as the oracle. */
  private[queries] val qStratified: Q = (s, sf) =>
    Sampling.stratifiedSample(t(s, sf, "documents"), "doc_id", 10,
        Seq("lang", "source"))
      .orderBy("lang", "source", "r")

  /** Per-document top-3 TF-IDF keywords
    * ([[operators.TextAnalysis.keywords]]): broadcast vocab stats + a
    * per-document window (partition cardinality = corpus size — the
    * scale-safe window shape). Quantize-then-rank makes the tie order
    * engine-identical. */
  private[queries] val qKeywords: Q = (s, sf) =>
    TextAnalysis.keywords(t(s, sf, "documents"), "doc_id", "text", 3)
      .orderBy("doc_id", "r")

  /** Language-mix drift per source vs the whole corpus
    * ([[operators.Validate.klDrift]]): KL divergence from exact
    * conditional counts, summed as a FIXED-ORDER expression chain over
    * the five known languages (an aggregate SUM's float order is
    * engine-dependent; the expression tree reproduces bit-identically,
    * so the oracle matches at 4 dp with no tolerance games). */
  private[queries] val qDrift: Q = (s, sf) =>
    Validate.klDrift(t(s, sf, "documents"), "source", "lang",
        Seq("en", "zh", "es", "de", "fr"))
      .select(col("source"), round(col("kl"), 4).as("kl"))
      .orderBy("source")

  /** Exact heavy hitters by the classic two-pass sketch plan: pass 1
    * folds the token stream into one ≤k Misra–Gries buffer per map task
    * (mergeable [[graft.functions.MisraGriesAgg]] — the shuffle carries
    * k-entry maps, never the vocabulary); pass 2 recounts ONLY the ≤k
    * candidates exactly via a broadcast semi-join. With threshold
    * ⌈n/30⌉ ≥ n/(k+1) (k = 64) the sketch provably misses no qualifying
    * term, so the result is EXACT and the oracle is a plain GROUP BY …
    * HAVING. (This 31-word corpus fits inside k, making the sketch
    * degenerate-exact here; the eviction/merge machinery is
    * property-tested on skewed streams in MisraGriesAggSpec.) */
  private[queries] val qHeavyHitters: Q = (s, sf) => {
    val mg = udaf(new graft.functions.MisraGriesAgg(64),
      org.apache.spark.sql.Encoders.STRING)
    val tok = t(s, sf, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "")
    val cand = tok.agg(mg(col("w")).as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.term").as("w"))
    val thr = tok.agg(expr("(count(1) + 29) div 30").as("thr"))
    tok.join(broadcast(cand), "w")
      .groupBy("w").agg(count(lit(1)).as("c"))
      .crossJoin(broadcast(thr))
      .where(col("c") >= col("thr"))
      .select(col("w"), col("c"))
      .orderBy(col("c").desc, col("w"))
  }

  /** Count–Min point-frequency estimation ([[graft.functions.CmsAgg]]):
    * fold the token stream into a mergeable 3×64 counter grid — fixed KBs
    * of shuffle state however large the vocabulary — then answer five
    * probe words from the grid, min over rows of the probed cells,
    * computed IN-plan against the broadcast 1-row sketch with the same
    * md5 cell arithmetic the aggregator used. `est ≥ exact` always
    * (counters only over-count; property-tested in CmsAggSpec); the
    * deliberately narrow 64-cell grid forces real collisions here so the
    * overcount path is exercised, not just the happy case. */
  private[queries] val qCms: Q = (s, sf) => {
    val cms = udaf(new graft.functions.CmsAgg(3, 64),
      org.apache.spark.sql.Encoders.STRING)
    val tok = t(s, sf, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "")
    val sketch = tok.agg(cms(col("w")).as("sk"))
    val probes = s.range(1).select(
      explode(typedlit(Seq("the", "scan", "merge", "key", "zzzz"))).as("w"))
    val est = probes.crossJoin(broadcast(sketch))
      .select(col("w"), (0 until 3).map { j =>
        expr(s"element_at(sk, CAST($j * 64 + CAST(conv(substr(md5(" +
          s"concat('$j:', w)), 1, 15), 16, 10) AS BIGINT) % 64 + 1 AS INT))")
      }.reduce(least(_, _)).as("est"))
    val exact = tok.groupBy("w").agg(count(lit(1)).as("exact"))
    est.join(exact, Seq("w"), "left")
      .select(col("w"), col("est"),
        coalesce(col("exact"), lit(0L)).as("exact"))
      .orderBy("w")
  }

  /** Cohort z-score outliers on document length
    * ([[operators.Validate.zOutliers]]): exact integer moments per
    * lang×source broadcast back onto a narrow scan; the doubles derive
    * from exact sums with fixed association, so the oracle matches with
    * no float tolerance. */
  private[queries] val qAnomaly: Q = (s, sf) =>
    Validate.zOutliers(t(s, sf, "documents"), "n_chars", 1.5,
        Seq("lang", "source"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        round(col("z"), 4).as("z"))
      .orderBy("doc_id")

  /** Winsorized event values ([[operators.Validate.winsorize]]): clip
    * per-type values to exact [p05, p95], compare means before/after.
    * Broadcast quantile table + narrow clip — no data shuffle. */
  private[queries] val qWinsorize: Q = (s, sf) => {
    val ev = t(s, sf, "events").select(col("event_type"), col("value"))
    val raw = ev.groupBy("event_type")
      .agg(round(avg("value"), 3).as("avg_raw"))
    Validate.winsorize(ev, "event_type", "value", 0.05, 0.95)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(avg("value"), 3).as("avg_wins"))
      .join(raw, "event_type")
      .select(col("event_type"), col("n"), col("avg_raw"), col("avg_wins"))
      .orderBy("event_type")
  }

  /** q_winsorize's 100 TB plan DECLARED (its Scaladoc's "swap
    * approx_percentile in at scale" note, previously a note only):
    * cutpoints come from the mergeable `approx_percentile` sketch — one
    * partial-agg pass, no exact per-group percentile sort — and the clip
    * runs against them. Sketch outputs can't be value-oracled, so the row
    * carries each guarantee as a machine-checked OUTPUT column the oracle
    * pins literal-TRUE (the q_hll_rollup pattern): lo_ok/hi_ok = each
    * approx cutpoint's exact rank bracket [#<v + 1, #≤v] overlaps the
    * target window (q ± 1/accuracy)·n, ±1 for floor/ceil (the
    * Greenwald–Khanna contract, same arithmetic as q_approx_percentile's
    * in-plan assert); wins_ok = the clipped mean lies in [plo, phi] (true
    * for ANY clip, so a broken clip stage fails the hash, not just a
    * broken sketch). n and avg_raw stay exact-oracled. */
  private[queries] val qWinsorizeApprox: Q = (s, sf) => {
    val eps = 1.0 / 10000
    val ev = t(s, sf, "events").select(col("event_type"), col("value"))
    val cut = ev.groupBy("event_type")
      .agg(percentile_approx(col("value"), array(lit(0.05), lit(0.95)),
        lit(10000)).as("c"))
      .select(col("event_type").as("et"),
        element_at(col("c"), 1).as("plo"), element_at(col("c"), 2).as("phi"))
    def within(q: Double, lt: Column, le: Column, nn: Column) =
      (lt + 1 <= ceil(lit(q + eps) * nn) + 1) &&
        (le >= floor(lit(q - eps) * nn) - 1)
    ev.join(broadcast(cut), col("event_type") === col("et"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        count(col("value")).as("nn"), // rank window is over non-null values
        round(avg("value"), 3).as("avg_raw"),
        avg(greatest(least(col("value"), col("phi")), col("plo"))).as("aw"),
        first("plo").as("plo"), first("phi").as("phi"),
        sum((col("value") < col("plo")).cast("long")).as("lt_lo"),
        sum((col("value") <= col("plo")).cast("long")).as("le_lo"),
        sum((col("value") < col("phi")).cast("long")).as("lt_hi"),
        sum((col("value") <= col("phi")).cast("long")).as("le_hi"))
      .select(col("event_type"), col("n"), col("avg_raw"),
        within(0.05, col("lt_lo"), col("le_lo"), col("nn")).as("lo_ok"),
        within(0.95, col("lt_hi"), col("le_hi"), col("nn")).as("hi_ok"),
        (col("aw") >= col("plo") && col("aw") <= col("phi")).as("wins_ok"))
      .orderBy("event_type")
  }

  /** Epoch upsampling ([[operators.Sampling.upsample]]): en ×3, de ×2,
    * rest ×1 — census per (lang, epoch) proves exact copy counts. */
  private[queries] val qUpsample: Q = (s, sf) =>
    Sampling.upsample(t(s, sf, "documents"), "lang",
        Map("en" -> 3, "de" -> 2))
      .groupBy("lang", "epoch")
      .agg(count(lit(1)).as("n"), sum("doc_id").as("chk"))
      .orderBy("lang", "epoch")

  /** Deterministic corpus shuffle (training order): the first 20 docs of
    * the md5(seed:id) order. Epoch reshuffles = seed bump; the probe is a
    * TakeOrdered, the full materialization one range-partitioned sort. */
  private[queries] val qShuffle: Q = (s, sf) =>
    t(s, sf, "documents")
      .select(col("doc_id"), Sampling.shuffleKey(col("doc_id"), "ep1").as("sk"))
      .orderBy("sk")
      .limit(20)

  /** Deterministic train/val/test assignment from an md5 key hash — stable
    * across runs, retries, engines, and corpus growth (a row's split never
    * changes when new rows arrive), unlike rand()-based splits. */
  private[queries] val qSplitAssign: Q = (s, sf) =>
    Sampling.assignSplits(t(s, sf, "documents"), "doc_id",
        Seq("train" -> 90, "val" -> 5, "test" -> 5))
      .groupBy("split")
      .agg(count(lit(1)).as("c"), sum("doc_id").as("chk"))
      .orderBy("split")

  /** Context-window chunking: 200-char chunks every 150 chars (50-char
    * overlap) — narrow per-row expression, scan-speed at 100 TB. */
  private[queries] val qChunk: Q = (s, sf) =>
    t(s, sf, "documents")
      .select(col("doc_id"),
        posexplode(TextAnalysis.chunks(col("text"), 200, 150)).as(Seq("ci", "chunk")))
      .orderBy("doc_id", "ci")
      .limit(200)

  /** Weighted corpus mix: 80% of English docs + 20% of the rest, by
    * deterministic hash sample — the reproducible source-weighting step
    * of a training mix. */
  private[queries] val qMix: Q = (s, sf) => {
    val docs = t(s, sf, "documents")
    Sampling.mixByWeight(Seq(
        docs.filter(col("lang") === "en") -> 80,
        docs.filter(col("lang") =!= "en") -> 20), "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("c"), sum("doc_id").as("chk"))
      .orderBy("lang")
  }

  /** Temperature-scaled source mixing (effective shares ∝ n_g^α, α=0.5):
    * the smallest source is kept whole, larger ones hash-downsampled at
    * rate √(n_min/n_g) — per-source counts broadcast back onto the
    * corpus, membership a narrow scan-speed filter. */
  private[queries] val qTemperatureMix: Q = (s, sf) =>
    Sampling.temperatureMix(t(s, sf, "documents"), "doc_id", "source", 0.5)
      .groupBy("source")
      .agg(count(lit(1)).as("kept"), sum("doc_id").as("chk"))
      .orderBy("source")

  /** Per-domain quota: the top-20 docs per language by quality score
    * (quota-sampling curation). Ranked with the mergeable
    * [[graft.functions.TopKAgg]] Aggregator, NOT a window: with only a
    * handful of languages, `row_number() OVER (PARTITION BY lang)` funnels
    * the whole corpus through |langs| window tasks — a full per-language
    * sort on one task at 100×. The aggregator partial-aggregates k=20
    * entries per group per map task, so the shuffle carries k·|langs| rows
    * regardless of corpus size. Same rows as the ANSI window oracle; the
    * doc_id tie-break keeps quantized scores deterministic. */
  private[queries] val qQuota: Q = (s, sf) => {
    val topk = udaf(new graft.functions.TopKAgg(20),
      org.apache.spark.sql.Encoders.product[graft.functions.Scored])
    t(s, sf, "documents")
      .select(col("lang"),
        TextAnalysis.qualityScore("text", "n_chars").as("score"), col("doc_id"))
      .groupBy("lang")
      .agg(topk(col("score"), col("doc_id")).as("tk"))
      .select(col("lang"), posexplode(col("tk")))
      .select(col("lang"), (col("pos") + 1).cast("int").as("r"),
        col("col.id").as("doc_id"), col("col.score").as("score"))
      .orderBy("lang", "r")
  }

  /** Missing-value imputation with the group mean: nulls are planted
    * deterministically (every 10th key) and filled with the segment's
    * average of the OBSERVED values — the standard feature-cleaning op.
    * Deliberately NOT a `Window.partitionBy(segment)`: with a handful of
    * segments that window funnels the whole table into a few giant hot
    * partitions. Instead the means are a partial-aggregable groupBy whose
    * tiny (|segments|-row) result broadcast-joins back onto the stream —
    * scan-speed at 100 TB. */
  private[queries] val qImpute: Q = (s, sf) => {
    val withNulls = t(s, sf, "customer")
      .withColumn("bal", when(col("c_custkey") % 10 === 0, lit(null))
        .otherwise(col("c_acctbal")))
    val segMeans = withNulls.groupBy("c_mktsegment")
      .agg(round(avg("bal"), 2).as("seg_avg"))
    withNulls.join(broadcast(segMeans), "c_mktsegment")
      .select(col("c_custkey"), col("c_mktsegment"),
        col("bal").isNull.as("was_null"),
        round(coalesce(col("bal"), col("seg_avg")), 2).as("filled"))
      .orderBy("c_custkey")
      .limit(100)
  }

  /** Sequence packing (concat-and-chunk) via the domain-parameterized
    * [[Sampling.packSequences]]: docs pack in id order into 500-token
    * training sequences, independently per packing domain — here `lang`
    * (what the testdata offers); in production the shard/file, i.e.
    * thousands of parallel window partitions (the ≥32-domain case is
    * exercised in SamplingSpec). */
  private[queries] val qPack: Q = (s, sf) =>
    Sampling.packSequences(
      t(s, sf, "documents")
        .select(col("lang"), col("doc_id"),
          TextAnalysis.wsTokenCount(col("text")).as("tk")),
      Seq("lang"), "doc_id", col("tk"), 500)
      .groupBy("lang", "seq_id")
      .agg(count(lit(1)).as("docs"), sum("tk").cast("bigint").as("toks"))
      .orderBy("lang", "seq_id")

  /** Packed-sequence CONTENT integrity: the same packing as q_pack but
    * fingerprinting each training sequence's materialized text (docs
    * joined by newline in id order, md5-prefixed) — the artifact a
    * pipeline actually writes, pinned byte-identical cross-engine. */
  private[queries] val qPackText: Q = (s, sf) =>
    Sampling.packSequences(
        t(s, sf, "documents").select(col("lang"), col("doc_id"), col("text"),
          TextAnalysis.wsTokenCount(col("text")).as("tk")),
        Seq("lang"), "doc_id", col("tk"), 500)
      .groupBy("lang", "seq_id")
      .agg(count(lit(1)).as("docs"),
        collect_list(struct(col("doc_id"), col("text"))).as("__dt"))
      .select(col("lang"), col("seq_id"), col("docs"),
        substring(md5(expr(
          "array_join(transform(array_sort(__dt), s -> s.text), '\n')")),
          1, 16).as("fp"))
      .orderBy("lang", "seq_id")

  /** Bigram-LM cross-entropy quality score (the CCNet/Gopher perplexity-
    * proxy filter): a bigram model is "trained" as plain count aggregates
    * over the corpus — c(w1,w2) and prefix count c(w1) — and each doc is
    * scored by the average −ln c(w1,w2)/c(w1) over its bigrams. Training
    * is two partial-agg shuffles; scoring joins the (small, vocab²-bounded)
    * count tables back onto the bigram stream — at real vocabulary sizes
    * the model tables broadcast and scoring runs at scan speed, the
    * train-once / score-many shape of production quality filters. */
  private[queries] val qBigramLm: Q = (s, sf) => {
    // bigrams via zip_with over two length-guarded slices: a doc with < 2
    // tokens yields empty slices and no bigrams — a sequence(1, size-1)
    // formulation would go DESCENDING ([1,0]) on 1-token docs and throw
    // under ANSI element_at (the oracle's end-exclusive range() is clean)
    val pos = t(s, sf, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), explode(expr(
        "zip_with(slice(ws, 1, greatest(size(ws) - 1, 0)), " +
          "slice(ws, 2, greatest(size(ws) - 1, 0)), " +
          "(x, y) -> struct(x AS w1, y AS w2))")).as("b"))
      .select(col("doc_id"), col("b.w1"), col("b.w2"))
    val bigramCounts = pos.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val prefixCounts = pos.groupBy("w1").agg(count(lit(1)).as("cu"))
    pos.join(broadcast(bigramCounts), Seq("w1", "w2"))
      .join(broadcast(prefixCounts), Seq("w1"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("nb"),
        round(avg(-log(col("cb") / col("cu"))), 3).as("ce"))
      .orderBy("doc_id")
      .limit(100)
  }

  /** Gopher-rule filtering: the published rule-based quality gate (word
    * count, mean word length, alphabetic fraction, stopword floor) with
    * thresholds calibrated to the synthetic corpus so every rule binds.
    * Narrow per-row — the 100 TB shape is scan → filter(pass). */
  private[queries] val qGopher: Q = (s, sf) =>
    t(s, sf, "documents")
      .select(col("doc_id") +: TextAnalysis.gopherRules("text",
        minWords = 40, maxWords = 120, minMwl = 4.2, maxMwl = 5.0): _*)
      .orderBy("doc_id")
      .limit(100)

  /** Per-language top-5 via the mergeable [[graft.functions.TopKAgg]]
    * Aggregator instead of a window: partial aggregation keeps only k
    * entries per group per map task, so the shuffle carries k·|groups|
    * rows regardless of corpus size — the window form (q_quota) shuffles
    * and sorts every row. Same result set as the ANSI window oracle;
    * id tie-break makes the quantized scores deterministic. */
  private[queries] val qTopkGroup: Q = (s, sf) => {
    val topk = udaf(new graft.functions.TopKAgg(5),
      org.apache.spark.sql.Encoders.product[graft.functions.Scored])
    t(s, sf, "documents")
      .select(col("lang"),
        TextAnalysis.qualityScore("text", "n_chars").as("score"), col("doc_id"))
      .groupBy("lang")
      .agg(topk(col("score"), col("doc_id")).as("tk"))
      .select(col("lang"), posexplode(col("tk")))
      .select(col("lang"), (col("pos") + 1).cast("int").as("r"),
        col("col.id").as("doc_id"), col("col.score").as("score"))
      .orderBy("lang", "r")
  }

  /** Benchmark decontamination: training docs sharing any 5-token shingle
    * with the (stand-in) benchmark set — docs 0..19 — are dropped before
    * training. Bench shingles broadcast; the corpus never shuffles. */
  private[queries] val qDecontaminate: Q = (s, sf) => {
    val docs = t(s, sf, "documents")
    Dedup.decontaminate(
      docs.filter(col("doc_id") >= 20),
      docs.filter(col("doc_id") < 20),
      "doc_id", "text", 5)
      .agg(count(lit(1)).as("n_clean"), sum("doc_id").as("chk"))
  }

  /** PII scrub: emails/phones (planted deterministically — the corpus
    * itself is synthetic words) redacted with typed placeholders; output
    * is the audit counters plus a fingerprint of the scrubbed text. */
  private[queries] val qPiiScrub: Q = (s, sf) => {
    val dirty = concat(
      substring(col("text"), 1, 40),
      lit(" email u"), col("doc_id").cast("string"),
      lit("@example.com or 555-123-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
      lit(" and 555-999-"),
      lpad((col("doc_id") % 100).cast("string"), 4, "0"))
    val (ne, np) = TextAnalysis.piiCounts(dirty)
    t(s, sf, "documents")
      .select(col("doc_id"), ne.as("ne"), np.as("np"),
        md5(TextAnalysis.scrubPii(dirty)).as("h"))
      .orderBy("doc_id").limit(100)
  }

  /** Within-document repetition: duplicate-bigram fraction per doc (the
    * boilerplate/looping-text quality signal). */
  private[queries] val qRepetition: Q = (s, sf) =>
    t(s, sf, "documents")
      .select(col("doc_id"),
        TextAnalysis.repetitionRatio(col("text"), 2).as("rep"))
      .orderBy("doc_id").limit(100)

  /** Salted hot-key join: results must equal the plain join (the oracle IS
    * the plain join) — salting only changes the physical row routing. */
  private[queries] val qSkewJoin: Q = (s, sf) =>
    Skew.saltedJoin(t(s, sf, "customer"), t(s, sf, "nation"),
        "c_nationkey", "n_nationkey", 8)
      .groupBy("n_name")
      .agg(count(lit(1)).as("c"), round(sum("c_acctbal"), 2).as("s"))
      .orderBy("n_name")

  /** The composed near-dup pipeline over the WHOLE corpus: MinHash-LSH
    * candidates (sub-quadratic banding) verified by exact token Jaccard —
    * the form that replaces the bounded exact queries at scale. No corpus
    * bound: the pair space is the LSH buckets', not n². */
  private[queries] val qNeardupLsh: Q = (s, sf) =>
    Dedup.lshVerifiedPairs(t(s, sf, "documents"), "doc_id", "text", 8, 2, 0.8)
      .agg(count(lit(1)).as("pairs"),
        sum(col("da") + col("db")).as("chk"),
        round(avg("jac"), 4).as("aj"))

  /** Incremental near-dup: every tenth doc plays the newly-arrived batch,
    * the rest the already-indexed corpus; pairs touching at least one new
    * doc are found by probing the delta's band rows against the full band
    * index — old×old pairs are never re-scored. nn counts new×new pairs
    * (both sides in the delta). */
  private[queries] val qNeardupIncr: Q = (s, sf) => {
    val docs = t(s, sf, "documents")
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val delta = docs.filter(col("doc_id") % 10 === 0)
    Dedup.incrementalLshVerifiedPairs(corpus, delta, "doc_id", "text", 8, 2, 0.8)
      .agg(count(lit(1)).as("pairs"),
        sum(col("da") + col("db")).as("chk"),
        round(avg("jac"), 4).as("aj"),
        sum(when(col("da") % 10 === 0 && col("db") % 10 === 0, 1L)
          .otherwise(0L)).as("nn"))
  }

  /** Same delta-vs-corpus near-dup, but through the PERSISTED index — the
    * production mode: the corpus's band rows ([[Dedup.lshBands]],
    * partitioned by band_id) and token-hash rows ([[Dedup.tokenHashIndex]])
    * are written to parquet ONCE (here on first run, keyed by the sf dir;
    * in production at ingest) and every subsequent batch reads them back —
    * no corpus signature, band hash, or token hash is ever recomputed, so
    * per-batch cost is O(|delta| + matched candidates). Output is
    * identical to [[qNeardupIncr]] (same oracle). */
  private[queries] val qNeardupIncrIndexed: Q = (s, sf) => {
    val numHashes = 8
    val bands = 2
    val splitMod = 10 // doc_id % splitMod == 0 plays the delta batch
    val docs = t(s, sf, "documents")
    val corpus = docs.filter(col("doc_id") % splitMod =!= 0)
    val delta = docs.filter(col("doc_id") % splitMod === 0)
    // key the scratch index by source size+mtime AND every parameter that
    // shapes its content (hashes/bands/corpus split): /tmp outlives the
    // JVM, and both a regenerated documents.parquet and a code-side
    // parameter change must invalidate the index rather than silently
    // serve incompatible band rows
    val (_, srcLen, srcMtime) = Tables.fileVersion(s, s"$sf/documents.parquet")
    val tag = sf.replaceAll("[^A-Za-z0-9.]", "_") +
      s"_${srcLen}_$srcMtime" +
      s"_h${numHashes}b${bands}m$splitMod"
    // build-or-reuse through the atomic-rename protocol (Dedup.ensureLshIndex):
    // the dir existing ⇒ complete index; concurrent builders race safely
    val ixDir = s"${System.getProperty("java.io.tmpdir")}/graft_lsh_index_v2_$tag"
    val (ixBands, ixTokens) = Dedup.ensureLshIndex(
      corpus, "doc_id", "text", numHashes, bands, ixDir)
    Dedup.incrementalLshVerifiedPairs(
      ixBands, ixTokens,
      delta, "doc_id", "text", numHashes, bands, 0.8)
      .agg(count(lit(1)).as("pairs"),
        sum(col("da") + col("db")).as("chk"),
        round(avg("jac"), 4).as("aj"),
        sum(when(col("da") % 10 === 0 && col("db") % 10 === 0, 1L)
          .otherwise(0L)).as("nn"))
  }

  /** Embedding-space decontamination: every 50th vector plays the eval
    * benchmark; train vectors within cosine ≥ 0.3 of any bench vector are
    * dropped (paraphrase-level leakage the n-gram filter can't see).
    * Bench side broadcast, corpus never shuffles. */
  private[queries] val qEmbedDecontaminate: Q = (s, sf) => {
    val emb = t(s, sf, "embeddings")
    val bench = emb.filter(col("vec_id") % 50 === 0)
    val train = emb.filter(col("vec_id") % 50 =!= 0)
    Similarity.embeddingDecontaminate(train, bench, "vec_id", "embedding", 0.3)
      .agg(count(lit(1)).as("kept"), sum("vec_id").cast("bigint").as("chk"))
  }

  /** Passage-level boilerplate removal: disjoint 8-token passages occurring
    * verbatim in more than 2 distinct docs are dropped from every doc; the
    * md5 of the stitched-back text pins the surviving content exactly. */
  private[queries] val qPassageDedup: Q = (s, sf) =>
    Dedup.dropRepeatedPassages(t(s, sf, "documents"), "doc_id", "text", 8, 2L)
      .select(col("doc_id"),
        col("kept_passages").as("kept_c"),
        col("dropped_passages").as("drop_c"),
        md5(col("text")).as("h"))
      .orderBy("doc_id").limit(100)

  /** Duplicate-cluster assignment: near-dup pairs (within-language exact
    * token Jaccard ≥ 0.9 on a bounded corpus) transitively closed into
    * components by distributed hash-min label propagation — the stage that
    * turns pairwise near-dup evidence into "keep one doc per cluster".
    * comp is the cluster keeper (min doc_id), sz the cluster size. At
    * corpus scale the edges come from [[Dedup.lshVerifiedPairs]] instead;
    * the closure is threshold-agnostic. */
  private[queries] val qDedupCluster: Q = (s, sf) => {
    val pairs = Dedup.jaccardPairs(
      t(s, sf, "documents").filter(col("doc_id") < 200),
      "doc_id", "lang", "text", 0.9)
    Components.dupClusters(pairs, "da", "db")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** SemDeDup (Abbas et al. 2023): embedding-level near-dup clusters —
    * sign-bucketed cosine pairs (τ=0.4, the q_embed_neardup stage)
    * transitively closed by distributed hash-min propagation. Output is
    * the cluster census: how many clusters, how many vectors clustered,
    * the largest cluster, and an id checksum. */
  private[queries] val qSemdedup: Q = (s, sf) =>
    Similarity.semanticDupClusters(t(s, sf, "embeddings"), "vec_id", "embedding", 0.4)
      .agg(countDistinct("comp").as("clusters"),
        count(lit(1)).as("clustered"),
        max("sz").as("max_sz"),
        sum("id").as("chk"))

  /** EXACT sub-quadratic near-dup via prefix filtering (PPJoin family):
    * same corpus, threshold, and ORACLE as q_neardup — the result set is
    * identical by the prefix lemma — but candidates come from an equi-join
    * on each doc's RAREST tokens only, so corpus-wide hot tokens never
    * enter the pair join. The exact-semantics scale path; LSH remains the
    * cheaper approximation. */
  private[queries] val qNeardupPrefix: Q = (s, sf) =>
    Dedup.prefixFilteredPairs(t(s, sf, "documents").filter(col("doc_id") < 1000),
        "doc_id", "lang", "text", 0.8)
      .agg(count(lit(1)).as("pairs"),
        sum(col("da") + col("db")).as("chk"),
        round(avg("jac"), 4).as("aj"))

  /** The dedup DELIVERABLE: the cleaned corpus after cluster collapse —
    * every clustered doc except its cluster keeper (min id) is dropped by
    * [[Components.keepClusterKeepers]] (the same helper the corpus
    * module's near-dup stage uses; the anti-join is AQE-sized, so the
    * tiny loser set broadcasts at runtime without a forced driver-side
    * collect). Pairs → clusters → cleaned corpus, end to end. */
  private[queries] val qDedupApply: Q = (s, sf) => {
    val docs = t(s, sf, "documents").filter(col("doc_id") < 200)
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "lang", "text", 0.9)
    Components.keepClusterKeepers(docs, "doc_id", pairs, "da", "db")
      .agg(count(lit(1)).as("kept"),
        sum(col("doc_id")).cast("bigint").as("chk"))
  }

  /** SimHash signature buckets: most-populated 16-bit signatures. */
  private[queries] val qSimhash: Q = (s, sf) =>
    Dedup.simHash16(t(s, sf, "documents"), "doc_id", "text")
      .groupBy("sig")
      .agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("sig"))
      .limit(20)

  // ------------------------------------------------- round-6 additions

  /** Money-grade DECIMAL aggregation — the enterprise type pattern:
    * prices land as DECIMAL(12,2) at the scan and every derived figure
    * stays in EXACT decimal scales (2 → 4 → 6 digits: a product of
    * 2-decimal values has at most 4/6 decimals, so NO rounding happens
    * anywhere). Decimal sums are order-independent where double sums
    * drift in the last ulp under re-ordering — which is why money
    * pipelines aggregate decimals, not doubles. Declared outputs are the
    * scaled-integer cents plus the decimal's string rendering (both
    * bit-exact cross-engine; the comparison harness's pandas bridge
    * collapses decimal COLUMNS to float64, so the exact renderings are
    * what gets hashed); the decimal types themselves are pinned in
    * EntrySpec. avg is integer-cents floor division — a fixed,
    * engine-portable rounding contract. */
  private[queries] val qDecimal: Q = (s, sf) =>
    t(s, sf, "lineitem")
      .select(col("l_returnflag"), col("l_linestatus"),
        col("l_extendedprice").cast("decimal(12,2)").as("price"),
        col("l_discount").cast("decimal(12,2)").as("disc"),
        col("l_tax").cast("decimal(12,2)").as("tax"))
      .withColumn("disc_price", expr("CAST(price * (1 - disc) AS DECIMAL(18,4))"))
      .withColumn("charge", expr("CAST(disc_price * (1 + tax) AS DECIMAL(18,6))"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        sum("price").cast("string").as("sum_price_dec"),
        (sum("price") * 100).cast("long").as("sum_price_cents"),
        (sum("disc_price") * 10000).cast("long").as("sum_disc_e4"),
        (sum("charge") * 1000000).cast("long").as("sum_charge_e6"),
        expr("CAST(CAST(sum(price) * 100 AS BIGINT) div count(1) AS BIGINT)")
          .as("avg_cents"))
      .orderBy("l_returnflag", "l_linestatus")

  /** The image-dedup PAIR stage ([[Multimodal.hammingNearDups]] — the
    * banded Hamming-≤3 join behind dHash near-dup), oracle-checked over a
    * hash table both engines derive identically: 60-bit md5 hashes per
    * 5-doc group with a planted 1-bit perturbation per member, so
    * same-group pairs sit at Hamming 0/2 and cross-group pairs at ~30.
    * The real decode→dHash path stays unit-tested (MultimodalSpec — binary
    * payloads are not oracle-able); THIS row pins the join: band
    * extraction, pigeonhole blocking, xor-popcount verify, histogram. */
  private[queries] val qImageNeardup: Q = (s, sf) => {
    val hashes = t(s, sf, "documents").filter(col("doc_id") < 500)
      .select(col("doc_id").as("id"),
        expr("CAST(conv(substr(md5(CAST(doc_id div 5 AS STRING)), 1, 15), " +
          "16, 10) AS BIGINT) ^ shiftleft(CAST(1 AS BIGINT), " +
          "CAST(doc_id % 4 AS INT))").as("h"))
    Multimodal.hammingNearDups(hashes, "id", "h", maxHamming = 3)
      .groupBy("ham")
      .agg(count(lit(1)).as("pairs"), sum(col("ida") + col("idb")).as("chk"))
      .orderBy("ham")
  }

  /** Audio near-dup — the q_image_neardup playbook on the AUDIO modality,
    * with the decode made REAL end-to-end: each doc's 60-bit md5 pattern
    * (5-doc groups, planted 1-bit perturbation) is synthesized into an
    * actual RIFF/WAVE payload ([[Multimodal.patternWav]]), decoded back
    * through javax.sound, and fingerprinted by windowed RMS energy
    * ([[Multimodal.audioEnergyFingerprint]]) — recovering the pattern
    * bit-for-bit, which is what lets DuckDB oracle the whole pipeline by
    * computing the pattern closed-form. The pair stage is the shared
    * banded Hamming join ([[Multimodal.hammingNearDups]]): 4 × 16-bit
    * bands, pigeonhole-exact for Hamming ≤ 3, never all-pairs. Payload
    * synthesis/decoding is a narrow per-row map — WAV bytes never
    * shuffle; only (id, 64-bit fingerprint) reaches the join. */
  private[queries] val qAudioNeardup: Q = (s, sf) => {
    import s.implicits._
    val pats = t(s, sf, "documents").filter(col("doc_id") < 500)
      .select(col("doc_id").as("id"),
        expr("CAST(conv(substr(md5(concat('aud', CAST(doc_id div 5 AS " +
          "STRING))), 1, 15), 16, 10) AS BIGINT) ^ " +
          "shiftleft(CAST(1 AS BIGINT), CAST(doc_id % 3 AS INT))").as("h"))
    // NOT spread (unlike the video row): with ImageIO/WAV codec cost at
    // ~0.3 s serial for 500 docs, the repartition exchange measured
    // slower than the work it parallelizes (A/B: 0.70 s → 1.21 s)
    val fps = pats.as[(Long, Long)]
      .mapPartitions(_.map { case (id, pat) =>
      val wav = Multimodal.patternWav(pat) // real WAV bytes
      val fp = Multimodal.audioEnergyFingerprint(wav)
        .fold(e => throw new IllegalStateException(e), identity)
      (id, fp)
    }).toDF("id", "h")
    Multimodal.hammingNearDups(fps, "id", "h", maxHamming = 3)
      .groupBy("ham")
      .agg(count(lit(1)).as("pairs"), sum(col("ida") + col("idb")).as("chk"))
      .orderBy("ham")
  }

  /** Video near-dup — completes the modality triple (image: q_image_
    * neardup, audio: q_audio_neardup): each doc's 60-bit md5 pattern is
    * synthesized into a REAL 64-frame MJPEG-AVI ([[Multimodal
    * .patternAvi]]: solid white/black frames), demuxed and per-frame
    * JPEG-decoded back ([[Multimodal.videoLumaFingerprint]]) — the luma
    * envelope recovers the pattern bit-for-bit, so DuckDB oracles the
    * full container→codec→fingerprint→pair pipeline closed-form. 300
    * docs × 64 tiny frames keep codec cost trivial and parallel (narrow
    * mapPartitions; AVI bytes never shuffle); the pair stage is the
    * shared banded Hamming join. */
  private[queries] val qVideoNeardup: Q = (s, sf) => {
    import s.implicits._
    val pats = t(s, sf, "documents").filter(col("doc_id") < 300)
      .select(col("doc_id").as("id"),
        expr("CAST(conv(substr(md5(concat('vid', CAST(doc_id div 5 AS " +
          "STRING))), 1, 15), 16, 10) AS BIGINT) ^ " +
          "shiftleft(CAST(1 AS BIGINT), CAST(doc_id % 4 AS INT))").as("h"))
    // spread BEFORE the codec map: 300 docs × 64 frames = 19200 JPEG
    // encodes + decodes dominate this row, and the single-file scan would
    // run every one of them on one core of the 32 available
    val fps = graft.operators.Spread.auto(pats).as[(Long, Long)]
      .mapPartitions(_.map { case (id, pat) =>
      val avi = Multimodal.patternAvi(pat) // real MJPEG-AVI bytes
      val fp = Multimodal.videoLumaFingerprint(avi)
        .fold(e => throw new IllegalStateException(e), identity)
      (id, fp)
    }).toDF("id", "h")
    Multimodal.hammingNearDups(fps, "id", "h", maxHamming = 3)
      .groupBy("ham")
      .agg(count(lit(1)).as("pairs"), sum(col("ida") + col("idb")).as("chk"))
      .orderBy("ham")
  }

  /** Process-scoped scratch path: the pid in the name keeps concurrent
    * Bench/Verify/Time processes on one host from wiping each other's
    * live run state mid-query (a shared fixed path made q_snapshot's
    * RunLog replay racy); within one process re-invocations still reuse
    * and reset the same dir so repeated bench passes don't accrete, and
    * a JVM shutdown hook removes this process's dirs on exit so dead
    * pids don't orphan scratch trees in /tmp. */
  private def scratchDir(name: String): String = {
    val p = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-scratch-${ProcessHandle.current().pid()}-$name")
    def wipe(): Unit = Layout.deleteRecursively(p)
    wipe()
    scratchCleanup.synchronized {
      if (!scratchCleanup.contains(p)) {
        scratchCleanup += p
        Runtime.getRuntime.addShutdownHook(new Thread(() =>
          try wipe() catch { case scala.util.control.NonFatal(_) => () }))
      }
    }
    java.nio.file.Files.createDirectories(p).toString
  }
  private val scratchCleanup =
    scala.collection.mutable.Set.empty[java.nio.file.Path]

  /** DataSet TIME TRAVEL ([[Snapshot.asOf]]): replay a 3-block ingest
    * history through [[Graph.runIncremental]] (one block per run, lineage
    * recorded in a [[RunLog]]), then reconstruct the dedupe DataSet AS OF
    * run 2 — the union of exactly the blocks consumed by then, with the
    * keep-newest pipe re-applied. Deterministic: the block split is
    * event_id mod 3 and run 2 has consumed residues {0, 1}, which is the
    * subset the oracle spells directly. No stored snapshots — lineage +
    * block parquet IS the history. */
  private[queries] val qSnapshot: Q = (s, sf) => {
    val ev = t(s, sf, "events")
    val blk = (0 to 2).map(i => s"b$i" -> ev.filter(col("event_id") % 3 === i)).toMap
    val dir = scratchDir("snap")
    val log = new RunLog(dir)
    val g = new Graph(Seq(Node("ds", Seq("src"), up => up("src"))))
    val arrival = Seq("b0", "b1", "b2")
    for (i <- 1 to 3) // i-th run sees one more block; consumes just the new one
      g.runIncremental(Map("src" -> arrival.take(i).map(b => b -> blk(b))), log)
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    Snapshot.asOf(log, "ds", blk, seq = 2L)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("s"))
  }

  /** TRUE STREAMING declared query ([[graft.streaming.Streams
    * .incrementalEventStats]]): the events table is file-streamed
    * (readStream, 8 source files, ≤3 per micro-batch trigger), each
    * micro-batch foreachBatch-appends its partial (event_type, day)
    * aggregate to a delta log, and the final state re-aggregates the
    * log — a complete continuous-ingest pipeline run to completion with
    * AvailableNow. Additive commutative partials make the materialized
    * state independent of the micro-batch split, so the plain batch
    * aggregate over events is an exact oracle: the streaming execution
    * path (state checkpointing, trigger scheduling, incremental file
    * listing) is what this row pins, with the same CORRECTNESS gate as
    * every batch query.
    *
    * The 8-file source landing is written ONCE per (process, SF) and
    * reused across invocations via srcPrewritten — the landing is test
    * plumbing, not pipeline work, and re-writing it inside every timed
    * bench window made this fixed-cost query the round-9 bench's worst
    * spike (driver printed 12.94 s against a stable 2.0–2.5 s stream
    * when one tmpfs-write window caught host roam). The delta log and
    * checkpoint stay fresh per invocation so every run still executes
    * the full AvailableNow stream from batch 0. */
  private val streamSrcLanded = scala.collection.mutable.Map.empty[String, String]
  private[queries] val qStreamPipeline: Q = (s, sf) => {
    val dir = scratchDir("stream") // delta + ckpt: fresh every invocation
    val src = streamSrcLanded.synchronized {
      // the cache is per-process but the dir lives in scratch — anything
      // that wipes the scratch tree mid-process would leave a dangling
      // path here and fail every later invocation with no re-land, so
      // validate the landing's _SUCCESS marker before trusting the entry
      val cached = streamSrcLanded.get(sf).filter(d => java.nio.file.Files
        .exists(java.nio.file.Paths.get(d, "_SUCCESS")))
      cached.getOrElse {
        val d = streamSrcLanded.getOrElse(sf, scratchDir("streamsrc-" +
          java.lang.Integer.toHexString(sf.hashCode)))
        t(s, sf, "events").repartition(8).write.mode("overwrite").parquet(d)
        streamSrcLanded(sf) = d
        d
      }
    }
    val (state, _) = graft.streaming.Streams.incrementalEventStats(
      t(s, sf, "events"), src, s"$dir/delta", s"$dir/ckpt",
      srcPrewritten = true)
    state.orderBy("event_type")
  }

  /** Bloom-filter pre-filtered semi join ([[Bloom.filteredSemiJoin]]):
    * customers with ≥ 1 order, executed as bloom-over-order-keys →
    * broadcast → narrow scan-side probe → exact semi join over survivors.
    * The oracle is the PLAIN semi join (q_skew_join's pattern: the filter
    * is physical pruning only — no false negatives exist and the exact
    * join removes false positives). At 100 TB the probe drops
    * non-matching fact rows at scan speed before the shuffle. */
  private[queries] val qBloomJoin: Q = (s, sf) =>
    Bloom.filteredSemiJoin(t(s, sf, "customer"), t(s, sf, "orders"),
        "c_custkey", "o_custkey")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), round(sum("c_acctbal"), 2).as("bal"))
      .orderBy("c_mktsegment")

  /** Winnowing fingerprints ([[Dedup.winnowFingerprints]], Schleimer et
    * al. SIGMOD'03): per-doc census of the selected min-hashes (k=4-token
    * windows, w=4 selection windows). Portable 60-bit md5 hashes make the
    * selection — not just its size — oracle-checkable (min/max pin the
    * actual fingerprint values). */
  private[queries] val qWinnow: Q = (s, sf) =>
    Dedup.winnowFingerprints(t(s, sf, "documents"), "doc_id", "text", 4, 4)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_fp"), min("fp").as("fp_min"),
        max("fp").as("fp_max"))
      .orderBy("doc_id").limit(100)

  /** Containment near-dup pairs ([[Dedup.containmentPairs]]):
    * |∩|/min(|A|,|B|) ≥ 0.9 within a language — catches subsumed docs
    * that Jaccard misses when sizes differ. Bounded corpus like
    * q_neardup (same 31-word-vocabulary caveat; the scale path feeds LSH
    * candidates). Census output. */
  private[queries] val qContainment: Q = (s, sf) =>
    Dedup.containmentPairs(t(s, sf, "documents").filter(col("doc_id") < 1000),
        "doc_id", "lang", "text", 0.9)
      .agg(count(lit(1)).as("pairs"), sum(col("da") + col("db")).as("chk"),
        round(avg("cont"), 4).as("ac"))

  /** Per-doc token Shannon entropy ([[TextAnalysis.tokenEntropy]]) — the
    * diversity quality signal. Integer-quantized log terms make the
    * per-doc sum order-independent (the q_drift playbook, but for an
    * aggregate with unbounded group count). */
  private[queries] val qEntropy: Q = (s, sf) =>
    TextAnalysis.tokenEntropy(t(s, sf, "documents"), "doc_id", "text")
      .orderBy("doc_id").limit(100)

  /** Z-order (Morton) clustering key ([[Layout.zValue]]): coarse z-cells
    * of orders over (custkey low 16 bits, order-date day number) — the
    * multi-dimensional layout key behind [[Layout.zorderBy]]'s file
    * clustering. Pure bitwise built-ins, spelled identically in the
    * oracle, so the interleave itself is what's checked. */
  private[queries] val qZorder: Q = (s, sf) =>
    t(s, sf, "orders")
      .select(shiftright(Layout.zValue(
        pmod(col("o_custkey"), lit(65536)),
        datediff(col("o_orderdate").cast("date"),
          lit("1992-01-01").cast("date"))), 16).as("cell"))
      .groupBy("cell").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("cell")).limit(50)

  /** Co-located BUCKETED join declared as a query: both sides written
    * `bucketBy(8, key).sortBy(key)` (external tables in a temp dir), then
    * joined — Spark plans NO shuffle exchange on either side because the
    * bucketing metadata proves co-partitioning (BucketingSpec asserts the
    * plan shape; this row pins the VALUES). The oracle is the plain join:
    * bucketing is physical layout only. The measured time deliberately
    * includes the one-time bucketed write — that amortized layout cost IS
    * the operator's trade (write once, join shuffle-free forever), the
    * move that turns the dominant 100 TB fact⋈fact exchange into a local
    * merge. */
  private[queries] val qBucketJoin: Q = (s, sf) => {
    val dir = scratchDir("bucket")
    s.sql("DROP TABLE IF EXISTS g6_orders")
    s.sql("DROP TABLE IF EXISTS g6_lineitem")
    t(s, sf, "orders").select("o_orderkey", "o_orderpriority")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$dir/orders").saveAsTable("g6_orders")
    t(s, sf, "lineitem").select("l_orderkey", "l_extendedprice")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$dir/lineitem").saveAsTable("g6_lineitem")
    s.table("g6_lineitem").join(s.table("g6_orders"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), round(sum("l_extendedprice"), 2).as("rev"))
      .orderBy("o_orderpriority")
  }

  /** DYNAMIC partition pruning declared as a query (previously unit-only
    * in RuntimeFiltersSpec): events written date-partitioned
    * ([[graft.sources.Tables.writeEventsPartitioned]], the 100 TB fact
    * layout), joined to a dim whose filter — every-7th epoch day, a
    * predicate NO static rule can see through the join — selects ~1/7 of
    * the date partitions. Spark plans the dim side as a runtime subquery
    * on the fact scan's PartitionFilters, so the unselected date
    * directories are never opened (PlanSpec pins `dynamicpruning` in the
    * scan). The oracle is the same join from the raw table: pruning is
    * physical, values identical. Timed cost deliberately includes the
    * partitioned write (the q_bucket_join amortized-layout convention). */
  private[queries] val qDppPrune: Q = (s, sf) => {
    val dir = scratchDir("dpp")
    graft.sources.Tables.writeEventsPartitioned(s, sf, s"$dir/events")
    // dim: the distinct event dates with an engine-agnostic day-number
    // key (epoch-day mod 7 — dayofweek() numbering differs by engine)
    t(s, sf, "events").select(to_date(col("ts")).as("dt")).distinct()
      .withColumn("dayno",
        pmod(datediff(col("dt"), lit("1970-01-01").cast("date")), lit(7)))
      .write.mode("overwrite").parquet(s"$dir/days")
    val fact = s.read.parquet(s"$dir/events")
    val dim = s.read.parquet(s"$dir/days").filter(col("dayno") === 2)
    fact.join(dim, Seq("dt"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("user_id").as("chk"),
        countDistinct("dt").as("n_days"))
      .orderBy("event_type")
  }

  /** Median absolute deviation per group — the robust scale estimator
    * (50% breakdown point where one corrupt row ruins a stddev): exact
    * per-group median broadcast back (the q_impute shape), then the
    * median of absolute deviations. At 100 TB swap `approx_percentile`
    * into both passes (the q_winsorize note); the clip/join shape is
    * identical. */
  private[queries] val qMad: Q = (s, sf) => {
    val li = t(s, sf, "lineitem")
    val med = li.groupBy("l_returnflag")
      .agg(expr("percentile(l_quantity, 0.5)").as("med"))
    li.join(broadcast(med), "l_returnflag")
      .groupBy("l_returnflag")
      .agg(round(max("med"), 4).as("med"), // constant per group
        round(expr("percentile(abs(l_quantity - med), 0.5)"), 4).as("mad"))
      .orderBy("l_returnflag")
  }

  /** Two-sample Kolmogorov–Smirnov drift statistic (click events vs all):
    * D = max |F̂₁ − F̂₂| over the POOLED support. Values are quantized to
    * an integer grid first (floor — portable), so the CDFs live on a
    * BOUNDED grid (~400 cells here): two partial-agg passes over the
    * corpus, then the running-sum window runs on grid cells, not rows —
    * state O(grid), corpus never sorts globally. Completes the drift
    * family: q_drift is the KL view, this is the distribution-free test.
    * Integer cumulative counts divided by integer totals make every
    * |ΔF| term bit-reproducible; 6-dp floor-quantized. */
  private[queries] val qKs: Q = (s, sf) => {
    val ev = t(s, sf, "events").select(col("event_type"),
      floor(col("value")).cast("long").as("g"))
    val ca = ev.filter(col("event_type") === "click")
      .groupBy("g").agg(count(lit(1)).as("na"))
    val cb = ev.groupBy("g").agg(count(lit(1)).as("nb"))
    val grid = cb.join(ca, Seq("g"), "left").na.fill(0L, Seq("na"))
    val w = Window.orderBy("g").rowsBetween(Window.unboundedPreceding, 0)
    val tot = grid.agg(sum("na").as("ta"), sum("nb").as("tb"))
    grid.select(col("g"), sum("na").over(w).as("cna"),
        sum("nb").over(w).as("cnb"))
      .crossJoin(broadcast(tot))
      .agg(max(col("ta")).cast("long").as("n_click"),
        max(col("tb")).cast("long").as("n_all"),
        (floor(max(abs(col("cna") / col("ta").cast("double") -
          col("cnb") / col("tb").cast("double"))) * 1e6) / 1e6).as("ks"))
  }

  /** posexplode (UDTF-with-ordinality surface): token + its position —
    * the explode-family generator with the ordinal the ANSI spelling
    * needs `WITH ORDINALITY` / `generate_subscripts` for. */
  private[queries] val qPosexplode: Q = (s, sf) =>
    t(s, sf, "documents").filter(col("doc_id") < 10)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("i", "w")))
      .orderBy("doc_id", "i")
      .limit(500)

  /** The dags SQL-PIPE node as a declared query: a two-node DAG
    * ([[Node.sql]] pipes — upstream frames registered as views, SQL text
    * planned by Catalyst like any DataFrame node) run through
    * [[Graph.run]]'s topo order. The oracle is the composed SQL —
    * pinning that the pipe abstraction adds NOTHING to the semantics
    * (and, since it is all one lazy plan, nothing to the execution
    * either: filters still push down through the view boundary). */
  private[queries] val qSqlNode: Q = (s, sf) => {
    val g = new Graph(Seq(
      Node.sql("big", Seq("orders"),
        "SELECT o_custkey, o_totalprice FROM orders WHERE o_totalprice > 100000"),
      Node.sql("agg", Seq("big"),
        "SELECT o_custkey, count(*) AS n, round(sum(o_totalprice), 2) AS s " +
          "FROM big GROUP BY o_custkey")))
    g.run(Map("orders" -> t(s, sf, "orders")))("agg")
      .orderBy(col("n").desc, col("o_custkey")).limit(20)
  }

  /** MinHash ACCURACY audit: the 8-hash signature's Jaccard estimate
    * (matching-position fraction — an unbiased estimator, Broder '97)
    * against the exact Jaccard, over every same-lang token-sharing pair
    * of a bounded corpus. Both engines rebuild the identical md5 hash
    * family, so est — not just its error — is deterministic and the MAE
    * census is oracle-exact. The in-plan form of "how good is the sketch
    * driving q_neardup_lsh's banding". */
  private[queries] val qMinhashEst: Q = (s, sf) => {
    val d = t(s, sf, "documents").filter(col("doc_id") < 150)
    val sig = Dedup.minHashSignature(d, "doc_id", "text", 8)
    val pairs = Dedup.jaccardPairs(d, "doc_id", "lang", "text", 0.0)
    pairs
      .join(sig.select(col("doc_id").as("da"), col("sig").as("sa")), "da")
      .join(sig.select(col("doc_id").as("db"), col("sig").as("sb")), "db")
      .withColumn("est",
        // 8.0D: a bare 8.0 in SQL text is DECIMAL(2,1), which would carry
        // decimal typing (and a pandas-object dtype) through the avg
        expr("size(filter(zip_with(sa, sb, (x, y) -> x = y), b -> b)) / 8.0D"))
      .agg(count(lit(1)).as("pairs"),
        round(avg(abs(col("est") - col("jac"))), 4).as("mae"),
        round(avg("est"), 4).as("ae"), round(avg("jac"), 4).as("aj"))
  }

  /** Schema-evolution union (`unionByName(allowMissingColumns = true)`):
    * two block schemas that only partially overlap union by NAME, the
    * missing columns null-filled — the dags accumulate semantic when a
    * source adds a column mid-history (GraphSpec exercises the engine
    * path; this row pins the value semantics). */
  private[queries] val qUnionSchema: Q = (s, sf) => {
    val o = t(s, sf, "orders")
    val a = o.select(col("o_orderkey").as("k"), col("o_totalprice").as("price"))
    val b = o.select(col("o_orderkey").as("k"), col("o_orderpriority").as("prio"))
    a.unionByName(b, allowMissingColumns = true)
      .agg(count(lit(1)).as("n"), count("price").as("np"),
        count("prio").as("npr"), round(sum("price"), 2).as("sp"))
  }

  /** explode_outer: row-preserving explode — a doc with NO matching
    * tokens still emits one null row (the LEFT JOIN semantics of the
    * generator family), vs explode which drops it. */
  private[queries] val qExplodeOuter: Q = (s, sf) =>
    t(s, sf, "documents").filter(col("doc_id") < 50)
      .select(col("doc_id"),
        explode_outer(expr("filter(split(text, ' '), w -> w = 'key')")).as("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("c"), count("w").as("cw"))
      .orderBy("doc_id")

  // ------------------------------------------- retrieval fusion / eval

  /** Hybrid retrieval: reciprocal-rank fusion of the BM25 term ranking
    * and the exact-cosine embedding ranking (the standard lexical+dense
    * combiner, Cormack '09). Each retriever emits its top-50 BOUNDED
    * list (TakeOrderedAndProject), ranks attach on the 50-row frames,
    * and fusion is a union + hash agg — nothing corpus-sized past the
    * retrievers themselves. Ranks are computed on the already-rounded
    * scores with id tie-breaks, so they are engine-stable. */
  private[queries] val qRrf: Q = (s, sf) => {
    val bm = TextAnalysis.bm25Scores(t(s, sf, "documents"), "doc_id", "text",
        Seq("dup", "vector", "the"))
      .orderBy(col("score").desc, col("doc_id")).limit(50)
    val bmR = Retrieval.withRank(bm, Seq(col("score").desc, col("doc_id")))
      .select(col("doc_id").as("id"), col("rank"))
    val co = Similarity.cosineTopK(t(s, sf, "embeddings"), "vec_id",
      "embedding", 0L, 50)
    val coR = Retrieval.withRank(co, Seq(col("cos").desc, col("vec_id")))
      .select(col("vec_id").as("id"), col("rank"))
    Retrieval.rrfFuse(Seq(bmR, coR), "id")
      .orderBy(col("rrf").desc, col("id")).limit(20)
  }

  /** NDCG@10 of the exact-cosine retriever, relevance = label match —
    * the retrieval-quality eval loop over the labeled embedding table.
    * Query set (5 vectors) broadcasts; corpus scans once. */
  private[queries] val qNdcg: Q = (s, sf) =>
    Retrieval.ndcgAtK(t(s, sf, "embeddings"), "vec_id", "embedding",
        "label", Seq(0L, 1L, 2L, 3L, 4L), 10)
      .orderBy("qid")

  // --------------------------------------------- drift / corpus stats

  /** Jensen–Shannon divergence between per-source token distributions
    * (all 6 pairs of src0..src3) — the symmetric bounded drift measure
    * completing KL (q_drift) and KS (q_ks). One tokenize pass, one
    * vocab-sized outer join per pair. */
  private[queries] val qJsd: Q = (s, sf) =>
    Validate.jsDivergencePairs(t(s, sf, "documents"), "source", "text",
        Seq(("src0", "src1"), ("src0", "src2"), ("src0", "src3"),
          ("src1", "src2"), ("src1", "src3"), ("src2", "src3")))
      .orderBy("sa", "sb")

  /** Token co-occurrence PMI over the top-20 vocabulary (≥5 shared
    * docs) — collocation mining with the pair domain capped by a
    * broadcast topM join ([[TextAnalysis.cooccurPmi]]). */
  private[queries] val qCooccur: Q = (s, sf) =>
    TextAnalysis.cooccurPmi(t(s, sf, "documents"), "doc_id", "text",
        topM = 20, minPairs = 5L)
      .orderBy(col("pmi").desc, col("wa"), col("wb")).limit(30)

  // ------------------------------------------------- event analytics

  /** First-order Markov transition matrix of per-user event sequences:
    * lag over (ts, event_id) order, transition counts and per-source
    * row probabilities. The window shuffles by user once; the
    * transition-pair aggregate is |types|² small. */
  private[queries] val qNextEvent: Q = (s, sf) => {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    t(s, sf, "events")
      .select(col("user_id"), col("event_type").as("nxt"), col("ts"),
        col("event_id"))
      .withColumn("prev", lag("nxt", 1).over(w))
      .where(col("prev").isNotNull)
      .groupBy("prev", "nxt").agg(count(lit(1)).as("c"))
      .withColumn("p",
        round(col("c") / sum("c").over(Window.partitionBy("prev")), 4))
      .orderBy("prev", "nxt")
  }

  /** Last-touch attribution: each purchase's value credits the user's
    * most recent PRECEDING marketing touch (view/click/signup), else
    * 'direct'. The carried-touch column is one ignore-nulls last_value
    * over the user window (frame ends 1 PRECEDING — a purchase never
    * attributes to itself or later touches); revenue then aggregates by
    * channel. One shuffle by user, one tiny channel agg. */
  private[queries] val qAttribution: Q = (s, sf) => {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    t(s, sf, "events")
      .withColumn("ch", last(
        when(col("event_type").isin("view", "click", "signup"),
          col("event_type")), ignoreNulls = true).over(w))
      .where(col("event_type") === "purchase")
      .groupBy(coalesce(col("ch"), lit("direct")).as("channel"))
      .agg(count(lit(1)).as("purchases"), round(sum("value"), 2).as("revenue"))
      .orderBy("channel")
  }

  // ------------------------------------------------ window / agg surface

  /** percent_rank + cume_dist (the relative-rank window surface) over a
    * UNIQUE ordering (acctbal, custkey) so both are engine-stable. */
  private[queries] val qPercentRank: Q = (s, sf) => {
    val w = Window.partitionBy("c_nationkey")
      .orderBy(col("c_acctbal"), col("c_custkey"))
    t(s, sf, "customer")
      .select(col("c_custkey"), col("c_nationkey"),
        round(percent_rank().over(w), 4).as("pr"),
        round(cume_dist().over(w), 4).as("cd"))
      .orderBy("c_custkey").limit(100)
  }

  /** Bitwise aggregate surface (bit_or/bit_and/bit_xor + popcount sum)
    * — the flag-mask / feature-bitmap rollup, all partial-aggregable. */
  private[queries] val qBitagg: Q = (s, sf) =>
    t(s, sf, "lineitem").groupBy("l_returnflag")
      .agg(expr("bit_or(l_orderkey)").as("bo"),
        expr("bit_and(l_orderkey)").as("ba"),
        expr("bit_xor(l_orderkey)").as("bx"),
        expr("sum(bit_count(l_orderkey))").as("pc"))
      .orderBy("l_returnflag")

  /** Multiset INTERSECT ALL (each nation kept min(#customer, #supplier)
    * times — the bag semantics ANSI adds over plain INTERSECT), counted
    * per key to pin the multiplicities. */
  private[queries] val qIntersectAll: Q = (s, sf) =>
    t(s, sf, "customer").select(col("c_nationkey").as("nk"))
      .intersectAll(t(s, sf, "supplier").select(col("s_nationkey").as("nk")))
      .groupBy("nk").agg(count(lit(1)).as("c"))
      .orderBy("nk")

  /** Multiset EXCEPT ALL (customer nation multiplicities minus supplier
    * multiplicities, floored at zero), counted per key. */
  private[queries] val qExceptAll: Q = (s, sf) =>
    t(s, sf, "customer").select(col("c_nationkey").as("nk"))
      .exceptAll(t(s, sf, "supplier").select(col("s_nationkey").as("nk")))
      .groupBy("nk").agg(count(lit(1)).as("c"))
      .orderBy("nk")

  /** Bounded k-core of the trade graph ([[operators.Components
    * .kCorePeel]]): 3 synchronous peel rounds at k=3 — drop every vertex
    * whose current degree < 3, repeat — then the surviving per-vertex
    * degrees. The fixed round count is the semantic (the
    * [[qCommunities]] contract), so the oracle unrolls the same 3
    * peels as chained CTEs: integer degrees, bit-exact. */
  private[queries] val qKcore: Q = (s, sf) =>
    Components.kCorePeel(tradeEdges(s, sf), "s", "d", k = 3, rounds = 3)
      .orderBy("id").limit(100)

  /** Degree distribution of the trade graph — the first diagnostic run
    * on any graph (skew check: a heavy tail here is what forces the
    * degree-ordered orientation in [[qTriangles]] and salting in joins).
    * Two hash aggregates, fully partial-aggregable. */
  private[queries] val qDegreeDist: Q = (s, sf) =>
    tradeEdges(s, sf).groupBy("s").agg(count(lit(1)).as("deg"))
      .groupBy("deg").agg(count(lit(1)).as("n"), sum("s").as("chk"))
      .orderBy("deg")

  /** Canonical text normalization (lowercase → strip non-alphanumerics →
    * collapse runs of spaces → trim) + md5 of the canonical form — the
    * robust-exact-dedup prep that catches case/spacing/punctuation
    * variants plain md5(text) misses. Narrow per-row expressions,
    * scan-speed at 100 TB; the hash makes the whole normalized STRING
    * oracle-checked without shipping it. */
  private[queries] val qNormalize: Q = (s, sf) => {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
    t(s, sf, "documents")
      .select(col("doc_id"), length(col("text")).as("len_raw"),
        length(norm).as("len_norm"), md5(norm).as("h"))
      .orderBy("doc_id").limit(100)
  }

  /** GROUP-aware train/val/test split: the split key is the (source,
    * lang) group, not the row — every doc of a group lands in the same
    * split, the leakage guard row-hash splits ([[qSplitAssign]]) lack
    * (near-identical docs from one domain must not straddle train/test).
    * Same md5 bucket family, so the assignment is stable under corpus
    * growth and engine changes. */
  private[queries] val qGroupSplit: Q = (s, sf) =>
    Sampling.assignSplits(
        t(s, sf, "documents")
          .withColumn("grp", concat_ws(":", col("source"), col("lang"))),
        "grp", Seq("train" -> 90, "val" -> 5, "test" -> 5))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), countDistinct("grp").as("n_grp"),
        sum("doc_id").as("chk"))
      .orderBy("split")

  /** Token-budget fill: per source, take docs longest-first (whitespace
    * tokens desc, doc_id tie-break) while the RUNNING token total stays
    * ≤ 20k — the budget-allocation step that turns a mixing ratio into
    * an actual doc selection. One window cumsum per source partition;
    * integer tokens so the cut point is exact. */
  private[queries] val qTokenBudget: Q = (s, sf) => {
    val tok = TextAnalysis.wsTokenCount(col("text"))
    val w = Window.partitionBy("source")
      .orderBy(col("tok").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, sf, "documents")
      .select(col("doc_id"), col("source"), tok.as("tok"))
      .withColumn("cum", sum("tok").over(w))
      .filter(col("cum") <= 20000)
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum("tok").as("tok_kept"),
        sum("doc_id").as("chk"))
      .orderBy("source")
  }

  /** Golden-record survivorship: one row per customer merging per-column
    * "best" values drawn from DIFFERENT orders — latest status (by order
    * date, key tie-break), biggest order's key (by price), plus lifetime
    * count/spend. The master-data-management merge rule, spelled as two
    * deterministic row_number windows + one aggregate join (Spark's
    * max_by is tie-arbitrary, so windows with total orders are the
    * portable argmax — the [[qDedupe]] playbook per column). */
  private[queries] val qSurvivor: Q = (s, sf) => {
    val o = t(s, sf, "orders")
    val wLast = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    val wBig = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val last = o.withColumn("rn", row_number().over(wLast))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderstatus").as("last_status"),
        col("o_orderdate").cast("date").as("last_date"))
    val big = o.withColumn("rn", row_number().over(wBig))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey").as("top_key"))
    val life = o.groupBy("o_custkey")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("spend"))
    life.join(last, "o_custkey").join(big, "o_custkey")
      .orderBy("o_custkey").limit(100)
  }

  /** SCD type-2 dimension build from the orders change log: per customer,
    * consecutive runs of the same priority collapse to one versioned row
    * with [valid_from, valid_to) from the NEXT change's date (current
    * row open-ended, cur = 1) — the standard warehouse dimension
    * history, as two window passes (change detection via lag, interval
    * closure via lead over the surviving change rows). */
  private[queries] val qScd2: Q = (s, sf) => {
    val wSeq = Window.partitionBy("o_custkey")
      .orderBy(col("dt"), col("o_orderkey"))
    val changes = t(s, sf, "orders")
      .select(col("o_custkey"), col("o_orderdate").cast("date").as("dt"),
        col("o_orderkey"), col("o_orderpriority").as("prio"))
      .withColumn("prev", lag("prio", 1).over(wSeq))
      .filter(col("prev").isNull || col("prev") =!= col("prio"))
    changes
      .withColumn("nxt", lead("dt", 1).over(wSeq))
      .withColumn("cur", when(col("nxt").isNull, 1).otherwise(0))
      // open-ended validity as the conventional high-date sentinel (keeps
      // the column NOT NULL — range probes need no null branch)
      .withColumn("valid_to",
        coalesce(col("nxt"), lit("9999-12-31").cast("date")))
      .select(col("o_custkey"), col("o_orderkey"), col("prio"),
        col("dt").as("valid_from"), col("valid_to"), col("cur"))
      .orderBy("o_custkey", "valid_from", "o_orderkey").limit(100)
  }

  /** Dataset card: the per-source corpus summary a release ships with —
    * doc/distinct-text counts (exact dup rate), token mass, length and
    * language spread. One hash aggregate; every metric partial-
    * aggregable (countDistinct via Spark's expand, exact). */
  private[queries] val qDatasetCard: Q = (s, sf) => {
    val tok = TextAnalysis.wsTokenCount(col("text"))
    t(s, sf, "documents")
      .select(col("source"), col("lang"), col("n_chars"),
        tok.as("tok"), md5(col("text")).as("h"))
      .groupBy("source")
      .agg(count(lit(1)).as("docs"), countDistinct("h").as("n_uniq"),
        sum("tok").as("toks"), round(avg("n_chars"), 2).as("avg_chars"),
        countDistinct("lang").as("langs"),
        sum(when(col("tok") > 50, 1).otherwise(0)).as("long_docs"))
      .orderBy("source")
  }

  /** Mann–Whitney AUC of the quality score predicting lang='en' — the
    * threshold-free ranking metric (does the score order positives above
    * negatives?). Midrank tie handling on the 4-dp-quantized score GRID:
    * midrank·2 = 2·cum_before + cnt + 1 stays integer, so everything up
    * to the final division is exact — bit-reproducible cross-engine (the
    * q_ks playbook for rank statistics). The global window runs over the
    * bounded score grid (≤ 10⁴ cells), never the corpus rows. */
  private[queries] val qAuc: Q = (s, sf) => {
    val g = t(s, sf, "documents")
      .select(TextAnalysis.qualityScore("text", "n_chars").as("sc"),
        (col("lang") === "en").cast("int").as("y"))
      .groupBy("sc").agg(count(lit(1)).as("cnt"), sum("y").as("pos"))
    val w = Window.orderBy("sc")
      .rowsBetween(Window.unboundedPreceding, -1)
    g.withColumn("mr2",
        lit(2) * coalesce(sum("cnt").over(w), lit(0L)) + col("cnt") + 1)
      .agg(sum(col("pos") * col("mr2")).as("s2"), sum("pos").as("np"),
        sum(col("cnt") - col("pos")).as("nn"))
      .select(col("np"), col("nn"),
        round((col("s2") - col("np") * (col("np") + 1)) /
          (lit(2.0) * col("np") * col("nn")), 6).as("auc"))
  }

  /** Calibration (reliability diagram) of the linear classifier against
    * lang='en': decile bins of the sigmoid score vs observed positive
    * rate — over- vs under-confidence per bin. One hash aggregate over
    * a 10-cell key space; every metric partial-aggregable. */
  private[queries] val qCalibration: Q = (s, sf) =>
    t(s, sf, "documents")
      .select(TextAnalysis.classifierScore("text", bias = -2.0, wLnWc = 0.6,
          wMwl = -0.4, wStop = 8.0, wUniq = 1.5).as("sc"),
        (col("lang") === "en").cast("int").as("y"))
      .withColumn("bin", least(floor(col("sc") * 10), lit(9)).cast("int"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), round(avg("sc"), 4).as("conf"),
        sum("y").as("pos"),
        round(sum("y") / count(lit(1)).cast("double"), 4).as("rate"))
      .orderBy("bin")

  /** Confusion metrics of the classifier gate (keep = score ≥ 0.5)
    * against lang='en': tp/fp/fn/tn + precision/recall/F1 — the
    * eval-suite summary next to [[qAuc]]'s ranking view. Integer cell
    * counts (exact), one conditional aggregate, metrics rounded. */
  private[queries] val qConfusion: Q = (s, sf) => {
    val cell = (p: Column, a: Column) =>
      sum(when(p && a, 1).otherwise(0))
    t(s, sf, "documents")
      .select((TextAnalysis.classifierScore("text", bias = -2.0, wLnWc = 0.6,
          wMwl = -0.4, wStop = 8.0, wUniq = 1.5) >= 0.5).as("p"),
        (col("lang") === "en").as("a"))
      .agg(cell(col("p"), col("a")).as("tp"),
        cell(col("p"), !col("a")).as("fp"),
        cell(!col("p"), col("a")).as("fn"),
        cell(!col("p"), !col("a")).as("tn"))
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        round(col("tp") / (col("tp") + col("fp")).cast("double"), 4).as("prec"),
        round(col("tp") / (col("tp") + col("fn")).cast("double"), 4).as("rec"),
        round(lit(2.0) * col("tp") /
          (lit(2.0) * col("tp") + col("fp") + col("fn")), 4).as("f1"))
  }

  /** Snapshot diff (CDC between two table versions): key-wise full-outer
    * compare classifying every key as added / removed / changed /
    * unchanged — the audit primitive behind incremental replication.
    * Versions are derived deterministically from orders (old = keys
    * ∤10, new = keys ∤13 with priority recoded on keys ≡ 0 mod 97) so
    * all four classes are non-empty at every SF. One equi full-outer
    * join on the key + a 4-cell aggregate; value compare is by column
    * here — hash the row (`md5(concat_ws)`) for wide tables. */
  private[queries] val qTableDiff: Q = (s, sf) => {
    val o = t(s, sf, "orders")
    val vOld = o.filter(col("o_orderkey") % 10 =!= 0)
      .select(col("o_orderkey").as("k"), col("o_orderpriority").as("vo"))
    val vNew = o.filter(col("o_orderkey") % 13 =!= 0)
      .select(col("o_orderkey").as("k"),
        when(col("o_orderkey") % 97 === 0, lit("9-RECODED"))
          .otherwise(col("o_orderpriority")).as("vn"))
    vOld.join(vNew, Seq("k"), "full_outer")
      .select(col("k"),
        when(col("vo").isNull, "added")
          .when(col("vn").isNull, "removed")
          .when(col("vo") =!= col("vn"), "changed")
          .otherwise("unchanged").as("cls"))
      .groupBy("cls").agg(count(lit(1)).as("n"), sum("k").as("chk"))
      .orderBy("cls")
  }

  /** Strict 2-hop neighborhood size (distance exactly 2: co-purchase
    * peers through a shared partner, direct partners and self excluded)
    * for a bounded seed set — the friend-of-friend feature. The seed
    * bound is the scale contract: an unbounded 2-hop census on a dense
    * bipartite graph is Σ deg² pair work (the wedge explosion
    * [[qTriangles]]' orientation avoids); seeding keeps the hop join
    * O(seeds · deg²) however large the graph. Two equi joins + one
    * anti join, never cartesian. */
  private[queries] val q2hop: Q = (s, sf) => {
    val e = tradeEdges(s, sf)
    e.as("x").filter(col("x.s") < 200)
      .join(e.as("y"), col("x.d") === col("y.s"))
      .select(col("x.s").as("a"), col("y.d").as("c"))
      .filter(col("a") =!= col("c"))
      .distinct()
      .join(e.select(col("s").as("a"), col("d").as("c")), Seq("a", "c"),
        "left_anti")
      .groupBy("a").agg(count(lit(1)).as("n2hop"))
      .orderBy("a").limit(100)
  }

  /** Pareto concentration of customer revenue (the 80/20 audit): how many
    * top customers cover 50/80/90% of total spend. Money goes through
    * integer cents and the threshold tests cross-multiply (cum·10 ≥
    * tot·5 etc.), so every comparison is EXACT — no double sum can flip
    * a rank at a boundary (the q_decimal posture applied to a running
    * share). Rank + running sum come from [[Rank.rowNumbered]] — the
    * two-pass distributed spelling: the per-customer grain is an UNBOUNDED
    * entity frame, so a partition-less window here would serialize every
    * customer through one task at 100×. */
  private[queries] val qPareto: Q = (s, sf) => {
    val cents = round(col("o_totalprice") * 100).cast("long")
    val sp = t(s, sf, "orders").groupBy("o_custkey")
      .agg(sum(cents).as("c"))
    Rank.rowNumbered(sp, Seq(col("c").desc, col("o_custkey")),
        rankCol = "r", sumOf = Some("c"), cumCol = "cum", totCol = "tot")
      .agg(min(when(col("cum") * 10 >= col("tot") * 5, col("r"))).as("n50"),
        min(when(col("cum") * 10 >= col("tot") * 8, col("r"))).as("n80"),
        min(when(col("cum") * 10 >= col("tot") * 9, col("r"))).as("n90"),
        max(col("r")).as("n"))
  }

  /** Period-over-period revenue: monthly totals with MoM delta and growth
    * rate — the BI trend surface (lag over the bounded month series, not
    * the fact rows; the month aggregate is the only fact shuffle). */
  private[queries] val qPop: Q = (s, sf) => {
    val w = Window.orderBy("mo")
    t(s, sf, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("mo"))
      .agg(round(sum("o_totalprice"), 2).as("rev"))
      .withColumn("prev", lag("rev", 1).over(w))
      .select(col("mo"), col("rev"),
        round(coalesce(col("rev") - col("prev"), lit(0.0)), 2).as("delta"),
        round(coalesce((col("rev") - col("prev")) / col("prev"), lit(0.0)), 4)
          .as("growth"))
      .orderBy("mo")
  }

  /** Market-basket association rules over parts co-ordered (support /
    * confidence / lift, min co-count 3): the per-order pair join is
    * O(k²) in BASKET size (≤ a few lineitems), so pair work stays linear
    * in orders however large the fact table — the a-priori counting
    * shape. Part supports and the order total attach by broadcast. */
  private[queries] val qBasket: Q = (s, sf) => {
    val li = t(s, sf, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val supp = li.groupBy("p").agg(count(lit(1)).as("np"))
    val tot = li.agg(countDistinct("o").as("n"))
    // pair emission by ONE groupBy + in-array combinations, not a
    // self-join (the qTriangles edge-build move): the join spelling
    // shuffles the distinct'd fact twice on the basket key for the same
    // ordered pair set; basket size bounds the per-group quadratic. The
    // RAW projection feeds it — array_distinct dedups within the basket,
    // so the upstream global distinct (a full extra shuffle) is only
    // needed by the support/total aggregates.
    t(s, sf, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .groupBy("o")
      .agg(sort_array(array_distinct(collect_list(col("p")))).as("ps"))
      .select(explode(expr(pairCombosExpr("ps", "pa", "pb"))).as("pr"))
      .groupBy(col("pr.pa").as("pa"), col("pr.pb").as("pb"))
      .agg(count(lit(1)).as("nab"))
      .filter(col("nab") >= 3)
      .join(broadcast(supp.select(col("p").as("pa"), col("np").as("na"))), "pa")
      .join(broadcast(supp.select(col("p").as("pb"), col("np").as("nb"))), "pb")
      .crossJoin(broadcast(tot))
      .select(col("pa"), col("pb"), col("nab"),
        round(col("nab") / col("n").cast("double"), 6).as("support"),
        round(col("nab") / col("na").cast("double"), 4).as("conf"),
        // double products BEFORE multiplying (the cooccurPmi overflow note)
        round(col("nab").cast("double") * col("n") /
          (col("na").cast("double") * col("nb")), 4).as("lift"))
      .orderBy(col("nab").desc, col("pa"), col("pb")).limit(50)
  }

  /** Trailing-7-day active users per day (the DAU/WAU board): each
    * (user, day) activity row fans out to the ≤7 window days it counts
    * toward, then one distinct-count per day — linear in user-days, no
    * per-day rescan of the corpus, the standard distributed rolling-
    * distinct shape (an HLL sketch drops in for approximate at 100 TB). */
  private[queries] val qActiveUsers: Q = (s, sf) => {
    val ud = t(s, sf, "events")
      .select(col("user_id"), col("ts").cast("date").as("d")).distinct()
    val days = ud.select(col("d")).distinct()
    ud.select(col("user_id"), explode(sequence(lit(0), lit(6))).as("off"),
        col("d"))
      .select(col("user_id"), date_add(col("d"), col("off")).as("day"))
      .join(days.withColumnRenamed("d", "day"), "day") // observed days only
      .groupBy("day").agg(countDistinct("user_id").as("wau"))
      .join(ud.groupBy(col("d").as("day"))
        .agg(countDistinct("user_id").as("dau")), "day")
      .orderBy("day")
  }

  /** Inter-event gap distribution (inter-arrival analysis): per-user
    * consecutive gaps in exact µs (unix_micros ≡ epoch_us), bucketed to
    * whole minutes capped at 60 — one user-partitioned lag window + a
    * bounded histogram aggregate. */
  private[queries] val qGapDist: Q = (s, sf) => {
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    t(s, sf, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("gap", col("us") - lag("us", 1).over(w))
      .filter(col("gap").isNotNull)
      .groupBy(least(floor(col("gap") / 60000000L), lit(60L)).as("bucket"))
      .agg(count(lit(1)).as("n"), sum("user_id").as("chk"))
      .orderBy("bucket")
  }

  /** Deadline funnel: of users whose first view is followed by a click,
    * how many convert WITHIN 1 hour — the time-bounded conversion rate
    * q_funnel's unbounded ordering can't express. First-view aggregate,
    * one conditional join for the first posterior click, exact-µs delay
    * stats. */
  private[queries] val qFunnelDeadline: Q = (s, sf) => {
    val ev = t(s, sf, "events")
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val v1 = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("us").as("t1"))
    val c1 = ev.filter(col("event_type") === "click").as("c")
      .join(v1.as("v"), col("c.user_id") === col("v.user_id") &&
        col("c.us") > col("v.t1"))
      .groupBy(col("c.user_id").as("user_id")).agg(min("us").as("t2"))
    v1.join(c1, Seq("user_id"), "left")
      .agg(count(lit(1)).as("n_view"),
        count(col("t2")).as("n_click"),
        count(when(col("t2") - col("t1") <= 3600000000L, 1)).as("n_conv"),
        round(count(when(col("t2") - col("t1") <= 3600000000L, 1)) /
          count(lit(1)).cast("double"), 4).as("rate"),
        // exact µs sum / exact count, ONE float division at the end —
        // per-row float averaging would be summation-order-dependent
        round(sum(when(col("t2") - col("t1") <= 3600000000L,
            col("t2") - col("t1"))) /
          count(when(col("t2") - col("t1") <= 3600000000L, 1)).cast("double") /
          60000000.0, 2).as("avg_min"))
  }

  /** Event-sequence pattern match (the journey query): each user's
    * type path in exact (ts, event_id) order as one string, matched
    * against view→…→click→…→purchase as a regex subsequence. Per-user
    * state is one bounded path string built by a partial-aggregable
    * collect + sort — no per-user window over the corpus, no driver
    * state (the MATCH_RECOGNIZE workload in its distributable form). */
  private[queries] val qSeqMatch: Q = (s, sf) => {
    val path = array_join(transform(
      array_sort(collect_list(struct(col("us"), col("event_id"),
        col("event_type")))), x => x.getField("event_type")), " ")
    t(s, sf, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .groupBy("user_id").agg(path.as("path"))
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("path").rlike("view.*click.*purchase"), 1)
          .otherwise(0)).as("n_match"),
        sum(when(col("path").rlike("view.*click.*purchase"),
          col("user_id"))).as("chk"))
  }

  /** Churn screen: users whose activity dropped between the two halves
    * of the observation window (midpoint from the corpus min/max epoch —
    * broadcast 1-row frame, exact integer µs). Top-20 decliners among
    * users with ≥ 5 first-half events; integer counts, bit-exact. */
  private[queries] val qChurn: Q = (s, sf) => {
    val ev = t(s, sf, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
    // integer floor-div midpoint (a double /2 would round differently
    // across engine casts on odd sums)
    val mid = ev.agg(expr("(min(us) + max(us)) div 2").as("mid"))
    ev.crossJoin(broadcast(mid))
      .groupBy("user_id")
      .agg(sum(when(col("us") < col("mid"), 1).otherwise(0)).as("na"),
        sum(when(col("us") >= col("mid"), 1).otherwise(0)).as("nb"))
      .filter(col("na") >= 5)
      .select(col("user_id"), col("na"), col("nb"),
        (col("na") - col("nb")).as("decline"))
      .orderBy(col("decline").desc, col("user_id")).limit(20)
  }

  /** Quality-aware dedup keeper: near-dup clusters ([[qDedupCluster]]'s
    * closure) each elect their HIGHEST-quality member (score desc,
    * doc_id tie-break) instead of the min id — what a production corpus
    * actually keeps. One broadcast-scored join onto the cluster frame +
    * a per-cluster row_number argmax (deterministic, engine-portable). */
  private[queries] val qKeepBest: Q = (s, sf) => {
    val docs = t(s, sf, "documents").filter(col("doc_id") < 200)
    val cc = Components.dupClusters(
      Dedup.jaccardPairs(docs, "doc_id", "lang", "text", 0.9), "da", "db")
    val scored = cc.withColumnRenamed("id", "doc_id")
      .join(docs.select(col("doc_id"),
        TextAnalysis.qualityScore("text", "n_chars").as("score")), "doc_id")
    val w = Window.partitionBy("comp")
      .orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("comp"), col("doc_id").as("keeper"), col("sz"),
        col("score"))
      .orderBy("comp")
  }

  /** Class-balanced downsample: every language kept at exactly the
    * minority-class size, members chosen by deterministic md5 order
    * (the [[qShuffle]] key) — the imbalance-correction step before
    * training. Per-class window over the hash order; the min size is a
    * broadcast 1-row frame. */
  private[queries] val qBalance: Q = (s, sf) => {
    val docs = t(s, sf, "documents")
      .select(col("doc_id"), col("lang"),
        Sampling.shuffleKey(col("doc_id"), "bal1").as("sk"))
    val nmin = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      .agg(min("n").as("nmin"))
    val w = Window.partitionBy("lang").orderBy(col("sk"), col("doc_id"))
    docs.withColumn("rn", row_number().over(w))
      .crossJoin(broadcast(nmin))
      .filter(col("rn") <= col("nmin"))
      .groupBy("lang").agg(count(lit(1)).as("kept"), sum("doc_id").as("chk"))
      .orderBy("lang")
  }

  /** MERGE INTO (the CDC-apply upsert): a delta of per-customer order
    * totals is merged into the customer dimension — matched rows with
    * op='D' are deleted, op='U' matched rows take the new balance,
    * unmatched target rows pass through, unmatched 'U' delta rows insert
    * under a NEW segment. ONE full outer join on the key expresses all
    * four WHEN branches (Spark has no MERGE statement outside catalog
    * tables; the outer-join spelling is its exact relational form and
    * shuffles each side once, hash-partitioned by the merge key — at
    * 100 TB the delta side is typically small enough for AQE to turn its
    * exchange into a broadcast). Output: per-segment census of the merged
    * dimension, integer-cents exact. */
  private[queries] val qMergeUpsert: Q = (s, sf) => {
    val tgt = t(s, sf, "customer").select(col("c_custkey").as("key"),
      col("c_acctbal").as("bal"), col("c_mktsegment").as("seg"))
    val delta = t(s, sf, "orders")
      .groupBy(col("o_custkey").as("key"))
      .agg(round(sum("o_totalprice"), 2).as("amt"))
      .withColumn("op", when(col("key") % 13 === 0, lit("D")).otherwise(lit("U")))
    // synthetic new keys exercise the INSERT branch (no customer match)
    val ins = delta.filter(col("key") % 29 === 0)
      .select((col("key") + 10000000L).as("key"), col("amt"), lit("U").as("op"))
    val d = delta.unionByName(ins)
      .select(col("key").as("dkey"), col("amt"), col("op"))
    // the three keep branches spelled explicitly — a negated conjunction
    // would go NULL (and silently drop) on the op-less target-only rows:
    //   matched       → survive unless op = 'D'   (WHEN MATCHED DELETE)
    //   target-only   → pass through
    //   delta-only    → insert only 'U' rows      (a 'D' on a missing key
    //                                              is a no-op, not an insert)
    val keep =
      (col("key").isNotNull && col("dkey").isNull) ||
        (col("key").isNotNull && col("dkey").isNotNull && col("op") =!= "D") ||
        (col("key").isNull && col("op") === "U")
    tgt.join(d, col("key") === col("dkey"), "full_outer")
      .filter(keep)
      .select(
        coalesce(col("key"), col("dkey")).as("k"),
        when(col("dkey").isNotNull, col("amt")).otherwise(col("bal")).as("nb"),
        coalesce(col("seg"), lit("NEW")).as("seg"))
      .groupBy("seg")
      .agg(count(lit(1)).as("n"),
        sum(round(col("nb") * 100).cast("long")).as("cents"),
        sum("k").as("chk"))
      .orderBy("seg")
  }

  /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): two grouped
    * frames whose keys include a NULL group (nullif) are joined so the
    * NULL groups MATCH — the dimension-conform join SQL equality silently
    * drops rows from. Spark plans EqualNullSafe as a true equi-join key
    * (hash/sort-merge, never a nested loop) — plan-asserted. */
  private[queries] val qJoinNullsafe: Q = (s, sf) => {
    val ev = t(s, sf, "events")
    val a = ev.groupBy(nullif(col("user_id") % 7, lit(3)).as("k"))
      .agg(count(lit(1)).as("c1"))
    val b = ev.groupBy(nullif(col("event_id") % 7, lit(3)).as("k"))
      .agg(count(lit(1)).as("c2"))
    a.join(b, a("k") <=> b("k"))
      .select(a("k").as("k"), col("c1"), col("c2"))
      .orderBy(asc_nulls_first("k"))
  }

  /** Inverted-index build (the retrieval-infra materialization): posting
    * lists (term → [(doc, position)]) summarized per term as df / postings
    * count / integer checksums over doc ids and positions. One
    * posexplode + one partial-aggregable groupBy — the index build is a
    * single shuffle by term, and at 100 TB the postings for each term
    * land hash-partitioned exactly where a query-serving bucket-file
    * writer wants them. Top 50 terms by document frequency. */
  private[queries] val qInvertedIndex: Q = (s, sf) =>
    t(s, sf, "documents")
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("p", "term")))
      .filter(col("term") =!= "")
      .groupBy("term")
      .agg(countDistinct("doc_id").as("df"),
        count(lit(1)).as("n_post"),
        sum("doc_id").as("chk_doc"),
        (sum("p") + count(lit(1))).as("chk_pos")) // 1-based position sum
      .orderBy(col("df").desc, col("term"))
      .limit(50)

  /** Differentially-private count release: per-language doc counts plus
    * Laplace(1/ε) noise, ε = 1, from the md5-uniform (seeded, so the
    * release is reproducible and ORACLE-CHECKABLE — production would use
    * real randomness; everything else, the inverse-CDF transform and the
    * sensitivity-1 count query, is the real mechanism). u ∈ (0,1) comes
    * from [[Sampling.hashKey]] shifted by 0.5 ulp so |u−0.5| < 0.5 exactly
    * — ln(1−2|u−0.5|) can never hit −∞. */
  private[queries] val qDpCounts: Q = (s, sf) => {
    val u = (Sampling.hashKey(concat_ws(":", lit("dp1"), col("lang")))
      .cast("double") + 0.5) / 4294967296.0
    val noise = -signum(u - 0.5) * log(lit(1.0) - lit(2.0) * abs(u - 0.5))
    t(s, sf, "documents")
      .groupBy("lang")
      .agg(count(lit(1)).as("n"))
      .select(col("lang"), round(col("n") + noise, 3).as("released"))
      .orderBy("lang")
  }

  /** Late-interaction retrieval (the ColBERT MaxSim score): each 64-dim
    * vector is treated as 8 token sub-vectors of 8 dims; score(doc) =
    * Σ_{q-subvec} max_{doc-subvec} ⟨q, d⟩. The query's 8 sub-vectors
    * broadcast; per doc the 64 sub-pair dots go through the codegen'd
    * [[graft.functions.DotProduct]], the per-query-subvec max is
    * integer-quantized (×10⁴, the q_entropy trick) so the final 8-term
    * sum is exact long arithmetic — bit-identical across engines and
    * row orders. Top 10 docs. */
  private[queries] val qMaxsim: Q = (s, sf) => {
    val sub = t(s, sf, "embeddings")
      .select(col("vec_id"), posexplode(expr(
        "transform(sequence(0, 7), i -> slice(embedding, i*8 + 1, 8))"))
        .as(Seq("sub", "sv")))
    val q = sub.filter(col("vec_id") === 0)
      .select(col("sub").as("qsub"), col("sv").as("qv"))
    sub.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("qsub"), col("sub"),
        graft.functions.VectorFunctions.dotProduct(col("sv"), col("qv")).as("dt"))
      .groupBy("vec_id", "qsub")
      .agg(round(max("dt") * 10000).cast("long").as("mq"))
      .groupBy("vec_id")
      .agg(round(sum("mq") / 10000.0, 4).as("maxsim"))
      .orderBy(col("maxsim").desc, col("vec_id"))
      .limit(10)
  }

  /** Vocabulary coverage curve: the share of total token mass covered by
    * the top-10/30/100 tokens — the tokenizer-vocab-size planning query.
    * One shuffle-by-term count; the head ranks AFTER a TakeOrdered
    * top-100 (only 100 rows ever see a window — the vocab frame itself
    * is millions of rows at 100 TB, too big for a partition-less rank),
    * and the totals broadcast from a plain aggregate. */
  private[queries] val qVocabCoverage: Q = (s, sf) => {
    val tok = t(s, sf, "documents")
      .select(explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("f"))
      .localCheckpoint(true) // head branch + totals branch
    val tot = tok.agg(count(lit(1)).as("n_vocab"), sum("f").as("total"))
    val w = Window.orderBy(col("f").desc, col("term"))
    def cov(k: Int) =
      round(sum(when(col("rn") <= k, col("f")).otherwise(0L)) /
        max("total").cast("double"), 6).as(s"cov$k")
    tok.orderBy(col("f").desc, col("term")).limit(100)
      .withColumn("rn", row_number().over(w))
      .crossJoin(broadcast(tot))
      .agg(max("n_vocab").as("n_vocab"), max("total").as("total"),
        cov(10), cov(30), cov(100))
  }

  /** Journey segment mining: the 20 most common 3-step event-type paths,
    * from per-user lead windows in exact (ts, event_id) order — the
    * product-analytics "common paths" report. User-partitioned window
    * (parallel by user), one count shuffle by trigram. */
  private[queries] val qPathMining: Q = (s, sf) => {
    val w = Window.partitionBy("user_id")
      .orderBy(col("us"), col("event_id"))
    t(s, sf, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .select(col("event_type").as("t1"),
        lead("event_type", 1).over(w).as("t2"),
        lead("event_type", 2).over(w).as("t3"))
      .filter(col("t3").isNotNull)
      .select(concat_ws(">", col("t1"), col("t2"), col("t3")).as("path"))
      .groupBy("path").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("path"))
      .limit(20)
  }

  /** Benford first-digit audit (fraud/data-quality screen): observed vs
    * expected log₁₀(1+1/d) first-significant-digit distribution of order
    * totals. The digit comes from the INTEGER cents rendered as a string
    * — no log/pow on doubles near power-of-10 boundaries can flip it. */
  private[queries] val qBenford: Q = (s, sf) => {
    val cents = round(col("o_totalprice") * 100).cast("long")
    val digits = t(s, sf, "orders")
      .select(cents.as("c")).filter(col("c") > 0)
      .select(substring(col("c").cast("string"), 1, 1).cast("int").as("d"))
      .groupBy("d").agg(count(lit(1)).as("n"))
    val tot = digits.agg(sum("n").as("total"))
    digits.crossJoin(broadcast(tot))
      .select(col("d"), col("n"),
        round(col("n") / col("total").cast("double"), 6).as("obs"),
        round(log10(lit(1.0) + lit(1.0) / col("d")), 6).as("exp"))
      .orderBy("d")
  }

  /** 2-D skyline (Pareto-optimal set: no other part is ≤ on BOTH size and
    * price with one strict) — the multi-objective shortlist operator.
    * Scale shape (Börzsönyi et al. '01 adapted to grids): the dominance
    * test needs only the per-size min price, a GRID bounded by distinct
    * sizes — one partial agg over the facts, a window on the ≤50-row
    * grid, then a broadcast join back; the fact table never sorts
    * globally and no pair join exists. A part survives iff nothing at a
    * strictly smaller size is ≤ its price (mp) and nothing at its own
    * size is strictly cheaper (== per-size min). */
  private[queries] val qSkyline: Q = (s, sf) => {
    val p = t(s, sf, "part")
      .select(col("p_partkey"), col("p_size"), col("p_retailprice"))
    val grid = p.groupBy("p_size").agg(min("p_retailprice").as("mn"))
    val w = Window.orderBy("p_size")
      .rowsBetween(Window.unboundedPreceding, -1)
    val gm = grid.withColumn("mp", min("mn").over(w))
    p.join(broadcast(gm), "p_size")
      .filter((col("mp").isNull || col("mp") > col("p_retailprice")) &&
        col("p_retailprice") <= col("mn"))
      .select(col("p_partkey"), col("p_size"),
        col("p_retailprice").as("price"))
      .orderBy("p_size", "p_partkey")
  }

  /** Smoothed target encoding (the categorical-feature prep): per
    * category, (Σ target + m·global mean)/(n + m) with m = 10 — the
    * empirical-Bayes shrinkage that keeps rare categories near the prior.
    * Money goes through integer cents so both engines aggregate exactly;
    * the only doubles are the final shared-spelling division. Global
    * stats are a broadcast 1-row frame (the q_churn shape). */
  private[queries] val qTargetEncode: Q = (s, sf) => {
    val o = t(s, sf, "orders").select(col("o_orderpriority").as("cat"),
      round(col("o_totalprice") * 100).cast("long").as("c"))
    val g = o.agg(sum("c").as("gs"), count(lit(1)).as("gn"))
    o.groupBy("cat").agg(sum("c").as("sc"), count(lit(1)).as("n"))
      .crossJoin(broadcast(g))
      .select(col("cat"), col("n"),
        round((col("sc") + lit(10.0) * col("gs") / col("gn")) /
          (col("n") + 10) / 100.0, 4).as("enc"))
      .orderBy("cat")
  }

  /** Time-weighted average event value per user (each value holds until
    * the next event — the irregular-sampling mean a plain avg gets
    * wrong). Values are quantized to integer milli-units BEFORE the
    * weight multiply, so Σ v·gap is an exact int64 sum on both engines
    * (a double product sum would be addition-order-dependent); gaps are
    * integer epoch-microsecond diffs from a per-user lead. */
  private[queries] val qTimeWeighted: Q = (s, sf) => {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    t(s, sf, "events")
      .select(col("user_id"), col("event_id"),
        round(col("value") * 1000).cast("long").as("v"),
        unix_micros(col("ts")).as("us"))
      .withColumn("nxt", lead("us", 1).over(w))
      .filter(col("nxt").isNotNull)
      // ms-floored gaps: Σ v·gap then fits int64 even at a multi-year
      // span × max value (µs gaps would overflow at ~1.8e19 there)
      .withColumn("gap", expr("(nxt - us) DIV 1000"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        round(sum(col("v") * col("gap")) /
          (sum("gap") * lit(1000.0)), 4).as("twa"))
      .orderBy("user_id").limit(100)
  }

  /** CUSUM changepoint on the daily revenue series: the day t maximizing
    * |n·cumsum(t) − t·total| — the scaled spelling of |Σ_{i≤t}(x_i − x̄)|
    * that stays ENTIRELY in int64 (cents), so the argmax cannot be
    * flipped by float rounding. One partial agg to the bounded day grid,
    * one window pass over the grid (the qKs posture: state O(days), the
    * fact table never sorts), broadcast totals. */
  /** Daily revenue in integer cents on the bounded day grid — the shared
    * series behind [[qChangepoint]] and [[qRollingRev]] (one definition
    * of the cents-rounding contract). */
  private def dailyRevenueCents(s: SparkSession, sf: String): DataFrame =
    t(s, sf, "orders")
      .groupBy(col("o_orderdate").cast("date").as("dy"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("c"))

  private[queries] val qChangepoint: Q = (s, sf) => {
    val d = dailyRevenueCents(s, sf)
    val tot = d.agg(sum("c").as("tc"), count(lit(1)).as("nd"))
    val w = Window.orderBy("dy")
    d.withColumn("cum", sum("c").over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("i", row_number().over(w))
      .crossJoin(broadcast(tot))
      .select(col("dy"),
        (col("nd") * col("cum") - col("i") * col("tc")).as("s"))
      .orderBy(abs(col("s")).desc, col("dy")).limit(1)
  }

  /** Functional-dependency audit (does o_custkey determine
    * o_orderpriority?): LHS groups with >1 distinct RHS are violations —
    * the schema-inference / data-contract check. One exact
    * count_distinct aggregate per LHS, then a 1-row rollup. */
  private[queries] val qFdCheck: Q = (s, sf) =>
    t(s, sf, "orders").groupBy("o_custkey")
      .agg(countDistinct("o_orderpriority").as("nd"), count(lit(1)).as("n"))
      .agg(count(lit(1)).as("lhs_keys"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("violating_keys"),
        sum(when(col("nd") > 1, col("n")).otherwise(0L)).as("violating_rows"),
        max("nd").as("max_rhs"))

  /** k-anonymity audit over the (nation, segment) quasi-identifier pair:
    * groups smaller than k = 5 re-identify their members — the privacy
    * gate before a demographic release (Sweeney '02). One grouped count
    * + a 1-row rollup; k* (the dataset's actual anonymity level) is the
    * min group size. */
  private[queries] val qKanon: Q = (s, sf) =>
    t(s, sf, "customer").groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("n") < 5, 1L).otherwise(0L)).as("risky_groups"),
        sum(when(col("n") < 5, col("n")).otherwise(0L)).as("risky_rows"),
        min("n").as("k_star"))

  /** Degree assortativity of the trade graph: Pearson r between endpoint
    * degrees across (symmetrized) edges — positive = hubs link hubs
    * (Newman '02). All six moment sums are exact int64 (degrees are
    * counts); the only doubles are the shared-spelling final formula, so
    * r is bit-stable. Degree table is O(nodes) and broadcast to the edge
    * scan — edges never shuffle. */
  private[queries] val qAssortativity: Q = (s, sf) => {
    val e = tradeEdges(s, sf)
    val deg = e.groupBy("s").agg(count(lit(1)).as("dg"))
    val ed = e.join(broadcast(deg), "s")
      .join(broadcast(deg.select(col("s").as("d"), col("dg").as("dh"))), "d")
    ed.agg(count(lit(1)).as("m"), sum("dg").as("sx"), sum("dh").as("sy"),
        sum(col("dg") * col("dh")).as("sxy"),
        sum(col("dg") * col("dg")).as("sxx"),
        sum(col("dh") * col("dh")).as("syy"))
      .select(col("m"), round(
        (col("m") * col("sxy") - col("sx") * col("sy")).cast("double") /
          sqrt((col("m") * col("sxx") - col("sx") * col("sx")).cast("double") *
            (col("m") * col("syy") - col("sy") * col("sy")).cast("double")),
        6).as("r"))
  }

  /** Equal-frequency quality binning (the curriculum-phase assignment):
    * exact quartile cutpoints of the quantized quality score, broadcast
    * back, each document classified by ≤-comparison — no global sort of
    * the corpus, state O(cutpoints) (at 100 TB swap approx_percentile
    * into the cutpoint agg; the classify join is unchanged). */
  private[queries] val qQuantileBin: Q = (s, sf) => {
    val scored = t(s, sf, "documents").select(col("doc_id"),
      TextAnalysis.qualityScore("text", "n_chars").as("score"))
    val cuts = scored.agg(
      expr("percentile(score, array(0.25, 0.5, 0.75))").as("c"))
    scored.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("score"),
        when(col("score") <= col("c")(0), 1)
          .when(col("score") <= col("c")(1), 2)
          .when(col("score") <= col("c")(2), 3).otherwise(4).as("bin"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), round(min("score"), 4).as("lo"),
        round(max("score"), 4).as("hi"), sum("doc_id").as("chk"))
      .orderBy("bin")
  }

  /** Lag-1..3 autocorrelation of the monthly revenue series — the
    * seasonality probe. Months aggregate to integer DOLLARS ((c+50) DIV
    * 100 — a shared integer rounding spelling), the lagged pairing is an
    * equi self-join on add_months over the ~80-row month grid, and every
    * moment sum is exact int64; only the final r is double. */
  private[queries] val qAutocorr: Q = (s, sf) => {
    val m = t(s, sf, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("mo"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cc"))
      // thousand-dollar units keep every moment sum (n·Σxy, Σx·Σy)
      // inside int64 at any plausible SF
      .select(col("mo"), expr("(cc + 50000) DIV 100000").as("c"))
      .localCheckpoint(true) // tiny grid, feeds 3 lag joins
    val lags = (1 to 3).map { l =>
      m.as("a").join(m.as("b"),
          col("b.mo") === add_months(col("a.mo"), -l))
        .select(lit(l).as("lg"), col("a.c").as("x"), col("b.c").as("y"))
    }.reduce(_.unionAll(_))
    lags.groupBy("lg")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("lg"), col("n"), round(
        (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
            (col("n") * col("syy") - col("sy") * col("sy")).cast("double")),
        6).as("r"))
      .orderBy("lg")
  }

  /** Deterministic 3-step random walks from the low-id customer nodes:
    * at each step the walker moves to the neighbor with the smallest
    * md5(seed-tagged step key) — hash-derandomized node2vec-style
    * sampling (the [[Sampling]] md5 discipline applied to graph
    * traversal), so walks are reproducible across runs, partitionings,
    * and engines. Each step is one equi-join of the O(seeds) frontier
    * against the edge list + a min-struct argmin — never a cartesian. */
  private[queries] val qRandomWalk: Q = (s, sf) => {
    val e = tradeEdges(s, sf).localCheckpoint(true) // 3 step joins
    def step(fr: DataFrame, carried: Seq[String], i: Int): DataFrame = {
      val prev = carried.last
      val h = md5(concat_ws(":", lit("rw"), lit(i),
        col(prev).cast("string"), col("d").cast("string")))
      fr.join(e, col(prev) === col("s"))
        .groupBy(carried.map(col): _*)
        .agg(min(struct(h.as("h"), col("d").as("d"))).as("m"))
        .select(carried.map(col) :+ col("m.d").as(s"n$i"): _*)
    }
    val seeds = e.select(col("s").as("seed")).distinct()
      .filter(col("seed") % 2 === 0 && col("seed") < 200)
    val s1 = step(seeds, Seq("seed"), 1)
    val s2 = step(s1, Seq("seed", "n1"), 2)
    step(s2, Seq("seed", "n1", "n2"), 3)
      .orderBy("seed")
  }

  /** Deterministic per-group mode (most frequent event_type per user,
    * smallest value on count ties): the grouped argmax spelled as a
    * shared-window row_number so both engines resolve ties identically —
    * mode() builtins are tie-UNDEFINED in both Spark and DuckDB. */
  private[queries] val qMode: Q = (s, sf) => {
    val c = t(s, sf, "events").groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("n").desc, col("event_type"))
    c.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("modal"), col("n"))
      .orderBy("user_id").limit(100)
  }

  /** Gaps-and-islands over each user's event-id sequence: island id =
    * event_id − row_number() (constant within a consecutive run, the
    * classic integer trick — no self-join, one per-user window), then
    * two aggregates up: per-island lengths, per-user island stats. */
  private[queries] val qGapsIslands: Q = (s, sf) => {
    val w = Window.partitionBy("user_id").orderBy("event_id")
    t(s, sf, "events")
      .select(col("user_id"), col("event_id"))
      .withColumn("isl", col("event_id") - row_number().over(w))
      .groupBy("user_id", "isl").agg(count(lit(1)).as("sz"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("islands"), max("sz").as("longest"),
        sum("sz").as("n"))
      .orderBy("user_id").limit(100)
  }

  /** Interval coalescing (merge overlapping per-user intervals — the
    * union-of-time-ranges operator behind billing/visit dedup): interval
    * = [ts, ts + value seconds) in integer µs; a row OPENS a new merged
    * interval iff its start exceeds the running max end of all earlier
    * rows (per-user window, exact int64), merged-interval id = running
    * sum of the open flags, then one aggregate per merged interval and
    * one per user. Sort is per user, never global. */
  private[queries] val qIntervalCoalesce: Q = (s, sf) => {
    val e = t(s, sf, "events").select(col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("st"),
      (unix_micros(col("ts")) +
        (round(col("value") * 1000).cast("long") * 1000)).as("en"))
    val ord = Window.partitionBy("user_id").orderBy("st", "event_id")
    val open = when(col("pmax").isNull || col("st") > col("pmax"), 1L)
      .otherwise(0L)
    e.withColumn("pmax", max("en").over(
        ord.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("grp", sum(open).over(
        ord.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "grp")
      .agg(min("st").as("ms"), max("en").as("me"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("merged"),
        sum(col("me") - col("ms")).as("covered_us"))
      .orderBy("user_id").limit(100)
  }

  /** Per-language OLS fit of n_chars on token count (the grouped
    * regression operator — per-segment trend lines in one pass): both
    * regressors are integers, so all five moment sums are exact int64
    * partial aggregates; slope/intercept are the only doubles and use
    * one shared spelling. */
  private[queries] val qGroupedRegression: Q = (s, sf) => {
    val d = t(s, sf, "documents").select(col("lang"),
      size(split(col("text"), " ")).cast("long").as("x"),
      col("n_chars").cast("long").as("y"))
    d.groupBy("lang")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("lang"), col("n"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"), 6)
          .as("slope"),
        round((col("sy") - (col("n") * col("sxy") - col("sx") * col("sy"))
          .cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
          col("sx")) / col("n"), 4).as("icept"))
      .orderBy("lang")
  }

  /** Population stability index (the model-monitoring drift gate,
    * completing the drift family: KL = q_drift, JSD, KS): click
    * distribution vs all-other events over floor-quantized value bins,
    * PSI = Σ (p_a − p_e)·ln(p_a / p_e) over bins where both sides have
    * mass. Counts aggregate exactly; doubles appear only in the shared
    * final formula (the q_drift posture); state is O(bins). */
  private[queries] val qPsi: Q = (s, sf) => {
    val ev = t(s, sf, "events").select(col("event_type"),
      floor(col("value")).cast("long").as("g"))
    val a = ev.filter(col("event_type") === "click")
      .groupBy("g").agg(count(lit(1)).as("na"))
    val b = ev.filter(col("event_type") =!= "click")
      .groupBy("g").agg(count(lit(1)).as("nb"))
    val tot = a.join(b, "g")
      .agg(sum("na").as("ta"), sum("nb").as("tb"))
    a.join(b, "g").crossJoin(broadcast(tot))
      // terms quantize to integer nano-units before the distributed sum
      // (the jsDivergencePairs/tokenEntropy discipline): a float SUM is
      // partition-order-dependent; the int64 sum is bit-stable
      .select(floor((((col("na") / col("ta")) - (col("nb") / col("tb"))) *
        log((col("na") / col("ta")) / (col("nb") / col("tb")))) * 1e9 + 0.5)
        .cast("long").as("tq"))
      .agg(round(sum("tq").cast("double") / 1e9, 4).as("psi"))
  }

  /** Inline VALUES dimension (the literal lookup-table join every BI
    * query uses for label/priority maps): a 5-row literal frame joined
    * broadcast onto orders — never a shuffle for the dimension. Revenue
    * sums in integer cents (the q_decimal discipline): a distributed
    * double sum is partition-order-dependent; the int64 sum is bit-stable
    * by construction, divided back to dollars once at the end. */
  private[queries] val qValuesJoin: Q = (s, sf) => {
    import s.implicits._
    val sla = Seq(("1-URGENT", 1), ("2-HIGH", 3), ("3-MEDIUM", 7),
      ("4-NOT SPECIFIED", 14), ("5-LOW", 30)).toDF("pri", "sla_days")
    t(s, sf, "orders").join(broadcast(sla),
        col("o_orderpriority") === col("pri"))
      .groupBy("sla_days")
      .agg(count(lit(1)).as("n"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      .select(col("sla_days"), col("n"),
        (col("cents").cast("double") / 100).as("rev"))
      .orderBy("sla_days")
  }

  /** Forward as-of join: each error event attaches the NEXT view event
    * of the same user (the recovery-time pairing) — [[AsOfJoin.asOf]]
    * with direction="forward", the time-flipped mirror of q_join_asof's
    * backward union+window plan (one shuffle by key, no range join). */
  private[queries] val qAsofFwd: Q = (s, sf) => {
    val ev = t(s, sf, "events")
    val err = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts"), col("event_id"))
    val view = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("vk"), col("ts").as("vts"),
        col("event_id").as("vid"))
    AsOfJoin.asOf(err, view, "user_id", "vk", "ts", "vts",
        carry = Seq("vid"), direction = "forward")
      .select(col("event_id"), col("user_id"), col("asof_vid"))
      .orderBy("event_id").limit(100)
  }

  /** Deterministic span-corruption plan (T5-style masking, planned as
    * data): each document with >8 tokens gets ⌊tokens/40⌋ mask spans,
    * span i starting at md5(doc,i) mod (tokens−8) — the [[Sampling]]
    * hash discipline, so the plan is reproducible across engines and
    * retries. One explode of a per-doc integer sequence, no UDFs. */
  private[queries] val qSpanMask: Q = (s, sf) => {
    val d = t(s, sf, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("tk"))
      .filter(col("tk") > lit(48))
      .withColumn("nspans", expr("tk DIV 40"))
    d.select(col("doc_id"), col("tk"), col("nspans"),
        explode(sequence(lit(0L), col("nspans") - 1)).as("i"))
      .withColumn("h", conv(substring(md5(concat_ws(":",
        lit("span"), col("doc_id"), col("i"))), 1, 15), 16, 10).cast("long"))
      .withColumn("st", pmod(col("h"), col("tk") - 8))
      .groupBy("doc_id", "tk", "nspans")
      .agg(sum("st").as("chk"), min("st").as("mn"),
        max("st").as("mx"))
      .orderBy("doc_id").limit(100)
  }

  /** Two-proportion A/B z-test on click-through (users split by id
    * parity — the deterministic assignment of [[qSplitAssign]]): exact
    * integer counts per arm, the pooled-variance z only at the end with
    * one shared spelling. The experiment readout every product team
    * runs; at any scale it is two partial-agg passes. */
  /** 1-row (na, ka, nb, kb) arm/click counts shared by [[qAbtest]] and
    * [[qOddsRatio]] — one definition of the arms (id parity) and the
    * outcome (click), so the z-test and its effect-size companion can
    * never silently disagree about the experiment. */
  private def armCounts(s: SparkSession, sf: String): DataFrame = {
    val e = t(s, sf, "events").select(
      (col("user_id") % 2 === 0).as("arma"),
      (col("event_type") === "click").cast("long").as("clk"))
    e.groupBy("arma")
      .agg(count(lit(1)).as("n"), sum("clk").as("k"))
      .agg(
        sum(when(col("arma"), col("n"))).as("na"),
        sum(when(col("arma"), col("k"))).as("ka"),
        sum(when(!col("arma"), col("n"))).as("nb"),
        sum(when(!col("arma"), col("k"))).as("kb"))
  }

  private[queries] val qAbtest: Q = (s, sf) =>
    armCounts(s, sf)
      .select(col("na"), col("nb"),
        round(col("ka") / col("na").cast("double"), 6).as("pa"),
        round(col("kb") / col("nb").cast("double"), 6).as("pb"),
        round((col("ka") / col("na").cast("double") -
          col("kb") / col("nb").cast("double")) /
          sqrt(((col("ka") + col("kb")) / (col("na") + col("nb"))
            .cast("double")) *
            (lit(1.0) - (col("ka") + col("kb")) / (col("na") + col("nb"))
              .cast("double")) *
            (lit(1.0) / col("na") + lit(1.0) / col("nb"))), 4).as("z"))

  /** Gini coefficient of customer revenue — the inequality audit:
    * G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx) over ascending-sorted
    * per-customer DOLLAR totals (integer (c+50) DIV 100, so every sum is
    * exact int64 and ties contribute identically under any tie order).
    * The rank comes from [[Rank.rowNumbered]] — the two-pass distributed
    * rank (per-partition counts + offset join) over the per-customer
    * entity grain; the formula is unchanged. */
  private[queries] val qGini: Q = (s, sf) => {
    val sp = t(s, sf, "orders").groupBy("o_custkey")
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cc"))
      .select(col("o_custkey"), expr("(cc + 50) DIV 100").as("x"))
    Rank.rowNumbered(sp, Seq(col("x"), col("o_custkey")), rankCol = "i")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum(col("i") * col("x")).as("six"))
      .select(col("n"), round(
        (lit(2) * col("six") - (col("n") + 1) * col("sx")).cast("double") /
          (col("n") * col("sx")).cast("double"), 6).as("gini"))
  }

  /** Rank-biased overlap (Webber '10, p = 0.9, depth 20) between the
    * supplier ranking by revenue and by shipment count — the rank-list
    * comparison metric that weights the head. Both rankings are bounded
    * windows over the per-supplier aggregate; an item pair's first
    * common depth is max(r_rev, r_cnt), so overlap@d is one cumulative
    * count — the whole metric runs on a ≤20-row grid. */
  private[queries] val qRbo: Q = (s, sf) => {
    val li = t(s, sf, "lineitem").groupBy("l_suppkey")
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("rev"),
        count(lit(1)).as("cnt"))
      .localCheckpoint(true) // two ranking consumers
    // top-20 via TakeOrdered (distributed selection), THEN the rank
    // window over the 20-row result — the window never sees the full
    // per-supplier frame, so no single-task barrier at any scale
    def top20(by: Column, tie: Column, as: String) =
      li.orderBy(by.desc, tie).limit(20)
        .withColumn(as, row_number().over(Window.orderBy(by.desc, tie)))
    val byRev = top20(col("rev"), col("l_suppkey"), "ra")
    val byCnt = top20(col("cnt"), col("l_suppkey"), "rb")
    val both = byRev.select("l_suppkey", "ra")
      .join(byCnt.select("l_suppkey", "rb"), "l_suppkey")
      .select(greatest(col("ra"), col("rb")).as("m"))
    val grid = s.range(1, 21).select(col("id").cast("int").as("d"))
    grid.join(broadcast(both), col("m") <= col("d"))
      .groupBy("d").agg(count(lit(1)).as("xd"))
      .agg(round(sum(lit(0.1) * pow(lit(0.9), col("d") - 1) *
        col("xd") / col("d")), 4).as("rbo"),
        max(when(col("d") === 20, col("xd"))).as("overlap20"))
  }

  /** Day-of-week revenue profile (Monday=0): share and index vs the
    * uniform week — the seasonality fingerprint. Integer-cents sums;
    * broadcast total; doubles only in the two shared ratios. */
  private[queries] val qDowProfile: Q = (s, sf) => {
    val d = t(s, sf, "orders")
      .groupBy(weekday(col("o_orderdate")).as("dow"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("c"))
    d.crossJoin(broadcast(d.agg(sum("c").as("tc"))))
      .select(col("dow"), round(col("c") / col("tc").cast("double"), 6)
        .as("shr"),
        round(lit(7.0) * col("c") / col("tc").cast("double"), 4).as("idx"))
      .orderBy("dow")
  }

  /** Cramér's V association between customer nation and market segment —
    * the categorical-dependence screen (chi² over the bounded 25×5
    * contingency grid, then V = √(χ²/(n·min(r−1,c−1)))). Observed and
    * marginal counts are exact; expected frequencies and χ² are doubles
    * on the tiny grid only. */
  private[queries] val qCramersV: Q = (s, sf) => {
    val c = t(s, sf, "customer")
    val obs = c.groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("o")).localCheckpoint(true)
    val rm = obs.groupBy("c_nationkey").agg(sum("o").as("rn"))
    val cm = obs.groupBy("c_mktsegment").agg(sum("o").as("cn"))
    val tot = obs.agg(sum("o").as("n"),
      countDistinct("c_nationkey").as("r"),
      countDistinct("c_mktsegment").as("k"))
    obs.join(broadcast(rm), "c_nationkey")
      .join(broadcast(cm), "c_mktsegment")
      .crossJoin(broadcast(tot))
      // nano-unit quantized χ² terms (the jsDivergencePairs discipline):
      // the int64 sum is partition-order-stable where a float sum is not
      .select(col("n"), col("r"), col("k"),
        floor(((col("o") - col("rn") * col("cn") / col("n").cast("double")) *
          (col("o") - col("rn") * col("cn") / col("n").cast("double")) /
          (col("rn") * col("cn") / col("n").cast("double"))) * 1e9 + 0.5)
          .cast("long").as("tq"))
      .groupBy("n", "r", "k")
      .agg((sum("tq").cast("double") / 1e9).as("chi2"))
      .select(round(col("chi2"), 4).as("chi2"),
        round(sqrt(col("chi2") /
          (col("n") * least(col("r") - 1, col("k") - 1)).cast("double")), 6)
          .as("v"))
  }

  /** Exact median WITHOUT a global sort — the distributed selection
    * algorithm (2-pass grid partition select): pass 1 counts per
    * floor(value) bin (bounded grid), a window over the GRID locates the
    * bin holding the k-th value and how many precede it; pass 2 sorts
    * ONLY that one bin's sliver for the offset. The oracle brute-forces
    * the same k-th element by full sort — different algorithm, same
    * answer. Lower median ((n+1) DIV 2, event_id tie-break) so the
    * selected element is unique and engine-independent. */
  private[queries] val qExactMedian: Q = (s, sf) => {
    val e = t(s, sf, "events").select(col("value").as("v"), col("event_id"))
      .localCheckpoint(true) // grid agg + total count + bin filter
    val grid = e.groupBy(floor(col("v")).cast("long").as("g"))
      .agg(count(lit(1)).as("c"))
    val wg = Window.orderBy("g").rowsBetween(Window.unboundedPreceding, 0)
    val cum = grid.withColumn("cum", sum("c").over(wg))
      .crossJoin(broadcast(e.agg(count(lit(1)).as("n"),
        ((count(lit(1)) + 1) / 2).cast("long").as("k"))))
    val mbin = cum.filter(col("cum") >= col("k"))
      .orderBy("g").limit(1)
      .select(col("g"), (col("cum") - col("c")).as("prev"),
        col("n"), col("k"))
    // pass 2 ranks ONLY the selected bin's sliver — and even that rank is
    // the two-pass distributed one ([[Rank.rowNumbered]]): a hot bin can
    // hold billions of rows at 100 TB, so no single-task window here either
    val sliver = e.join(broadcast(mbin),
      floor(col("v")).cast("long") === col("g"))
    Rank.rowNumbered(sliver, Seq(col("v"), col("event_id")), rankCol = "rn")
      .filter(col("rn") === col("k") - col("prev"))
      .select(col("n"), round(col("v"), 2).as("median"))
  }

  /** Duplicate-payment audit (same customer, same $10k price band,
    * ≤90 days apart — the AP near-duplicate screen; exact-cents equality
    * on this corpus is vacuous, every total is unique, so the band is
    * what makes the check able to fire AND able to fail): the pair join
    * is EQUI on (customer, integer band) so candidates only form inside
    * same-band groups; the date window is a residual filter. Never
    * cartesian at any scale. */
  private[queries] val qDupPayments: Q = (s, sf) => {
    val o = t(s, sf, "orders").select(col("o_orderkey").as("ok"),
      col("o_custkey").as("ck"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT) DIV 1000000").as("c"),
      col("o_orderdate").cast("date").as("d"))
    o.as("a").join(o.as("b"),
        col("a.ck") === col("b.ck") && col("a.c") === col("b.c") &&
          col("a.ok") < col("b.ok") &&
          abs(datediff(col("b.d"), col("a.d"))) <= 90)
      .agg(count(lit(1)).as("pairs"),
        sum(col("a.ok") + col("b.ok")).as("chk"),
        countDistinct(col("a.ck")).as("custs"))
  }

  /** Cumulative unique users by day (the growth chart's north-star
    * line): distinct-accumulation via each user's FIRST day — one
    * per-user min, one per-day count, one window over the bounded day
    * grid. The naive per-day COUNT(DISTINCT ... WHERE ts <= day) rescans
    * the corpus per day; this is linear + O(days) state. */
  private[queries] val qCumUniques: Q = (s, sf) => {
    val f = t(s, sf, "events")
      .groupBy("user_id").agg(min(to_date(col("ts"))).as("d0"))
    val daily = f.groupBy("d0").agg(count(lit(1)).as("nu"))
    daily.withColumn("cum_users", sum("nu").over(
        Window.orderBy("d0").rowsBetween(Window.unboundedPreceding, 0)))
      .orderBy("d0")
  }

  /** Lorenz-curve deciles of customer revenue (the distribution table
    * behind [[qGini]]'s scalar): ntile(10) over ascending integer
    * dollars — per-decile count, mass, and share. Deciles come from
    * [[Rank.ntiled]] (two-pass distributed ntile over the per-customer
    * entity grain — value-identical to the window form, no
    * single-partition barrier), which also carries the grand total, so
    * the share denominator costs no second pass. Both engines assign
    * ntile remainders to the leading buckets identically given the same
    * total order. */
  private[queries] val qLorenz: Q = (s, sf) => {
    val sp = t(s, sf, "orders").groupBy("o_custkey")
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cc"))
      .select(col("o_custkey"), expr("(cc + 50) DIV 100").as("x"))
    Rank.ntiled(sp, Seq(col("x"), col("o_custkey")), 10, "dc",
        sumOf = Some("x"), totCol = "tot")
      .groupBy("dc")
      .agg(count(lit(1)).as("n"), sum("x").as("mass"), max("tot").as("t"))
      .select(col("dc"), col("n"), col("mass"),
        round(col("mass") / col("t").cast("double"), 6).as("mshare"))
      .orderBy("dc")
  }

  /** HITS hubs/authorities (Kleinberg '99), 2 UNNORMALIZED integer
    * rounds on the directed customer→supplier graph: a₁ = indegree,
    * h₁ = Σ_out a₁, a₂ = Σ_in h₁ — every score is an exact int64 (2
    * rounds bound scores by deg⁴ ≪ 2⁶³; normalization is what needs
    * floats, and rounds-as-semantic is what makes it oracle-able, the
    * [[qPagerank]] posture). Top-20 authorities with their scores. Per
    * round one equi join + one partial agg — the pagerank shuffle shape. */
  private[queries] val qHits: Q = (s, sf) => {
    val e = t(s, sf, "orders")
      .join(t(s, sf, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("u"), (col("l_suppkey") * 2 + 1).as("v"))
      .distinct().localCheckpoint(true)
    val a1 = e.groupBy("v").agg(count(lit(1)).as("a1"))
    val h1 = e.join(a1, "v").groupBy("u").agg(sum("a1").as("h1"))
    val a2 = e.join(h1, "u").groupBy("v").agg(sum("h1").as("a2"))
    a2.orderBy(col("a2").desc, col("v")).limit(20)
  }

  /** Weighted median of line-item quantity, weighted by integer revenue
    * cents — the robust center under value weighting (plain median
    * ignores that a 10-unit line carries 10× the business mass). The
    * quantity domain is a BOUNDED grid, so the cumulative-weight scan is
    * a window over ≤50 grid rows after one partial agg: selection
    * without sorting the facts, exact int64 throughout. */
  private[queries] val qWeightedMedian: Q = (s, sf) => {
    val g = t(s, sf, "lineitem")
      .groupBy(col("l_quantity").cast("long").as("q"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("w"))
      .localCheckpoint(true) // cumulative branch + total branch
    val wg = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, 0)
    g.withColumn("cum", sum("w").over(wg))
      .crossJoin(broadcast(g.agg(sum("w").as("tw"))))
      .filter(col("cum") * 2 >= col("tw"))
      .orderBy("q").limit(1)
      .select(col("q").as("wmedian"), col("cum"), col("tw"))
  }

  /** Nation revenue rank change 1996→1997 (the market-share movers
    * report): two bounded ranking windows over the per-nation-year
    * aggregate, joined on nation — rank deltas in one pass over facts.
    * Integer cents; ranks total-ordered by (revenue desc, nation). */
  private[queries] val qRankChange: Q = (s, sf) => {
    val r = t(s, sf, "orders")
      .join(t(s, sf, "customer"), col("o_custkey") === col("c_custkey"))
      .filter(year(col("o_orderdate")).between(1996, 1997))
      .groupBy(col("c_nationkey").as("nk"), year(col("o_orderdate")).as("yr"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("c"))
      .localCheckpoint(true) // two ranking-window consumers
    def ranked(y: Int, as: String) = r.filter(col("yr") === y)
      .withColumn(as, row_number().over(
        Window.orderBy(col("c").desc, col("nk"))))
      .select(col("nk"), col(as))
    ranked(1996, "r96").join(ranked(1997, "r97"), "nk")
      .select(col("nk"), col("r96"), col("r97"),
        (col("r96") - col("r97")).as("delta"))
      .orderBy("nk")
  }

  /** New vs returning revenue split by month — the acquisition/retention
    * board: each order classifies by whether its month is the customer's
    * FIRST order month (one per-customer min, broadcast-joined back;
    * facts never self-join). Integer cents. */
  private[queries] val qNewVsReturning: Q = (s, sf) => {
    val o = t(s, sf, "orders").select(col("o_custkey"),
      date_trunc("month", col("o_orderdate")).cast("date").as("mo"),
      round(col("o_totalprice") * 100).cast("long").as("c"))
    val first = o.groupBy("o_custkey").agg(min("mo").as("fm"))
    o.join(first, "o_custkey")
      .groupBy("mo")
      .agg(sum(when(col("mo") === col("fm"), col("c"))
          .otherwise(0L)).as("new_cents"),
        sum(when(col("mo") =!= col("fm"), col("c"))
          .otherwise(0L)).as("ret_cents"),
        sum(when(col("mo") === col("fm"), 1L).otherwise(0L)).as("new_n"),
        sum(when(col("mo") =!= col("fm"), 1L).otherwise(0L)).as("ret_n"))
      .orderBy("mo")
  }

  /** Delete-one-bucket jackknife standard error of the mean order value
    * — the distributed uncertainty estimate (no resampling pass: B=32
    * hash buckets, each leave-one-out mean is algebra over the SAME
    * per-bucket partial sums a single aggregate produces). Sums are
    * exact integer cents; only the B-term SE formula is double. */
  private[queries] val qJackknife: Q = (s, sf) => {
    val o = t(s, sf, "orders").select(
      pmod(conv(substring(md5(concat_ws(":", lit("jk"), col("o_orderkey"))),
        1, 15), 16, 10).cast("long"), lit(32L)).as("b"),
      round(col("o_totalprice") * 100).cast("long").as("c"))
    val bk = o.groupBy("b").agg(sum("c").as("sb"), count(lit(1)).as("nb"))
    val tot = bk.agg(sum("sb").as("st"), sum("nb").as("nt"),
      count(lit(1)).as("bn"))
    // leave-one-out means quantize to integer MILLI-cents before the
    // B-term sums (the q_psi discipline — Σm² ≈ 2e16 exceeds a double's
    // exact-integer range, so a float spelling loses ~7 digits to
    // cancellation AND is partition-order dependent); the squared sum
    // rides in decimal(38,0), DuckDB mirrors with HUGEINT
    val lom = bk.crossJoin(broadcast(tot))
      .select(floor((col("st") - col("sb")).cast("double") /
          (col("nt") - col("nb")) * 1000 + 0.5).cast("long").as("mq"),
        col("bn"), col("nt"), col("st"))
    lom.groupBy("bn", "nt", "st")
      .agg(sum("mq").as("sm"),
        // decimal BEFORE the multiply: mq ~ 2.5e10 milli-cents, so the
        // int64 product itself wraps (DuckDB widens BIGINT×BIGINT to
        // HUGEINT automatically; Spark needs the explicit promotion)
        sum(col("mq").cast("decimal(38,0)") * col("mq")).as("smm"))
      .select(col("nt").as("n"),
        round(col("st").cast("double") / col("nt") / 100.0, 4).as("mean"),
        round(sqrt(((col("bn") - 1) / col("bn").cast("double")) *
          (col("smm").cast("double") -
            col("sm").cast("double") * col("sm") / col("bn"))) / 100000.0, 4)
          .as("se_jk"))
  }

  /** Capture–recapture population estimate (Chapman '51): the number of
    * DISTINCT active users inferred from two event-type "captures"
    * (click vs purchase) — the estimator ops teams use to size a
    * population neither capture covers fully. Exact distinct counts;
    * one shared double formula. */
  private[queries] val qCaptureRecapture: Q = (s, sf) => {
    val e = t(s, sf, "events")
    // capture = "seen >= 10 times": plain distinct-per-type is degenerate
    // on this corpus (every user has every type, na = nb = m and the
    // estimator collapses to the identity); the threshold makes the
    // overlap PARTIAL so the formula's distinguishing term is exercised
    def capture(ty: String) = e.filter(col("event_type") === ty)
      .groupBy("user_id").agg(count(lit(1)).as("k"))
      .filter(col("k") >= 10).select("user_id")
    val a = capture("click")
    val b = capture("purchase")
    val m = a.join(b, "user_id")
    a.agg(count(lit(1)).as("na"))
      .crossJoin(broadcast(b.agg(count(lit(1)).as("nb"))))
      .crossJoin(broadcast(m.agg(count(lit(1)).as("m"))))
      .select(col("na"), col("nb"), col("m"),
        round((col("na") + 1) * (col("nb") + 1) /
          (col("m") + 1).cast("double") - 1, 2).as("n_hat"))
  }

  /** Mutual information between customer nation and market segment —
    * completes the dependence family (χ²/Cramér's V = effect size, MI =
    * information). Same bounded contingency grid as [[qCramersV]];
    * p·ln(p/(pᵢpⱼ)) terms quantize to integer nano-units before the sum
    * (the [[qPsi]] discipline). */
  private[queries] val qMutualInfo: Q = (s, sf) => {
    val obs = t(s, sf, "customer")
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("o")).localCheckpoint(true)
    val rm = obs.groupBy("c_nationkey").agg(sum("o").as("rn"))
    val cm = obs.groupBy("c_mktsegment").agg(sum("o").as("cn"))
    val tot = obs.agg(sum("o").as("n"))
    obs.join(broadcast(rm), "c_nationkey")
      .join(broadcast(cm), "c_mktsegment")
      .crossJoin(broadcast(tot))
      .select(floor((col("o") / col("n").cast("double")) *
        log((col("o").cast("double") * col("n")) /
          (col("rn").cast("double") * col("cn"))) * lit(1e9) + 0.5)
        .cast("long").as("tq"))
      .agg(round(sum("tq").cast("double") / 1e9, 6).as("mi_nats"))
  }

  /** Effective sample size of a weight column — the reweighting
    * diagnostic every importance-sampling pipeline (DSIR, temperature
    * mixing) needs: ESS = (Σw)²/Σw² collapses toward 1 when a few rows
    * dominate. Weights quantize to integer milli-units; the squared-sum
    * accumulates in decimal(38,0) (an int64 Σw² would wrap at ~2e9 rows
    * of max-weight data; DuckDB's HUGEINT sum is the same posture). */
  private[queries] val qEss: Q = (s, sf) => {
    val w = t(s, sf, "events")
      .select(round(col("value") * 1000).cast("long").as("w"))
      .filter(col("w") > 0)
    w.agg(count(lit(1)).as("n"), sum("w").as("sw"),
        sum((col("w") * col("w")).cast("decimal(38,0)")).as("sww"))
      .select(col("n"),
        round(col("sw").cast("double") * col("sw") / col("sww"), 2)
          .as("ess"),
        round(col("sw").cast("double") * col("sw") / col("sww") /
          col("n"), 6).as("ess_frac"))
  }

  /** Near-dup threshold sweep (the τ-tuning curve): pair counts at
    * Jaccard ≥ 0.7/0.8/0.9 from ONE pass over the pair set — bucket
    * each pair by floor(jac·10), then a 3-row cumulative over the
    * bucket grid. The curve that picks a dedup threshold without
    * re-running the pair join per candidate τ. */
  private[queries] val qDedupCurve: Q = (s, sf) => {
    val pairs = Dedup.jaccardPairs(
      t(s, sf, "documents").filter(col("doc_id") < 200),
      "doc_id", "lang", "text", 0.7)
    val bk = pairs
      .groupBy(floor(col("jac") * 10).cast("long").as("bk"))
      .agg(count(lit(1)).as("c"))
    val grid = s.range(7, 10).select(col("id").cast("long").as("tau10"))
    grid.join(broadcast(bk), col("bk") >= col("tau10"))
      .groupBy("tau10").agg(sum("c").as("pairs"))
      .orderBy("tau10")
  }

  /** Max concurrent sessions per user (sweep line): each interval
    * [ts, ts+value s) emits +1 at start and −1 at end, a per-user
    * window in (time, delta, id) order — ends sort before starts at the
    * same instant, so touching intervals don't double-count — runs the
    * running occupancy, and its max is the user's peak concurrency.
    * Output = the peak-concurrency histogram (capacity planning). All
    * integer, windows per user, never global. */
  private[queries] val qConcurrency: Q = (s, sf) => {
    val e = t(s, sf, "events").select(col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("st"),
      (unix_micros(col("ts")) +
        round(col("value") * 1000).cast("long") * 1000).as("en"))
    val pts = e.select(col("user_id"), col("st").as("t"), lit(1L).as("d"),
        col("event_id"))
      .unionAll(e.select(col("user_id"), col("en").as("t"),
        lit(-1L).as("d"), col("event_id")))
    val w = Window.partitionBy("user_id").orderBy("t", "d", "event_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    pts.withColumn("occ", sum("d").over(w))
      .groupBy("user_id").agg(max("occ").as("peak"))
      .groupBy("peak").agg(count(lit(1)).as("users"))
      .orderBy("peak")
  }

  /** Order-of-magnitude histogram of order values — the log-scale
    * distribution WITHOUT log: the bucket is the DIGIT COUNT of integer
    * cents (exact, no float log that can misbucket at power-of-10
    * boundaries — the q_benford digit discipline applied to magnitude). */
  private[queries] val qMagnitudeHist: Q = (s, sf) => {
    val c = round(col("o_totalprice") * 100).cast("long")
    t(s, sf, "orders").select(c.as("c")).filter(col("c") > 0)
      .groupBy(length(col("c").cast("string")).as("digits"))
      .agg(count(lit(1)).as("n"), sum("c").as("cents"))
      .orderBy("digits")
  }

  /** Rolling 7-day revenue (the calendar-window trend line): a RANGE
    * frame over the INTEGER day index of the bounded day grid — days
    * with no orders correctly widen the window (a ROWS frame would
    * not), and the window state is O(days), the facts never sort. */
  private[queries] val qRollingRev: Q = (s, sf) => {
    val d = dailyRevenueCents(s, sf)
      .localCheckpoint(true) // window branch + min-day branch
    val d0 = d.agg(min("dy").as("d0"))
    val w = Window.orderBy("di").rangeBetween(-6, 0)
    d.crossJoin(broadcast(d0))
      .withColumn("di", datediff(col("dy"), col("d0")))
      .withColumn("roll7", sum("c").over(w))
      .select(col("dy"), col("c"), col("roll7"))
      .orderBy("dy").limit(400)
  }

  /** Odds ratio + 95% CI for click-through between the id-parity arms —
    * completes the A/B readout ([[qAbtest]] gives the z-test, this the
    * effect size): the OR itself is a ratio of exact integer products;
    * only the Woolf log-SE and CI bounds are doubles, in one shared
    * spelling. */
  private[queries] val qOddsRatio: Q = (s, sf) => {
    val g = armCounts(s, sf)
    val or = (col("ka") * (col("nb") - col("kb"))).cast("double") /
      (col("kb") * (col("na") - col("ka"))).cast("double")
    val se = sqrt(lit(1.0) / col("ka") + lit(1.0) / (col("na") - col("ka")) +
      lit(1.0) / col("kb") + lit(1.0) / (col("nb") - col("kb")))
    g.select(col("ka"), col("na"), col("kb"), col("nb"),
      round(or, 4).as("or_"),
      round(exp(log(or) - lit(1.96) * se), 4).as("ci_lo"),
      round(exp(log(or) + lit(1.96) * se), 4).as("ci_hi"))
  }

  /** Decile lift chart (the campaign-targeting eval beside [[qAuc]] /
    * [[qCalibration]]): users ranked by engagement score (total event
    * value, integer milli-units), outcome = made a purchase; per score
    * decile, response rate vs the overall base rate. Deciles come from
    * [[Rank.ntiled]] — the per-USER aggregate is the largest entity grain
    * in the testdata, exactly where a partition-less ntile window
    * serializes at scale — which also carries the base-rate totals
    * (Σy, n) so no second pass over the user frame. Exact counts, one
    * shared double ratio. */
  private[queries] val qLift: Q = (s, sf) => {
    val u = t(s, sf, "events").groupBy("user_id")
      .agg(sum(round(col("value") * 1000).cast("long")).as("sc"),
        max((col("event_type") === "purchase").cast("long")).as("y"))
    Rank.ntiled(u, Seq(col("sc").desc, col("user_id")), 10, "dc",
        sumOf = Some("y"), totCol = "ty", nCol = "tn")
      .groupBy("dc")
      .agg(count(lit(1)).as("n"), sum("y").as("ny"),
        max("ty").as("ty"), max("tn").as("tn"))
      .select(col("dc"), col("n"), col("ny"),
        round((col("ny") / col("n").cast("double")) /
          (col("ty") / col("tn").cast("double")), 4).as("lift"))
      .orderBy("dc")
  }

  /** Trailing-window revenue anomaly days (the ops alert behind every
    * "revenue spiked" page): a day is anomalous when its k$ total sits
    * more than 2σ above the TRAILING 28-day window (≥14 observed days).
    * The z>2 test is cross-multiplied into A = c·n − Σx > 0 and
    * A² > 4·(n·Σx² − (Σx)²) — ENTIRELY exact int64, so no sqrt/float
    * can flip a day at the boundary; window state is O(days) on the
    * bounded grid (RANGE frame ending 1 PRECEDING: the day never
    * baselines itself). */
  private[queries] val qAnomalyDays: Q = (s, sf) => {
    val d = dailyRevenueCents(s, sf)
      .select(col("dy"), expr("(c + 50000) DIV 100000").as("c"))
    val d0 = d.agg(min("dy").as("d0"))
    val w = Window.orderBy("di").rangeBetween(-28, -1)
    d.crossJoin(broadcast(d0))
      .withColumn("di", datediff(col("dy"), col("d0")))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum("c").over(w))
      .withColumn("sxx", sum(col("c") * col("c")).over(w))
      .filter(col("n") >= 14)
      .select(col("dy"), col("c"),
        (col("c") * col("n") - col("sx")).as("a"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("b"))
      .filter(col("a") > 0 && col("a") * col("a") > lit(4) * col("b"))
      .orderBy("dy").limit(200)
  }

  /** Reach & frequency histogram (the advertising readout): how many
    * users saw 1–5, 6–10, … events — one per-user count, one bounded
    * bucket agg ((n−1) DIV 5, exact). */
  private[queries] val qFreqHist: Q = (s, sf) => {
    val u = t(s, sf, "events").groupBy("user_id")
      .agg(count(lit(1)).as("n"))
    u.groupBy(expr("(n - 1) DIV 5").as("bucket"))
      .agg(count(lit(1)).as("users"), sum("n").as("events"))
      .orderBy("bucket")
  }

  /** Feature-adoption overlap matrix: for each ordered pair of event
    * types, how many users use BOTH — the cross-sell / co-adoption
    * board. The pair join is over the DISTINCT (user, type) frame
    * (≤ users × 5 rows), equi on user, canonical a < b ordering. */
  private[queries] val qAdoptionOverlap: Q = (s, sf) => {
    val ut = t(s, sf, "events")
      .select(col("user_id"), col("event_type")).distinct()
      .localCheckpoint(true) // both sides of the pair join
    ut.as("a").join(ut.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("ta"), col("b.event_type").as("tb"))
      .agg(count(lit(1)).as("both"))
      .orderBy("ta", "tb")
  }

  /** Exponentially-decayed revenue momentum by quarter — a SEQUENTIAL
    * recurrence carry(q) = carry(q−1)·9 DIV 10 + rev(q) that no window
    * frame expresses (each step rescales the accumulated state), spelled
    * as genuine `WITH RECURSIVE` through Spark 4's UnionLoop: the
    * general recursive-SQL surface a migrating user reaches for, beside
    * the engine-loop form ([[operators.Iterate.fixpoint]], which pointer-
    * doubles in O(log n) rounds where row recursion takes n — here the
    * chain is calendar-bounded at ~30 quarters, far under the default
    * 100-level recursion limit, so the row-recursive spelling is the
    * right tool). Per-step state is ONE row equi-joined against the
    * bounded quarter grid; revenue is integer cents and DIV integer
    * division, so every step is bit-stable under any partition order,
    * and a gap quarter would end both engines' chains at the same row.
    * The grid is CHECKPOINTED before the recursion: UnionLoop re-evaluates
    * a referenced view's subplan on every round, and 27 rounds × a full
    * orders scan-and-aggregate is exactly the re-scan amplification that
    * kills row recursion at 100 TB — materialize the bounded frame once
    * (measured here: 7.5 s → 2.9 s at sf0.1; the rest is the ~0.1 s/round
    * fixed UnionLoop scheduling cost, amortized at real per-step volume). */
  private[queries] val qRcteDecay: Q = (s, sf) => {
    val grid = t(s, sf, "orders")
      .groupBy((year(col("o_orderdate")) * 4 + quarter(col("o_orderdate")))
        .cast("long").as("q"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev"))
      .localCheckpoint(true) // scanned once, joined 27 times
    withViews(s, "g_rcte_quarterly" -> grid) { case Seq(g) =>
      s"""WITH RECURSIVE acc(q, carry) AS (
         |  SELECT q, rev FROM $g
         |  WHERE q = (SELECT min(q) FROM $g)
         |  UNION ALL
         |  SELECT g.q, (a.carry * 9) DIV 10 + g.rev
         |  FROM acc a JOIN $g g ON g.q = a.q + 1)
         |SELECT q, CAST(carry AS DOUBLE) / 100 AS decayed
         |FROM acc ORDER BY q""".stripMargin
    }
  }

  /** Min-hop reachability within 3 hops of the low-id seed customers on
    * the trade graph — the SECOND recursive-CTE shape (graph recursion),
    * with the per-step frontier re-deduplicated by a DISTINCT inside the
    * recursive term: each step is then bounded by the NODE count, so the
    * UNION ALL path explosion (degree^depth — the thing that makes naive
    * recursive reachability a scale-killer) cannot happen at any SF.
    * Spark's UnionLoop evaluates the standard working-table semantics
    * (each step sees only the previous step's rows) exactly as DuckDB
    * does, so the per-node min depth is oracle-exact. The engine-loop
    * form of this workload is [[operators.Components.bfsDistances]]
    * (q_bfs); this row pins the user-facing SQL syntax. */
  private[queries] val qRcteReach: Q = (s, sf) =>
    withViews(s, "g_rcte_edges" -> tradeEdges(s, sf)) { case Seq(e) =>
      s"""WITH RECURSIVE reach(node, depth) AS (
         |  SELECT DISTINCT s, CAST(0 AS BIGINT) FROM $e WHERE s < 20
         |  UNION ALL
         |  SELECT DISTINCT e.d, r.depth + 1
         |  FROM reach r JOIN $e e ON e.s = r.node
         |  WHERE r.depth < 3)
         |SELECT node, min(depth) AS depth FROM reach
         |GROUP BY node ORDER BY node""".stripMargin
    }

  /** Mann–Whitney U between the id-parity arms on per-user engagement —
    * the NONPARAMETRIC A/B readout beside [[qAbtest]] (z-test) /
    * [[qOddsRatio]]: no normality assumption, rank-based. Ranking the
    * per-user aggregate is exactly the entity-grain global sort that
    * serializes in a partition-less window, so it runs on
    * [[operators.Rank.rowNumbered]] (two-pass distributed rank); tie
    * groups contribute their EXACT average rank via min(rn)+max(rn) — an
    * integer identity (2·avg over a consecutive run), so the rank sum
    * R2a = Σ ca·(min+max) is bit-stable int64 and only the final z is a
    * double, in one shared spelling with the tie-corrected variance. */
  private[queries] val qMannwhitney: Q = (s, sf) => {
    val u = t(s, sf, "events").groupBy("user_id")
      .agg(sum(round(col("value") * 1000).cast("long")).as("sc"))
      .withColumn("a", (col("user_id") % 2 === 0).cast("long"))
    val g = Rank.rowNumbered(u, Seq(col("sc").asc, col("user_id").asc), "rn")
      .groupBy("sc").agg((min("rn") + max("rn")).as("m2"),
        sum("a").as("ca"), count(lit(1)).as("t"))
    val m = g.agg(sum(col("ca") * col("m2")).as("r2a"),
      sum("ca").as("na"), sum(col("t") - col("ca")).as("nb"),
      sum(col("t") * col("t") * col("t") - col("t")).as("ties"))
    val nn = (col("na") + col("nb")).cast("double")
    val ua = (col("r2a") - col("na") * (col("na") + 1)).cast("double") / 2
    val varU = col("na").cast("double") * col("nb").cast("double") / 12 *
      ((nn + 1) - col("ties").cast("double") / (nn * (nn - 1)))
    m.select(col("na"), col("nb"), ua.as("u_a"),
      round((ua - col("na").cast("double") * col("nb").cast("double") / 2) /
        sqrt(varU), 4).as("z"))
  }

  /** Welch's unequal-variance t-test on per-event value between the arms —
    * completes the A/B family (z-test on rates, U on ranks, t on means):
    * centi-unit integer moments (n, Σv, Σv²; v ≤ 5.7e4 keeps Σv² inside
    * int64 to ~2.9e9 rows — beyond that, swap the moment columns to
    * DECIMAL(38,0) like [[Validate]]'s z-pass) and ONE shared double
    * spelling for mean/variance/t/df, each rounded. */
  private[queries] val qWelch: Q = (s, sf) => {
    val m = t(s, sf, "events").select(
        (col("user_id") % 2 === 0).as("arma"),
        round(col("value") * 100).cast("long").as("v"))
      .groupBy("arma").agg(count(lit(1)).as("n"), sum("v").as("sx"),
        sum(col("v") * col("v")).as("sxx"))
      .agg(sum(when(col("arma"), col("n"))).as("na"),
        sum(when(col("arma"), col("sx"))).as("sxa"),
        sum(when(col("arma"), col("sxx"))).as("sxxa"),
        sum(when(!col("arma"), col("n"))).as("nb"),
        sum(when(!col("arma"), col("sx"))).as("sxb"),
        sum(when(!col("arma"), col("sxx"))).as("sxxb"))
    def mean(sx: Column, n: Column) = sx.cast("double") / n / 100
    def vr(sxx: Column, sx: Column, n: Column) =
      (sxx.cast("double") - sx.cast("double") * sx.cast("double") / n) /
        (n - 1) / 1e4
    val (ma, mb) = (mean(col("sxa"), col("na")), mean(col("sxb"), col("nb")))
    val (va, vb) = (vr(col("sxxa"), col("sxa"), col("na")),
      vr(col("sxxb"), col("sxb"), col("nb")))
    val (qa, qb) = (va / col("na"), vb / col("nb"))
    m.select(col("na"), col("nb"), round(ma, 4).as("mean_a"),
      round(mb, 4).as("mean_b"),
      round((ma - mb) / sqrt(qa + qb), 4).as("t"),
      round((qa + qb) * (qa + qb) /
        (qa * qa / (col("na") - 1) + qb * qb / (col("nb") - 1)), 2).as("df"))
  }

  /** Kaplan–Meier time-to-first-purchase: the survival curve S(t) over
    * hour-grain lifetimes (first event → first purchase; users with no
    * purchase are right-censored at the observation horizon). Per-user
    * scan → bounded hour-grid aggregate (≤ calendar span, the qKs
    * posture: window state O(grid), facts never sort); the product
    * Π(1−dᵢ/nᵢ) is a running SUM of 1e-9-quantized log factors (int64,
    * partition-order-independent — the qPsi discipline), exponentiated
    * once; a factor of exactly zero (everyone at risk dies) is capped at
    * ln→−90 so ANSI mode never sees log(0) and S rounds to 0 in both
    * engines. Lifetimes use floor-second epochs DIV 3600 — the one hour
    * arithmetic Spark's long cast and DuckDB's date_diff('second') agree
    * on exactly. */
  private[queries] val qSurvival: Q = (s, sf) => {
    val e = t(s, sf, "events")
    val per = e.groupBy("user_id").agg(min(col("ts")).as("t0"),
      min(when(col("event_type") === "purchase", col("ts"))).as("tp"))
    val u = per.crossJoin(broadcast(e.agg(max(col("ts")).as("hz"))))
      .select(when(col("tp").isNotNull, 1L).otherwise(0L).as("d"),
        (when(col("tp").isNotNull, col("tp").cast("long"))
          .otherwise(col("hz").cast("long")) - col("t0").cast("long"))
          .as("secs"))
      .select(col("d"), expr("secs DIV 3600").as("lt"))
      .localCheckpoint(true) // grid + total share it
    val g = u.groupBy("lt")
      .agg(sum("d").as("d"), sum(lit(1L) - col("d")).as("c"))
    val prevW = Window.orderBy("lt").rowsBetween(Window.unboundedPreceding, -1)
    val cumW = Window.orderBy("lt")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.crossJoin(broadcast(u.agg(count(lit(1)).as("nn"))))
      .withColumn("n_risk",
        col("nn") - coalesce(sum(col("d") + col("c")).over(prevW), lit(0L)))
      .withColumn("q", when(col("n_risk") === col("d"), lit(-90000000000L))
        .otherwise(floor(log((col("n_risk") - col("d")).cast("double") /
          col("n_risk").cast("double")) * 1e9 + 0.5).cast("long")))
      .withColumn("qs", sum("q").over(cumW))
      .filter(col("d") > 0)
      .select(col("lt"), col("n_risk"), col("d"),
        round(exp(col("qs").cast("double") / 1e9), 4).as("surv"))
      .orderBy("lt")
  }

  /** Association rules over per-user event-type adoption — the metric
    * layer on [[qAdoptionOverlap]]'s pair counts: support, directional
    * confidence, and lift per unordered type pair. The pair join runs on
    * the DISTINCT (user, type) frame (≤ users × 5 rows) equi on user;
    * the 5-row type-total dimension and the 1-row user total attach
    * broadcast. Counts exact; the three ratios are shared double
    * spellings, rounded. */
  private[queries] val qAssocRules: Q = (s, sf) => {
    val ut = t(s, sf, "events")
      .select(col("user_id"), col("event_type")).distinct()
      .localCheckpoint(true) // pair join sides + totals share it
    val tc = ut.groupBy("event_type").agg(count(lit(1)).as("cnt"))
    val pairs = ut.as("x").join(ut.as("y"),
        col("x.user_id") === col("y.user_id") &&
          col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("ta"), col("y.event_type").as("tb"))
      .agg(count(lit(1)).as("nboth"))
    pairs
      .join(broadcast(tc.select(col("event_type").as("ta"),
        col("cnt").as("ca"))), "ta")
      .join(broadcast(tc.select(col("event_type").as("tb"),
        col("cnt").as("cb"))), "tb")
      .crossJoin(broadcast(ut.select("user_id").distinct()
        .agg(count(lit(1)).as("nn"))))
      .select(col("ta"), col("tb"), col("nboth"), col("ca"), col("cb"),
        round(col("nboth") / col("nn").cast("double"), 4).as("supp"),
        round(col("nboth") / col("ca").cast("double"), 4).as("conf"),
        round(col("nboth").cast("double") * col("nn") /
          (col("ca").cast("double") * col("cb")), 4).as("lift"))
      .orderBy("ta", "tb")
  }

  /** Spearman rank correlation between per-customer order count and total
    * spend (do frequent buyers spend more?). Both metrics are ranked
    * globally on the distributed two-pass [[Rank.rowNumbered]] — the
    * entity-grain global sort it exists for; a partition-less window here
    * would serialize every customer into one task. Ties collapse to
    * average ranks via the min(rn)+max(rn) = 2·avg-rank identity
    * (the q_mannwhitney idiom), attached by a window PARTITIONED by the
    * tied value — hash-distributed, no broadcast of a value table that at
    * scale is nearly as large as the frame itself. Doubled ranks keep all
    * five moments integral; they are summed as decimal(38,0) because
    * n·(2n)² passes int64 around n≈2²¹ — far below 100 TB's customer
    * count — and only the final ratio is a double, rounded where both
    * engines agree bit-for-bit on exact integer inputs. */
  private[queries] val qSpearman: Q = (s, sf) => {
    val f = t(s, sf, "orders").groupBy(col("o_custkey").as("c"))
      .agg(count(lit(1)).as("x"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("y"))
    val rx = Rank.rowNumbered(f, Seq(col("x").asc, col("c").asc), "rnx")
    val rxy = Rank.rowNumbered(rx, Seq(col("y").asc, col("c").asc), "rny")
    val wx = Window.partitionBy("x")
    val wy = Window.partitionBy("y")
    def dec(c: Column) = c.cast("decimal(38,0)")
    val j = rxy
      .withColumn("a", min("rnx").over(wx) + max("rnx").over(wx))
      .withColumn("b", min("rny").over(wy) + max("rny").over(wy))
    j.agg(count(lit(1)).as("n"), sum(dec(col("a"))).as("s1"),
        sum(dec(col("b"))).as("s2"),
        sum(dec(col("a")) * dec(col("b"))).as("sab"),
        sum(dec(col("a")) * dec(col("a"))).as("saa"),
        sum(dec(col("b")) * dec(col("b"))).as("sbb"))
      .select(col("n"),
        round((dec(col("n")) * col("sab") - col("s1") * col("s2"))
            .cast("double") /
          sqrt((dec(col("n")) * col("saa") - col("s1") * col("s1"))
              .cast("double") *
            (dec(col("n")) * col("sbb") - col("s2") * col("s2"))
              .cast("double")), 4).as("rho"))
  }

  /** Herfindahl–Hirschman market-concentration index: each customer's
    * share of their market segment's revenue, squared and summed per
    * segment (the antitrust HHI, here on a 0–1 scale). Revenue is integer
    * cents end-to-end; the sum of squared cents runs in decimal(38,0)
    * (a single customer's cents² ≈ 10¹⁴ — int64 dies within ~10⁴
    * customers) and each segment's total stays int64 (safe to ~10¹⁸
    * total cents ≈ $10 quadrillion). One equi-join orders→customer, two
    * hash aggregates — every stage map-side partial, no window at all. */
  private[queries] val qHhi: Q = (s, sf) => {
    val cust = t(s, sf, "customer")
      .select(col("c_custkey"), col("c_mktsegment").as("seg"))
    val per = t(s, sf, "orders")
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy("seg", "o_custkey")
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
    per.groupBy("seg")
      .agg(count(lit(1)).as("n_firms"), sum("cents").as("tc"),
        sum(col("cents").cast("decimal(38,0)") *
          col("cents").cast("decimal(38,0)")).as("ssq"),
        max("cents").as("mx"))
      .select(col("seg"), col("n_firms"),
        round(col("ssq").cast("double") /
          (col("tc").cast("double") * col("tc").cast("double")), 6)
          .as("hhi"),
        round(col("mx").cast("double") / col("tc").cast("double"), 6)
          .as("top_share"))
      .orderBy("seg")
  }

  /** Nearest-neighbor as-of join (pandas merge_asof direction="nearest"):
    * each error event pairs with the view event closest in time EITHER
    * side, ties to the earlier one. Composed from the two directional
    * [[AsOfJoin.asOf]] passes (backward = q_join_asof's plan, forward =
    * q_asof_fwd's flipped axis) joined on the unique left key — two
    * per-user window shuffles plus one equi-join, no range join anywhere.
    * The matched timestamp rides along as a duplicated carry column
    * (vts2) because the operator returns carry fields only. Δt is exact
    * µs-epoch arithmetic (unix_micros ≡ DuckDB epoch_us). */
  private[queries] val qAsofNearest: Q = (s, sf) => {
    val ev = t(s, sf, "events")
    val err = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts"), col("event_id"))
    val view = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("vk"), col("ts").as("vts"),
        col("event_id").as("vid"), col("ts").as("vts2"))
    val back = AsOfJoin.asOf(err, view, "user_id", "vk", "ts", "vts",
        carry = Seq("vid", "vts2"), direction = "backward")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("asof_vid").as("bvid"), col("asof_vts2").as("bvts"))
    val fwd = AsOfJoin.asOf(err, view, "user_id", "vk", "ts", "vts",
        carry = Seq("vid", "vts2"), direction = "forward")
      .select(col("event_id").as("fe"), col("asof_vid").as("fvid"),
        col("asof_vts2").as("fvts"))
    val db = unix_micros(col("ts")) - unix_micros(col("bvts"))
    val df = unix_micros(col("fvts")) - unix_micros(col("ts"))
    back.join(fwd, col("event_id") === col("fe"))
      .select(col("event_id"), col("user_id"),
        when(col("bvts").isNull, col("fvid"))
          .when(col("fvts").isNull, col("bvid"))
          .when(db <= df, col("bvid")).otherwise(col("fvid")).as("near_vid"),
        when(col("bvts").isNull, df)
          .when(col("fvts").isNull, db)
          .otherwise(least(db, df)).as("dt_us"))
      .orderBy("event_id").limit(100)
  }

  /** Poisson bootstrap standard error of the mean order value — THE
    * distributed bootstrap (Chamandy et al., "Estimating Uncertainty for
    * Massive Data Streams", Google 2012): classical resampling draws n
    * rows WITH replacement per replicate (a shuffle per replicate, n·B
    * draws of global coordination); the Poisson approximation gives each
    * row an independent Poisson(1) multiplicity per replicate, so all B=32
    * replicates form in ONE narrow pass (explode ×32 → weighted partial
    * agg; the shuffle carries 32 rows). Multiplicities are deterministic:
    * md5(b, key) → uniform mod 10⁶ → inverse Poisson(1) CDF on integer
    * thresholds (exact in both engines, stable under retries). Replicate
    * means quantize to integer milli-cents before the cross-replicate
    * moments (the q_jackknife discipline); squared sums ride decimal ≡
    * HUGEINT. */
  private[queries] val qBootstrap: Q = (s, sf) => {
    val B = 32
    val o = t(s, sf, "orders")
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("c"),
        explode(sequence(lit(0), lit(B - 1))).as("b"))
    val u = pmod(conv(substring(md5(concat_ws(":", lit("bs"),
      col("b").cast("string"), col("o_orderkey").cast("string"))),
      1, 15), 16, 10).cast("long"), lit(1000000L))
    // Poisson(1) inverse CDF, thresholds = round(1e6 * P(X<=k))
    val w = when(u < 367879, 0L).when(u < 735759, 1L).when(u < 919699, 2L)
      .when(u < 981012, 3L).when(u < 996340, 4L).when(u < 999406, 5L)
      .when(u < 999917, 6L).when(u < 999990, 7L).otherwise(8L)
    val rep = o.withColumn("w", w).groupBy("b")
      .agg(sum(col("w") * col("c")).as("sc"), sum("w").as("nw"))
      .select(floor(col("sc").cast("double") / col("nw") * 1000 + 0.5)
        .cast("long").as("mq"))
    rep.agg(count(lit(1)).as("n_boot"), sum("mq").as("sm"),
        sum(col("mq").cast("decimal(38,0)") * col("mq")).as("smm"))
      .select(col("n_boot"),
        round(col("sm").cast("double") / col("n_boot") / 100000.0, 4)
          .as("boot_mean"),
        round(sqrt((col("smm").cast("double") -
            col("sm").cast("double") * col("sm") / col("n_boot")) /
          (col("n_boot") - 1)) / 100000.0, 4).as("se_boot"))
  }

  /** Adamic–Adar link prediction over the part co-purchase bipartite
    * graph (pivot = order): part pairs sharing orders, scored by
    * common-pivot count and Σ 1/ln(deg(order)) — the people-who-bought
    * recommender, where rare shared baskets weigh more than big ones.
    * The pair stage groups by pivot and emits combinations from the
    * sorted distinct-part array (one shuffle, no self-join — the
    * q_triangles emission); the pivot degree is an order's distinct-part
    * count, intrinsically bounded by its line count, and the BETWEEN
    * 2 AND 100 guard is the maxDf-style hub cap that keeps the emission
    * sub-quadratic on ANY pivot distribution (a hub pivot is both the
    * blow-up and the weakest signal, 1/ln(deg) → 0). The log weight is
    * 1e-9-quantized to int64 BEFORE summing (the q_survival discipline),
    * so pair scores are bit-stable integers and the top-20 boundary is
    * total under (cn, aa, a, b). */
  private[queries] val qLinkpred: Q = (s, sf) => {
    val byOrder = t(s, sf, "lineitem")
      .groupBy("l_orderkey")
      .agg(sort_array(array_distinct(collect_list(col("l_partkey").cast("long"))))
        .as("ps"))
      .filter(size(col("ps")).between(hubCapLo, hubCapHi))
      .withColumn("w",
        floor(lit(1e9) / log(size(col("ps")).cast("double")) + 0.5)
          .cast("long"))
    byOrder.select(col("w"), explode(expr(pairCombosExpr("ps", "a", "b")))
        .as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("cn"), sum("w").as("aa"))
      .orderBy(col("cn").desc, col("aa").desc, col("a"), col("b"))
      .limit(20)
  }

  /** Local clustering coefficient of the part co-purchase graph (parts
    * sharing an order), top 15 among degree ≥ 5: cc(v) = 2·tri(v) /
    * (deg(v)·(deg(v)−1)). Per-node (deg, tri) come from the degree-ordered
    * compact-forward enumeration ([[operators.Components.triangleCounts]],
    * wedge count O(m^1.5), one shared degree pass) over the canonical
    * distinct edge set, materialized once by localCheckpoint. Zero-triangle
    * nodes enter via left join + coalesce (totality — the q_communities
    * labeling lesson). tri and deg are exact ints; cc is one shared
    * double ratio rounded to 6, and the top-15 boundary tie-breaks on
    * node id. */
  private[queries] val qClusterCoeff: Q = (s, sf) => {
    val canon = t(s, sf, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .groupBy("o")
      .agg(sort_array(array_distinct(collect_list(col("p").cast("long"))))
        .as("ps"))
      // the q_linkpred hub cap: a pivot's pair emission is quadratic in
      // its width, so the cap keeps the emission sub-quadratic on ANY
      // order distribution — TPC-H order width (≤7 parts) bounds it by
      // luck today, a wide-basket corpus would not
      .filter(size(col("ps")).between(hubCapLo, hubCapHi))
      .select(explode(expr(pairCombosExpr("ps", "a", "b"))).as("pr"))
      .select(col("pr.a").as("src"), col("pr.b").as("dst"))
      .distinct()
      .localCheckpoint(true) // feeds degree count + triangle enumeration
    // src < dst distinct by construction (sorted-array emission +
    // distinct above): triangleCounts takes the canonical frame directly
    // and shares ONE degree pass between orientation and the denominator
    Components.triangleCounts(canon)
      .filter(col("deg") >= 5)
      .select(col("node"), col("deg"), col("tri"),
        round(lit(2.0) * col("tri") /
          (col("deg") * (col("deg") - 1)), 6).as("cc"))
      .orderBy(col("cc").desc, col("node"))
      .limit(15)
  }

  /** Classical seasonal decomposition (the moving-average STL shape) of
    * monthly revenue: trend = centered 12-month moving average (full
    * windows only), seasonal = per-calendar-month mean of the detrended
    * series, residual = the rest. Everything happens on the BOUNDED month
    * grid (~80 rows at any SF — the aggregate is the only pass over the
    * fact table), so the partition-less window is a reviewed bounded-grid
    * frame, and the 12-row seasonal dim attaches broadcast. All four
    * components are integer cents; the two averages are integer DIV,
    * which truncates toward zero in BOTH engines (Spark `div` ≡ DuckDB
    * `//`, verified on negative detrended values), so the decomposition
    * is bit-exact with no float anywhere. */
  private[queries] val qStl: Q = (s, sf) => {
    val g = t(s, sf, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("mon"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev"))
    val w12 = Window.orderBy("mon").rowsBetween(-6, 5)
    val td = g
      .withColumn("n12", count(lit(1)).over(w12))
      .withColumn("s12", sum("rev").over(w12))
      .withColumn("trend", when(col("n12") === 12, expr("s12 div 12")))
      .withColumn("d", col("rev") - col("trend"))
    val seas = td.groupBy(month(col("mon")).as("moy"))
      .agg(sum("d").as("sd"), count(col("d")).as("cd"))
      .select(col("moy"),
        when(col("cd") > 0, expr("sd div cd")).as("seasonal"))
    td.join(broadcast(seas), month(col("mon")) === col("moy"))
      .select(col("mon"), col("rev"), col("trend"), col("seasonal"),
        (col("d") - col("seasonal")).as("resid"))
      .orderBy("mon")
  }

  /** Holt's linear-trend forecast (double exponential smoothing, α=0.2,
    * β=0.3) of quarterly revenue — the level/trend recurrence
    * lvl_t = (2·y_t + 8·(lvl+tr)) DIV 10; tr_t = (3·Δlvl + 7·tr) DIV 10
    * that no window frame expresses (TWO coupled carried states), spelled
    * as `WITH RECURSIVE` through Spark 4's UnionLoop like q_rcte_decay.
    * The trend state CAN go negative on a revenue dip: integer DIV
    * truncates toward zero in both engines (Spark `div` ≡ DuckDB `//`,
    * verified: −7 div 2 = −3 in both), so every step stays bit-stable.
    * The quarter grid is checkpointed before the loop (the UnionLoop
    * re-scan amplification documented at q_rcte_decay); per-step state is
    * one row equi-joined against the ~27-row grid. The grid is QUARTERLY,
    * not monthly, because UnionLoop's fixed per-round scheduling cost is
    * the price of row recursion (measured ~0.3 s/round: the 80-round
    * monthly spelling cost 24 s at ANY sf — grid length, not data volume,
    * is what a recursive query pays for). forecast_next is the
    * one-step-ahead point forecast lvl+tr. */
  private[queries] val qHolt: Q = (s, sf) =>
    withViews(s, "g_holt_quarterly" -> holtQuarterlyGrid(s, sf)) {
      case Seq(g) => holtRecursionSql(g) +
        " SELECT m, lvl, tr, lvl + tr AS forecast_next FROM h ORDER BY m"
    }

  /** Per-segment Holt forecast — the recurrence × GROUP shape
    * (q_rcte_reach proves the multi-row recursive frontier, q_holt the
    * coupled two-state carry; this row combines them): one independent
    * Holt level/trend recurrence per c_mktsegment over the shared
    * quarterly grid, advanced in LOCKSTEP — each UnionLoop round carries
    * one state row per segment, so the round count stays the QUARTER
    * count (~27; UnionLoop charges ~0.3 s/round regardless of data, so
    * rounds — not rows — are what a recursive query pays for), never
    * quarters × segments. The grid is densified BEFORE the loop — the
    * DENSE min..max quarter range (sequence, not the observed quarter
    * set) crossed with the segments, coalesce(rev, 0) — so a quarter
    * silent in one segment OR in all of them smooths through as a
    * zero-revenue observation instead of breaking the m+1 chain. Same smoothing constants and integer-DIV discipline as
    * [[holtRecursionSql]] (DIV truncates toward zero in both engines,
    * verified on negative trend states); grid checkpointed once (the
    * UnionLoop re-scan amplification documented at q_rcte_decay). */
  private[queries] val qHoltGrouped: Q = (s, sf) => {
    val rev = t(s, sf, "orders")
      .join(t(s, sf, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("seg"),
        (year(col("o_orderdate")) * 4 + quarter(col("o_orderdate")))
          .cast("long").as("m"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev"))
      // segments × quarters rows, materialized ONCE: the grid below
      // derives lo/hi, the segment list, AND the left join from it —
      // without this the orders ⋈ customer aggregate runs three times
      .localCheckpoint(true)
    // the quarter axis is the DENSE min..max range, not the observed
    // quarter set: a quarter empty across ALL segments would otherwise
    // vanish from the grid and break every segment's m+1 chain
    val grid = rev.agg(min(col("m")).as("lo"), max(col("m")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("m"))
      .crossJoin(rev.select("seg").distinct())
      .join(rev, Seq("m", "seg"), "left")
      .select(col("seg"), col("m"), coalesce(col("rev"), lit(0L)).as("rev"))
      .localCheckpoint(true) // scanned once, joined ~27 times
    val nl = "(g.rev * 2 + (h.lvl + h.tr) * 8) DIV 10"
    withViews(s, "g_holt_seg" -> grid) { case Seq(g) =>
      s"""WITH RECURSIVE h(seg, m, lvl, tr) AS (
         |  SELECT seg, m, rev, CAST(0 AS BIGINT) FROM $g
         |  WHERE m = (SELECT min(m) FROM $g)
         |  UNION ALL
         |  SELECT g.seg, g.m, $nl, (($nl - h.lvl) * 3 + h.tr * 7) DIV 10
         |  FROM h JOIN $g g ON g.seg = h.seg AND g.m = h.m + 1)
         |SELECT seg, m, lvl, tr, lvl + tr AS forecast_next FROM h
         |ORDER BY seg, m""".stripMargin
    }
  }

  /** The checkpointed quarterly revenue grid behind the Holt recursion —
    * shared by q_holt and q_backtest so the model they fit/score is ONE
    * definition (the smoothing constants live only in
    * [[holtRecursionSql]]); callers bind it through [[withViews]]. */
  private def holtQuarterlyGrid(s: SparkSession, sf: String): DataFrame =
    t(s, sf, "orders")
      .groupBy((year(col("o_orderdate")) * 4 + quarter(col("o_orderdate")))
        .cast("long").as("m"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev"))
      .localCheckpoint(true) // scanned once, joined ~27 times

  /** The `WITH RECURSIVE h(m, lvl, tr)` Holt recursion over `view`
    * (α=0.2, β=0.3) — callers append either the plain projection
    * (q_holt) or further CTEs (`", sc AS (...)..."`, q_backtest). The
    * new level appears in both state columns: the expression repeats
    * inline (bit-identical, integer) rather than wrapping the recursive
    * term in a derived table — one less subplan for UnionLoop to
    * re-plan every round. */
  private def holtRecursionSql(view: String): String = {
    val nl = s"(g.rev * 2 + (h.lvl + h.tr) * 8) DIV 10"
    s"""WITH RECURSIVE h(m, lvl, tr) AS (
       |  SELECT m, rev, CAST(0 AS BIGINT) FROM $view
       |  WHERE m = (SELECT min(m) FROM $view)
       |  UNION ALL
       |  SELECT g.m, $nl, (($nl - h.lvl) * 3 + h.tr * 7) DIV 10
       |  FROM h JOIN $view g ON g.m = h.m + 1)""".stripMargin
  }

  /** Embedding-space outlier detection: distance of each vector to its
    * label's centroid, top 20 — the "wrong-cluster / mislabeled sample"
    * sweep a curation pipeline runs after clustering. Exact arithmetic
    * throughout: components quantize to 1e-6 integer units via
    * floor(v·1e6 + 0.5) (explicit floor — Spark and DuckDB round() differ
    * in symmetric-half handling on negatives), the centroid stays an
    * exact rational (Σ, n), and the squared distance numerator
    * Σᵢ(vᵢ·n − Σᵢ)² accumulates in decimal(38,0) ≡ HUGEINT (vᵢ·n ≈
    * 1e6·n — int64-safe to n ≈ 10⁹ vectors per label; the square needs
    * decimal immediately). One sqrt + one divide at the end is the shared
    * double spelling. Plan: posexplode → (label, dim) partial aggregate →
    * broadcast centroid join → per-vector aggregate; the only shuffles
    * carry dims × labels and vectors, never pairs. */
  private[queries] val qEmbedOutlier: Q = (s, sf) => {
    val comp = t(s, sf, "embeddings")
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("i", "v")))
      .withColumn("vq",
        floor(col("v").cast("double") * 1e6 + 0.5).cast("long"))
      .localCheckpoint(true) // centroid aggregate + probe side share it
    val cent = comp.groupBy("label", "i")
      .agg(sum("vq").as("sv"), count(lit(1)).as("n"))
    comp.join(broadcast(cent), Seq("label", "i"))
      .withColumn("dnum",
        (col("vq") * col("n") - col("sv")).cast("decimal(38,0)") *
          (col("vq") * col("n") - col("sv")).cast("decimal(38,0)"))
      // group by the vector identity ONLY and take max(n) alongside the
      // sum (mirroring the oracle's max(ct.n)): grouping by the
      // per-(label,dim) count column would split one vector into several
      // output rows if embedding arrays were ever ragged
      .groupBy("vec_id", "label")
      .agg(sum("dnum").as("d2"), max("n").as("n"))
      .select(col("vec_id"), col("label"),
        round(sqrt(col("d2").cast("double")) /
          (col("n").cast("double") * 1e6), 4).as("dist"))
      .orderBy(col("dist").desc, col("vec_id"))
      .limit(20)
  }

  /** RFM segmentation (recency / frequency / monetary quintiles — the
    * classic marketing cut): per-customer days-since-last-order, order
    * count, and integer-cents spend, each quintiled GLOBALLY on
    * [[operators.Rank.ntiled]] — three entity-grain total orders with no
    * single-partition window anywhere (the distributed ntile is
    * value-identical to `ntile(5) OVER (ORDER BY metric, custkey)`,
    * pinned by RankSpec). Output is the bounded 125-cell (r,f,m) census
    * with exact counts and cents. The reference date is the global max
    * order date, attached as a broadcast scalar. */
  private[queries] val qRfm: Q = (s, sf) => {
    val o = t(s, sf, "orders")
    val maxd = o.agg(max(col("o_orderdate")).as("maxd"))
    val per = o.groupBy("o_custkey")
      .agg(max(col("o_orderdate")).as("lastd"),
        count(lit(1)).as("f"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("m"))
      .crossJoin(broadcast(maxd))
      .select(col("o_custkey"), datediff(col("maxd"), col("lastd")).as("rd"),
        col("f"), col("m"))
    val r1 = Rank.ntiled(per, Seq(col("rd").asc, col("o_custkey").asc), 5, "r")
      .select(col("o_custkey"), col("rd"), col("f"), col("m"), col("r"))
    val r2 = Rank.ntiled(r1, Seq(col("f").asc, col("o_custkey").asc), 5, "fq")
      .select(col("o_custkey"), col("m"), col("r"), col("fq"))
    Rank.ntiled(r2, Seq(col("m").asc, col("o_custkey").asc), 5, "mq")
      .groupBy("r", "fq", "mq")
      .agg(count(lit(1)).as("customers"), sum("m").as("cents"))
      .orderBy("r", "fq", "mq")
  }

  /** Zipf's-law fit of the corpus token distribution: regress ln(freq)
    * on ln(rank) by least squares over the full vocabulary — the
    * power-law exponent every corpus-statistics report opens with
    * (natural text ≈ −1; the synthetic corpus's flat vocab reads much
    * shallower, which is exactly what the fit exposes). Frequencies are
    * ranked on [[operators.Rank.rowNumbered]] (the vocab is entity-grain:
    * unbounded in general, no partition-less window), both logs are
    * 1e-9-quantized to int64 (the q_survival discipline), and all five
    * regression moments accumulate exactly — Σx/Σy in int64, the
    * products in decimal(38,0) ≡ HUGEINT. Slope and intercept are one
    * shared double ratio each. */
  private[queries] val qZipf: Q = (s, sf) => {
    val freq = t(s, sf, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("c"))
    val ranked = Rank.rowNumbered(freq,
        Seq(col("c").desc, col("w").asc), "rk")
      .select(
        floor(log(col("rk").cast("double")) * 1e9 + 0.5).cast("long").as("lx"),
        floor(log(col("c").cast("double")) * 1e9 + 0.5).cast("long").as("ly"))
    def dec(c: Column) = c.cast("decimal(38,0)")
    ranked.agg(count(lit(1)).as("n_vocab"), sum("lx").as("sx"),
        sum("ly").as("sy"), sum(dec(col("lx")) * dec(col("lx"))).as("sxx"),
        sum(dec(col("lx")) * dec(col("ly"))).as("sxy"))
      .select(col("n_vocab"),
        round((dec(col("n_vocab")) * col("sxy") - dec(col("sx")) * dec(col("sy")))
            .cast("double") /
          (dec(col("n_vocab")) * col("sxx") - dec(col("sx")) * dec(col("sx")))
            .cast("double"), 4).as("zipf_slope"),
        round((col("sy").cast("double") -
            (dec(col("n_vocab")) * col("sxy") - dec(col("sx")) * dec(col("sy")))
              .cast("double") /
            (dec(col("n_vocab")) * col("sxx") - dec(col("sx")) * dec(col("sx")))
              .cast("double") * col("sx").cast("double")) /
          col("n_vocab").cast("double") / 1e9, 4).as("intercept"))
  }

  /** Cohen's kappa of the n-gram language-ID classifier against the gold
    * `lang` label — chance-corrected agreement, the metric layer over
    * q_lang_id's confusion matrix (annotator-agreement audits run this
    * on every labeling pass). Integer form: κ = (n·diag − Σ_c nl_c·np_c)
    * / (n² − Σ_c nl_c·np_c) — numerator and denominator exact
    * (marginal products in decimal(38,0) ≡ HUGEINT; n² outgrows int64
    * past n ≈ 3·10⁹ rows), one shared double ratio at the end. The
    * predicted frame is checkpointed once and feeds all three aggregates
    * (totals, row marginals, column marginals); the marginal join is
    * |labels|², a few rows at any scale. */
  private[queries] val qKappa: Q = (s, sf) => {
    def dec(c: Column) = c.cast("decimal(38,0)")
    val base = t(s, sf, "documents")
      .select(col("lang"), TextAnalysis.languageId("text").as("pred"))
      .localCheckpoint(true) // three aggregate consumers
    val tot = base.agg(count(lit(1)).as("n"),
      sum(when(col("lang") === col("pred"), 1L).otherwise(0L)).as("diag"))
    val rowm = base.groupBy("lang").agg(count(lit(1)).as("nl"))
    val colm = base.groupBy("pred").agg(count(lit(1)).as("np"))
    val pe = rowm.join(colm, col("lang") === col("pred"))
      .agg(coalesce(sum(dec(col("nl")) * dec(col("np"))),
        lit(0).cast("decimal(38,0)")).as("penum"))
    tot.crossJoin(broadcast(pe))
      .select(col("n"), col("diag"),
        round((dec(col("n")) * dec(col("diag")) - col("penum")).cast("double") /
          (dec(col("n")) * dec(col("n")) - col("penum")).cast("double"), 4)
          .as("kappa"))
  }

  /** Cohort-LTV triangle (the subscription-analytics staple): customers
    * grouped by first-order month, cumulative revenue tracked by cohort
    * age in months, averaged per cohort member. One entity-grain
    * aggregate finds each customer's cohort; everything after lives on
    * the bounded cohort × age grid (~80 × 12 cells), where the running
    * sum windows BY COHORT over age — partitioned and grid-bounded.
    * Month index is integer (y·12+m) arithmetic, revenue integer cents;
    * ltv is the one shared double ratio, quantized to cents via
    * floor(x+0.5) — NOT round(): the cum/ncust double is bit-identical
    * across engines, but round(double, 2) rounds Spark's shortest
    * decimal repr vs DuckDB's binary value and the two land on opposite
    * sides of a .xx5 midpoint (sf0.1 cohort 23971 age 11:
    * 635250.45499… → .46 vs .45, caught by the round-10 strict gate).
    * floor on the same double is the q_embed_outlier playbook. */
  private[queries] val qCohortLtv: Q = (s, sf) => {
    val o = t(s, sf, "orders")
      .select(col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("m"),
        round(col("o_totalprice") * 100).cast("long").as("c"))
      .localCheckpoint(true) // cohort assignment + fact pass share it
    val first = o.groupBy("o_custkey").agg(min("m").as("cm"))
    val size = first.groupBy("cm").agg(count(lit(1)).as("ncust"))
    val cell = o.join(first, "o_custkey")
      .groupBy(col("cm").as("cohort"), (col("m") - col("cm")).as("age"))
      .agg(sum("c").as("rev"))
    val w = Window.partitionBy("cohort").orderBy("age")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cell.withColumn("cum", sum("rev").over(w))
      .filter(col("age") <= 11)
      .join(broadcast(size.select(col("cm").as("cohort"), col("ncust"))),
        "cohort")
      .select(col("cohort"), col("age"), col("ncust"), col("cum"),
        (floor(col("cum").cast("double") / col("ncust").cast("double")
          + 0.5) / 100.0).as("ltv"))
      .orderBy("cohort", "age")
  }

  /** Tokenizer fertility by language — BPE pieces emitted per word after
    * the fixed 3-merge vocabulary (the q_bpe_apply tokenizer), the
    * metric a tokenizer-planning pass reports per language before
    * committing a vocab (high-fertility languages dominate sequence
    * length). Per-doc piece counts reuse
    * [[operators.TextAnalysis.bpeTokenCounts]]; word/piece sums are
    * exact int64 per language (a 5-row aggregate), fertility is the one
    * shared rounded ratio. */
  private[queries] val qFertility: Q = (s, sf) => {
    val (_, nb) = TextAnalysis.bpeTokenCounts("text",
      Seq(("e", "r"), ("i", "n"), ("o", "w")))
    t(s, sf, "documents")
      .select(col("lang"), size(split(col("text"), " ")).cast("long").as("nw"),
        nb.as("np"))
      .groupBy("lang")
      .agg(sum("nw").as("words"), sum("np").as("pieces"))
      .select(col("lang"), col("words"), col("pieces"),
        round(col("pieces").cast("double") / col("words").cast("double"), 4)
          .as("fertility"))
      .orderBy("lang")
  }

  /** Sample-ratio mismatch (SRM) check — the first gate every experiment
    * platform runs before reading an A/B test: chi-square goodness of
    * fit of the deterministic 90/5/5 split's observed counts against its
    * declared weights. Exact-integer form per cell: (100·obs − n·w)² /
    * (100·n·w) — numerator decimal(38,0) ≡ HUGEINT (100n squares past
    * int64 at n ≈ 3·10⁸) — each term one shared double division,
    * 1e-6-quantized BEFORE the 3-row sum (double addition is
    * non-associative even at 3 terms; integer sums are order-free).
    * The observed counts LEFT-join onto the literal 3-row split
    * dimension with coalesce(obs, 0): a split with ZERO rows — the
    * pathological broken-split case SRM exists to flag — must still
    * contribute its (0 − n·w)² cell rather than silently dropping it.
    * srm flags chi2 > 13.816 (χ²₀.₉₉₉, df=2). */
  private[queries] val qSrm: Q = (s, sf) => {
    def dec(c: Column) = c.cast("decimal(38,0)")
    val dim = s.createDataFrame(
      Seq(("train", 90L), ("val", 5L), ("test", 5L))).toDF("split", "w")
    // no broadcast hint: the 3-row dim is the BUILD-ineligible left side
    // of the left join (hinting it logs an unsupported-hint warning);
    // both inputs are ≤3 rows post-aggregate, AQE picks the join
    val obs = dim
      .join(Sampling.assignSplits(t(s, sf, "documents"), "doc_id",
          Seq("train" -> 90, "val" -> 5, "test" -> 5))
        .groupBy("split").agg(count(lit(1)).as("obs")),
        Seq("split"), "left")
      .select(col("split"), coalesce(col("obs"), lit(0L)).as("obs"), col("w"))
    val tot = obs.agg(sum("obs").as("n"))
    obs.crossJoin(broadcast(tot))
      .select(col("n"),
        floor((dec(lit(100) * col("obs") - col("n") * col("w")) *
            dec(lit(100) * col("obs") - col("n") * col("w"))).cast("double") /
          (lit(100.0) * col("n") * col("w")) * 1e6 + 0.5)
          .cast("long").as("tq"))
      .groupBy("n").agg(sum("tq").as("chi2q"))
      .select(col("n"),
        round(col("chi2q") / 1e6, 4).as("chi2"),
        (col("chi2q") > 13816000L).as("srm"))
  }

  /** Growth accounting (the new/retained/resurrected/churned census —
    * the standard active-user decomposition), on the DAY grain — the
    * events table spans ~30 days at every SF with ~11% of users skipping
    * any given day, so days are the grain where retention/resurrection/
    * churn all carry signal (weeks showed 100% retention): per-user
    * active days, each classified by its predecessor gap (first day →
    * new, consecutive → retained, gap → resurrected), churn charged to
    * the day AFTER an activity gap begins, capped at the observed
    * horizon. One distinct pass over events, one per-user window
    * (entity-PARTITIONED — as many concurrent tasks as users hash to),
    * then a bounded day-grid census. All counts exact. */
  private[queries] val qGrowthAccounting: Q = (s, sf) => {
    val um = t(s, sf, "events")
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("m"))
      .distinct()
      .localCheckpoint(true) // status rows + horizon share it
    val horizon = um.agg(max("m").as("mx"))
    val w = Window.partitionBy("user_id").orderBy("m")
    val st = um
      .withColumn("prev", lag("m", 1).over(w))
      .withColumn("nxt", lead("m", 1).over(w))
      .crossJoin(broadcast(horizon))
    val status = st.select(col("m"),
      when(col("prev").isNull, "new")
        .when(col("prev") === col("m") - 1, "retained")
        .otherwise("resurrected").as("status"))
    val churn = st
      .filter((col("nxt").isNull || col("nxt") > col("m") + 1) &&
        col("m") < col("mx"))
      .select((col("m") + 1).as("m"), lit("churned").as("status"))
    status.union(churn)
      .groupBy("m").pivot("status",
        Seq("new", "retained", "resurrected", "churned"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("m")
  }

  /** Stickiness (avg DAU / WAU per week — how many of the week's
    * actives show up on a given day; week grain for the same reason as
    * q_growth_accounting): one distinct (user, day) pass, then day- and
    * week-grid aggregates; avg_dau and stickiness are exact-integer
    * ratios with one shared double spelling each. */
  private[queries] val qStickiness: Q = (s, sf) => {
    val wk = expr("datediff(dy, date'1970-01-01') div 7")
    val ud = t(s, sf, "events")
      .select(col("user_id"), to_date(col("ts")).as("dy"))
      .distinct()
      .localCheckpoint(true) // day counts + week actives share it
    val dau = ud.groupBy(wk.cast("long").as("m"), col("dy"))
      .agg(count(lit(1)).as("dau"))
      .groupBy("m").agg(sum("dau").as("sdau"), count(lit(1)).as("ndays"))
    val wau = ud.groupBy(wk.cast("long").as("m"))
      .agg(countDistinct(col("user_id")).as("wau"))
    dau.join(wau, "m")
      .select(col("m"), col("ndays"), col("wau"),
        round(col("sdau").cast("double") / col("ndays").cast("double"), 2)
          .as("avg_dau"),
        round(col("sdau").cast("double") /
          (col("ndays") * col("wau")).cast("double"), 4).as("stickiness"))
      .orderBy("m")
  }

  /** Recall@10 of the three compressed/bucketed ANN paths against the
    * exact brute-force
    * ranking — THE quality metric an ANN deployment publishes next to
    * its speedup (and the multi-probe path's recall must dominate the
    * single-bucket path's by construction, asserted in SimilaritySpec's
    * family). All three rankings share the deterministic top-10 boundary
    * (ORDER BY rounded cos, vec_id), so the intersection counts are
    * exact; the 10-row result frames join trivially. */
  private[queries] val qAnnRecall: Q = (s, sf) => {
    val emb = t(s, sf, "embeddings")
    val exact = Similarity.cosineTopK(emb, "vec_id", "embedding", 0L, 10)
      .select(col("vec_id"))
      .localCheckpoint(true) // the priciest ranking feeds all three joins
    val lsh = Similarity.annBucketTopK(emb, "vec_id", "embedding", 0L, 10)
      .select(col("vec_id"))
    val multi = Similarity.annMultiProbeTopK(emb, "vec_id", "embedding", 0L, 10)
      .select(col("vec_id"))
    val pq = Pq.searchPq(emb, "vec_id", "embedding",
        queryId = 0L, k = 10, m = 8, subDim = 8, shortlist = 50)
      .select(col("vec_id"))
    val lh = exact.join(lsh, "vec_id").agg(count(lit(1)).as("lsh_hits"))
    val mh = exact.join(multi, "vec_id").agg(count(lit(1)).as("multi_hits"))
    val ph = exact.join(pq, "vec_id").agg(count(lit(1)).as("pq_hits"))
    lh.crossJoin(broadcast(mh)).crossJoin(broadcast(ph))
      .select(lit(10L).as("k"), col("lsh_hits"),
        round(col("lsh_hits") / 10.0, 2).as("lsh_recall"),
        col("multi_hits"),
        round(col("multi_hits") / 10.0, 2).as("multi_recall"),
        col("pq_hits"),
        round(col("pq_hits") / 10.0, 2).as("pq_recall"))
  }

  /** Laspeyres / Paasche / Fisher price indices by ship year (base =
    * first year), over the parts present in the base year — the
    * econ-analytics staple no one should hand-roll twice. Unit prices
    * are exact-rational milli-cents: pq = (Σcents·1000) DIV Σqty per
    * (part, year) — integer truncation, identical in both engines — and
    * the four basket sums (p_t·q_0, p_0·q_0, p_t·q_t, p_0·q_t)
    * accumulate in decimal(38,0) ≡ HUGEINT (price·qty products pass
    * int64 around 10⁵ parts). One fact aggregate, one self-equi-join on
    * part against the broadcast-scalar base year, three shared double
    * ratios. */
  private[queries] val qPriceIndex: Q = (s, sf) => {
    def dec(c: Column) = c.cast("decimal(38,0)")
    val py = t(s, sf, "lineitem")
      .groupBy(col("l_partkey").as("pk"), year(col("l_shipdate")).as("y"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("ep"),
        sum(round(col("l_quantity")).cast("long")).as("q"))
      .withColumn("pq", expr("(ep * 1000) div q"))
      .localCheckpoint(true) // fact pass feeds base + all years
    val minY = py.agg(min("y").as("y0"))
    val base = py.crossJoin(broadcast(minY)).filter(col("y") === col("y0"))
      .select(col("pk"), col("pq").as("p0"), col("q").as("q0"))
    py.join(base, "pk")
      .groupBy("y")
      .agg(sum(dec(col("pq")) * dec(col("q0"))).as("lnum"),
        sum(dec(col("p0")) * dec(col("q0"))).as("lden"),
        sum(dec(col("pq")) * dec(col("q"))).as("pnum"),
        sum(dec(col("p0")) * dec(col("q"))).as("pden"))
      .select(col("y"),
        round(col("lnum").cast("double") / col("lden").cast("double"), 4)
          .as("laspeyres"),
        round(col("pnum").cast("double") / col("pden").cast("double"), 4)
          .as("paasche"),
        round(sqrt(col("lnum").cast("double") / col("lden").cast("double") *
          (col("pnum").cast("double") / col("pden").cast("double"))), 4)
          .as("fisher"))
      .orderBy("y")
  }

  /** Difference-in-differences — the workhorse quasi-experimental
    * estimator beside the A/B family (q_abtest/q_welch/q_odds_ratio):
    * treated = users with MORE signup than error events in the PRE
    * period (first 15 observed days — a deterministic ~50/50 split; at
    * this event density "has any signup" is universal and would empty
    * the control arm), outcome = per-user purchase value (integer
    * milli-units) in pre vs post, DiD = (T̄post − T̄pre) − (C̄post −
    * C̄pre). Group sums are exact int64 over the full user universe
    * (absent purchases contribute 0 by construction — the sums range
    * over purchase rows, the denominators over ALL users), the four
    * means and the estimate are one shared double expression, and
    * assert_true guards both arm sizes IN-PLAN: double division never
    * throws under ANSI (IEEE NaN/Inf), so an emptied arm would
    * otherwise yield a silent NaN estimate — the guard turns it into an
    * execution error instead. The event frame is checkpointed once for
    * its two consumers (treatment flags, outcome sums); the universe
    * count reads the flag checkpoint. */
  private[queries] val qDid: Q = (s, sf) => {
    val d0 = t(s, sf, "events").agg(min(to_date(col("ts"))).as("d0"))
    val ev = t(s, sf, "events")
      .crossJoin(broadcast(d0))
      .select(col("user_id"), col("event_type"),
        (datediff(to_date(col("ts")), col("d0")) >= 15).as("post"),
        round(col("value") * 1000).cast("long").as("v"))
      .localCheckpoint(true) // treatment set + universe + outcomes
    val flag = ev
      .groupBy("user_id")
      .agg(
        sum(when(col("event_type") === "signup" && !col("post"), 1L)
          .otherwise(0L)).as("sg"),
        sum(when(col("event_type") === "error" && !col("post"), 1L)
          .otherwise(0L)).as("er"))
      .select(col("user_id"),
        when(col("sg") > col("er"), 1L).otherwise(0L).as("tr"))
      .localCheckpoint(true) // group sizes + outcome join
    val ns = flag.agg(sum("tr").as("nt"), sum(lit(1L) - col("tr")).as("nc"))
    val sums = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id", "post").agg(sum("v").as("sv"))
      .join(flag, "user_id")
      .agg(
        coalesce(sum(when(col("tr") === 1 && col("post"), col("sv"))), lit(0L))
          .as("st_post"),
        coalesce(sum(when(col("tr") === 1 && !col("post"), col("sv"))), lit(0L))
          .as("st_pre"),
        coalesce(sum(when(col("tr") === 0 && col("post"), col("sv"))), lit(0L))
          .as("sc_post"),
        coalesce(sum(when(col("tr") === 0 && !col("post"), col("sv"))), lit(0L))
          .as("sc_pre"))
    def m(sc: String, nc: String) =
      col(sc).cast("double") / col(nc).cast("double") / 1000.0
    sums.crossJoin(broadcast(ns))
      .filter(assert_true(col("nt") > 0 && col("nc") > 0,
        lit("q_did: an empty treatment or control arm leaves the " +
          "estimator undefined")).isNull)
      .select(col("nt"), col("nc"),
        round(m("st_pre", "nt"), 4).as("t_pre"),
        round(m("st_post", "nt"), 4).as("t_post"),
        round(m("sc_pre", "nc"), 4).as("c_pre"),
        round(m("sc_post", "nc"), 4).as("c_post"),
        round(m("st_post", "nt") - m("st_pre", "nt") -
          (m("sc_post", "nc") - m("sc_pre", "nc")), 4).as("did"))
  }

  /** One-step-ahead backtest of the Holt forecast (q_holt) against the
    * naive carry-forward baseline — the evaluation row the forecasting
    * family was missing (retrieval has NDCG, ANN has recall,
    * classification has kappa/AUC): each quarter's forecast_next is
    * scored against the NEXT quarter's actual revenue; MAPE terms are
    * per-quarter integer-quantized ((|f−a|·10⁶) DIV a — truncation,
    * identical in both engines) so the averages are exact-int ratios,
    * and mase = Σholt/Σnaive < 1 means the model beats carry-forward.
    * Same checkpointed quarter grid + UnionLoop recursion as q_holt. */
  private[queries] val qBacktest: Q = (s, sf) =>
    withViews(s, "g_backtest_quarterly" -> holtQuarterlyGrid(s, sf)) {
      case Seq(g) => holtRecursionSql(g) +
      s""",
        |sc AS (
        |  SELECT h.lvl + h.tr AS f, a.rev AS a, p.rev AS prev
        |  FROM h
        |  JOIN $g a ON a.m = h.m + 1
        |  JOIN $g p ON p.m = h.m),
        |t AS (
        |  SELECT count(*) AS n,
        |    sum((CAST(abs(f - a) AS DECIMAL(38,0)) * 1000000) DIV a) AS sh,
        |    sum((CAST(abs(prev - a) AS DECIMAL(38,0)) * 1000000) DIV a) AS sn,
        |    sum(f - a) AS sb
        |  FROM sc)
        |SELECT n,
        |  round(CAST(sh AS DOUBLE) / n / 1e6, 4) AS mape,
        |  round(CAST(sn AS DOUBLE) / n / 1e6, 4) AS naive_mape,
        |  round(CAST(sh AS DOUBLE) / CAST(sn AS DOUBLE), 4) AS mase,
        |  round(CAST(sb AS DOUBLE) / n / 100.0, 2) AS bias
        |FROM t""".stripMargin
    }

  /** Hard-negative mining for retrieval training (the contrastive-
    * learning data step): the 10 embeddings MOST similar to the query
    * that carry a DIFFERENT label — near the anchor in vector space yet
    * known-irrelevant, exactly what a dual-encoder wants as negatives.
    * The ranking IS [[operators.Similarity.cosineTopK]] (same
    * round-to-4dp-before-rank and id tie-break discipline) with its
    * `excludeLabel` option: one narrow broadcast-query scan +
    * TakeOrdered — the 100 TB shape; the id filter pushes to the scan,
    * the label exclusion evaluates against the broadcast query row
    * during the scan-side join. */
  private[queries] val qHardNegatives: Q = (s, sf) =>
    Similarity.cosineTopK(t(s, sf, "embeddings"), "vec_id", "embedding",
      0L, 10, excludeLabel = Some("label"))

  /** The packaged corpus-intake module run END-TO-END as a declared row —
    * the dags composition story at query grain: [[CorpusModule.graph]]
    * (normalize → language-gate → PII-scrub → exact-dedupe → score →
    * quality/repetition filter) wired through [[Graph.run]]'s topo order,
    * oracled by the flattened SQL (the q_sql_node playbook, one module
    * deep instead of two SQL pipes). Because every node is a pure lazy
    * DataFrame transformation, the whole five-node DAG is ONE Catalyst
    * plan: the gate's `lang IN ('en')` — declared in the SECOND node —
    * crosses the normalize node's boundary and lands in the parquet
    * scan's PushedFilters (plan-asserted in CorpusPipelineSpec), and
    * ReadSchema prunes to the four consumed columns. At 100 TB the
    * non-English ~60% of the corpus is never decompressed, and the only
    * shuffle is the dedupe window over md5 fingerprints of the GATED
    * volume. Quality and repetition are the module's floor-quantized
    * scores (bit-identical cross-engine; same spellings as
    * q_quality/q_repetition). */
  private[queries] val qCorpusPipeline: Q = (s, sf) =>
    CorpusModule.graph(minQuality = 0.5, maxRepetition = 0.9,
        langs = Seq("en"))
      .run(Map("docs" -> t(s, sf, "documents")))("kept")
      .select(col("id"), col("lang"), col("n_chars"),
        col("quality"), col("repetition"))
      .orderBy("id").limit(100)

  /** The corpus module consumed INCREMENTALLY — the reference's defining
    * block-consumption semantic at query grain: the corpus arrives as two
    * blocks (doc_id parity); run 1 sees b0, run 2 sees both but
    * [[Graph.runIncremental]] hands the pipeline ONLY the fresh b1 (the
    * RunLog ledger filters consumed blocks — the second run never
    * re-scans b0). The corpus view is the union of the runs' `kept`
    * outputs. Dedupe is therefore exact-dedupe WITHIN each delta — the
    * module's documented incremental scope — which the oracle mirrors by
    * partitioning the keep-min-id window on (block, fingerprint). At
    * 100 TB this is the shape that matters: a daily ingest run costs the
    * new day's scan, never the backlog's, and the per-delta plans are
    * the same scan-speed narrow stages + one dedupe shuffle as the batch
    * row. */
  private[queries] val qCorpusIncr: Q = (s, sf) => {
    val docs = t(s, sf, "documents")
    val blk = Map(
      "b0" -> docs.filter(col("doc_id") % 2 === 0),
      "b1" -> docs.filter(col("doc_id") % 2 === 1))
    val log = new RunLog(scratchDir("corpusincr"))
    val g = CorpusModule.graph(minQuality = 0.5, maxRepetition = 0.9)
    val arrival = Seq("b0", "b1")
    val keeps = (1 to 2).map { i => // i-th run: one more block arrived
      g.runIncremental(
        Map("docs" -> arrival.take(i).map(b => b -> blk(b))), log)("kept")
    }
    keeps.reduce(_.unionByName(_))
      .select(col("id"), col("lang"), col("n_chars"),
        col("quality"), col("repetition"))
      .orderBy("id").limit(100)
  }

  /** The corpus module with its near-dup stage engaged — the full
    * production dedupe ladder at query grain: gate → scrub → exact-dedupe
    * (hash shuffle) → NEAR-dedupe (exact within-lang token-Jaccard ≥ 0.9
    * pairs → hash-min components → keeper election → broadcast anti-join)
    * → score → filter, all through `Graph.run`. Input is bounded to
    * doc_id < 200 because the ORACLE's closure is an all-pairs recursive
    * CTE (the q_dedup_cluster precedent); the engine side is the
    * inverted-index pair join + distributed components that the
    * standalone flagships measure sub-quadratic at scale. The Jaccard
    * threshold is an integer-ratio compare (inter/(na+nb−inter), same
    * int64 counts both engines), so the edge set — and hence the cluster
    * keepers — are bit-identical cross-engine. */
  private[queries] val qCorpusNeardup: Q = (s, sf) => {
    val docs = t(s, sf, "documents").filter(col("doc_id") < 200)
    CorpusModule.graph(minQuality = 0.5, maxRepetition = 0.9,
      langs = Seq("en"), nearDupJaccard = Some(0.9))
      .run(Map("docs" -> docs))("kept")
      .select(col("id"), col("lang"), col("n_chars"),
        col("quality"), col("repetition"))
      .orderBy("id").limit(100)
  }

  /** The {incremental} × {near-dup} cell of the corpus-module matrix
    * (q_corpus_pipeline = batch·exact, q_corpus_neardup = batch·near,
    * q_corpus_incr = incremental·exact): two parity blocks arrive across
    * two `runIncremental` calls and the FULL dedupe ladder — exact window
    * then Jaccard ≥ 0.9 keeper election — runs per DELTA (the module's
    * documented incremental scope: a run's pipeline sees only its fresh
    * block). The oracle mirrors both scopes by partitioning the exact
    * window on (blk, fingerprint) and constraining the pair join to
    * a.blk = b.blk, which makes the recursive closure block-local for
    * free. Input bounded to doc_id < 400 (~200 docs/block) because the
    * oracle's pair CTE is all-pairs and the synthetic corpus is
    * pathologically near-dup; the engine path is the same sub-quadratic
    * ladder as the batch row. */
  private[queries] val qCorpusIncrNeardup: Q = (s, sf) => {
    val docs = t(s, sf, "documents").filter(col("doc_id") < 400)
    val blk = Map(
      "b0" -> docs.filter(col("doc_id") % 2 === 0),
      "b1" -> docs.filter(col("doc_id") % 2 === 1))
    val log = new RunLog(scratchDir("corpusincrnd"))
    val g = CorpusModule.graph(minQuality = 0.5, maxRepetition = 0.9,
      nearDupJaccard = Some(0.9))
    val arrival = Seq("b0", "b1")
    val keeps = (1 to 2).map { i =>
      g.runIncremental(
        Map("docs" -> arrival.take(i).map(b => b -> blk(b))), log)("kept")
    }
    keeps.reduce(_.unionByName(_))
      .select(col("id"), col("lang"), col("n_chars"),
        col("quality"), col("repetition"))
      .orderBy("id").limit(100)
  }

  /** Durable-state incremental composition — the one dags semantic not
    * yet declared as a row: an ingest run consumes the backlog block and
    * persists its LSH band + token-hash index THROUGH the sink (blocks
    * are marked consumed only after the parquet write returns —
    * [[Graph.runIncremental]]'s at-least-once contract guards the
    * index's durability point); a second run then probes ONLY the fresh
    * delta against the PERSISTED index read back from parquet. The
    * ledger is shared across the two graphs, so the probe run's
    * pipeline never sees — never re-scans — the backlog. Semantically
    * identical to the standalone q_neardup_incr_indexed (same split,
    * params, τ; same oracle text): what this row pins is that the
    * module-grain orchestration (ledger + sink-gated state) preserves
    * the operator's result exactly. At 100 TB this is the production
    * ingest shape: the index append costs the new block's scan, the
    * probe costs O(delta + matches) through band-partitioned files. */
  private[queries] val qCorpusIndexProbe: Q = (s, sf) => {
    val numHashes = 8
    val bands = 2
    val docs = t(s, sf, "documents")
    val backlog = docs.filter(col("doc_id") % 10 =!= 0)
    val delta = docs.filter(col("doc_id") % 10 === 0)
    val work = scratchDir("corpusixprobe")
    val log = new RunLog(s"$work/log")
    val ix = new Graph(Seq(
      Node("bands", Seq("docs"), m =>
        Dedup.lshBands(m("docs"), "doc_id", "text", numHashes, bands)),
      Node("tokens", Seq("docs"), m =>
        Dedup.tokenHashIndex(m("docs"), "doc_id", "text"))))
    // the ingest run's frames feed ONLY the index writes, so they are
    // unspread (the builders never spread) and written through the one
    // index layout with its conditional rebalance
    ix.runIncremental(Map("docs" -> Seq("backlog" -> backlog)), log,
      sink = out =>
        Dedup.writeLshIndex(out("bands"), out("tokens"), work, "append"))
    val probe = new Graph(Seq(
      Node("pairs", Seq("docs"), m =>
        Dedup.incrementalLshVerifiedPairs(
          s.read.parquet(s"$work/bands"), s.read.parquet(s"$work/tokens"),
          m("docs"), "doc_id", "text", numHashes, bands, 0.8))))
    probe.runIncremental(
      Map("docs" -> Seq("backlog" -> backlog, "delta" -> delta)),
      log)("pairs")
      .agg(count(lit(1)).as("pairs"),
        sum(col("da") + col("db")).as("chk"),
        round(avg("jac"), 4).as("aj"),
        sum(when(col("da") % 10 === 0 && col("db") % 10 === 0, 1L)
          .otherwise(0L)).as("nn"))
  }

  // ------------------------------------------- modern SQL surface (ISO
  // SQL:2023 / Spark 4 additions: VARIANT, pipe syntax, collations,
  // LISTAGG — the open-schema + SQL-pipe surfaces a 2026 lakehouse user
  // expects from the engine)

  /** Spark 4 VARIANT path — the open-schema ingest shape: each event's
    * typed columns are rendered to one nested JSON document in-plan,
    * parsed ONCE into a VARIANT, and every downstream access is a typed
    * `variant_get` path (top-level string, nested struct field, array
    * element, plus a key lifted out of the raw `props` JSON). The oracle
    * computes the identical aggregate from the BASE columns, so a match
    * proves the variant round-trip is lossless and correctly typed at
    * every access; `try_variant_get` on a missing path must yield NULL
    * for every row (the nmiss column counts it). Scale: VARIANT is
    * parse-once/binary-encoded — N path accesses cost N cheap binary
    * probes instead of N full JSON string re-parses, and the shape stays
    * narrow + codegen'd (no shuffle before the final aggregate). */
  private[queries] val qVariant: Q = (s, sf) => {
    val doc = to_json(struct(
      col("event_type").as("t"),
      struct(col("user_id").as("u"), col("value").as("v")).as("m"),
      array(col("event_id"), col("user_id")).as("ids"),
      get_json_object(col("props"), "$.k").cast("int").as("k")))
    t(s, sf, "events")
      .select(parse_json(doc).as("va"))
      .select(
        expr("variant_get(va, '$.t', 'string')").as("t"),
        expr("variant_get(va, '$.m.v', 'double')").as("v"),
        expr("variant_get(va, '$.ids[1]', 'bigint')").as("uid"),
        expr("variant_get(va, '$.k', 'int')").cast("long").as("k"),
        expr("try_variant_get(va, '$.missing', 'int')").as("miss"))
      .groupBy("t")
      .agg(count(lit(1)).as("n"),
        round(sum("v"), 2).as("sv"),
        sum("uid").as("su"),
        sum("k").as("sk"),
        sum(when(col("miss").isNull, 1L).otherwise(0L)).as("nmiss"))
      .orderBy("t")
  }

  /** Spark 4 SQL pipe syntax — the dags SQL-pipe surface in its modern
    * spelling: each `|>` stage is one pipe operator (filter → derived
    * column → aggregate → post-aggregation filter on the aggregate →
    * order), reading top-to-bottom in DAG order like the reference's
    * pipes compose. Pure parser surface: the text lowers to the same
    * Catalyst aggregate the ANSI form produces (the oracle IS that ANSI
    * form), so pushdown, partial aggregation and codegen are unchanged
    * — grammar sugar, not a new executor.
    *
    * The EXTEND stage derives the UNROUNDED net price and the single
    * round happens once, on the aggregate — the q_agg_group discipline.
    * Round 9 rounded per row inside EXTEND and diverged from the
    * oracle at .xx5 boundaries (Spark HALF_UP on the double's shortest
    * decimal repr vs DuckDB on the binary value): millions of ±$0.01
    * per-row disagreements survived the outer round ($0.03 at sf0.01,
    * $0.45 at sf0.1). Never round(double) per row in an oracled sum.
    *
    * The pipe text needs a catalog name for its FROM; [[withViews]]
    * binds it query-scoped and drops it after the eager analysis
    * (round-9 ADVICE: a session-global `lineitem` view would capture
    * whichever SF ran last for any later catalog resolver). */
  private[queries] val qSqlPipe: Q = (s, sf) =>
    withViews(s, "lineitem_pipe" -> t(s, sf, "lineitem")) { case Seq(v) =>
      s"""FROM $v
          |> WHERE l_quantity > 10
          |> EXTEND l_extendedprice * (1 - l_discount) AS net
          |> AGGREGATE round(sum(net), 2) AS rev, count(*) AS n
               GROUP BY l_returnflag, l_linestatus
          |> WHERE n > 100
          |> ORDER BY l_returnflag, l_linestatus"""
    }

  /** Spark 4 collation-aware grouping: mixed-case renderings of the same
    * brand (upper for even part keys, lower for odd) collapse to ONE
    * group under UTF8_LCASE — the collation travels with the column and
    * the group-by hash/equality honor it in-plan, with no lower()
    * rewrite of the data itself. The output key is normalized through
    * lower() and cast back to the default collation, because a CI
    * group's representative is whichever member a partition saw first
    * (legitimately nondeterministic under parallelism — same reason
    * first() isn't in any oracle); the oracle mirrors with explicit
    * lower() grouping. One hash aggregate, map-side partials intact. */
  private[queries] val qCollation: Q = (s, sf) =>
    t(s, sf, "part")
      .select(
        when(col("p_partkey") % 2 === 0, upper(col("p_brand")))
          .otherwise(lower(col("p_brand"))).as("b"),
        col("p_retailprice"))
      .groupBy(expr("collate(b, 'UTF8_LCASE')").as("bc"))
      .agg(count(lit(1)).as("n"), round(sum("p_retailprice"), 2).as("s"))
      .select(lower(col("bc")).cast("string").as("brand"), col("n"),
        col("s"))
      .orderBy("brand")

  /** ISO SQL:2023 LISTAGG ... WITHIN GROUP (Spark 4.1 native) — the
    * standard ordered string aggregation, previously only expressible
    * here as array_join(array_sort(collect_set(...))) ([[qStringAgg]]).
    * DISTINCT + the explicit WITHIN GROUP order make the concatenation
    * deterministic under any partitioning/merge order. */
  private[queries] val qListagg: Q = (s, sf) =>
    t(s, sf, "orders")
      .groupBy("o_orderpriority")
      .agg(expr("listagg(DISTINCT o_orderstatus, '|') " +
          "WITHIN GROUP (ORDER BY o_orderstatus)").as("statuses"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority")

  /** The corpus pipeline with PER-NODE OBSERVABILITY — the reference's
    * per-pipe run statistics as a declared row: [[Observed.instrument]]
    * wraps every CorpusModule node in `Dataset.observe` (a Catalyst
    * `CollectMetrics` barrier), ONE count() materializes `kept`, and all
    * six stages' gauges (row count + total chars) arrive on that single
    * job's metrics channel — partial-agg per task, accumulator-merged on
    * the driver, zero extra scans or actions. The result frame is built
    * driver-side from the six tiny metric rows; the oracle recomputes
    * every stage's count/volume from the flattened SQL chain, so a match
    * proves the observed values are EXACT (not sampled) at every node
    * boundary. 100 TB: the naive audit (df.count() per stage) re-scans
    * the corpus once per gauge; this row pays one pass. Observing the
    * pre-gate intake deliberately holds the lang gate out of the scan —
    * gate selectivity (normalized vs gated volume, the #1 pipeline
    * health metric) cannot be measured without reading the intake; when
    * that gauge isn't needed, `only=` restores full pushdown
    * (plan-asserted both ways in ObservedSpec). */
  /** The {row count, Σ n_chars} gauge pair both observed corpus rows
    * carry — ONE spelling, because both oracles assume it bit-exactly. */
  private val corpusGauges: String => Seq[Column] =
    _ => Seq(count(lit(1)).as("n_rows"),
      sum(col("n_chars").cast("long")).as("n_chars_sum"))

  /** Per-stage gauge extraction shared by the observed corpus rows:
    * stage list = the graph's own topo order (single source of truth
    * with CorpusModule's node ids); sum-of-empty-stage is NULL on both
    * engines, so the gauge stays Option — never silently unboxed to 0. */
  private def stageGauges(g: graft.engine.Graph, h: Observed.Handle)
      : Seq[(Int, String, Long, Option[Long])] =
    g.topoOrder.map(_.id).zipWithIndex.map { case (st, i) =>
      val m = h.metrics(st)
      (i + 1, st, m("n_rows").asInstanceOf[Long],
        Option(m("n_chars_sum")).map(_.asInstanceOf[Long]))
    }

  private[queries] val qCorpusObserved: Q = (s, sf) => {
    import s.implicits._
    val (g, h) = Observed.instrument(
      CorpusModule.graph(minQuality = 0.5, maxRepetition = 0.9,
        langs = Seq("en")),
      metrics = corpusGauges)
    g.run(Map("docs" -> t(s, sf, "documents")))("kept").count()
    stageGauges(g, h)
      .toDF("ord", "stage", "n_rows", "n_chars_sum").orderBy("ord")
  }

  /** Per-RUN node gauges through [[Graph.runIncremental]] — the
    * reference's per-run pipeline report: two parity blocks arrive
    * across two incremental runs, each run is instrumented fresh
    * ([[Observed.instrument]] is single-use by construction) and its
    * gauges ride the run's OWN materialization — the `sink` hook, the
    * at-least-once commit point. That placement is the contract being
    * pinned: blocks are marked consumed only after the sink returns, so
    * by the time a run's ledger entry exists its six stage gauges have
    * already been delivered on the same job — a crashed run leaves
    * neither a ledger row nor a gauge row, never one without the other.
    * Output = (run, ord, stage, n_rows, n_chars_sum) per run × stage;
    * the oracle replays both delta-scoped chains (parity-split, dedupe
    * window partitioned by run) and recomputes every gauge, so a match
    * proves per-run observability is exact, not sampled. 100 TB: one
    * pass per run (gauges are accumulator-merged on the delta's job),
    * and a run costs its fresh block's scan, never the backlog's. */
  private[queries] val qCorpusIncrObserved: Q = (s, sf) => {
    import s.implicits._
    val docs = t(s, sf, "documents")
    val blk = Seq(
      "b0" -> docs.filter(col("doc_id") % 2 === 0),
      "b1" -> docs.filter(col("doc_id") % 2 === 1))
    val log = new RunLog(scratchDir("corpusincrobs"))
    (1 to 2).flatMap { i => // i-th run: one more block arrived
      val (g, h) = Observed.instrument(
        CorpusModule.graph(minQuality = 0.5, maxRepetition = 0.9,
          langs = Seq("en")),
        metrics = corpusGauges)
      g.runIncremental(Map("docs" -> blk.take(i)), log,
        sink = out => { out("kept").count(); () })
      stageGauges(g, h).map { case (ord, st, n, sum) => (i, ord, st, n, sum) }
    }.toDF("run", "ord", "stage", "n_rows", "n_chars_sum")
      .orderBy("run", "ord")
  }

  /** The {stream} row of the corpus-module matrix — the module consumed
    * from a LIVE Structured-Streaming source ([[Streams.corpusIngest]]):
    * the corpus lands as one file per doc_id parity, `readStream` with
    * `maxFilesPerTrigger=1` makes each micro-batch exactly one parity
    * block, and every batch flows through `Graph.runIncremental` whose
    * ledger turns foreachBatch's at-least-once replay into exactly-once
    * block consumption (replayed batch → consumed block → no-op BEFORE
    * the sink). Because block membership is parity — not batch order —
    * the per-delta dedupe scope is deterministic, so the stream result
    * is batch-oracle-able: the oracle is VERBATIM q_corpus_incr's (same
    * parity-block-scoped chain), pinning stream-fed == ledger-fed. */
  /** Shared plumbing of the two stream cells: ingest `docs` through
    * `graph` as parity micro-batches and project the kept rows. The
    * oracle's dedupe scope is per PARITY BLOCK; that only matches the
    * stream if each parity file really arrived as its own micro-batch —
    * the require fails fast here, not as a puzzling value mismatch at
    * oracle-compare time. */
  private def streamCell(scratch: String, graph: graft.engine.Graph,
      docs: DataFrame): DataFrame = {
    val work = scratchDir(scratch)
    val (kept, nBatches) = graft.streaming.Streams.corpusIngest(
      docs, graph,
      s"$work/src", s"$work/kept", s"$work/ckpt", s"$work/log")
    require(nBatches == 2,
      s"expected 2 one-file micro-batches, got $nBatches")
    kept.select(col("id"), col("lang"), col("n_chars"),
      col("quality"), col("repetition"))
      .orderBy("id").limit(100)
  }

  private[queries] val qCorpusStream: Q = (s, sf) => streamCell("corpusstream",
    CorpusModule.graph(minQuality = 0.5, maxRepetition = 0.9),
    t(s, sf, "documents"))

  /** The {stream} × {near-dup} cell — the LAST of the corpus-module
    * matrix (batch/incremental/stream × exact/near-dup): the FULL
    * dedupe ladder (exact fingerprint window, then Jaccard ≥ 0.9 pair
    * join → hash-min components → keeper election → anti-join) consumed
    * from a live micro-batch stream. This is the cell where
    * exactly-once EARNS its keep: the ladder is NON-commutative per
    * block (a replayed block would re-elect keepers against whatever
    * competition the rerun sees), so only the ledger's replay-no-op —
    * not additive-partial idempotence — keeps the stream result equal
    * to the ledger-fed run. Block membership is parity, not batch
    * order, so the result is batch-oracle-able: the oracle is VERBATIM
    * q_corpus_incr_neardup's block-scoped chain. Same doc_id < 400
    * bound as that row (the oracle's pair closure is an all-pairs
    * recursive CTE; the engine side is the sub-quadratic indexed
    * ladder). */
  private[queries] val qCorpusStreamNeardup: Q = (s, sf) =>
    streamCell("corpusstreamnd",
      CorpusModule.graph(minQuality = 0.5, maxRepetition = 0.9,
        nearDupJaccard = Some(0.9)),
      t(s, sf, "documents").filter(col("doc_id") < 400))

  // ------------------------------------------------------- round 11

  /** Integer-exact Lloyd's k-means over the embeddings table
    * ([[operators.KMeans]]): k=4 centroids, 3 training rounds, vectors
    * quantized once to a 1/1000 grid. Assignment = integer argmin,
    * update = floor-div mean, so the DuckDB oracle — the same three
    * rounds unrolled as CTE chains — reproduces every trained
    * coordinate bit-exactly (the q_pagerank / q_bpe_train discipline
    * applied to the canonical clustering algorithm). Output: per-cell
    * member count, exact integer inertia, and a centroid checksum that
    * pins all 64 trained coordinates per cell into the hash compare.
    * Scale: per round one narrow codegen'd assignment scan + one
    * k·dim-row shuffle; centroids are bounded driver state (k·dim
    * longs). */
  private[queries] val qKmeans: Q = (s, sf) => {
    val emb = t(s, sf, "embeddings")
    val cent = KMeans.train(emb, "vec_id", "embedding", k = 4, iters = 3)
    KMeans.census(emb, "vec_id", "embedding", cent).orderBy("cell")
  }

  /** Modularity of the 3-round label-propagation communities on the
    * undirected trade graph ([[operators.Components.modularity]]):
    * Q·4m² = Σ_c(4·m·m_c − d_c²) in exact integer arithmetic (int64
    * counts, decimal(38,0) community terms — no edge-count cap), reported
    * in micro-units — the quality score OF an iterative algorithm's
    * output, oracle-exact because the one float division is
    * cross-multiplied away. The oracle re-derives the same labeling
    * with q_communities' unrolled LPA rounds, then spells the same
    * integer identity. */
  private[queries] val qModularity: Q = (s, sf) => {
    val oi = tradeOriented(s, sf) // ONE graph definition with q_communities
    val e = oi.union(oi.select(col("d"), col("s")))
    val labels = Components.labelPropagation(e, "s", "d", rounds = 3)
    Components.modularity(oi, labels, "s", "d")
  }

  /** Small-file compaction as a DECLARED row ([[sources.Layout.compact]],
    * the OPTIMIZE move — previously unit-only): lineitem is written as
    * 64 deliberately-small files, compacted to ~4 MB targets, and the
    * compacted copy is aggregated. The oracle is the SAME aggregate over
    * the original table (compaction is physical layout only — the
    * q_bucket_join contract), plus a `within_target` flag pinning the
    * operator's file-count guarantee (output files ≤ ceil(bytes/target),
    * true at EVERY scale) into the oracled row. Timed cost deliberately
    * includes the rewrite: the amortized write IS the operator. */
  private[queries] val qCompact: Q = (s, sf) => {
    val dir = scratchDir("compact")
    // fixture: ~64 small files, but from a CAPPED writer pool —
    // maxRecordsPerFile rolls each of the 8 writer tasks over every
    // rows/64 records, so the fragmented input costs 8 sequential
    // writers at ANY core count instead of 64 concurrent tiny parquet
    // writers (the r15 scaling block's worst row: 32 cores ran this 2×
    // SLOWER than 8 — job profile put 0.8 s of the 1.9 s row in the
    // fixture write alone). The produced layout is the same fragmented
    // ~64-file directory the compaction demo needs at every SF.
    val li = t(s, sf, "lineitem")
    val rows = li.count()
    li.repartition(8).write
      .option("maxRecordsPerFile", math.max(1L, rows / 64L))
      .mode("overwrite").parquet(s"$dir/in")
    val target = graft.sources.Layout.compact(s, s"$dir/in", s"$dir/out",
      targetFileBytes = 4L << 20)
    val after = graft.sources.Layout.dataFiles(s"$dir/out")
    // the operator's SCALE-INVARIANT guarantee: coalesce(n) caps output
    // files at n = ceil(bytes/target) at every SF (an `after < 64`
    // shrink claim would flip once per-file bytes outgrow the target;
    // actual shrinkage on small layouts is LayoutSpec's unit pin)
    s.read.parquet(s"$dir/out")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("long")).as("sq"))
      .withColumn("within_target", lit(after <= target))
      .orderBy("l_returnflag")
  }

  /** Sorted-table layout declared ([[graft.sources.Layout.sortedBy]],
    * the lakehouse ORDER-BY/sort-key table next to q_compact /
    * q_bucket_join / q_zorder / q_dpp_prune in the layout family):
    * lineitem range-partitioned + sorted on l_orderkey, written once
    * (amortized-write convention — the rewrite IS the operator), read
    * back and aggregated. The oracle is the same aggregate over the
    * original table (layout is physical), plus `range_disjoint` — the
    * invariant that makes min/max file skipping WORK — as an oracled
    * literal-TRUE value: every RANGE PARTITION's [min, max] l_orderkey
    * interval is strictly disjoint from every other's (equal keys
    * co-locate under range partitioning — that is exactly what the
    * partitioner guarantees), checked over the actual written files
    * (bounded driver state: one row per partition). Grouping is by the
    * writer task index parsed from the file name, NOT per physical
    * file: range partitioning never promises one file per partition
    * (maxRecordsPerFile or a size-based rollover splits a partition
    * into part-NNNNN-…c000/c001 siblings, and a run of equal keys can
    * then straddle two files of the SAME partition), so the per-file
    * spelling would oracle an accident of writer config. */
  private[queries] val qSortedLayout: Q = (s, sf) => {
    val dir = scratchDir("sorted")
    Layout.sortedBy(t(s, sf, "lineitem")
        .select("l_orderkey", "l_linestatus", "l_quantity"),
        8, col("l_orderkey"))
      .write.mode("overwrite").parquet(s"$dir/out")
    val back = s.read.parquet(s"$dir/out")
    // per-FILE ranges in-plan (input_file_name is a cheap per-batch
    // constant), folded to per-PARTITION ranges driver-side by parsing
    // the writer task index out of each file NAME — one string op per
    // FILE, not a regexp per row
    val fileRanges = back.groupBy(input_file_name().as("f"))
      .agg(min("l_orderkey").as("lo"), max("l_orderkey").as("hi"))
      .collect()
    val partIdx = "part-(\\d+)".r
    val ranges = fileRanges
      .groupBy(r => partIdx.findFirstMatchIn(r.getString(0))
        .map(_.group(1)).getOrElse(r.getString(0)))
      .values.map(rs => (rs.map(_.getAs[Long]("lo")).min,
        rs.map(_.getAs[Long]("hi")).max))
      .toArray.sortBy(_._1)
    val disjoint = ranges.length > 0 && ranges.sliding(2).forall {
      case Array(a, b) => a._2 < b._1
      case _           => true // a single partition is trivially disjoint
    }
    back.groupBy("l_linestatus")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("long")).as("sq"),
        min("l_orderkey").as("okmin"), max("l_orderkey").as("okmax"))
      .withColumn("range_disjoint", lit(disjoint))
      .orderBy("l_linestatus")
  }

  /** Re-aggregatable distinct-count sketches (Apache DataSketches HLL,
    * the Spark 3.5+ hll_sketch_agg family): per-DAY user sketches built
    * once, then MERGED to ISO weeks with hll_union_agg — the
    * pre-aggregation pattern that answers "distinct users this week /
    * month / quarter" from stored day sketches without ever rescanning
    * the 100 TB event log. The oracled columns are the exact weekly
    * distinct counts plus `est_ok` — the sketch estimate's 5%-or-±3
    * bound as a VALUE (oracle says literal TRUE), so a drifting sketch
    * merge fails the hash compare, not just an in-plan assert. */
  private[queries] val qHllRollup: Q = (s, sf) => {
    val ev = t(s, sf, "events")
    val daySketch = ev
      .groupBy(to_date(col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    daySketch
      .groupBy(to_date(date_trunc("week", col("day"))).as("week"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      .join(ev.groupBy(to_date(date_trunc("week", col("ts"))).as("week"))
        .agg(countDistinct("user_id").as("exact_users")), Seq("week"))
      .select(col("week"), col("exact_users"),
        (abs(col("est") - col("exact_users")) <=
          greatest(lit(3.0), col("exact_users") * 0.05)).as("est_ok"))
      .orderBy("week")
  }

  /** Dominant principal direction of the embedding corpus
    * ([[operators.Pca.dominantDirection]]): 3 power-iteration rounds
    * over the exact integer covariance (n²·cov cross-multiplied to
    * BIGINT, fixed-point renormalization each round) — the
    * all-but-the-top common-direction estimate (Mu & Viswanath, ICLR
    * 2018), every coordinate of the result oracled bit-exactly against
    * the same rounds unrolled in SQL. The corpus is touched by exactly
    * ONE aggregate — a mergeable per-partition outer-product fold
    * ([[graft.functions.GramAgg]]) whose shuffle carries one
    * (2 + dim + dim²)-long buffer per map task, never a re-keyed corpus
    * row; the 64×64 matrix and the power rounds are bounded driver
    * state, so at 100 TB this costs one aggregation pass. */
  private[queries] val qEmbedPc1: Q = (s, sf) =>
    Pca.dominantDirection(t(s, sf, "embeddings"), "vec_id", "embedding",
      iters = 3).orderBy("i")

  /** Distinct-set OVERLAP from bottom-k sketches
    * ([[graft.functions.KmvAgg]], Bar-Yossef et al. 2002 / Beyer et al.
    * SIGMOD 2007): the capability HLL (q_hll_rollup) fundamentally
    * lacks — a KMV sketch is a uniform sample of the distinct set, so
    * "how many users do corpus A and corpus B SHARE" is answered from
    * two k-long arrays (ρ/k of the union-sketch mins lie in both sides
    * ⇒ |A∩B| ≈ ρ·est_union div k) without ever joining the raw sets.
    * Built the rollup way: per-(side, source) sketches first, then
    * re-aggregated to side sketches — exact, because any of the k
    * global minima is among its own source's k minima. Every estimate
    * is integer arithmetic over the portable md5-48-bit hash, so the
    * DuckDB oracle reproduces est/rho/jaccard BIT-EXACTLY (ORDER BY h
    * LIMIT k + the same `div`) — a sketch row whose ESTIMATES are
    * hash-compared, not just bounded. The side cardinalities are
    * chosen to exercise BOTH estimator branches at the small SFs (side
    * b fits the sketch → exact path; side a and the union spill → the
    * (k−1)·M div u_k path). 100 TB: each side costs one hash-agg
    * carrying ≤ k longs per (side, source) group; the overlap math
    * touches three ≤ k arrays on the driver-sized tail. */
  /** The KMV estimator's ONE SQL spelling, shared by q_kmv_overlap and
    * q_kmv_retention (and mirrored verbatim by their DuckDB oracles):
    * exact size below k, `(k−1)·2^48 div u_k` once spilled. A single
    * definition so the two queries can never drift from each other —
    * the oracles' bit-exact hash compare depends on this arithmetic.
    *
    * Headroom contract: downstream products of this estimate (ρ·est in
    * [[kmvWeekPairs]] / q_kmv_overlap's est_inter, ρ ≤ k) stay Long-safe
    * while est < 2⁶³/k — at k=256 that is ~3.6e16 distinct keys, far past
    * any real corpus and past the 48-bit hash's own birthday regime. A
    * wider hash or a much larger k must re-check this bound: Spark wraps
    * Long products silently where DuckDB raises on BIGINT overflow, so
    * crossing it would DIVERGE engine from oracle rather than fail both. */
  private val kmvK = 256
  private def kmvEstSql(a: String): String = {
    val num = (kmvK - 1).toLong * (1L << 48) // the KMV (k−1)·M numerator
    s"CASE WHEN size($a) < $kmvK THEN CAST(size($a) AS BIGINT) " +
      s"ELSE ${num}L div element_at($a, $kmvK) END"
  }

  /** q_kmv_retention's pair arithmetic over a (week, sk) sketch frame,
    * factored out so a synthetic frame can exercise the shapes the
    * shipped SFs never hit (a ZERO-overlap adjacent pair must yield
    * est_overlap 0, not a dropped or erroring row — KmvPairsSpec):
    * adjacent weeks pair at week−7, the pair's union sketch is the k
    * smallest of the two arrays, ρ counts union-mins present in both,
    * and `est_overlap = ρ·est(union) div |union sketch|`. */
  private[queries] def kmvWeekPairs(wk: DataFrame): DataFrame =
    wk.join(
        wk.select(date_add(col("week"), 7).as("week"), col("sk").as("psk")),
        Seq("week"))
      .selectExpr("week", "sk", "psk",
        s"slice(array_sort(array_distinct(concat(sk, psk))), 1, $kmvK) AS mg")
      .selectExpr("week", s"${kmvEstSql("sk")} AS est_users",
        "CAST(size(filter(mg, x -> array_contains(sk, x) AND " +
          "array_contains(psk, x))) AS BIGINT) AS rho",
        s"${kmvEstSql("mg")} AS est_u", "CAST(size(mg) AS BIGINT) AS nu")
      .selectExpr("week", "est_users",
        "(rho * est_u) div nu AS est_overlap")

  private[queries] val qKmvOverlap: Q = (s, sf) => {
    val k = kmvK
    val kmv = udaf(new graft.functions.KmvAgg(k),
      org.apache.spark.sql.Encoders.scalaLong)
    val docs = t(s, sf, "documents").select(col("doc_id"), col("source"),
      expr("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 12), 16, " +
        "10) AS BIGINT)").as("h"))
    // two deliberately overlapping corpora: docs off the 3-grid (a) vs
    // off the 2-grid (b) — overlap = ids coprime to 6, ~1/3 of each
    val sides = docs.select(col("doc_id"), col("h"), col("source"),
        explode(array(when(col("doc_id") % 3 =!= 0, lit("a")),
          when(col("doc_id") % 2 =!= 0, lit("b")))).as("side"))
      .where(col("side").isNotNull)
    val srcSk = sides.groupBy(col("side"), col("source"))
      .agg(kmv(col("h")).as("sk"))
    val sideSk = srcSk.select(col("side"), explode(col("sk")).as("h"))
      .groupBy("side").agg(kmv(col("h")).as("sk"))
    val unionSk = sideSk.select(explode(col("sk")).as("h"))
      .agg(kmv(col("h")).as("sk"))
    val exacts = sides.groupBy().agg(
      countDistinct(when(col("side") === "a", col("doc_id"))).as("exact_a"),
      countDistinct(when(col("side") === "b", col("doc_id"))).as("exact_b"),
      countDistinct(col("doc_id")).as("exact_union"))
    def est(a: String) = kmvEstSql(a)
    sideSk.groupBy().agg(
        first(when(col("side") === "a", col("sk")), ignoreNulls = true)
          .as("ska"),
        first(when(col("side") === "b", col("sk")), ignoreNulls = true)
          .as("skb"))
      .crossJoin(broadcast(unionSk.select(col("sk").as("sku"))))
      .crossJoin(broadcast(exacts))
      .selectExpr(s"CAST($k AS INT) AS k",
        s"${est("ska")} AS est_a", "exact_a",
        s"${est("skb")} AS est_b", "exact_b",
        s"${est("sku")} AS est_union", "exact_union",
        "CAST(size(filter(sku, x -> array_contains(ska, x) AND " +
          "array_contains(skb, x))) AS BIGINT) AS rho",
        "(CAST(size(filter(sku, x -> array_contains(ska, x) AND " +
          s"array_contains(skb, x))) AS BIGINT) * (${est("sku")})) div " +
          "CAST(size(sku) AS BIGINT) AS est_inter",
        "exact_a + exact_b - exact_union AS exact_inter",
        "(1000L * CAST(size(filter(sku, x -> array_contains(ska, x) AND " +
          "array_contains(skb, x))) AS BIGINT)) div " +
          "CAST(size(sku) AS BIGINT) AS jac_milli")
  }

  /** Quantile-sketch ROLLUP ([[graft.functions.QSketchAgg]] /
    * [[graft.functions.QSketchMergeAgg]]) — the quantile analog of
    * q_hll_rollup, which Spark has no built-in for (`approx_percentile`
    * yields final numbers, not a storable sketch): per-DAY value
    * sketches built once, MERGED to ISO weeks, and "p50 / p95 this
    * week" answered from the merged sketch without rescanning events.
    * The sketch is a deterministic KLL-shaped compactor that CERTIFIES
    * ITSELF: every compaction of weight-w items adds w to a carried
    * worst-case rank-error bound (valid under any merge order), so the
    * oracled columns are the exact weekly n and p50/p95 plus
    * le_ok/lt_ok — the estimate's exact rank bracket within the
    * sketch's OWN bound, as literal-TRUE values (the q_hll_rollup
    * bound-as-value pattern: a sketch outside its certificate fails the
    * hash compare). 100 TB: day sketches are the stored artifact
    * (O(cap·log n) doubles each), written ONCE as parquet (the
    * q_kmv_retention amortized-write convention — the write is part of
    * the timed cost) and every calendar rollup re-aggregates the SKETCH
    * TABLE from disk, never event rows. The parquet round-trip (struct
    * of items/weights/n/err through a file and back into
    * QSketchMergeAgg) is exactly the path a deployment runs, so it is
    * in the oracled row, not just a unit test. */
  private[queries] val qQuantileRollup: Q = (s, sf) => {
    val cap = 128
    val skAgg = udaf(new graft.functions.QSketchAgg(cap),
      org.apache.spark.sql.Encoders.scalaDouble)
    val mgAgg = udaf(new graft.functions.QSketchMergeAgg(cap),
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[graft.functions.QSketch]())
    val dir = scratchDir("qsk")
    def weekly = t(s, sf, "events").where(col("value").isNotNull)
      .select(to_date(date_trunc("week", col("ts"))).as("week"),
        to_date(col("ts")).as("day"), col("value"))
    // the STORED artifact: one sketch row per day, written once
    weekly.groupBy("week", "day").agg(skAgg(col("value")).as("sk"))
      .write.mode("overwrite").parquet(s"$dir/daysk")
    val daySk = s.read.parquet(s"$dir/daysk")
    // udaf flattens a case-class input to one parameter per field (the
    // TopKAgg convention): feed the stored sketch's four fields
    val wkSk = daySk.groupBy("week").agg(mgAgg(col("sk.items"),
      col("sk.weights"), col("sk.n"), col("sk.err")).as("sk"))
    // estimate = first sketch point whose cumulative weight reaches the
    // rank target; the sketch's contract puts its true rank within ±err
    val est = wkSk
      .select(col("week"), col("sk.n").as("n"), col("sk.err").as("err"),
        explode(arrays_zip(col("sk.items"), col("sk.weights"))).as("e"))
      .select(col("week"), col("n"), col("err"),
        col("e.items").as("v"), col("e.weights").as("w"))
      .withColumn("cw", sum("w").over(Window.partitionBy("week").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("week"), col("n"), col("err"), col("v"), col("cw"),
        explode(typedlit(Seq(50, 95))).as("pct"))
      // integer rank target (the qQuantileRolling fix, generalized):
      // ceil(pct·n/100) = (pct·n + 99) div 100 — no binary-fraction
      // rounding at n a multiple of 100/gcd(pct,100)
      .withColumn("t", expr("(CAST(pct AS BIGINT) * n + 99) DIV 100"))
      .where(col("cw") >= col("t"))
      .groupBy("week", "pct")
      .agg(min("v").as("est_v"), first("n").as("n"), first("err").as("err"),
        first("t").as("t"))
    val flags = weekly.join(broadcast(est), Seq("week"))
      .groupBy("week", "pct")
      .agg(first("n").as("n"), first("t").as("t"), first("err").as("err"),
        sum((col("value") <= col("est_v")).cast("long")).as("le"),
        sum((col("value") < col("est_v")).cast("long")).as("lt"))
    val exact = weekly.groupBy("week")
      .agg(round(expr("percentile(value, 0.5D)"), 3).as("q50"),
        round(expr("percentile(value, 0.95D)"), 3).as("q95"))
    flags.join(exact, "week")
      .select(col("week"), col("pct"), col("n"),
        when(col("pct") === 50, col("q50")).otherwise(col("q95"))
          .as("exact_q"),
        (col("le") >= col("t") - col("err")).as("le_ok"),
        (col("lt") <= col("t") + col("err")).as("lt_ok"))
      .orderBy("week", "pct")
  }

  /** MULTI-HORIZON trailing distincts from ONE pass over the persisted
    * day-sketch table: the 7/28/84-day windows (WAU / ~MAU / ~QAU) per
    * anchor week, answered together by joining the sketch table against
    * a HORIZONS literal — the generalization of [[qKmvRolling]]'s fixed
    * 28-day window (one more horizon = one more VALUES row, not another
    * scan). Window = the trailing h days ending the anchor week's
    * Sunday ([week+7−h, week+6]); window sketches re-aggregate stored
    * day sketches in-range (exact mergeability), gap-tolerant like
    * every date-range window here. Estimates BIT-EXACT vs DuckDB's
    * ORDER-BY-LIMIT rebuild per (week, horizon); exact riders along.
    * 100 TB: the artifact write is amortized once; the horizon fan-out
    * multiplies sketch-table rows (days × horizons), never event rows. */
  private[queries] val qKmvHorizons: Q = (s, sf) => {
    val kmv = udaf(new graft.functions.KmvAgg(kmvK),
      org.apache.spark.sql.Encoders.scalaLong)
    val dir = scratchDir("kmvhz")
    val ev = t(s, sf, "events").select(
      to_date(col("ts")).as("day"),
      col("user_id"),
      expr("CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 12), 16, " +
        "10) AS BIGINT)").as("h"))
    ev.groupBy("day").agg(kmv(col("h")).as("sk"))
      .write.mode("overwrite").parquet(s"$dir/daysk")
    val daySk = s.read.parquet(s"$dir/daysk")
    // a horizon IS a rolling window with static offsets: the trailing h
    // days ending the anchor week's Sunday = [week + (7 − h), week + 6]
    // — one more horizon is one more label row in this Seq
    val horizons = Seq(7, 28, 84).map(h => (h.toString, 7 - h, 6))
    def horizonCol = col("win").cast("int").as("horizon")
    val est = graft.operators.Sketches.rollingWindows(daySk, "day",
        horizons)(graft.operators.Sketches.kmvMerge(kmv, "sk"))
      .select(col("week"), horizonCol, col("sk"))
      .selectExpr("week", "horizon", s"${kmvEstSql("sk")} AS est_users")
    // the exact rider runs the SAME skeleton over the event-grain frame,
    // so query and oracle provably share one window definition; anchors
    // still derive from the one-row-per-day sketch table (identical day
    // set by construction — no event-scan distinct just for anchors)
    val exact = graft.operators.Sketches.rollingWindows(ev, "day",
        horizons, anchorDays = daySk)((rows, keys) =>
          rows.groupBy(keys.map(col): _*)
            .agg(countDistinct(col("user_id")).as("exact_users")))
      .select(col("week"), horizonCol, col("exact_users"))
    est.join(exact, Seq("week", "horizon"))
      .orderBy("week", "horizon")
  }

  /** Trailing-28-day ROLLING p95 from the PERSISTED day quantile-sketch
    * table — the latency-dashboard shape, and the quantile sibling of
    * [[qKmvRolling]] (same date-range windows, same gap tolerance: a
    * missing day contributes nothing and shifts nothing): one anchor
    * per week present, the window sketch is a [[functions.QSketchMergeAgg]]
    * merge of the stored day sketches in [week−21, week+6], and the
    * p95 estimate is the cumulative-weight selection over the merged
    * sketch — whose carried certificate still bounds the estimate's
    * exact rank (le_ok/lt_ok oracled literal-TRUE, the q_quantile_rollup
    * pattern; the certificate survives the window merge BY CONSTRUCTION,
    * valid under any merge order). n_28d comes off the merged sketch
    * (exact: Σ day n) and is value-oracled against the raw window
    * count; exact_p95 rides for the oracle. 100 TB: the artifact write
    * is amortized once; every window is a merge of ≤ 28 sketch rows —
    * the event log is touched only by the oracle riders. */
  private[queries] val qQuantileRolling: Q = (s, sf) => {
    val cap = 128
    val skAgg = udaf(new graft.functions.QSketchAgg(cap),
      org.apache.spark.sql.Encoders.scalaDouble)
    val mgAgg = udaf(new graft.functions.QSketchMergeAgg(cap),
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[graft.functions.QSketch]())
    val dir = scratchDir("qskroll")
    val ev = t(s, sf, "events").where(col("value").isNotNull)
      .select(to_date(col("ts")).as("day"), col("value"))
    ev.groupBy("day").agg(skAgg(col("value")).as("sk"))
      .write.mode("overwrite").parquet(s"$dir/daysk")
    val daySk = s.read.parquet(s"$dir/daysk")
    // the shared anchor × date-range × sketch-merge skeleton — the
    // quantile instantiation (merge = GK-sketch merge over the stored
    // day sketches; one window, so `win` drops after the reduce)
    val win28 = Seq(("28", -21, 6))
    // anchors always derive from the day-SKETCH table (same day set as
    // the events by construction; no event-scan distinct for anchors)
    def winRows(right: DataFrame)(
        merge: (DataFrame, Seq[String]) => DataFrame) =
      graft.operators.Sketches.rollingWindows(right, "day", win28,
        anchorDays = daySk)(merge).drop("win")
    val winSk = winRows(daySk)((rows, keys) =>
      rows.groupBy(keys.map(col): _*)
        .agg(mgAgg(col("sk.items"), col("sk.weights"), col("sk.n"),
          col("sk.err")).as("sk")))
    val est = winSk
      .select(col("week"), col("sk.n").as("n"), col("sk.err").as("err"),
        explode(arrays_zip(col("sk.items"), col("sk.weights"))).as("e"))
      .select(col("week"), col("n"), col("err"),
        col("e.items").as("v"), col("e.weights").as("w"))
      .withColumn("cw", sum("w").over(Window.partitionBy("week").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      // target rank in INTEGER arithmetic: ceil(0.95·n) = (19n+19) div 20.
      // The binary double 0.95 rounds UP (0.95·20 = 19.000000000000004),
      // shifting the selected rank by one whenever n is an exact multiple
      // of 20 — the certificate stayed internally consistent, but the p95
      // definition was off-by-one-rank at those n (ADVICE r13).
      .withColumn("t", expr("(19 * n + 19) DIV 20"))
      .where(col("cw") >= col("t"))
      .groupBy("week").agg(min("v").as("est_v"), first("n").as("n"),
        first("err").as("err"), first("t").as("t"))
    winRows(ev)((rows, keys) => rows
        .select(keys.map(col) :+ col("value"): _*)
        .join(broadcast(est), Seq("week"))
        .groupBy(keys.map(col): _*)
        .agg(first("n").as("n_28d"), first("t").as("t"),
          first("err").as("err"),
          sum((col("value") <= col("est_v")).cast("long")).as("le"),
          sum((col("value") < col("est_v")).cast("long")).as("lt"),
          round(expr("percentile(value, 0.95D)"), 3).as("exact_p95")))
      .select(col("week"), col("n_28d"), col("exact_p95"),
        (col("le") >= col("t") - col("err")).as("le_ok"),
        (col("lt") <= col("t") + col("err")).as("lt_ok"))
      .orderBy("week")
  }

  /** Week-over-week RETURNING-USER overlap from a PERSISTED sketch
    * table — the q_kmv_overlap capability as the workflow a 100 TB
    * deployment actually runs: per-day KMV user sketches are written
    * ONCE as a parquet artifact (the q_compact/q_dpp_prune
    * amortized-layout convention — the write is part of the timed
    * cost), then weekly distinct counts AND "how many of this week's
    * users were here last week" (retention's numerator) are answered
    * from the sketch table alone: week sketches re-aggregate from the
    * stored day sketches (exact — a weekly k-minimum is a k-minimum of
    * its own day), adjacent weeks pair by equi-join, and the pair's
    * union/ρ arithmetic runs over three ≤k arrays per row. HLL day
    * sketches could answer the distinct column but NOT the overlap —
    * intersection is the bottom-k capability. All four estimate/exact
    * columns are value-oracled; the estimates are BIT-EXACT against
    * DuckDB's ORDER-BY-LIMIT rebuild of the same integer arithmetic.
    * The exact columns ride along for the oracle (the q_hll_rollup
    * convention); at scale only the sketch table is touched. */
  private[queries] val qKmvRetention: Q = (s, sf) => {
    val k = kmvK
    val kmv = udaf(new graft.functions.KmvAgg(k),
      org.apache.spark.sql.Encoders.scalaLong)
    val dir = scratchDir("kmvret")
    val ev = t(s, sf, "events").select(
      to_date(col("ts")).as("day"),
      to_date(date_trunc("week", col("ts"))).as("week"),
      col("user_id"),
      expr("CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 12), 16, " +
        "10) AS BIGINT)").as("h"))
    // the STORED artifact: one sketch row per day, written once
    ev.groupBy("week", "day").agg(kmv(col("h")).as("sk"))
      .write.mode("overwrite").parquet(s"$dir/daysk")
    val wk = s.read.parquet(s"$dir/daysk")
      .select(col("week"), explode(col("sk")).as("h"))
      .groupBy("week").agg(kmv(col("h")).as("sk"))
    val pairs = kmvWeekPairs(wk)
    val wu = t(s, sf, "events").select(
      to_date(date_trunc("week", col("ts"))).as("week"),
      col("user_id")).distinct()
    val exu = wu.groupBy("week").agg(count(lit(1)).as("exact_users"))
    val exo = wu.join(
        wu.select(date_add(col("week"), 7).as("week"), col("user_id")),
        Seq("week", "user_id"))
      .groupBy("week").agg(count(lit(1)).as("exact_overlap"))
    // exo LEFT: a week pair sharing NO users must report overlap 0, not
    // vanish from the result (the oracle coalesces identically)
    pairs.join(exu, "week").join(exo, Seq("week"), "left")
      .select(col("week"), col("est_users"), col("exact_users"),
        col("est_overlap"),
        coalesce(col("exact_overlap"), lit(0L)).as("exact_overlap"))
      .orderBy("week")
  }

  /** ROLLING-window arithmetic over a (day, sk) KMV day-sketch frame,
    * factored out so a synthetic frame can pin the shapes the shipped
    * SFs never hit (KmvRollingSpec): one anchor per distinct week
    * present; the current window is the trailing 28 days ending that
    * week's Sunday (days in [week−21, week+6]), the prior window the
    * 28 days before it ([week−49, week−22]); window sketches re-aggregate
    * the day sketches inside the date range (exact — a window k-minimum
    * is a k-minimum of its own day), so the pairing is GAP-TOLERANT BY
    * CONSTRUCTION: a missing day or week contributes no rows but shifts
    * nothing (ranges are date arithmetic, not adjacency — the
    * kmvWeekPairs week−7 equi-join drops a row at any series gap, which
    * is correct for week-over-week but not for a trailing dashboard
    * window), and an EMPTY prior window yields est_overlap_28d = 0 with
    * the anchor row intact, never a dropped anchor. */
  private[queries] def kmvRollingWindows(daySk: DataFrame): DataFrame = {
    val kmv = udaf(new graft.functions.KmvAgg(kmvK),
      org.apache.spark.sql.Encoders.scalaLong)
    // the shared anchor × date-range × sketch-merge skeleton
    // (operators/Sketches.scala); both windows ride ONE range join
    val w = graft.operators.Sketches.rollingWindows(daySk, "day",
      Seq(("cur", -21, 6), ("prior", -49, -22)))(
      graft.operators.Sketches.kmvMerge(kmv, "sk"))
    def win(label: String, out: String) = w.filter(col("win") === label)
      .select(col("week"), col("sk").as(out))
    win("cur", "csk")
      .join(win("prior", "psk"), Seq("week"), "left")
      .withColumn("psk",
        coalesce(col("psk"), expr("CAST(array() AS ARRAY<BIGINT>)")))
      .selectExpr("week", "csk", "psk",
        s"slice(array_sort(array_distinct(concat(csk, psk))), 1, $kmvK) AS mg")
      .selectExpr("week", s"${kmvEstSql("csk")} AS est_users_28d",
        "CAST(size(filter(mg, x -> array_contains(csk, x) AND " +
          "array_contains(psk, x))) AS BIGINT) AS rho",
        s"${kmvEstSql("mg")} AS est_u", "CAST(size(mg) AS BIGINT) AS nu")
      .selectExpr("week", "est_users_28d",
        "(rho * est_u) div nu AS est_overlap_28d")
  }

  /** Trailing-28-day ROLLING distinct users + overlap vs the prior
    * 28-day window, answered from the SAME persisted day-sketch table
    * q_kmv_retention writes — the growth-dashboard shape a strictly
    * week-over-week pairing cannot express (and gap-tolerant where the
    * week−7 equi-join is not: see [[kmvRollingWindows]]). The artifact
    * write is in the timed row (amortized-write convention); the rollup
    * itself touches sketch rows only — at 100 TB each window is a union
    * of ≤ 28 k-long arrays per anchor, driver-bounded metadata scale.
    * All estimates BIT-EXACT against DuckDB's ORDER-BY-LIMIT rebuild of
    * the same windows; exact columns ride along for the oracle. */
  private[queries] val qKmvRolling: Q = (s, sf) => {
    val kmv = udaf(new graft.functions.KmvAgg(kmvK),
      org.apache.spark.sql.Encoders.scalaLong)
    val dir = scratchDir("kmvroll")
    val ev = t(s, sf, "events").select(
      to_date(col("ts")).as("day"),
      col("user_id"),
      expr("CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 12), 16, " +
        "10) AS BIGINT)").as("h"))
    ev.groupBy("day").agg(kmv(col("h")).as("sk"))
      .write.mode("overwrite").parquet(s"$dir/daysk")
    val roll = kmvRollingWindows(s.read.parquet(s"$dir/daysk"))
    // exact window memberships (oracle riders): anchor × distinct
    // (day, user) range join, windows identical to the sketch path's
    val du = ev.select(col("day"), col("user_id")).distinct()
    val anchors = ev
      .select(to_date(date_trunc("week", col("day"))).as("week")).distinct()
    def winU(lo: Int, hi: Int) = anchors.as("a")
      .join(du.as("u"), col("u.day")
        .between(date_add(col("a.week"), lo), date_add(col("a.week"), hi)))
      .select(col("a.week").as("week"), col("u.user_id")).distinct()
    val curU = winU(-21, 6)
    val exu = curU.groupBy("week").agg(count(lit(1)).as("exact_users_28d"))
    val exo = curU.join(winU(-49, -22), Seq("week", "user_id"))
      .groupBy("week").agg(count(lit(1)).as("exact_overlap_28d"))
    roll.join(exu, "week").join(exo, Seq("week"), "left")
      .select(col("week"), col("est_users_28d"), col("exact_users_28d"),
        col("est_overlap_28d"),
        coalesce(col("exact_overlap_28d"), lit(0L)).as("exact_overlap_28d"))
      .orderBy("week")
  }
}
