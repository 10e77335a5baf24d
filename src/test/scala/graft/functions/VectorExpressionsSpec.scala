package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._

class VectorExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (1L, Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
    (2L, Array(0.5f, -0.25f), Array(2.0f, 4.0f)),
    (3L, null.asInstanceOf[Array[Float]], Array(1.0f))
  ).toDF("id", "a", "b")

  test("graft_dot matches the interpreted HOF formulation bit-for-bit") {
    val out = vecs.filter(col("a").isNotNull).select(col("id"),
        VectorFunctions.dotProduct(col("a"), col("b")).as("fast"),
        expr("aggregate(zip_with(a, b, (x, y) -> CAST(x * y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)").as("slow"))
      .collect()
    out.foreach(r => assert(r.getDouble(1) == r.getDouble(2), r.toString))
    assert(out.find(_.getLong(0) == 1L).get.getDouble(1) == 32.0)
  }

  test("null input yields null, not a crash") {
    val out = vecs.select(VectorFunctions.dotProduct(col("a"), col("b"))).collect()
    assert(out.count(_.isNullAt(0)) == 1)
  }

  test("norm2 is the self dot product") {
    val r = vecs.filter(col("id") === 2L)
      .select(VectorFunctions.norm2(col("a"))).collect().head.getDouble(0)
    assert(r == 0.3125)
  }

  test("SQL registration: graft_dot callable from spark.sql") {
    VectorFunctions.register(spark)
    vecs.filter(col("a").isNotNull).createOrReplaceTempView("vs")
    val r = spark.sql("SELECT id, graft_dot(a, b) d FROM vs ORDER BY id")
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(1L) == 32.0)
    resolvesEveryFunction(spark)
  }

  /** Every name in the one function table resolves, by name, to the
    * expression that carries it as its `prettyName`. */
  private def resolvesEveryFunction(session: SparkSession): Unit = {
    assert(VectorFunctions.sqlFunctions.size == 10)
    VectorFunctions.sqlFunctions.foreach { case (id, _, _) =>
      val e = session.sessionState.functionRegistry
        .lookupFunction(id, Seq(Literal(null), Literal(null)))
      assert(e.prettyName == id.funcName, id)
    }
  }

  test("every graft_* function runs as generated code that calls its kernel") {
    VectorFunctions.register(spark)
    val dir = java.nio.file.Files.createTempDirectory("kernels").toString
    Seq((Seq(1.0f, 2.0f), Seq("a", "b"), Seq(1L, 3L), "a b a b")).toDF("f", "s", "l", "t")
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("kernel_args")
    val df = spark.sql("SELECT graft_dot(f, f), graft_intersect_size(s, s), " +
      "graft_intersect_size_sorted(l, l), graft_intersect_sorted(l, l), " +
      "graft_nearest_cell(array(l), l), graft_nearest_dist2(array(l), l), " +
      "graft_gram_count(t, 2), graft_distinct_gram_count(t, 2), " +
      "graft_stopword_count(t, s), graft_scrub_pii(t) FROM kernel_args")
    // no fallback: generated code that does not compile fails the query
    val r = withConfs("spark.sql.codegen.fallback" -> "false",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(df.collect().head)
    assert(r.getDouble(0) == 5.0 && r.getInt(1) == 2 && r.getInt(2) == 2)
    assert(r.getSeq[Long](3) == Seq(1L, 3L))
    assert(r.getInt(4) == 0 && r.getLong(5) == 0L)
    assert(r.getInt(6) == 3 && r.getInt(7) == 2 && r.getInt(8) == 4)
    assert(r.getString(9) == "a b a b")
    val code = org.apache.spark.sql.execution.debug
      .codegenString(df.queryExecution.executedPlan)
    val calls = s"${java.util.regex.Pattern.quote(VectorKernels.className)}\\.(\\w+)\\("
      .r.findAllMatchIn(code).map(_.group(1)).toSet
    assert(calls.size == 10, calls)
  }

  test("codegen and interpreted paths agree") {
    val df = vecs.filter(col("a").isNotNull)
    val fast = df.select(VectorFunctions.dotProduct(col("a"), col("b"))).collect()
    withCodegenDisabled {
      val slow = df.select(VectorFunctions.dotProduct(col("a"), col("b"))).collect()
      assert(fast.map(_.getDouble(0)).toSeq == slow.map(_.getDouble(0)).toSeq)
    }
  }

  test("graft_intersect_size matches size(array_intersect) incl. dups and empties") {
    val sets = Seq(
      (1L, Seq("a", "b", "c"), Seq("b", "c", "d")),
      (2L, Seq("a", "a", "b"), Seq("a", "x")),   // dup left element counts once
      (3L, Seq.empty[String], Seq("a")),
      (4L, Seq("a"), Seq.empty[String]),
      (5L, Seq("x", "y"), Seq("x", "y"))
    ).toDF("id", "ta", "tb")
    val out = sets.select(col("id"),
        VectorFunctions.intersectSize(col("ta"), col("tb")).as("fast"),
        size(array_intersect(col("ta"), col("tb"))).as("builtin"))
      .collect()
    out.foreach(r => assert(r.getInt(1) == r.getInt(2), r.toString))
    // interpreted path agrees with codegen
    val slow = withCodegenDisabled {
      sets.select(VectorFunctions.intersectSize(col("ta"), col("tb")))
        .collect().map(_.getInt(0)).toSeq
    }
    assert(slow == out.map(_.getInt(1)).toSeq)
  }

  test("graft_intersect_size_sorted: merge-count ≡ size(array_intersect) on sorted input") {
    val rnd = new scala.util.Random(42)
    val rows = (1 to 200).map { i =>
      val a = Seq.fill(rnd.nextInt(40))(rnd.nextInt(30).toLong).distinct.sorted
      val b = Seq.fill(rnd.nextInt(40))(rnd.nextInt(30).toLong).distinct.sorted
      (i.toLong, a, b)
    } ++ Seq(
      (900L, Seq.empty[Long], Seq(1L, 2L)),
      (901L, Seq(1L, 2L, 3L), Seq.empty[Long]),
      (902L, Seq(Long.MinValue, 0L, Long.MaxValue), Seq(Long.MinValue, Long.MaxValue)))
    val df = rows.toDF("id", "ta", "tb")
    val out = df.select(col("id"),
        VectorFunctions.intersectSizeSorted(col("ta"), col("tb")).as("fast"),
        size(array_intersect(col("ta"), col("tb"))).as("builtin"))
      .collect()
    out.foreach(r => assert(r.getInt(1) == r.getInt(2), r.toString))
    val slow = withCodegenDisabled {
      df.select(VectorFunctions.intersectSizeSorted(col("ta"), col("tb")))
        .collect().map(_.getInt(0)).toSeq
    }
    assert(slow == out.map(_.getInt(1)).toSeq)
  }

  test("IntersectSizeRewrite rewrites size(array_intersect) over string arrays") {
    val df = Seq((Seq("a", "b"), Seq("b", "c"))).toDF("ta", "tb")
      .select(size(array_intersect(col("ta"), col("tb"))).as("n"))
    val rewritten = IntersectSizeRewrite(df.queryExecution.analyzed)
    assert(rewritten.toString.contains("graft_intersect_size"), rewritten)
    // non-string arrays keep the built-in (IntersectSize is string-typed)
    val longs = Seq((Seq(1L), Seq(1L))).toDF("ta", "tb")
      .select(size(array_intersect(col("ta"), col("tb"))).as("n"))
    val kept = IntersectSizeRewrite(longs.queryExecution.analyzed)
    assert(!kept.toString.contains("graft_intersect_size"), kept)
  }

  test("intersect size matches array_intersect on null elements") {
    val rows = Seq(
      (1L, Seq(Option("a"), None, Option("b")), Seq(None, Option("b"))),
      (2L, Seq(Option("a"), None, None), Seq[Option[String]](None)),
      (3L, Seq(Option("a")), Seq[Option[String]](None)))
      .toDF("id", "ta", "tb")
    val out = rows.select(col("id"),
        VectorFunctions.intersectSize(col("ta"), col("tb")).as("fast"),
        size(array_intersect(col("ta"), col("tb"))).as("builtin"))
      .collect()
    out.foreach(r => assert(r.getInt(1) == r.getInt(2), r.toString))
    val slow = withCodegenDisabled {
      rows.select(VectorFunctions.intersectSize(col("ta"), col("tb")))
        .collect().map(_.getInt(0)).toSeq
    }
    assert(slow == out.map(_.getInt(1)).toSeq)
  }

  test("GraftExtensions injects functions AND the rewrite via spark.sql.extensions") {
    val oldDefault = SparkSession.getDefaultSession
    val oldActive = SparkSession.getActiveSession
    // a fresh session on the SAME SparkContext via the programmatic
    // builder.withExtensions hook — the spark.sql.extensions STATIC conf
    // only applies when the SparkContext is first created (the mains
    // take that path in their own JVMs via Bench.buildSession); on a shared
    // test context it is silently ignored, so inject programmatically
    try {
      // inside the try: a construction failure must still restore the
      // cleared default/active sessions for the suites that follow
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      val ext = SparkSession.builder()
        .withExtensions(new GraftExtensions())
        .getOrCreate()
      val dir = java.nio.file.Files.createTempDirectory("extrt").toString
      Seq((1L, Seq("a", "b"), Seq("b", "c"))).toDF("id", "ta", "tb")
        .write.mode("overwrite").parquet(dir)
      val df = ext.read.parquet(dir)
        .selectExpr("id", "size(array_intersect(ta, tb)) AS n")
      // the injected optimizer rule fires without any session-local setup
      assert(df.queryExecution.optimizedPlan.toString
        .contains("graft_intersect_size"))
      assert(df.collect().head.getInt(1) == 1)
      // and the injected SQL functions resolve by name
      assert(ext.sql("SELECT graft_intersect_size(array('x','y'), array('y')) n")
        .collect().head.getInt(0) == 1)
      resolvesEveryFunction(ext)
    } finally {
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      oldDefault.foreach(SparkSession.setDefaultSession)
      oldActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("IntersectSizeRewrite end-to-end via experimental.extraOptimizations") {
    val dir = java.nio.file.Files.createTempDirectory("rewrite").toString
    Seq((1L, Seq("a", "b", "c"), Seq("b", "c", "d")), (2L, Seq("x"), Seq("y")))
      .toDF("id", "ta", "tb").write.mode("overwrite").parquet(dir)
    val old = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = old :+ IntersectSizeRewrite
    try {
      // parquet source (not a LocalRelation): constant folding can't
      // collapse the plan, so the rewrite is visible AND executed
      val df = spark.read.parquet(dir)
        .select(col("id"), size(array_intersect(col("ta"), col("tb"))).as("n"))
      assert(df.queryExecution.optimizedPlan.toString
        .contains("graft_intersect_size"))
      val r = df.collect().map(x => x.getLong(0) -> x.getInt(1)).toMap
      assert(r === Map(1L -> 2, 2L -> 0))
    } finally spark.experimental.extraOptimizations = old
  }

  test("graft_intersect_size_sorted counts duplicate values once (distinct-set ∩)") {
    // caller contract is sorted input; duplicates may still arise from hash
    // collisions upstream — each distinct value must count once
    val df = Seq((1L, Seq(1L, 1L, 2L, 2L, 3L), Seq(1L, 2L, 2L, 4L))).toDF("id", "ta", "tb")
    val n = df.select(VectorFunctions.intersectSizeSorted(col("ta"), col("tb")))
      .collect().head.getInt(0)
    assert(n == 2)
  }

  test("graft_nearest_cell and graft_nearest_dist2 raise BY NAME on an " +
      "empty centroid table, codegen and interpreted (no silent -1 sentinel " +
      "into grouping)") {
    VectorFunctions.register(spark)
    // a file source, not a local relation: the projection is not folded on
    // the driver, so the codegen run is real
    val dir = java.nio.file.Files.createTempDirectory("empty_cents").toString
    Seq((1L, Seq(1L, 2L))).toDF("id", "v").write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    df.createOrReplaceTempView("empty_cents_args")
    val empty = typedlit(Seq.empty[Seq[Long]])
    def raisesByName(name: String)(run: => Any): Unit = {
      val e = intercept[Exception] { run }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains(s"$name: empty centroid table")), s"$name: $e")
    }
    def runAll(): Unit = {
      raisesByName("graft_nearest_cell")(
        df.select(VectorFunctions.nearestCell(empty, col("v"))).collect())
      raisesByName("graft_nearest_dist2")(
        df.select(VectorFunctions.nearestDist2(empty, col("v"))).collect())
      Seq("graft_nearest_cell", "graft_nearest_dist2").foreach { name =>
        raisesByName(name)(spark.sql(s"SELECT $name(" +
          "CAST(array() AS array<array<bigint>>), v) FROM empty_cents_args").collect())
      }
    }
    withConfs("spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(runAll())
    withCodegenDisabled(runAll())
  }

  test("graft_intersect_sorted ≡ array_sort(array_intersect) on sorted input, " +
      "codegen and interpreted") {
    val rnd = new scala.util.Random(11)
    // duplicates (30 values, up to 40 draws), empty sides, both extremes
    def side(): Seq[Long] = (Seq.fill(rnd.nextInt(40))(rnd.nextInt(30) - 15L) ++
      Seq(Long.MinValue, Long.MaxValue).filter(_ => rnd.nextInt(3) == 0)).sorted
    val rows = (1 to 200).map(i => (i.toLong, side(), side())) ++ Seq(
      (900L, Seq.empty[Long], Seq(1L, 2L)),
      (901L, Seq(1L, 1L, 2L), Seq.empty[Long]),
      (902L, Seq.empty[Long], Seq.empty[Long]),
      (903L, Seq(Long.MinValue, Long.MinValue, 0L, Long.MaxValue),
        Seq(Long.MinValue, Long.MaxValue, Long.MaxValue)))
    // a projection straight over a local relation is folded on the driver
    // by the interpreted path; the shuffle makes the codegen run real
    val df = rows.toDF("id", "ta", "tb").repartition(2)
    def run() = df.select(col("id"),
        VectorFunctions.sortedIntersect(col("ta"), col("tb")).as("fast"),
        array_sort(array_intersect(col("ta"), col("tb"))).as("builtin"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1), r.getSeq[Long](2)))
      .toSeq.sortBy(_._1)
    val fast = run()
    assert(fast.size == 204)
    fast.foreach { case (id, f, b) => assert(f == b, s"id=$id") }
    assert(fast.exists(_._2.nonEmpty))
    assert(withCodegenDisabled(run()) == fast)
  }
}
