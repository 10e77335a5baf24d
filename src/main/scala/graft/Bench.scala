package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{QueryDef, Registry}

/** Benchmark main. The parent holds no SparkSession; it partitions the
  * suite into blocks and runs each block in a FRESH child JVM
  * ([[BenchChild]]), aggregating per-query times from the children. The
  * checkpoint-heavy iterative queries get a singleton block each;
  * everything else runs in blocks of ~30. A block whose child fails twice
  * runs in-process in the parent with the same discipline. Round 7's
  * driver run showed why: identical code benched 153.9 s on a quiet
  * host and 493.9 s on the driver's runner, with the inflation
  * concentrated 6-30x in the iterative block — one shared JVM lets a
  * heavy query's checkpoint blocks, codegen cache churn and G1
  * concurrent-cycle debt leak into its alphabetical neighbors' timed
  * windows, and under host contention that residue COMPOUNDS. A fresh JVM
  * per block is the only isolation that survives a contended host: each
  * block pays its own session startup OUTSIDE any timed window and can
  * leak nothing into the next. Child startup/warmup cost is wall-clock
  * only — the reported metric stays the sum of per-query timed windows.
  *
  * Failures are reported in an explicit "errors" array and as
  * -1 in the per-query map — a broken query must never masquerade as
  * fast. Between timed windows the runner drains ALL persisted/checkpoint
  * storage and polls `getRDDStorageInfo` to empty (bounded wait), so a
  * query's localCheckpoint blocks are PROVABLY gone before the next
  * window; any residue is surfaced per-query in BENCH_DETAIL.json's
  * "leaked" column rather than silently inflating a neighbor. */
object Bench {

  /** Queries timed alone in their own child JVM ([[QueryDef.Solo]] and
    * [[QueryDef.Roamer]] rows). Lazy, like [[roamers]]: [[buildSession]]
    * and [[hostCanaryMs]] callers need no query inventory. */
  lazy val solo: Set[String] =
    Registry.all.filter(_.run != QueryDef.Shared).map(_.name).toSet

  /** One timed query: seconds, success, how many RDD storage blocks were
    * still registered after the post-query drain (0 = clean), and how
    * many of its target-SF runs failed (0 = clean; a query that OOMs on
    * 1 of 2 reps still reports ok=true with the surviving window, so
    * without these columns intermittent target-SF flakiness would be
    * invisible in the bench record). Untimed warm-pass failures and
    * timed-rep failures are SEPARATE counters: a solo query takes up to
    * [[soloWarms]] warm passes but only [[benchReps]] timed windows, so
    * one conflated count could exceed the stamped reps value and read as
    * more timed windows failing than were run. */
  final case class QResult(name: String, sec: Double, ok: Boolean,
      leaked: Int, failedWarms: Int = 0, failedReps: Int = 0,
      allWindowsSec: Double = 0.0)

  /** Fixed-cost class per query, stamped into BENCH_DETAIL: `stream` and
    * `codec` from [[QueryDef.Cls]], `solo` for the other singleton-JVM
    * rows, everything else `default`. */
  def queryClass(name: String): String = Registry.byName(name).cls match {
    case QueryDef.Stream => "stream"
    case QueryDef.Codec => "codec"
    case QueryDef.Default => if (solo(name)) "solo" else "default"
  }

  /** Timed windows per query (min taken), from `SPARK_GRAFT_BENCH_REPS`,
    * parsed once at object init and read by both the timing loop
    * ([[runQueries]]) and the BENCH_DETAIL stamp ([[emit]]), so the stamp
    * cannot misreport the discipline that produced the numbers. Fork
    * children inherit the parent's env, so every JVM agrees. */
  val benchReps: Int =
    sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt.max(1)
  /** Untimed target-SF passes before a solo query's windows (1 otherwise). */
  val soloWarms: Int = 3
  /** Timed windows for a [[QueryDef.Roamer]] row, when above [[benchReps]]. */
  val roamerReps: Int = 3
  /** G1 settle pause before each solo window. */
  private val settleMs = 300L

  lazy val roamers: Set[String] =
    Registry.all.filter(_.run == QueryDef.Roamer).map(_.name).toSet

  /** Effective timed-window count for one query — the SINGLE source both
    * the timing loop and the BENCH_DETAIL stamp read, so the per-query
    * `query_reps` annotation can never drift from what actually ran.
    * (Deterministic from the name + env, so parent and fork children
    * agree without threading it through the child TSV.) */
  def repsFor(name: String): Int =
    if (roamers(name)) benchReps.max(roamerReps) else benchReps

  /** Every setting of [[buildSession]]'s session; the test session
    * (`SparkSpec`) is built from the same list. */
  def sessionConfs(cpus: String): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus,
    "spark.sql.extensions" -> "graft.functions.GraftExtensions",
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    // default codegen cache holds 100 generated classes — a 270-query
    // suite evicts everything long before a query's alphabetical turn,
    // so its timed window RE-COMPILES every fragment the warmup pass
    // already built. Generated code depends on the plan, not the data,
    // so with a big enough cache the warmup compile is reused at the
    // timed SF (measured as a level AND a noise reduction, r7).
    "spark.sql.codegen.cache.maxEntries" -> "10000",
    // the codegen cache is keyed by class loader, and with isolation on
    // every session clone (one per streaming query) gets its own artifact
    // class loader, so each query recompiled every generated class; graft
    // adds no artifacts, so every session shares the default loader
    "spark.sql.artifact.isolation.enabled" -> "false",
    // shuffle-file deletion is ASYNC by default: the ContextCleaner
    // drains removals triggered by one query's System.gc() DURING the
    // next query's timed window. Blocking mode charges each query its
    // own cleanup inside its own pre-GC window.
    "spark.cleaner.referenceTracking.blocking.shuffle" -> "true",
    // per-execution status (plan graphs, metrics) otherwise accumulates
    // in the driver for the whole run — dead GC weight
    "spark.sql.ui.retainedExecutions" -> "4",
    "spark.ui.retainedJobs" -> "50",
    "spark.ui.retainedStages" -> "50",
    "spark.ui.retainedTasks" -> "500",
  ) ++ graft.engine.LocalFs.sessionConfs

  def buildSession(cpus: String): SparkSession = {
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config(sessionConfs(cpus).toMap).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drop every persisted RDD (incl. localCheckpoint storage) and cached
    * plan, then poll storage down to empty: unpersist is synchronous for
    * registered RDDs, but blocks whose owning RDD is only WEAKLY held
    * (a finished query's checkpoint) need a GC + ContextCleaner pass to
    * be reclaimed — so GC and re-poll until clean or `deadlineMs`.
    * Returns the number of RDDs still holding blocks (0 = verified
    * clean; >0 is surfaced per-query as the "leaked" column). */
  def drainStorage(spark: SparkSession, deadlineMs: Long = 5000): Int = {
    val sc = spark.sparkContext
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    def residue(): Int =
      sc.getRDDStorageInfo.count(_.numCachedPartitions > 0)
    var left = residue()
    val t0 = System.nanoTime()
    while (left > 0 && (System.nanoTime() - t0) / 1e6 < deadlineMs) {
      System.gc()
      Thread.sleep(100)
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      left = residue()
    }
    left
  }

  /** Run `df`'s whole plan and discard its rows. `count()` would let
    * Catalyst prune every column a row count does not need, and on a row
    * that ends in a global aggregate that is the whole operator
    * (q_dup_scrub planned 2 stages and 0.01 s of CPU that way, against
    * 6–8 stages when its rows are written). The noop sink keeps every
    * output column, so the timed window sees the plan Verify writes. */
  def execute(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Time each of `names` at `sfDir` with storage drained and a full GC
    * before every window. Shared by [[BenchChild]] and the fork-failure
    * fallback — ONE timing discipline everywhere.
    *
    * Each query first runs untimed at the TARGET SF immediately before
    * its timed window. A fresh child JVM's first target-SF execution
    * carries C2-compilation of Spark's scheduler/shuffle path itself — the
    * round-8 fork rollout measured the iterative block ~1.5-2× its
    * shared-JVM steady state from exactly this (q_holt 2.4→5.3 s,
    * q_pagerank 3.6→5.7 s), because one small-SF pass compiles the
    * query's generated code but not the runtime underneath it. Timing
    * the second target-SF run measures the steady state the shared-JVM
    * suite always measured for late-alphabet queries, at wall-clock-only
    * cost (the metric still sums only timed windows). */
  def runQueries(spark: SparkSession, names: Seq[String],
      sfDir: String): Seq[QResult] = {
    // min over [[benchReps]] (default 2) timed windows: even in
    // an isolated JVM, a single window can land 2-5× its steady state
    // when a host-level CPU/IO spike crosses it (measured: q_rcte_decay
    // 16.4 s in one full run vs 3.3-4.0 s in three consecutive isolated
    // children, identical plan). A roaming outlier cannot survive two
    // independent windows; the min is the plan's cost, which is what the
    // cross-round record attributes regressions against.
    //
    // Solo queries get a DEEPER untimed warm ([[soloWarms]] target-SF
    // passes vs 1): a fresh singleton child's single warm pass
    // does not replace a shared JVM's suite-long JIT warmth for short
    // multi-job queries — the round-8 artifact reported 8 solo queries
    // at ~2× their shared-JVM reference from exactly this (q_kcore
    // 2.57→5.79 s, q_rcte_decay 2.50→5.07 s), with plans unchanged and
    // plan-asserted. Non-solo queries share their block-mates' warmth
    // and keep 1 pass.
    names.map { name =>
      var failedWarms = 0
      // untimed steady-state warm at the target SF (see Scaladoc); its
      // storage/garbage is drained below, charged to no timed window
      (1 to (if (solo(name)) soloWarms else 1)).foreach { _ =>
        try execute(SparkEntry.queries(name)(spark, sfDir))
        catch { case scala.util.control.NonFatal(_) => failedWarms += 1 }
      }
      // GC isolation: a heavy query's garbage (millions of candidate-pair
      // rows) must be collected in ITS OWN window, not its successor's
      drainStorage(spark)
      val reps = repsFor(name)
      val times = (1 to reps).map { r =>
        if (r > 1) drainStorage(spark)
        System.gc()
        if (solo(name)) {
          // let G1's concurrent cycle settle before an iterative query
          Thread.sleep(settleMs)
          System.gc()
        }
        val t0 = System.nanoTime()
        val ok =
          try { execute(SparkEntry.queries(name)(spark, sfDir)); true }
          catch { case scala.util.control.NonFatal(_) => false }
        ((System.nanoTime() - t0) / 1e9, ok)
      }
      // the leaked column must attribute residue to the query that LEFT
      // it: drain AFTER this query's last window (a pre-window drain
      // would charge query N's leftovers to query N+1, and the last
      // query of a block would never be measured at all)
      val leaked = drainStorage(spark)
      val good = times.filter(_._2)
      val failedReps = times.count(!_._2)
      // every timed window's wall, kept separately from the min: the
      // untimed_wall_s subtraction needs Σ of ALL windows, not reps × min
      // (round-14 ADVICE — the discarded (reps−1) windows are timed work,
      // not fixed cost, and counting them as 'untimed' shifted the metric
      // whenever rep counts changed)
      val allSec = times.map(_._1).sum
      // ok if ANY rep succeeded (an intermittent infra failure must not
      // report a working query as broken — correctness is Verify's gate);
      // sec = min over successful windows
      if (good.nonEmpty)
        QResult(name, good.map(_._1).min, ok = true, leaked,
          failedWarms, failedReps, allSec)
      else QResult(name, times.head._1, ok = false, leaked,
        failedWarms, failedReps, allSec)
    }
  }

  // ------------------------------------------------------------- fork

  /** Split sorted names into blocks: solo queries alone, the rest in
    * contiguous chunks of `blockSize`. Non-solo chunks carry ACROSS solo
    * boundaries — each block is an isolated JVM, so per-query attribution
    * no longer depends on global order, and flushing the chunk at every
    * solo name would fragment ~245 non-solo queries into dozens of short
    * blocks each paying a full JVM + session startup. */
  def blocks(names: Seq[String], blockSize: Int): Seq[Seq[String]] = {
    val (solos, rest) = names.partition(solo)
    solos.map(Seq(_)) ++ rest.grouped(blockSize).map(_.toSeq)
  }

  /** Matches org.apache.spark.launcher.JavaModuleOptions (Spark 4 on
    * JDK 17 outside spark-submit) — same list as build.sbt's fork opts. */
  private val jdk17AddOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** Run one block in a fresh child JVM; parse its TSV result file.
    * Returns None if the child failed to produce a complete result. */
  private def runChildBlock(block: Seq[String], sfDir: String,
      cpus: String, idx: Int): Option[Seq[QResult]] = {
    val javaBin = java.nio.file.Paths.get(
      System.getProperty("java.home"), "bin", "java").toString
    // run/fork := true in build.sbt, so java.class.path IS the real
    // application classpath (project classes + /opt/spark/jars/*)
    val cp = System.getProperty("java.class.path")
    val out = java.nio.file.Files.createTempFile(s"graft_bench_$idx", ".tsv")
    val mem = sys.env.get("SPARK_GRAFT_CHILD_MEM")
    // pin the 2g nursery only for the DEFAULT heap (the build.sbt rule:
    // an explicit small heap + -Xmn2g is an unstartable JVM); an explicit
    // SPARK_GRAFT_XMN overrides either way
    val xmn = sys.env.get("SPARK_GRAFT_XMN")
      .orElse(if (mem.isDefined) None else Some("2g"))
    val cmd: Seq[String] = Seq(javaBin) ++ jdk17AddOpens ++
      Seq(s"-Xmx${mem.getOrElse("16g")}") ++ xmn.map(v => s"-Xmn$v") ++
      Seq("-cp", cp, "graft.BenchChild", out.toString, sfDir, cpus) ++ block
    val pb = new ProcessBuilder(cmd: _*)
    // child stdout (Spark banners, stray prints) must never land near the
    // parent's final JSON line in the harness's stdout tail — and the
    // pre-setLogLevel INFO flood on stderr (~100 lines per child session
    // startup) would drown the tail 20+ times over, so BOTH streams go to
    // a per-block log; its tail is surfaced only when the child fails
    val logFile = java.io.File.createTempFile(s"graft_bench_out_$idx", ".log")
    pb.redirectErrorStream(true)
    pb.redirectOutput(ProcessBuilder.Redirect.to(logFile))
    val proc = pb.start()
    val done = proc.waitFor(sys.env.getOrElse("SPARK_GRAFT_CHILD_TIMEOUT_MIN",
      "20").toLong, java.util.concurrent.TimeUnit.MINUTES)
    if (!done) { proc.destroyForcibly(); proc.waitFor() }
    val lines =
      try scala.jdk.CollectionConverters.ListHasAsScala(
        java.nio.file.Files.readAllLines(out)).asScala.toSeq
      catch { case scala.util.control.NonFatal(_) => Seq.empty }
    java.nio.file.Files.deleteIfExists(out)
    val parsed = lines.flatMap { l =>
      l.split('\t') match {
        case Array(n, s, ok, lk, fw, fr, aw) =>
          try Some(QResult(n, s.toDouble, ok == "1", lk.toInt,
            fw.toInt, fr.toInt, aw.toDouble))
          catch { case _: NumberFormatException => None }
        case _ => None
      }
    }
    val got = parsed.map(_.name).toSet
    if (done && proc.exitValue() == 0 && block.forall(got)) {
      logFile.delete()
      Some(parsed)
    } else {
      System.err.println(s"[bench] child block $idx (${block.size} queries, " +
        s"first=${block.headOption.getOrElse("")}) " +
        (if (!done) "timed out" else s"exit=${proc.exitValue()}, " +
          s"parsed ${parsed.size}/${block.size}"))
      try {
        val log = java.nio.file.Files.readString(logFile.toPath)
        System.err.println(log.substring(math.max(0, log.length - 3000)))
      } catch { case scala.util.control.NonFatal(_) => }
      logFile.delete() // failed attempts must not accumulate in tmp
      None
    }
  }

  // ------------------------------------------------------------- main

  /** Deterministic single-thread CPU canary: 2×10⁸ SplitMix64 finalizer
    * rounds (fixed seed, fixed iteration count, no allocation), min over
    * 3 runs (the first run absorbs its own JIT). Stamped into the bench
    * record as `host_canary_ms` so host speed AT RECORD TIME is a
    * recorded ratio across rounds, not a forensic argument from medians
    * of code-untouched queries (the r11→r12 0.72×→1.02× regression was
    * classified host-class from exactly such an argument). The work is
    * pure integer arithmetic on one core — it moves with CPU clock and
    * timeslice contention, the two host factors that inflate every
    * query uniformly, and with nothing else (no IO, no GC, no Spark). */
  def hostCanaryMs(): Double = {
    val golden = 0x9e3779b97f4a7c15L
    var sink = 0L
    def once(): Double = {
      val t0 = System.nanoTime()
      var x = golden
      var i = 0
      while (i < 200000000) {
        x += golden
        x ^= x >>> 30; x *= 0xbf58476d1ce4e5b9L
        x ^= x >>> 27; x *= 0x94d049bb133111ebL
        x ^= x >>> 31
        i += 1
      }
      sink ^= x
      (System.nanoTime() - t0) / 1e6
    }
    val best = Seq(once(), once(), once()).min
    // black-hole the accumulator so the loop cannot be dead-code'd
    if (sink == 42L) System.err.println("[bench] canary sink hit 42")
    best
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val wallT0 = System.nanoTime()
    // measured BEFORE any Spark work so it reads the host, not the suite
    val canaryMs = hostCanaryMs()
    System.err.println(f"[bench] host canary: $canaryMs%.1f ms")
    val names = SparkEntry.queries.keys.toSeq.sorted
    // lazy: the parent only builds a session if a child fails twice and
    // its block must run in-process as a fallback
    var parentSession: SparkSession = null
    def session(): SparkSession = {
      if (parentSession == null) parentSession = buildSession(cpus)
      parentSession
    }
    val blockSize = sys.env.getOrElse("SPARK_GRAFT_BLOCK", "30").toInt
    val results = blocks(names, blockSize).zipWithIndex.flatMap { case (b, i) =>
      // per-block wall stamp (round-14 verdict #1's denominator work): the
      // untimed fixed cost is ~all child-JVM startup + warm passes, and
      // attributing it per block is what makes the wall budget diagnosable
      // instead of a single opaque residue
      val t0 = System.nanoTime()
      val r = runChildBlock(b, sfDir, cpus, i)
        .orElse(runChildBlock(b, sfDir, cpus, i)) // retry once
        .getOrElse {
          // a flaky fork must not turn into bench "errors": run the block
          // in-process with the same timing discipline
          System.err.println(s"[bench] block $i falling back in-process")
          runQueries(session(), b, sfDir)
        }
      val wall = (System.nanoTime() - t0) / 1e9
      // ALL rows' windows, ok or not — the same denominator the JSON
      // untimed_wall_s subtraction uses, so per-block walls reconcile with
      // the final record even when a rep fails (r15 ADVICE)
      val timed = r.map(_.allWindowsSec).sum
      System.err.println(f"[bench] block $i%d (${b.size}%d queries, " +
        f"first=${b.headOption.getOrElse("")}%s) wall $wall%.1f s, " +
        f"timed-windows $timed%.1f s")
      r
    }
    if (parentSession != null) parentSession.stop()
    emit(results, sfDir, canaryMs, (System.nanoTime() - wallT0) / 1e9)
  }

  /** Write `detailPath` (BENCH_DETAIL.json: full per-query record +
    * leaked column) and print the one harness-parsed JSON line (total +
    * slowest queries — the harness keeps only the last ~2000 chars of
    * stdout, and at 270 queries the full map is ~2.4 KB, which truncated
    * rounds 1-2 and 4). */
  def emit(results: Seq[QResult], sfDir: String, canaryMs: Double = -1,
      wallS: Double = -1, detailPath: String =
        sys.env.getOrElse("SPARK_GRAFT_DETAIL", "BENCH_DETAIL.json")): Unit = {
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def entry(r: QResult): String =
      s""""${r.name}":${if (r.ok) f3(r.sec) else -1}"""
    val errors =
      results.filterNot(_.ok).map(r => jsonString(r.name))
        .mkString("[", ",", "]")
    val total = results.filter(_.ok).map(_.sec).sum
    val sorted = results.sortBy(_.name)
    val leakedJson = sorted.filter(_.leaked > 0)
      .map(r => s""""${r.name}":${r.leaked}""").mkString("{", ",", "}")
    // intermittent target-SF failures (an untimed warm pass or 1-of-N
    // timed reps) surface here even when ok=true — an all-zero map is
    // the healthy case. Warm and timed counters are separate columns so
    // failed_reps stays comparable to the stamped `reps` value.
    val failedWarmJson = sorted.filter(_.failedWarms > 0)
      .map(r => s""""${r.name}":${r.failedWarms}""").mkString("{", ",", "}")
    val failedJson = sorted.filter(_.failedReps > 0)
      .map(r => s""""${r.name}":${r.failedReps}""").mkString("{", ",", "}")
    // the timing-discipline stamp: min-of-`reps` windows after one
    // untimed target-SF pass (`solo_warms` for singleton queries) — the
    // object-level knobs the timing loop itself read. Cross-round
    // comparisons need this to tell a steady-state record (r8+) from the
    // cold-window totals of rounds 1-7. `mode` and `warm_target` are
    // constants, kept so the record's schema matches earlier rounds.
    // `action` names how a window runs its row ([[execute]]): records
    // before it timed `count()`, which pruned whole operators.
    val detailJson =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":${
        sorted.map(entry).mkString("{", ",", "}")
      },"leaked":$leakedJson,"failed_warms":$failedWarmJson,"failed_reps":$failedJson,"mode":"fork","warm_target":1,"action":"noop","solo_warms":$soloWarms,"reps":$benchReps,"roamer_reps":$roamerReps,"roamers":${
        roamers.toSeq.sorted.map(jsonString).mkString("[", ",", "]")
      },"query_reps":${
        // per-query annotation (ADVICE r10): any query timed with a rep
        // count OTHER than the top-level `reps` is listed here, so
        // cross-round diffing tools can exclude or adjust it without
        // knowing the roamers convention
        sorted.filter(r => repsFor(r.name) != benchReps)
          .map(r => s""""${r.name}":${repsFor(r.name)}""")
          .mkString("{", ",", "}")
      },"host_canary_ms":${f3(canaryMs)},"wall_s":${f3(wallS)},"timed_windows_s":${
        // Σ of EVERY timed window (all reps, success or not) — the value
        // the untimed subtraction needs (round-14 ADVICE: subtracting
        // reps × min counted the discarded windows as 'untimed' and moved
        // whenever rep counts changed)
        f3(results.map(_.allWindowsSec).sum)
      },"untimed_wall_s":${
        // the fixed-cost denominator (VERDICT r13 #2): everything the
        // suite pays that NO timed window sees — child-JVM startup,
        // session builds, untimed target-SF warms, storage drains, GC
        // settles. wall − Σ all timed windows is exact
        // (children run strictly sequentially); if suite growth pushes
        // this past the timed total's own growth, block sizing is the
        // lever, not the queries.
        f3(if (wallS < 0) -1 else wallS - results.map(_.allWindowsSec).sum)
      },"class":${
        // fixed-cost class stamp (round-14 verdict #3): only non-default
        // rows are listed — `stream`/`codec` rows are machine-excludable
        // from regression sweeps, `solo` mirrors the fork layout
        sorted.filter(r => queryClass(r.name) != "default")
          .map(r => s""""${r.name}":"${queryClass(r.name)}"""")
          .mkString("{", ",", "}")
      },"sf":${jsonString(sfDir)},"errors":$errors}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(detailPath), detailJson + "\n")
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] could not write $detailPath: ${e.getMessage}") }
    val slowSet = results.filter(_.ok).sortBy(-_.sec).take(24).map(_.name).toSet
    val qs = sorted // sorted name order; errors always included as -1
      .filter(r => !r.ok || slowSet(r.name))
      .map(entry).mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$qs,"host_canary_ms":${f3(canaryMs)},"sf":${jsonString(sfDir)},"errors":$errors,"detail":${jsonString(detailPath)}}""")
  }

  /** `s` as a quoted JSON string: backslash, quote and ALL control chars
    * (< 0x20) escaped. The env-provided sf dir and detail path, and
    * builder-authored oracle SQL, go through it — a raw quote, backslash,
    * tab or CR would make the record or `oracle_sql.json` unparseable. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Child JVM entry for one [[Bench]] block: args = outFile sfDir cpus
  * name... — builds a fresh session, runs its block through the shared
  * [[Bench.runQueries]] discipline, writes one TSV row per query (name,
  * seconds, ok, leaked, failedWarms, failedReps, allWindowsSec), and
  * hard-exits (local-mode executor threads are non-daemon; a child that
  * lingers after spark.stop() would serialize the whole suite behind its
  * shutdown hooks). */
object BenchChild {
  def main(args: Array[String]): Unit = {
    val Array(outFile, sfDir, cpus) = args.take(3)
    val names = args.drop(3).toSeq
    var code = 0
    try {
      val spark = Bench.buildSession(cpus)
      val results = Bench.runQueries(spark, names, sfDir)
      def f3(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
      val tsv = results.map(r =>
        s"${r.name}\t${f3(r.sec)}\t${if (r.ok) 1 else 0}\t${r.leaked}\t${r.failedWarms}\t${r.failedReps}\t${f3(r.allWindowsSec)}")
        .mkString("", "\n", "\n")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), tsv)
      // once the TSV is written the block's results are valid — a
      // stop-time shutdown race must not flip the exit code and make the
      // parent discard a complete multi-minute run
      try spark.stop()
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench-child] ignoring stop failure: ${e.getMessage}") }
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench-child] ${e.getClass.getName}: ${e.getMessage}")
      code = 1
    }
    sys.exit(code)
  }
}
