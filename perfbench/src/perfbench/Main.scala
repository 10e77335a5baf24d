package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import graft.Bench

/** JVM side of the benchmark: one workload, one closed-loop client, one
  * process. Sets up (inputs, then untimed warm calls), runs timed calls
  * until `--seconds` have passed, then checks every call's output against its
  * reference and writes one result record. With `--trace 1` every other
  * cycle of calls runs with listeners and spans attached, so the record
  * carries per-layer values and the latency of traced and untraced calls.
  *
  * Args: --workload --seed --seconds --trace --root --sf --cores --out
  * [--trace-out]. Everything the run writes goes under --root. */
object Main {

  /** Input sizes per workload (see BENCHMARK.json). */
  val corpusStreamDocs = 2800L
  val streamBlocks = 6
  val graphEdges = 20000L

  /** Additive per-layer values are reported per op; these are ratios of
    * one call and are averaged over traced calls instead. */
  private val ratios = Set("sched.task_busy_share", "write_amp")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val root = a("root")
    val cores = a("cores").toInt
    val trace = a("trace") == "1"
    System.setProperty("spark.local.dir", s"$root/spark-local")
    System.setProperty("spark.sql.warehouse.dir", s"$root/warehouse")
    System.setProperty("spark.sql.session.timeZone", "UTC")
    val spark = Bench.buildSession(cores.toString)
    val sc = spark.sparkContext
    val seed = a("seed").toLong
    val triggers = new TriggerLedger
    val w: Workload = a("workload") match {
      case "catalog" => new Catalog(spark, a("sf"), root, seed)
      case "corpus_stream" =>
        spark.streams.addListener(triggers)
        new CorpusStream(spark, root, seed, corpusStreamDocs, streamBlocks, triggers)
      case "graph_rounds" => new GraphRounds(spark, root, seed, graphEdges)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val tracer = new Tracer(spark)
    val jvmMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionMs = System.currentTimeMillis()
    w.setup()
    val inputsMs = System.currentTimeMillis()
    var warm = 0
    while (warm < w.warmCalls || !w.atBoundary) {
      try w.call(-1 - warm, tracer)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] warm call $warm failed: $e") }
      warm += 1
    }
    System.err.println(s"[perfbench] setup: session ready ${(sessionMs - jvmMs) / 1e3} s " +
      s"after JVM start, inputs ${(inputsMs - sessionMs) / 1e3} s, $warm warm calls " +
      s"${(System.currentTimeMillis() - inputsMs) / 1e3} s")
    var peakHeap = postGcHeapMb()
    val firstOpMs = System.currentTimeMillis()
    val deadline = System.nanoTime() + (a("seconds").toDouble * 1e9).toLong
    val calls = mutable.ArrayBuffer[(Call, Boolean)]()
    val layers = mutable.ArrayBuffer[(Map[String, Double], Int)]()
    var i = 0
    // tracing alternates by cycle, so traced and untraced calls run the
    // same mix; trace_overhead needs one cycle of each
    var cycle = 0
    while (System.nanoTime() < deadline || !w.atBoundary || (trace && cycle < 2)) {
      val traced = trace && cycle % 2 == 0
      tracer.enable(traced)
      val before = if (traced) { tracer.drain(sc); tracer.counters.snapshot } else Map.empty[String, Double]
      val c = try tracer.op("op")(w.call(i, tracer))
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[perfbench] call $i failed: $e")
          Call(Nil, 0.0, "error", "", error = Some(e.toString)) }
      if (traced) {
        tracer.drain(sc)
        val counted = Counters.diff(tracer.counters.snapshot, before)
        val spans = tracer.spanSeconds(tracer.currentOp).collect {
          case (n, s) if n.startsWith("node.") => s"${n}_s" -> s
        }
        val busy = counted.getOrElse("exec.run_s", 0.0) / math.max(c.timedS * cores, 1e-9)
        layers += ((counted ++ spans ++ c.layer ++ Map(
          "sched.task_busy_share" -> busy,
          "storage.leaked_blocks" -> leakedBlocks(sc).toDouble), c.ops.size))
      }
      calls += ((c, traced))
      peakHeap = math.max(peakHeap, postGcHeapMb())
      i += 1
      if (w.atBoundary) cycle += 1
    }
    tracer.enable(trace)
    val operatorSpans = if (trace) w.operatorSpans(tracer) else Map.empty[String, Double]
    tracer.enable(false)
    val canaryMs = Bench.hostCanaryMs()
    val ok = w.verify(calls.map(_._1).toSeq)
    val (perOp, totals) = summarize(layers.toSeq)
    val callsJson = calls.zip(ok).map { case ((c, traced), good) =>
      val ops = c.ops.map(o => s"[${Json.num(o.latencyS)},${o.items}]").mkString("[", ",", "]")
      s"""{"tag":${Json.str(c.tag)},"ok":${good && c.error.isEmpty},"traced":$traced,"timed_s":${
        Json.num(c.timedS)},"ops":$ops,"error":${c.error.map(Json.str).getOrElse("null")}}"""
    }
    val record = (Seq(
      s""""workload":${Json.str(a("workload"))}""",
      s""""ops_per_call":${w.opsPerCall}""",
      s""""first_op_epoch_ms":$firstOpMs""",
      s""""canary_ms":${Json.num(canaryMs)}""",
      s""""peak_heap_mb":${Json.num(peakHeap)}""",
      s""""sizes":${Json.obj(w.sizes)}""",
      s""""calls":${callsJson.mkString("[", ",", "]")}""",
      s""""layers":${Json.obj(perOp ++ operatorSpans)}""",
      s""""layer_totals":${Json.obj(totals)}""") ++ w.extraJson).mkString("{", ",", "}")
    Files.writeString(Paths.get(a("out")), record + "\n")
    a.get("trace-out").filter(_ => trace).foreach(p =>
      Files.writeString(Paths.get(p), tracer.toJson + "\n"))
    // the record is written and the runner deletes --root, so skip
    // Spark's shutdown (local-mode executor threads are non-daemon)
    System.out.flush()
    System.err.flush()
    Runtime.getRuntime.halt(0)
  }

  /** Per-op means of additive values (summed over traced calls, divided by
    * their ops), means of per-call ratios, and the run totals. */
  private def summarize(layers: Seq[(Map[String, Double], Int)])
      : (Map[String, Double], Map[String, Double]) = {
    val keys = layers.flatMap(_._1.keys).distinct
    val ops = math.max(1, layers.map(_._2).sum)
    val totals = keys.map(k => k -> layers.map(_._1.getOrElse(k, 0.0)).sum).toMap
    val perOp = keys.map { k =>
      k -> (if (ratios(k)) totals(k) / math.max(1, layers.size) else totals(k) / ops)
    }.toMap
    (perOp, totals.filterNot { case (k, _) => ratios(k) })
  }

  /** Used heap after a full collection, in MB. The first collection lets
    * the ContextCleaner drop the stored blocks of unreachable frames, the
    * second frees what they held. */
  private def postGcHeapMb(): Double = {
    System.gc()
    Thread.sleep(20)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** RDD blocks still stored once the op's frames are unreachable: the
    * ContextCleaner frees checkpoint blocks only after a GC, so poll
    * briefly before counting. */
  private def leakedBlocks(sc: SparkContext): Int = {
    def count = sc.getRDDStorageInfo.map(_.numCachedPartitions).sum
    var n = count
    var tries = 0
    while (n > 0 && tries < 10) {
      System.gc(); Thread.sleep(100); n = count; tries += 1
    }
    n
  }
}
