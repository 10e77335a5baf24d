package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span: a timed call into a layer, from outside it. */
final case class Span(name: String, startNs: Long, endNs: Long,
    parent: Int, opId: Int) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Monotone counters fed by Spark's public listener interfaces. Every
  * counter is a running total; per-op values are differences of two
  * [[snapshot]]s taken after the listener bus has drained. */
final class Counters {
  private val m = mutable.Map[String, Double]()
  def add(k: String, v: Double): Unit = synchronized { m(k) = m.getOrElse(k, 0.0) + v }
  def snapshot: Map[String, Double] = synchronized { m.toMap }
}

object Counters {
  def diff(after: Map[String, Double], before: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
}

/** Scheduler, executor, shuffle, spill and scan totals per task. */
final class TaskLedger(c: Counters) extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = c.add("sched.jobs", 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    c.add("sched.stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c.add("sched.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      c.add("sched.delay_ms", math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime).toDouble)
      c.add("exec.run_s", m.executorRunTime / 1e3)
      c.add("exec.cpu_s", m.executorCpuTime / 1e9)
      c.add("exec.gc_s", m.jvmGCTime / 1e3)
      c.add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      c.add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      c.add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      c.add("spill.bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      c.add("scan.bytes", m.inputMetrics.bytesRead.toDouble)
      c.add("scan.records", m.inputMetrics.recordsRead.toDouble)
    }
  }
}

/** Catalyst phase times of every executed query, read from
  * `QueryExecution.tracker`. */
final class CatalystLedger(c: Counters) extends QueryExecutionListener {
  private def record(qe: QueryExecution): Unit = {
    c.add("catalyst.executions", 1)
    val phases = qe.tracker.phases
    Seq("analysis" -> "catalyst.analysis_ms",
      "optimization" -> "catalyst.optimizer_ms",
      "planning" -> "catalyst.planning_ms").foreach { case (p, k) =>
      phases.get(p).foreach(s => c.add(k, s.durationMs.toDouble))
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
}

/** Per-trigger durations of micro-batch queries. The trigger latencies
  * are the corpus_stream op latencies, so this listener is attached in
  * untraced runs too; the duration breakdown is only read when tracing. */
final class TriggerLedger extends StreamingQueryListener {
  final case class Trigger(latencyS: Double, durations: Map[String, Double], rows: Long)
  private val buf = mutable.ArrayBuffer[Trigger]()
  def drainTriggers(): Seq[Trigger] = synchronized { val r = buf.toList; buf.clear(); r }
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val d = scala.jdk.CollectionConverters.MapHasAsScala(p.durationMs).asScala
      .map { case (k, v) => k -> v.doubleValue }.toMap
    // AvailableNow ends with an empty trigger that processes no batch
    if (p.numInputRows > 0) synchronized {
      buf += Trigger(d.getOrElse("triggerExecution", 0.0) / 1e3, d, p.numInputRows)
    }
  }
}

/** Spans recorded around calls into the program's layers, plus the
  * listener counters, kept in memory and written out when the run ends.
  * Listeners are attached only while [[enabled]], so an untraced op runs
  * with nothing but the trigger listener on the bus. */
final class Tracer(spark: SparkSession) {
  val counters = new Counters
  private val tasks = new TaskLedger(counters)
  private val catalyst = new CatalystLedger(counters)
  val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Int]()
  private var opId = -1
  var enabled = false

  def enable(on: Boolean): Unit = if (on != enabled) {
    if (on) {
      spark.sparkContext.addSparkListener(tasks)
      spark.listenerManager.register(catalyst)
    } else {
      drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(tasks)
      spark.listenerManager.unregister(catalyst)
    }
    enabled = on
  }

  def drain(sc: SparkContext): Unit = org.apache.spark.perfbench.Bus.drain(sc)

  /** Jobs started so far, once the bus has delivered them. */
  def jobs: Double = {
    drain(spark.sparkContext)
    counters.snapshot.getOrElse("sched.jobs", 0.0)
  }

  /** Run `body` as the root span of a new op. */
  def op[T](name: String)(body: => T): T = {
    opId += 1
    span(name)(body)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val idx = spans.size
      spans += Span(name, System.nanoTime(), -1L, stack.headOption.getOrElse(-1), opId)
      stack.push(idx)
      try body
      finally {
        stack.pop()
        spans(idx) = spans(idx).copy(endNs = System.nanoTime())
      }
    }

  /** Summed duration of the spans of op `id`, by span name. */
  def spanSeconds(id: Int): Map[String, Double] =
    spans.filter(s => s.opId == id && s.endNs >= 0).groupBy(_.name)
      .map { case (k, ss) => k -> ss.map(_.seconds).sum }

  def currentOp: Int = opId

  def toJson: String = {
    def q(s: String) = Json.str(s)
    val sp = spans.map(s =>
      s"""{"name":${q(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs},"parent":${s.parent},"op":${s.opId}}""")
    s"""{"spans":${sp.mkString("[", ",", "]")},"counters":${Json.obj(counters.snapshot)}}"""
  }
}

/** Tiny JSON writer: the record is flat numbers and strings. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def obj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")
}
