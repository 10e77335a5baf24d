package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.{Bench, SparkEntry}
import graft.engine.{Graph, Node}
import graft.modules.CorpusModule
import graft.operators.{Components, Dedup, Incremental, TextAnalysis}
import graft.streaming.Streams

/** Order-insensitive digest over every column of a frame: row count plus
  * the exact sum of per-row xxhash64 values. It is the timed action of
  * every op, so no output column can be pruned away, and it is compared
  * against the digest of an independently produced reference. */
object Digest {
  def of(df: DataFrame): String = {
    val names = df.columns.indices.map(i => s"c$i")
    val d = df.toDF(names: _*)
    val r = d.agg(count(lit(1)), coalesce(
      sum(xxhash64(struct(names.map(col): _*)).cast("decimal(20,0)")),
      lit(java.math.BigDecimal.ZERO))).head
    s"${r.getLong(0)}:${r.getDecimal(1)}"
  }

  /** Digest of in-memory rows under `schema`. */
  def ofRows(spark: SparkSession, rows: Seq[Row], schema: StructType): String =
    of(spark.createDataFrame(rows.asJava, schema))
}

/** One op: its latency, the input items it processed, and whether its
  * output was correct (decided after the timed loop). */
final case class Op(latencyS: Double, items: Long)

/** One timed call into the program. Most calls are one op; a stream call
  * is one op per micro-batch. `tag` names what was run (the query, or the
  * stream's sink dir); `digest` is checked by [[Workload.verify]]; `layer`
  * holds per-call values only a workload can measure. */
final case class Call(ops: Seq[Op], timedS: Double, tag: String, digest: String,
    layer: Map[String, Double] = Map.empty, error: Option[String] = None)

trait Workload {
  /** Generate or land inputs. */
  def setup(): Unit
  def call(i: Int, t: Tracer): Call
  /** Ops one call is expected to produce (what a failed call counts as). */
  def opsPerCall: Int = 1
  /** Whether the timed loop may stop after the current call. */
  def atBoundary: Boolean = true
  /** Untimed calls after setup: a fresh JVM keeps compiling for several
    * passes, and ops timed before that converges vary run to run. */
  def warmCalls: Int
  /** Per-call correctness against references built outside the timed path. */
  def verify(calls: Seq[Call]): Seq[Boolean]
  /** Traced runs only: standalone operator spans, each one call. */
  def operatorSpans(t: Tracer): Map[String, Double] = Map.empty
  /** Input sizes, stamped into the record. */
  def sizes: Map[String, Double]
  /** Workload-specific fields of the result record (JSON members). */
  def extraJson: Seq[String] = Nil
}

object Workload {
  def dirBytes(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((b, n), f) => (b + Files.size(f), n + 1) }
      finally s.close()
    }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Wrap every node fn in a span, from outside the graph. */
  def tracedNodes(nodes: Seq[Node], t: Tracer): Seq[Node] =
    nodes.map(n => n.copy(fn = (m: Map[String, DataFrame]) =>
      t.span(s"node.${n.id}")(n.fn(m))))
}

/** Replays a fixed stride of the default-class declared queries that have
  * a DuckDB oracle, one query per op, in a seeded order per cycle; the loop
  * only stops at a cycle boundary, so every query weighs the same in a run.
  * Setup writes each query's result as parquet: that file is the reference
  * the runner checks against the oracle, and each op's digest must equal
  * the digest of that file read back. */
final class Catalog(spark: SparkSession, sfDir: String, root: String, seed: Long)
    extends Workload {
  private val names = SparkEntry.queries.keys
    .filter(n => Bench.queryClass(n) == "default" && SparkEntry.oracleSql.contains(n))
    .toSeq.sorted
  val sample: Seq[String] = names.indices.filter(_ % Catalog.stride == 0).map(names)
  private val rng = new scala.util.Random(seed)
  private var order: Iterator[String] = Iterator.empty
  private val refFailed = mutable.Set[String]()
  private def ref(q: String) = s"$root/ref/$q"
  /** Two cycles, after the cycle that writes the references. */
  def warmCalls: Int = 2 * sample.size

  def setup(): Unit = sample.foreach { q =>
    val t0 = System.nanoTime()
    try SparkEntry.queries(q)(spark, sfDir).write.mode("overwrite").parquet(ref(q))
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[perfbench] reference $q failed: $e"); refFailed += q }
    System.err.println(f"[perfbench] reference $q ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  override def atBoundary: Boolean = !order.hasNext

  def call(i: Int, t: Tracer): Call = {
    if (!order.hasNext) order = rng.shuffle(sample).iterator
    val q = order.next()
    val (d, s) = Workload.timed {
      val df = t.span("query.wire")(SparkEntry.queries(q)(spark, sfDir))
      t.span("action")(Digest.of(df))
    }
    Call(Seq(Op(s, 1)), s, q, d)
  }

  def verify(calls: Seq[Call]): Seq[Boolean] = {
    val refDigest = calls.map(_.tag).distinct.filterNot(refFailed).map(q =>
      q -> Digest.of(spark.read.parquet(ref(q)))).toMap
    calls.map(c => refDigest.get(c.tag).contains(c.digest))
  }

  def sizes: Map[String, Double] = Map("queries" -> sample.size.toDouble)

  override def extraJson: Seq[String] = Seq(
    "\"catalog\":" + sample.filterNot(refFailed).map(q =>
      s"""${Json.str(q)}:{"ref":${Json.str(ref(q))},"sql":${
        Json.str(SparkEntry.oracleSql(q))}}""").mkString("{", ",", "}"))
}

object Catalog {
  /** Every 38th name of the sorted default-class rows: 7 queries. An odd
    * count keeps the median op inside one query's latencies. */
  val stride = 38
}

/** `Streams.corpusIngest` with the default module graph over the corpus
  * landed as `blocks` one-file blocks. One call ingests every block into
  * fresh sink, checkpoint and run-log dirs; each micro-batch is one op,
  * timed by the trigger listener. */
final class CorpusStream(spark: SparkSession, root: String, seed: Long,
    baseDocs: Long, blocks: Int, triggers: TriggerLedger) extends Workload {
  private lazy val docs = spark.read.parquet(s"$root/sdocs")
  private val src = s"$root/landed"
  private var nDocs = 0L
  private var landedBytes = 0L
  override def opsPerCall: Int = blocks

  private def graph(t: Tracer): Graph =
    if (t.enabled) new Graph(Workload.tracedNodes(CorpusModule.nodes(), t))
    else CorpusModule.graph()

  private def dirs(tag: String) =
    Seq("kept", "ckpt", "log").map(d => s"$root/calls/$tag/$d")

  def warmCalls: Int = 2

  def setup(): Unit = {
    Inputs.corpus(spark, seed, baseDocs, 8, s"$root/sdocs")
    nDocs = docs.count()
    Streams.landBlocks(docs, src, blocks)
    landedBytes = (0 until blocks).map(i =>
      Workload.dirBytes(Paths.get(s"$src/p$i"))._1).sum
  }

  def call(i: Int, t: Tracer): Call = {
    val Seq(k, c, l) = dirs(s"c$i")
    triggers.drainTriggers()
    val ((_, batches), s) = Workload.timed(t.span("stream.corpusIngest")(
      Streams.corpusIngest(docs, graph(t), src, k, c, l, blocks)))
    t.drain(spark.sparkContext)
    val trig = triggers.drainTriggers()
    val err =
      if (batches != blocks || trig.size != blocks)
        Some(s"expected $blocks micro-batches, got $batches (${trig.size} triggers)")
      else None
    val layer =
      if (!t.enabled) Map.empty[String, Double]
      else {
        val (kb, kf) = Workload.dirBytes(Paths.get(k))
        val (cb, _) = Workload.dirBytes(Paths.get(c))
        val (lb, _) = Workload.dirBytes(Paths.get(l))
        Seq("addBatch", "queryPlanning", "walCommit", "latestOffset", "getBatch")
          .map(p => s"trigger.${p}_ms" -> trig.map(_.durations.getOrElse(p, 0.0)).sum)
          .toMap ++ Map("trigger.rows" -> trig.map(_.rows).sum.toDouble,
          "write.bytes" -> kb.toDouble, "write.files" -> kf.toDouble,
          "runlog.bytes" -> lb.toDouble,
          "write_amp" -> (kb + cb + lb).toDouble / landedBytes)
      }
    Call(trig.map(tr => Op(tr.latencyS, tr.rows)), s, k, "", layer, err)
  }

  /** Each call's kept union must equal the union of a plain `Graph.run`
    * of the module over each landed block. */
  def verify(calls: Seq[Call]): Seq[Boolean] = {
    val ref = Digest.of((0 until blocks).map(i =>
      CorpusModule.graph().run(Map("docs" -> spark.read.parquet(s"$src/p$i")))("kept"))
      .reduce(_.unionByName(_)))
    calls.map(c => c.error.isEmpty &&
      Digest.of(spark.read.parquet(c.tag).drop("batch")) == ref)
  }

  /** The module's stages, the near-dup stages it leaves out and the
    * iterative graph operators, each as a standalone public call on the
    * English docs of the same corpus (or their near-dup pair graph),
    * materialized by the digest action. */
  override def operatorSpans(t: Tracer): Map[String, Double] = {
    val eval = Inputs.evalSet(spark, seed)
    val norm = Incremental.schemaCast(docs, CorpusModule.schema)
      .filter(col("lang") === "en").localCheckpoint(true)
    val deduped = CorpusModule.dedupe(norm).localCheckpoint(true)
    val pairs = Dedup.jaccardPairs(deduped, "id", "lang", "text", 0.9)
      .localCheckpoint(true)
    val spans = mutable.LinkedHashMap[String, Double]()
    /** Times one call; returns the row count of its output. */
    def span(name: String)(df: => DataFrame): Long = {
      val (d, s) = Workload.timed(t.op(s"op.$name")(Digest.of(df)))
      spans(s"op.${name}_s") = s
      d.takeWhile(_ != ':').toLong
    }
    span("Dedup.decontaminate")(Dedup.decontaminate(norm, eval, "id", "text", 5))
    span("TextAnalysis.scrubPii")(norm.withColumn("text", TextAnalysis.scrubPii(col("text"))))
    val input = span("CorpusModule.dedupe")(CorpusModule.dedupe(norm))
    val nPairs = span("Dedup.jaccardPairs")(
      Dedup.jaccardPairs(deduped, "id", "lang", "text", 0.9))
    val kept = span("Components.keepClusterKeepers")(
      Components.keepClusterKeepers(deduped, "id", pairs, "da", "db"))
    span("CorpusModule.score")(CorpusModule.score(norm))
    // the iterative loops' per-round cost, on the near-dup pair graph
    val edges = pairs.select(col("da").as("src"), col("db").as("dst"))
    GraphRounds.algos.foreach { case (n, f) =>
      val jobs = t.jobs
      span(s"Components.$n")(f(edges))
      spans(s"op.Components.${n}_jobs") = t.jobs - jobs
    }
    spans.toMap ++ Map("dedup.pairs" -> nPairs.toDouble,
      "dedup.kept_ratio" -> kept.toDouble / input)
  }

  def sizes: Map[String, Double] = Map("docs" -> nDocs.toDouble,
    "base_docs" -> baseDocs.toDouble, "blocks" -> blocks.toDouble,
    "bytes" -> landedBytes.toDouble)
}

/** One op is one pass of connectedComponents, pageRank(iters=5),
  * labelPropagation and bfsDistances over the seeded edge list, each
  * result materialized by the digest action. */
final class GraphRounds(spark: SparkSession, root: String, seed: Long,
    edgeCount: Long) extends Workload {
  private lazy val edges = spark.read.parquet(s"$root/edges")
  private var nEdges = 0L
  private val schemas = mutable.Map[String, StructType]()
  import GraphRounds.algos
  def warmCalls: Int = 1

  def setup(): Unit = {
    Inputs.graph(spark, seed, edgeCount, 8, s"$root/edges")
    nEdges = edges.count()
    algos.foreach { case (n, f) =>
      val r = f(edges); schemas(n) = r.schema; Digest.of(r) }
  }

  def call(i: Int, t: Tracer): Call = {
    val layer = mutable.Map[String, Double]()
    val (ds, s) = Workload.timed(algos.map { case (n, f) =>
      val jobs = if (t.enabled) t.jobs else 0.0
      val (d, secs) = Workload.timed(t.span(s"op.Components.$n")(Digest.of(f(edges))))
      if (t.enabled) {
        layer(s"op.Components.${n}_s") = secs
        layer(s"op.Components.${n}_jobs") = t.jobs - jobs
      }
      d
    })
    Call(Seq(Op(s, nEdges)), s, "graph", ds.mkString("|"), layer.toMap)
  }

  /** Digests must equal those of an in-memory union-find, integer power
    * iteration, label propagation and BFS over the collected edges. */
  def verify(calls: Seq[Call]): Seq[Boolean] = {
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val refs = Seq("connectedComponents" -> GraphRef.components(e),
      "pageRank" -> GraphRef.pageRank(e, 5),
      "labelPropagation" -> GraphRef.labelPropagation(e, 3),
      "bfsDistances" -> GraphRef.bfs(e, 0L))
    val ref = refs.map { case (n, rows) =>
      Digest.ofRows(spark, rows.map { case (a, b) => Row(a, b) }, schemas(n))
    }.mkString("|")
    calls.map(_.digest == ref)
  }

  def sizes: Map[String, Double] = Map("edges" -> nEdges.toDouble,
    "vertices" -> (edgeCount / 15).toDouble,
    "bytes" -> Workload.dirBytes(Paths.get(s"$root/edges"))._1.toDouble)
}

object GraphRounds {
  val algos: Seq[(String, DataFrame => DataFrame)] = Seq(
    "connectedComponents" -> (e => Components.connectedComponents(e)),
    "pageRank" -> (e => Components.pageRank(e, iters = 5)),
    "labelPropagation" -> (e => Components.labelPropagation(e)),
    "bfsDistances" -> (e => Components.bfsDistances(e)))
}

/** Driver-side reference graph algorithms, written from the operators'
  * documented semantics with plain collections. */
object GraphRef {
  type Edges = Array[(Long, Long)]

  private def vertices(e: Edges): Array[Long] =
    e.flatMap { case (s, d) => Array(s, d) }.distinct

  def components(e: Edges): Seq[(Long, Long)] = {
    val parent = mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val n = parent(y); parent(y) = r; y = n }
      r
    }
    vertices(e).foreach(v => parent(v) = v)
    e.foreach { case (s, d) =>
      val (a, b) = (find(s), find(d))
      if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
    }
    parent.keys.toSeq.map(v => (v, find(v)))
  }

  /** `Components.pageRank` defaults: scale 1e9, damping 85/100, integer
    * division throughout. */
  def pageRank(e: Edges, iters: Int): Seq[(Long, Long)] = {
    val es = e.distinct
    val scale = 1000000000L
    val base = (100L - 85L) * (scale / 100L)
    val deg = es.groupBy(_._1).map { case (s, xs) => s -> xs.length.toLong }
    var rank = vertices(es).map(_ -> scale).toMap
    for (_ <- 1 to iters) {
      val inflow = mutable.HashMap[Long, Long]().withDefaultValue(0L)
      es.foreach { case (s, d) => inflow(d) += rank(s) / deg(s) }
      rank = rank.map { case (v, _) => v -> (base + (85L * inflow(v)) / 100L) }
    }
    rank.toSeq
  }

  /** Synchronous rounds over directed edges: each vertex adopts its
    * in-neighbours' most frequent label, ties to the smallest; a vertex
    * with no in-edges keeps its label. */
  def labelPropagation(e: Edges, rounds: Int): Seq[(Long, Long)] = {
    val es = e.distinct
    var lbl = vertices(es).map(v => v -> v).toMap
    for (_ <- 1 to rounds) {
      val votes = mutable.HashMap[Long, mutable.HashMap[Long, Int]]()
      es.foreach { case (s, d) =>
        val m = votes.getOrElseUpdate(d, mutable.HashMap[Long, Int]())
        m(lbl(s)) = m.getOrElse(lbl(s), 0) + 1
      }
      lbl = lbl.map { case (v, l) =>
        v -> votes.get(v).map(_.toSeq.maxBy { case (lb, c) => (c, -lb) }._1).getOrElse(l)
      }
    }
    lbl.toSeq
  }

  def bfs(e: Edges, source: Long): Seq[(Long, Long)] = {
    val out = e.distinct.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2) }
    val dist = mutable.HashMap(source -> 0L)
    var frontier = Seq(source)
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap { v =>
        out.getOrElse(v, Array.empty[Long]).filterNot(dist.contains).distinct.map { w =>
          dist(w) = dist(v) + 1; w }
      }.distinct
    }
    dist.toSeq
  }
}
