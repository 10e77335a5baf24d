package graft.engine

import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** The dags-shaped orchestration layer (SURVEY §1.1, §3.2.4): nodes are
  * configured compute functions over upstream DataFrames; the graph runs
  * them in topological order. Pure driver-side wiring — executors only ever
  * see the Catalyst plans the node functions declare, so the layer adds no
  * distributed cost at any scale.
  */
final case class Node(id: String, deps: Seq[String],
    fn: Map[String, DataFrame] => DataFrame)

object Node {
  /** Index of the first char after leading whitespace and leading SQL
    * comments (`--` line comments and slash-star block comments) — where
    * the query's first real token starts. Unterminated comments consume
    * to end (analysis will fail loudly on such input anyway). */
  private def afterLeadingTrivia(q: String): Int = {
    var i = 0
    var moved = true
    while (moved) {
      moved = false
      while (i < q.length && q(i).isWhitespace) { i += 1; moved = true }
      if (q.startsWith("--", i)) {
        val nl = q.indexOf('\n', i)
        i = if (nl < 0) q.length else nl + 1; moved = true
      } else if (q.startsWith("/*", i)) {
        // Spark SQL bracketed comments NEST — track depth
        var depth = 1
        var j = i + 2
        while (j < q.length && depth > 0) {
          if (q.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (q.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        }
        i = j; moved = true
      }
    }
    i
  }

  /** A SQL pipe (the reference's signature node kind): upstream frames are
    * registered as temp views, then the SQL text runs against them —
    * Catalyst plans it like any DataFrame node.
    *
    * The views are UUID-SUFFIXED and the dep names are bound to them by a
    * prepended CTE clause (`WITH dep AS (SELECT * FROM dep_g<uuid>) …`):
    * CTE names shadow catalog views during analysis, so the query text
    * keeps referring to plain dep names while the session catalog only
    * ever sees this node's private view names. That closes both hazards
    * of plain-name binding — a pre-existing user temp view sharing a dep
    * name is never replaced or dropped, and two graphs with overlapping
    * dep names can evaluate concurrently in one session without
    * cross-binding inside the create/sql window (the Queries.withViews
    * discipline, applied to the module API). The uuid views are dropped
    * right after the eager sql() analysis, which inlines their subplans
    * into the returned frame. One documented restriction: the query text
    * may not define a CTE with the SAME name as a dep (the prepended
    * definition would collide — analysis fails loudly rather than
    * silently shadowing). */
  def sql(id: String, deps: Seq[String], query: String): Node =
    Node(id, deps, upstream => {
      require(upstream.nonEmpty, s"sql node $id needs at least one upstream")
      val spark = upstream.values.head.sparkSession
      val sfx = java.util.UUID.randomUUID().toString.replace("-", "")
      val bound = upstream.keys.map(n => n -> s"${n}_g$sfx").toMap
      val cteDefs = bound.toSeq.sortBy(_._1)
        .map { case (n, v) => s"$n AS (SELECT * FROM $v)" }.mkString(", ")
      // merge with the query's own WITH clause if it has one (RECURSIVE
      // applies to the whole clause, so the prefix keeps it leading);
      // detection must skip leading -- and /* */ comments, or a commented
      // WITH-query would get a second WITH prepended and fail analysis
      val p = afterLeadingTrivia(query)
      val rest = query.substring(p)
      val recRe = "(?is)^WITH\\s+RECURSIVE\\b".r
      val withRe = "(?is)^WITH\\b".r
      val quoted = java.util.regex.Matcher.quoteReplacement(cteDefs)
      val rewritten =
        if (recRe.findFirstIn(rest).isDefined)
          query.take(p) + recRe.replaceFirstIn(rest, s"WITH RECURSIVE $quoted,")
        else if (withRe.findFirstIn(rest).isDefined)
          query.take(p) + withRe.replaceFirstIn(rest, s"WITH $quoted,")
        else s"WITH $cteDefs $query"
      upstream.foreach { case (name, df) =>
        df.createOrReplaceTempView(bound(name)) }
      try spark.sql(rewritten)
      finally bound.values.foreach(spark.catalog.dropTempView(_))
    })
}

final class CycleException(msg: String) extends RuntimeException(msg)

final class Graph(val nodes: Seq[Node]) {
  private val byId: Map[String, Node] = nodes.map(n => n.id -> n).toMap
  require(byId.size == nodes.size, "duplicate node ids")

  /** Kahn topological order; throws CycleException on a cycle. */
  def topoOrder: Seq[Node] = {
    val inDeg = scala.collection.mutable.Map[String, Int]()
    nodes.foreach(n => inDeg(n.id) = n.deps.count(byId.contains))
    val out = nodes.map(n => n.id -> nodes.filter(_.deps.contains(n.id)).map(_.id)).toMap
    val q = scala.collection.mutable.Queue(nodes.filter(n => inDeg(n.id) == 0).map(_.id): _*)
    val order = scala.collection.mutable.ArrayBuffer[String]()
    while (q.nonEmpty) {
      val id = q.dequeue(); order += id
      out(id).foreach { d => inDeg(d) -= 1; if (inDeg(d) == 0) q.enqueue(d) }
    }
    if (order.size != nodes.size)
      throw new CycleException(s"cycle among ${inDeg.filter(_._2 > 0).keys.mkString(", ")}")
    order.map(byId).toSeq
  }

  /** Run every node once: inputs = already-materialized upstream frames
    * (external sources keyed by id). Each node's output is registered for
    * downstream nodes; `log`, when set, records the run. */
  def run(inputs: Map[String, DataFrame] = Map.empty,
      log: Option[RunLog] = None): Map[String, DataFrame] = {
    val produced = scala.collection.mutable.Map[String, DataFrame](inputs.toSeq: _*)
    topoOrder.foreach { n =>
      val upstream = n.deps.map { d =>
        d -> produced.getOrElse(d,
          throw new IllegalArgumentException(s"node ${n.id}: missing upstream $d"))
      }.toMap
      val outDf = n.fn(upstream)
      produced(n.id) = outDf
      log.foreach(_.append(n.id))
    }
    produced.toMap
  }

  /** Incremental run — the defining block-consumption semantic: each
    * source in `blockSources` is an ordered list of (blockId, frame), and
    * a run consumes ONLY blocks not yet recorded as consumed in `log`.
    * Nodes see the union of their sources' NEW blocks (delta propagation
    * for insert-only pipelines; a source with nothing new contributes an
    * empty delta of its schema). When no source has new blocks the run is
    * a no-op returning an empty map — nothing is recomputed, nothing is
    * logged. Each node's run-log entry records the block ids it
    * transitively consumed (lineage).
    *
    * AT-LEAST-ONCE: node functions only BUILD plans — real work happens
    * when outputs are materialized. Pass your materialization (sink
    * writes, counts) as `sink`: blocks are marked consumed only after it
    * returns, so a failed write leaves them unconsumed and the next run
    * retries them. With the default no-op sink, marking happens at
    * plan-wiring time and an action-time failure will NOT be retried —
    * only use the default when the caller materializes nothing durable.
    *
    * Driver-side wiring only: the delta union is a metadata-only plan, so
    * at 100 TB a run costs the new blocks' scan, never the backlog's. */
  def runIncremental(blockSources: Map[String, Seq[(String, DataFrame)]],
      log: RunLog,
      inputs: Map[String, DataFrame] = Map.empty,
      sink: Map[String, DataFrame] => Unit = _ => ()): Map[String, DataFrame] = {
    // an empty map would make the everything-consumed check below vacuously
    // true and silently no-op a graph wired purely from `inputs` — that
    // caller wants run(), not runIncremental()
    require(blockSources.nonEmpty,
      "runIncremental needs at least one block source; use run() for " +
        "non-incremental graphs")
    blockSources.foreach { case (src, blocks) =>
      require(blocks.nonEmpty, s"block source $src has no blocks") }
    // validate EVERY id that post-sink logging will touch BEFORE wiring or
    // materializing anything: a bad id must fail here, where nothing has
    // happened yet — failing at the post-sink append would leave the sink's
    // output durable but the blocks unmarked, a half-committed run that
    // re-materializes on every retry and never completes
    blockSources.foreach { case (src, blocks) =>
      log.validateSourceId(src)
      blocks.foreach { case (bid, _) => log.validateBlockId(bid) }
    }
    topoOrder.foreach(n => log.validateNodeId(n.id))
    val fresh: Map[String, Seq[(String, DataFrame)]] = blockSources.map {
      case (src, blocks) =>
        val seen = log.consumedBlocks(src)
        src -> blocks.filterNot { case (bid, _) => seen(bid) }
    }
    if (fresh.values.forall(_.isEmpty)) return Map.empty
    val deltas = blockSources.map { case (src, blocks) =>
      val news = fresh(src)
      // allowMissingColumns: block schemas may have evolved; an exhausted
      // source contributes an empty delta of its NEWEST block's schema
      src -> (if (news.isEmpty) blocks.last._2.limit(0)
              else news.map(_._2).reduce(_.unionByName(_, allowMissingColumns = true)))
    }
    // transitive source-block lineage per node
    val consumedBy = scala.collection.mutable.Map[String, Seq[String]]()
    val produced = scala.collection.mutable.Map[String, DataFrame](
      (inputs ++ deltas).toSeq: _*)
    // lineage rows are BUFFERED during plan wiring and appended only after
    // the sink materializes: runs.log must record runs that durably
    // happened, not plans that were wired — a sink failure + retry would
    // otherwise log the same run twice while never completing it
    val pendingLineage = scala.collection.mutable.ArrayBuffer[(String, Seq[String])]()
    topoOrder.foreach { n =>
      val upstream = n.deps.map { d =>
        d -> produced.getOrElse(d,
          throw new IllegalArgumentException(s"node ${n.id}: missing upstream $d"))
      }.toMap
      produced(n.id) = n.fn(upstream)
      consumedBy(n.id) = n.deps.flatMap { d =>
        fresh.get(d).map(_.map(_._1)).getOrElse(consumedBy.getOrElse(d, Nil))
      }.distinct
      pendingLineage += (n.id -> consumedBy(n.id))
    }
    val out = produced.toMap
    sink(out) // materialize BEFORE logging/marking: a throw here leaves
              // blocks unconsumed and runs.log untouched (retry-safe)
    pendingLineage.foreach { case (id, consumed) => log.append(id, consumed) }
    fresh.foreach { case (src, news) =>
      if (news.nonEmpty) log.markConsumed(src, news.map(_._1)) }
    out
  }
}

/** DataSet TIME TRAVEL over the run log — the reference's "state of a
  * node as of run N" semantic, reconstructed from lineage alone: every
  * run records which source blocks a node consumed, so the node's
  * accumulated input at any historical run is exactly the union of the
  * blocks recorded at or before it. Replaying the node's (pure) pipe over
  * that union reproduces its historical output deterministically — no
  * stored snapshots, no copies; the block parquet IS the history. At
  * 100 TB the snapshot costs the consumed blocks' scan, never the
  * backlog's, and the union is metadata-only plan wiring. */
object Snapshot {

  /** The union of every source block `nodeId` had consumed by run `seq`
    * (inclusive), per `log`'s lineage; `blocks` maps block id → frame.
    * Frames union by name with missing columns allowed, mirroring
    * [[Graph.runIncremental]]'s delta union, so schema evolution across
    * blocks replays identically. Raises if the node had consumed nothing
    * by `seq` or a consumed block's frame is missing. */
  def asOf(log: RunLog, nodeId: String, blocks: Map[String, DataFrame],
      seq: Long): DataFrame = {
    val ids = log.lineage
      .filter { case (s, id, _) => s <= seq && id == nodeId }
      .flatMap(_._3).distinct
    require(ids.nonEmpty,
      s"node '$nodeId' had consumed no blocks at or before run $seq")
    val missing = ids.filterNot(blocks.contains)
    require(missing.isEmpty,
      s"no frame supplied for consumed block(s): ${missing.mkString(", ")}")
    ids.map(blocks).reduce(_.unionByName(_, allowMissingColumns = true))
  }
}

/** Append-only run log + high-watermark store + consumed-block ledger —
  * the reference's metadata DB reduced to its three jobs: which node ran
  * with which input blocks (lineage / idempotent re-run bookkeeping), the
  * incremental-consumption watermark per node, and the per-source set of
  * already-consumed block ids. Driver-side file state (tiny), matching the
  * reference's SQLAlchemy log in role. */
final class RunLog(dir: String) {
  Files.createDirectories(Paths.get(dir))
  private val runsPath = Paths.get(dir, "runs.log")
  private val wmDir = Paths.get(dir, "watermarks")
  private val consumedDir = Paths.get(dir, "consumed")
  Files.createDirectories(wmDir)
  Files.createDirectories(consumedDir)
  private var seq = runs.lastOption.map(_._1).getOrElse(0L) // survive reopen

  // Two id classes with different hazards: source and node ids become FILE
  // NAMES under the ledger dir (watermarks/<node>, consumed/<source>), so
  // they must not contain path separators ('../runs.log' must not resolve
  // outside the ledger). Block ids are only ever CONTENT — comma-joined in
  // runs.log lines, newline-delimited in the consumed ledger — so they may
  // contain '/' (the natural shape for path-derived block ids like
  // 'events/dt=2024-08-01/part-0') and need only the delimiter check.
  private def checkFileId(kind: String, id: String): Unit =
    require(id.nonEmpty &&
        !id.exists(c => c == '\t' || c == '\n' || c == '\r' || c == ',' ||
          c == '/' || c == '\\'),
      s"$kind id is empty or contains a delimiter/path character " +
        s"(tab/newline/comma/slash): '$id'")
  private def checkContentId(kind: String, id: String): Unit =
    require(id.nonEmpty &&
        !id.exists(c => c == '\t' || c == '\n' || c == '\r' || c == ','),
      s"$kind id is empty or contains a delimiter character " +
        s"(tab/newline/comma): '$id'")

  /** Validation hooks so callers (Graph.runIncremental) can reject bad ids
    * EAGERLY — before any sink materializes — instead of discovering them
    * at post-sink logging time, which would leave a half-committed run. */
  def validateNodeId(id: String): Unit = checkFileId("node", id)
  def validateSourceId(id: String): Unit = checkFileId("source", id)
  def validateBlockId(id: String): Unit = checkContentId("block", id)

  /** Record a node run; `consumed` = source block ids this run drew on. */
  def append(nodeId: String, consumed: Seq[String] = Nil): Unit = synchronized {
    checkFileId("node", nodeId)
    consumed.foreach(checkContentId("block", _))
    seq += 1
    Files.writeString(runsPath, s"$seq\t$nodeId\t${consumed.mkString(",")}\n",
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  def runs: Seq[(Long, String)] = lineage.map { case (s, id, _) => (s, id) }

  /** Full lineage: (seq, nodeId, consumed block ids) per recorded run. */
  def lineage: Seq[(Long, String, Seq[String])] =
    if (!Files.exists(runsPath)) Seq.empty
    else Files.readAllLines(runsPath).asScala.toSeq.map { l =>
      l.split("\t", 3) match {
        case Array(s, id, blocks) =>
          (s.toLong, id, blocks.split(",").filter(_.nonEmpty).toSeq)
        case Array(s, id) => (s.toLong, id, Seq.empty)
      }
    }

  /** Block ids a source has already had consumed (never re-processed). */
  def consumedBlocks(sourceId: String): Set[String] = {
    checkFileId("source", sourceId)
    val p = consumedDir.resolve(sourceId)
    if (!Files.exists(p)) Set.empty
    else Files.readAllLines(p).asScala.filter(_.nonEmpty).toSet
  }

  /** Every block id any lineage row OR any source's consumption ledger
    * references — the load-bearing set [[Vacuum]] must never touch:
    * lineage references keep [[Snapshot.asOf]] reconstructable (and keep
    * a reset source's blocks alive for their pending reconsumption);
    * ledger references cover blocks marked consumed by runs whose
    * lineage predates this log (defensive — the two sets normally
    * overlap). */
  def referencedBlocks: Set[String] = {
    val fromLineage = lineage.flatMap(_._3).toSet
    val fromLedgers = {
      val s = Files.list(consumedDir)
      try s.iterator().asScala
        .flatMap(p => Files.readAllLines(p).asScala.filter(_.nonEmpty))
        .toSet
      finally s.close()
    }
    fromLineage ++ fromLedgers
  }

  /** Forget a source's consumed-block ledger — the BACKFILL switch: after
    * a node-logic fix, resetting a source makes the next `runIncremental`
    * reconsume every block (runs.log lineage is append-only and keeps the
    * old runs' history; only the consumption ledger resets). Sinks must be
    * idempotent per block — overwrite-by-partition or keep-newest merge —
    * which the at-least-once contract already demands. */
  def resetSource(sourceId: String): Unit = synchronized {
    checkFileId("source", sourceId)
    Files.deleteIfExists(consumedDir.resolve(sourceId))
    ()
  }

  /** Mark blocks consumed (append-only ledger, idempotent re-adds). */
  def markConsumed(sourceId: String, blockIds: Seq[String]): Unit = synchronized {
    checkFileId("source", sourceId)
    blockIds.foreach(checkContentId("block", _))
    Files.writeString(consumedDir.resolve(sourceId),
      blockIds.mkString("", "\n", "\n"),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  /** Persisted high-watermark for a node's incremental consumption. */
  def setWatermark(nodeId: String, value: String): Unit = {
    checkFileId("node", nodeId)
    Files.writeString(wmDir.resolve(nodeId), value)
  }

  def watermark(nodeId: String): Option[String] = {
    checkFileId("node", nodeId)
    val p = wmDir.resolve(nodeId)
    if (Files.exists(p)) Some(Files.readString(p)) else None
  }
}
