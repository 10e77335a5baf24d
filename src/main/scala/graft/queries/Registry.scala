package graft.queries

/** One declared query: its name (the driver-contract key), its plan, its
  * DuckDB oracle SQL (`None` only for the sketch rows that `EntrySpec`
  * bounds instead), and how [[graft.Bench]] runs and stamps it. */
final case class QueryDef(name: String, build: Queries.Q,
    oracle: Option[String], run: QueryDef.Run = QueryDef.Shared,
    cls: QueryDef.Cls = QueryDef.Default)

object QueryDef {
  sealed trait Run
  /** Timed in a block of ~30 queries sharing one child JVM. */
  case object Shared extends Run
  /** Timed alone in a fresh child JVM after [[graft.Bench.soloWarms]]
    * untimed passes: the multi-round iterative family (per-round
    * localCheckpoint blocks + barrier jobs) plus every query the round-7
    * driver run inflated past 7 s, whose in-suite times must track their
    * isolated medians for the bench to be robust. */
  case object Solo extends Run
  /** Solo, and timed as the min of [[graft.Bench.roamerReps]] windows:
    * fixed-cost queries whose single window has printed 3-6× their
    * stable isolated median under host contention even as singleton JVMs
    * (r9 driver: q_stream_pipeline 12.94 s vs a 2.0-2.5 s four-run
    * reference, q_tree_depth 3.76 s vs 1.41 s; r13: q_rcte_decay 11.18 s
    * and q_holt_grouped 10.21 s against 3.8-4.9 s, q_random_walk +2.9 s,
    * all with code unchanged; 27 sequential recursion micro-rounds make
    * the UnionLoop pair the most scheduling-noise-sensitive plans in the
    * suite). One roaming window cannot survive two quiet ones, and at
    * ~2 s steady state the extra window costs ~4 s of untimed wall clock
    * total. */
  case object Roamer extends Run

  /** Fixed-cost class stamped into BENCH_DETAIL (round-14 verdict #3):
    * `Stream` rows time real Structured-Streaming orchestration (landing
    * + checkpoint + two micro-batches), `Codec` rows time in-plan media
    * encode/decode; regression sweeps filter them mechanically. */
  sealed trait Cls
  case object Default extends Cls
  case object Stream extends Cls
  case object Codec extends Cls
}

/** The query registry: one [[QueryDef]] per declared query, and the only
  * place a query name is written. Oracle texts (SURVEY.md Appendix A,
  * validated cross-engine at sf0.01) run on views named after the parquet
  * tables; dialect deltas vs Spark are noted inline.
  */
object Registry {
  import QueryDef._

  /** Block-scoped corpus chain WITH the near-dup ladder, shared by
    * q_corpus_incr_neardup (ledger-fed parity blocks) and
    * q_corpus_stream_neardup (micro-batch-fed parity blocks): identical
    * per-delta semantics, one SQL spelling. Both dedupe scopes are
    * block-local — the exact window partitions on (blk, fingerprint)
    * and the pair join requires a.blk = b.blk, which makes the
    * recursive closure block-local without touching the reach CTE. */
  private val corpusIncrNeardupSql: String =
      ("WITH RECURSIVE n AS (SELECT CAST(doc_id AS BIGINT) id, text, lang, CAST(n_chars AS INT) n_chars, " +
        "doc_id % 2 AS blk FROM documents WHERE doc_id < 400), " +
        "sc AS (SELECT id, regexp_replace(regexp_replace(text, " +
        "'[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g'), " +
        "'\\d{3}-\\d{3}-\\d{4}', '<PHONE>', 'g') AS \"text\", lang, n_chars, blk FROM n), " +
        "dd AS (SELECT * FROM sc QUALIFY row_number() OVER (PARTITION BY blk, md5(\"text\") ORDER BY id) = 1), " +
        "d2 AS (SELECT id, blk, lang, list_distinct(string_split(\"text\", ' ')) toks FROM dd), " +
        "tok AS (SELECT id, blk, lang, len(toks) nt, unnest(toks) w FROM d2), " +
        "g AS (SELECT a.id da, b.id db, a.nt na, b.nt nb, count(*) inter " +
        "FROM tok a JOIN tok b ON a.w = b.w AND a.blk = b.blk AND a.lang = b.lang AND a.id < b.id GROUP BY 1,2,3,4), " +
        "p AS (SELECT da, db FROM g WHERE inter/CAST(na+nb-inter AS DOUBLE) >= 0.9), " +
        "sym AS (SELECT da s, db t FROM p UNION SELECT db, da FROM p), " +
        "reach(id, r) AS (SELECT s, s FROM (SELECT DISTINCT s FROM sym) u " +
        "UNION SELECT sym.t, reach.r FROM reach JOIN sym ON sym.s = reach.id), " +
        "cc AS (SELECT id, min(r) comp FROM reach GROUP BY id), " +
        "losers AS (SELECT id FROM cc WHERE id <> comp), " +
        "nd AS (SELECT * FROM dd WHERE id NOT IN (SELECT id FROM losers)), " +
        "gr AS (SELECT id, lang, n_chars, string_split(\"text\", ' ') ws FROM nd), " +
        "rep AS (SELECT id, floor((1 - count(DISTINCT s)/CAST(count(*) AS DOUBLE))*10000 + 0.5)/10000 repetition " +
        "FROM (SELECT id, array_to_string(ws[i:i+1], ' ') s " +
        "FROM (SELECT id, ws, unnest(range(1, greatest(len(ws)-1,1)+1)) i FROM gr) t) sh GROUP BY id), " +
        "scored AS (SELECT gr.id, gr.lang, gr.n_chars, " +
        "floor((least(gr.n_chars/400.0, 1.0)*0.5 + " +
        "(len(list_filter(gr.ws, w -> w IN ('the', 'a')))/CAST(len(gr.ws) AS DOUBLE))*0.3 + " +
        "least(len(gr.ws)/80.0, 1.0)*0.2)*10000 + 0.5)/10000 quality, rep.repetition " +
        "FROM gr JOIN rep USING (id)) " +
        "SELECT id, lang, n_chars, quality, repetition FROM scored " +
        "WHERE quality >= 0.5 AND repetition <= 0.9 ORDER BY id LIMIT 100")

  /** Block-scoped corpus chain (exact dedupe only), shared by
    * q_corpus_incr (ledger-fed parity blocks) and q_corpus_stream
    * (micro-batch-fed parity blocks): identical delta semantics, one
    * SQL spelling. */
  private val corpusIncrSql: String =
    ("WITH n AS (SELECT CAST(doc_id AS BIGINT) id, text, lang, CAST(n_chars AS INT) n_chars, " +
        "doc_id % 2 AS blk FROM documents), " +
        "sc AS (SELECT id, regexp_replace(regexp_replace(text, " +
        "'[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g'), " +
        "'\\d{3}-\\d{3}-\\d{4}', '<PHONE>', 'g') AS \"text\", lang, n_chars, blk FROM n), " +
        "dd AS (SELECT * FROM sc QUALIFY row_number() OVER (PARTITION BY blk, md5(\"text\") ORDER BY id) = 1), " +
        "gr AS (SELECT id, lang, n_chars, string_split(\"text\", ' ') ws FROM dd), " +
        "rep AS (SELECT id, floor((1 - count(DISTINCT s)/CAST(count(*) AS DOUBLE))*10000 + 0.5)/10000 repetition " +
        "FROM (SELECT id, array_to_string(ws[i:i+1], ' ') s " +
        "FROM (SELECT id, ws, unnest(range(1, greatest(len(ws)-1,1)+1)) i FROM gr) t) sh GROUP BY id), " +
        "scored AS (SELECT gr.id, gr.lang, gr.n_chars, " +
        "floor((least(gr.n_chars/400.0, 1.0)*0.5 + " +
        "(len(list_filter(gr.ws, w -> w IN ('the', 'a')))/CAST(len(gr.ws) AS DOUBLE))*0.3 + " +
        "least(len(gr.ws)/80.0, 1.0)*0.2)*10000 + 0.5)/10000 quality, rep.repetition " +
        "FROM gr JOIN rep USING (id)) " +
        "SELECT id, lang, n_chars, quality, repetition FROM scored " +
        "WHERE quality >= 0.5 AND repetition <= 0.9 ORDER BY id LIMIT 100")

  // the three ANN ranking texts are shared: each stands as its own
  // oracle entry AND composes into q_ann_recall's recall@10 readout
  private val cosineTopkSql: String =
    "WITH qv AS (SELECT u.i AS i, u.v AS v FROM (SELECT unnest(embedding) v, generate_subscripts(embedding,1) i FROM embeddings WHERE vec_id=0) u), ev AS (SELECT vec_id, unnest(embedding) v, generate_subscripts(embedding,1) i FROM embeddings WHERE vec_id<>0), d AS (SELECT ev.vec_id, sum(ev.v*qv.v) dot, sqrt(sum(ev.v*ev.v)) nrm FROM ev JOIN qv ON ev.i=qv.i GROUP BY ev.vec_id), nq AS (SELECT sqrt(sum(v*v)) n FROM qv) SELECT d.vec_id, round(d.dot/(d.nrm*nq.n),4) cos FROM d, nq ORDER BY cos DESC, d.vec_id LIMIT 10"
  private val annLshSql: String =
    "WITH b AS (SELECT vec_id, embedding, 4*(CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END) + 2*(CASE WHEN embedding[2] > 0 THEN 1 ELSE 0 END) + (CASE WHEN embedding[3] > 0 THEN 1 ELSE 0 END) bk FROM embeddings), qb AS (SELECT bk FROM b WHERE vec_id=0), cand AS (SELECT b.vec_id, b.embedding FROM b, qb WHERE b.bk=qb.bk AND b.vec_id<>0), qv AS (SELECT u.i i, u.v v FROM (SELECT unnest(embedding) v, generate_subscripts(embedding,1) i FROM embeddings WHERE vec_id=0) u), ev AS (SELECT vec_id, unnest(embedding) v, generate_subscripts(embedding,1) i FROM cand), d AS (SELECT ev.vec_id, sum(ev.v*qv.v) dot, sqrt(sum(ev.v*ev.v)) nrm FROM ev JOIN qv ON ev.i=qv.i GROUP BY ev.vec_id), nq AS (SELECT sqrt(sum(v*v)) n FROM qv) SELECT d.vec_id, round(d.dot/(d.nrm*nq.n),4) cos FROM d, nq ORDER BY cos DESC, d.vec_id LIMIT 10"
  private val annPqSql: String =
    "WITH qv AS (SELECT generate_subscripts(embedding,1) i, unnest(embedding) v FROM embeddings WHERE vec_id=0), ev AS (SELECT vec_id, generate_subscripts(embedding,1) i, unnest(embedding) v FROM embeddings WHERE vec_id<>0), h AS (SELECT ev.vec_id, CAST(sum(CASE WHEN (ev.v>0) <> (qv.v>0) THEN 1 ELSE 0 END) AS BIGINT) ham FROM ev JOIN qv ON ev.i=qv.i GROUP BY ev.vec_id), sl AS (SELECT vec_id, ham FROM h ORDER BY ham, vec_id LIMIT 50), d AS (SELECT ev.vec_id, sum(ev.v*qv.v) dot, sqrt(sum(ev.v*ev.v)) nrm FROM ev JOIN sl ON ev.vec_id=sl.vec_id JOIN qv ON ev.i=qv.i GROUP BY ev.vec_id), nq AS (SELECT sqrt(sum(v*v)) n FROM qv) SELECT d.vec_id, sl.ham, round(d.dot/(d.nrm*nq.n),4) cos FROM d JOIN sl ON d.vec_id=sl.vec_id, nq ORDER BY cos DESC, d.vec_id LIMIT 10"
  private val annMultiprobeSql: String =
    "WITH b AS (SELECT vec_id, embedding, 4*(CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END) + 2*(CASE WHEN embedding[2] > 0 THEN 1 ELSE 0 END) + (CASE WHEN embedding[3] > 0 THEN 1 ELSE 0 END) bk FROM embeddings), qb AS (SELECT bk FROM b WHERE vec_id=0), probes AS (SELECT bk FROM qb UNION SELECT xor(bk, 1) FROM qb UNION SELECT xor(bk, 2) FROM qb UNION SELECT xor(bk, 4) FROM qb), cand AS (SELECT b.vec_id, b.embedding FROM b JOIN probes ON b.bk = probes.bk WHERE b.vec_id<>0), qv AS (SELECT u.i i, u.v v FROM (SELECT unnest(embedding) v, generate_subscripts(embedding,1) i FROM embeddings WHERE vec_id=0) u), ev AS (SELECT vec_id, unnest(embedding) v, generate_subscripts(embedding,1) i FROM cand), d AS (SELECT ev.vec_id, sum(ev.v*qv.v) dot, sqrt(sum(ev.v*ev.v)) nrm FROM ev JOIN qv ON ev.i=qv.i GROUP BY ev.vec_id), nq AS (SELECT sqrt(sum(v*v)) n FROM qv) SELECT d.vec_id, round(d.dot/(d.nrm*nq.n),4) cos FROM d, nq ORDER BY cos DESC, d.vec_id LIMIT 10"

  // 16-bit SimHash, generated to keep the bit loop in one place.
  private val simhashSql: String = {
    val votes = (0 until 16)
      .map(b => s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) s$b")
      .mkString(", ")
    val sig = (0 until 16)
      .map(b => s"CASE WHEN s$b > 0 THEN ${1 << b} ELSE 0 END")
      .mkString(" + ")
    "WITH tok AS (SELECT doc_id, unnest(list_distinct(string_split(text,' '))) w FROM documents), " +
      "h AS (SELECT doc_id, CAST(concat('0x', substr(md5(w),1,15)) AS BIGINT) h FROM tok), " +
      s"v AS (SELECT doc_id, $votes FROM h GROUP BY doc_id), " +
      s"sg AS (SELECT doc_id, $sig sig FROM v) " +
      "SELECT sig, count(*) c FROM sg GROUP BY sig ORDER BY c DESC, sig LIMIT 20"
  }

  // Iterated BPE training unrolled to 3 rounds: each round counts
  // adjacent segment pairs, takes the (count desc, x, y) argmax via
  // scalar subqueries, and re-segments with replace() — the same
  // left-to-right non-overlapping literal replace the engine uses.
  private val bpeTrainSql: String = {
    val s0 = "s0 AS (SELECT concat(' ', trim(regexp_replace(w, '(.)', '\\1 ', 'g')), ' ') s " +
      "FROM (SELECT unnest(string_split(text, ' ')) w FROM documents) WHERE w <> '')"
    val rounds = (1 to 3).map { i =>
      val prev = s"s${i - 1}"
      s"p$i AS (SELECT t[i] x, t[i+1] y, count(*) c FROM " +
        s"(SELECT t, CAST(unnest(range(1, len(t))) AS INT) i FROM " +
        s"(SELECT string_split(trim(s), ' ') t FROM $prev)) GROUP BY 1, 2), " +
        s"m$i AS (SELECT x, y, CAST(c AS BIGINT) c FROM p$i ORDER BY c DESC, x, y LIMIT 1), " +
        s"s$i AS (SELECT replace(s, ' ' || (SELECT x FROM m$i) || ' ' || (SELECT y FROM m$i) || ' ', " +
        s"' ' || (SELECT x FROM m$i) || (SELECT y FROM m$i) || ' ') s FROM $prev)"
    }.mkString(", ")
    val out = (1 to 3)
      .map(i => s"SELECT $i rank, x, y, c FROM m$i").mkString(" UNION ALL ")
    s"WITH $s0, $rounds $out ORDER BY rank"
  }

  // Scaled-integer PageRank (Components.pageRank's recurrence, scale 10⁹,
  // d = 85/100) on the symmetrized customer↔supplier graph, unrolled to
  // five straight-line rounds. BIGINT ranks + floor-div sums are
  // order-independent, so the iterative engine loop must match bit-exactly.
  private val pagerankSql: String = {
    val rounds = (1 to 5).map { i =>
      s"p$i AS (SELECT n.id, CAST(150000000 + (85 * COALESCE(f.m, 0)) // 100 AS BIGINT) r " +
        s"FROM n LEFT JOIN (SELECT e.d AS id, SUM(p${i - 1}.r // deg.dg) m " +
        s"FROM p${i - 1} JOIN e ON e.s = p${i - 1}.id JOIN deg ON deg.s = p${i - 1}.id " +
        "GROUP BY e.d) f ON f.id = n.id)"
    }.mkString(", ")
    "WITH oi AS (SELECT DISTINCT 2*o_custkey AS s, 2*l_suppkey+1 AS d " +
      "FROM orders JOIN lineitem ON l_orderkey = o_orderkey), " +
      "e AS (SELECT s, d FROM oi UNION ALL SELECT d AS s, s AS d FROM oi), " +
      "deg AS (SELECT s, count(*) dg FROM e GROUP BY s), " +
      "n AS (SELECT s AS id FROM e UNION SELECT d FROM e), " +
      "p0 AS (SELECT id, CAST(1000000000 AS BIGINT) r FROM n), " +
      rounds + " " +
      "SELECT id, r AS \"rank\" FROM p5 ORDER BY r DESC, id LIMIT 20"
  }

  // KL drift: exact conditional counts; the five per-language terms are
  // summed as one fixed-order left-assoc chain (not an aggregate SUM),
  // matching the engine's expression tree bit-for-bit.
  private val driftSql: String = {
    val langs = Seq("en", "zh", "es", "de", "fr")
    def cnts(p: String) = langs
      .map(l => s"sum(CASE WHEN lang='$l' THEN 1 ELSE 0 END) ${p}_$l")
      .mkString(", ")
    val terms = langs.map { l =>
      s"(CASE WHEN c_$l > 0 THEN (CAST(c_$l AS DOUBLE)/n) * " +
        s"ln((CAST(c_$l AS DOUBLE)/n)/(CAST(g_$l AS DOUBLE)/nn)) ELSE 0 END)"
    }.mkString(" + ")
    s"WITH s AS (SELECT source, count(*) n, ${cnts("c")} FROM documents GROUP BY source), " +
      s"g AS (SELECT count(*) nn, ${cnts("g")} FROM documents) " +
      s"SELECT source, round($terms, 4) kl FROM s, g ORDER BY source"
  }

  // deterministic synchronous LPA unrolled 3 rounds: the window argmax
  // (count DESC, label ASC) is the ANSI spelling of the engine's
  // max(struct(count, -label)) — integer labels, bit-exact.
  /** The 3-round synchronous-LPA CTE chain over the symmetrized trade
    * graph (ends at `l3`, with `oi`/`e` in scope) — shared by
    * q_communities (the labeling itself) and q_modularity (the quality
    * score OF the labeling), so the two rows can never silently diverge
    * on the community definition. */
  private val lpaCtes: String = {
    val rounds = (1 to 3).map { i =>
      s"l$i AS (SELECT id, lbl FROM (SELECT e.d id, l${i - 1}.lbl, " +
        s"row_number() OVER (PARTITION BY e.d ORDER BY count(*) DESC, l${i - 1}.lbl) rn " +
        s"FROM l${i - 1} JOIN e ON e.s = l${i - 1}.id GROUP BY e.d, l${i - 1}.lbl) t " +
        "WHERE rn = 1)"
    }.mkString(", ")
    "oi AS (SELECT DISTINCT 2*o_custkey AS s, 2*l_suppkey+1 AS d " +
      "FROM orders JOIN lineitem ON l_orderkey = o_orderkey), " +
      "e AS (SELECT s, d FROM oi UNION ALL SELECT d AS s, s AS d FROM oi), " +
      "n AS (SELECT s AS id FROM e UNION SELECT d FROM e), " +
      "l0 AS (SELECT id, id lbl FROM n), " + rounds
  }

  private val communitiesSql: String =
    s"WITH $lpaCtes SELECT id, lbl FROM l3 ORDER BY id LIMIT 100"

  // Newman modularity of the l3 labeling in exact integers:
  // Q·4m² = Σ_c(4·m·m_c − d_c²); micro-units via BIGINT `//`
  // (truncation toward zero ≡ Spark div). A community with zero intra
  // edges still contributes its −d_c² term (LEFT JOIN + coalesce).
  private val modularitySql: String =
    s"WITH $lpaCtes, " +
      "deg AS (SELECT s id, count(*) deg FROM e GROUP BY 1), " +
      "dc AS (SELECT l3.lbl, CAST(sum(deg.deg) AS BIGINT) dc " +
      "FROM deg JOIN l3 ON deg.id = l3.id GROUP BY 1), " +
      "mm AS (SELECT count(*) m FROM oi), " +
      "mc AS (SELECT a.lbl, count(*) mc FROM oi " +
      "JOIN l3 a ON oi.s = a.id JOIN l3 b ON oi.d = b.id " +
      "WHERE b.lbl = a.lbl GROUP BY 1), " +
      "tt AS (SELECT dc.lbl, dc.dc, coalesce(mc.mc, 0) mc " +
      "FROM dc LEFT JOIN mc ON dc.lbl = mc.lbl) " +
      "SELECT CAST(count(*) AS BIGINT) n_comm, mm.m, " +
      "CAST(sum(4*mm.m*tt.mc - tt.dc*tt.dc) AS BIGINT) * 1000000 " +
      "// (4*mm.m*mm.m) q_micro FROM tt, mm GROUP BY mm.m"

  // Lloyd's k-means unrolled: quantize once (floor(x·1000+0.5) on the
  // DOUBLE-widened value — the engine quantizes identically), seed from
  // the first 4 vec_ids, then 3 rounds of (integer-argmin assign,
  // floor-div update with emptied cells keeping their centroid), and a
  // final assignment census under the trained centroids. generate_
  // subscripts is 1-based, so the checksum Σ c·i equals the engine's
  // 0-based Σ c_i·(i+1).
  /** Integer-KMeans training CTEs (mirrors KMeans.train bit-exactly):
    * `q` = quantized (id, i, v) coords, `seed` = first-k ids,
    * `c0`…`c<iters>` = the centroid table per Lloyd round (assignment =
    * rank ORDER BY d2, cell; update = sum // count; emptied cell keeps
    * its centroid). Shared by the q_kmeans census and the q_cosine_ivf
    * trained-quantizer probe. */
  private def kmeansTrainCtes(k: Int, iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"d$i AS (SELECT q.id, c${i - 1}.cell, " +
        s"sum((q.v - c${i - 1}.c)*(q.v - c${i - 1}.c)) d2 " +
        s"FROM q JOIN c${i - 1} ON q.i = c${i - 1}.i GROUP BY 1, 2), " +
        s"a$i AS (SELECT id, cell FROM (SELECT id, cell, " +
        s"row_number() OVER (PARTITION BY id ORDER BY d2, cell) rn " +
        s"FROM d$i) t WHERE rn = 1), " +
        s"m$i AS (SELECT a$i.cell, q.i, " +
        s"CAST(sum(q.v) AS BIGINT) // count(*) c " +
        s"FROM q JOIN a$i ON q.id = a$i.id GROUP BY 1, 2), " +
        s"c$i AS (SELECT c${i - 1}.cell, c${i - 1}.i, " +
        s"coalesce(m$i.c, c${i - 1}.c) c FROM c${i - 1} " +
        s"LEFT JOIN m$i ON m$i.cell = c${i - 1}.cell AND m$i.i = c${i - 1}.i)"
    }.mkString(", ")
    "q AS (SELECT vec_id id, generate_subscripts(embedding, 1) i, " +
      "CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000 + 0.5) AS BIGINT) v " +
      "FROM embeddings), " +
      s"seed AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT $k), " +
      "c0 AS (SELECT CAST(dense_rank() OVER (ORDER BY q.id) - 1 AS INT) cell, " +
      "q.i, q.v c FROM q JOIN seed ON q.id = seed.vec_id), " +
      rounds
  }

  private val kmeansSql: String = {
    "WITH " + kmeansTrainCtes(4, 3) + ", " +
      "df AS (SELECT q.id, c3.cell, sum((q.v - c3.c)*(q.v - c3.c)) d2 " +
      "FROM q JOIN c3 ON q.i = c3.i GROUP BY 1, 2), " +
      "af AS (SELECT id, cell, d2 FROM (SELECT id, cell, d2, " +
      "row_number() OVER (PARTITION BY id ORDER BY d2, cell) rn FROM df) t " +
      "WHERE rn = 1), " +
      "chk AS (SELECT cell, CAST(sum(c * i) AS BIGINT) chk FROM c3 GROUP BY cell), " +
      "cen AS (SELECT cell, count(*) n, CAST(sum(d2) AS BIGINT) inertia " +
      "FROM af GROUP BY cell) " +
      "SELECT chk.cell, coalesce(cen.n, 0) n, " +
      "coalesce(cen.inertia, 0) inertia, chk.chk " +
      "FROM chk LEFT JOIN cen ON chk.cell = cen.cell ORDER BY chk.cell"
  }

  // Trained-IVF probe (mirrors Ivf.searchKMeansTrained): 8 integer-KMeans
  // coarse cells (2 Lloyd rounds), every vector assigned to its nearest
  // trained centroid (ties -> smaller cell), the query's 2 nearest cells
  // probed (same (d2, cell) order), candidates ranked by exact float
  // cosine — the q_ann_ivf_fixed ranking tail over a TRAINED quantizer.
  private val cosineIvfSql: String =
    "WITH " + kmeansTrainCtes(8, 2) + ", " +
      "df AS (SELECT q.id, c2.cell, sum((q.v - c2.c)*(q.v - c2.c)) d2 " +
      "FROM q JOIN c2 ON q.i = c2.i GROUP BY 1, 2), " +
      "af AS (SELECT id, cell FROM (SELECT id, cell, " +
      "row_number() OVER (PARTITION BY id ORDER BY d2, cell) rn FROM df) t " +
      "WHERE rn = 1), " +
      "qp AS (SELECT cell FROM df WHERE id = 0 ORDER BY d2, cell LIMIT 2), " +
      "cand AS (SELECT af.id FROM af JOIN qp ON af.cell = qp.cell " +
      "WHERE af.id <> 0), " +
      "ed AS (SELECT vec_id, generate_subscripts(embedding, 1) i, " +
      "unnest(embedding) v FROM embeddings), " +
      "qv AS (SELECT i, v FROM ed WHERE vec_id = 0), " +
      "ev AS (SELECT ed.vec_id, ed.i, ed.v FROM ed " +
      "JOIN cand ON ed.vec_id = cand.id), " +
      "d AS (SELECT ev.vec_id, sum(ev.v*qv.v) dot, sqrt(sum(ev.v*ev.v)) nrm " +
      "FROM ev JOIN qv ON ev.i = qv.i GROUP BY ev.vec_id), " +
      "nq AS (SELECT sqrt(sum(v*v)) n FROM qv) " +
      "SELECT d.vec_id, round(d.dot/(d.nrm*nq.n), 4) cos FROM d, nq " +
      "ORDER BY cos DESC, d.vec_id LIMIT 10"

  // 4 Bellman-Ford rounds from node 2, integer edge costs = per-pair
  // lineitem counts; the hop budget is the semantic, so the unroll is
  // exact, not an approximation of convergence.
  private val ssspSql: String = {
    val rounds = (1 to 4).map { i =>
      s"s$i AS (SELECT id, min(dist) dist FROM (SELECT id, dist FROM s${i - 1} " +
        s"UNION ALL SELECT e.d, s${i - 1}.dist + e.w FROM s${i - 1} " +
        s"JOIN e ON e.s = s${i - 1}.id) t GROUP BY id)"
    }.mkString(", ")
    "WITH pc AS (SELECT 2*o_custkey AS s, 2*l_suppkey+1 AS d, count(*) w " +
      "FROM orders JOIN lineitem ON l_orderkey = o_orderkey GROUP BY 1, 2), " +
      "e AS (SELECT s, d, CAST(w AS BIGINT) w FROM pc " +
      "UNION ALL SELECT d, s, CAST(w AS BIGINT) FROM pc), " +
      "s0 AS (SELECT CAST(2 AS BIGINT) id, CAST(0 AS BIGINT) dist), " +
      rounds + " " +
      "SELECT id, dist FROM s4 ORDER BY id LIMIT 100"
  }

  // BFS min-relaxation from node 2 unrolled to 6 rounds (eccentricity of
  // the source on this graph is 4 at every shipped SF, measured) — the
  // engine's fixpoint must reproduce the integer distances bit-exactly.
  private val bfsSql: String = {
    val rounds = (1 to 6).map { i =>
      s"b$i AS (SELECT id, min(dist) dist FROM (SELECT id, dist FROM b${i - 1} " +
        s"UNION ALL SELECT e.d, b${i - 1}.dist + 1 FROM b${i - 1} " +
        s"JOIN e ON e.s = b${i - 1}.id) t GROUP BY id)"
    }.mkString(", ")
    "WITH oi AS (SELECT DISTINCT 2*o_custkey AS s, 2*l_suppkey+1 AS d " +
      "FROM orders JOIN lineitem ON l_orderkey = o_orderkey), " +
      "e AS (SELECT s, d FROM oi UNION ALL SELECT d AS s, s AS d FROM oi), " +
      "b0 AS (SELECT CAST(2 AS BIGINT) id, CAST(0 AS BIGINT) dist), " +
      rounds + " " +
      "SELECT dist, count(*) c, CAST(sum(id) AS BIGINT) chk FROM b6 " +
      "GROUP BY dist ORDER BY dist"
  }

  // MinHash 8 hashes / 2 bands of 4 (mirrors Dedup.lshCandidatePairs;
  // banding tuned so the S-curve threshold ≈ 0.84 matches the τ=0.8 target).
  // Shared candidate CTEs: d (token sets) … p (distinct candidate pairs).
  private val lshCandidateCtes: String = {
    val sigs = (0 until 8)
      .map(i => s"list_min(list_transform(toks, w -> md5(concat('$i:', w))))")
      .mkString(", ")
    "WITH d AS (SELECT doc_id, list_distinct(string_split(text,' ')) toks FROM documents), " +
      s"s AS (SELECT doc_id, [$sigs] sig FROM d), " +
      "bands AS (SELECT doc_id, i band_id, md5(concat_ws(':', sig[4*i+1], sig[4*i+2], sig[4*i+3], sig[4*i+4])) bv FROM s, (VALUES (0),(1)) t(i)), " +
      "p AS (SELECT DISTINCT a.doc_id da, b.doc_id db FROM bands a JOIN bands b ON a.band_id=b.band_id AND a.bv=b.bv AND a.doc_id<b.doc_id)"
  }

  // brute-force exact token Jaccard on the bounded corpus — ground truth
  // for BOTH q_neardup (inverted-index plan) and q_neardup_prefix (prefix-
  // filtered plan): exactness means one oracle serves both
  private val exactNeardupSql: String =
    "WITH d AS (SELECT doc_id, lang, list_distinct(string_split(text,' ')) toks FROM documents WHERE doc_id < 1000), tok AS (SELECT doc_id, lang, len(toks) nt, unnest(toks) w FROM d), g AS (SELECT a.doc_id da, b.doc_id db, a.nt na, b.nt nb, count(*) inter FROM tok a JOIN tok b ON a.w=b.w AND a.lang=b.lang AND a.doc_id<b.doc_id GROUP BY 1,2,3,4), j AS (SELECT da, db, inter/CAST(na+nb-inter AS DOUBLE) jac FROM g) SELECT count(*) pairs, CAST(sum(da+db) AS BIGINT) chk, round(avg(jac),4) aj FROM j WHERE jac >= 0.8"

  private val minhashSql: String =
    lshCandidateCtes + " SELECT count(*) pairs, CAST(sum(da+db) AS BIGINT) chk FROM p"

  // LSH candidates verified by exact token-set Jaccard (mirrors
  // Dedup.lshVerifiedPairs): intersection counted over the distinct sets.
  private val lshVerifiedSql: String =
    lshCandidateCtes +
      ", v AS (SELECT da, db, len(list_filter(ta.toks, x -> list_contains(tb.toks, x))) inter, len(ta.toks) na, len(tb.toks) nb FROM p JOIN d ta ON p.da=ta.doc_id JOIN d tb ON p.db=tb.doc_id), " +
      "j AS (SELECT da, db, inter/CAST(na+nb-inter AS DOUBLE) jac FROM v) " +
      "SELECT count(*) pairs, CAST(sum(da+db) AS BIGINT) chk, round(avg(jac),4) aj FROM j WHERE jac >= 0.8"

  // Incremental near-dup ground truth: banding a doc is independent of the
  // corpus/delta split, so the delta-probe result is exactly the full LSH
  // pair set restricted to pairs touching a delta doc (doc_id % 10 = 0).
  private val incrNeardupSql: String =
    lshCandidateCtes +
      ", pi AS (SELECT da, db FROM p WHERE da % 10 = 0 OR db % 10 = 0), " +
      "v AS (SELECT da, db, len(list_filter(ta.toks, x -> list_contains(tb.toks, x))) inter, len(ta.toks) na, len(tb.toks) nb FROM pi JOIN d ta ON pi.da=ta.doc_id JOIN d tb ON pi.db=tb.doc_id), " +
      "j AS (SELECT da, db, inter/CAST(na+nb-inter AS DOUBLE) jac FROM v) " +
      "SELECT count(*) pairs, CAST(sum(da+db) AS BIGINT) chk, round(avg(jac),4) aj, " +
      "CAST(sum(CASE WHEN da % 10 = 0 AND db % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) nn " +
      "FROM j WHERE jac >= 0.8"

  // Embedding decontamination (mirrors Similarity.embeddingDecontaminate):
  // bench = vec_id % 50 = 0; train rows with cosine ≥ 0.3 to any bench
  // vector dropped. Dot via the same unnest-join-sum as embedPairCtes.
  private val embedDecontaminateSql: String =
    "WITH ev AS (SELECT vec_id, unnest(embedding) v, generate_subscripts(embedding,1) i FROM embeddings), " +
      "n AS (SELECT vec_id, sqrt(sum(v*v)) nrm FROM ev GROUP BY vec_id), " +
      "d AS (SELECT a.vec_id tid, b.vec_id bid, sum(a.v*b.v) dot FROM ev a JOIN ev b ON a.i=b.i WHERE a.vec_id % 50 <> 0 AND b.vec_id % 50 = 0 GROUP BY 1,2), " +
      "bad AS (SELECT DISTINCT tid FROM d JOIN n na ON d.tid=na.vec_id JOIN n nb ON d.bid=nb.vec_id WHERE dot/(na.nrm*nb.nrm) >= 0.3) " +
      "SELECT count(*) kept, CAST(sum(vec_id) AS BIGINT) chk FROM embeddings " +
      "WHERE vec_id % 50 <> 0 AND vec_id NOT IN (SELECT tid FROM bad)"

  // Passage-level boilerplate removal (mirrors Dedup.dropRepeatedPassages):
  // disjoint 8-token chunks, df > 2 across distinct docs = boilerplate,
  // survivors stitched in order; coalesce('') matches Spark's empty
  // collect_list → '' for fully-boilerplate docs.
  private val passageDedupSql: String =
    "WITH d AS (SELECT doc_id, string_split(text,' ') w FROM documents), " +
      "s AS (SELECT doc_id, w, unnest(generate_series(1, CAST(ceil(len(w)/8.0) AS BIGINT))) seq FROM d), " +
      "c AS (SELECT doc_id, seq, array_to_string(w[(seq-1)*8+1:seq*8], ' ') chunk FROM s), " +
      "f AS (SELECT chunk FROM c GROUP BY chunk HAVING count(DISTINCT doc_id) > 2), " +
      "k AS (SELECT c.doc_id, c.seq, c.chunk, f.chunk IS NOT NULL hot FROM c LEFT JOIN f ON c.chunk=f.chunk), " +
      "r AS (SELECT doc_id, coalesce(array_to_string(list(chunk ORDER BY seq) FILTER (WHERE NOT hot), ' '), '') clean, " +
      "count(*) FILTER (WHERE NOT hot) kept_c, count(*) FILTER (WHERE hot) drop_c FROM k GROUP BY doc_id) " +
      "SELECT doc_id, kept_c, drop_c, md5(clean) h FROM r ORDER BY doc_id LIMIT 100"

  // 6-bit sign-bucketed embedding cosine pairs (mirrors
  // Similarity.cosinePairs): shared by q_embed_neardup and q_semdedup.
  private val embedPairCtes: String =
    "WITH b AS (SELECT vec_id, embedding, " +
      (0 until 6).map(i => s"${1 << (5 - i)}*(CASE WHEN embedding[${i + 1}] > 0 THEN 1 ELSE 0 END)").mkString(" + ") +
      " bk FROM embeddings), ev AS (SELECT vec_id, bk, unnest(embedding) v, generate_subscripts(embedding,1) i FROM b), d AS (SELECT a.vec_id da, c.vec_id db, sum(a.v*c.v) dot FROM ev a JOIN ev c ON a.i=c.i AND a.bk=c.bk AND a.vec_id<c.vec_id GROUP BY 1,2), n AS (SELECT vec_id, sqrt(sum(v*v)) nrm FROM ev GROUP BY vec_id), j AS (SELECT da, db, dot/(na.nrm*nb.nrm) cos FROM d JOIN n na ON da=na.vec_id JOIN n nb ON db=nb.vec_id)"

  // MinHash-estimate audit: the identical 8-hash md5 family rebuilt in
  // SQL; est = matching-position fraction, exact jac from the inverted
  // index — pairs are every same-lang token-sharing pair, doc_id < 150.
  private val minhashEstSql: String = {
    val sigs = (0 until 8)
      .map(i => s"list_min(list_transform(toks, w -> md5(concat('$i:', w))))")
      .mkString(", ")
    val matches = (1 to 8)
      .map(i => s"CASE WHEN sa.sig[$i] = sb.sig[$i] THEN 1 ELSE 0 END")
      .mkString(" + ")
    "WITH d AS (SELECT doc_id, lang, list_distinct(string_split(text,' ')) toks FROM documents WHERE doc_id < 150), " +
      s"s AS (SELECT doc_id, [$sigs] sig FROM d), " +
      "tok AS (SELECT doc_id, lang, len(toks) nt, unnest(toks) w FROM d), " +
      "g AS (SELECT a.doc_id da, b.doc_id db, a.nt na, b.nt nb, count(*) inter " +
      "FROM tok a JOIN tok b ON a.w=b.w AND a.lang=b.lang AND a.doc_id<b.doc_id GROUP BY 1,2,3,4), " +
      "j AS (SELECT da, db, inter/CAST(na+nb-inter AS DOUBLE) jac FROM g), " +
      s"e AS (SELECT j.da, j.db, j.jac, ($matches)/8.0 est " +
      "FROM j JOIN s sa ON j.da = sa.doc_id JOIN s sb ON j.db = sb.doc_id) " +
      "SELECT count(*) pairs, round(avg(abs(est - jac)),4) mae, " +
      "round(avg(est),4) ae, round(avg(jac),4) aj FROM e"
  }

  // RRF hybrid fusion: the q_bm25 CTE chain (top-50) + the q_cosine_topk
  // CTE chain (top-50), each ranked on its ROUNDED score with id
  // tie-break, fused by union + 1/(60+rank) sum.
  private val rrfSql: String = {
    val idf = Seq(0, 1, 2).map(i =>
      s"ln(1.0 + CAST(n - df$i + 0.5 AS DOUBLE)/CAST(df$i + 0.5 AS DOUBLE)) * " +
        s"(tf$i * (CAST(1.2 AS DOUBLE) + 1)) / (tf$i + 1.2 * (0.25 + 0.75 * dl / (sdl/n)))")
      .mkString(" + ")
    "WITH d AS (SELECT doc_id, len(string_split(text,' ')) dl, " +
      "len(list_filter(string_split(text,' '), w -> w = 'dup')) tf0, " +
      "len(list_filter(string_split(text,' '), w -> w = 'vector')) tf1, " +
      "len(list_filter(string_split(text,' '), w -> w = 'the')) tf2 FROM documents), " +
      "s AS (SELECT count(*) n, CAST(sum(dl) AS DOUBLE) sdl, " +
      "sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) df0, " +
      "sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) df1, " +
      "sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) df2 FROM d), " +
      s"bm AS (SELECT doc_id, floor(($idf)*10000 + 0.5)/10000 score FROM d, s), " +
      "br AS (SELECT doc_id id, row_number() OVER (ORDER BY score DESC, doc_id) rank " +
      "FROM bm ORDER BY score DESC, doc_id LIMIT 50), " +
      "qv AS (SELECT unnest(embedding) v, generate_subscripts(embedding,1) i " +
      "FROM embeddings WHERE vec_id=0), " +
      "ev AS (SELECT vec_id, unnest(embedding) v, generate_subscripts(embedding,1) i " +
      "FROM embeddings WHERE vec_id<>0), " +
      "dd AS (SELECT ev.vec_id, sum(ev.v*qv.v) dot, sqrt(sum(ev.v*ev.v)) nrm " +
      "FROM ev JOIN qv ON ev.i=qv.i GROUP BY ev.vec_id), " +
      "nq AS (SELECT sqrt(sum(v*v)) n FROM qv), " +
      "co AS (SELECT vec_id, round(dot/(nrm*nq.n),4) cos FROM dd, nq), " +
      "cr AS (SELECT vec_id id, row_number() OVER (ORDER BY cos DESC, vec_id) rank " +
      "FROM co ORDER BY cos DESC, vec_id LIMIT 50), " +
      "u AS (SELECT * FROM br UNION ALL SELECT * FROM cr) " +
      "SELECT id, round(sum(CAST(1 AS DOUBLE)/(60+rank)),6) rrf, count(*) nl " +
      "FROM u GROUP BY id ORDER BY rrf DESC, id LIMIT 20"
  }

  // NDCG@10, relevance = label match; cosine rounded to 4 dp BEFORE
  // ranking (engine-stable ranks), IDCG as a list-fold over range().
  private val ndcgSql: String =
    "WITH q AS (SELECT vec_id qid, embedding qe, label ql, " +
      "sqrt(list_sum(list_transform(embedding, x -> CAST(x*x AS DOUBLE)))) qn " +
      "FROM embeddings WHERE vec_id < 5), " +
      "p AS (SELECT q.qid, q.ql, e.vec_id, e.label, " +
      "round(list_sum(list_transform(range(1, len(e.embedding)+1), " +
      "i -> CAST(e.embedding[i] AS DOUBLE)*q.qe[i])) / " +
      "(sqrt(list_sum(list_transform(e.embedding, x -> CAST(x*x AS DOUBLE)))) * q.qn), 4) cos " +
      "FROM embeddings e, q WHERE e.vec_id <> q.qid), " +
      "r AS (SELECT qid, ql, vec_id, label, cos, " +
      "row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) r FROM p), " +
      "d AS (SELECT qid, sum(CASE WHEN label = ql THEN CAST(1 AS DOUBLE)/(ln(r+1)/ln(2)) ELSE 0 END) dcg " +
      "FROM r WHERE r <= 10 GROUP BY qid), " +
      "nr AS (SELECT qid, least(sum(CASE WHEN label = ql THEN 1 ELSE 0 END), 10) nrel FROM p GROUP BY qid), " +
      "i AS (SELECT qid, nrel, CASE WHEN nrel > 0 THEN " +
      "list_sum(list_transform(range(1, CAST(nrel+1 AS BIGINT)), i -> CAST(1 AS DOUBLE)/(ln(i+1)/ln(2)))) ELSE 0 END idcg FROM nr) " +
      "SELECT i.qid, CAST(nrel AS BIGINT) nrel, " +
      "round(CASE WHEN idcg > 0 THEN dcg/idcg ELSE 0 END, 4) ndcg " +
      "FROM i JOIN d ON i.qid = d.qid ORDER BY i.qid"

  // Pairwise token-distribution JSD: one count pass, pairs pivoted by
  // CASE over a VALUES pair list (≡ the engine's per-pair outer joins).
  private val jsdSql: String =
    "WITH tok AS (SELECT source sl, unnest(string_split(text,' ')) w FROM documents " +
      "WHERE source IN ('src0','src1','src2','src3')), " +
      "c AS (SELECT sl, w, count(*) c FROM tok WHERE w <> '' GROUP BY sl, w), " +
      "t AS (SELECT sl, CAST(sum(c) AS DOUBLE) n FROM c GROUP BY sl), " +
      "pairs AS (SELECT * FROM (VALUES ('src0','src1'),('src0','src2'),('src0','src3')," +
      "('src1','src2'),('src1','src3'),('src2','src3')) pr(sa, sb)), " +
      "v AS (SELECT pairs.sa, pairs.sb, w, " +
      "COALESCE(MAX(CASE WHEN sl = pairs.sa THEN c END), 0) ca, " +
      "COALESCE(MAX(CASE WHEN sl = pairs.sb THEN c END), 0) cb " +
      "FROM pairs JOIN c ON c.sl IN (pairs.sa, pairs.sb) GROUP BY pairs.sa, pairs.sb, w), " +
      "e AS (SELECT v.sa, v.sb, ca/ta.n p, cb/tb.n q " +
      "FROM v JOIN t ta ON ta.sl = v.sa JOIN t tb ON tb.sl = v.sb) " +
      // nano-unit quantized terms summed as BIGINT — the engine's
      // partition-order-stable spelling, mirrored exactly
      "SELECT sa, sb, round(CAST(sum(CAST(floor((CASE WHEN p > 0 THEN p*ln(p/((p+q)/2)) ELSE 0 END)*1000000000 + 0.5) AS BIGINT)) + " +
      "sum(CAST(floor((CASE WHEN q > 0 THEN q*ln(q/((p+q)/2)) ELSE 0 END)*1000000000 + 0.5) AS BIGINT)) AS DOUBLE)/2000000000, 4) jsd " +
      "FROM e GROUP BY sa, sb ORDER BY sa, sb"

  // Doc-level co-occurrence PMI over the top-20 vocabulary.
  private val cooccurSql: String =
    "WITH dt AS (SELECT DISTINCT d, w FROM (SELECT doc_id d, " +
      "unnest(string_split(text,' ')) w FROM documents) x WHERE w <> ''), " +
      "top AS (SELECT w, count(*) df FROM dt GROUP BY w ORDER BY df DESC, w LIMIT 20), " +
      "n AS (SELECT count(DISTINCT doc_id) nd FROM documents), " +
      "f AS (SELECT dt.d, dt.w, top.df FROM dt JOIN top USING (w)), " +
      "p AS (SELECT a.w wa, a.df na, b.w wb, b.df nb, count(*) nab " +
      "FROM f a JOIN f b ON a.d = b.d AND a.w < b.w " +
      "GROUP BY 1, 2, 3, 4 HAVING count(*) >= 5) " +
      "SELECT wa, wb, nab, round(ln(CAST(nab AS DOUBLE)*nd/(CAST(na AS DOUBLE)*nb)),4) pmi " +
      "FROM p, n ORDER BY pmi DESC, wa, wb LIMIT 30"

  // Morton bit-spreading as a SQL expression ladder — the identical
  // shift-or-mask chain Layout.spread16 runs (masks 0x00FF00FF /
  // 0x0F0F0F0F / 0x33333333 / 0x55555555 in decimal).
  private def spreadSql(e: String): String = {
    val x0 = s"($e & 65535)"
    val x1 = s"(($x0 | ($x0 << 8)) & 16711935)"
    val x2 = s"(($x1 | ($x1 << 4)) & 252645135)"
    val x3 = s"(($x2 | ($x2 << 2)) & 858993459)"
    s"(($x3 | ($x3 << 1)) & 1431655765)"
  }

  private val zorderSql: String = {
    val x = spreadSql("(o_custkey % 65536)")
    val y = spreadSql(
      "date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))")
    s"SELECT ($x | ($y << 1)) >> 16 AS cell, count(*) n FROM orders " +
      "GROUP BY cell ORDER BY n DESC, cell LIMIT 50"
  }

  // Winnowing: same k=4-token window hashes as the engine (portable
  // 60-bit md5 ints), min over each run of w=4 consecutive windows
  // (ragged tail frames dropped via the frame row count), distinct.
  private val winnowSql: String =
    "WITH ws AS (SELECT doc_id, string_split(text,' ') w FROM documents WHERE len(string_split(text,' ')) >= 4), " +
      "win AS (SELECT doc_id, CAST(unnest(range(0, len(w)-3)) AS INT) p, w FROM ws), " +
      "h AS (SELECT doc_id, p, CAST(concat('0x', substr(md5(array_to_string(w[CAST(p+1 AS INT):CAST(p+4 AS INT)], ' ')),1,15)) AS BIGINT) hv FROM win), " +
      "m AS (SELECT doc_id, min(hv) OVER (PARTITION BY doc_id ORDER BY p ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) fp, " +
      "count(*) OVER (PARTITION BY doc_id ORDER BY p ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) cw FROM h), " +
      "f AS (SELECT DISTINCT doc_id, fp FROM m WHERE cw = 4) " +
      "SELECT doc_id, count(*) n_fp, min(fp) fp_min, max(fp) fp_max " +
      "FROM f GROUP BY doc_id ORDER BY doc_id LIMIT 100"

  // Containment |∩|/min(|A|,|B|): exactNeardupSql's inverted-index core
  // with the asymmetric metric.
  private val containmentSql: String =
    "WITH d AS (SELECT doc_id, lang, list_distinct(string_split(text,' ')) toks FROM documents WHERE doc_id < 1000), " +
      "tok AS (SELECT doc_id, lang, len(toks) nt, unnest(toks) w FROM d), " +
      "g AS (SELECT a.doc_id da, b.doc_id db, a.nt na, b.nt nb, count(*) inter FROM tok a JOIN tok b ON a.w=b.w AND a.lang=b.lang AND a.doc_id<b.doc_id GROUP BY 1,2,3,4), " +
      "j AS (SELECT da, db, inter/CAST(least(na, nb) AS DOUBLE) cont FROM g) " +
      "SELECT count(*) pairs, CAST(sum(da+db) AS BIGINT) chk, round(avg(cont),4) ac FROM j WHERE cont >= 0.9"

  // Per-doc token entropy: integer-quantized c·ln(c) terms summed in
  // exact int64 (order-independent), fixed-order float tail, 4-dp floor.
  private val entropySql: String =
    "WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) w FROM documents), " +
      "c AS (SELECT doc_id, w, count(*) c FROM tok WHERE w <> '' GROUP BY 1, 2), " +
      "a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) n_tok, " +
      "CAST(sum(CAST(floor(c*ln(c)*1e6) AS BIGINT)) AS BIGINT) s6 FROM c GROUP BY doc_id) " +
      "SELECT doc_id, n_tok, floor((ln(n_tok) - s6/1e6/n_tok) * 1e4)/1e4 ent " +
      "FROM a ORDER BY doc_id LIMIT 100"

  // (na, ka, nb, kb) arm/click counts shared by q_abtest and
  // q_odds_ratio — ONE SQL definition of the arms and the outcome,
  // mirroring Queries.armCounts on the engine side
  private val armCountsSql: String =
    "WITH e AS (SELECT (user_id % 2 = 0) arma, CASE WHEN event_type = 'click' THEN 1 ELSE 0 END clk FROM events), " +
      "g AS (SELECT arma, count(*) n, CAST(sum(clk) AS BIGINT) k FROM e GROUP BY arma), " +
      "s AS (SELECT CAST(sum(CASE WHEN arma THEN n END) AS BIGINT) na, CAST(sum(CASE WHEN arma THEN k END) AS BIGINT) ka, " +
      "CAST(sum(CASE WHEN NOT arma THEN n END) AS BIGINT) nb, CAST(sum(CASE WHEN NOT arma THEN k END) AS BIGINT) kb FROM g) "

  // Power iteration over the exact integer covariance, unrolled: the
  // centered Gram stays BIGINT via n·Σvᵢvⱼ − ΣvᵢΣvⱼ then // n², each
  // round one matvec + fixed-point renorm (x·1000 // max|w|, truncation
  // toward zero ≡ the engine's Long division). Start vector 1000·e₁.
  private val embedPc1Sql: String = {
    val rounds = (1 to 3).map { i =>
      s"w$i AS (SELECT g.i, CAST(sum(g.gv * v${i - 1}.x) AS BIGINT) w " +
        s"FROM g JOIN v${i - 1} ON v${i - 1}.i = g.j GROUP BY 1), " +
        s"m$i AS (SELECT max(abs(w)) m FROM w$i), " +
        s"v$i AS (SELECT i, (w * 1000) // m$i.m x FROM w$i, m$i)"
    }.mkString(", ")
    "WITH q AS (SELECT vec_id id, " +
      "CAST(generate_subscripts(embedding, 1) AS INT) i, " +
      "CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000 + 0.5) AS BIGINT) v " +
      "FROM embeddings), " +
      "nn AS (SELECT count(*) n FROM embeddings), " +
      "s AS (SELECT i, CAST(sum(v) AS BIGINT) s FROM q GROUP BY i), " +
      "p AS (SELECT a.i i, b.i j, CAST(sum(a.v * b.v) AS BIGINT) pp " +
      "FROM q a JOIN q b ON a.id = b.id GROUP BY 1, 2), " +
      "g AS (SELECT p.i, p.j, (nn.n * p.pp - sa.s * sb.s) // (nn.n * nn.n) gv " +
      "FROM p, nn, s sa, s sb WHERE sa.i = p.i AND sb.i = p.j), " +
      "v0 AS (SELECT i, CAST(CASE WHEN i = 1 THEN 1000 ELSE 0 END AS BIGINT) x FROM s), " +
      rounds + " " +
      "SELECT i, x FROM v3 ORDER BY i"
  }

  /** Every declared query. Order is free: consumers sort names or key
    * into [[byName]]. */
  val all: Seq[QueryDef] = Seq(
    QueryDef("q_embed_pc1", Queries.qEmbedPc1, Some(embedPc1Sql)),
    // solo: driver-loop Lloyd rounds, the iterative family
    QueryDef("q_kmeans", Queries.qKmeans, Some(kmeansSql), Solo),
    // trained coarse quantizer (integer KMeans) + nprobe search — the
    // previously no-oracle IVF path, now oracle-exact end to end
    // solo: it trains its coarse quantizer (2 Lloyd driver rounds)
    // before probing, which joins the iterative family
    QueryDef("q_cosine_ivf", Queries.qCosineIvf, Some(cosineIvfSql), Solo),
    // solo: LPA + the modularity joins, CC-shaped (the round-9 rule)
    QueryDef("q_modularity", Queries.qModularity, Some(modularitySql), Solo),
    // compaction is physical layout only — same values as the source
    // table (the q_bucket_join contract); within_target pins the
    // operator's file-count cap (≤ ceil(bytes/target), scale-invariant)
    // as an oracled literal. l_quantity is integer-valued, so the
    // BIGINT cast keeps the sum exact at any partitioning.
    QueryDef("q_compact", Queries.qCompact,
      Some("SELECT l_returnflag, count(*) n, " +
        "CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) sq, " +
        "true within_target FROM lineitem " +
        "GROUP BY l_returnflag ORDER BY l_returnflag")),
    // sorted-table layout: content identity over the range-partitioned
    // copy + the strict per-file key-range disjointness (what min/max
    // file skipping relies on) as an oracled literal-TRUE value
    QueryDef("q_sorted_layout", Queries.qSortedLayout,
      Some("SELECT l_linestatus, count(*) n, " +
        "CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) sq, " +
        "min(l_orderkey) okmin, max(l_orderkey) okmax, " +
        "true range_disjoint FROM lineitem " +
        "GROUP BY l_linestatus ORDER BY l_linestatus")),
    // the sketch estimate enters as the est_ok VALUE (literal TRUE
    // here): a drifting day→week HLL merge on the engine side fails
    // the hash compare, not just an in-plan assert
    QueryDef("q_hll_rollup", Queries.qHllRollup,
      Some("SELECT CAST(date_trunc('week', ts) AS DATE) AS week, " +
        "count(DISTINCT user_id) exact_users, true est_ok " +
        "FROM events GROUP BY 1 ORDER BY week")),
    // sketch estimates with no exact SQL spelling: EntrySpec bounds them
    // against the exact count and quantiles instead
    QueryDef("q_approx_distinct", Queries.qApproxDistinct, None),
    QueryDef("q_approx_percentile", Queries.qApproxPercentile, None),
    // KMV bottom-k overlap: the engine's sketch is the k smallest
    // distinct md5-48-bit hashes, so the oracle rebuilds it with ORDER BY
    // h LIMIT k and repeats the SAME integer estimator ((k−1)·2^48 // u_k,
    // ρ·est_union // |union sketch|) — the sketch ESTIMATES themselves are
    // hash-compared, not just bounded. 71776119061217280 = 255·2^48.
    QueryDef("q_kmv_overlap", Queries.qKmvOverlap,
      Some("WITH dv AS (SELECT doc_id, CAST(concat('0x', " +
        "substr(md5(CAST(doc_id AS VARCHAR)),1,12)) AS BIGINT) h " +
        "FROM documents), " +
        "sd AS (SELECT * FROM (" +
        "SELECT doc_id, h, CASE WHEN doc_id % 3 <> 0 THEN 'a' END side FROM dv " +
        "UNION ALL " +
        "SELECT doc_id, h, CASE WHEN doc_id % 2 <> 0 THEN 'b' END side FROM dv) " +
        "WHERE side IS NOT NULL), " +
        "ka AS (SELECT DISTINCT h FROM sd WHERE side = 'a' ORDER BY h LIMIT 256), " +
        "kb AS (SELECT DISTINCT h FROM sd WHERE side = 'b' ORDER BY h LIMIT 256), " +
        "ku AS (SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb) " +
        "ORDER BY h LIMIT 256), " +
        "st AS (SELECT (SELECT count(*) FROM ka) na, (SELECT max(h) FROM ka) ua, " +
        "(SELECT count(*) FROM kb) nb, (SELECT max(h) FROM kb) ub, " +
        "(SELECT count(*) FROM ku) nu, (SELECT max(h) FROM ku) uu, " +
        "(SELECT count(*) FROM ku WHERE h IN (SELECT h FROM ka) " +
        "AND h IN (SELECT h FROM kb)) rho), " +
        "ex AS (SELECT count(DISTINCT CASE WHEN side = 'a' THEN doc_id END) xa, " +
        "count(DISTINCT CASE WHEN side = 'b' THEN doc_id END) xb, " +
        "count(DISTINCT doc_id) xu FROM sd) " +
        "SELECT 256 k, " +
        "CASE WHEN na < 256 THEN na ELSE 71776119061217280 // ua END est_a, xa exact_a, " +
        "CASE WHEN nb < 256 THEN nb ELSE 71776119061217280 // ub END est_b, xb exact_b, " +
        "CASE WHEN nu < 256 THEN nu ELSE 71776119061217280 // uu END est_union, xu exact_union, " +
        "rho, " +
        "(rho * (CASE WHEN nu < 256 THEN nu ELSE 71776119061217280 // uu END)) // nu est_inter, " +
        "xa + xb - xu exact_inter, " +
        "(1000 * rho) // nu jac_milli " +
        "FROM st, ex")),
    // KMV retention: weekly bottom-k rebuilt from RAW users (provably
    // identical to the engine's day-sketch rollup — a weekly k-minimum
    // is a k-minimum of its own day), adjacent weeks paired at week−7,
    // the pair's union-k via per-week row_number, ρ via membership in
    // both week sketches (LEFT JOIN + coalesce: a zero-overlap pair
    // must yield est_overlap 0, not a dropped row). Same integer
    // estimator as q_kmv_overlap — every estimate hash-compared.
    QueryDef("q_kmv_retention", Queries.qKmvRetention,
      Some("WITH wu AS (SELECT DISTINCT CAST(date_trunc('week', ts) AS DATE) AS week, " +
        "user_id, CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)),1,12)) " +
        "AS BIGINT) h FROM events), " +
        "kw AS (SELECT week, h FROM (SELECT week, h, row_number() OVER " +
        "(PARTITION BY week ORDER BY h) r FROM (SELECT DISTINCT week, h FROM wu)) " +
        "WHERE r <= 256), " +
        "sz AS (SELECT week, count(*) n, max(h) u FROM kw GROUP BY week), " +
        "pu AS (SELECT DISTINCT c.week, x.h FROM sz c JOIN kw x " +
        "ON x.week = c.week OR x.week = c.week - 7), " +
        "mg AS (SELECT week, h FROM (SELECT week, h, row_number() OVER " +
        "(PARTITION BY week ORDER BY h) r FROM pu) WHERE r <= 256), " +
        "mz AS (SELECT week, count(*) nu, max(h) uu FROM mg GROUP BY week), " +
        "rh AS (SELECT m.week, count(*) r FROM mg m WHERE EXISTS " +
        "(SELECT 1 FROM kw a WHERE a.week = m.week AND a.h = m.h) AND EXISTS " +
        "(SELECT 1 FROM kw b WHERE b.week = m.week - 7 AND b.h = m.h) " +
        "GROUP BY m.week), " +
        "exu AS (SELECT week, count(*) xu FROM (SELECT DISTINCT week, user_id " +
        "FROM wu) GROUP BY week), " +
        "exo AS (SELECT a.week, count(*) xo FROM (SELECT DISTINCT week, user_id " +
        "FROM wu) a JOIN (SELECT DISTINCT week, user_id FROM wu) b " +
        "ON b.user_id = a.user_id AND b.week = a.week - 7 GROUP BY a.week) " +
        "SELECT s.week, " +
        "CASE WHEN s.n < 256 THEN s.n ELSE 71776119061217280 // s.u END est_users, " +
        "exu.xu exact_users, " +
        "(coalesce(rh.r, 0) * (CASE WHEN mz.nu < 256 THEN mz.nu " +
        "ELSE 71776119061217280 // mz.uu END)) // mz.nu est_overlap, " +
        "coalesce(exo.xo, 0) exact_overlap " +
        "FROM sz s JOIN sz p ON p.week = s.week - 7 " +
        "JOIN mz ON mz.week = s.week LEFT JOIN rh ON rh.week = s.week " +
        "JOIN exu ON exu.week = s.week LEFT JOIN exo ON exo.week = s.week " +
        "ORDER BY s.week")),
    // rolling 28-day KMV windows: bottom-k rebuilt from RAW users over
    // the same date ranges the engine's day-sketch rollup unions
    // ([week−21, week+6] current, [week−49, week−22] prior — provably
    // identical, a window k-minimum is a k-minimum of its own day),
    // same integer estimator as q_kmv_overlap. LEFT JOIN + coalesce on
    // the prior-window rows: an anchor whose prior window is EMPTY (or
    // shares no users) must yield est_overlap_28d 0, not a dropped row.
    QueryDef("q_kmv_rolling", Queries.qKmvRolling,
      Some("WITH wu AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id, " +
        "CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)),1,12)) " +
        "AS BIGINT) h FROM events), " +
        "an AS (SELECT DISTINCT CAST(date_trunc('week', day) AS DATE) AS week " +
        "FROM wu), " +
        "cw AS (SELECT DISTINCT a.week, d.h FROM an a JOIN wu d " +
        "ON d.day BETWEEN a.week - 21 AND a.week + 6), " +
        "pw AS (SELECT DISTINCT a.week, d.h FROM an a JOIN wu d " +
        "ON d.day BETWEEN a.week - 49 AND a.week - 22), " +
        "ck AS (SELECT week, h FROM (SELECT week, h, row_number() OVER " +
        "(PARTITION BY week ORDER BY h) r FROM cw) WHERE r <= 256), " +
        "pk AS (SELECT week, h FROM (SELECT week, h, row_number() OVER " +
        "(PARTITION BY week ORDER BY h) r FROM pw) WHERE r <= 256), " +
        "csz AS (SELECT week, count(*) n, max(h) u FROM ck GROUP BY week), " +
        "mg AS (SELECT week, h FROM (SELECT week, h, row_number() OVER " +
        "(PARTITION BY week ORDER BY h) r FROM " +
        "(SELECT week, h FROM ck UNION SELECT week, h FROM pk)) " +
        "WHERE r <= 256), " +
        "mz AS (SELECT week, count(*) nu, max(h) uu FROM mg GROUP BY week), " +
        "rh AS (SELECT m.week, count(*) r FROM mg m WHERE EXISTS " +
        "(SELECT 1 FROM ck a WHERE a.week = m.week AND a.h = m.h) AND EXISTS " +
        "(SELECT 1 FROM pk b WHERE b.week = m.week AND b.h = m.h) " +
        "GROUP BY m.week), " +
        "cu AS (SELECT DISTINCT a.week, d.user_id FROM an a JOIN wu d " +
        "ON d.day BETWEEN a.week - 21 AND a.week + 6), " +
        "pu AS (SELECT DISTINCT a.week, d.user_id FROM an a JOIN wu d " +
        "ON d.day BETWEEN a.week - 49 AND a.week - 22), " +
        "exu AS (SELECT week, count(*) xu FROM cu GROUP BY week), " +
        "exo AS (SELECT c.week, count(*) xo FROM cu c JOIN pu p " +
        "ON p.week = c.week AND p.user_id = c.user_id GROUP BY c.week) " +
        "SELECT c.week, " +
        "CASE WHEN c.n < 256 THEN c.n ELSE 71776119061217280 // c.u END " +
        "est_users_28d, " +
        "exu.xu exact_users_28d, " +
        "(coalesce(rh.r, 0) * (CASE WHEN mz.nu < 256 THEN mz.nu " +
        "ELSE 71776119061217280 // mz.uu END)) // mz.nu est_overlap_28d, " +
        "coalesce(exo.xo, 0) exact_overlap_28d " +
        "FROM csz c JOIN mz ON mz.week = c.week " +
        "LEFT JOIN rh ON rh.week = c.week " +
        "JOIN exu ON exu.week = c.week LEFT JOIN exo ON exo.week = c.week " +
        "ORDER BY c.week")),
    // multi-horizon trailing distincts: bottom-k rebuilt from RAW users
    // per (anchor week, horizon) window [week+7−h, week+6] — identical
    // to the engine's day-sketch re-aggregation by exact mergeability;
    // same integer estimator as q_kmv_overlap, exact riders along.
    QueryDef("q_kmv_horizons", Queries.qKmvHorizons,
      Some("WITH wu AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id, " +
        "CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)),1,12)) " +
        "AS BIGINT) h FROM events), " +
        "an AS (SELECT DISTINCT CAST(date_trunc('week', day) AS DATE) AS week " +
        "FROM wu), " +
        "hz AS (SELECT * FROM (VALUES (7),(28),(84)) t(horizon)), " +
        "cw AS (SELECT DISTINCT a.week, z.horizon, d.h FROM an a " +
        "CROSS JOIN hz z JOIN wu d " +
        "ON d.day BETWEEN a.week + 7 - z.horizon AND a.week + 6), " +
        "ck AS (SELECT week, horizon, h FROM (SELECT week, horizon, h, " +
        "row_number() OVER (PARTITION BY week, horizon ORDER BY h) r " +
        "FROM cw) WHERE r <= 256), " +
        "sz AS (SELECT week, horizon, count(*) n, max(h) u FROM ck " +
        "GROUP BY week, horizon), " +
        "ex AS (SELECT a.week, z.horizon, count(DISTINCT d.user_id) xu " +
        "FROM an a CROSS JOIN hz z JOIN wu d " +
        "ON d.day BETWEEN a.week + 7 - z.horizon AND a.week + 6 " +
        "GROUP BY a.week, z.horizon) " +
        "SELECT s.week, s.horizon, " +
        "CASE WHEN s.n < 256 THEN s.n ELSE 71776119061217280 // s.u END " +
        "est_users, ex.xu exact_users " +
        "FROM sz s JOIN ex ON ex.week = s.week AND ex.horizon = s.horizon " +
        "ORDER BY s.week, s.horizon")),
    // rolling 28-day quantile windows from stored day sketches: n_28d is
    // exact by sketch construction (sum of day n's) and value-compared
    // to the raw window count; exact_p95 = quantile_cont ≡ Spark
    // percentile; the sketch estimate rides as le_ok/lt_ok — its exact
    // rank bracket within the sketch's OWN carried bound, literal TRUE
    QueryDef("q_quantile_rolling", Queries.qQuantileRolling,
      Some("WITH ev AS (SELECT CAST(ts AS DATE) AS day, value FROM events " +
        "WHERE value IS NOT NULL), " +
        "an AS (SELECT DISTINCT CAST(date_trunc('week', day) AS DATE) AS week " +
        "FROM ev), " +
        "w AS (SELECT a.week, e.value FROM an a JOIN ev e " +
        "ON e.day BETWEEN a.week - 21 AND a.week + 6) " +
        "SELECT week, count(*) n_28d, " +
        "round(quantile_cont(value, 0.95), 3) exact_p95, " +
        "TRUE le_ok, TRUE lt_ok FROM w GROUP BY week ORDER BY week")),
    // quantile-sketch rollup: n and the exact weekly percentiles are
    // value-oracled (quantile_cont ≡ Spark percentile, the q_winsorize
    // precedent); the sketch estimates ride as le_ok/lt_ok — the exact
    // rank bracket within the sketch's SELF-CERTIFIED bound, literal TRUE
    // (the q_hll_rollup bound-as-value pattern)
    QueryDef("q_quantile_rollup", Queries.qQuantileRollup,
      Some("WITH ev AS (SELECT CAST(date_trunc('week', ts) AS DATE) AS week, " +
        "value FROM events WHERE value IS NOT NULL), " +
        "q AS (SELECT week, count(*) n, " +
        "round(quantile_cont(value, 0.5), 3) q50, " +
        "round(quantile_cont(value, 0.95), 3) q95 FROM ev GROUP BY week) " +
        "SELECT week, 50 pct, n, q50 exact_q, TRUE le_ok, TRUE lt_ok FROM q " +
        "UNION ALL " +
        "SELECT week, 95 pct, n, q95 exact_q, TRUE le_ok, TRUE lt_ok FROM q " +
        "ORDER BY week, pct")),
    // z>2 cross-multiplied to A>0 and A^2>4B, exact int64 end to end
    QueryDef("q_anomaly_days", Queries.qAnomalyDays,
      Some("WITH d0 AS (SELECT CAST(o_orderdate AS DATE) dy, CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) cc " +
        "FROM orders GROUP BY 1), " +
        "d AS (SELECT dy, (cc + 50000)//100000 c FROM d0), " +
        "m AS (SELECT min(dy) dmin FROM d), " +
        "i AS (SELECT dy, c, date_diff('day', dmin, dy) di FROM d, m), " +
        "w AS (SELECT dy, c, count(*) OVER win n, CAST(sum(c) OVER win AS BIGINT) sx, " +
        "CAST(sum(c*c) OVER win AS BIGINT) sxx FROM i " +
        "WINDOW win AS (ORDER BY di RANGE BETWEEN 28 PRECEDING AND 1 PRECEDING)), " +
        "f AS (SELECT dy, c, c*n - sx a, n*sxx - sx*sx b FROM w WHERE n >= 14) " +
        "SELECT dy, c, a, b FROM f WHERE a > 0 AND a*a > 4*b ORDER BY dy LIMIT 200")),
    QueryDef("q_freq_hist", Queries.qFreqHist,
      Some("WITH u AS (SELECT user_id, count(*) n FROM events GROUP BY 1) " +
        "SELECT (n - 1)//5 bucket, count(*) users, CAST(sum(n) AS BIGINT) events " +
        "FROM u GROUP BY 1 ORDER BY bucket")),
    // pair join over the distinct (user, type) frame, a < b canonical
    QueryDef("q_adoption_overlap", Queries.qAdoptionOverlap,
      Some("WITH ut AS (SELECT DISTINCT user_id, event_type FROM events) " +
        "SELECT a.event_type ta, b.event_type tb, count(*) " + "\"both\" " +
        "FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type " +
        "GROUP BY 1, 2 ORDER BY ta, tb")),
    // RANGE frame on the integer day index: empty days widen the window
    QueryDef("q_rolling_rev", Queries.qRollingRev,
      Some("WITH d AS (SELECT CAST(o_orderdate AS DATE) dy, CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) c " +
        "FROM orders GROUP BY 1), " +
        "m AS (SELECT min(dy) d0 FROM d), " +
        "i AS (SELECT dy, c, date_diff('day', d0, dy) di FROM d, m) " +
        "SELECT dy, c, CAST(sum(c) OVER (ORDER BY di RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) roll7 " +
        "FROM i ORDER BY dy LIMIT 400")),
    // exact-integer OR; Woolf log-SE doubles only in the CI bounds
    QueryDef("q_odds_ratio", Queries.qOddsRatio,
      Some(armCountsSql +
        "SELECT ka, na, kb, nb, " +
        "round(CAST(ka*(nb - kb) AS DOUBLE)/CAST(kb*(na - ka) AS DOUBLE), 4) or_, " +
        "round(exp(ln(CAST(ka*(nb - kb) AS DOUBLE)/CAST(kb*(na - ka) AS DOUBLE)) - " +
        "1.96*sqrt(CAST(1 AS DOUBLE)/ka + CAST(1 AS DOUBLE)/(na - ka) + CAST(1 AS DOUBLE)/kb + CAST(1 AS DOUBLE)/(nb - kb))), 4) ci_lo, " +
        "round(exp(ln(CAST(ka*(nb - kb) AS DOUBLE)/CAST(kb*(na - ka) AS DOUBLE)) + " +
        "1.96*sqrt(CAST(1 AS DOUBLE)/ka + CAST(1 AS DOUBLE)/(na - ka) + CAST(1 AS DOUBLE)/kb + CAST(1 AS DOUBLE)/(nb - kb))), 4) ci_hi " +
        "FROM s")),
    // ntile over the per-user aggregate; shared double lift ratio
    QueryDef("q_lift", Queries.qLift,
      Some("WITH u AS (SELECT user_id, CAST(sum(CAST(round(value*1000) AS BIGINT)) AS BIGINT) sc, " +
        "max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) y FROM events GROUP BY 1), " +
        "dec AS (SELECT user_id, y, ntile(10) OVER (ORDER BY sc DESC, user_id) dc FROM u), " +
        "base AS (SELECT CAST(sum(y) AS BIGINT) ty, count(*) tn FROM u) " +
        "SELECT dc, count(*) n, CAST(sum(y) AS BIGINT) ny, " +
        "round((CAST(sum(y) AS BIGINT)/CAST(count(*) AS DOUBLE))/(ty/CAST(tn AS DOUBLE)), 4) lift " +
        "FROM dec, base GROUP BY dc, ty, tn ORDER BY dc")),
    // sweep line: ends before starts at the same instant (d=-1 < +1)
    QueryDef("q_concurrency", Queries.qConcurrency,
      Some("WITH e AS (SELECT user_id, event_id, epoch_us(ts) st, " +
        "epoch_us(ts) + CAST(round(value*1000) AS BIGINT)*1000 en FROM events), " +
        "pts AS (SELECT user_id, st t, CAST(1 AS BIGINT) d, event_id FROM e " +
        "UNION ALL SELECT user_id, en, -1, event_id FROM e), " +
        "occ AS (SELECT user_id, sum(d) OVER (PARTITION BY user_id ORDER BY t, d, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) occ FROM pts), " +
        "pk AS (SELECT user_id, CAST(max(occ) AS BIGINT) peak FROM occ GROUP BY user_id) " +
        "SELECT peak, count(*) users FROM pk GROUP BY peak ORDER BY peak")),
    // digit-count magnitude buckets: exact, no float log misbucketing
    QueryDef("q_magnitude_hist", Queries.qMagnitudeHist,
      Some("WITH c AS (SELECT CAST(round(o_totalprice*100) AS BIGINT) c FROM orders) " +
        "SELECT length(CAST(c AS VARCHAR)) digits, count(*) n, CAST(sum(c) AS BIGINT) cents " +
        "FROM c WHERE c > 0 GROUP BY 1 ORDER BY digits")),
    // md5-bucketed delete-one-group jackknife; exact integer partials
    QueryDef("q_jackknife", Queries.qJackknife,
      Some("WITH o AS (SELECT CAST(concat('0x', substr(md5(concat_ws(':', 'jk', CAST(o_orderkey AS VARCHAR))), 1, 15)) AS BIGINT) % 32 b, " +
        "CAST(round(o_totalprice*100) AS BIGINT) c FROM orders), " +
        "bk AS (SELECT b, CAST(sum(c) AS BIGINT) sb, count(*) nb FROM o GROUP BY b), " +
        "t AS (SELECT CAST(sum(sb) AS BIGINT) st, CAST(sum(nb) AS BIGINT) nt, count(*) bn FROM bk), " +
        "lom AS (SELECT CAST(floor(CAST(st - sb AS DOUBLE)/(nt - nb)*1000 + 0.5) AS BIGINT) mq, bn, nt, st FROM bk, t), " +
        "g AS (SELECT bn, nt, st, CAST(sum(mq) AS BIGINT) sm, sum(CAST(mq AS HUGEINT)*mq) smm FROM lom GROUP BY 1, 2, 3) " +
        "SELECT nt n, round(CAST(st AS DOUBLE)/nt/100.0, 4) mean, " +
        "round(sqrt(((bn - 1)/CAST(bn AS DOUBLE)) * (CAST(smm AS DOUBLE) - CAST(sm AS DOUBLE)*sm/bn))/100000.0, 4) se_jk FROM g")),
    // Chapman '51 estimator from exact distinct captures
    QueryDef("q_capture_recapture", Queries.qCaptureRecapture,
      Some("WITH a AS (SELECT user_id FROM events WHERE event_type = 'click' GROUP BY 1 HAVING count(*) >= 10), " +
        "b AS (SELECT user_id FROM events WHERE event_type = 'purchase' GROUP BY 1 HAVING count(*) >= 10), " +
        "m AS (SELECT count(*) m FROM a JOIN b USING (user_id)), " +
        "ca AS (SELECT count(*) na FROM a), cb AS (SELECT count(*) nb FROM b) " +
        "SELECT na, nb, m, round((na + 1)*(nb + 1)/CAST(m + 1 AS DOUBLE) - 1, 2) n_hat " +
        "FROM ca, cb, m")),
    // nano-unit quantized MI terms (the q_psi spelling) on the q_cramers_v grid
    QueryDef("q_mutual_info", Queries.qMutualInfo,
      Some("WITH obs AS (SELECT c_nationkey, c_mktsegment, count(*) o FROM customer GROUP BY 1, 2), " +
        "rm AS (SELECT c_nationkey, CAST(sum(o) AS BIGINT) rn FROM obs GROUP BY 1), " +
        "cm AS (SELECT c_mktsegment, CAST(sum(o) AS BIGINT) cn FROM obs GROUP BY 1), " +
        "tt AS (SELECT CAST(sum(o) AS BIGINT) n FROM obs), " +
        "te AS (SELECT CAST(floor((o/CAST(n AS DOUBLE)) * ln((CAST(o AS DOUBLE)*n)/(CAST(rn AS DOUBLE)*cn))*1000000000 + 0.5) AS BIGINT) tq " +
        "FROM obs JOIN rm USING (c_nationkey) JOIN cm USING (c_mktsegment), tt) " +
        "SELECT round(CAST(sum(tq) AS DOUBLE)/1000000000, 6) mi_nats FROM te")),
    // milli-unit weights -> exact int64 moment sums
    QueryDef("q_ess", Queries.qEss,
      Some("WITH w AS (SELECT CAST(round(value*1000) AS BIGINT) w FROM events WHERE round(value*1000) > 0) " +
        "SELECT count(*) n, round(CAST(sum(w) AS DOUBLE)*sum(w)/sum(w*w), 2) ess, " +
        "round(CAST(sum(w) AS DOUBLE)*sum(w)/sum(w*w)/count(*), 6) ess_frac FROM w")),
    // one pair pass bucketed by floor(jac*10), cumulated on the tau grid
    QueryDef("q_dedup_curve", Queries.qDedupCurve,
      Some("WITH d AS (SELECT doc_id, lang, list_distinct(string_split(text,' ')) toks FROM documents WHERE doc_id < 200), " +
        "tok AS (SELECT doc_id, lang, len(toks) nt, unnest(toks) w FROM d), " +
        "g AS (SELECT a.doc_id da, b.doc_id db, a.nt na, b.nt nb, count(*) inter FROM tok a " +
        "JOIN tok b ON a.w = b.w AND a.lang = b.lang AND a.doc_id < b.doc_id GROUP BY 1, 2, 3, 4), " +
        "j AS (SELECT inter/CAST(na + nb - inter AS DOUBLE) jac FROM g), " +
        "bks AS (SELECT CAST(floor(jac*10) AS BIGINT) bk, count(*) c FROM j WHERE jac >= 0.7 GROUP BY 1), " +
        "grid AS (SELECT CAST(unnest(range(7, 10)) AS BIGINT) tau10) " +
        "SELECT tau10, CAST(sum(c) AS BIGINT) pairs FROM grid JOIN bks ON bk >= tau10 " +
        "GROUP BY tau10 ORDER BY tau10")),
    // 2 unnormalized integer HITS rounds, unrolled
    QueryDef("q_hits", Queries.qHits,
      Some("WITH e AS (SELECT DISTINCT o_custkey*2 u, l_suppkey*2+1 v " +
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey), " +
        "a1 AS (SELECT v, count(*) a1 FROM e GROUP BY v), " +
        "h1 AS (SELECT u, CAST(sum(a1) AS BIGINT) h1 FROM e JOIN a1 USING (v) GROUP BY u), " +
        "a2 AS (SELECT v, CAST(sum(h1) AS BIGINT) a2 FROM e JOIN h1 USING (u) GROUP BY v) " +
        "SELECT v, a2 FROM a2 ORDER BY a2 DESC, v LIMIT 20"), Solo),
    // bounded quantity grid: cumulative-weight selection, exact int64
    QueryDef("q_weighted_median", Queries.qWeightedMedian,
      Some("WITH g AS (SELECT CAST(l_quantity AS BIGINT) q, " +
        "CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) w FROM lineitem GROUP BY 1), " +
        "c AS (SELECT q, CAST(sum(w) OVER (ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) cum FROM g), " +
        "t AS (SELECT CAST(sum(w) AS BIGINT) tw FROM g) " +
        "SELECT q wmedian, cum, tw FROM c, t WHERE cum * 2 >= tw " +
        "ORDER BY q LIMIT 1")),
    // two bounded ranking windows joined on nation
    QueryDef("q_rank_change", Queries.qRankChange,
      Some("WITH r AS (SELECT c_nationkey nk, year(o_orderdate) yr, " +
        "CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) c " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "WHERE year(o_orderdate) BETWEEN 1996 AND 1997 GROUP BY 1, 2), " +
        "a AS (SELECT nk, row_number() OVER (ORDER BY c DESC, nk) r96 FROM r WHERE yr = 1996), " +
        "b AS (SELECT nk, row_number() OVER (ORDER BY c DESC, nk) r97 FROM r WHERE yr = 1997) " +
        "SELECT nk, r96, r97, r96 - r97 delta FROM a JOIN b USING (nk) ORDER BY nk")),
    // first-month classification via per-customer min, no self-join
    QueryDef("q_new_vs_returning", Queries.qNewVsReturning,
      Some("WITH o AS (SELECT o_custkey, CAST(date_trunc('month', o_orderdate) AS DATE) mo, " +
        "CAST(round(o_totalprice*100) AS BIGINT) c FROM orders), " +
        "f AS (SELECT o_custkey, min(mo) fm FROM o GROUP BY 1) " +
        "SELECT mo, CAST(sum(CASE WHEN mo = fm THEN c ELSE 0 END) AS BIGINT) new_cents, " +
        "CAST(sum(CASE WHEN mo <> fm THEN c ELSE 0 END) AS BIGINT) ret_cents, " +
        "CAST(sum(CASE WHEN mo = fm THEN 1 ELSE 0 END) AS BIGINT) new_n, " +
        "CAST(sum(CASE WHEN mo <> fm THEN 1 ELSE 0 END) AS BIGINT) ret_n " +
        "FROM o JOIN f USING (o_custkey) GROUP BY mo ORDER BY mo")),
    // engine = 2-pass grid selection; oracle = brute-force k-th by sort
    QueryDef("q_exact_median", Queries.qExactMedian,
      Some("WITH s AS (SELECT count(*) n, (count(*) + 1) // 2 k FROM events), " +
        "r AS (SELECT value v, row_number() OVER (ORDER BY value, event_id) rn FROM events) " +
        "SELECT n, round(v, 2) median FROM r, s WHERE rn = k")),
    // equi pair join on (customer, $10k band); date window is residual
    QueryDef("q_dup_payments", Queries.qDupPayments,
      Some("WITH o AS (SELECT o_orderkey ok, o_custkey ck, CAST(round(o_totalprice*100) AS BIGINT)//1000000 c, " +
        "CAST(o_orderdate AS DATE) d FROM orders) " +
        "SELECT count(*) pairs, CAST(sum(a.ok + b.ok) AS BIGINT) chk, count(DISTINCT a.ck) custs " +
        "FROM o a JOIN o b ON a.ck = b.ck AND a.c = b.c AND a.ok < b.ok " +
        "AND abs(date_diff('day', a.d, b.d)) <= 90")),
    // distinct-accumulate via first day per user: linear, O(days) state
    QueryDef("q_cum_uniques", Queries.qCumUniques,
      Some("WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) d0 FROM events GROUP BY 1), " +
        "d AS (SELECT d0, count(*) nu FROM f GROUP BY 1) " +
        "SELECT d0, nu, CAST(sum(nu) OVER (ORDER BY d0 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) cum_users " +
        "FROM d ORDER BY d0")),
    // same ascending total order -> identical ntile bucket assignment
    QueryDef("q_lorenz", Queries.qLorenz,
      Some("WITH sp AS (SELECT o_custkey, CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) cc FROM orders GROUP BY 1), " +
        "d AS (SELECT o_custkey, (cc + 50) // 100 x FROM sp), " +
        "n AS (SELECT o_custkey, x, ntile(10) OVER (ORDER BY x, o_custkey) dc FROM d), " +
        "t AS (SELECT CAST(sum(x) AS BIGINT) tot FROM d) " +
        "SELECT dc, count(*) n, CAST(sum(x) AS BIGINT) mass, " +
        "round(CAST(sum(x) AS BIGINT)/CAST(tot AS DOUBLE), 6) mshare " +
        "FROM n, t GROUP BY dc, tot ORDER BY dc")),
    // exact per-arm counts; CAST(1 AS DOUBLE) avoids DuckDB's decimal
    // literal arithmetic where Spark's 1.0 is a double
    QueryDef("q_abtest", Queries.qAbtest,
      Some(armCountsSql +
        "SELECT na, nb, round(ka/CAST(na AS DOUBLE), 6) pa, round(kb/CAST(nb AS DOUBLE), 6) pb, " +
        "round((ka/CAST(na AS DOUBLE) - kb/CAST(nb AS DOUBLE)) / " +
        "sqrt(((ka+kb)/CAST(na+nb AS DOUBLE)) * (1.0 - (ka+kb)/CAST(na+nb AS DOUBLE)) * " +
        "(CAST(1 AS DOUBLE)/na + CAST(1 AS DOUBLE)/nb)), 4) z FROM s")),
    // ascending-rank formula with integer dollars: exact under tie order
    QueryDef("q_gini", Queries.qGini,
      Some("WITH sp AS (SELECT o_custkey, CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) cc FROM orders GROUP BY 1), " +
        "d AS (SELECT o_custkey, (cc + 50) // 100 x FROM sp), " +
        "r AS (SELECT x, row_number() OVER (ORDER BY x, o_custkey) i FROM d), " +
        "g AS (SELECT count(*) n, CAST(sum(x) AS BIGINT) sx, CAST(sum(i*x) AS BIGINT) six FROM r) " +
        "SELECT n, round(CAST(2*six - (n+1)*sx AS DOUBLE) / CAST(n*sx AS DOUBLE), 6) gini FROM g")),
    // overlap@d = cumulative count of max(ra, rb) <= d on the depth grid
    QueryDef("q_rbo", Queries.qRbo,
      Some("WITH li AS (SELECT l_suppkey, CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) rev, count(*) cnt FROM lineitem GROUP BY 1), " +
        "a AS (SELECT * FROM (SELECT l_suppkey, row_number() OVER (ORDER BY rev DESC, l_suppkey) ra FROM li) WHERE ra <= 20), " +
        "b AS (SELECT * FROM (SELECT l_suppkey, row_number() OVER (ORDER BY cnt DESC, l_suppkey) rb FROM li) WHERE rb <= 20), " +
        "p AS (SELECT greatest(ra, rb) m FROM a JOIN b USING (l_suppkey)), " +
        "grid AS (SELECT CAST(unnest(range(1, 21)) AS INT) d), " +
        "x AS (SELECT d, count(*) xd FROM grid JOIN p ON m <= d GROUP BY d) " +
        "SELECT round(sum(0.1 * pow(0.9, d - 1) * xd / d), 4) rbo, " +
        "max(CASE WHEN d = 20 THEN xd END) overlap20 FROM x")),
    // Monday=0 on both engines: Spark weekday == DuckDB isodow - 1
    QueryDef("q_dow_profile", Queries.qDowProfile,
      Some("WITH d AS (SELECT isodow(o_orderdate) - 1 dow, CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) c FROM orders GROUP BY 1), " +
        "t AS (SELECT CAST(sum(c) AS BIGINT) tc FROM d) " +
        "SELECT dow, round(c/CAST(tc AS DOUBLE), 6) shr, " +
        "round(7.0*c/CAST(tc AS DOUBLE), 4) idx FROM d, t ORDER BY dow")),
    // chi-square on the bounded contingency grid, exact marginals
    QueryDef("q_cramers_v", Queries.qCramersV,
      Some("WITH obs AS (SELECT c_nationkey, c_mktsegment, count(*) o FROM customer GROUP BY 1, 2), " +
        "rm AS (SELECT c_nationkey, CAST(sum(o) AS BIGINT) rn FROM obs GROUP BY 1), " +
        "cm AS (SELECT c_mktsegment, CAST(sum(o) AS BIGINT) cn FROM obs GROUP BY 1), " +
        "tt AS (SELECT CAST(sum(o) AS BIGINT) n, count(DISTINCT c_nationkey) r, count(DISTINCT c_mktsegment) k FROM obs), " +
        "te AS (SELECT n, r, k, CAST(floor(((o - rn*cn/CAST(n AS DOUBLE)) * (o - rn*cn/CAST(n AS DOUBLE)) / " +
        "(rn*cn/CAST(n AS DOUBLE)))*1000000000 + 0.5) AS BIGINT) tq FROM obs JOIN rm USING (c_nationkey) JOIN cm USING (c_mktsegment), tt), " +
        "g AS (SELECT n, r, k, CAST(sum(tq) AS DOUBLE)/1000000000 chi2 FROM te GROUP BY 1, 2, 3) " +
        "SELECT round(chi2, 4) chi2, round(sqrt(chi2 / CAST(n*least(r-1, k-1) AS DOUBLE)), 6) v FROM g")),
    // shared-window argmax: mode() builtins are tie-undefined in both
    // engines, so both spell the same row_number
    QueryDef("q_mode", Queries.qMode,
      Some("WITH c AS (SELECT user_id, event_type, count(*) n FROM events GROUP BY 1, 2), " +
        "r AS (SELECT user_id, event_type, n, row_number() OVER " +
        "(PARTITION BY user_id ORDER BY n DESC, event_type) rn FROM c) " +
        "SELECT user_id, event_type modal, n FROM r WHERE rn = 1 " +
        "ORDER BY user_id LIMIT 100")),
    QueryDef("q_gaps_islands", Queries.qGapsIslands,
      Some("WITH w AS (SELECT user_id, event_id, event_id - row_number() OVER " +
        "(PARTITION BY user_id ORDER BY event_id) isl FROM events), " +
        "i AS (SELECT user_id, isl, count(*) sz FROM w GROUP BY 1, 2) " +
        "SELECT user_id, count(*) islands, max(sz) longest, " +
        "CAST(sum(sz) AS BIGINT) n FROM i GROUP BY user_id " +
        "ORDER BY user_id LIMIT 100")),
    // open-flag = start beyond running max end (exact int64 µs)
    QueryDef("q_interval_coalesce", Queries.qIntervalCoalesce,
      Some("WITH e AS (SELECT user_id, event_id, epoch_us(ts) st, " +
        "epoch_us(ts) + CAST(round(value*1000) AS BIGINT)*1000 en FROM events), " +
        "p AS (SELECT user_id, event_id, st, en, max(en) OVER (PARTITION BY user_id " +
        "ORDER BY st, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) pmax FROM e), " +
        "f AS (SELECT user_id, event_id, st, en, " +
        "CASE WHEN pmax IS NULL OR st > pmax THEN 1 ELSE 0 END op FROM p), " +
        "g AS (SELECT user_id, st, en, sum(op) OVER (PARTITION BY user_id " +
        "ORDER BY st, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) grp FROM f), " +
        "m AS (SELECT user_id, grp, min(st) ms, max(en) me FROM g GROUP BY 1, 2) " +
        "SELECT user_id, count(*) merged, CAST(sum(me - ms) AS BIGINT) covered_us " +
        "FROM m GROUP BY user_id ORDER BY user_id LIMIT 100")),
    // integer regressors -> exact moment sums; doubles only at the end
    QueryDef("q_grouped_regression", Queries.qGroupedRegression,
      Some("WITH d AS (SELECT lang, CAST(len(string_split(text,' ')) AS BIGINT) x, " +
        "CAST(n_chars AS BIGINT) y FROM documents), " +
        "g AS (SELECT lang, count(*) n, CAST(sum(x) AS BIGINT) sx, CAST(sum(y) AS BIGINT) sy, " +
        "CAST(sum(x*y) AS BIGINT) sxy, CAST(sum(x*x) AS BIGINT) sxx FROM d GROUP BY lang) " +
        "SELECT lang, n, round(CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE), 6) slope, " +
        "round((sy - CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE) * sx) / n, 4) icept " +
        "FROM g ORDER BY lang")),
    // bins with mass on both sides only; CASTs force double division
    // (DuckDB int/int is integer division where Spark's is double)
    QueryDef("q_psi", Queries.qPsi,
      Some("WITH ev AS (SELECT event_type, CAST(floor(value) AS BIGINT) g FROM events), " +
        "a AS (SELECT g, count(*) na FROM ev WHERE event_type = 'click' GROUP BY g), " +
        "b AS (SELECT g, count(*) nb FROM ev WHERE event_type <> 'click' GROUP BY g), " +
        "j AS (SELECT a.g, na, nb FROM a JOIN b ON a.g = b.g), " +
        "t AS (SELECT CAST(sum(na) AS BIGINT) ta, CAST(sum(nb) AS BIGINT) tb FROM j) " +
        "SELECT round(CAST(sum(CAST(floor((((CAST(na AS DOUBLE)/ta) - (CAST(nb AS DOUBLE)/tb)) * " +
        "ln((CAST(na AS DOUBLE)/ta) / (CAST(nb AS DOUBLE)/tb)))*1000000000 + 0.5) AS BIGINT)) AS DOUBLE)/1000000000, 4) psi FROM j, t")),
    // integer-cents sum, divided back to dollars once — bit-stable under
    // any partition order (the q_decimal discipline)
    QueryDef("q_values_join", Queries.qValuesJoin,
      Some("WITH sla(pri, sla_days) AS (VALUES ('1-URGENT', 1), ('2-HIGH', 3), " +
        "('3-MEDIUM', 7), ('4-NOT SPECIFIED', 14), ('5-LOW', 30)) " +
        "SELECT sla_days, count(*) n, " +
        "CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100 rev " +
        "FROM orders JOIN sla ON o_orderpriority = pri " +
        "GROUP BY sla_days ORDER BY sla_days")),
    // forward as-of = the backward union+window plan on a flipped time
    // axis (ORDER BY t DESC); tag ASC keeps same-instant matches inclusive
    QueryDef("q_asof_fwd", Queries.qAsofFwd,
      Some("WITH u AS (SELECT user_id k, ts t, 1 tag, event_id le, CAST(NULL AS BIGINT) re " +
        "FROM events WHERE event_type = 'error' " +
        "UNION ALL SELECT user_id, ts, 0, CAST(NULL AS BIGINT), event_id " +
        "FROM events WHERE event_type = 'view') " +
        "SELECT le event_id, k user_id, mk asof_vid FROM " +
        "(SELECT u.*, last_value(re IGNORE NULLS) OVER (PARTITION BY k " +
        "ORDER BY t DESC, tag ASC, re DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) mk " +
        "FROM u) w WHERE tag = 1 ORDER BY le LIMIT 100")),
    // nearest = the backward (q_join_asof) and forward (q_asof_fwd)
    // spellings joined on the unique left key; vt is NULL on exactly the
    // rows re is NULL on, so both last_value(IGNORE NULLS) windows pick
    // from the same matched row
    QueryDef("q_asof_nearest", Queries.qAsofNearest,
      Some("WITH u AS (SELECT user_id k, ts t, 1 tag, event_id le, " +
        "CAST(NULL AS BIGINT) re, CAST(NULL AS TIMESTAMP) vt " +
        "FROM events WHERE event_type = 'error' " +
        "UNION ALL SELECT user_id, ts, 0, CAST(NULL AS BIGINT), event_id, ts " +
        "FROM events WHERE event_type = 'view'), " +
        "b AS (SELECT le, k, t, mk bvid, mt bvts FROM " +
        "(SELECT u.*, last_value(re IGNORE NULLS) OVER wb mk, " +
        "last_value(vt IGNORE NULLS) OVER wb mt FROM u " +
        "WINDOW wb AS (PARTITION BY k ORDER BY t ASC, tag ASC, re ASC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) x WHERE tag = 1), " +
        "f AS (SELECT le, mk fvid, mt fvts FROM " +
        "(SELECT u.*, last_value(re IGNORE NULLS) OVER wf mk, " +
        "last_value(vt IGNORE NULLS) OVER wf mt FROM u " +
        "WINDOW wf AS (PARTITION BY k ORDER BY t DESC, tag ASC, re DESC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) x WHERE tag = 1) " +
        "SELECT b.le event_id, b.k user_id, " +
        "CASE WHEN bvts IS NULL THEN fvid WHEN fvts IS NULL THEN bvid " +
        "WHEN epoch_us(t) - epoch_us(bvts) <= epoch_us(fvts) - epoch_us(t) " +
        "THEN bvid ELSE fvid END near_vid, " +
        "CASE WHEN bvts IS NULL THEN epoch_us(fvts) - epoch_us(t) " +
        "WHEN fvts IS NULL THEN epoch_us(t) - epoch_us(bvts) " +
        "ELSE least(epoch_us(t) - epoch_us(bvts), epoch_us(fvts) - epoch_us(t)) " +
        "END dt_us FROM b JOIN f ON b.le = f.le ORDER BY event_id LIMIT 100")),
    // the q_cosine_topk ranking with the different-label exclusion
    QueryDef("q_hard_negatives", Queries.qHardNegatives,
      Some("WITH qv AS (SELECT generate_subscripts(embedding,1) i, " +
        "unnest(embedding) v FROM embeddings WHERE vec_id=0), " +
        "ev AS (SELECT vec_id, label, generate_subscripts(embedding,1) i, " +
        "unnest(embedding) v FROM embeddings WHERE vec_id<>0 AND " +
        "label <> (SELECT label FROM embeddings WHERE vec_id=0)), " +
        "d AS (SELECT ev.vec_id, ev.label, sum(ev.v*qv.v) dot, " +
        "sqrt(sum(ev.v*ev.v)) nrm FROM ev JOIN qv ON ev.i=qv.i " +
        "GROUP BY ev.vec_id, ev.label), " +
        "nq AS (SELECT sqrt(sum(v*v)) n FROM qv) " +
        "SELECT d.vec_id, d.label, round(d.dot/(d.nrm*nq.n),4) cos " +
        "FROM d, nq ORDER BY cos DESC, d.vec_id LIMIT 10")),
    // same recursion as q_holt; per-quarter MAPE terms integer-quantized
    // by truncating division, so the skill-score ratios are exact
    QueryDef("q_backtest", Queries.qBacktest,
      Some("WITH RECURSIVE g AS (SELECT CAST(year(o_orderdate)*4 + " +
        "quarter(o_orderdate) AS BIGINT) m, " +
        "CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) rev " +
        "FROM orders GROUP BY 1), " +
        "h(m, lvl, tr) AS (" +
        "SELECT m, rev, CAST(0 AS BIGINT) FROM g " +
        "WHERE m = (SELECT min(m) FROM g) " +
        "UNION ALL " +
        "SELECT x.m, x.nl, ((x.nl - x.lvl) * 3 + x.tr * 7) // 10 " +
        "FROM (SELECT g.m, h.lvl, h.tr, " +
        "(g.rev * 2 + (h.lvl + h.tr) * 8) // 10 AS nl " +
        "FROM h JOIN g ON g.m = h.m + 1) x), " +
        "sc AS (SELECT h.lvl + h.tr f, a.rev a, p.rev prev FROM h " +
        "JOIN g a ON a.m = h.m + 1 JOIN g p ON p.m = h.m), " +
        "t AS (SELECT count(*) n, " +
        // MAPE terms lifted to HUGEINT before the *1e6: quarterly sums at
        // very large SF (~1e15 cents) would overflow int64 in the multiply
        "CAST(sum((CAST(abs(f - a) AS HUGEINT) * 1000000) // a) AS BIGINT) sh, " +
        "CAST(sum((CAST(abs(prev - a) AS HUGEINT) * 1000000) // a) AS BIGINT) sn, " +
        "CAST(sum(f - a) AS BIGINT) sb FROM sc) " +
        "SELECT n, round(CAST(sh AS DOUBLE) / n / 1e6, 4) mape, " +
        "round(CAST(sn AS DOUBLE) / n / 1e6, 4) naive_mape, " +
        "round(CAST(sh AS DOUBLE) / CAST(sn AS DOUBLE), 4) mase, " +
        "round(CAST(sb AS DOUBLE) / n / 100.0, 2) bias FROM t"), Solo),
    // exact int64 group sums over the full user universe; the four
    // means and the DiD estimate are one shared double expression
    QueryDef("q_did", Queries.qDid,
      Some("WITH d0 AS (SELECT min(CAST(ts AS DATE)) d0 FROM events), " +
        "ev AS (SELECT user_id, event_type, " +
        "(CAST(ts AS DATE) - (SELECT d0 FROM d0)) >= 15 post, " +
        "CAST(round(value*1000) AS BIGINT) v FROM events), " +
        "fl AS (SELECT user_id, CASE WHEN " +
        "sum(CASE WHEN event_type = 'signup' AND NOT post THEN 1 ELSE 0 END) > " +
        "sum(CASE WHEN event_type = 'error' AND NOT post THEN 1 ELSE 0 END) " +
        "THEN 1 ELSE 0 END tr FROM ev GROUP BY user_id), " +
        "ns AS (SELECT CAST(sum(tr) AS BIGINT) nt, " +
        "CAST(sum(1 - tr) AS BIGINT) nc FROM fl), " +
        "pu AS (SELECT user_id, post, CAST(sum(v) AS BIGINT) sv FROM ev " +
        "WHERE event_type = 'purchase' GROUP BY 1, 2), " +
        "sm AS (SELECT " +
        "coalesce(CAST(sum(CASE WHEN tr = 1 AND post THEN sv END) AS BIGINT), 0) st_post, " +
        "coalesce(CAST(sum(CASE WHEN tr = 1 AND NOT post THEN sv END) AS BIGINT), 0) st_pre, " +
        "coalesce(CAST(sum(CASE WHEN tr = 0 AND post THEN sv END) AS BIGINT), 0) sc_post, " +
        "coalesce(CAST(sum(CASE WHEN tr = 0 AND NOT post THEN sv END) AS BIGINT), 0) sc_pre " +
        "FROM pu JOIN fl ON pu.user_id = fl.user_id) " +
        "SELECT nt, nc, " +
        "round(CAST(st_pre AS DOUBLE)/CAST(nt AS DOUBLE)/1000.0, 4) t_pre, " +
        "round(CAST(st_post AS DOUBLE)/CAST(nt AS DOUBLE)/1000.0, 4) t_post, " +
        "round(CAST(sc_pre AS DOUBLE)/CAST(nc AS DOUBLE)/1000.0, 4) c_pre, " +
        "round(CAST(sc_post AS DOUBLE)/CAST(nc AS DOUBLE)/1000.0, 4) c_post, " +
        "round(CAST(st_post AS DOUBLE)/CAST(nt AS DOUBLE)/1000.0 - " +
        "CAST(st_pre AS DOUBLE)/CAST(nt AS DOUBLE)/1000.0 - " +
        "(CAST(sc_post AS DOUBLE)/CAST(nc AS DOUBLE)/1000.0 - " +
        "CAST(sc_pre AS DOUBLE)/CAST(nc AS DOUBLE)/1000.0), 4) did " +
        "FROM sm, ns")),
    // milli-cent unit prices by integer truncation (div ≡ //), basket
    // sums in HUGEINT ≡ decimal(38,0), three shared double ratios
    QueryDef("q_price_index", Queries.qPriceIndex,
      Some("WITH py AS (SELECT l_partkey pk, year(l_shipdate) y, " +
        "CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) ep, " +
        "CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) q " +
        "FROM lineitem GROUP BY 1, 2), " +
        "p2 AS (SELECT pk, y, (ep*1000) // q pq, q FROM py), " +
        "b AS (SELECT pk, pq p0, q q0 FROM p2 " +
        "WHERE y = (SELECT min(y) FROM p2)), " +
        "j AS (SELECT p2.y, sum(CAST(p2.pq AS HUGEINT)*b.q0) lnum, " +
        "sum(CAST(b.p0 AS HUGEINT)*b.q0) lden, " +
        "sum(CAST(p2.pq AS HUGEINT)*p2.q) pnum, " +
        "sum(CAST(b.p0 AS HUGEINT)*p2.q) pden " +
        "FROM p2 JOIN b ON p2.pk = b.pk GROUP BY 1) " +
        "SELECT y, round(CAST(lnum AS DOUBLE)/CAST(lden AS DOUBLE), 4) laspeyres, " +
        "round(CAST(pnum AS DOUBLE)/CAST(pden AS DOUBLE), 4) paasche, " +
        "round(sqrt(CAST(lnum AS DOUBLE)/CAST(lden AS DOUBLE) * " +
        "(CAST(pnum AS DOUBLE)/CAST(pden AS DOUBLE))), 4) fisher " +
        "FROM j ORDER BY y")),
    // recall@10 composed from the SAME three ranking texts that back
    // q_cosine_topk / q_ann_lsh / q_ann_multiprobe — the top-10
    // boundaries are deterministic (ORDER BY rounded cos, vec_id), so
    // the intersection counts are exact
    QueryDef("q_ann_recall", Queries.qAnnRecall,
      Some(s"SELECT 10 k, lh.lsh_hits, round(lh.lsh_hits/10.0, 2) lsh_recall, " +
        "mh.multi_hits, round(mh.multi_hits/10.0, 2) multi_recall, " +
        "ph.pq_hits, round(ph.pq_hits/10.0, 2) pq_recall " +
        s"FROM (SELECT count(*) lsh_hits FROM ($cosineTopkSql) e " +
        s"JOIN ($annLshSql) l ON e.vec_id = l.vec_id) lh, " +
        s"(SELECT count(*) multi_hits FROM ($cosineTopkSql) e2 " +
        s"JOIN ($annMultiprobeSql) m ON e2.vec_id = m.vec_id) mh, " +
        s"(SELECT count(*) pq_hits FROM ($cosineTopkSql) e3 " +
        s"JOIN ($annPqSql) pq ON e3.vec_id = pq.vec_id) ph")),
    // exact-integer chi-square cells ((100·obs − n·w)² HUGEINT), each
    // term's one double division 1e-6-quantized BEFORE the 3-row sum
    QueryDef("q_srm", Queries.qSrm,
      Some("WITH b AS (SELECT doc_id, CAST(concat('0x', " +
        "substr(md5(CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT) % 100 bk " +
        "FROM documents), " +
        "o AS (SELECT CASE WHEN bk < 90 THEN 'train' WHEN bk < 95 THEN 'val' " +
        "ELSE 'test' END split, count(*) obs FROM b GROUP BY 1), " +
        // literal 3-row dim + coalesce(obs,0): an EMPTY split still
        // contributes its (0 - n*w)^2 cell (the case SRM exists to flag)
        "ow AS (SELECT d.split, coalesce(o.obs, 0) obs, d.w " +
        "FROM (VALUES ('train', 90), ('val', 5), ('test', 5)) d(split, w) " +
        "LEFT JOIN o ON o.split = d.split), " +
        "t AS (SELECT CAST(sum(obs) AS BIGINT) n FROM ow), " +
        "q AS (SELECT t.n, CAST(floor(CAST(CAST(100*obs - t.n*w AS HUGEINT) * " +
        "(100*obs - t.n*w) AS DOUBLE) / (100.0 * t.n * w) * 1e6 + 0.5) " +
        "AS BIGINT) tq FROM ow, t) " +
        "SELECT n, round(CAST(sum(tq) AS BIGINT) / 1e6, 4) chi2, " +
        "CAST(sum(tq) AS BIGINT) > 13816000 srm FROM q GROUP BY n")),
    // day grain; churn charged to the day after a gap begins, capped
    // at the horizon
    QueryDef("q_growth_accounting", Queries.qGrowthAccounting,
      Some("WITH um AS (SELECT DISTINCT user_id, CAST(CAST(ts AS DATE) - " +
        "DATE '1970-01-01' AS BIGINT) m FROM events), " +
        "h AS (SELECT max(m) mx FROM um), " +
        "st AS (SELECT user_id, m, lag(m) OVER w prev, lead(m) OVER w nxt " +
        "FROM um WINDOW w AS (PARTITION BY user_id ORDER BY m)), " +
        "status AS (SELECT m, CASE WHEN prev IS NULL THEN 'new' " +
        "WHEN prev = m - 1 THEN 'retained' ELSE 'resurrected' END status " +
        "FROM st " +
        "UNION ALL SELECT m + 1, 'churned' FROM st, h " +
        "WHERE (nxt IS NULL OR nxt > m + 1) AND m < h.mx) " +
        "SELECT m, count(*) FILTER (WHERE status = 'new') \"new\", " +
        "count(*) FILTER (WHERE status = 'retained') retained, " +
        "count(*) FILTER (WHERE status = 'resurrected') resurrected, " +
        "count(*) FILTER (WHERE status = 'churned') churned " +
        "FROM status GROUP BY m ORDER BY m")),
    // avg DAU / WAU per week; exact counts, two shared double ratios
    QueryDef("q_stickiness", Queries.qStickiness,
      Some("WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) dy FROM events), " +
        "d AS (SELECT CAST((dy - DATE '1970-01-01') // 7 AS BIGINT) m, dy, " +
        "count(*) dau FROM ud GROUP BY 1, 2), " +
        "dm AS (SELECT m, CAST(sum(dau) AS BIGINT) sdau, count(*) ndays " +
        "FROM d GROUP BY 1), " +
        "ma AS (SELECT CAST((dy - DATE '1970-01-01') // 7 AS BIGINT) m, " +
        "count(DISTINCT user_id) wau FROM ud GROUP BY 1) " +
        "SELECT dm.m, dm.ndays, ma.wau, " +
        "round(CAST(sdau AS DOUBLE) / CAST(ndays AS DOUBLE), 2) avg_dau, " +
        "round(CAST(sdau AS DOUBLE) / CAST(ndays*wau AS DOUBLE), 4) stickiness " +
        "FROM dm JOIN ma ON dm.m = ma.m ORDER BY dm.m")),
    // per-lang sums of the q_bpe_apply piece counts; exact int64 moments
    QueryDef("q_fertility", Queries.qFertility,
      Some("SELECT lang, CAST(sum(len(string_split(text, ' '))) AS BIGINT) words, " +
        "CAST(sum(list_sum(list_transform(list_transform(string_split(text, ' '), " +
        "w -> trim(replace(replace(replace(concat(' ', trim(regexp_replace(w, '(.)', '\\1 ', 'g')), ' '), " +
        "' e r ', ' er '), ' i n ', ' in '), ' o w ', ' ow '))), " +
        "s -> len(string_split(s, ' '))))) AS BIGINT) pieces, " +
        "round(CAST(sum(list_sum(list_transform(list_transform(string_split(text, ' '), " +
        "w -> trim(replace(replace(replace(concat(' ', trim(regexp_replace(w, '(.)', '\\1 ', 'g')), ' '), " +
        "' e r ', ' er '), ' i n ', ' in '), ' o w ', ' ow '))), " +
        "s -> len(string_split(s, ' '))))) AS DOUBLE) / " +
        "CAST(sum(len(string_split(text, ' '))) AS DOUBLE), 4) fertility " +
        "FROM documents GROUP BY lang ORDER BY lang")),
    // integer kappa: numerator/denominator exact via HUGEINT marginal
    // products ≡ the engine's decimal(38,0); one shared ratio at the end
    QueryDef("q_kappa", Queries.qKappa,
      Some("WITH b AS (SELECT lang, CASE WHEN len(list_filter(string_split(text,' '), " +
        "w -> w IN ('the', 'a')))/CAST(len(string_split(text,' ')) AS DOUBLE) " +
        ">= 0.05 THEN 'en' ELSE 'und' END pred FROM documents), " +
        "t AS (SELECT count(*) n, CAST(sum(CASE WHEN lang = pred THEN 1 " +
        "ELSE 0 END) AS BIGINT) diag FROM b), " +
        "r AS (SELECT lang c, count(*) nl FROM b GROUP BY 1), " +
        "c AS (SELECT pred c, count(*) np FROM b GROUP BY 1), " +
        "p AS (SELECT coalesce(sum(CAST(nl AS HUGEINT)*np), 0) penum " +
        "FROM r JOIN c ON r.c = c.c) " +
        "SELECT n, diag, round(CAST(CAST(n AS HUGEINT)*diag - penum AS DOUBLE) / " +
        "CAST(CAST(n AS HUGEINT)*n - penum AS DOUBLE), 4) kappa FROM t, p")),
    // month index = integer y*12+m arithmetic; the running sum windows
    // by cohort over the bounded age axis. ltv quantizes the shared
    // cum/ncust double (cents) via floor(x+0.5)/100, not round(,2):
    // round's repr-vs-binary half-handling diverged engines at a .xx5
    // boundary (sf0.1, caught by the strict round-10 gate).
    QueryDef("q_cohort_ltv", Queries.qCohortLtv,
      Some("WITH o AS (SELECT o_custkey, CAST(year(o_orderdate)*12 + " +
        "month(o_orderdate) AS BIGINT) m, " +
        "CAST(round(o_totalprice*100) AS BIGINT) c FROM orders), " +
        "f AS (SELECT o_custkey, min(m) cm FROM o GROUP BY 1), " +
        "sz AS (SELECT cm cohort, count(*) ncust FROM f GROUP BY 1), " +
        "cell AS (SELECT f.cm cohort, o.m - f.cm age, " +
        "CAST(sum(o.c) AS BIGINT) rev FROM o JOIN f ON o.o_custkey = f.o_custkey " +
        "GROUP BY 1, 2), " +
        "cc AS (SELECT cohort, age, CAST(sum(rev) OVER (PARTITION BY cohort " +
        "ORDER BY age ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "AS BIGINT) cum FROM cell) " +
        "SELECT cc.cohort, cc.age, sz.ncust, cc.cum, " +
        "floor(CAST(cc.cum AS DOUBLE) / CAST(sz.ncust AS DOUBLE) + 0.5) / 100.0 ltv " +
        "FROM cc JOIN sz ON cc.cohort = sz.cohort WHERE cc.age <= 11 " +
        "ORDER BY cc.cohort, cc.age")),
    // components 1e-6-quantized via explicit floor(v*1e6+0.5) (round()
    // half-handling differs on negatives across engines); the squared
    // numerator accumulates HUGEINT ≡ the engine's decimal(38,0)
    QueryDef("q_embed_outlier", Queries.qEmbedOutlier,
      Some("WITH c AS (SELECT vec_id, label, generate_subscripts(embedding,1) i, " +
        "unnest(embedding) v FROM embeddings), " +
        "q AS (SELECT vec_id, label, i, " +
        "CAST(floor(CAST(v AS DOUBLE)*1e6 + 0.5) AS BIGINT) vq FROM c), " +
        "ct AS (SELECT label, i, CAST(sum(vq) AS BIGINT) sv, count(*) n " +
        "FROM q GROUP BY label, i), " +
        "d AS (SELECT q.vec_id, q.label, max(ct.n) n, " +
        "sum(CAST(q.vq*ct.n - ct.sv AS HUGEINT) * (q.vq*ct.n - ct.sv)) d2 " +
        "FROM q JOIN ct ON q.label = ct.label AND q.i = ct.i " +
        "GROUP BY q.vec_id, q.label) " +
        "SELECT vec_id, label, round(sqrt(CAST(d2 AS DOUBLE)) / " +
        "(CAST(n AS DOUBLE)*1e6), 4) dist " +
        "FROM d ORDER BY dist DESC, vec_id LIMIT 20")),
    // Rank.ntiled ≡ ntile(5) OVER the same total order (RankSpec-pinned);
    // DATE - DATE is integer days in DuckDB, datediff in Spark
    QueryDef("q_rfm", Queries.qRfm,
      Some("WITH per AS (SELECT o_custkey, " +
        "(SELECT max(o_orderdate) FROM orders) - max(o_orderdate) rd, " +
        "count(*) f, CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) " +
        "AS BIGINT) m FROM orders GROUP BY 1), " +
        "t AS (SELECT o_custkey, m, " +
        "ntile(5) OVER (ORDER BY rd, o_custkey) r, " +
        "ntile(5) OVER (ORDER BY f, o_custkey) fq, " +
        "ntile(5) OVER (ORDER BY m, o_custkey) mq FROM per) " +
        "SELECT r, fq, mq, count(*) customers, CAST(sum(m) AS BIGINT) cents " +
        "FROM t GROUP BY 1, 2, 3 ORDER BY 1, 2, 3")),
    // both logs 1e-9-quantized to BIGINT before the exact moments; the
    // cross products lift to HUGEINT ≡ decimal(38,0)
    QueryDef("q_zipf", Queries.qZipf,
      Some("WITH f AS (SELECT w, count(*) c FROM " +
        "(SELECT unnest(string_split(text, ' ')) w FROM documents) " +
        "WHERE w <> '' GROUP BY w), " +
        "r AS (SELECT c, row_number() OVER (ORDER BY c DESC, w) rk FROM f), " +
        "l AS (SELECT CAST(floor(ln(CAST(rk AS DOUBLE))*1e9 + 0.5) AS BIGINT) lx, " +
        "CAST(floor(ln(CAST(c AS DOUBLE))*1e9 + 0.5) AS BIGINT) ly FROM r), " +
        "m AS (SELECT count(*) n_vocab, CAST(sum(lx) AS BIGINT) sx, " +
        "CAST(sum(ly) AS BIGINT) sy, sum(CAST(lx AS HUGEINT)*lx) sxx, " +
        "sum(CAST(lx AS HUGEINT)*ly) sxy FROM l) " +
        "SELECT n_vocab, " +
        "round(CAST(n_vocab*sxy - CAST(sx AS HUGEINT)*sy AS DOUBLE) / " +
        "CAST(n_vocab*sxx - CAST(sx AS HUGEINT)*sx AS DOUBLE), 4) zipf_slope, " +
        "round((CAST(sy AS DOUBLE) - " +
        "CAST(n_vocab*sxy - CAST(sx AS HUGEINT)*sy AS DOUBLE) / " +
        "CAST(n_vocab*sxx - CAST(sx AS HUGEINT)*sx AS DOUBLE) * " +
        "CAST(sx AS DOUBLE)) / CAST(n_vocab AS DOUBLE) / 1e9, 4) intercept " +
        "FROM m")),
    // bounded month grid; both averages are integer division, which
    // truncates toward zero in both engines (Spark div ≡ DuckDB //)
    QueryDef("q_stl", Queries.qStl,
      Some("WITH g AS (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) mon, " +
        "CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) rev " +
        "FROM orders GROUP BY 1), " +
        "t AS (SELECT mon, rev, count(*) OVER w12 n12, " +
        "CAST(sum(rev) OVER w12 AS BIGINT) s12 FROM g " +
        "WINDOW w12 AS (ORDER BY mon ROWS BETWEEN 6 PRECEDING AND 5 FOLLOWING)), " +
        "td AS (SELECT mon, rev, " +
        "CASE WHEN n12 = 12 THEN s12 // 12 END trend, " +
        "rev - CASE WHEN n12 = 12 THEN s12 // 12 END d FROM t), " +
        "se AS (SELECT month(mon) moy, CAST(sum(d) AS BIGINT) sd, " +
        "count(d) cd FROM td GROUP BY 1), " +
        "ss AS (SELECT moy, CASE WHEN cd > 0 THEN sd // cd END seasonal FROM se) " +
        "SELECT td.mon, td.rev, td.trend, ss.seasonal, td.d - ss.seasonal resid " +
        "FROM td JOIN ss ON month(td.mon) = ss.moy ORDER BY td.mon")),
    // the same two-state recurrence, // for DIV (both truncate toward 0)
    QueryDef("q_holt", Queries.qHolt,
      Some("WITH RECURSIVE g AS (SELECT CAST(year(o_orderdate)*4 + " +
        "quarter(o_orderdate) AS BIGINT) m, " +
        "CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) rev " +
        "FROM orders GROUP BY 1), " +
        "h(m, lvl, tr) AS (" +
        "SELECT m, rev, CAST(0 AS BIGINT) FROM g " +
        "WHERE m = (SELECT min(m) FROM g) " +
        "UNION ALL " +
        "SELECT x.m, x.nl, ((x.nl - x.lvl) * 3 + x.tr * 7) // 10 " +
        "FROM (SELECT g.m, h.lvl, h.tr, " +
        "(g.rev * 2 + (h.lvl + h.tr) * 8) // 10 AS nl " +
        "FROM h JOIN g ON g.m = h.m + 1) x) " +
        "SELECT m, lvl, tr, lvl + tr AS forecast_next FROM h ORDER BY m"), Solo),
    // recurrence × group: one Holt recurrence per mktsegment in lockstep
    // (per-round frontier = one state row per segment); grid densified
    // (cross join + coalesce 0) so a silent quarter smooths through as a
    // zero observation instead of breaking that segment's m+1 chain
    QueryDef("q_holt_grouped", Queries.qHoltGrouped,
      Some("WITH RECURSIVE gq AS (SELECT c_mktsegment seg, " +
        "CAST(year(o_orderdate)*4 + quarter(o_orderdate) AS BIGINT) m, " +
        "CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) rev " +
        "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2), " +
        "g AS (SELECT qs.m, sg.seg, coalesce(gq.rev, 0) rev " +
        // dense min..max quarter axis: a globally empty quarter must not
        // break the m+1 chain (mirrors the engine's sequence(lo, hi))
        "FROM (SELECT unnest(generate_series((SELECT min(m) FROM gq), " +
        "(SELECT max(m) FROM gq))) m) qs " +
        "CROSS JOIN (SELECT DISTINCT seg FROM gq) sg " +
        "LEFT JOIN gq ON gq.m = qs.m AND gq.seg = sg.seg), " +
        "h(seg, m, lvl, tr) AS (" +
        "SELECT seg, m, rev, CAST(0 AS BIGINT) FROM g " +
        "WHERE m = (SELECT min(m) FROM g) " +
        "UNION ALL " +
        "SELECT x.seg, x.m, x.nl, ((x.nl - x.lvl) * 3 + x.tr * 7) // 10 " +
        "FROM (SELECT g.seg, g.m, h.lvl, h.tr, " +
        "(g.rev * 2 + (h.lvl + h.tr) * 8) // 10 AS nl " +
        "FROM h JOIN g ON g.seg = h.seg AND g.m = h.m + 1) x) " +
        "SELECT seg, m, lvl, tr, lvl + tr AS forecast_next FROM h " +
        "ORDER BY seg, m"), Roamer),
    // engine = per-pivot sorted-array combination emission; oracle = the
    // naive e×e self-join on the same deg-capped pivot set — the
    // 1/ln(deg) weight is 1e-9-quantized to BIGINT before summing, so
    // pair scores compare as exact integers in both engines
    QueryDef("q_linkpred", Queries.qLinkpred,
      Some("WITH d AS (SELECT l_orderkey o, count(DISTINCT l_partkey) deg " +
        "FROM lineitem GROUP BY 1), " +
        "dd AS (SELECT o, CAST(floor(1e9/ln(CAST(deg AS DOUBLE)) + 0.5) " +
        s"AS BIGINT) w FROM d WHERE deg BETWEEN ${Queries.hubCapLo} AND ${Queries.hubCapHi}), " +
        "e AS (SELECT DISTINCT l_orderkey o, l_partkey p FROM lineitem), " +
        "pr AS (SELECT e1.p a, e2.p b, dd.w FROM e e1 " +
        "JOIN e e2 ON e1.o = e2.o AND e1.p < e2.p " +
        "JOIN dd ON e1.o = dd.o) " +
        "SELECT a, b, count(*) cn, CAST(sum(w) AS BIGINT) aa " +
        "FROM pr GROUP BY a, b " +
        "ORDER BY cn DESC, aa DESC, a, b LIMIT 20"), Solo),
    // engine = compact-forward triangles + canonical-edge degrees; oracle
    // = the q_triangles naive triple self-join plus a degree CTE — cc is
    // one shared double ratio of exact ints, rounded before the ORDER BY
    QueryDef("q_cluster_coeff", Queries.qClusterCoeff,
      // ow mirrors the engine's hub cap (Queries.hubCapLo..hubCapHi —
      // interpolated from the ONE shared constant, per the r8 advice)
      Some("WITH ow AS (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey " +
        s"HAVING count(DISTINCT l_partkey) BETWEEN ${Queries.hubCapLo} AND ${Queries.hubCapHi}), " +
        "pp AS (SELECT DISTINCT x.l_partkey a, y.l_partkey b " +
        "FROM lineitem x JOIN lineitem y " +
        "ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey " +
        "WHERE x.l_orderkey IN (SELECT l_orderkey FROM ow)), " +
        "tr AS (SELECT e1.a, e1.b, e2.b c FROM pp e1 " +
        "JOIN pp e2 ON e2.a = e1.b " +
        "JOIN pp e3 ON e3.a = e1.a AND e3.b = e2.b), " +
        "tc AS (SELECT node, count(*) tri FROM " +
        "(SELECT unnest([a, b, c]) node FROM tr) GROUP BY node), " +
        "dg AS (SELECT node, count(*) deg FROM " +
        "(SELECT unnest([a, b]) node FROM pp) GROUP BY node) " +
        "SELECT dg.node, deg, coalesce(tri, 0) tri, " +
        "round(2.0 * coalesce(tri, 0) / (deg * (deg - 1)), 6) cc " +
        "FROM dg LEFT JOIN tc ON dg.node = tc.node WHERE deg >= 5 " +
        "ORDER BY cc DESC, dg.node LIMIT 15"), Solo),
    // doubled average ranks (min+max row_number per tie group) keep every
    // moment an exact integer; DuckDB's sum(BIGINT) is HUGEINT, matching
    // the engine's decimal(38,0) exactly, and int->double conversion is
    // IEEE round-to-nearest in both
    QueryDef("q_spearman", Queries.qSpearman,
      Some("WITH f AS (SELECT o_custkey c, count(*) x, " +
        "sum(CAST(round(o_totalprice*100) AS BIGINT)) y FROM orders GROUP BY 1), " +
        "r AS (SELECT c, x, y, row_number() OVER (ORDER BY x, c) rnx, " +
        "row_number() OVER (ORDER BY y, c) rny FROM f), " +
        "j AS (SELECT min(rnx) OVER (PARTITION BY x) + max(rnx) OVER (PARTITION BY x) a, " +
        "min(rny) OVER (PARTITION BY y) + max(rny) OVER (PARTITION BY y) b FROM r), " +
        "m AS (SELECT count(*) n, sum(a) s1, sum(b) s2, sum(a*b) sab, " +
        "sum(a*a) saa, sum(b*b) sbb FROM j) " +
        "SELECT n, round(CAST(n*sab - s1*s2 AS DOUBLE) / " +
        "sqrt(CAST(n*saa - s1*s1 AS DOUBLE) * CAST(n*sbb - s2*s2 AS DOUBLE)), 4) rho " +
        "FROM m")),
    // Poisson(1) multiplicities from integer inverse-CDF thresholds on
    // md5-uniforms — exact in both engines; replicate means quantized to
    // milli-cents (the q_jackknife discipline), squares in HUGEINT
    QueryDef("q_bootstrap", Queries.qBootstrap,
      Some("WITH o AS (SELECT o_orderkey, CAST(round(o_totalprice*100) AS BIGINT) c, " +
        "unnest(range(0, 32)) b FROM orders), " +
        "uu AS (SELECT b, c, CAST(concat('0x', substr(md5(concat_ws(':', 'bs', " +
        "CAST(b AS VARCHAR), CAST(o_orderkey AS VARCHAR))), 1, 15)) AS BIGINT) " +
        "% 1000000 u FROM o), " +
        "ww AS (SELECT b, c, CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1 " +
        "WHEN u < 919699 THEN 2 WHEN u < 981012 THEN 3 WHEN u < 996340 THEN 4 " +
        "WHEN u < 999406 THEN 5 WHEN u < 999917 THEN 6 WHEN u < 999990 THEN 7 " +
        "ELSE 8 END w FROM uu), " +
        "rep AS (SELECT CAST(floor(CAST(sum(w*c) AS DOUBLE)/sum(w)*1000 + 0.5) " +
        "AS BIGINT) mq FROM ww GROUP BY b), " +
        "g AS (SELECT count(*) n_boot, CAST(sum(mq) AS BIGINT) sm, " +
        "sum(CAST(mq AS HUGEINT)*mq) smm FROM rep) " +
        "SELECT n_boot, round(CAST(sm AS DOUBLE)/n_boot/100000.0, 4) boot_mean, " +
        "round(sqrt((CAST(smm AS DOUBLE) - CAST(sm AS DOUBLE)*sm/n_boot)/" +
        "(n_boot - 1))/100000.0, 4) se_boot FROM g")),
    // per-row cents^2 fits int64 but a segment's sum does not: the product
    // is lifted to HUGEINT (mirroring the engine's decimal(38,0) sum)
    QueryDef("q_hhi", Queries.qHhi,
      Some("WITH per AS (SELECT c_mktsegment seg, o_custkey, " +
        "sum(CAST(round(o_totalprice*100) AS BIGINT)) cents " +
        "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2) " +
        "SELECT seg, count(*) n_firms, " +
        "round(CAST(sum(CAST(cents AS HUGEINT)*cents) AS DOUBLE) / " +
        "(CAST(sum(cents) AS DOUBLE) * CAST(sum(cents) AS DOUBLE)), 6) hhi, " +
        "round(CAST(max(cents) AS DOUBLE) / CAST(sum(cents) AS DOUBLE), 6) top_share " +
        "FROM per GROUP BY seg ORDER BY seg")),
    // 60-bit md5 prefix mod (tk-8), the simhashSql hash-parse spelling
    QueryDef("q_span_mask", Queries.qSpanMask,
      Some("WITH d AS (SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) tk " +
        "FROM documents WHERE len(string_split(text,' ')) > 48), " +
        "s AS (SELECT doc_id, tk, tk // 40 nspans FROM d), " +
        "x AS (SELECT doc_id, tk, nspans, CAST(unnest(range(0, nspans)) AS BIGINT) i FROM s), " +
        "h AS (SELECT doc_id, tk, nspans, " +
        "CAST(concat('0x', substr(md5(concat_ws(':', 'span', CAST(doc_id AS VARCHAR), CAST(i AS VARCHAR))), 1, 15)) AS BIGINT) " +
        "% (tk - 8) st FROM x) " +
        "SELECT doc_id, tk, nspans, CAST(sum(st) AS BIGINT) chk, min(st) mn, max(st) mx " +
        "FROM h GROUP BY 1, 2, 3 ORDER BY doc_id LIMIT 100")),
    // 2-D skyline via the bounded size grid: strictly-smaller-size
    // running min (ROWS .. 1 PRECEDING) + per-size min, same as engine
    QueryDef("q_skyline", Queries.qSkyline,
      Some("WITH p AS (SELECT p_partkey, p_size, p_retailprice FROM part), " +
        "g AS (SELECT p_size, min(p_retailprice) mn FROM p GROUP BY p_size), " +
        "gm AS (SELECT p_size, mn, min(mn) OVER (ORDER BY p_size " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) mp FROM g) " +
        "SELECT p.p_partkey, p.p_size, p.p_retailprice price " +
        "FROM p JOIN gm ON p.p_size = gm.p_size " +
        "WHERE (mp IS NULL OR mp > p_retailprice) AND p_retailprice <= mn " +
        "ORDER BY p.p_size, p.p_partkey")),
    // integer-cents sums; the shared double spelling only at the end
    QueryDef("q_target_encode", Queries.qTargetEncode,
      Some("WITH o AS (SELECT o_orderpriority cat, CAST(round(o_totalprice*100) AS BIGINT) c FROM orders), " +
        "g AS (SELECT CAST(sum(c) AS BIGINT) gs, count(*) gn FROM o) " +
        "SELECT cat, count(*) n, round((CAST(sum(c) AS BIGINT) + 10.0 * gs / gn) " +
        "/ (count(*) + 10) / 100.0, 4) enc " +
        "FROM o, g GROUP BY cat, gs, gn ORDER BY cat")),
    // milli-unit values x ms-floored gaps: exact int64 sums both engines
    QueryDef("q_time_weighted", Queries.qTimeWeighted,
      Some("WITH e AS (SELECT user_id, event_id, CAST(round(value*1000) AS BIGINT) v, epoch_us(ts) us FROM events), " +
        "l AS (SELECT user_id, v, us, lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) nxt FROM e) " +
        "SELECT user_id, count(*) n, " +
        "round(CAST(sum(v * ((nxt - us) // 1000)) AS DOUBLE) / (sum((nxt - us) // 1000) * 1000.0), 4) twa " +
        "FROM l WHERE nxt IS NOT NULL GROUP BY user_id ORDER BY user_id LIMIT 100")),
    // argmax |n*cumsum - i*total| entirely in integers
    QueryDef("q_changepoint", Queries.qChangepoint,
      Some("WITH d AS (SELECT CAST(o_orderdate AS DATE) dy, CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) c " +
        "FROM orders GROUP BY 1), " +
        "t AS (SELECT CAST(sum(c) AS BIGINT) tc, count(*) nd FROM d), " +
        "w AS (SELECT dy, CAST(sum(c) OVER (ORDER BY dy ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) cum, " +
        "row_number() OVER (ORDER BY dy) i FROM d) " +
        "SELECT dy, CAST(nd*cum - i*tc AS BIGINT) s FROM w, t " +
        "ORDER BY abs(nd*cum - i*tc) DESC, dy LIMIT 1")),
    QueryDef("q_fd_check", Queries.qFdCheck,
      Some("WITH g AS (SELECT o_custkey, count(DISTINCT o_orderpriority) nd, count(*) n FROM orders GROUP BY 1) " +
        "SELECT count(*) lhs_keys, " +
        "CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) violating_keys, " +
        "CAST(sum(CASE WHEN nd > 1 THEN n ELSE 0 END) AS BIGINT) violating_rows, " +
        "max(nd) max_rhs FROM g")),
    QueryDef("q_kanon", Queries.qKanon,
      Some("WITH g AS (SELECT c_nationkey, c_mktsegment, count(*) n FROM customer GROUP BY 1, 2) " +
        "SELECT count(*) n_groups, " +
        "CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) risky_groups, " +
        "CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) risky_rows, " +
        "min(n) k_star FROM g")),
    // the q_degree_dist edge CTE + exact integer moment sums
    QueryDef("q_assortativity", Queries.qAssortativity,
      Some("WITH base AS (SELECT DISTINCT o_custkey*2 s, l_suppkey*2+1 d " +
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey), " +
        "e0 AS (SELECT s, d FROM base UNION ALL SELECT d, s FROM base), " +
        "dgt AS (SELECT s, count(*) deg FROM e0 GROUP BY s), " +
        "ed AS (SELECT da.deg dx, db.deg dy FROM e0 " +
        "JOIN dgt da ON e0.s = da.s JOIN dgt db ON e0.d = db.s), " +
        "mm AS (SELECT count(*) m, CAST(sum(dx) AS BIGINT) sx, CAST(sum(dy) AS BIGINT) sy, " +
        "CAST(sum(dx*dy) AS BIGINT) sxy, CAST(sum(dx*dx) AS BIGINT) sxx, CAST(sum(dy*dy) AS BIGINT) syy FROM ed) " +
        "SELECT m, round(CAST(m*sxy - sx*sy AS DOUBLE) / " +
        "sqrt(CAST(m*sxx - sx*sx AS DOUBLE) * CAST(m*syy - sy*sy AS DOUBLE)), 6) r FROM mm")),
    // same floor-quantized score expression as q_quality; DuckDB lists
    // are 1-indexed where Spark arrays are 0-indexed
    QueryDef("q_quantile_bin", Queries.qQuantileBin,
      Some("WITH q AS (SELECT doc_id, floor((least(n_chars/400.0, 1.0)*0.5 + " +
        "(len(list_filter(string_split(text,' '), w -> w IN ('the', 'a')))/CAST(len(string_split(text,' ')) AS DOUBLE))*0.3 + " +
        "least(len(string_split(text,' '))/80.0, 1.0)*0.2)*10000 + 0.5)/10000 score FROM documents), " +
        "c AS (SELECT quantile_cont(score, [0.25, 0.5, 0.75]) qs FROM q), " +
        "b AS (SELECT doc_id, score, CASE WHEN score <= qs[1] THEN 1 " +
        "WHEN score <= qs[2] THEN 2 WHEN score <= qs[3] THEN 3 ELSE 4 END bin FROM q, c) " +
        "SELECT bin, count(*) n, round(min(score), 4) lo, round(max(score), 4) hi, " +
        "CAST(sum(doc_id) AS BIGINT) chk FROM b GROUP BY bin ORDER BY bin")),
    // k$-unit monthly series; add_months == DATE - INTERVAL on day-1 dates
    QueryDef("q_autocorr", Queries.qAutocorr,
      Some("WITH m0 AS (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) mo, " +
        "CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) cc FROM orders GROUP BY 1), " +
        "m AS (SELECT mo, (cc + 50000) // 100000 c FROM m0), " +
        "l AS (SELECT 1 lg, a.c x, b.c y FROM m a JOIN m b ON b.mo = a.mo - INTERVAL 1 MONTH " +
        "UNION ALL SELECT 2, a.c, b.c FROM m a JOIN m b ON b.mo = a.mo - INTERVAL 2 MONTH " +
        "UNION ALL SELECT 3, a.c, b.c FROM m a JOIN m b ON b.mo = a.mo - INTERVAL 3 MONTH), " +
        "g AS (SELECT lg, count(*) n, CAST(sum(x) AS BIGINT) sx, CAST(sum(y) AS BIGINT) sy, " +
        "CAST(sum(x*y) AS BIGINT) sxy, CAST(sum(x*x) AS BIGINT) sxx, CAST(sum(y*y) AS BIGINT) syy FROM l GROUP BY lg) " +
        "SELECT lg, n, round(CAST(n*sxy - sx*sy AS DOUBLE) / " +
        "sqrt(CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE)), 6) r FROM g ORDER BY lg")),
    // hash-argmin neighbor choice == Spark's min(struct(md5, d))
    QueryDef("q_random_walk", Queries.qRandomWalk,
      Some("WITH base AS (SELECT DISTINCT o_custkey*2 s, l_suppkey*2+1 d " +
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey), " +
        "e0 AS (SELECT s, d FROM base UNION ALL SELECT d, s FROM base), " +
        "sd AS (SELECT DISTINCT s seed FROM e0 WHERE s % 2 = 0 AND s < 200), " +
        "s1 AS (SELECT seed, arg_min(d, md5(concat_ws(':', 'rw', '1', CAST(seed AS VARCHAR), CAST(d AS VARCHAR)))) n1 " +
        "FROM sd JOIN e0 ON seed = e0.s GROUP BY seed), " +
        "s2 AS (SELECT seed, n1, arg_min(d, md5(concat_ws(':', 'rw', '2', CAST(n1 AS VARCHAR), CAST(d AS VARCHAR)))) n2 " +
        "FROM s1 JOIN e0 ON n1 = e0.s GROUP BY seed, n1), " +
        "s3 AS (SELECT seed, n1, n2, arg_min(d, md5(concat_ws(':', 'rw', '3', CAST(n2 AS VARCHAR), CAST(d AS VARCHAR)))) n3 " +
        "FROM s2 JOIN e0 ON n2 = e0.s GROUP BY seed, n1, n2) " +
        "SELECT seed, n1, n2, n3 FROM s3 ORDER BY seed"), Roamer),
    // the bloom pre-filter is physical pruning only: no false negatives,
    // and the exact semi join removes false positives — so the oracle is
    // the PLAIN semi join (q_skew_join's oracle pattern)
    QueryDef("q_bloom_join", Queries.qBloomJoin,
      Some("SELECT c_mktsegment, count(*) n, round(sum(c_acctbal),2) bal " +
        "FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders) " +
        "GROUP BY c_mktsegment ORDER BY c_mktsegment")),
    // bucketing is physical layout only: the oracle is the plain join
    QueryDef("q_bucket_join", Queries.qBucketJoin,
      Some("SELECT o_orderpriority, count(*) n, round(sum(l_extendedprice),2) rev " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority")),
    // dynamic partition pruning is physical: the oracle is the same
    // dim-filtered join from the raw table (epoch-day % 7 — DATE-DATE is
    // BIGINT days in DuckDB ≡ Spark datediff; both operands positive)
    QueryDef("q_dpp_prune", Queries.qDppPrune,
      Some("WITH dd AS (SELECT DISTINCT CAST(ts AS DATE) dt FROM events), " +
        "d2 AS (SELECT dt FROM dd WHERE (dt - DATE '1970-01-01') % 7 = 2), " +
        "e AS (SELECT event_type, user_id, CAST(ts AS DATE) dt FROM events) " +
        "SELECT event_type, count(*) n, CAST(sum(user_id) AS BIGINT) chk, " +
        "count(DISTINCT e.dt) n_days FROM e JOIN d2 ON e.dt = d2.dt " +
        "GROUP BY event_type ORDER BY event_type")),
    QueryDef("q_mad", Queries.qMad,
      Some("WITH m AS (SELECT l_returnflag, quantile_cont(l_quantity, 0.5) med " +
        "FROM lineitem GROUP BY 1) " +
        "SELECT l.l_returnflag, round(max(m.med),4) med, " +
        "round(quantile_cont(abs(l.l_quantity - m.med), 0.5),4) mad " +
        "FROM lineitem l JOIN m ON l.l_returnflag = m.l_returnflag " +
        "GROUP BY l.l_returnflag ORDER BY l.l_returnflag")),
    // KS on the floor-quantized grid: integer cumulative counts over
    // integer totals — every |ΔF| term bit-reproducible; 6-dp floor
    QueryDef("q_ks", Queries.qKs,
      Some("WITH e AS (SELECT event_type, CAST(floor(value) AS BIGINT) g FROM events), " +
        "cb AS (SELECT g, count(*) nb FROM e GROUP BY g), " +
        "ca AS (SELECT g, count(*) na FROM e WHERE event_type = 'click' GROUP BY g), " +
        "grid AS (SELECT cb.g, coalesce(ca.na, 0) na, cb.nb FROM cb LEFT JOIN ca ON cb.g = ca.g), " +
        "c AS (SELECT g, sum(na) OVER (ORDER BY g) cna, sum(nb) OVER (ORDER BY g) cnb FROM grid), " +
        "t AS (SELECT CAST(sum(na) AS BIGINT) ta, CAST(sum(nb) AS BIGINT) tb FROM grid) " +
        "SELECT max(ta) n_click, max(tb) n_all, " +
        "floor(max(abs(cna/CAST(ta AS DOUBLE) - cnb/CAST(tb AS DOUBLE))) * 1e6)/1e6 ks " +
        "FROM c, t")),
    QueryDef("q_posexplode", Queries.qPosexplode,
      Some("SELECT doc_id, CAST(generate_subscripts(ws, 1) - 1 AS INT) i, unnest(ws) w " +
        "FROM (SELECT doc_id, string_split(text,' ') ws FROM documents WHERE doc_id < 10) t " +
        "ORDER BY doc_id, i LIMIT 500")),
    // the SQL-pipe DAG is pure composition: the oracle is the flattened SQL
    QueryDef("q_sql_node", Queries.qSqlNode,
      Some("SELECT o_custkey, count(*) n, round(sum(o_totalprice), 2) s " +
        "FROM orders WHERE o_totalprice > 100000 " +
        "GROUP BY o_custkey ORDER BY n DESC, o_custkey LIMIT 20")),
    // q_corpus_observed: every stage's gauge recomputed from the
    // flattened chain (same scrub/dedupe/score spellings as
    // q_corpus_pipeline, minus the lang filter in `n` — the observed
    // row gauges the PRE-gate intake too). sum() lifted from HUGEINT.
    QueryDef("q_corpus_observed", Queries.qCorpusObserved,
      Some("WITH n AS (SELECT CAST(doc_id AS BIGINT) id, text, lang, CAST(n_chars AS INT) n_chars FROM documents), " +
        "g AS (SELECT * FROM n WHERE lang = 'en'), " +
        "sc AS (SELECT id, regexp_replace(regexp_replace(text, " +
        "'[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g'), " +
        "'\\d{3}-\\d{3}-\\d{4}', '<PHONE>', 'g') AS \"text\", lang, n_chars FROM g), " +
        "dd AS (SELECT * FROM sc QUALIFY row_number() OVER (PARTITION BY md5(\"text\") ORDER BY id) = 1), " +
        "gr AS (SELECT id, lang, n_chars, string_split(\"text\", ' ') ws FROM dd), " +
        "rep AS (SELECT id, floor((1 - count(DISTINCT s)/CAST(count(*) AS DOUBLE))*10000 + 0.5)/10000 repetition " +
        "FROM (SELECT id, array_to_string(ws[i:i+1], ' ') s " +
        "FROM (SELECT id, ws, unnest(range(1, greatest(len(ws)-1,1)+1)) i FROM gr) t) sh GROUP BY id), " +
        "scored AS (SELECT gr.id, gr.lang, gr.n_chars, " +
        "floor((least(gr.n_chars/400.0, 1.0)*0.5 + " +
        "(len(list_filter(gr.ws, w -> w IN ('the', 'a')))/CAST(len(gr.ws) AS DOUBLE))*0.3 + " +
        "least(len(gr.ws)/80.0, 1.0)*0.2)*10000 + 0.5)/10000 quality, rep.repetition " +
        "FROM gr JOIN rep USING (id)), " +
        "k AS (SELECT * FROM scored WHERE quality >= 0.5 AND repetition <= 0.9) " +
        "SELECT * FROM (" +
        "SELECT 1 AS ord, 'normalized' AS stage, count(*) AS n_rows, CAST(sum(n_chars) AS BIGINT) AS n_chars_sum FROM n " +
        "UNION ALL SELECT 2, 'gated', count(*), CAST(sum(n_chars) AS BIGINT) FROM g " +
        "UNION ALL SELECT 3, 'scrubbed', count(*), CAST(sum(n_chars) AS BIGINT) FROM sc " +
        "UNION ALL SELECT 4, 'deduped', count(*), CAST(sum(n_chars) AS BIGINT) FROM dd " +
        "UNION ALL SELECT 5, 'scored', count(*), CAST(sum(n_chars) AS BIGINT) FROM scored " +
        "UNION ALL SELECT 6, 'kept', count(*), CAST(sum(n_chars) AS BIGINT) FROM k) " +
        "ORDER BY ord")),
    // q_corpus_incr_observed: the q_corpus_observed chain carried
    // through a `run` column (run 1 = even doc_id block, run 2 = odd —
    // the delta each incremental run sees); the dedupe window adds run
    // to its partition so each run's chain stays block-local, and every
    // stage gauge is recomputed GROUP BY run. id is globally unique, so
    // the repetition regroup needs no run key.
    QueryDef("q_corpus_incr_observed", Queries.qCorpusIncrObserved,
      Some("WITH r(run, par) AS (VALUES (1, 0), (2, 1)), " +
        "n AS (SELECT r.run, CAST(doc_id AS BIGINT) id, text, lang, CAST(n_chars AS INT) n_chars " +
        "FROM documents JOIN r ON doc_id % 2 = r.par), " +
        "g AS (SELECT * FROM n WHERE lang = 'en'), " +
        "sc AS (SELECT run, id, regexp_replace(regexp_replace(text, " +
        "'[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g'), " +
        "'\\d{3}-\\d{3}-\\d{4}', '<PHONE>', 'g') AS \"text\", lang, n_chars FROM g), " +
        "dd AS (SELECT * FROM sc QUALIFY row_number() OVER (PARTITION BY run, md5(\"text\") ORDER BY id) = 1), " +
        "gr AS (SELECT run, id, lang, n_chars, string_split(\"text\", ' ') ws FROM dd), " +
        "rep AS (SELECT id, floor((1 - count(DISTINCT s)/CAST(count(*) AS DOUBLE))*10000 + 0.5)/10000 repetition " +
        "FROM (SELECT id, array_to_string(ws[i:i+1], ' ') s " +
        "FROM (SELECT id, ws, unnest(range(1, greatest(len(ws)-1,1)+1)) i FROM gr) t) sh GROUP BY id), " +
        "scored AS (SELECT gr.run, gr.id, gr.lang, gr.n_chars, " +
        "floor((least(gr.n_chars/400.0, 1.0)*0.5 + " +
        "(len(list_filter(gr.ws, w -> w IN ('the', 'a')))/CAST(len(gr.ws) AS DOUBLE))*0.3 + " +
        "least(len(gr.ws)/80.0, 1.0)*0.2)*10000 + 0.5)/10000 quality, rep.repetition " +
        "FROM gr JOIN rep USING (id)), " +
        "k AS (SELECT * FROM scored WHERE quality >= 0.5 AND repetition <= 0.9) " +
        // each gauge LEFT JOINs from the run spine: a run whose stage is
        // empty still yields its (run, 0, NULL) row — matching the
        // engine, which always reports every instrumented stage
        "SELECT * FROM (" +
        "SELECT r.run, 1 AS ord, 'normalized' AS stage, count(n.id) AS n_rows, CAST(sum(n.n_chars) AS BIGINT) AS n_chars_sum FROM r LEFT JOIN n ON n.run = r.run GROUP BY r.run " +
        "UNION ALL SELECT r.run, 2, 'gated', count(g.id), CAST(sum(g.n_chars) AS BIGINT) FROM r LEFT JOIN g ON g.run = r.run GROUP BY r.run " +
        "UNION ALL SELECT r.run, 3, 'scrubbed', count(sc.id), CAST(sum(sc.n_chars) AS BIGINT) FROM r LEFT JOIN sc ON sc.run = r.run GROUP BY r.run " +
        "UNION ALL SELECT r.run, 4, 'deduped', count(dd.id), CAST(sum(dd.n_chars) AS BIGINT) FROM r LEFT JOIN dd ON dd.run = r.run GROUP BY r.run " +
        "UNION ALL SELECT r.run, 5, 'scored', count(scored.id), CAST(sum(scored.n_chars) AS BIGINT) FROM r LEFT JOIN scored ON scored.run = r.run GROUP BY r.run " +
        "UNION ALL SELECT r.run, 6, 'kept', count(k.id), CAST(sum(k.n_chars) AS BIGINT) FROM r LEFT JOIN k ON k.run = r.run GROUP BY r.run) " +
        "ORDER BY run, ord")),
    // CorpusModule's five-node DAG flattened: normalize -> lang gate ->
    // PII scrub ('g' flag: replace-all) -> exact dedupe keep-min-id on
    // md5 of the SCRUBBED text -> floor-quantized quality (q_quality
    // spelling) + bigram repetition (q_repetition spelling) -> filter
    QueryDef("q_corpus_pipeline", Queries.qCorpusPipeline,
      Some("WITH n AS (SELECT CAST(doc_id AS BIGINT) id, text, lang, CAST(n_chars AS INT) n_chars " +
        "FROM documents WHERE lang = 'en'), " +
        "sc AS (SELECT id, regexp_replace(regexp_replace(text, " +
        "'[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g'), " +
        "'\\d{3}-\\d{3}-\\d{4}', '<PHONE>', 'g') AS \"text\", lang, n_chars FROM n), " +
        "dd AS (SELECT * FROM sc QUALIFY row_number() OVER (PARTITION BY md5(\"text\") ORDER BY id) = 1), " +
        "gr AS (SELECT id, lang, n_chars, string_split(\"text\", ' ') ws FROM dd), " +
        "rep AS (SELECT id, floor((1 - count(DISTINCT s)/CAST(count(*) AS DOUBLE))*10000 + 0.5)/10000 repetition " +
        "FROM (SELECT id, array_to_string(ws[i:i+1], ' ') s " +
        "FROM (SELECT id, ws, unnest(range(1, greatest(len(ws)-1,1)+1)) i FROM gr) t) sh GROUP BY id), " +
        "scored AS (SELECT gr.id, gr.lang, gr.n_chars, " +
        "floor((least(gr.n_chars/400.0, 1.0)*0.5 + " +
        "(len(list_filter(gr.ws, w -> w IN ('the', 'a')))/CAST(len(gr.ws) AS DOUBLE))*0.3 + " +
        "least(len(gr.ws)/80.0, 1.0)*0.2)*10000 + 0.5)/10000 quality, rep.repetition " +
        "FROM gr JOIN rep USING (id)) " +
        "SELECT id, lang, n_chars, quality, repetition FROM scored " +
        "WHERE quality >= 0.5 AND repetition <= 0.9 ORDER BY id LIMIT 100")),
    // the incremental variant: no lang gate, and the dedupe window
    // partitions on (block, fingerprint) — runIncremental hands the
    // pipeline one DELTA at a time, so exact-dedupe scopes to the block
    // (the module's documented incremental semantic)
    // shared with q_corpus_stream: the stream row's micro-batches ARE
    // the parity blocks (one landing file per parity, one file per
    // trigger), so the block-scoped chain below replays both
    QueryDef("q_corpus_incr", Queries.qCorpusIncr, Some(corpusIncrSql)),
    QueryDef("q_corpus_stream", Queries.qCorpusStream, Some(corpusIncrSql), Solo, Stream),
    // the near-dup variant: after the exact-dedupe window, within-lang
    // token-Jaccard >= 0.9 pairs over the SCRUBBED text are transitively
    // closed (recursive min-reachable-id, the q_dedup_cluster closure)
    // and non-keeper cluster members are dropped before scoring
    QueryDef("q_corpus_neardup", Queries.qCorpusNeardup,
      Some("WITH RECURSIVE n AS (SELECT CAST(doc_id AS BIGINT) id, text, lang, CAST(n_chars AS INT) n_chars " +
        "FROM documents WHERE doc_id < 200 AND lang = 'en'), " +
        "sc AS (SELECT id, regexp_replace(regexp_replace(text, " +
        "'[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g'), " +
        "'\\d{3}-\\d{3}-\\d{4}', '<PHONE>', 'g') AS \"text\", lang, n_chars FROM n), " +
        "dd AS (SELECT * FROM sc QUALIFY row_number() OVER (PARTITION BY md5(\"text\") ORDER BY id) = 1), " +
        "d2 AS (SELECT id, lang, list_distinct(string_split(\"text\", ' ')) toks FROM dd), " +
        "tok AS (SELECT id, lang, len(toks) nt, unnest(toks) w FROM d2), " +
        "g AS (SELECT a.id da, b.id db, a.nt na, b.nt nb, count(*) inter " +
        "FROM tok a JOIN tok b ON a.w = b.w AND a.lang = b.lang AND a.id < b.id GROUP BY 1,2,3,4), " +
        "p AS (SELECT da, db FROM g WHERE inter/CAST(na+nb-inter AS DOUBLE) >= 0.9), " +
        "sym AS (SELECT da s, db t FROM p UNION SELECT db, da FROM p), " +
        "reach(id, r) AS (SELECT s, s FROM (SELECT DISTINCT s FROM sym) u " +
        "UNION SELECT sym.t, reach.r FROM reach JOIN sym ON sym.s = reach.id), " +
        "cc AS (SELECT id, min(r) comp FROM reach GROUP BY id), " +
        "losers AS (SELECT id FROM cc WHERE id <> comp), " +
        "nd AS (SELECT * FROM dd WHERE id NOT IN (SELECT id FROM losers)), " +
        "gr AS (SELECT id, lang, n_chars, string_split(\"text\", ' ') ws FROM nd), " +
        "rep AS (SELECT id, floor((1 - count(DISTINCT s)/CAST(count(*) AS DOUBLE))*10000 + 0.5)/10000 repetition " +
        "FROM (SELECT id, array_to_string(ws[i:i+1], ' ') s " +
        "FROM (SELECT id, ws, unnest(range(1, greatest(len(ws)-1,1)+1)) i FROM gr) t) sh GROUP BY id), " +
        "scored AS (SELECT gr.id, gr.lang, gr.n_chars, " +
        "floor((least(gr.n_chars/400.0, 1.0)*0.5 + " +
        "(len(list_filter(gr.ws, w -> w IN ('the', 'a')))/CAST(len(gr.ws) AS DOUBLE))*0.3 + " +
        "least(len(gr.ws)/80.0, 1.0)*0.2)*10000 + 0.5)/10000 quality, rep.repetition " +
        "FROM gr JOIN rep USING (id)) " +
        "SELECT id, lang, n_chars, quality, repetition FROM scored " +
        "WHERE quality >= 0.5 AND repetition <= 0.9 ORDER BY id LIMIT 100"), Solo),
    // incremental × near-dup: both dedupe scopes are block-local — the
    // exact window partitions on (blk, fingerprint) and the pair join
    // requires a.blk = b.blk, which makes the recursive closure
    // block-local without touching the reach CTE
    QueryDef("q_corpus_incr_neardup", Queries.qCorpusIncrNeardup, Some(corpusIncrNeardupSql), Solo),
    // stream × near-dup: the stream row's micro-batches ARE the parity
    // blocks (one landing file per parity, one file per trigger), so the
    // same block-scoped chain replays the stream-fed dedupe ladder
    QueryDef("q_corpus_stream_neardup", Queries.qCorpusStreamNeardup, Some(corpusIncrNeardupSql), Solo, Stream),
    QueryDef("q_minhash_est", Queries.qMinhashEst, Some(minhashEstSql)),
    // schema-evolution union: missing columns null-filled per side
    QueryDef("q_union_schema", Queries.qUnionSchema,
      Some("SELECT count(*) n, count(price) np, count(prio) npr, round(sum(price),2) sp " +
        "FROM (SELECT o_orderkey k, o_totalprice price, CAST(NULL AS VARCHAR) prio FROM orders " +
        "UNION ALL SELECT o_orderkey, CAST(NULL AS DOUBLE), o_orderpriority FROM orders) t")),
    // explode_outer = LEFT-JOIN generator semantics: empty list -> one null row
    QueryDef("q_explode_outer", Queries.qExplodeOuter,
      Some("WITH d AS (SELECT doc_id, list_filter(string_split(text,' '), w -> w = 'key') ws " +
        "FROM documents WHERE doc_id < 50), " +
        "e AS (SELECT doc_id, unnest(CASE WHEN len(ws) = 0 THEN [CAST(NULL AS VARCHAR)] ELSE ws END) w FROM d) " +
        "SELECT doc_id, count(*) c, count(w) cw FROM e GROUP BY doc_id ORDER BY doc_id")),
    QueryDef("q_rrf", Queries.qRrf, Some(rrfSql)),
    QueryDef("q_ndcg", Queries.qNdcg, Some(ndcgSql)),
    QueryDef("q_jsd", Queries.qJsd, Some(jsdSql)),
    QueryDef("q_cooccur", Queries.qCooccur, Some(cooccurSql)),
    // first-order Markov transitions: lag over (ts, event_id) per user
    QueryDef("q_next_event", Queries.qNextEvent,
      Some("WITH t AS (SELECT user_id, event_type nxt, lag(event_type) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id) prev FROM events), " +
        "c AS (SELECT prev, nxt, count(*) c FROM t WHERE prev IS NOT NULL GROUP BY prev, nxt) " +
        "SELECT prev, nxt, c, round(c/CAST(sum(c) OVER (PARTITION BY prev) AS DOUBLE), 4) p " +
        "FROM c ORDER BY prev, nxt")),
    // last-touch attribution: ignore-nulls last_value, frame ends 1 PRECEDING
    QueryDef("q_attribution", Queries.qAttribution,
      Some("WITH a AS (SELECT user_id, event_type, value, " +
        "last_value(CASE WHEN event_type IN ('view','click','signup') THEN event_type END IGNORE NULLS) " +
        "OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) ch FROM events) " +
        "SELECT COALESCE(ch, 'direct') channel, count(*) purchases, " +
        "round(sum(value),2) revenue FROM a WHERE event_type = 'purchase' " +
        "GROUP BY 1 ORDER BY 1")),
    QueryDef("q_percent_rank", Queries.qPercentRank,
      Some("SELECT c_custkey, c_nationkey, round(percent_rank() OVER w, 4) pr, " +
        "round(cume_dist() OVER w, 4) cd FROM customer " +
        "WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey) " +
        "ORDER BY c_custkey LIMIT 100")),
    QueryDef("q_bitagg", Queries.qBitagg,
      Some("SELECT l_returnflag, bit_or(l_orderkey) bo, bit_and(l_orderkey) ba, " +
        "bit_xor(l_orderkey) bx, CAST(sum(bit_count(l_orderkey)) AS BIGINT) pc " +
        "FROM lineitem GROUP BY 1 ORDER BY 1")),
    // journey path via ORDER BY inside string_agg ≡ Spark's
    // array_sort(struct(us, event_id, type)) on the unique (us, id) key
    QueryDef("q_seq_match", Queries.qSeqMatch,
      Some("WITH p AS (SELECT user_id, string_agg(event_type, ' ' " +
        "ORDER BY epoch_us(ts), event_id) path FROM events GROUP BY user_id) " +
        "SELECT count(*) n_users, " +
        "CAST(sum(CASE WHEN regexp_matches(path, 'view.*click.*purchase') THEN 1 ELSE 0 END) AS BIGINT) n_match, " +
        "CAST(sum(CASE WHEN regexp_matches(path, 'view.*click.*purchase') THEN user_id END) AS BIGINT) chk FROM p")),
    QueryDef("q_churn", Queries.qChurn,
      Some("WITH e AS (SELECT user_id, epoch_us(ts) us FROM events), " +
        "m AS (SELECT (min(us)+max(us))//2 mid FROM e), " +
        "c AS (SELECT user_id, CAST(sum(CASE WHEN us < mid THEN 1 ELSE 0 END) AS BIGINT) na, " +
        "CAST(sum(CASE WHEN us >= mid THEN 1 ELSE 0 END) AS BIGINT) nb FROM e, m GROUP BY user_id) " +
        "SELECT user_id, na, nb, na - nb decline FROM c WHERE na >= 5 " +
        "ORDER BY decline DESC, user_id LIMIT 20")),
    // the q_dedup_cluster recursive closure + per-cluster quality argmax.
    // solo: jaccardPairs + the iterative connectedComponents loop; the r15
    // driver printed 5.9 s for it in a shared 30-query block at 32 cores
    // vs 1.6-1.8 s isolated, the shared-block inflation solo exists for
    QueryDef("q_keep_best", Queries.qKeepBest,
      Some("WITH RECURSIVE d AS (SELECT doc_id, lang, list_distinct(string_split(text,' ')) toks FROM documents WHERE doc_id < 200), " +
        "tok AS (SELECT doc_id, lang, len(toks) nt, unnest(toks) w FROM d), " +
        "g AS (SELECT a.doc_id da, b.doc_id db, a.nt na, b.nt nb, count(*) inter FROM tok a JOIN tok b ON a.w=b.w AND a.lang=b.lang AND a.doc_id<b.doc_id GROUP BY 1,2,3,4), " +
        "p AS (SELECT da, db FROM g WHERE inter/CAST(na+nb-inter AS DOUBLE) >= 0.9), " +
        "sym AS (SELECT da s, db t FROM p UNION SELECT db, da FROM p), " +
        "reach(id, r) AS (SELECT s, s FROM (SELECT DISTINCT s FROM sym) u UNION SELECT sym.t, reach.r FROM reach JOIN sym ON sym.s = reach.id), " +
        "cc AS (SELECT id, min(r) comp FROM reach GROUP BY id), " +
        "z AS (SELECT comp, count(*) sz FROM cc GROUP BY comp), " +
        "q AS (SELECT doc_id, floor((least(n_chars/400.0, 1.0)*0.5 + " +
        "(len(list_filter(string_split(text,' '), w -> w IN ('the', 'a')))/CAST(len(string_split(text,' ')) AS DOUBLE))*0.3 + " +
        "least(len(string_split(text,' '))/80.0, 1.0)*0.2)*10000 + 0.5)/10000 score FROM documents WHERE doc_id < 200), " +
        "sc AS (SELECT cc.id did, cc.comp, z.sz, q.score, row_number() OVER " +
        "(PARTITION BY cc.comp ORDER BY q.score DESC, cc.id) rn " +
        "FROM cc JOIN z ON cc.comp = z.comp JOIN q ON q.doc_id = cc.id) " +
        "SELECT comp, did keeper, sz, score FROM sc WHERE rn = 1 ORDER BY comp"), Solo),
    // same md5 shuffle-key family as q_shuffle, seed 'bal1'
    QueryDef("q_balance", Queries.qBalance,
      Some("WITH d AS (SELECT doc_id, lang, md5(concat_ws(':', 'bal1', CAST(doc_id AS VARCHAR))) sk FROM documents), " +
        "m AS (SELECT min(n) nmin FROM (SELECT lang, count(*) n FROM d GROUP BY lang) c), " +
        "r AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang ORDER BY sk, doc_id) rn FROM d) " +
        "SELECT lang, count(*) kept, CAST(sum(doc_id) AS BIGINT) chk " +
        "FROM r, m WHERE rn <= nmin GROUP BY lang ORDER BY lang")),
    // MaxSim late interaction: sub-vector split by subscript arithmetic;
    // the per-query-subvec max is quantized to int ticks so the 8-term
    // final sum is exact integer arithmetic in both engines
    QueryDef("q_maxsim", Queries.qMaxsim,
      Some("WITH ev AS (SELECT vec_id, unnest(embedding) v, generate_subscripts(embedding,1) i FROM embeddings), " +
        "s AS (SELECT vec_id, CAST((i-1)//8 AS INT) sub, CAST((i-1)%8 AS INT) dim, v FROM ev), " +
        "q AS (SELECT sub qsub, dim, v qv FROM s WHERE vec_id = 0), " +
        "d AS (SELECT s.vec_id, q.qsub, s.sub dsub, sum(s.v*q.qv) dt FROM s JOIN q ON s.dim = q.dim " +
        "WHERE s.vec_id <> 0 GROUP BY 1, 2, 3), " +
        "m AS (SELECT vec_id, qsub, CAST(round(max(dt)*10000) AS BIGINT) mq FROM d GROUP BY 1, 2) " +
        "SELECT vec_id, round(sum(mq)/10000.0, 4) maxsim FROM m GROUP BY vec_id " +
        "ORDER BY maxsim DESC, vec_id LIMIT 10")),
    QueryDef("q_vocab_coverage", Queries.qVocabCoverage,
      Some("WITH t AS (SELECT w term, count(*) f FROM " +
        "(SELECT unnest(string_split(text, ' ')) w FROM documents) WHERE w <> '' GROUP BY 1), " +
        "r AS (SELECT f, row_number() OVER (ORDER BY f DESC, term) rn FROM t) " +
        "SELECT count(*) n_vocab, CAST(sum(f) AS BIGINT) total, " +
        "round(sum(CASE WHEN rn <= 10 THEN f ELSE 0 END)/CAST(sum(f) AS DOUBLE), 6) cov10, " +
        "round(sum(CASE WHEN rn <= 30 THEN f ELSE 0 END)/CAST(sum(f) AS DOUBLE), 6) cov30, " +
        "round(sum(CASE WHEN rn <= 100 THEN f ELSE 0 END)/CAST(sum(f) AS DOUBLE), 6) cov100 FROM r")),
    QueryDef("q_path_mining", Queries.qPathMining,
      Some("WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) us FROM events), " +
        "l AS (SELECT event_type t1, " +
        "lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY us, event_id) t2, " +
        "lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY us, event_id) t3 FROM e) " +
        "SELECT concat_ws('>', t1, t2, t3) path, count(*) c FROM l WHERE t3 IS NOT NULL " +
        "GROUP BY 1 ORDER BY c DESC, path LIMIT 20")),
    // first digit from the integer cents' string render — immune to
    // log/pow double wobble at power-of-10 boundaries
    QueryDef("q_benford", Queries.qBenford,
      Some("WITH c AS (SELECT CAST(round(o_totalprice*100) AS BIGINT) c FROM orders), " +
        "d AS (SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INT) d, count(*) n " +
        "FROM c WHERE c > 0 GROUP BY 1), " +
        "t AS (SELECT CAST(sum(n) AS BIGINT) total FROM d) " +
        "SELECT d, CAST(n AS BIGINT) n, round(n/CAST(total AS DOUBLE), 6) obs, " +
        "round(log10(1.0 + 1.0/d), 6) \"exp\" FROM d, t ORDER BY d")),
    // MERGE INTO as its relational form: one FULL OUTER JOIN, four WHEN
    // branches as CASE/filter
    QueryDef("q_merge_upsert", Queries.qMergeUpsert,
      Some("WITH tgt AS (SELECT c_custkey tk, c_acctbal bal, c_mktsegment seg FROM customer), " +
        "dl AS (SELECT o_custkey tk, round(sum(o_totalprice), 2) amt, " +
        "CASE WHEN o_custkey % 13 = 0 THEN 'D' ELSE 'U' END op FROM orders GROUP BY 1), " +
        "d AS (SELECT tk dkey, amt, op FROM dl UNION ALL " +
        "SELECT tk + 10000000 dkey, amt, 'U' op FROM dl WHERE tk % 29 = 0), " +
        "m AS (SELECT coalesce(tgt.tk, d.dkey) k, " +
        "CASE WHEN d.dkey IS NOT NULL THEN d.amt ELSE tgt.bal END nb, " +
        "coalesce(tgt.seg, 'NEW') seg FROM tgt FULL OUTER JOIN d ON tgt.tk = d.dkey " +
        "WHERE (tgt.tk IS NOT NULL AND d.dkey IS NULL) " +
        "OR (tgt.tk IS NOT NULL AND d.dkey IS NOT NULL AND d.op <> 'D') " +
        "OR (tgt.tk IS NULL AND d.op = 'U')) " +
        "SELECT seg, count(*) n, CAST(sum(CAST(round(nb*100) AS BIGINT)) AS BIGINT) cents, " +
        "CAST(sum(k) AS BIGINT) chk FROM m GROUP BY seg ORDER BY seg")),
    QueryDef("q_join_nullsafe", Queries.qJoinNullsafe,
      Some("WITH a AS (SELECT nullif(user_id % 7, 3) k, count(*) c1 FROM events GROUP BY 1), " +
        "b AS (SELECT nullif(event_id % 7, 3) k, count(*) c2 FROM events GROUP BY 1) " +
        "SELECT a.k, a.c1, b.c2 FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k " +
        "ORDER BY a.k NULLS FIRST")),
    // generate_subscripts gives 1-based positions directly; Spark's
    // posexplode is 0-based, folded into the checksum as sum(p)+count
    QueryDef("q_inverted_index", Queries.qInvertedIndex,
      Some("WITH p AS (SELECT doc_id, unnest(string_split(text, ' ')) term, " +
        "generate_subscripts(string_split(text, ' '), 1) pos FROM documents) " +
        "SELECT term, count(DISTINCT doc_id) df, count(*) n_post, " +
        "CAST(sum(doc_id) AS BIGINT) chk_doc, CAST(sum(pos) AS BIGINT) chk_pos " +
        "FROM p WHERE term <> '' GROUP BY term ORDER BY df DESC, term LIMIT 50")),
    // the seeded inverse-CDF Laplace draw, spelled identically
    QueryDef("q_dp_counts", Queries.qDpCounts,
      Some("WITH g AS (SELECT lang, count(*) n, " +
        "(CAST(concat('0x', substr(md5(concat_ws(':', 'dp1', lang)), 1, 8)) AS BIGINT) + 0.5) " +
        "/ 4294967296.0 u FROM documents GROUP BY lang) " +
        "SELECT lang, round(n + (-sign(u - 0.5) * ln(1 - 2*abs(u - 0.5))), 3) released " +
        "FROM g ORDER BY lang")),
    // Pareto crossings in integer cents with cross-multiplied thresholds
    // — no double sum can flip a boundary comparison
    QueryDef("q_pareto", Queries.qPareto,
      Some("WITH sp AS (SELECT o_custkey, CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) c " +
        "FROM orders GROUP BY o_custkey), " +
        "r AS (SELECT o_custkey, c, row_number() OVER (ORDER BY c DESC, o_custkey) r, " +
        "sum(c) OVER (ORDER BY c DESC, o_custkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum FROM sp), " +
        "t AS (SELECT CAST(sum(c) AS BIGINT) tot FROM sp) " +
        "SELECT min(CASE WHEN cum*10 >= tot*5 THEN r END) n50, " +
        "min(CASE WHEN cum*10 >= tot*8 THEN r END) n80, " +
        "min(CASE WHEN cum*10 >= tot*9 THEN r END) n90, max(r) n FROM r, t")),
    QueryDef("q_pop", Queries.qPop,
      Some("WITH m AS (SELECT date_trunc('month', CAST(o_orderdate AS DATE)) mo, " +
        "round(sum(o_totalprice),2) rev FROM orders GROUP BY mo), " +
        "l AS (SELECT mo, rev, lag(rev) OVER (ORDER BY mo) prev FROM m) " +
        "SELECT mo, rev, round(coalesce(rev-prev, 0), 2) delta, " +
        "round(coalesce((rev-prev)/prev, 0), 4) growth FROM l ORDER BY mo")),
    QueryDef("q_basket", Queries.qBasket,
      Some("WITH li AS (SELECT DISTINCT l_orderkey o, l_partkey p FROM lineitem), " +
        "supp AS (SELECT p, count(*) np FROM li GROUP BY p), " +
        "t AS (SELECT count(DISTINCT o) n FROM li), " +
        "pr AS (SELECT a.p pa, b.p pb, count(*) nab FROM li a JOIN li b " +
        "ON a.o = b.o AND a.p < b.p GROUP BY pa, pb HAVING count(*) >= 3) " +
        "SELECT pa, pb, nab, round(nab/CAST(n AS DOUBLE), 6) support, " +
        "round(nab/CAST(na.np AS DOUBLE), 4) conf, " +
        "round(CAST(nab AS DOUBLE)*n/(CAST(na.np AS DOUBLE)*nb.np), 4) lift " +
        "FROM pr JOIN supp na ON pr.pa = na.p JOIN supp nb ON pr.pb = nb.p, t " +
        "ORDER BY nab DESC, pa, pb LIMIT 50")),
    QueryDef("q_active_users", Queries.qActiveUsers,
      Some("WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) d FROM events), " +
        "days AS (SELECT DISTINCT d FROM ud), " +
        "f AS (SELECT user_id, d + CAST(k AS INT) AS day FROM ud, " +
        "(SELECT unnest(range(0,7)) AS k) o), " +
        "w AS (SELECT day, count(DISTINCT user_id) wau FROM f JOIN days ON f.day = days.d GROUP BY day), " +
        "dd AS (SELECT d AS day, count(DISTINCT user_id) dau FROM ud GROUP BY d) " +
        "SELECT w.day, wau, dau FROM w JOIN dd ON w.day = dd.day ORDER BY w.day")),
    QueryDef("q_gap_dist", Queries.qGapDist,
      Some("WITH e AS (SELECT user_id, event_id, epoch_us(ts) us FROM events), " +
        "g AS (SELECT user_id, us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) gap FROM e) " +
        "SELECT least(CAST(floor(gap/60000000) AS BIGINT), 60) bucket, count(*) n, " +
        "CAST(sum(user_id) AS BIGINT) chk FROM g WHERE gap IS NOT NULL " +
        "GROUP BY bucket ORDER BY bucket")),
    // exact-µs delay sums; the single float division happens last
    QueryDef("q_funnel_deadline", Queries.qFunnelDeadline,
      Some("WITH e AS (SELECT user_id, event_type, epoch_us(ts) us FROM events), " +
        "v1 AS (SELECT user_id, min(us) t1 FROM e WHERE event_type = 'view' GROUP BY user_id), " +
        "c1 AS (SELECT c.user_id, min(c.us) t2 FROM e c JOIN v1 v ON c.user_id = v.user_id " +
        "AND c.us > v.t1 WHERE c.event_type = 'click' GROUP BY c.user_id), " +
        "j AS (SELECT v1.user_id, t1, t2 FROM v1 LEFT JOIN c1 ON v1.user_id = c1.user_id) " +
        "SELECT count(*) n_view, count(t2) n_click, " +
        "count(CASE WHEN t2 - t1 <= 3600000000 THEN 1 END) n_conv, " +
        "round(count(CASE WHEN t2 - t1 <= 3600000000 THEN 1 END)/CAST(count(*) AS DOUBLE), 4) rate, " +
        "round(CAST(sum(CASE WHEN t2 - t1 <= 3600000000 THEN t2 - t1 END) AS DOUBLE)" +
        "/count(CASE WHEN t2 - t1 <= 3600000000 THEN 1 END)/60000000.0, 2) avg_min FROM j")),
    // Mann–Whitney AUC with midranks on the quantized score grid:
    // midrank*2 stays integer, so only the final division is float
    QueryDef("q_auc", Queries.qAuc,
      Some("WITH d AS (SELECT floor((least(n_chars/400.0, 1.0)*0.5 + " +
        "(len(list_filter(string_split(text,' '), w -> w IN ('the', 'a')))/CAST(len(string_split(text,' ')) AS DOUBLE))*0.3 + " +
        "least(len(string_split(text,' '))/80.0, 1.0)*0.2)*10000 + 0.5)/10000 sc, " +
        "CASE WHEN lang = 'en' THEN 1 ELSE 0 END y FROM documents), " +
        "g AS (SELECT sc, count(*) cnt, sum(y) pos FROM d GROUP BY sc), " +
        "r AS (SELECT pos, 2*coalesce(sum(cnt) OVER (ORDER BY sc ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + cnt + 1 mr2 FROM g) " +
        "SELECT round(CAST(sum(pos*mr2) - np*(np+1) AS DOUBLE)/(2.0*np*nn), 6) auc, np, nn FROM r, " +
        "(SELECT CAST(sum(y) AS BIGINT) np, CAST(sum(1-y) AS BIGINT) nn FROM d) t " +
        "GROUP BY np, nn")),
    QueryDef("q_calibration", Queries.qCalibration,
      Some("WITH d AS (SELECT floor((1.0/(1.0+exp(-(-2.0 + 0.6*ln(CAST(len(string_split(text,' ')) AS DOUBLE)) " +
        "- 0.4*(list_sum(list_transform(string_split(text,' '), w -> len(w)))/CAST(len(string_split(text,' ')) AS DOUBLE)) " +
        "+ 8.0*(len(list_filter(string_split(text,' '), w -> w IN ('the', 'a')))/CAST(len(string_split(text,' ')) AS DOUBLE)) " +
        "+ 1.5*(len(list_distinct(string_split(text,' ')))/CAST(len(string_split(text,' ')) AS DOUBLE))))))*10000 + 0.5)/10000 sc, " +
        "CASE WHEN lang = 'en' THEN 1 ELSE 0 END y FROM documents) " +
        "SELECT CAST(least(floor(sc*10), 9) AS INT) bin, count(*) n, round(avg(sc), 4) conf, " +
        "CAST(sum(y) AS BIGINT) pos, round(sum(y)/CAST(count(*) AS DOUBLE), 4) rate " +
        "FROM d GROUP BY bin ORDER BY bin")),
    QueryDef("q_confusion", Queries.qConfusion,
      Some("WITH d AS (SELECT (floor((1.0/(1.0+exp(-(-2.0 + 0.6*ln(CAST(len(string_split(text,' ')) AS DOUBLE)) " +
        "- 0.4*(list_sum(list_transform(string_split(text,' '), w -> len(w)))/CAST(len(string_split(text,' ')) AS DOUBLE)) " +
        "+ 8.0*(len(list_filter(string_split(text,' '), w -> w IN ('the', 'a')))/CAST(len(string_split(text,' ')) AS DOUBLE)) " +
        "+ 1.5*(len(list_distinct(string_split(text,' ')))/CAST(len(string_split(text,' ')) AS DOUBLE))))))*10000 + 0.5)/10000 >= 0.5) p, " +
        "(lang = 'en') a FROM documents), " +
        "c AS (SELECT CAST(sum(CASE WHEN p AND a THEN 1 ELSE 0 END) AS BIGINT) tp, " +
        "CAST(sum(CASE WHEN p AND NOT a THEN 1 ELSE 0 END) AS BIGINT) fp, " +
        "CAST(sum(CASE WHEN NOT p AND a THEN 1 ELSE 0 END) AS BIGINT) fn, " +
        "CAST(sum(CASE WHEN NOT p AND NOT a THEN 1 ELSE 0 END) AS BIGINT) tn FROM d) " +
        "SELECT tp, fp, fn, tn, round(tp/CAST(tp+fp AS DOUBLE), 4) prec, " +
        "round(tp/CAST(tp+fn AS DOUBLE), 4) rec, " +
        "round(2.0*tp/(2.0*tp+fp+fn), 4) f1 FROM c")),
    QueryDef("q_table_diff", Queries.qTableDiff,
      Some("WITH vo AS (SELECT o_orderkey k, o_orderpriority vo FROM orders WHERE o_orderkey % 10 <> 0), " +
        "vn AS (SELECT o_orderkey k, CASE WHEN o_orderkey % 97 = 0 THEN '9-RECODED' ELSE o_orderpriority END vn " +
        "FROM orders WHERE o_orderkey % 13 <> 0), " +
        "j AS (SELECT coalesce(vo.k, vn.k) k, vo.vo, vn.vn FROM vo FULL OUTER JOIN vn ON vo.k = vn.k) " +
        "SELECT CASE WHEN vo IS NULL THEN 'added' WHEN vn IS NULL THEN 'removed' " +
        "WHEN vo <> vn THEN 'changed' ELSE 'unchanged' END cls, " +
        "count(*) n, CAST(sum(k) AS BIGINT) chk FROM j GROUP BY cls ORDER BY cls")),
    QueryDef("q_2hop", Queries.q2hop,
      Some("WITH base AS (SELECT DISTINCT o_custkey*2 s, l_suppkey*2+1 d " +
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey), " +
        "e0 AS (SELECT s, d FROM base UNION ALL SELECT d, s FROM base), " +
        "t2 AS (SELECT DISTINCT x.s a, y.d c FROM e0 x JOIN e0 y ON x.d = y.s " +
        "WHERE x.s < 200 AND x.s <> y.d), " +
        "st AS (SELECT a, c FROM t2 WHERE NOT EXISTS " +
        "(SELECT 1 FROM e0 WHERE e0.s = t2.a AND e0.d = t2.c)) " +
        "SELECT a, count(*) n2hop FROM st GROUP BY a ORDER BY a LIMIT 100"), Solo),
    // 3 unrolled k=3 peel rounds over the symmetrized trade graph —
    // integer degrees, bit-exact against Components.kCorePeel
    QueryDef("q_kcore", Queries.qKcore,
      Some("WITH base AS (SELECT DISTINCT o_custkey*2 s, l_suppkey*2+1 d " +
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey), " +
        "e0 AS (SELECT s, d FROM base UNION ALL SELECT d, s FROM base), " +
        "k1 AS (SELECT s FROM e0 GROUP BY s HAVING count(*) >= 3), " +
        "e1 AS (SELECT e0.s, e0.d FROM e0 JOIN k1 a ON e0.s = a.s JOIN k1 b ON e0.d = b.s), " +
        "k2 AS (SELECT s FROM e1 GROUP BY s HAVING count(*) >= 3), " +
        "e2 AS (SELECT e1.s, e1.d FROM e1 JOIN k2 a ON e1.s = a.s JOIN k2 b ON e1.d = b.s), " +
        "k3 AS (SELECT s FROM e2 GROUP BY s HAVING count(*) >= 3), " +
        "e3 AS (SELECT e2.s, e2.d FROM e2 JOIN k3 a ON e2.s = a.s JOIN k3 b ON e2.d = b.s) " +
        "SELECT s id, count(*) deg FROM e3 GROUP BY s ORDER BY id LIMIT 100"), Solo),
    QueryDef("q_degree_dist", Queries.qDegreeDist,
      Some("WITH base AS (SELECT DISTINCT o_custkey*2 s, l_suppkey*2+1 d " +
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey), " +
        "e0 AS (SELECT s, d FROM base UNION ALL SELECT d, s FROM base), " +
        "dg AS (SELECT s, count(*) deg FROM e0 GROUP BY s) " +
        "SELECT deg, count(*) n, CAST(sum(s) AS BIGINT) chk FROM dg " +
        "GROUP BY deg ORDER BY deg")),
    // same normalize chain; DuckDB regexp_replace needs the 'g' flag
    // (Spark replaces all matches by default)
    QueryDef("q_normalize", Queries.qNormalize,
      Some("WITH n AS (SELECT doc_id, text, trim(regexp_replace(regexp_replace(" +
        "lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) nt FROM documents) " +
        "SELECT doc_id, length(text) len_raw, length(nt) len_norm, md5(nt) h " +
        "FROM n ORDER BY doc_id LIMIT 100")),
    // md5 bucket of the GROUP key (source:lang) — every group lands whole
    QueryDef("q_group_split", Queries.qGroupSplit,
      Some("WITH b AS (SELECT doc_id, concat(source, ':', lang) grp, " +
        "CAST(concat('0x', substr(md5(concat(source, ':', lang)),1,8)) AS BIGINT) % 100 bk " +
        "FROM documents) " +
        "SELECT CASE WHEN bk < 90 THEN 'train' WHEN bk < 95 THEN 'val' ELSE 'test' END split, " +
        "count(*) n_docs, count(DISTINCT grp) n_grp, CAST(sum(doc_id) AS BIGINT) chk " +
        "FROM b GROUP BY split ORDER BY split")),
    QueryDef("q_token_budget", Queries.qTokenBudget,
      Some("WITH d AS (SELECT doc_id, source, len(string_split(text,' ')) tok FROM documents), " +
        "c AS (SELECT doc_id, source, tok, sum(tok) OVER (PARTITION BY source " +
        "ORDER BY tok DESC, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum FROM d) " +
        "SELECT source, count(*) n_kept, CAST(sum(tok) AS BIGINT) tok_kept, " +
        "CAST(sum(doc_id) AS BIGINT) chk FROM c WHERE cum <= 20000 " +
        "GROUP BY source ORDER BY source")),
    // per-column argmax via deterministic row_number windows (max_by is
    // tie-arbitrary in both engines; windows with total orders are not)
    QueryDef("q_survivor", Queries.qSurvivor,
      Some("WITH l AS (SELECT o_custkey, o_orderstatus last_status, " +
        "CAST(o_orderdate AS DATE) last_date, row_number() OVER " +
        "(PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) rn FROM orders), " +
        "b AS (SELECT o_custkey, o_orderkey top_key, row_number() OVER " +
        "(PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) rn FROM orders), " +
        "a AS (SELECT o_custkey, count(*) n, round(sum(o_totalprice),2) spend " +
        "FROM orders GROUP BY o_custkey) " +
        "SELECT a.o_custkey, a.n, a.spend, l.last_status, l.last_date, b.top_key " +
        "FROM a JOIN l ON a.o_custkey = l.o_custkey AND l.rn = 1 " +
        "JOIN b ON a.o_custkey = b.o_custkey AND b.rn = 1 " +
        "ORDER BY a.o_custkey LIMIT 100")),
    QueryDef("q_scd2", Queries.qScd2,
      Some("WITH o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) dt, o_orderkey, " +
        "o_orderpriority prio FROM orders), " +
        "ch AS (SELECT *, lag(prio) OVER (PARTITION BY o_custkey ORDER BY dt, o_orderkey) prev FROM o), " +
        "f AS (SELECT o_custkey, dt, o_orderkey, prio FROM ch WHERE prev IS NULL OR prev <> prio), " +
        "v AS (SELECT o_custkey, o_orderkey, prio, dt valid_from, " +
        "lead(dt) OVER (PARTITION BY o_custkey ORDER BY dt, o_orderkey) valid_to FROM f) " +
        "SELECT o_custkey, o_orderkey, prio, valid_from, " +
        "coalesce(valid_to, DATE '9999-12-31') valid_to, " +
        "CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END cur FROM v " +
        "ORDER BY o_custkey, valid_from, o_orderkey LIMIT 100")),
    QueryDef("q_dataset_card", Queries.qDatasetCard,
      Some("WITH d AS (SELECT source, lang, n_chars, len(string_split(text,' ')) tok, " +
        "md5(text) h FROM documents) " +
        "SELECT source, count(*) docs, count(DISTINCT h) n_uniq, " +
        "CAST(sum(tok) AS BIGINT) toks, round(avg(n_chars),2) avg_chars, " +
        "count(DISTINCT lang) langs, " +
        "CAST(sum(CASE WHEN tok > 50 THEN 1 ELSE 0 END) AS BIGINT) long_docs " +
        "FROM d GROUP BY source ORDER BY source")),
    QueryDef("q_winnow", Queries.qWinnow, Some(winnowSql)),
    QueryDef("q_containment", Queries.qContainment, Some(containmentSql)),
    QueryDef("q_entropy", Queries.qEntropy, Some(entropySql)),
    QueryDef("q_zorder", Queries.qZorder, Some(zorderSql)),
    QueryDef("q_intersect_all", Queries.qIntersectAll,
      Some("SELECT nk, count(*) c FROM (SELECT c_nationkey nk FROM customer " +
        "INTERSECT ALL SELECT s_nationkey nk FROM supplier) t " +
        "GROUP BY nk ORDER BY nk")),
    QueryDef("q_except_all", Queries.qExceptAll,
      Some("SELECT nk, count(*) c FROM (SELECT c_nationkey nk FROM customer " +
        "EXCEPT ALL SELECT s_nationkey nk FROM supplier) t " +
        "GROUP BY nk ORDER BY nk")),
    // exact decimal money math (scales 2→4→6 carry every digit; no
    // rounding exists to diverge); outputs are scaled-integer cents and
    // the decimal's canonical string — both engine-portable bit-for-bit
    QueryDef("q_decimal", Queries.qDecimal,
      Some("WITH d AS (SELECT l_returnflag, l_linestatus, " +
        "CAST(l_extendedprice AS DECIMAL(12,2)) price, " +
        "CAST(l_discount AS DECIMAL(12,2)) disc, " +
        "CAST(l_tax AS DECIMAL(12,2)) tax FROM lineitem), " +
        "e AS (SELECT *, CAST(price * (1 - disc) AS DECIMAL(18,4)) disc_price FROM d), " +
        "f AS (SELECT *, CAST(disc_price * (1 + tax) AS DECIMAL(18,6)) charge FROM e) " +
        "SELECT l_returnflag, l_linestatus, count(*) n, " +
        "CAST(sum(price) AS VARCHAR) sum_price_dec, " +
        "CAST(sum(price) * 100 AS BIGINT) sum_price_cents, " +
        "CAST(sum(disc_price) * 10000 AS BIGINT) sum_disc_e4, " +
        "CAST(sum(charge) * 1000000 AS BIGINT) sum_charge_e6, " +
        "CAST(CAST(sum(price) * 100 AS BIGINT) // count(*) AS BIGINT) avg_cents " +
        "FROM f GROUP BY 1, 2 ORDER BY 1, 2")),
    // the SAME banding/xor-popcount the Spark pair stage runs, spelled
    // relationally: 4 × 16-bit bands as blocking keys, exact Hamming
    // verify, distinct pairs, histogram by distance
    QueryDef("q_image_neardup", Queries.qImageNeardup,
      Some("WITH h AS (SELECT doc_id id, " +
        "xor(CAST(concat('0x', substr(md5(CAST(doc_id//5 AS VARCHAR)),1,15)) AS BIGINT), " +
        "CAST(1 AS BIGINT) << CAST(doc_id%4 AS INT)) h " +
        "FROM documents WHERE doc_id < 500), " +
        "b AS (SELECT id, h, bb.b, (h >> (bb.b*16)) & 65535 bv " +
        "FROM h, (SELECT unnest(range(0,4)) b) bb), " +
        "p AS (SELECT DISTINCT a.id ida, a.h ha, c.id idb, c.h hb " +
        "FROM b a JOIN b c ON a.b=c.b AND a.bv=c.bv AND a.id<c.id), " +
        "j AS (SELECT ida, idb, CAST(bit_count(xor(ha,hb)) AS INT) ham " +
        "FROM p WHERE bit_count(xor(ha,hb)) <= 3) " +
        "SELECT ham, count(*) pairs, CAST(sum(ida+idb) AS BIGINT) chk " +
        "FROM j GROUP BY ham ORDER BY ham")),
    // the audio fingerprints the Spark side recovers through the REAL
    // WAV encode→decode→energy roundtrip equal this closed form; the
    // pair stage is the same banding/xor-popcount as q_image_neardup
    QueryDef("q_audio_neardup", Queries.qAudioNeardup,
      Some("WITH h AS (SELECT doc_id id, " +
        "xor(CAST(concat('0x', substr(md5(concat('aud', CAST(doc_id//5 AS VARCHAR))),1,15)) AS BIGINT), " +
        "CAST(1 AS BIGINT) << CAST(doc_id%3 AS INT)) h " +
        "FROM documents WHERE doc_id < 500), " +
        "b AS (SELECT id, h, bb.b, (h >> (bb.b*16)) & 65535 bv " +
        "FROM h, (SELECT unnest(range(0,4)) b) bb), " +
        "p AS (SELECT DISTINCT a.id ida, a.h ha, c.id idb, c.h hb " +
        "FROM b a JOIN b c ON a.b=c.b AND a.bv=c.bv AND a.id<c.id), " +
        "j AS (SELECT ida, idb, CAST(bit_count(xor(ha,hb)) AS INT) ham " +
        "FROM p WHERE bit_count(xor(ha,hb)) <= 3) " +
        "SELECT ham, count(*) pairs, CAST(sum(ida+idb) AS BIGINT) chk " +
        "FROM j GROUP BY ham ORDER BY ham"), cls = Codec),
    // the video fingerprints the Spark side recovers through the REAL
    // AVI encode→demux→JPEG-decode→luma roundtrip equal this closed form
    QueryDef("q_video_neardup", Queries.qVideoNeardup,
      Some("WITH h AS (SELECT doc_id id, " +
        "xor(CAST(concat('0x', substr(md5(concat('vid', CAST(doc_id//5 AS VARCHAR))),1,15)) AS BIGINT), " +
        "CAST(1 AS BIGINT) << CAST(doc_id%4 AS INT)) h " +
        "FROM documents WHERE doc_id < 300), " +
        "b AS (SELECT id, h, bb.b, (h >> (bb.b*16)) & 65535 bv " +
        "FROM h, (SELECT unnest(range(0,4)) b) bb), " +
        "p AS (SELECT DISTINCT a.id ida, a.h ha, c.id idb, c.h hb " +
        "FROM b a JOIN b c ON a.b=c.b AND a.bv=c.bv AND a.id<c.id), " +
        "j AS (SELECT ida, idb, CAST(bit_count(xor(ha,hb)) AS INT) ham " +
        "FROM p WHERE bit_count(xor(ha,hb)) <= 3) " +
        "SELECT ham, count(*) pairs, CAST(sum(ida+idb) AS BIGINT) chk " +
        "FROM j GROUP BY ham ORDER BY ham"), Solo, Codec),
    // as-of run 2 the dedupe DataSet has consumed blocks b0, b1 =
    // event_id mod 3 residues {0, 1} — the keep-newest pipe over exactly
    // that subset
    QueryDef("q_snapshot", Queries.qSnapshot,
      Some("SELECT count(*) n, round(sum(value),2) s FROM (SELECT *, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn " +
        "FROM events WHERE event_id % 3 < 2) t WHERE rn=1"), Solo),
    // the streaming pipeline's additive micro-batch partials re-aggregate
    // to exactly the batch aggregate, whatever the micro-batch split
    QueryDef("q_stream_pipeline", Queries.qStreamPipeline,
      Some("SELECT event_type, count(*) n, " +
        "CAST(sum(CAST(round(value*1000) AS BIGINT)) AS BIGINT) mv, " +
        "count(DISTINCT CAST(ts AS DATE)) AS \"days\" " +
        "FROM events GROUP BY event_type ORDER BY event_type"), Roamer),
    QueryDef("q_scan", Queries.qScan,
      Some("SELECT count(*) AS n FROM lineitem")),
    QueryDef("q_scan_events", Queries.qScanEvents,
      Some("SELECT event_type, count(*) AS c FROM events GROUP BY event_type ORDER BY event_type")),
    QueryDef("q_project", Queries.qProject,
      Some("SELECT l_orderkey, l_extendedprice*(1-l_discount) AS net FROM lineitem ORDER BY l_orderkey, net LIMIT 100")),
    QueryDef("q_filter", Queries.qFilter,
      Some("SELECT round(sum(l_extendedprice*l_discount),2) AS revenue FROM lineitem WHERE l_shipdate >= TIMESTAMP '1994-01-01' AND l_shipdate < TIMESTAMP '1995-01-01' AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24")),
    QueryDef("q_case", Queries.qCase,
      Some("SELECT CASE WHEN o_totalprice >= 300000 THEN 'high' WHEN o_totalprice >= 150000 THEN 'mid' ELSE 'low' END band, coalesce(nullif(o_orderstatus,'O'),'OPEN') st, count(*) c FROM orders GROUP BY band, st ORDER BY band, st")),
    QueryDef("q_distinct", Queries.qDistinct,
      Some("SELECT DISTINCT c_mktsegment, c_nationkey FROM customer ORDER BY c_mktsegment, c_nationkey")),
    QueryDef("q_join_bcast", Queries.qJoinBcast,
      Some("SELECT p_brand, round(sum(l_extendedprice),2) s, count(*) c FROM lineitem JOIN part ON l_partkey=p_partkey GROUP BY p_brand ORDER BY p_brand")),
    QueryDef("q_join_full", Queries.qJoinFull,
      Some("WITH c AS (SELECT c_nationkey ck, count(*) cc FROM customer GROUP BY ck), s AS (SELECT s_nationkey sk, count(*) sc FROM supplier GROUP BY sk) SELECT coalesce(ck, sk) k, coalesce(cc, 0) cc, coalesce(sc, 0) sc FROM c FULL JOIN s ON ck=sk ORDER BY k")),
    QueryDef("q_join_cross", Queries.qJoinCross,
      Some("SELECT r_name, count(*) c FROM region CROSS JOIN nation GROUP BY r_name ORDER BY r_name")),
    QueryDef("q_grouping_sets", Queries.qGroupingSets,
      Some("SELECT l_returnflag, l_linestatus, grouping(l_returnflag) gf, grouping(l_linestatus) gs, count(*) c FROM lineitem GROUP BY GROUPING SETS ((l_returnflag),(l_linestatus),()) ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST, c")),
    QueryDef("q_pivot", Queries.qPivot,
      Some("SELECT user_id%10 ub, count(CASE WHEN event_type='click' THEN 1 END) click, count(CASE WHEN event_type='error' THEN 1 END) error, count(CASE WHEN event_type='purchase' THEN 1 END) purchase, count(CASE WHEN event_type='signup' THEN 1 END) signup, count(CASE WHEN event_type='view' THEN 1 END) AS \"view\" FROM events GROUP BY ub ORDER BY ub")),
    // UNPIVOT spelled as UNION ALL for dialect portability ("value" is
    // reserved in DuckDB, hence quoted).
    QueryDef("q_unpivot", Queries.qUnpivot,
      Some("WITH a AS (SELECT o_orderpriority, round(sum(o_totalprice),2) total, round(avg(o_totalprice),2) mean FROM orders GROUP BY o_orderpriority) SELECT o_orderpriority, 'mean' metric, mean AS \"value\" FROM a UNION ALL SELECT o_orderpriority, 'total' metric, total AS \"value\" FROM a ORDER BY o_orderpriority, metric")),
    QueryDef("q_window_ntile", Queries.qWindowNtile,
      Some("SELECT o_orderkey, o_orderpriority, ntile(4) OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) nt, round(percent_rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey),4) pr FROM orders ORDER BY o_orderkey LIMIT 100")),
    QueryDef("q_window_range", Queries.qWindowRange,
      Some("SELECT o_custkey, o_orderkey, round(avg(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey RANGE BETWEEN 100 PRECEDING AND CURRENT ROW),2) ma FROM orders ORDER BY o_orderkey LIMIT 100")),
    QueryDef("q_window_firstlast", Queries.qWindowFirstLast,
      Some("SELECT o_custkey, o_orderkey, first_value(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) fv, last_value(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) lv FROM orders ORDER BY o_orderkey LIMIT 100")),
    QueryDef("q_union_all", Queries.qUnionAll,
      Some("SELECT k, count(*) c FROM (SELECT c_nationkey k FROM customer UNION ALL SELECT s_nationkey k FROM supplier) t GROUP BY k ORDER BY k")),
    QueryDef("q_union_distinct", Queries.qUnionDistinct,
      Some("SELECT c_nationkey k FROM customer UNION SELECT s_nationkey k FROM supplier ORDER BY k")),
    QueryDef("q_except", Queries.qExcept,
      Some("SELECT c_nationkey k FROM customer EXCEPT SELECT s_nationkey k FROM supplier ORDER BY k")),
    QueryDef("q_regex", Queries.qRegex,
      Some("SELECT regexp_extract(p_type,'^(\\w+)',1) tok, count(*) c FROM part GROUP BY tok ORDER BY c DESC, tok")),
    QueryDef("q_math", Queries.qMath,
      Some("SELECT o_orderpriority, round(sum(abs(o_totalprice-150000)),2) sa, round(power(avg(o_totalprice),0.5),4) sq, round(ln(max(o_totalprice)),4) lg FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority")),
    QueryDef("q_array", Queries.qArray,
      Some("SELECT vec_id, len(embedding) d, round(CAST(embedding[1] AS DOUBLE),4) e1, round(list_sum(embedding),3) sm FROM embeddings ORDER BY vec_id LIMIT 100")),
    // All props objects carry the single key 'k' (FIXTURES.md), so the
    // oracle enumerates it; the Spark side explodes the parsed map.
    QueryDef("q_map", Queries.qMap,
      Some("SELECT 'k' mk, count(*) c, CAST(sum(CAST(json_extract(props,'$.k') AS INTEGER)) AS BIGINT) sv FROM events WHERE json_extract(props,'$.k') IS NOT NULL GROUP BY mk ORDER BY mk")),
    QueryDef("q_agg_group", Queries.qAggGroup,
      Some("SELECT l_returnflag, l_linestatus, round(sum(l_quantity),2) sq, round(sum(l_extendedprice),2) sp, round(avg(l_discount),4) ad, count(*) c FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus")),
    QueryDef("q_agg_distinct", Queries.qAggDistinct,
      Some("SELECT c_mktsegment, count(DISTINCT c_nationkey) dn FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment")),
    QueryDef("q_correlated", Queries.qCorrelated,
      Some("SELECT c_nationkey, count(*) AS c FROM customer c1 WHERE c_acctbal > (SELECT round(avg(c_acctbal), 2) FROM customer c2 WHERE c2.c_nationkey = c1.c_nationkey) GROUP BY c_nationkey ORDER BY c_nationkey")),
    QueryDef("q_lateral", Queries.qLateral,
      Some("SELECT r_name, n_name FROM region, LATERAL (SELECT n_name FROM nation WHERE n_regionkey = r_regionkey ORDER BY n_name LIMIT 2) ORDER BY r_name, n_name")),
    QueryDef("q_cte", Queries.qCte,
      Some("WITH mo AS (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m, round(sum(o_totalprice), 2) AS rev FROM orders GROUP BY m) SELECT m, rev, round(rev - lag(rev, 1, 0.0) OVER (ORDER BY m), 2) AS d FROM mo ORDER BY m")),
    // array rendered as a joined string: the compare driver can't sort/hash
    // array cells (pandas unhashable ndarray, round-2 ADVICE)
    QueryDef("q_agg_list", Queries.qAggList,
      Some("SELECT c_mktsegment, array_to_string(list_sort(list(DISTINCT c_nationkey)), ',') nations, len(list(DISTINCT c_nationkey)) n_nations, count(*) c FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment")),
    QueryDef("q_string_agg", Queries.qStringAgg,
      Some("SELECT c_nationkey, array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',') segs, count(*) c FROM customer GROUP BY c_nationkey ORDER BY c_nationkey")),
    // max(struct) argmax idiom spelled as a window in ANSI for the oracle.
    QueryDef("q_struct_agg", Queries.qStructAgg,
      Some("SELECT o_orderpriority, p, k FROM (SELECT o_orderpriority, o_totalprice p, o_orderkey k, row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey DESC) rn FROM orders) t WHERE rn=1 ORDER BY o_orderpriority")),
    QueryDef("q_rollup", Queries.qRollup,
      Some("SELECT l_returnflag, l_linestatus, count(*) c FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus) ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST, c")),
    QueryDef("q_cube", Queries.qCube,
      Some("SELECT c_mktsegment, c_nationkey, round(sum(c_acctbal),2) s FROM customer GROUP BY CUBE(c_mktsegment, c_nationkey) ORDER BY c_mktsegment NULLS FIRST, c_nationkey NULLS FIRST")),
    QueryDef("q_percentile", Queries.qPercentile,
      Some("SELECT l_returnflag, round(quantile_cont(l_quantity, 0.5),4) p50, round(quantile_cont(l_quantity, 0.9),4) p90, round(quantile_cont(l_extendedprice, 0.99),2) p99e FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag")),
    QueryDef("q_stats", Queries.qStats,
      Some("SELECT l_linestatus, round(stddev_samp(l_quantity),4) sd, round(var_samp(l_quantity),3) vr, round(corr(l_quantity, l_extendedprice),4) cr, round(covar_samp(l_quantity, l_extendedprice),2) cv FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus")),
    QueryDef("q_join_inner", Queries.qJoinInner,
      Some("SELECT n_name, round(sum(o_totalprice),2) s, count(*) c FROM orders JOIN customer ON o_custkey=c_custkey JOIN nation ON c_nationkey=n_nationkey GROUP BY n_name ORDER BY n_name")),
    QueryDef("q_join_outer", Queries.qJoinOuter,
      Some("SELECT c_custkey, count(o_orderkey) c FROM customer LEFT JOIN orders ON c_custkey=o_custkey GROUP BY c_custkey ORDER BY c DESC, c_custkey LIMIT 50")),
    QueryDef("q_join_semi", Queries.qJoinSemi,
      Some("SELECT count(*) n FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)")),
    QueryDef("q_join_anti", Queries.qJoinAnti,
      Some("SELECT count(*) n FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)")),
    QueryDef("q_join_range", Queries.qJoinRange,
      Some("SELECT count(*) n FROM lineitem JOIN orders ON l_orderkey=o_orderkey AND l_shipdate > o_orderdate")),
    // keyless point-in-interval: exact µs epochs (epoch_us ≡ Spark
    // unix_micros after both engines truncate the parquet NANOS column)
    QueryDef("q_join_interval", Queries.qJoinInterval,
      Some("WITH w AS (SELECT event_id wid, epoch_us(ts) s_us FROM events WHERE event_type='error'), " +
        "p AS (SELECT epoch_us(ts) pt FROM events WHERE event_type='view') " +
        "SELECT wid, count(*) n_views FROM w JOIN p ON p.pt >= w.s_us AND p.pt < w.s_us + 3600000000 " +
        "GROUP BY wid ORDER BY wid LIMIT 100")),
    QueryDef("q_window_rank", Queries.qWindowRank,
      Some("SELECT * FROM (SELECT o_custkey, o_orderkey, o_totalprice, rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) r FROM orders) t WHERE r <= 2 ORDER BY o_custkey, r, o_orderkey LIMIT 100")),
    QueryDef("q_window_running", Queries.qWindowRunning,
      Some("SELECT user_id, event_id, round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) rs FROM events ORDER BY user_id, event_id LIMIT 100")),
    QueryDef("q_window_lag", Queries.qWindowLag,
      Some("SELECT user_id, event_id, round(value - lag(value,1,0.0) OVER (PARTITION BY user_id ORDER BY ts, event_id),2) d FROM events ORDER BY user_id, event_id LIMIT 100")),
    QueryDef("q_sort_limit", Queries.qSortLimit,
      Some("SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10")),
    QueryDef("q_setops", Queries.qSetops,
      Some("SELECT c_nationkey k FROM customer INTERSECT SELECT s_nationkey FROM supplier ORDER BY k")),
    QueryDef("q_string", Queries.qString,
      Some("SELECT upper(substr(p_name,1,3)) pre, count(*) c FROM part WHERE p_name LIKE '%a%' GROUP BY pre ORDER BY c DESC, pre LIMIT 20")),
    QueryDef("q_date", Queries.qDate,
      Some("SELECT CAST(date_trunc('month', o_orderdate) AS DATE) m, count(*) c, round(sum(o_totalprice),2) s FROM orders GROUP BY m ORDER BY m")),
    // q_variant's oracle computes the SAME aggregate from the base
    // columns (no JSON round-trip): a match proves the engine's
    // to_json -> parse_json -> variant_get path is lossless and
    // correctly typed. nmiss == n because try_variant_get on the
    // missing path must be NULL on every row.
    QueryDef("q_variant", Queries.qVariant,
      Some("SELECT event_type AS t, count(*) AS n, round(sum(value),2) AS sv, " +
        "CAST(sum(user_id) AS BIGINT) AS su, " +
        "CAST(sum(CAST(json_extract(props,'$.k') AS INTEGER)) AS BIGINT) AS sk, " +
        "count(*) AS nmiss FROM events GROUP BY event_type ORDER BY t")),
    // q_sql_pipe's oracle is the ANSI lowering of the pipe text: |>
    // WHERE pre-agg = WHERE, |> EXTEND = select-list expr, |> AGGREGATE
    // ... GROUP BY = GROUP BY, post-agg |> WHERE = HAVING. The net
    // column is UNROUNDED and the single round sits on the aggregate
    // (q_agg_group's discipline) — the r9 per-row round diverged
    // engines at .xx5 repr boundaries.
    QueryDef("q_sql_pipe", Queries.qSqlPipe,
      Some("SELECT l_returnflag, l_linestatus, " +
        "round(sum(l_extendedprice*(1-l_discount)),2) AS rev, " +
        "count(*) AS n FROM lineitem WHERE l_quantity > 10 " +
        "GROUP BY l_returnflag, l_linestatus HAVING count(*) > 100 " +
        "ORDER BY l_returnflag, l_linestatus")),
    // UTF8_LCASE grouping spelled as explicit lower() for DuckDB.
    QueryDef("q_collation", Queries.qCollation,
      Some("WITH m AS (SELECT CASE WHEN p_partkey % 2 = 0 THEN upper(p_brand) " +
        "ELSE lower(p_brand) END AS b, p_retailprice FROM part) " +
        "SELECT lower(b) AS brand, count(*) AS n, " +
        "round(sum(p_retailprice),2) AS s FROM m GROUP BY lower(b) " +
        "ORDER BY brand")),
    // DuckDB spelling of LISTAGG ... WITHIN GROUP: string_agg with an
    // in-aggregate ORDER BY.
    QueryDef("q_listagg", Queries.qListagg,
      Some("SELECT o_orderpriority, " +
        "string_agg(DISTINCT o_orderstatus, '|' ORDER BY o_orderstatus) " +
        "AS statuses, count(*) AS n FROM orders GROUP BY o_orderpriority " +
        "ORDER BY o_orderpriority")),
    // DuckDB spelling: json_extract + CAST (Spark: get_json_object).
    QueryDef("q_json", Queries.qJson,
      Some("SELECT CAST(json_extract(props,'$.k') AS INTEGER) % 10 kb, count(*) c FROM events GROUP BY kb ORDER BY kb")),
    QueryDef("q_dedupe", Queries.qDedupe,
      Some("SELECT count(*) n, round(sum(value),2) s FROM (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn FROM events) t WHERE rn=1) z")),
    // DuckDB epoch(a-b) vs Spark CAST(ts AS DOUBLE) subtraction.
    QueryDef("q_sessionize", Queries.qSessionize,
      Some("WITH g AS (SELECT user_id, ts, CASE WHEN epoch(ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800 OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN 1 ELSE 0 END brk, event_id FROM events), s AS (SELECT user_id, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) sid FROM g) SELECT user_id, count(DISTINCT sid) sessions FROM s GROUP BY user_id ORDER BY user_id LIMIT 100")),
    QueryDef("q_accumulate", Queries.qAccumulate,
      Some("SELECT count(*) n, round(sum(value),2) s FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn FROM (SELECT * FROM events WHERE event_id % 2 = 0 UNION ALL SELECT * FROM events WHERE event_id % 2 = 1) u) t WHERE rn=1")),
    QueryDef("q_schema_cast", Queries.qSchemaCast,
      Some("SELECT CAST(c_custkey AS BIGINT) id, c_name AS \"name\", CAST(c_acctbal AS DOUBLE) score FROM customer ORDER BY id LIMIT 100")),
    QueryDef("q_incremental", Queries.qIncremental,
      Some("SELECT count(*) n, round(sum(value),2) s FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'")),
    // ANSI union-tag + last_value(IGNORE NULLS) formulation — deliberately
    // NOT DuckDB's ASOF JOIN keyword, to pin identical semantics.
    QueryDef("q_join_asof", Queries.qJoinAsof,
      Some("WITH u AS (SELECT o_custkey k, o_orderdate t, 0 tag, o_orderkey rk, CAST(NULL AS BIGINT) event_id FROM orders UNION ALL SELECT user_id k, ts t, 1 tag, CAST(NULL AS BIGINT) rk, event_id FROM events) SELECT event_id, k user_id, mk FROM (SELECT *, last_value(rk IGNORE NULLS) OVER (PARTITION BY k ORDER BY t, tag, rk ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) mk FROM u) w WHERE tag=1 ORDER BY event_id LIMIT 100")),
    QueryDef("q_slide", Queries.qSlide,
      Some("SELECT ws, count(*) c, round(sum(value),2) s FROM (SELECT time_bucket(INTERVAL '30 minutes', ts) ws, value FROM events UNION ALL SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes' ws, value FROM events) t GROUP BY ws ORDER BY ws LIMIT 200")),
    QueryDef("q_text_stats", Queries.qTextStats,
      Some("SELECT lang, count(*) c, round(avg(n_chars),2) ac, round(avg(len(string_split(text,' '))),2) atok FROM documents GROUP BY lang ORDER BY lang")),
    QueryDef("q_multimodal_join", Queries.qMultimodalJoin,
      Some("SELECT doc_id, lang, len(embedding) dim, round(sqrt(list_sum(list_transform(embedding, x -> CAST(x * x AS DOUBLE)))),4) nrm FROM documents JOIN embeddings ON doc_id=vec_id ORDER BY doc_id LIMIT 100")),
    QueryDef("q_tumble", Queries.qTumble,
      Some("SELECT date_trunc('hour', ts) w, event_type, count(*) c, round(sum(value),2) s FROM events GROUP BY w, event_type ORDER BY w, event_type LIMIT 200")),
    // DuckDB unnest(string_split) vs Spark explode(split).
    QueryDef("q_topk_terms", Queries.qTopkTerms,
      Some("SELECT w, count(*) c FROM (SELECT unnest(string_split(text,' ')) w FROM documents) t WHERE w <> '' GROUP BY w ORDER BY c DESC, w LIMIT 10")),
    QueryDef("q_dedup_exact", Queries.qDedupExact,
      Some("SELECT count(*) g, CAST(sum(cnt) AS BIGINT) n, CAST(sum(keeper) AS BIGINT) chk FROM (SELECT md5(text) fp, min(doc_id) keeper, count(*) cnt FROM documents GROUP BY fp) t")),
    QueryDef("q_fingerprint", Queries.qFingerprint,
      Some("SELECT doc_id, substr(md5(text),1,16) fp, substr(md5(array_to_string((string_split(text,' '))[1:3],' ')),1,16) sh FROM documents ORDER BY doc_id LIMIT 100")),
    QueryDef("q_token_count", Queries.qTokenCount,
      Some("SELECT doc_id, len(string_split(text,' ')) wt, len(regexp_extract_all(text,'[a-z]+')) rt FROM documents ORDER BY doc_id LIMIT 100")),
    // Duplicate spans: 8-token window hashes occurring >1 time corpus-wide,
    // merged per doc into maximal spans (break when p > prev + 8).
    QueryDef("q_dup_spans", Queries.qDupSpans,
      Some("WITH ws AS (SELECT doc_id, string_split(text,' ') w FROM documents), " +
        "win AS (SELECT doc_id, CAST(unnest(range(0, greatest(len(w)-7, 0))) AS INT) p, w FROM ws), " +
        "h AS (SELECT doc_id, p, md5(array_to_string(w[CAST(p+1 AS INT):CAST(p+8 AS INT)], ' ')) hh FROM win), " +
        "dup AS (SELECT hh FROM h GROUP BY hh HAVING count(*) > 1), " +
        "d AS (SELECT h.doc_id, h.p FROM h JOIN dup ON h.hh = dup.hh), " +
        "m AS (SELECT doc_id, p, CASE WHEN lag(p) OVER (PARTITION BY doc_id ORDER BY p) IS NULL OR p > lag(p) OVER (PARTITION BY doc_id ORDER BY p) + 8 THEN 1 ELSE 0 END brk FROM d), " +
        "s AS (SELECT doc_id, p, sum(brk) OVER (PARTITION BY doc_id ORDER BY p) sid FROM m) " +
        "SELECT doc_id, CAST(min(p) AS INT) sp, CAST(max(p) + 8 - min(p) AS INT) ln FROM s GROUP BY doc_id, sid ORDER BY doc_id, sp")),
    // Dup-window scrub: keeper = min(doc*100000+p) per dup hash; a token
    // survives unless a cut (non-keeper) window covers it.
    QueryDef("q_dup_scrub", Queries.qDupScrub,
      Some("WITH ws AS (SELECT doc_id, string_split(text,' ') w FROM documents), " +
        "win AS (SELECT doc_id, CAST(unnest(range(0, greatest(len(w)-7, 0))) AS INT) p, w FROM ws), " +
        "hh AS (SELECT doc_id, p, md5(array_to_string(w[CAST(p+1 AS INT):CAST(p+8 AS INT)], ' ')) h FROM win), " +
        "dup AS (SELECT h, CAST(min(doc_id * 100000 + p) // 100000 AS BIGINT) kdoc FROM hh GROUP BY h HAVING count(*) > 1), " +
        "cut AS (SELECT DISTINCT hh.doc_id, hh.p FROM hh JOIN dup ON hh.h = dup.h WHERE hh.doc_id <> dup.kdoc), " +
        "tok AS (SELECT doc_id, CAST(generate_subscripts(w, 1) - 1 AS INT) i, unnest(w) tv FROM ws), " +
        "keep AS (SELECT t.doc_id, t.i, NOT EXISTS (SELECT 1 FROM cut c WHERE c.doc_id = t.doc_id AND t.i >= c.p AND t.i < c.p + 8) kept FROM tok t), " +
        "agg AS (SELECT doc_id, count(*) nb, sum(CASE WHEN kept THEN 1 ELSE 0 END) na FROM keep GROUP BY doc_id) " +
        "SELECT CAST(sum(CASE WHEN na < nb THEN 1 ELSE 0 END) AS BIGINT) docs_changed, CAST(sum(nb) AS BIGINT) toks_before, CAST(sum(na) AS BIGINT) toks_after FROM agg")),
    // CDC: boundary where md5-60bit(8-char window) % 64 == 0; chunks are
    // the spans between boundaries (0 and len appended), empties dropped.
    QueryDef("q_cdc_chunk", Queries.qCdcChunk,
      Some("WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 10), " +
        "b AS (SELECT doc_id, text, list_filter(range(8, len(text)+1), i -> CAST(concat('0x', substr(md5(substr(text, CAST(i-7 AS INT), 8)),1,15)) AS BIGINT) % 64 = 0) bs FROM d), " +
        "bb AS (SELECT doc_id, text, list_concat(list_concat([CAST(0 AS BIGINT)], bs), CASE WHEN len(bs) > 0 AND bs[-1] = len(text) THEN CAST([] AS BIGINT[]) ELSE [len(text)] END) bb FROM b), " +
        "ch AS (SELECT doc_id, list_filter(list_transform(range(1, len(bb)), i -> substr(text, CAST(bb[i]+1 AS INT), CAST(bb[i+1]-bb[i] AS INT))), c -> c <> '') cs FROM bb) " +
        "SELECT doc_id, generate_subscripts(cs, 1) - 1 i, substr(md5(unnest(cs)),1,16) h, len(unnest(cs)) l FROM ch ORDER BY doc_id, i")),
    // DSIR: add-0.5-smoothed hashed-unigram log ratio (target = lang 'en'),
    // averaged per doc, rounded 3 dp; same md5-60-bit bucket as the engine.
    QueryDef("q_dsir", Queries.qDsir,
      Some("WITH tok AS (SELECT doc_id, lang, CAST(concat('0x', substr(md5(w),1,15)) AS BIGINT) % 128 b FROM (SELECT doc_id, lang, unnest(string_split(text,' ')) w FROM documents) WHERE w <> ''), " +
        "ct AS (SELECT b, count(*) c FROM tok WHERE lang='en' GROUP BY b), " +
        "cr AS (SELECT b, count(*) c FROM tok GROUP BY b), " +
        "nt AS (SELECT count(*) n FROM tok WHERE lang='en'), " +
        "nr AS (SELECT count(*) n FROM tok), " +
        "lr AS (SELECT cr.b, ln(((coalesce(ct.c,0)+0.5)/(nt.n+64.0)) / ((cr.c+0.5)/(nr.n+64.0))) r FROM cr LEFT JOIN ct ON cr.b=ct.b, nt, nr) " +
        "SELECT tok.doc_id, CAST(count(*) AS BIGINT) ntok, round(avg(lr.r), 3) w FROM tok JOIN lr ON tok.b=lr.b GROUP BY tok.doc_id ORDER BY w DESC, tok.doc_id LIMIT 20")),
    // BPE apply: char-segment each word, one replace-all pass per merge
    // (er, in, ow) in rank order; count segments. replace() is literal,
    // left-to-right, non-overlapping in both engines.
    QueryDef("q_bpe_apply", Queries.qBpeApply,
      Some("SELECT doc_id, len(replace(text, ' ', '')) n_char, " +
        "CAST(list_sum(list_transform(list_transform(string_split(text, ' '), " +
        "w -> trim(replace(replace(replace(concat(' ', trim(regexp_replace(w, '(.)', '\\1 ', 'g')), ' '), " +
        "' e r ', ' er '), ' i n ', ' in '), ' o w ', ' ow '))), " +
        "s -> len(string_split(s, ' ')))) AS BIGINT) n_bpe " +
        "FROM documents ORDER BY doc_id LIMIT 100")),
    QueryDef("q_bpe_train", Queries.qBpeTrain, Some(bpeTrainSql), Solo),
    // BPE merge scan: adjacent char pairs of every >=2-char token, counted.
    QueryDef("q_bpe_merges", Queries.qBpeMerges,
      Some("WITH tok AS (SELECT w FROM (SELECT unnest(string_split(text,' ')) w FROM documents) WHERE len(w) >= 2), p AS (SELECT unnest(list_transform(range(1, len(w)), i -> substr(w, CAST(i AS INT), 2))) pair FROM tok) SELECT pair, CAST(count(*) AS BIGINT) c FROM p GROUP BY pair ORDER BY c DESC, pair LIMIT 10")),
    // Linear classifier: same weights/features as TextAnalysis.classifierScore;
    // keep computed FROM the quantized score (both engines gate post-floor).
    QueryDef("q_classify", Queries.qClassify,
      Some("SELECT doc_id, score, (score >= 0.5) AS keep FROM (SELECT doc_id, floor((1.0/(1.0+exp(-(-2.0 + 0.6*ln(CAST(len(string_split(text,' ')) AS DOUBLE)) - 0.4*(list_sum(list_transform(string_split(text,' '), w -> len(w)))/CAST(len(string_split(text,' ')) AS DOUBLE)) + 8.0*(len(list_filter(string_split(text,' '), w -> w IN ('the', 'a')))/CAST(len(string_split(text,' ')) AS DOUBLE)) + 1.5*(len(list_distinct(string_split(text,' ')))/CAST(len(string_split(text,' ')) AS DOUBLE))))))*10000 + 0.5)/10000 score FROM documents) ORDER BY doc_id LIMIT 100")),
    // floor-quantized (not round) so the score is bit-identical x-engine.
    QueryDef("q_quality", Queries.qQuality,
      Some("SELECT doc_id, floor((least(n_chars/400.0, 1.0)*0.5 + (len(list_filter(string_split(text,' '), w -> w IN ('the', 'a')))/CAST(len(string_split(text,' ')) AS DOUBLE))*0.3 + least(len(string_split(text,' '))/80.0, 1.0)*0.2)*10000 + 0.5)/10000 score FROM documents ORDER BY doc_id LIMIT 100")),
    QueryDef("q_lang_id", Queries.qLangId,
      Some("SELECT lang, CASE WHEN len(list_filter(string_split(text,' '), w -> w IN ('the', 'a')))/CAST(len(string_split(text,' ')) AS DOUBLE) >= 0.05 THEN 'en' ELSE 'und' END pred, count(*) c FROM documents GROUP BY lang, pred ORDER BY lang, pred")),
    QueryDef("q_minhash_lsh", Queries.qMinhashLsh, Some(minhashSql)),
    QueryDef("q_neardup_lsh", Queries.qNeardupLsh, Some(lshVerifiedSql), Solo),
    QueryDef("q_neardup_incr", Queries.qNeardupIncr, Some(incrNeardupSql)),
    // identical semantics through the persisted band/token-hash index
    QueryDef("q_neardup_incr_indexed", Queries.qNeardupIncrIndexed, Some(incrNeardupSql)),
    // same semantics again through the module-grain orchestration
    // (RunLog ledger + sink-gated persisted index): the row pins that
    // the composition preserves the operator's result exactly
    QueryDef("q_corpus_index_probe", Queries.qCorpusIndexProbe, Some(incrNeardupSql), Solo),
    QueryDef("q_passage_dedup", Queries.qPassageDedup, Some(passageDedupSql)),
    QueryDef("q_embed_decontaminate", Queries.qEmbedDecontaminate, Some(embedDecontaminateSql)),
    // rank-based U: tie groups contribute min(rn)+max(rn) = 2·avg rank,
    // an integer identity — the rank sum is exact int64; z is the one
    // shared double spelling (tie-corrected variance)
    QueryDef("q_mannwhitney", Queries.qMannwhitney,
      Some("WITH u AS (SELECT user_id, CAST(sum(CAST(round(value*1000) AS BIGINT)) AS BIGINT) sc, " +
        "CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END a FROM events GROUP BY user_id), " +
        "r AS (SELECT sc, a, row_number() OVER (ORDER BY sc, user_id) rn FROM u), " +
        "g AS (SELECT sc, min(rn)+max(rn) m2, sum(a) ca, count(*) t FROM r GROUP BY sc), " +
        "m AS (SELECT CAST(sum(ca*m2) AS BIGINT) r2a, CAST(sum(ca) AS BIGINT) na, " +
        "CAST(sum(t-ca) AS BIGINT) nb, CAST(sum(t*t*t - t) AS BIGINT) tsum FROM g) " +
        "SELECT na, nb, CAST(r2a - na*(na+1) AS DOUBLE)/2 u_a, " +
        "round((CAST(r2a - na*(na+1) AS DOUBLE)/2 - CAST(na AS DOUBLE)*CAST(nb AS DOUBLE)/2) / " +
        "sqrt(CAST(na AS DOUBLE)*CAST(nb AS DOUBLE)/12 * " +
        "((CAST(na+nb AS DOUBLE)+1) - CAST(tsum AS DOUBLE)/(CAST(na+nb AS DOUBLE)*(CAST(na+nb AS DOUBLE)-1)))), 4) z " +
        "FROM m")),
    // centi-unit integer moments; mean/var/t/df in one shared double
    // spelling per side
    QueryDef("q_welch", Queries.qWelch,
      Some("WITH m AS (SELECT user_id % 2 = 0 arma, count(*) n, " +
        "CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) sx, " +
        "CAST(sum(CAST(round(value*100) AS BIGINT)*CAST(round(value*100) AS BIGINT)) AS BIGINT) sxx " +
        "FROM events GROUP BY 1), " +
        "w AS (SELECT CAST(sum(CASE WHEN arma THEN n END) AS BIGINT) na, " +
        "CAST(sum(CASE WHEN arma THEN sx END) AS BIGINT) sxa, " +
        "CAST(sum(CASE WHEN arma THEN sxx END) AS BIGINT) sxxa, " +
        "CAST(sum(CASE WHEN NOT arma THEN n END) AS BIGINT) nb, " +
        "CAST(sum(CASE WHEN NOT arma THEN sx END) AS BIGINT) sxb, " +
        "CAST(sum(CASE WHEN NOT arma THEN sxx END) AS BIGINT) sxxb FROM m), " +
        "c AS (SELECT na, nb, CAST(sxa AS DOUBLE)/na/100 ma, CAST(sxb AS DOUBLE)/nb/100 mb, " +
        "(CAST(sxxa AS DOUBLE) - CAST(sxa AS DOUBLE)*CAST(sxa AS DOUBLE)/na)/(na-1)/10000/na qa, " +
        "(CAST(sxxb AS DOUBLE) - CAST(sxb AS DOUBLE)*CAST(sxb AS DOUBLE)/nb)/(nb-1)/10000/nb qb FROM w) " +
        "SELECT na, nb, round(ma, 4) mean_a, round(mb, 4) mean_b, " +
        "round((ma - mb)/sqrt(qa + qb), 4) t, " +
        "round((qa+qb)*(qa+qb)/(qa*qa/(na-1) + qb*qb/(nb-1)), 2) df FROM c")),
    // Kaplan-Meier: quantized-log running product (the q_psi discipline);
    // hour lifetimes via floor-second epochs // 3600 on both engines
    QueryDef("q_survival", Queries.qSurvival,
      Some("WITH per AS (SELECT user_id, min(ts) t0, " +
        "min(CASE WHEN event_type = 'purchase' THEN ts END) tp FROM events GROUP BY 1), " +
        "u AS (SELECT CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END d, " +
        "(CASE WHEN tp IS NOT NULL THEN date_diff('second', t0, tp) " +
        "ELSE date_diff('second', t0, (SELECT max(ts) FROM events)) END) // 3600 lt FROM per), " +
        "g AS (SELECT lt, CAST(sum(d) AS BIGINT) d, CAST(sum(1-d) AS BIGINT) c FROM u GROUP BY lt), " +
        "k AS (SELECT lt, d, CAST((SELECT count(*) FROM u) - " +
        "coalesce(CAST(sum(d+c) OVER (ORDER BY lt ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS BIGINT) n_risk FROM g), " +
        "q AS (SELECT lt, n_risk, d, CASE WHEN n_risk = d THEN -90000000000 " +
        "ELSE CAST(floor(ln(CAST(n_risk - d AS DOUBLE)/n_risk)*1000000000 + 0.5) AS BIGINT) END q FROM k), " +
        "sq AS (SELECT lt, n_risk, d, CAST(sum(q) OVER (ORDER BY lt ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) qs FROM q) " +
        "SELECT lt, n_risk, d, round(exp(CAST(qs AS DOUBLE)/1000000000), 4) surv " +
        "FROM sq WHERE d > 0 ORDER BY lt")),
    // pair counts on the distinct (user, type) frame; metric ratios in
    // shared double spellings
    QueryDef("q_assoc_rules", Queries.qAssocRules,
      Some("WITH ut AS (SELECT DISTINCT user_id, event_type FROM events), " +
        "tc AS (SELECT event_type, count(*) cnt FROM ut GROUP BY 1), " +
        "nn AS (SELECT count(DISTINCT user_id) nn FROM ut), " +
        "p AS (SELECT x.event_type ta, y.event_type tb, count(*) nboth " +
        "FROM ut x JOIN ut y ON x.user_id = y.user_id AND x.event_type < y.event_type GROUP BY 1, 2) " +
        "SELECT ta, tb, nboth, a.cnt ca, b.cnt cb, " +
        "round(nboth/CAST(nn AS DOUBLE), 4) supp, " +
        "round(nboth/CAST(a.cnt AS DOUBLE), 4) conf, " +
        "round(CAST(nboth AS DOUBLE)*nn/(CAST(a.cnt AS DOUBLE)*b.cnt), 4) lift " +
        "FROM p JOIN tc a ON a.event_type = p.ta JOIN tc b ON b.event_type = p.tb, nn " +
        "ORDER BY ta, tb")),
    // BOTH sides are recursive CTEs (Spark 4 UnionLoop vs DuckDB):
    // integer-cents carry with integer division per step — bit-exact
    QueryDef("q_rcte_decay", Queries.qRcteDecay,
      Some("WITH RECURSIVE g AS (SELECT year(o_orderdate)*4 + quarter(o_orderdate) q, " +
        "CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) rev " +
        "FROM orders GROUP BY 1), " +
        "acc(q, carry) AS (SELECT q, rev FROM g WHERE q = (SELECT min(q) FROM g) " +
        "UNION ALL SELECT g.q, (a.carry * 9) // 10 + g.rev " +
        "FROM acc a JOIN g ON g.q = a.q + 1) " +
        "SELECT q, CAST(carry AS DOUBLE)/100 AS decayed FROM acc ORDER BY q"), Roamer),
    // graph recursion with per-step DISTINCT: identical working-table
    // semantics both engines, min() multiplicity-insensitive on top
    QueryDef("q_rcte_reach", Queries.qRcteReach,
      Some("WITH RECURSIVE oi AS (SELECT DISTINCT 2*o_custkey AS s, 2*l_suppkey+1 AS d " +
        "FROM orders JOIN lineitem ON l_orderkey = o_orderkey), " +
        "e AS (SELECT s, d FROM oi UNION ALL SELECT d AS s, s AS d FROM oi), " +
        "reach(node, depth) AS (SELECT DISTINCT s, CAST(0 AS BIGINT) FROM e WHERE s < 20 " +
        "UNION ALL SELECT DISTINCT e.d, r.depth + 1 FROM reach r " +
        "JOIN e ON e.s = r.node WHERE r.depth < 3) " +
        "SELECT node, min(depth) AS depth FROM reach GROUP BY node ORDER BY node"), Solo),
    // the engine runs O(log depth) pointer doubling; the oracle is an
    // ACTUAL recursive CTE — the equality pins log-round ≡ row-recursive
    QueryDef("q_tree_depth", Queries.qTreeDepth,
      Some("WITH RECURSIVE n AS (SELECT doc_id, doc_id // 2 parent FROM documents), " +
        "d AS (SELECT doc_id, 0 AS depth FROM n WHERE doc_id = parent " +
        "UNION ALL SELECT n.doc_id, d.depth + 1 FROM n JOIN d ON n.parent = d.doc_id WHERE n.doc_id <> n.parent) " +
        "SELECT depth, count(*) c, CAST(sum(doc_id) AS BIGINT) chk FROM d GROUP BY depth ORDER BY depth"), Roamer),
    // the engine iterates the scaled-integer recurrence; the oracle is the
    // same five rounds unrolled straight-line — BIGINT ranks, bit-exact
    QueryDef("q_pagerank", Queries.qPagerank, Some(pagerankSql), Solo),
    // fixpoint min-relaxation vs 6 straight-line rounds — integer-exact
    QueryDef("q_bfs", Queries.qBfs, Some(bfsSql), Solo),
    // bounded-hop Bellman-Ford vs 4 straight-line rounds — integer-exact
    QueryDef("q_sssp", Queries.qSssp, Some(ssspSql), Solo),
    // fixed-order KL chain over the known language list — no tolerance
    QueryDef("q_drift", Queries.qDrift, Some(driftSql)),
    // 3 unrolled LPA rounds, window argmax == struct-max — integer-exact
    QueryDef("q_communities", Queries.qCommunities, Some(communitiesSql), Solo),
    // engine = degree-ordered compact-forward; oracle = naive a<b<c
    // triple self-join — per-node counts are enumeration-invariant
    QueryDef("q_triangles", Queries.qTriangles,
      Some("WITH pp AS (SELECT DISTINCT x.l_partkey a, y.l_partkey b " +
        "FROM lineitem x JOIN lineitem y " +
        "ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey), " +
        "tr AS (SELECT e1.a, e1.b, e2.b c FROM pp e1 " +
        "JOIN pp e2 ON e2.a = e1.b " +
        "JOIN pp e3 ON e3.a = e1.a AND e3.b = e2.b), " +
        "nd AS (SELECT unnest([a, b, c]) node FROM tr) " +
        "SELECT node, count(*) tri FROM nd GROUP BY node " +
        "ORDER BY tri DESC, node LIMIT 15"), Solo),
    // Efraimidis-Spirakis key spelled identically: u = (md5bits+1)/2^32 is
    // double-exact, so ranking by the raw key agrees bit-for-bit
    QueryDef("q_weighted_sample", Queries.qWeightedSample, Some {
      val k = "-ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),1,8)) " +
        "AS BIGINT) + 1)/4294967296.0)/n_chars"
      s"SELECT doc_id, n_chars, round($k, 8) k FROM documents " +
        s"ORDER BY $k, doc_id LIMIT 20"
    }),
    // engine = mergeable TopKAgg on the md5 key order; oracle = the ANSI
    // row_number spelling of the same descending-hash sample
    QueryDef("q_stratified", Queries.qStratified,
      Some("WITH b AS (SELECT lang, source, doc_id, CAST(concat('0x', " +
        "substr(md5(CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT) bk FROM documents), " +
        "t AS (SELECT lang, source, doc_id, bk, row_number() OVER " +
        "(PARTITION BY lang, source ORDER BY bk DESC, doc_id) r FROM b) " +
        "SELECT lang, source, r, doc_id, bk FROM t WHERE r <= 10 " +
        "ORDER BY lang, source, r")),
    // quantize-then-rank: both engines order by the 4 dp score, so ties
    // resolve identically (ln parity pinned by q_tfidf)
    QueryDef("q_keywords", Queries.qKeywords,
      Some("WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) w FROM documents), " +
        "tq AS (SELECT doc_id, w, count(*) tf FROM tok WHERE w <> '' GROUP BY doc_id, w), " +
        "d AS (SELECT w, count(DISTINCT doc_id) df FROM tok WHERE w <> '' GROUP BY w), " +
        "n AS (SELECT CAST(count(*) AS DOUBLE) nd FROM documents), " +
        "sc AS (SELECT doc_id, tq.w, round(tf * ln(nd/df), 4) score " +
        "FROM tq JOIN d ON tq.w = d.w, n), " +
        "rk AS (SELECT doc_id, w, score, row_number() OVER " +
        "(PARTITION BY doc_id ORDER BY score DESC, w) r FROM sc) " +
        "SELECT doc_id, r, w, score FROM rk WHERE r <= 3 ORDER BY doc_id, r")),
    // the sketch only finds CANDIDATES; the exact recount makes the
    // result identical to the straight GROUP BY ... HAVING spelling
    // CMS grid rebuilt with plain GROUP BYs: cell (j,h) = count of tokens
    // hashing there; estimate = min over j of the probe's cells (0 when a
    // probed cell is empty). Same md5-60-bit-mod-64 arithmetic as CmsAgg.
    QueryDef("q_cms", Queries.qCms,
      Some("WITH tok AS (SELECT w FROM (SELECT unnest(string_split(text,' ')) w FROM documents) WHERE w <> ''), " +
        "jj AS (SELECT unnest([0,1,2]) j), " +
        "cells AS (SELECT jj.j, CAST(concat('0x', substr(md5(concat(jj.j, ':', tok.w)),1,15)) AS BIGINT) % 64 h, count(*) c FROM tok, jj GROUP BY 1, 2), " +
        "probes AS (SELECT unnest(['the','scan','merge','key','zzzz']) w), " +
        "pe AS (SELECT p.w, jj.j, CAST(concat('0x', substr(md5(concat(jj.j, ':', p.w)),1,15)) AS BIGINT) % 64 h FROM probes p, jj), " +
        "est AS (SELECT pe.w, CAST(min(coalesce(c.c, 0)) AS BIGINT) est FROM pe LEFT JOIN cells c ON pe.j=c.j AND pe.h=c.h GROUP BY pe.w), " +
        "ex AS (SELECT w, count(*) c FROM tok GROUP BY w) " +
        "SELECT est.w, est.est, CAST(coalesce(ex.c, 0) AS BIGINT) exact FROM est LEFT JOIN ex ON est.w=ex.w ORDER BY est.w")),
    QueryDef("q_heavy_hitters", Queries.qHeavyHitters,
      Some("WITH tw AS (SELECT unnest(string_split(text,' ')) w FROM documents), " +
        "tk AS (SELECT w FROM tw WHERE w <> ''), " +
        "n AS (SELECT (count(*) + 29) // 30 thr FROM tk) " +
        "SELECT w, count(*) c FROM tk GROUP BY w " +
        "HAVING count(*) >= (SELECT thr FROM n) ORDER BY c DESC, w")),
    // Upsample: epoch = unnest(range(1, reps+1)), reps by lang.
    QueryDef("q_upsample", Queries.qUpsample,
      Some("SELECT lang, epoch, CAST(count(*) AS BIGINT) n, CAST(sum(doc_id) AS BIGINT) chk FROM " +
        "(SELECT lang, doc_id, CAST(unnest(range(1, (CASE lang WHEN 'en' THEN 3 WHEN 'de' THEN 2 ELSE 1 END) + 1)) AS INT) epoch FROM documents) " +
        "GROUP BY lang, epoch ORDER BY lang, epoch")),
    // Winsorize: DuckDB quantile_cont == Spark percentile (q_percentile
    // precedent); clip then re-average, floats rounded 3 dp.
    QueryDef("q_winsorize", Queries.qWinsorize,
      Some("WITH q AS (SELECT event_type, quantile_cont(value, 0.05) plo, quantile_cont(value, 0.95) phi FROM events GROUP BY event_type), " +
        "r AS (SELECT event_type, round(avg(value), 3) avg_raw FROM events GROUP BY event_type), " +
        "w AS (SELECT e.event_type, CASE WHEN e.value IS NULL OR q.plo IS NULL THEN e.value ELSE greatest(least(e.value, q.phi), q.plo) END v FROM events e LEFT JOIN q ON e.event_type = q.event_type) " +
        "SELECT w.event_type, CAST(count(*) AS BIGINT) n, r.avg_raw, round(avg(w.v), 3) avg_wins FROM w JOIN r ON w.event_type = r.event_type GROUP BY w.event_type, r.avg_raw ORDER BY w.event_type")),
    // the approx-winsorize row: n and avg_raw exact; the sketch-bound and
    // clip-range flags are literal TRUE (the q_hll_rollup bound-as-value
    // pattern — a sketch outside its rank guarantee, or a clip outside
    // its own cutpoints, fails the hash compare)
    QueryDef("q_winsorize_approx", Queries.qWinsorizeApprox,
      Some("SELECT event_type, count(*) n, round(avg(value), 3) avg_raw, " +
        "TRUE lo_ok, TRUE hi_ok, TRUE wins_ok FROM events " +
        "GROUP BY event_type ORDER BY event_type")),
    // exact integer moments -> fixed-association doubles: no tolerance
    QueryDef("q_anomaly", Queries.qAnomaly,
      Some("WITH st AS (SELECT lang, source, count(*) n, " +
        "CAST(sum(n_chars) AS DOUBLE) s, " +
        "CAST(sum(n_chars*n_chars) AS DOUBLE) ss " +
        "FROM documents GROUP BY lang, source), " +
        "m AS (SELECT lang, source, s/n mn, (ss - s*s/n)/(n-1) vr " +
        "FROM st WHERE n > 1) " +
        "SELECT doc_id, lang, source, n_chars, " +
        "round((CAST(n_chars AS DOUBLE) - mn)/sqrt(vr), 4) z " +
        "FROM documents JOIN m USING (lang, source) " +
        "WHERE vr > 0 AND abs((CAST(n_chars AS DOUBLE) - mn)/sqrt(vr)) > 1.5 " +
        "ORDER BY doc_id")),
    QueryDef("q_shuffle", Queries.qShuffle,
      Some("SELECT doc_id, md5(concat_ws(':', 'ep1', CAST(doc_id AS VARCHAR))) sk " +
        "FROM documents ORDER BY sk LIMIT 20")),
    // BM25 with the Lucene +1 idf: tf/dl/df/N exact integers, avgdl one
    // double division, every float step spelled exactly as the Spark side
    // (left-assoc * /, ln parity pinned by q_tfidf), floor-quantized 4 dp.
    // DuckDB parses bare decimal literals as DECIMAL and keeps
    // integer±decimal arithmetic exact — a different last-ulp than
    // Spark's all-double pipeline (decimal 6.6 -> double is 1 ulp BELOW
    // 3*2.2d). The idf ratio operands and the (k1+1) literal are
    // therefore CAST to DOUBLE so both engines round at the same points;
    // the x.5 cast inputs are double-exact, so the casts lose nothing.
    QueryDef("q_bm25", Queries.qBm25,
      Some("WITH d AS (SELECT doc_id, len(string_split(text,' ')) dl, " +
        "len(list_filter(string_split(text,' '), w -> w = 'dup')) tf0, " +
        "len(list_filter(string_split(text,' '), w -> w = 'vector')) tf1, " +
        "len(list_filter(string_split(text,' '), w -> w = 'the')) tf2 FROM documents), " +
        "s AS (SELECT count(*) n, CAST(sum(dl) AS DOUBLE) sdl, " +
        "sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) df0, " +
        "sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) df1, " +
        "sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) df2 FROM d) " +
        "SELECT doc_id, floor((" +
        "ln(1.0 + CAST(n - df0 + 0.5 AS DOUBLE)/CAST(df0 + 0.5 AS DOUBLE)) * (tf0 * (CAST(1.2 AS DOUBLE) + 1)) / (tf0 + 1.2 * (0.25 + 0.75 * dl / (sdl/n))) + " +
        "ln(1.0 + CAST(n - df1 + 0.5 AS DOUBLE)/CAST(df1 + 0.5 AS DOUBLE)) * (tf1 * (CAST(1.2 AS DOUBLE) + 1)) / (tf1 + 1.2 * (0.25 + 0.75 * dl / (sdl/n))) + " +
        "ln(1.0 + CAST(n - df2 + 0.5 AS DOUBLE)/CAST(df2 + 0.5 AS DOUBLE)) * (tf2 * (CAST(1.2 AS DOUBLE) + 1)) / (tf2 + 1.2 * (0.25 + 0.75 * dl / (sdl/n)))" +
        ")*10000 + 0.5)/10000 score " +
        "FROM d, s ORDER BY score DESC, doc_id LIMIT 15")),
    QueryDef("q_tfidf", Queries.qTfidf,
      Some("WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) w FROM documents), t AS (SELECT w, count(*) tf, count(DISTINCT doc_id) df FROM tok WHERE w <> '' GROUP BY w), n AS (SELECT CAST(count(*) AS DOUBLE) nd FROM documents) SELECT w, round(tf * ln(nd/df), 4) score FROM t, n ORDER BY score DESC, w LIMIT 15")),
    // Portable md5 bucket (first 32 hash bits): Spark conv(...,16,10) ≡
    // DuckDB CAST('0x…' AS BIGINT); ids render identically as strings.
    QueryDef("q_split_assign", Queries.qSplitAssign,
      Some("WITH b AS (SELECT doc_id, CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT) % 100 bk FROM documents) SELECT CASE WHEN bk < 90 THEN 'train' WHEN bk < 95 THEN 'val' ELSE 'test' END split, count(*) c, CAST(sum(doc_id) AS BIGINT) chk FROM b GROUP BY split ORDER BY split")),
    QueryDef("q_mix", Queries.qMix,
      Some("WITH b AS (SELECT doc_id, lang, CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT) % 100 bk FROM documents) SELECT lang, count(*) c, CAST(sum(doc_id) AS BIGINT) chk FROM (SELECT doc_id, lang FROM b WHERE lang = 'en' AND bk < 80 UNION ALL SELECT doc_id, lang FROM b WHERE lang <> 'en' AND bk < 20) t GROUP BY lang ORDER BY lang")),
    // temperature mixing at alpha=0.5: sqrt (not pow) is IEEE
    // correctly-rounded, so floor(rate*10000) is bit-identical cross-engine
    QueryDef("q_temperature_mix", Queries.qTemperatureMix,
      Some("WITH c AS (SELECT source, count(*) n FROM documents GROUP BY source), " +
        "m AS (SELECT min(n) nmin FROM c), " +
        "t AS (SELECT source, floor(sqrt(CAST(nmin AS DOUBLE)/n) * 10000) thr FROM c, m), " +
        "k AS (SELECT doc_id, d.source FROM documents d JOIN t ON d.source = t.source " +
        "WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT) % 10000 < thr) " +
        "SELECT source, count(*) kept, CAST(sum(doc_id) AS BIGINT) chk FROM k GROUP BY source ORDER BY source")),
    // same floor-quantized score expression as q_quality
    QueryDef("q_quota", Queries.qQuota,
      Some("SELECT lang, r, doc_id, score FROM (SELECT lang, doc_id, score, row_number() OVER (PARTITION BY lang ORDER BY score DESC, doc_id) r FROM (SELECT lang, doc_id, floor((least(n_chars/400.0, 1.0)*0.5 + (len(list_filter(string_split(text,' '), w -> w IN ('the', 'a')))/CAST(len(string_split(text,' ')) AS DOUBLE))*0.3 + least(len(string_split(text,' '))/80.0, 1.0)*0.2)*10000 + 0.5)/10000 score FROM documents) s) t WHERE r <= 20 ORDER BY lang, r")),
    // sequence packing: integer running sums → floor-div bucket, exact
    // seq_id is CAST to BIGINT because the HUGEINT window sum makes `//`
    // yield DECIMAL(38,0) → pandas float64, while Spark emits bigint
    // Packed-sequence content fingerprint: same bucketing as q_pack,
    // string_agg in doc order == Spark's array_sort(struct)+array_join.
    QueryDef("q_pack_text", Queries.qPackText,
      Some("SELECT lang, CAST(seq_id AS BIGINT) seq_id, count(*) docs, substr(md5(string_agg(text, chr(10) ORDER BY doc_id)), 1, 16) fp FROM (" +
        "SELECT lang, doc_id, text, " +
        "(sum(tk) OVER (PARTITION BY lang ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tk) // 500 seq_id " +
        "FROM (SELECT lang, doc_id, text, len(string_split(text, ' ')) tk FROM documents) d" +
        ") GROUP BY lang, seq_id ORDER BY lang, seq_id")),
    QueryDef("q_pack", Queries.qPack,
      Some("SELECT lang, CAST(seq_id AS BIGINT) seq_id, count(*) docs, CAST(sum(tk) AS BIGINT) toks FROM (" +
        "SELECT lang, doc_id, tk, " +
        "(sum(tk) OVER (PARTITION BY lang ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tk) // 500 seq_id " +
        "FROM (SELECT lang, doc_id, len(string_split(text, ' ')) tk FROM documents) d" +
        ") t GROUP BY lang, seq_id ORDER BY lang, seq_id")),
    // bigram-LM cross-entropy: integer count ratios through ln, averaged
    // and rounded to 3 dp (q_tfidf already pins cross-engine ln parity)
    QueryDef("q_bigram_lm", Queries.qBigramLm,
      Some("WITH toks AS (SELECT doc_id, string_split(text, ' ') ws FROM documents), " +
        "pos AS (SELECT doc_id, ws[i] w1, ws[i+1] w2 FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) i FROM toks) t), " +
        "bc AS (SELECT w1, w2, count(*) cb FROM pos GROUP BY w1, w2), " +
        "uc AS (SELECT w1, count(*) cu FROM pos GROUP BY w1) " +
        "SELECT doc_id, count(*) nb, round(avg(-ln(cb/CAST(cu AS DOUBLE))), 3) ce " +
        "FROM pos JOIN bc USING (w1, w2) JOIN uc USING (w1) " +
        "GROUP BY doc_id ORDER BY doc_id LIMIT 100")),
    // group-mean imputation over deterministically planted nulls; both
    // engines average only observed values
    QueryDef("q_impute", Queries.qImpute,
      Some("SELECT c_custkey, c_mktsegment, bal IS NULL was_null, " +
        "round(coalesce(bal, round(avg(bal) OVER (PARTITION BY c_mktsegment), 2)), 2) filled " +
        "FROM (SELECT c_custkey, c_mktsegment, CASE WHEN c_custkey % 10 = 0 THEN NULL ELSE c_acctbal END bal FROM customer) t " +
        "ORDER BY c_custkey LIMIT 100")),
    // Gopher rule gate: integer counts + integer-ratio doubles; pass uses
    // the UN-quantized values (division results are bit-identical) while
    // the displayed ratios are floor-quantized
    QueryDef("q_gopher", Queries.qGopher,
      Some("SELECT doc_id, nw, floor(mwl*10000 + 0.5)/10000 mwl, floor(af*10000 + 0.5)/10000 af, nstop, " +
        "(nw BETWEEN 40 AND 120 AND mwl BETWEEN 4.2 AND 5.0 AND af >= 0.8 AND nstop >= 2) pass " +
        "FROM (SELECT doc_id, len(string_split(text,' ')) nw, " +
        "list_sum(list_transform(string_split(text,' '), w -> len(w)))/CAST(len(string_split(text,' ')) AS DOUBLE) mwl, " +
        "len(list_filter(string_split(text,' '), w -> regexp_full_match(w, '[a-z]+')))/CAST(len(string_split(text,' ')) AS DOUBLE) af, " +
        "len(list_filter(string_split(text,' '), w -> w IN ('the', 'a'))) nstop FROM documents) t " +
        "ORDER BY doc_id LIMIT 100")),
    // the window spelling is the ANSI oracle for the mergeable TopKAgg
    // Aggregator (partial top-k, shuffle-light) — same rows by construction
    QueryDef("q_topk_group", Queries.qTopkGroup,
      Some("SELECT lang, r, doc_id, score FROM (SELECT lang, doc_id, score, row_number() OVER (PARTITION BY lang ORDER BY score DESC, doc_id) r FROM (SELECT lang, doc_id, floor((least(n_chars/400.0, 1.0)*0.5 + (len(list_filter(string_split(text,' '), w -> w IN ('the', 'a')))/CAST(len(string_split(text,' ')) AS DOUBLE))*0.3 + least(len(string_split(text,' '))/80.0, 1.0)*0.2)*10000 + 0.5)/10000 score FROM documents) s) t WHERE r <= 5 ORDER BY lang, r")),
    // word-5-gram leakage filter; range() stop is exclusive, list slice
    // [i:i+4] is inclusive both ends (= Spark slice(ws, i, 5))
    QueryDef("q_decontaminate", Queries.qDecontaminate,
      Some("WITH toks AS (SELECT doc_id, string_split(text,' ') ws FROM documents), " +
        "sh AS (SELECT doc_id, array_to_string(ws[i:i+4], ' ') s FROM (SELECT doc_id, ws, unnest(range(1, greatest(len(ws)-4,1)+1)) i FROM toks) t), " +
        "bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < 20), " +
        "cont AS (SELECT DISTINCT sh.doc_id FROM sh JOIN bench USING (s) WHERE sh.doc_id >= 20) " +
        "SELECT count(*) n_clean, CAST(sum(doc_id) AS BIGINT) chk " +
        "FROM documents WHERE doc_id >= 20 AND doc_id NOT IN (SELECT doc_id FROM cont)")),
    // DuckDB regexp_replace needs the 'g' flag (Spark replaces all matches
    // by default); regexes are RE2-safe on both engines
    QueryDef("q_pii_scrub", Queries.qPiiScrub,
      Some("WITH d AS (SELECT doc_id, substr(text,1,40) || ' email u' || CAST(doc_id AS VARCHAR) || '@example.com or 555-123-' || " +
        "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' and 555-999-' || lpad(CAST(doc_id % 100 AS VARCHAR), 4, '0') AS s FROM documents) " +
        "SELECT doc_id, " +
        "len(regexp_extract_all(s, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}')) ne, " +
        "len(regexp_extract_all(s, '\\d{3}-\\d{3}-\\d{4}')) np, " +
        "md5(regexp_replace(regexp_replace(s, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g'), '\\d{3}-\\d{3}-\\d{4}', '<PHONE>', 'g')) h " +
        "FROM d ORDER BY doc_id LIMIT 100")),
    // duplicate-bigram fraction, floor-quantized like q_quality
    QueryDef("q_repetition", Queries.qRepetition,
      Some("WITH toks AS (SELECT doc_id, string_split(text,' ') ws FROM documents), " +
        "sh AS (SELECT doc_id, array_to_string(ws[i:i+1], ' ') s FROM (SELECT doc_id, ws, unnest(range(1, greatest(len(ws)-1,1)+1)) i FROM toks) t) " +
        "SELECT doc_id, floor((1 - count(DISTINCT s)/CAST(count(*) AS DOUBLE))*10000 + 0.5)/10000 rep " +
        "FROM sh GROUP BY doc_id ORDER BY doc_id LIMIT 100")),
    // cume_dist/percent_rank are integer-count ratios: engine-identical
    QueryDef("q_window_dist", Queries.qWindowDist,
      Some("SELECT c_custkey, c_mktsegment, cume_dist() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal) cd, percent_rank() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal) pr FROM customer ORDER BY c_custkey LIMIT 100")),
    QueryDef("q_histogram", Queries.qHistogram,
      Some("SELECT CAST(floor(c_acctbal/1000) AS BIGINT) bin, count(*) c, round(avg(c_acctbal),2) m FROM customer GROUP BY bin ORDER BY bin")),
    // per-user daily resample with zero fill; generate_series stop is
    // INCLUSIVE for the date form (unlike range()), matching Spark sequence
    QueryDef("q_gapfill", Queries.qGapfill,
      Some("WITH daily AS (SELECT user_id, CAST(ts AS DATE) \"day\", count(*) c, round(sum(\"value\"), 2) v " +
        "FROM events WHERE user_id < 5 GROUP BY user_id, \"day\"), " +
        "cal AS (SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) \"day\" " +
        "FROM (SELECT user_id, min(\"day\") d0, max(\"day\") d1 FROM daily GROUP BY user_id) s) " +
        "SELECT cal.user_id, cal.\"day\", coalesce(c, 0) c, coalesce(v, 0.0) v " +
        "FROM cal LEFT JOIN daily ON cal.user_id = daily.user_id AND cal.\"day\" = daily.\"day\" " +
        "ORDER BY cal.user_id, cal.\"day\"")),
    // forward fill: densify via generate_series, carry last non-null
    // forward (IGNORE NULLS window, identical frame semantics)
    QueryDef("q_locf", Queries.qLocf,
      Some("WITH daily AS (SELECT user_id, CAST(ts AS DATE) \"day\", round(sum(\"value\"), 2) v " +
        "FROM events WHERE user_id < 5 GROUP BY user_id, \"day\"), " +
        "cal AS (SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) \"day\" " +
        "FROM (SELECT user_id, min(\"day\") d0, max(\"day\") d1 FROM daily GROUP BY user_id) s), " +
        "dense AS (SELECT cal.user_id, cal.\"day\", v FROM cal LEFT JOIN daily ON cal.user_id = daily.user_id AND cal.\"day\" = daily.\"day\") " +
        "SELECT user_id, \"day\", v IS NULL gap, " +
        "last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY \"day\" ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) v " +
        "FROM dense ORDER BY user_id, \"day\"")),
    // constraint-check report: counts only, every check a plain aggregate
    QueryDef("q_validate", Queries.qValidate,
      Some("SELECT \"check\", violations FROM (" +
        "SELECT 'expect(qty<=30)' \"check\", count(*) violations FROM lineitem WHERE NOT coalesce(l_quantity <= 30, FALSE) " +
        "UNION ALL SELECT 'not_null(l_orderkey)', count(*) FROM lineitem WHERE l_orderkey IS NULL " +
        "UNION ALL SELECT 'ref(l_orderkey->o_orderkey)', count(*) FROM lineitem WHERE l_orderkey IS NOT NULL AND l_orderkey NOT IN (SELECT o_orderkey FROM orders) " +
        "UNION ALL SELECT 'unique(c_custkey)', CAST(coalesce(sum(n - 1), 0) AS BIGINT) FROM (SELECT count(*) n FROM customer GROUP BY c_custkey) t" +
        ") z ORDER BY \"check\"")),
    // funnel: conditional-min firsts compared at µs granularity (CAST to
    // TIMESTAMP truncates DuckDB's ns to match Spark's rebuilt µs ts)
    QueryDef("q_funnel", Queries.qFunnel,
      Some("WITH f AS (SELECT user_id, " +
        "min(CASE WHEN event_type='view' THEN CAST(ts AS TIMESTAMP) END) t1, " +
        "min(CASE WHEN event_type='click' THEN CAST(ts AS TIMESTAMP) END) t2, " +
        "min(CASE WHEN event_type='purchase' THEN CAST(ts AS TIMESTAMP) END) t3 " +
        "FROM events GROUP BY user_id) " +
        "SELECT count(t1) s_view, count(CASE WHEN t2 > t1 THEN 1 END) s_click, " +
        "count(CASE WHEN t2 > t1 AND t3 > t2 THEN 1 END) s_purchase FROM f")),
    // retention triangle: Monday-start weeks in both engines; week offset
    // via day-diff // 7 (engine week-diff semantics differ)
    QueryDef("q_retention", Queries.qRetention,
      Some("WITH wk AS (SELECT user_id, CAST(date_trunc('week', ts) AS DATE) wk FROM events), " +
        "c AS (SELECT user_id, min(wk) cw FROM wk GROUP BY user_id) " +
        "SELECT cw, datediff('day', cw, wk) // 7 k, count(DISTINCT wk.user_id) u " +
        "FROM wk JOIN c ON wk.user_id = c.user_id GROUP BY cw, k ORDER BY cw, k")),
    QueryDef("q_regression", Queries.qRegression,
      Some("SELECT l_returnflag, round(regr_slope(l_extendedprice, l_quantity), 2) b1, " +
        "round(regr_intercept(l_extendedprice, l_quantity), 2) b0, " +
        "round(regr_r2(l_extendedprice, l_quantity), 4) r2, count(*) n " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag")),
    QueryDef("q_fuzzy", Queries.qFuzzy,
      Some("SELECT d, count(*) c FROM (SELECT levenshtein(a.c_name, b.c_name) d " +
        "FROM customer a JOIN customer b ON substr(a.c_name, 1, length(a.c_name)-2) = substr(b.c_name, 1, length(b.c_name)-2) " +
        "AND a.c_custkey < b.c_custkey WHERE a.c_custkey < 100 AND b.c_custkey < 100) t " +
        "WHERE d <= 2 GROUP BY d ORDER BY d")),
    // uncorrelated scalar subquery in the SELECT list
    QueryDef("q_scalar_subq", Queries.qScalarSubq,
      Some("SELECT c_mktsegment, round(avg(c_acctbal), 2) seg_avg, round((SELECT avg(c_acctbal) FROM customer), 2) all_avg FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment")),
    // the salted join must equal the PLAIN join — salting is physical only
    QueryDef("q_skew_join", Queries.qSkewJoin,
      Some("SELECT n_name, count(*) c, round(sum(c_acctbal),2) s FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name ORDER BY n_name")),
    // DuckDB // = integer division (plain / yields double); range() stop
    // is exclusive, hence len+1. Spark's posexplode index is 0-based int.
    QueryDef("q_chunk", Queries.qChunk,
      Some("WITH s AS (SELECT doc_id, text, unnest(range(1, greatest(len(text),1)+1, 150)) st FROM documents) SELECT doc_id, CAST((st-1)//150 AS INTEGER) ci, substr(text, CAST(st AS INTEGER), 200) chunk FROM s ORDER BY doc_id, ci LIMIT 200")),
    QueryDef("q_neardup", Queries.qNeardup, Some(exactNeardupSql)),
    // prefix filtering is EXACT (same pairs by the prefix lemma) — the
    // brute-force ground truth is literally the same oracle
    QueryDef("q_neardup_prefix", Queries.qNeardupPrefix, Some(exactNeardupSql)),
    QueryDef("q_ngram_neardup", Queries.qNgramNeardup,
      Some("WITH d AS (SELECT doc_id, lang, list_distinct(list_transform(range(1, greatest(len(text)-2, 1)+1), i -> substr(text, i, 3))) toks FROM documents WHERE doc_id < 200), tok AS (SELECT doc_id, lang, len(toks) nt, unnest(toks) w FROM d), g AS (SELECT a.doc_id da, b.doc_id db, a.nt na, b.nt nb, count(*) inter FROM tok a JOIN tok b ON a.w=b.w AND a.lang=b.lang AND a.doc_id<b.doc_id GROUP BY 1,2,3,4), j AS (SELECT da, db, inter/CAST(na+nb-inter AS DOUBLE) jac FROM g) SELECT count(*) pairs, CAST(sum(da+db) AS BIGINT) chk, round(avg(jac),4) aj FROM j WHERE jac >= 0.9")),
    QueryDef("q_simhash", Queries.qSimhash, Some(simhashSql)),
    // Transitive closure of the within-lang jac>=0.9 pairs: recursive CTE
    // computes min-reachable-id per vertex — ANSI ground truth for the
    // Spark-side hash-min label propagation (integer-ratio threshold, so
    // the edge set is bit-identical across engines).
    QueryDef("q_dedup_cluster", Queries.qDedupCluster,
      Some("WITH RECURSIVE d AS (SELECT doc_id, lang, list_distinct(string_split(text,' ')) toks FROM documents WHERE doc_id < 200), " +
        "tok AS (SELECT doc_id, lang, len(toks) nt, unnest(toks) w FROM d), " +
        "g AS (SELECT a.doc_id da, b.doc_id db, a.nt na, b.nt nb, count(*) inter FROM tok a JOIN tok b ON a.w=b.w AND a.lang=b.lang AND a.doc_id<b.doc_id GROUP BY 1,2,3,4), " +
        "p AS (SELECT da, db FROM g WHERE inter/CAST(na+nb-inter AS DOUBLE) >= 0.9), " +
        "sym AS (SELECT da s, db t FROM p UNION SELECT db, da FROM p), " +
        "reach(id, r) AS (SELECT s, s FROM (SELECT DISTINCT s FROM sym) u UNION SELECT sym.t, reach.r FROM reach JOIN sym ON sym.s = reach.id), " +
        "cc AS (SELECT id, min(r) comp FROM reach GROUP BY id) " +
        "SELECT id doc_id, cc.comp, sz FROM cc JOIN (SELECT comp, count(*) sz FROM cc GROUP BY comp) z ON cc.comp = z.comp ORDER BY doc_id"), Solo),
    // same closure; deliverable = corpus minus non-keeper cluster members
    QueryDef("q_dedup_apply", Queries.qDedupApply,
      Some("WITH RECURSIVE d AS (SELECT doc_id, lang, list_distinct(string_split(text,' ')) toks FROM documents WHERE doc_id < 200), " +
        "tok AS (SELECT doc_id, lang, len(toks) nt, unnest(toks) w FROM d), " +
        "g AS (SELECT a.doc_id da, b.doc_id db, a.nt na, b.nt nb, count(*) inter FROM tok a JOIN tok b ON a.w=b.w AND a.lang=b.lang AND a.doc_id<b.doc_id GROUP BY 1,2,3,4), " +
        "p AS (SELECT da, db FROM g WHERE inter/CAST(na+nb-inter AS DOUBLE) >= 0.9), " +
        "sym AS (SELECT da s, db t FROM p UNION SELECT db, da FROM p), " +
        "reach(id, r) AS (SELECT s, s FROM (SELECT DISTINCT s FROM sym) u UNION SELECT sym.t, reach.r FROM reach JOIN sym ON sym.s = reach.id), " +
        "cc AS (SELECT id, min(r) comp FROM reach GROUP BY id), " +
        "losers AS (SELECT id FROM cc WHERE id <> comp) " +
        "SELECT count(*) kept, CAST(sum(doc_id) AS BIGINT) chk FROM d WHERE doc_id NOT IN (SELECT id FROM losers)"), Solo),
    // Bucket-blocked pairs: the 6-bit sign bucket (MSB-first, mirrors
    // Similarity.signBucket) gates the pair join exactly as the Spark plan.
    QueryDef("q_embed_neardup", Queries.qEmbedNeardup,
      Some(embedPairCtes + " SELECT count(*) pairs, CAST(sum(da+db) AS BIGINT) chk, round(avg(cos),4) ac FROM j WHERE cos >= 0.4")),
    // SemDeDup: the same bucketed cosine pairs transitively closed into
    // clusters (recursive min-reachable-id, as q_dedup_cluster)
    QueryDef("q_semdedup", Queries.qSemdedup,
      Some("WITH RECURSIVE " + embedPairCtes.stripPrefix("WITH ") +
        ", p AS (SELECT da, db FROM j WHERE cos >= 0.4), " +
        "sym AS (SELECT da s, db t FROM p UNION SELECT db, da FROM p), " +
        "reach(id, r) AS (SELECT s, s FROM (SELECT DISTINCT s FROM sym) u UNION SELECT sym.t, reach.r FROM reach JOIN sym ON sym.s = reach.id), " +
        "cc AS (SELECT id, min(r) comp FROM reach GROUP BY id), " +
        "z AS (SELECT comp, count(*) c FROM cc GROUP BY comp) " +
        "SELECT count(DISTINCT cc.comp) clusters, count(*) clustered, CAST(max(z.c) AS BIGINT) max_sz, CAST(sum(cc.id) AS BIGINT) chk FROM cc JOIN z ON cc.comp = z.comp"), Solo),
    QueryDef("q_ann_lsh", Queries.qAnnLsh, Some(annLshSql)),
    // multi-probe: candidates from the query bucket XOR each single bit
    QueryDef("q_ann_multiprobe", Queries.qAnnMultiprobe, Some(annMultiprobeSql)),
    // PQ ANN (mirrors Pq.searchPq): code Hamming == per-dim sign
    // disagreements (the 8x8 sign codes tile all 64 dims), shortlist 50
    // by (ham, id), exact-cosine re-rank top 10.
    QueryDef("q_ann_pq", Queries.qAnnPq, Some(annPqSql)),
    // Fixed axis-aligned IVF (mirrors Ivf.searchFixed): cell = argmax of
    // the first 8 dims (ties -> smallest dim), probes = query's top-2 dims.
    QueryDef("q_ann_ivf_fixed", Queries.qAnnIvfFixed,
      Some("WITH ed AS (SELECT vec_id, generate_subscripts(embedding,1) j, unnest(embedding) v FROM embeddings), mx AS (SELECT vec_id, max(v) mv FROM ed WHERE j <= 8 GROUP BY vec_id), ca AS (SELECT e.vec_id, min(e.j)-1 cell FROM ed e JOIN mx ON e.vec_id=mx.vec_id AND e.v=mx.mv WHERE e.j <= 8 GROUP BY e.vec_id), qp AS (SELECT j-1 cell FROM ed WHERE vec_id=0 AND j <= 8 ORDER BY v DESC, j LIMIT 2), qv AS (SELECT j i, v FROM ed WHERE vec_id=0), cand AS (SELECT c.vec_id FROM ca c JOIN qp ON c.cell=qp.cell WHERE c.vec_id<>0), ev AS (SELECT e.vec_id, e.j i, e.v FROM ed e JOIN cand ON e.vec_id=cand.vec_id), d AS (SELECT ev.vec_id, sum(ev.v*qv.v) dot, sqrt(sum(ev.v*ev.v)) nrm FROM ev JOIN qv ON ev.i=qv.i GROUP BY ev.vec_id), nq AS (SELECT sqrt(sum(v*v)) n FROM qv) SELECT d.vec_id, round(d.dot/(d.nrm*nq.n),4) cos FROM d, nq ORDER BY cos DESC, d.vec_id LIMIT 10")),
    // DuckDB unnest+generate_subscripts vs Spark zip_with/aggregate.
    QueryDef("q_cosine_topk", Queries.qCosineTopk, Some(cosineTopkSql)))

  /** [[all]] keyed by name; a name registered twice fails here, when the
    * registry initialises, instead of one entry silently shadowing the
    * other. */
  val byName: Map[String, QueryDef] = index(all)

  private[graft] def index(defs: Seq[QueryDef]): Map[String, QueryDef] = {
    val dup = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dup.isEmpty, s"query registered twice: ${dup.toSeq.sorted.mkString(", ")}")
    defs.map(d => d.name -> d).toMap
  }
}
