package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document-deduplication operators for training-data pipelines: exact
  * (content-hash), MinHash+LSH banding, exact n-gram/token Jaccard, and
  * SimHash — each a pure DataFrame transformation.
  *
  * Scale notes (100 TB):
  *  - exact dedupe is one hash-shuffle on the 128-bit fingerprint;
  *  - MinHash-LSH turns the O(n²) pair space into per-(band,hash) buckets:
  *    only same-bucket docs are joined — the canonical sub-quadratic near-dup
  *    path. Signatures/bands are plain columns, so the bucket join is a
  *    regular shuffle join Catalyst can plan (AQE handles hot buckets);
  *  - exact Jaccard is kept for verification / small candidate sets: its
  *    token-inverted-index join explodes on frequent tokens, so at scale it
  *    should run *after* LSH pruning, not instead of it.
  *
  * All hashing is md5-based so results are portable across engines (the
  * DuckDB oracle reproduces them bit-for-bit).
  */
object Dedup {

  /** Distinct-token array for a whitespace-tokenized text column. */
  def tokens(text: Column): Column = array_distinct(split(text, " "))

  /** 128-bit content fingerprint of a column (hex string). */
  def fingerprint(c: Column): Column = md5(c)

  /** Exact dedupe on content hash: one surviving (keeper) id per distinct
    * content value, keeper = smallest id. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("cnt"))

  /** MinHash signature: `numHashes` independent min-hashes of the distinct
    * token set, hash i = md5("i:" ++ token). Returns (idCol, sig array).
    * Not spread: this build also feeds write-only index builds
    * ([[writeLshIndex]]), where a spread costs more than it saves
    * (measured r16: ~0.7 s on q_corpus_index_probe). Callers that feed a
    * pair join spread their input with [[Spread.auto]] first. */
  def minHashSignature(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int): DataFrame = {
    val sig = array((0 until numHashes).map { i =>
      expr(s"array_min(transform(array_distinct(split($textCol, ' ')), w -> md5(concat('$i:', w))))")
    }: _*)
    df.select(col(idCol), sig.as("sig"))
  }

  /** LSH band index of a corpus batch: one (idCol, band_id, bv) row per doc
    * per band, where bv is the md5 of that band's signature slice. This IS
    * the persistable near-dup index — at scale it is written once per
    * ingest batch (partitioned by band_id, or BUCKETED on (band_id, bv)
    * so delta probes join with the one exchange on the delta side only —
    * BucketingSpec plan-asserts the corpus index is never reshuffled) and
    * appended to, so matching a new batch never recomputes old docs'
    * signatures. Both the whole-corpus pair join ([[lshCandidatePairs]])
    * and the delta mode ([[incrementalLshVerifiedPairs]]) are joins over
    * these rows. */
  def lshBands(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes): a remainder would " +
        "silently drop trailing signature positions and shift the S-curve")
    val rows = numHashes / bands
    val sigs = minHashSignature(df, idCol, textCol, numHashes)
    val bandCols = (0 until bands).map { b =>
      val parts = (0 until rows).map(r => s"element_at(sig, ${b * rows + r + 1})")
      expr(s"md5(concat_ws(':', ${parts.mkString(", ")}))")
    }
    sigs.select(col(idCol), posexplode(array(bandCols: _*)).as(Seq("band_id", "bv")))
  }

  /** LSH banding over MinHash signatures: signature is cut into `bands`
    * bands of `numHashes/bands` rows; docs sharing any (band, bandHash)
    * bucket become candidate pairs. Returns distinct (da, db) with da<db.
    * The input is spread: numHashes md5 evaluations per distinct token
    * are the dominant narrow cost, and a single-file corpus would
    * otherwise compute them on one core. */
  def lshCandidatePairs(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, bands: Int): DataFrame = {
    val banded = lshBands(Spread.auto(df), idCol, textCol, numHashes, bands)
    val a = banded.select(col(idCol).as("da"), col("band_id"), col("bv"))
    val b = banded.select(col(idCol).as("db"), col("band_id").as("band_id2"), col("bv").as("bv2"))
    a.join(b, col("band_id") === col("band_id2") && col("bv") === col("bv2") &&
        col("da") < col("db"))
      .select("da", "db").distinct()
  }

  /** Raw word n-grams of a whitespace-tokenized text column: contiguous
    * n-token windows joined by a single space, duplicates KEPT (a doc
    * shorter than n tokens yields its whole token sequence as one gram).
    * Single source of truth for the gram construction — [[wordShingles]]
    * (distinct, decontamination) and `TextAnalysis.repetitionRatio`
    * (duplicate-fraction) both derive from it, so short-doc and
    * empty-token edge semantics cannot drift apart.
    *
    * Split-once contract: the text is split exactly once per row. A
    * derived Column referenced inside a higher-order-function lambda is
    * inlined into the lambda body and re-evaluated on every element, so
    * the token array is bound once through [[let]]; per-row cost stays
    * linear in document length. */
  def wordGrams(text: Column, n: Int): Column = {
    require(n >= 1, s"gram width must be >= 1 (got $n)")
    let(split(text, " "))(ws => transform(
      sequence(lit(1), greatest(size(ws) - (n - 1), lit(1))),
      i => array_join(slice(ws, i, lit(n)), " ")))
  }

  /** `body` applied to `value`, which is evaluated once per row and bound
    * as a lambda variable. A Column is an expression tree, so using a
    * derived Column twice evaluates it twice; wrapping it in a one-element
    * array and transforming that array is the public-API way to name it. */
  private[operators] def let(value: Column)(body: Column => Column): Column =
    element_at(transform(array(value), body), 1)

  /** Word n-gram shingle SET (distinct [[wordGrams]]). The decontamination
    * unit: eval benchmarks leak into training corpora as verbatim runs of
    * tokens, which single-token or char-3-gram overlap can't pin down. */
  def wordShingles(text: Column, n: Int): Column =
    array_distinct(wordGrams(text, n))

  /** Benchmark decontamination: drop every `train` row sharing at least one
    * word n-gram shingle with any `bench` row — the standard eval-leakage
    * filter run before training. Returns the clean subset of `train`.
    *
    * Scale shape (100 TB): benchmarks are small by construction, so the
    * bench shingle set (distinct, single column) is BROADCAST; the train
    * side streams through one explode → broadcast semi-join → distinct ids
    * → broadcast anti-join, never shuffling the corpus itself. */
  def decontaminate(train: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    val benchShingles = broadcast(
      bench.select(explode(wordShingles(col(textCol), n)).as("s")).distinct())
    val contaminated = Spread.auto(train)
      .select(col(idCol), explode(wordShingles(col(textCol), n)).as("s"))
      .join(benchShingles, "s", "left_semi")
      .select(idCol).distinct()
    // no broadcast hint on the anti-join: the contaminated-id set is usually
    // tiny (AQE will broadcast it) but is corpus-dependent — a heavily
    // leaked corpus should fall back to a shuffle join, not OOM the driver
    train.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Character 3-gram shingle set of a text column (n-gram Jaccard basis:
    * robust to word-boundary edits that token sets miss). */
  def shingles3(text: Column): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(length(text) - 2, lit(1))),
      i => substr(text, i, lit(3))))

  /** Exact token-set Jaccard over all same-`groupCol` pairs via an inverted
    * token index: |∩| from the token join, |∪| = |A|+|B|−|∩|. Returns
    * (da, db, jac) for pairs with jac ≥ tau. Quadratic in bucket size —
    * at scale either feed it LSH candidates ([[lshVerifiedPairs]]) or cap
    * hot tokens with `maxDf`. */
  def jaccardPairs(df: DataFrame, idCol: String, groupCol: String,
      textCol: String, tau: Double, maxDf: Option[Long] = None): DataFrame =
    jaccardPairsBy(df, idCol, groupCol, tokens(col(textCol)), tau, maxDf)

  /** N-gram variant: Jaccard over character 3-gram shingles. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, groupCol: String,
      textCol: String, tau: Double, maxDf: Option[Long] = None): DataFrame =
    jaccardPairsBy(df, idCol, groupCol, shingles3(col(textCol)), tau, maxDf)

  /** Jaccard over an arbitrary element-set expression.
    *
    * `maxDf` is the hot-token defense for Zipfian corpora: tokens whose
    * per-group document frequency exceeds the cap are dropped before the
    * inverted-index join (a stop-word shared by f docs alone contributes
    * f·(f−1)/2 joined rows), and set sizes are recomputed over the capped
    * sets, so the result is the exact Jaccard of the capped token sets —
    * a well-defined, engine-portable semantic. With a cap the join fan-out
    * is bounded by maxDf per (group, token) bucket. */
  def jaccardPairsBy(df: DataFrame, idCol: String, groupCol: String,
      tokensExpr: Column, tau: Double, maxDf: Option[Long] = None): DataFrame =
    pairCounts(df, idCol, groupCol, tokensExpr, maxDf)
      .select(col("da"), col("db"),
        (col("inter") / (col("na") + col("nb") - col("inter")).cast("double")).as("jac"))
      .filter(col("jac") >= tau)

  /** Asymmetric CONTAINMENT near-dup pairs: max-containment
    * |A∩B| / min(|A|,|B|) ≥ τ — the metric that catches a document
    * SUBSUMED by another (quotes, excerpts, page-within-site), which
    * Jaccard misses whenever the sizes differ a lot (a 50-token doc fully
    * contained in a 500-token doc has Jaccard ≤ 0.1 but containment 1.0).
    * Same inverted-index core (and `maxDf` hot-token cap semantics) as
    * [[jaccardPairsBy]]; returns (da, db, cont). */
  def containmentPairs(df: DataFrame, idCol: String, groupCol: String,
      textCol: String, tau: Double, maxDf: Option[Long] = None): DataFrame =
    pairCounts(df, idCol, groupCol, tokens(col(textCol)), maxDf)
      .select(col("da"), col("db"),
        (col("inter") / least(col("na"), col("nb")).cast("double")).as("cont"))
      .filter(col("cont") >= tau)

  /** Shared inverted-index pair core of [[jaccardPairsBy]] and
    * [[containmentPairs]]: (da, db, na, nb, inter) for every same-group
    * pair sharing ≥ 1 (surviving) token. */
  private def pairCounts(df: DataFrame, idCol: String, groupCol: String,
      tokensExpr: Column, maxDf: Option[Long]): DataFrame = {
    // deliberately NOT spread: the declared exact-Jaccard rows run on
    // bounded (≤ a few hundred doc) slices where the repartition flipped
    // the inverted-index join's runtime shape and measured 2× slower
    // (q_dedup_cluster 2.4 s → 5.6 s); at corpus scale the exact path is
    // documented as post-LSH verification anyway, so the single-split
    // case this would fix does not arise there
    val d = df.select(col(idCol).as("id"), col(groupCol).as("grp"),
      tokensExpr.as("toks"))
    val base = d.select(col("id"), col("grp"), size(col("toks")).as("nt"),
      explode(col("toks")).as("w"))
    val tok = maxDf match {
      case None => base
      case Some(cap) =>
        base
          .withColumn("__df", count(lit(1)).over(Window.partitionBy("grp", "w")))
          .filter(col("__df") <= cap)
          .withColumn("nt", count(lit(1)).over(Window.partitionBy("grp", "id")))
          .drop("__df")
    }
    val a = tok.select(col("id").as("da"), col("grp"), col("nt").as("na"), col("w"))
    val b = tok.select(col("id").as("db"), col("grp").as("grp2"),
      col("nt").as("nb"), col("w").as("w2"))
    a.join(b, col("grp") === col("grp2") && col("w") === col("w2") &&
        col("da") < col("db"))
      .groupBy("da", "db", "na", "nb")
      .agg(count(lit(1)).as("inter"))
  }

  /** EXACT sub-quadratic set-similarity join by prefix filtering (the
    * PPJoin family, Xiao et al., WWW'08): tokens are globally ordered by
    * ascending document frequency (rarest first); a doc's PREFIX is its
    * first |A| − ceil(τ·|A|) + 1 tokens in that order, and the prefix
    * lemma guarantees two sets with Jaccard ≥ τ share at least one prefix
    * token — so candidates come from an equi-join on PREFIX tokens only,
    * then exact verification (the same zero-allocation sorted-hash merge
    * as [[lshVerifiedPairs]]) keeps pairs with true Jaccard ≥ τ.
    *
    * Same result set as [[jaccardPairsBy]] — this is exact, not
    * approximate — but the candidate join inverts only the RAREST tokens
    * per doc: a corpus-wide stop-word never lands in anyone's prefix, so
    * the Zipfian hot-token blowup of the naive inverted index cannot
    * happen. The df table is one partial-agg aggregate; everything else is
    * narrow per-doc work plus the (pruned) candidate equi-join. This is
    * the scale path when EXACT near-dup semantics are required; MinHash-
    * LSH remains the cheaper approximate alternative. */
  def prefixFilteredPairs(df: DataFrame, idCol: String, groupCol: String,
      textCol: String, tau: Double): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau must be in (0, 1] (got $tau)")
    // not spread — same bounded-slice measurement as [[pairCounts]]
    // (q_neardup_prefix 1.1 s → 2.1 s with the repartition)
    val d = df.select(col(idCol).as("id"), col(groupCol).as("grp"),
      tokens(col(textCol)).as("toks"))
    // global rarity order, ties broken by the token itself (total order —
    // both the prefix construction and the lemma need determinism)
    val dfreq = d.select(col("grp"), explode(col("toks")).as("w"))
      .groupBy("grp", "w").agg(count(lit(1)).as("df"))
    val ranked = d.select(col("id"), col("grp"), explode(col("toks")).as("w"))
      .join(dfreq, Seq("grp", "w"))
      .groupBy("id", "grp")
      .agg(array_sort(collect_list(struct(col("df"), col("w")))).as("ordered"))
      .select(col("id"), col("grp"),
        expr("transform(ordered, e -> e.w)").as("toks"),
        size(col("ordered")).as("nt"))
    // α = ceil(τ·|A|) computed with a downward epsilon: float error can
    // push an exact boundary (0.8 × 25) a hair above its integer, and a
    // too-large α means a too-SHORT prefix — missed pairs, broken
    // exactness. The epsilon can only lengthen the prefix (extra
    // candidates, never missed ones).
    val prefixed = ranked.withColumn("plen",
      (col("nt") - ceil(col("nt") * tau - lit(1e-9)) + 1).cast("int"))
    val pre = prefixed.select(col("id"), col("grp"),
      explode(expr("slice(toks, 1, plen)")).as("w"))
    val a = pre.select(col("id").as("da"), col("grp"), col("w"))
    val b = pre.select(col("id").as("db"), col("grp").as("grp2"),
      col("w").as("w2"))
    val cands = a.join(b, col("grp") === col("grp2") && col("w") === col("w2") &&
        col("da") < col("db"))
      .select("da", "db").distinct()
    verifyPairsByHashedTokens(cands,
      ranked.select(col("id"), col("toks")), tau)
  }

  /** Shared exact-verification stage for candidate (da, db) pairs: each
    * doc's distinct token set is hashed to int64 ONCE (per document, not
    * per pair), deduped (64-bit collisions must not desync the array
    * against the set size) and sorted; a pair's |∩| is then a
    * zero-allocation two-pointer merge (graft_intersect_size_sorted).
    * The earlier per-pair HashSet form allocated ~1 KB of boxed garbage
    * per candidate — at millions of candidates per task that GC churn,
    * not the compares, dominated wall-clock. Jaccard over the hashed sets
    * equals token Jaccard unless two distinct tokens collide in 64 bits
    * (P ≈ vocab²/2⁶⁴ — negligible wherever exact verification is sane).
    * Single source of truth for [[lshVerifiedPairs]] and
    * [[prefixFilteredPairs]]. */
  private def verifyPairsByHashedTokens(cands: DataFrame, docs: DataFrame,
      tau: Double): DataFrame =
    verifyPairsByTokenIndex(cands,
      docs.select(col("id"),
          array_sort(array_distinct(transform(col("toks"), w => xxhash64(w))))
            .as("th"))
        .withColumn("nt", size(col("th"))),
      tau)

  /** Verification against a PRE-BUILT token-hash index (id, th, nt) — the
    * persisted-index form of [[verifyPairsByHashedTokens]]: at scale the
    * corpus side's sorted hash arrays are written once at ingest
    * ([[tokenHashIndex]]) and read back here, so verification never
    * re-tokenizes old documents. */
  private def verifyPairsByTokenIndex(cands: DataFrame, index: DataFrame,
      tau: Double): DataFrame = {
    val inter = graft.functions.VectorFunctions.intersectSizeSorted(col("ta"), col("tb"))
    cands
      .join(index.select(col("id").as("da"), col("th").as("ta"), col("nt").as("na")), "da")
      .join(index.select(col("id").as("db"), col("th").as("tb"), col("nt").as("nb")), "db")
      .select(col("da"), col("db"),
        (inter / (col("na") + col("nb") - inter).cast("double")).as("jac"))
      .filter(col("jac") >= tau)
  }

  /** The persistable verification-side index: one (idCol, th, nt) row per
    * doc, th = sorted distinct int64 token hashes. Written once per ingest
    * batch next to the [[lshBands]] index; [[incrementalLshVerifiedPairs]]'s
    * indexed overload verifies candidates against these rows without ever
    * re-tokenizing corpus documents. Not spread, like
    * [[minHashSignature]]: it feeds write-only index builds too. */
  def tokenHashIndex(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
        array_sort(array_distinct(transform(tokens(col(textCol)),
          w => xxhash64(w)))).as("th"))
      .withColumn("nt", size(col("th")))

  /** Build-or-reuse the PERSISTED near-dup index ([[lshBands]] rows
    * partitioned by band_id + [[tokenHashIndex]] rows) at `dir`,
    * concurrency-safe: the index is written to a process-unique sibling
    * scratch directory and ATOMICALLY renamed into place, so a reader can
    * never observe a half-written index and two builders racing the same
    * `dir` both succeed — the loser's rename fails on the existing
    * destination and its scratch is discarded (its content is identical
    * by determinism). `dir` existing ⇒ the index under it is COMPLETE;
    * no READY marker is needed (the marker-then-data protocol this
    * replaces could be observed between the two writes). Returns the
    * (bands, tokens) frames read back from the index. */
  def ensureLshIndex(corpus: DataFrame, idCol: String, textCol: String,
      numHashes: Int, bands: Int, dir: String): (DataFrame, DataFrame) = {
    val spark = corpus.sparkSession
    val target = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(target)) {
      val tmp = target.resolveSibling(target.getFileName.toString +
        s"_build_${ProcessHandle.current().pid()}_${buildSeq.incrementAndGet()}")
      writeLshIndex(lshBands(corpus, idCol, textCol, numHashes, bands),
        tokenHashIndex(corpus, idCol, textCol), tmp.toString, "overwrite")
      try java.nio.file.Files.move(tmp, target,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        // another builder renamed first: its index is complete and
        // identical (deterministic build); ours is redundant scratch.
        // rename(2)'s EEXIST/ENOTEMPTY surfaces as a plain
        // FileSystemException ("Directory not empty"), not the typed
        // DirectoryNotEmptyException — so the benign/real distinction is
        // the target's existence, not the exception class
        case _: java.nio.file.FileSystemException
            if java.nio.file.Files.exists(target) =>
          graft.sources.Layout.deleteRecursively(tmp)
      }
    }
    (spark.read.parquet(s"$dir/bands"), spark.read.parquet(s"$dir/tokens"))
  }

  // in-process uniquifier for concurrent ensureLshIndex scratch dirs
  // (cross-process uniqueness comes from the pid in the name)
  private val buildSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** The persisted near-dup index layout: [[lshBands]] rows under
    * `dir/bands` partitioned by band_id, [[tokenHashIndex]] rows under
    * `dir/tokens`. Both writes get a CONDITIONAL rebalance (guide §6
    * output sizing, r15 verdict #1): when the input exceeds one advisory
    * partition the AQE rebalance — keyed by band_id for the partitioned
    * write, so files stay bounded per band — splits to advisory-sized
    * files; below that the whole index fits one partition and the
    * shuffle would cost more than the few small files it merges
    * (measured: the unconditional hint regressed q_corpus_index_probe 20%
    * in r15). Pass unspread frames: an index write has no heavy consumer
    * to feed. */
  def writeLshIndex(bands: DataFrame, tokens: DataFrame, dir: String,
      mode: String): Unit = {
    Spread.rebalanceForWrite(bands, "band_id")
      .write.mode(mode).partitionBy("band_id").parquet(s"$dir/bands")
    Spread.rebalanceForWrite(tokens).write.mode(mode).parquet(s"$dir/tokens")
  }

  /** The composed scale path: MinHash-LSH candidate generation followed by
    * exact token-Jaccard verification of only those candidates. Sub-quadratic
    * end to end — the pair space is the LSH buckets' (the S-curve prunes
    * low-similarity pairs before any token join), and the verify stage
    * ([[verifyPairsByHashedTokens]]) is two equi-joins on doc id attaching
    * each doc's sorted int64-hashed token set plus, per pair, the
    * two-pointer merge count `graft_intersect_size_sorted`. This is the
    * form to run on a full corpus; exact
    * [[jaccardPairs]] over everything is for small groups or `maxDf`-capped
    * token sets. Returns (da, db, jac) with jac ≥ tau. */
  def lshVerifiedPairs(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, bands: Int, tau: Double): DataFrame = {
    val cands = lshCandidatePairs(df, idCol, textCol, numHashes, bands)
    verifyPairsByHashedTokens(cands,
      df.select(col(idCol).as("id"), tokens(col(textCol)).as("toks")), tau)
  }

  /** The consecutive `width`-token passages of a text, in order; the tail
    * passage may be shorter and an empty text is one empty passage. The
    * text is split once per row (see [[wordGrams]]). */
  private[operators] def passages(text: Column, width: Int): Column = {
    require(width >= 1, s"passage width must be >= 1 (got $width)")
    let(split(text, " ")) { ws =>
      val nchunks = greatest(ceil(size(ws).cast("double") / width).cast("int"), lit(1))
      transform(sequence(lit(0), nchunks - lit(1)),
        i => array_join(slice(ws, i * width + lit(1), lit(width)), " "))
    }
  }

  /** Passage-level exact dedup (the CCNet / Lee et al. 2022 move):
    * documents are cut into DISJOINT `width`-token passages; any passage
    * whose exact content occurs in more than `maxDf` distinct documents is
    * boilerplate (headers, footers, license blurbs, templated spans) and is
    * dropped from every document; the survivors are stitched back in
    * original order. Complements doc-level near-dup: near-dup keeps or
    * drops whole documents, this removes the repeated SPANS that survive
    * inside otherwise-unique documents.
    *
    * Scale shape (100 TB): no pair join anywhere — one shuffle to count
    * per-passage document frequency (partial-agg combinable), then the
    * corpus streams once against the hot-passage set and regroups by doc.
    * No broadcast hint on the hot set: boilerplate is usually a tiny
    * fraction (AQE will broadcast it) but is corpus-dependent — a
    * template-heavy corpus should fall back to a shuffle join, not OOM
    * the driver (same reasoning as [[decontaminate]]).
    *
    * Returns (idCol, text = cleaned doc, kept_passages, dropped_passages);
    * a fully-boilerplate doc survives as an empty string, so the caller
    * decides whether to drop it. */
  def dropRepeatedPassages(df: DataFrame, idCol: String, textCol: String,
      width: Int, maxDf: Long): DataFrame = {
    val chunks = Spread.auto(df).select(col(idCol).as("id"),
      posexplode(passages(col(textCol), width)).as(Seq("pos", "chunk")))
    val hot = chunks.groupBy("chunk").agg(countDistinct("id").as("df"))
      .filter(col("df") > maxDf)
      .select(col("chunk"), lit(true).as("__hot"))
    chunks.join(hot, Seq("chunk"), "left")
      .groupBy("id")
      .agg(
        array_sort(collect_list(when(col("__hot").isNull,
          struct(col("pos"), col("chunk"))))).as("kept"),
        sum(when(col("__hot").isNotNull, 1L).otherwise(0L)).as("dropped_passages"))
      .select(col("id").as(idCol),
        expr("array_join(transform(kept, e -> e.chunk), ' ')").as(textCol),
        size(col("kept")).cast("bigint").as("kept_passages"),
        col("dropped_passages"))
  }

  /** Incremental (delta) near-dup: match a batch of NEW documents against
    * an already-ingested corpus and against each other, without ever
    * re-pairing old×old — the production mode at 100 TB, where the corpus
    * is static and a daily increment arrives.
    *
    * Shape: the delta's band rows are joined against corpus∪delta band
    * rows, so every emitted pair touches at least one new doc; old docs
    * pay only the (band_id, bv) index probe, never a new signature or a
    * mutual pair join. At scale `corpus`'s band rows come from the
    * persisted [[lshBands]] index (and the verify stage's token hashes
    * from a sibling token-hash index), making the per-batch cost
    * O(|delta| + matched candidates) instead of O(|corpus|).
    *
    * Precondition: ids are disjoint across the two inputs (they share one
    * id space — an id in both would pair with itself). Returns
    * (da, db, jac) with jac ≥ tau, da < db, at least one side new;
    * identical in content to filtering [[lshVerifiedPairs]] of the unioned
    * corpus down to delta-touching pairs. */
  def incrementalLshVerifiedPairs(corpus: DataFrame, delta: DataFrame,
      idCol: String, textCol: String, numHashes: Int, bands: Int,
      tau: Double): DataFrame = {
    // In-memory convenience form: derives both index sides in-plan. Note
    // the delta is tokenized twice (band probe + verification) and its
    // band rows are referenced twice (probe side and unioned index), so
    // without a persist Spark recomputes the delta's signatures per
    // reference — the delta is small by definition, so this costs ~2×
    // delta-sized narrow work, never corpus-sized. The production path is
    // the indexed overload below, fed from parquet written by [[lshBands]]
    // / [[tokenHashIndex]], where nothing corpus-sized is ever recomputed.
    // Both corpus index sides feed the pair join, so the corpus is spread
    // once for both (the indexed overload spreads the delta).
    val spread = Spread.auto(corpus)
    incrementalLshVerifiedPairs(
      lshBands(spread, idCol, textCol, numHashes, bands),
      tokenHashIndex(spread, idCol, textCol),
      delta, idCol, textCol, numHashes, bands, tau)
  }

  /** Indexed (production) form of [[incrementalLshVerifiedPairs]]: the
    * corpus side arrives as the two PERSISTED index tables —
    * `corpusBands` = (idCol, band_id, bv) rows written by [[lshBands]]
    * (partitioned by band_id at ingest) and `corpusTokens` = (idCol, th,
    * nt) rows written by [[tokenHashIndex]]. Per-batch work is then
    * O(|delta| + matched candidates): old docs pay only the index probe
    * and the candidate-id verification joins; no signature, band hash, or
    * token hash of a corpus document is ever recomputed. */
  def incrementalLshVerifiedPairs(corpusBands: DataFrame,
      corpusTokens: DataFrame, delta: DataFrame,
      idCol: String, textCol: String, numHashes: Int, bands: Int,
      tau: Double): DataFrame = {
    val spread = Spread.auto(delta)
    val deltaBands = lshBands(spread, idCol, textCol, numHashes, bands)
    val probe = deltaBands.select(col(idCol).as("nid"), col("band_id"), col("bv"))
    val index = corpusBands.select(col(idCol), col("band_id"), col("bv"))
      .union(deltaBands.select(col(idCol), col("band_id"), col("bv")))
      .select(col(idCol).as("oid"), col("band_id").as("band_id2"), col("bv").as("bv2"))
    val cands = probe.join(index,
        col("band_id") === col("band_id2") && col("bv") === col("bv2") &&
          col("nid") =!= col("oid"))
      .select(least(col("nid"), col("oid")).as("da"),
        greatest(col("nid"), col("oid")).as("db"))
      .distinct()
    val idx = corpusTokens.select(col(idCol).as("id"), col("th"), col("nt"))
      .union(tokenHashIndex(spread, idCol, textCol)
        .select(col(idCol).as("id"), col("th"), col("nt")))
    verifyPairsByTokenIndex(cands, idx, tau)
  }

  /** 16-bit SimHash over distinct tokens: token hash = first 60 bits of
    * md5 (portable hex→int), bit b of the signature set iff the +1/−1 vote
    * sum at bit b is positive. Returns (idCol, sig). */
  def simHash16(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = Spread.auto(df).select(col(idCol),
        explode(tokens(col(textCol))).as("w"))
      .withColumn("h", expr("CAST(conv(substr(md5(w), 1, 15), 16, 10) AS BIGINT)"))
    val votes = (0 until 16).map { b =>
      sum(when(expr(s"(h div ${1L << b}) % 2") === 1, 1).otherwise(-1)).as(s"s$b")
    }
    tok.groupBy(col(idCol))
      .agg(votes.head, votes.tail: _*)
      .select(col(idCol),
        (0 until 16).map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(0L))
          .reduce(_ + _).as("sig"))
  }

  /** (idCol, p, h): md5 of every `k`-token sliding window — the shared
    * windowing of [[duplicateSpans]] and [[removeDuplicateWindows]], in
    * one place so the two Lee-et-al companions can never disagree on
    * what a window is. */
  private def windowHashes(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    Spread.auto(df).select(col(idCol), split(col(textCol), " ").as("ws"))
      .where(size(col("ws")) >= k)
      .select(col(idCol), posexplode(expr(
        s"transform(sequence(0, size(ws) - $k), p -> " +
          s"md5(array_join(slice(ws, p + 1, $k), ' ')))"))
        .as(Seq("p", "h")))

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    * SIGMOD'03 — the MOSS algorithm): hash every `k`-token window, then
    * from each run of `w` consecutive window hashes select the MINIMUM —
    * the selected set is the document's fingerprint. Guarantees: every
    * match of length ≥ k + w − 1 tokens between two documents shares at
    * least one selected fingerprint (detection), and the density of
    * selected hashes is ~2/(w+1) (compression) — the principled way to
    * subsample content hashes without losing long matches, vs naive
    * "every j-th hash" which alignment shifts defeat.
    *
    * Shape: the k-gram hashing is [[windowHashes]] (shared with the Lee
    * et al. span family, so "window" means the same thing everywhere);
    * the w-window min is a per-document ROWS frame — partition
    * cardinality = corpus size, the scale-safe window shape. Hashes are
    * the library's portable 60-bit md5 ints, so an oracle can rebuild the
    * selection exactly. Returns distinct (idCol, fp). */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int): DataFrame = {
    require(k > 0 && w > 0, s"need positive window sizes (got k=$k w=$w)")
    val hv = windowHashes(df, idCol, textCol, k)
      .select(col(idCol), col("p"),
        expr("CAST(conv(substr(h, 1, 15), 16, 10) AS BIGINT)").as("hv"))
    // frame = this window-start and the w−1 following; count < w marks the
    // ragged tail frames (not full winnowing windows), which are dropped
    val frame = Window.partitionBy(idCol).orderBy("p").rowsBetween(0, w - 1)
    hv.select(col(idCol), min("hv").over(frame).as("fp"),
        count(lit(1)).over(frame).as("cw"))
      .where(col("cw") === w)
      .select(col(idCol), col("fp")).distinct()
  }

  /** Duplicate text SPANS at arbitrary alignment (the exact-substring
    * dedup of Lee et al., "Deduplicating Training Data Makes Language
    * Models Better", ACL 2022 — there via a suffix array; here the
    * Spark-shaped equivalent): hash every `k`-token sliding window, keep
    * windows whose hash occurs more than once in the corpus (including
    * within one document), and merge each document's overlapping-or-
    * touching duplicated windows into MAXIMAL spans. Complements
    * [[dropRepeatedPassages]] (delimiter-aligned passages) and the Jaccard
    * near-dup family (whole-document similarity): this finds the
    * verbatim 8-gram-and-longer repeats wherever they start.
    *
    * Scale shape: every window is hashed once and shuffled once by hash;
    * its occurrence count is a window aggregate over the hash partition,
    * not a duplicate-hash set joined back (that shape hashes every window
    * twice). The span merge is a per-DOCUMENT window (partition
    * cardinality = corpus size — the q_keywords shape). Trade-off: all
    * windows cross the hash shuffle, where the join-back shape broadcast
    * only the small duplicate set at small scale, and one very frequent
    * hash lands in one window partition, which spills. Returns
    * (idCol, sp, ln): span start token offset and token length. */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val byDoc = Window.partitionBy(idCol).orderBy("p")
    windowHashes(df, idCol, textCol, k)
      .select(col(idCol), col("p"), count(lit(1)).over(Window.partitionBy("h")).as("n"))
      .where(col("n") > 1)
      // a window at p extends coverage to p + k; the next duplicated
      // window starts a NEW span only if it begins past that coverage
      .withColumn("brk",
        when(lag("p", 1).over(byDoc).isNull ||
          col("p") > lag("p", 1).over(byDoc) + k, 1).otherwise(0))
      .withColumn("sid", sum("brk").over(byDoc))
      .groupBy(col(idCol), col("sid"))
      .agg(min("p").as("sp"), (max("p") + k - min("p")).as("ln"))
      .select(col(idCol), col("sp"), col("ln"))
  }

  /** REMOVAL companion of [[duplicateSpans]] (the rest of the Lee et al.
    * recipe): for each duplicated `k`-token window hash, the KEEPER is
    * the corpus-minimal occurrence (smallest (doc, position) — encoded
    * as one integer key so both engines compare identically); every
    * occurrence in OTHER documents is cut, and each document's text is
    * rebuilt without the tokens its cut windows cover. The keeper
    * document keeps its text whole (within-doc repeats survive — one
    * copy per hash is the contract, and it lives there).
    *
    * Scale shape: as in [[duplicateSpans]], one hash pass and one hash
    * shuffle, with the count and the keeper as window aggregates over the
    * hash partition; then each doc's cut set joins back by id and the
    * rebuild is NARROW (the index-aware `transform` drops covered tokens
    * in one pass). Returns every input row with `clean` (rebuilt text)
    * alongside the original columns. */
  def removeDuplicateWindows(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val byHash = Window.partitionBy("h")
    // one integer orders (doc, p) lexicographically. The encoding needs
    // p < 100000 and 0 <= id <= (Long.MaxValue - 99999)/100000 (the bound
    // must leave headroom for the largest position: id*100000 + 99999 has
    // to fit int64, so Long.MaxValue/100000 alone is one too high — ids at
    // that edge with p >= 75808 would wrap and could elect a wrong keeper;
    // int ids are widened before multiplying) — violated assumptions RAISE
    // rather than silently electing a keeper that holds no occurrence;
    // integer div, not `/` (double division loses exactness past 2^53)
    val maxId = (Long.MaxValue - 99999L) / 100000
    val key = expr(s"min(IF(p >= 100000 OR $idCol < 0 OR $idCol > ${maxId}L, " +
      s"CAST(raise_error('removeDuplicateWindows: keeper encoding " +
      s"needs 0 <= $idCol <= ${maxId} and token position < 100000') AS BIGINT), " +
      s"CAST($idCol AS BIGINT) * 100000 + p))")
    val cuts = windowHashes(df, idCol, textCol, k)
      .select(col(idCol), col("p"), count(lit(1)).over(byHash).as("n"),
        key.over(byHash).as("kmin"))
      .where(col("n") > 1 && col(idCol) =!= expr("kmin div 100000"))
      .groupBy(idCol).agg(collect_set(col("p")).as("__cut"))
    df.join(cuts, Seq(idCol), "left")
      .withColumn("clean",
        when(col("__cut").isNull, col(textCol)).otherwise(expr(
          s"array_join(filter(transform(split($textCol, ' '), (tok, i) -> " +
            s"IF(exists(__cut, p -> i >= p AND i < p + $k), NULL, tok)), " +
            "t -> t IS NOT NULL), ' ')")))
      .drop("__cut")
  }
}
