package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** Text-analysis operators for training-data curation: token counting,
  * language identification, and quality scoring. All are narrow per-row
  * transformations (no shuffle) built from codegen'd functions — they
  * stream through 100 TB at scan speed.
  */
object TextAnalysis {

  /** English-signal words used by the ratio heuristics (drawn from the
    * corpus vocabulary; a real deployment plugs in per-language lists). */
  val stopwords: Seq[String] = Seq("the", "a")

  /** Whitespace token count, `size(split(text, " "))`, from the codegen'd
    * gram-count kernel at n = 1. */
  def wsTokenCount(text: Column): Column = VectorFunctions.gramCount(text, 1)

  /** How many whitespace tokens are [[stopwords]] (codegen'd kernel). */
  def stopwordCount(text: Column): Column =
    VectorFunctions.stopwordCount(text, stopwords)

  /** Regex token count (BPE-ish word-piece pattern). */
  def regexTokenCount(text: Column): Column =
    regexp_count(text, lit("[a-z]+"))

  /** Fraction of whitespace tokens that are stopwords — an integer ratio,
    * so the value is bit-identical across engines. */
  def stopwordRatio(textCol: String): Column =
    stopwordCount(col(textCol)) / wsTokenCount(col(textCol)).cast("double")

  /** N-gram-heuristic language id: stopword-ratio thresholding (the corpus
    * vocabulary is shared across langs, so this is the mechanical shape of
    * the classifier, not a tuned model). */
  def languageId(textCol: String, threshold: Double = 0.05): Column =
    when(stopwordRatio(textCol) >= threshold, "en").otherwise("und")

  /** Composite quality score in [0,1]: length, stopword, and token-count
    * components, each saturating. Quantized via floor on the binary double
    * (not decimal round) so the value is bit-identical across engines. */
  def qualityScore(textCol: String, nCharsCol: String): Column = {
    val raw =
      least(col(nCharsCol) / 400.0, lit(1.0)) * 0.5 +
        stopwordRatio(textCol) * 0.3 +
        least(wsTokenCount(col(textCol)) / 80.0, lit(1.0)) * 0.2
    floor(raw * 10000 + 0.5) / 10000
  }

  /** Per-document fingerprints: full-content md5 plus a leading 3-token
    * shingle hash (the rolling-hash prefix fingerprint). */
  def fingerprints(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      substring(md5(col(textCol)), 1, 16).as("fp"),
      substring(md5(array_join(slice(split(col(textCol), " "), 1, 3), " ")), 1, 16).as("sh"))

  /** Corpus-level TF-IDF term ranking: score(t) = tf(t) · ln(N/df(t)) with
    * tf the total term count and df the per-term document frequency. One
    * token shuffle for the (tf, df) aggregate; the single-row corpus count
    * is broadcast into the plan (no driver collect). Ordering is on the
    * ROUNDED score (tie-broken by term) so ranking is engine-portable. */
  def tfIdfTopTerms(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val tok = df.select(col(idCol).as("id"),
        explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "")
    val stats = tok.groupBy("w")
      .agg(count(lit(1)).as("tf"), countDistinct(col("id")).as("df"))
    val nDocs = df.agg(count(lit(1)).cast("double").as("nd"))
    stats.crossJoin(broadcast(nDocs))
      .select(col("w"), round(col("tf") * log(col("nd") / col("df")), 4).as("score"))
      .orderBy(col("score").desc, col("w"))
      .limit(n)
  }

  /** Per-document top-k TF-IDF keywords — the keyword-extraction /
    * doc-tagging step of a curation pipeline. Corpus df counts collapse to
    * a vocab-sized table equi-joined back onto the per-doc tf rows — NOT
    * hint-broadcast: a web-scale vocabulary (URLs, typos, numbers) is
    * unbounded, so the join is left to AQE, which broadcasts exactly when
    * the built side is actually small. Ranking
    * is a row_number window partitioned BY DOCUMENT, which is the
    * scale-safe window shape (partition cardinality = corpus size, width =
    * distinct terms per doc — the opposite of the few-partition funnel
    * q_quota's old per-lang window had). Scores are quantized to 4 dp
    * BEFORE ranking so the (score DESC, term ASC) order ties identically
    * in any engine. Returns (idCol, r, w, score). */
  def keywords(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val tok = df.select(col(idCol).as("id"),
        explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "")
    val tf = tok.groupBy("id", "w").agg(count(lit(1)).as("tf"))
    val dfreq = tok.select("id", "w").distinct()
      .groupBy("w").agg(count(lit(1)).as("df"))
    val nDocs = df.agg(count(lit(1)).cast("double").as("nd"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("score").desc, col("w"))
    tf.join(dfreq, "w").crossJoin(broadcast(nDocs))
      .select(col("id"), col("w"),
        round(col("tf") * log(col("nd") / col("df")), 4).as("score"))
      .withColumn("r", row_number().over(win).cast("int"))
      .where(col("r") <= k)
      .select(col("id").as(idCol), col("r"), col("w"), col("score"))
  }

  /** BM25 relevance scores of every document against a literal query —
    * full-text ranked retrieval (Robertson-Spärck Jones probabilistic
    * model with the Lucene `+1` idf so scores stay positive):
    *
    *   score(d, q) = Σ_{t∈q} ln(1 + (N − df(t) + ½)/(df(t) + ½)) ·
    *                 tf(t,d)·(k1+1) / (tf(t,d) + k1·(1 − b + b·|d|/avgdl))
    *
    * Scale shape (100 TB, the train-once/score-many pattern of
    * `q_bigram_lm`): per-term tf and doc length are NARROW per-row
    * expressions (`filter` over the token array — no explode, no token
    * shuffle); the corpus statistics (N, Σdl, per-query-term df) are ONE
    * partial-agg pass collapsing to a single broadcast row; scoring is a
    * second narrow scan against that row. The corpus never shuffles —
    * the only exchanges are the scalar-stats singleton and the final
    * top-k TakeOrdered (plan-asserted in PlanSpec).
    *
    * Portability: tf/dl/df/N are exact integers, avgdl one double
    * division, and every float step is spelled identically in the DuckDB
    * oracle (ln parity pinned by q_tfidf); the returned score is
    * floor-quantized to 4 dp like `qualityScore`. */
  def bm25Scores(df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25Scores needs at least one query term")
    val ws = split(col(textCol), " ")
    val withTf = Spread.auto(df).select(
      col(idCol) +: size(ws).as("dl") +:
        queryTerms.zipWithIndex.map { case (t, i) =>
          size(filter(ws, w => w === lit(t))).as(s"tf$i")
        }: _*)
    val aggs = count(lit(1)).as("n") +: sum("dl").as("sdl") +:
      queryTerms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
    val stats = withTf.agg(aggs.head, aggs.tail: _*)
    val avgdl = col("sdl").cast("double") / col("n")
    val raw = queryTerms.indices.map { i =>
      val idf = log(lit(1.0) +
        (col("n") - col(s"df$i") + lit(0.5)) / (col(s"df$i") + lit(0.5)))
      idf * (col(s"tf$i") * lit(k1 + 1)) /
        (col(s"tf$i") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / avgdl))
    }.reduce(_ + _)
    withTf.crossJoin(broadcast(stats))
      .select(col(idCol), (floor(raw * 10000 + lit(0.5)) / 10000.0).as("score"))
  }

  /** PII scrub regexes — kept RE2-compatible (no backrefs/lookaround) so
    * the DuckDB oracle and any RE2-based engine reproduce them exactly. */
  val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val phoneRe = "\\d{3}-\\d{3}-\\d{4}"

  /** Redact emails and phone numbers with typed placeholders — the
    * pre-training PII scrub pass: `regexp_replace` of [[emailRe]] by
    * `<EMAIL>`, then of [[phoneRe]] by `<PHONE>`, as one codegen'd pass
    * over the text's bytes. Narrow per-row work: scan speed, no shuffle. */
  def scrubPii(text: Column): Column = VectorFunctions.scrubPii(text)

  /** How many emails / phones a row contains (audit counters for the
    * scrub pass). */
  def piiCounts(text: Column): (Column, Column) =
    (regexp_count(text, lit(emailRe)), regexp_count(text, lit(phoneRe)))

  /** Duplicate word-n-gram fraction: 1 − distinct(n-grams)/total(n-grams),
    * the Gopher-style within-document repetition signal (high value ⇒
    * boilerplate/looping text). Floor-quantized to 4 dp on the binary
    * double so the score is bit-identical across engines. Narrow per-row
    * expression — no shuffle; both counts are codegen'd kernels over the
    * text's bytes (the grams of [[Dedup.wordGrams]], never built as
    * strings). A null text is one null gram, which repeats nothing: 0.0. */
  def repetitionRatio(text: Column, n: Int = 2): Column = {
    val ratio = lit(1.0) - VectorFunctions.distinctGramCount(text, n) /
      VectorFunctions.gramCount(text, n).cast("double")
    coalesce(floor(ratio * 10000 + 0.5) / 10000, lit(0.0))
  }

  /** Gopher-style rule filter (Rae et al. 2021, "Scaling Language Models:
    * Methods, Analysis & Insights from Training Gopher", Appendix A1.1):
    * per-doc word count, mean word length, alphabetic-word fraction, and
    * stopword count, each against a published-rule-shaped threshold; `pass`
    * is their conjunction. All integer counts or integer-ratio doubles —
    * bit-identical across engines — and narrow per-row work: filtering
    * 100 TB with these rules runs at scan speed. Thresholds are
    * constructor-visible because the published ones (50 ≤ words ≤ 100k,
    * 3 ≤ mwl ≤ 10, …) are corpus-calibrated. */
  def gopherRules(textCol: String, minWords: Int = 50, maxWords: Int = 100000,
      minMwl: Double = 3.0, maxMwl: Double = 10.0, minAlphaFrac: Double = 0.8,
      minStopwords: Int = 2): Seq[Column] = {
    val ws = split(col(textCol), " ")
    val nw = size(ws)
    val mwl = aggregate(transform(ws, w => length(w)), lit(0),
      (acc, x) => acc + x).cast("double") / nw.cast("double")
    val alphaFrac = size(filter(ws, w => w.rlike("^[a-z]+$"))) /
      nw.cast("double")
    val nStop = stopwordCount(col(textCol))
    val pass = nw.between(minWords, maxWords) &&
      mwl.between(minMwl, maxMwl) && alphaFrac >= minAlphaFrac &&
      nStop >= minStopwords
    Seq(nw.as("nw"), (floor(mwl * 10000 + 0.5) / 10000).as("mwl"),
      (floor(alphaFrac * 10000 + 0.5) / 10000).as("af"),
      nStop.as("nstop"), pass.as("pass"))
  }

  /** Content-defined chunking (the LBFS/rsync boundary trick — Muthitacharoen
    * et al., SOSP 2001): a chunk boundary falls wherever the hash of the
    * `window`-char sliding window ≡ 0 mod `modulus`, so boundaries are a
    * function of LOCAL content — insert one char and only the chunks
    * around the edit change, unlike fixed-stride chunking where every
    * downstream chunk shifts. That stability is what makes CDC the
    * standard pre-chunker for storage/corpus dedup. Expected chunk length
    * ≈ `modulus` chars. Hashing is the library's portable md5 convention
    * (a production rolling Rabin/gear hash is O(1) per position; md5 here
    * keeps the boundary decision engine-portable and oracle-able).
    * Narrow per-row work: chunking 100 TB runs at scan speed.
    * Returns (idCol, i, h, l): chunk index, md5-prefix fingerprint, length. */
  def cdcChunkRows(df: DataFrame, idCol: String, textCol: String,
      window: Int = 8, modulus: Int = 64): DataFrame = {
    val bounds =
      s"filter(sequence($window, length($textCol)), i -> " +
        s"CAST(conv(substr(md5(substr($textCol, i - $window + 1, $window)), " +
        s"1, 15), 16, 10) AS BIGINT) % $modulus = 0)"
    df.select(col(idCol), col(textCol),
        expr(s"concat(array(0), $bounds, IF(size($bounds) > 0 AND " +
          s"element_at($bounds, -1) = length($textCol), " +
          s"array(), array(length($textCol))))").as("bb"))
      .select(col(idCol), posexplode(expr(
        s"filter(zip_with(slice(bb, 1, size(bb) - 1), " +
          s"slice(bb, 2, size(bb) - 1), " +
          s"(a, b) -> substr($textCol, a + 1, b - a)), c -> c != '')"))
        .as(Seq("i", "c")))
      .select(col(idCol), col("i"),
        substring(md5(col("c")), 1, 16).as("h"), length(col("c")).as("l"))
  }

  /** One BPE training scan (Sennrich, Haddow, Birch, "Neural Machine
    * Translation of Rare Words with Subword Units", ACL 2016): the
    * frequency of every ADJACENT symbol pair across the corpus, ranked —
    * the statistic whose argmax is the next merge in byte-pair-encoding
    * tokenizer induction. Character-level here (the first BPE iteration,
    * where every symbol is still one char); iterated training re-runs the
    * scan on re-segmented text. One narrow explode + one pair-key shuffle
    * — counting pairs over 100 TB is exactly a word-count. Ties rank by
    * pair text so the ordering is engine-portable. */
  def bpeMergeCandidates(df: DataFrame, textCol: String, k: Int): DataFrame =
    Spread.auto(df).select(explode(split(col(textCol), " ")).as("w"))
      .where(length(col("w")) >= 2) // sequence(1, len-1) needs len ≥ 2
      .select(explode(
        expr("transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))"))
        .as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("pair"))
      .limit(k)

  /** The BPE APPLY step (the tokenizer-side complement of
    * [[bpeMergeCandidates]]): segment each word to characters, then
    * rewrite adjacent "x y" → "xy" once per merge, in rank order — one
    * left-to-right non-overlapping replace-all pass per merge, the
    * deterministic single-pass reading of Sennrich et al.'s apply loop
    * (literal `replace` has identical semantics in Spark and DuckDB,
    * which is what keeps the segmentation oracle-able). Returns the
    * array of segmented words, each a space-separated token string.
    * Narrow per-row expression — tokenizing 100 TB is scan-speed work,
    * with the merge table baked into the plan as literals. */
  /** Char-spaced seed segmentation of a word `w` (" l o w e r ") — the
    * single starting point for BPE apply AND train, so the two can never
    * diverge on how a word becomes symbols. */
  private val bpeSeed = "concat(' ', trim(regexp_replace(w, '(.)', '$1 ')), ' ')"

  def bpeSegment(textCol: String, merges: Seq[(String, String)]): Column = {
    require(merges.forall { case (x, y) =>
      (x + y).forall(c => c.isLetterOrDigit) },
      "merge symbols must be alphanumeric (they are spliced into SQL text)")
    val body = merges.foldLeft(bpeSeed) {
      case (acc, (x, y)) => s"replace($acc, ' $x $y ', ' $x$y ')"
    }
    expr(s"transform(split($textCol, ' '), w -> trim($body))")
  }

  /** Tokens per document under a BPE merge list: character count vs
    * post-merge segment count (each merge that binds saves one token). */
  def bpeTokenCounts(textCol: String, merges: Seq[(String, String)]): (Column, Column) = {
    val segs = bpeSegment(textCol, merges)
    val nChar = length(regexp_replace(col(textCol), " ", ""))
    val nBpe = aggregate(
      segs, lit(0), (acc, s) => acc + size(split(s, " ")))
    (nChar, nBpe)
  }

  /** Iterated BPE TRAINING (Sennrich et al. ACL'16, the full loop):
    * `iters` rounds of count-adjacent-pairs → take the argmax merge
    * (ties → lexicographic, so the vocabulary is engine-deterministic) →
    * re-segment the working corpus with it. Each round is ONE pair-count
    * aggregate (word-count shape) plus a narrow replace; the trained
    * state — the merge list itself — is a handful of driver-side rows,
    * exactly like KMeans.train's centroids. 100 TB cost: `iters` sequential
    * scans, each at shuffle-of-pair-counts scale, state O(iters).
    * Returns one row per learned merge: (rank, x, y, c). */
  def bpeTrain(df: DataFrame, textCol: String, iters: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    var seg = Spread.auto(df).select(explode(split(col(textCol), " ")).as("w"))
      .where(col("w") =!= "")
      .select(expr(bpeSeed).as("s"))
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (i <- 1 to iters) {
      val top = seg.select(split(trim(col("s")), " ").as("t"))
        .select(explode(expr(
          "zip_with(slice(t, 1, greatest(size(t) - 1, 0)), " +
            "slice(t, 2, greatest(size(t) - 1, 0)), " +
            "(a, b) -> struct(a AS x, b AS y))")).as("p"))
        .groupBy("p.x", "p.y").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("x"), col("y"))
        .limit(1).collect()
      top.headOption.foreach { r =>
        val (x, y, c) = (r.getString(0), r.getString(1), r.getLong(2))
        merges += ((i, x, y, c))
        // the merge strings travel as literal Columns, never spliced into
        // SQL text — any corpus symbol (quotes, punctuation) is safe
        seg = seg.select(call_function("replace", col("s"),
          lit(s" $x $y "), lit(s" $x$y ")).as("s"))
      }
    }
    merges.result().toDF("rank", "x", "y", "c")
  }

  /** Linear text-quality classifier scoring — the mechanical shape of the
    * fastText-style quality filter every LLM data pipeline runs (CCNet,
    * Wenzek et al. LREC 2020; classifier architecture of Joulin et al.
    * 2017): featurize each document at scan speed, dot the feature vector
    * with literal weights (a trained model's coefficients, broadcast into
    * the plan), squash with a sigmoid. The features are exact integer
    * ratios (word count, mean word length, stopword ratio, distinct-word
    * ratio), so the only libm steps are ln/exp — quantized to 4 dp like
    * q_bigram_lm's cross-entropy for engine portability. Scoring 100 TB
    * is a narrow per-row scan: no shuffle, no state, weights in the plan. */
  def classifierScore(textCol: String, bias: Double, wLnWc: Double,
      wMwl: Double, wStop: Double, wUniq: Double): Column = {
    val ws = split(col(textCol), " ")
    val nw = size(ws).cast("double")
    val mwl = aggregate(transform(ws, w => length(w)), lit(0),
      (acc, x) => acc + x).cast("double") / nw
    val stop = stopwordCount(col(textCol)) / nw
    val uniq = size(array_distinct(ws)).cast("double") / nw
    val z = lit(bias) + lit(wLnWc) * log(nw) + lit(wMwl) * mwl +
      lit(wStop) * stop + lit(wUniq) * uniq
    floor(lit(1.0) / (lit(1.0) + exp(-z)) * 10000 + 0.5) / 10000
  }

  /** Per-document token Shannon entropy in nats — the diversity signal
    * that separates natural text from boilerplate/spam (a page of one
    * repeated token has H = 0; n distinct tokens give H = ln n). Uses
    * H = ln(n) − (1/n)·Σ cᵢ·ln(cᵢ) over per-token counts cᵢ.
    *
    * Cross-engine determinism: a float SUM's value depends on partition
    * order, so each cᵢ·ln(cᵢ) term is floor-quantized to an INTEGER
    * (×10⁶) first and the per-document sum runs in exact int64 — order-
    * independent — with only the final fixed-order expression in floats
    * (then 4-dp floor-quantized). The q_drift/q_anomaly playbook applied
    * to an aggregate with unbounded groups. Shape: two word-count-style
    * partial-agg shuffles ((doc, token) then doc); no windows, no joins.
    * Returns (idCol, n_tok, ent). */
  def tokenEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame =
    Spread.auto(df).select(col(idCol), explode(split(col(textCol), " ")).as("w"))
      .where(col("w") =!= "")
      .groupBy(idCol, "w").agg(count(lit(1)).as("c"))
      .groupBy(idCol)
      .agg(sum("c").as("n_tok"),
        sum(floor(col("c") * log(col("c")) * 1e6).cast("long")).as("s6"))
      .select(col(idCol), col("n_tok"),
        (floor((log(col("n_tok")) - col("s6") / 1e6 / col("n_tok")) * 1e4) /
          1e4).as("ent"))

  /** Pointwise mutual information of token CO-OCCURRENCE (document-level
    * contexts, binary per-doc occurrence — the collocation/topic-pair
    * primitive of corpus analysis): PMI(a,b) = ln(n_ab·N / (n_a·n_b))
    * over documents, for token pairs drawn from the `topM` most-frequent
    * tokens with at least `minPairs` co-occurrences.
    *
    * The topM restriction is the scale contract, not a shortcut: raw
    * per-doc token pairing is O(len²) per document and vocabulary² in
    * pair space; bounding the pair domain to a broadcast-joined topM
    * vocabulary caps pair work at O(topM²) per doc and keeps the pair
    * aggregate's key space fixed no matter how the corpus grows. Doc
    * frequencies ride along from the same (doc, token) distinct pass —
    * the corpus tokenizes exactly once. */
  def cooccurPmi(df: DataFrame, idCol: String, textCol: String,
      topM: Int, minPairs: Long): DataFrame = {
    require(topM > 1 && minPairs >= 1,
      s"need topM > 1, minPairs >= 1 (got $topM, $minPairs)")
    val docTok = df.select(col(idCol).as("d"),
        explode(split(col(textCol), " ")).as("w"))
      .where(col("w") =!= "").distinct()
    val top = docTok.groupBy("w").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("w")).limit(topM)
    val dt = docTok.join(broadcast(top), "w")
    val nDocs = df.agg(countDistinct(col(idCol)).as("nd"))
    val pairs = dt.select(col("d"), col("w").as("wa"), col("df").as("na"))
      .join(dt.select(col("d"), col("w").as("wb"), col("df").as("nb")), "d")
      .where(col("wa") < col("wb"))
      .groupBy("wa", "na", "wb", "nb").agg(count(lit(1)).as("nab"))
      .where(col("nab") >= minPairs)
    pairs.crossJoin(broadcast(nDocs))
      .select(col("wa"), col("wb"), col("nab"),
        // cast BEFORE multiplying: na·nb (and nab·nd) in long arithmetic
        // would wrap past ~3e9 docs — the corpus sizes this operator's
        // scale contract claims; double products are safe (and exact
        // whenever they fit 2^53, i.e. at any testable scale)
        round(log(col("nab").cast("double") * col("nd") /
          (col("na").cast("double") * col("nb"))), 4).as("pmi"))
  }

  /** Fixed-size character chunks with overlap (context-window prep):
    * chunk i covers [1 + i·stride, … + size); the last chunks are shorter.
    * Narrow per-row expression — chunking 100 TB is scan-speed work. */
  def chunks(text: Column, size: Int, stride: Int): Column = {
    require(stride > 0 && size >= stride,
      s"need 0 < stride <= size for covering chunks (got size=$size stride=$stride)")
    transform(
      sequence(lit(1), greatest(length(text), lit(1)), lit(stride)),
      i => text.substr(i, lit(size)))
  }
}
