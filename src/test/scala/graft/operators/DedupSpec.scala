package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Expression, LambdaFunction, StringSplit}
import org.apache.spark.sql.catalyst.plans.logical.Generate
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "en", "the cat sat on the mat"),
    (2L, "en", "the cat sat on the mat"),          // exact dup of 1
    (3L, "en", "the cat sat on the red mat"),      // near dup of 1
    (4L, "en", "completely different words here"),
    (5L, "fr", "the cat sat on the mat")           // dup text, other group
  ).toDF("doc_id", "lang", "text")

  test("exactGroups groups identical content, keeper = min id") {
    val g = Dedup.exactGroups(docs, "doc_id", "text").collect()
    val byKeeper = g.map(r => r.getAs[Long]("keeper") -> r.getAs[Long]("cnt")).toMap
    assert(byKeeper(1L) == 3L) // docs 1, 2, 5 share text
    assert(g.length == 3)
  }

  test("jaccardPairs finds exact and near dups within a group") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "lang", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((1L, 2L)))      // identical -> jac 1.0
    assert(keys.contains((1L, 3L)))      // near dup
    assert(!keys.exists(p => p._1 == 5L || p._2 == 5L)) // fr not joined to en
    assert(pairs.find(p => (p._1, p._2) == (1L, 2L)).get._3 == 1.0)
  }

  test("wordShingles: contiguous n-token windows; short docs yield one shingle") {
    val d = Seq((1L, "a b c d e f"), (2L, "a b")).toDF("id", "text")
    val m = d.select(col("id"), Dedup.wordShingles(col("text"), 5).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(m(1L) == Seq("a b c d e", "b c d e f"))
    assert(m(2L) == Seq("a b")) // shorter than n: whole doc is the shingle
  }

  test("decontaminate drops exactly the train docs sharing a 5-gram with bench") {
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val train = Seq(
      (1L, "intro text then the quick brown fox jumps stolen verbatim"), // leaked
      (2L, "quick brown fox jumps over"),                                // leaked (exact 5-gram)
      (3L, "the quick brown fox leaps over the lazy dog"),               // CENTER-word edit: every 5-gram differs
      (4L, "completely unrelated content entirely")
    ).toDF("doc_id", "text")
    val clean = Dedup.decontaminate(train, bench, "doc_id", "text", 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(clean == Set(3L, 4L))
  }

  test("ngramJaccardPairs: shingles catch boundary edits token sets miss") {
    val d = Seq(
      (1L, "en", "the catsat mat"),   // word-boundary shifted vs doc 2
      (2L, "en", "the cat sat mat"),
      (3L, "en", "entirely unrelated string")
    ).toDF("doc_id", "lang", "text")
    val tokJac = Dedup.jaccardPairs(d, "doc_id", "lang", "text", 0.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val ngrJac = Dedup.ngramJaccardPairs(d, "doc_id", "lang", "text", 0.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // token Jaccard of (1,2) is low (catsat != cat, sat); shingle Jaccard high
    assert(ngrJac((1L, 2L)) > tokJac((1L, 2L)))
    assert(ngrJac((1L, 2L)) > 0.6)
    assert(ngrJac.getOrElse((1L, 3L), 0.0) < 0.2)
  }

  test("lshCandidatePairs is a superset of identical-content pairs") {
    val cand = Dedup.lshCandidatePairs(docs, "doc_id", "text", 8, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // identical token sets share every band hash
    assert(cand.contains((1L, 2L)) && cand.contains((1L, 5L)) && cand.contains((2L, 5L)))
    assert(!cand.contains((1L, 4L))) // disjoint vocab never collides on all-min bands
  }

  test("jaccardPairs maxDf drops hot tokens and recomputes capped set sizes") {
    val d = Seq(
      (1L, "en", "stop alpha beta"),   // 'stop' appears in all 3 docs
      (2L, "en", "stop alpha gamma"),
      (3L, "en", "stop delta epsilon")
    ).toDF("doc_id", "lang", "text")
    // uncapped: jac(1,2) = |{stop,alpha}| / |{stop,alpha,beta,gamma}| = 0.5
    val full = Dedup.jaccardPairs(d, "doc_id", "lang", "text", 0.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(full((1L, 2L)) == 0.5)
    // maxDf=2 drops 'stop' (df=3): capped sets {alpha,beta} vs {alpha,gamma}
    // → jac = 1/3, and pairs sharing only 'stop' vanish entirely
    val capped = Dedup.jaccardPairs(d, "doc_id", "lang", "text", 0.0, maxDf = Some(2L))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(math.abs(capped((1L, 2L)) - 1.0 / 3.0) < 1e-12)
    assert(!capped.contains((1L, 3L)) && !capped.contains((2L, 3L)))
  }

  test("lshVerifiedPairs: LSH candidates verified by exact Jaccard") {
    val v = Dedup.lshVerifiedPairs(docs, "doc_id", "text", 8, 2, 0.8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // identical docs are always candidates (equal signatures) and verify at 1.0
    assert(v((1L, 2L)) == 1.0 && v((1L, 5L)) == 1.0 && v((2L, 5L)) == 1.0)
    // everything surviving the verify stage genuinely clears tau
    assert(v.values.forall(_ >= 0.8))
    // disjoint-vocab doc never appears
    assert(!v.keys.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("lshCandidatePairs rejects bands that do not divide numHashes") {
    assertThrows[IllegalArgumentException] {
      Dedup.lshCandidatePairs(docs, "doc_id", "text", 8, 3)
    }
  }

  test("simHash16 gives equal signatures for equal token sets, different for disjoint") {
    val sigs = Dedup.simHash16(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L) && sigs(1L) == sigs(5L))
    assert(sigs(1L) != sigs(4L))
    assert(sigs.values.forall(s => s >= 0 && s < (1L << 16)))
  }

  test("dropRepeatedPassages drops cross-doc boilerplate spans, keeps order") {
    // width=2 passages; "legal footer" appears in 3 docs → boilerplate at
    // maxDf=2; "unique alpha"/"unique beta" etc. survive. Doc 4 is ALL
    // boilerplate and must come back as the empty string, not vanish.
    val d = Seq(
      (1L, "unique alpha legal footer more words"),
      (2L, "other stuff legal footer"),
      (3L, "unique beta legal footer tail bit"),
      (4L, "legal footer")
    ).toDF("doc_id", "text")
    val out = Dedup.dropRepeatedPassages(d, "doc_id", "text", 2, 2L)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("text"), r.getAs[Long]("kept_passages"),
          r.getAs[Long]("dropped_passages")))).toMap
    assert(out(1L) == (("unique alpha more words", 2L, 1L)))
    assert(out(2L) == (("other stuff", 1L, 1L)))
    assert(out(3L) == (("unique beta tail bit", 2L, 1L)))
    assert(out(4L) == (("", 0L, 1L))) // fully-boilerplate doc survives empty
    assert(out.size == 4)
  }

  test("dropRepeatedPassages: odd-length tail passage is its own unit") {
    // 5 tokens at width 2 → passages (a b)(c d)(e); the short tail "e" is
    // compared as-is, and a repeated short tail is still boilerplate
    val d = Seq(
      (1L, "a b c d e"), (2L, "x y e"), (3L, "p q e")
    ).toDF("doc_id", "text")
    val out = Dedup.dropRepeatedPassages(d, "doc_id", "text", 2, 2L)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(out(1L) == "a b c d") // tail "e" (df=3) dropped
    assert(out(2L) == "x y")
  }

  // The gram and passage kernels split each text once per row: a split
  // referenced inside a transform lambda is re-evaluated per element,
  // which makes the kernel quadratic in document length.
  private def nodeCount(c: Column)(pf: PartialFunction[Expression, Expression]): Int =
    Seq(("a b c", 5)).toDF("t", "n_chars").select(c).queryExecution.analyzed
      .flatMap(_.expressions).map(_.collect(pf).size).sum
  private def splitCount(c: Column): Int = nodeCount(c) { case s: StringSplit => s }

  test("gram and passage kernels split the text exactly once") {
    val t = col("t")
    assert(splitCount(Dedup.wordGrams(t, 2)) == 1)
    assert(splitCount(Dedup.wordShingles(t, 5)) == 1)
    assert(splitCount(Dedup.passages(t, 8)) == 1)
    // the scores count over the text's bytes: no split, no lambda
    for (c <- Seq(TextAnalysis.repetitionRatio(t, 2), TextAnalysis.qualityScore("t", "n_chars"))) {
      assert(splitCount(c) == 0)
      assert(nodeCount(c) { case l: LambdaFunction => l } == 0)
    }
  }

  // plain-Scala references; Spark's split(t, " ") is Java's split(" ", -1)
  private def refTokens(t: String): Seq[String] = t.split(" ", -1).toSeq
  private def refGrams(t: String, n: Int): Seq[String] =
    if (t == null) Seq(null) else {
      val ws = refTokens(t)
      (0 until math.max(ws.size - (n - 1), 1)).map(i => ws.slice(i, i + n).mkString(" "))
    }
  private def refRatio(t: String, n: Int): Double = {
    val g = refGrams(t, n)
    math.floor((1.0 - g.distinct.size / g.size.toDouble) * 10000 + 0.5) / 10000
  }
  private def refPassages(t: String, w: Int): Seq[String] =
    if (t == null) Seq(null) else {
      val ws = refTokens(t)
      (0 until math.max(math.ceil(ws.size.toDouble / w).toInt, 1))
        .map(i => ws.slice(i * w, i * w + w).mkString(" "))
    }

  private val edgeTexts: Seq[String] = Seq("", null, "solo", "a b c d",
    " lead", "trail ", "a  b", "  x  y  ", "x x y x x y",
    (0 until 200).map(i => s"w${i % 37}").mkString(" "))

  test("wordGrams, wordShingles, repetitionRatio and passages match a plain-Scala reference") {
    val df = edgeTexts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("i", "t")
    for (n <- Seq(1, 2, 5)) {
      val rows = df.orderBy("i").select(Dedup.wordGrams(col("t"), n),
          Dedup.wordShingles(col("t"), n), TextAnalysis.repetitionRatio(col("t"), n),
          Dedup.passages(col("t"), n))
        .collect()
      rows.zip(edgeTexts).foreach { case (r, t) =>
        assert(r.getSeq[String](0) == refGrams(t, n), s"wordGrams n=$n t=$t")
        assert(r.getSeq[String](1) == refGrams(t, n).distinct, s"wordShingles n=$n t=$t")
        assert(r.getDouble(2) == refRatio(t, n), s"repetitionRatio n=$n t=$t")
        assert(r.getSeq[String](3) == refPassages(t, n), s"passages width=$n t=$t")
      }
    }
  }

  test("incrementalLshVerifiedPairs ≡ full run filtered to delta-touching pairs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = ('a' to 'p').map(_.toString)
    val base = (0 until 40).map { i =>
      (i.toLong, Seq.fill(3 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    // duplicated texts straddling the split so old-old, new-old, and
    // new-new high-jac pairs all exist
    val all = (base ++ base.take(15).map { case (id, t) => (id + 100L, t) })
      .toDF("doc_id", "text")
    val delta = all.filter(col("doc_id") % 4 === 0)
    val corpus = all.filter(col("doc_id") % 4 =!= 0)
    def norm(d: org.apache.spark.sql.DataFrame) = d
      .select(col("da"), col("db"), round(col("jac"), 9))
      .as[(Long, Long, Double)].collect().toSet
    val incr = norm(Dedup.incrementalLshVerifiedPairs(
      corpus, delta, "doc_id", "text", 8, 2, 0.6))
    val full = norm(Dedup.lshVerifiedPairs(all, "doc_id", "text", 8, 2, 0.6))
    val expected = full.filter(p => p._1 % 4 == 0 || p._2 % 4 == 0)
    assert(incr === expected)
    // and the delta mode must genuinely exclude old-old pairs
    assert(full.exists(p => p._1 % 4 != 0 && p._2 % 4 != 0),
      "fixture must contain old-old pairs for the exclusion to be meaningful")
    assert(incr.forall(p => p._1 % 4 == 0 || p._2 % 4 == 0))

    // the persisted-index overload must be byte-identical to the
    // in-memory form after a parquet round-trip of the two index tables
    // (band rows partitioned by band_id, exactly as written at ingest)
    val ix = java.nio.file.Files.createTempDirectory("graftix").toString
    Dedup.lshBands(corpus, "doc_id", "text", 8, 2)
      .write.mode("overwrite").partitionBy("band_id").parquet(s"$ix/bands")
    Dedup.tokenHashIndex(corpus, "doc_id", "text")
      .write.mode("overwrite").parquet(s"$ix/tokens")
    val indexed = norm(Dedup.incrementalLshVerifiedPairs(
      spark.read.parquet(s"$ix/bands"), spark.read.parquet(s"$ix/tokens"),
      delta, "doc_id", "text", 8, 2, 0.6))
    assert(indexed === expected)
  }

  test("prefixFilteredPairs ≡ brute-force jaccardPairs (exactness, seeded random)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = ('a' to 'z').map(_.toString)
    // random docs incl. duplicated texts so high-jac pairs exist
    val base = (0 until 60).map { i =>
      (i.toLong, if (i % 3 == 0) "g1" else "g2",
        Seq.fill(4 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val withDups = base ++ base.take(12).map { case (id, g, t) =>
      (id + 100L, g, t + " " + vocab(rnd.nextInt(vocab.size))) }
    val df = withDups.toDF("doc_id", "lang", "text")
    for (tau <- Seq(0.5, 0.8)) {
      def norm(d: org.apache.spark.sql.DataFrame) = d
        .select(col("da"), col("db"), round(col("jac"), 9))
        .as[(Long, Long, Double)].collect().toSet
      val brute = norm(Dedup.jaccardPairs(df, "doc_id", "lang", "text", tau))
      val prefix = norm(Dedup.prefixFilteredPairs(df, "doc_id", "lang", "text", tau))
      assert(prefix === brute, s"tau=$tau")
    }
  }

  test("duplicateSpans finds maximal cross-doc verbatim spans at any alignment") {
    // a 5-token phrase planted mid-doc at DIFFERENT offsets; k=3 windows
    val phrase = "p1 p2 p3 p4 p5"
    val docs = Seq(
      (1L, s"a1 a2 $phrase a3 a4"),          // phrase at tokens 2..6
      (2L, s"b1 b2 b3 b4 $phrase"),          // phrase at tokens 4..8
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8 c9")     // no duplicated window
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(docs, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    // each doc reports ONE maximal span covering exactly the 5 phrase tokens
    assert(spans == Set((1L, 2, 5), (2L, 4, 5)))
  }

  test("removeDuplicateWindows scrubs non-keeper copies, keeps the keeper whole") {
    val phrase = "p1 p2 p3 p4 p5"
    val docs = Seq(
      (1L, s"a1 a2 $phrase a3 a4"),       // keeper of the phrase windows
      (2L, s"b1 b2 b3 b4 $phrase"),       // cross-doc copy -> scrubbed
      (3L, "x1 x2 x3 gap x1 x2 x3"),      // within-doc repeat only -> whole
      (4L, "c1 c2 c3 c4 c5 c6 c7 c8")     // untouched
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicateWindows(docs, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out(1L) == s"a1 a2 $phrase a3 a4") // keeper keeps its copy
    assert(out(2L) == "b1 b2 b3 b4")          // phrase tokens 4..8 cut
    assert(out(3L) == "x1 x2 x3 gap x1 x2 x3")
    assert(out(4L) == "c1 c2 c3 c4 c5 c6 c7 c8")
    // schema: original columns + clean
    assert(Dedup.removeDuplicateWindows(docs, "doc_id", "text", 3)
      .columns.toSeq == Seq("doc_id", "text", "clean"))
  }

  test("removeDuplicateWindows: ids past the encoding bound RAISE, never " +
      "mis-elect a keeper") {
    // id*100000 would wrap int64 for ids > Long.MaxValue/100000 — the
    // guard must fail loudly instead of silently electing a wrong keeper
    val phrase = "p1 p2 p3 p4 p5"
    // the bound leaves headroom for the max position: id*100000 + 99999
    // must fit int64, so Long.MaxValue/100000 itself is already PAST it
    val maxOk = (Long.MaxValue - 99999L) / 100000
    val docs = Seq((maxOk + 1, s"a1 $phrase"), (maxOk + 2, s"b1 $phrase"))
      .toDF("doc_id", "text")
    // raise_error surfaces as SparkRuntimeException (USER_RAISED_EXCEPTION)
    val e = intercept[Exception](
      Dedup.removeDuplicateWindows(docs, "doc_id", "text", 3).collect())
    assert(e.getMessage.contains("keeper encoding"))
    // the bound itself is still fine — and maxOk*100000 + 99999 == an
    // encodable keeper for every legal position
    val ok = Seq((maxOk, s"a1 $phrase"), (1L, s"b1 $phrase"))
      .toDF("doc_id", "text")
    assert(Dedup.removeDuplicateWindows(ok, "doc_id", "text", 3).count() == 2)
  }

  // Each span operator hashes every window once: its optimized plan holds
  // one Generate (the window posexplode). An aggregate joined back onto
  // the window frame would plan the frame, and so the hashing, twice.
  private def generates(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case g: Generate => g }.size

  test("duplicateSpans and removeDuplicateWindows hash each window once") {
    assert(generates(Dedup.duplicateSpans(docs, "doc_id", "text", 3)) == 1)
    assert(generates(Dedup.removeDuplicateWindows(docs, "doc_id", "text", 3)) == 1)
  }

  // plain-Scala references for the span operators, keyed on the window
  // text itself (md5 collisions aside, the same equivalence as its hash)
  private def refWindows(docs: Seq[(Long, String)], k: Int): Seq[(Long, Int, String)] =
    for {
      (id, t) <- docs if t != null
      ws = refTokens(t) if ws.size >= k
      p <- 0 to ws.size - k
    } yield (id, p, ws.slice(p, p + k).mkString(" "))
  private def refSpans(docs: Seq[(Long, String)], k: Int): Set[(Long, Int, Int)] = {
    val win = refWindows(docs, k)
    val n = win.groupBy(_._3).map { case (h, v) => h -> v.size }
    win.filter(w => n(w._3) > 1).groupBy(_._1).toSeq.flatMap { case (id, v) =>
      v.map(_._2).sorted.foldLeft(List.empty[(Int, Int)]) {
        case ((sp, last) :: rest, p) if p <= last + k => (sp, p) :: rest
        case (acc, p) => (p, p) :: acc
      }.map { case (sp, last) => (id, sp, last + k - sp) }
    }.toSet
  }
  private def refScrub(docs: Seq[(Long, String)], k: Int): Map[Long, String] = {
    val win = refWindows(docs, k)
    val byHash = win.groupBy(_._3)
    val keeper = byHash.map { case (h, v) => h -> v.map(w => (w._1, w._2)).min._1 }
    val cuts = win.filter(w => byHash(w._3).size > 1 && w._1 != keeper(w._3))
      .groupBy(_._1).map { case (id, v) => id -> v.map(_._2) }
    docs.map { case (id, t) =>
      id -> cuts.get(id).fold(t) { c =>
        refTokens(t).zipWithIndex.collect {
          case (tok, i) if !c.exists(p => i >= p && i < p + k) => tok
        }.mkString(" ")
      }
    }.toMap
  }

  test("duplicateSpans and removeDuplicateWindows match a plain-Scala reference") {
    val rnd = new scala.util.Random(20220527)
    val vocab = Seq("a", "b", "c", "d", "e", "f", "g")
    val phrase = (1 to 10).map(i => s"p$i")
    def noise(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
    val planted = (0 until 12).map { _ =>
      val from = rnd.nextInt(4)
      (noise(rnd.nextInt(5)) ++ phrase.slice(from, from + 4 + rnd.nextInt(7)) ++
        noise(rnd.nextInt(5))).mkString(" ")
    }
    val p = phrase.mkString(" ")
    val texts = Seq("", null, "solo", "a b",   // empty, null, shorter than k
      p, p,                                     // byte-identical docs
      s"x1 $p x2 $p",                           // within-doc repeat
      s"$p $p",                                 // touching repeats
      "y1 y2 y3 y1 y2 y3 y1 y2 y3 y1 y2 y3") ++ // overlapping repeats
      planted ++ (0 until 30).map(_ => noise(rnd.nextInt(14)).mkString(" "))
    val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong * 3, t) }
    val df = rows.toDF("doc_id", "text")
    for (k <- Seq(1, 3, 8)) {
      val spans = Dedup.duplicateSpans(df, "doc_id", "text", k)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
      assert(spans == refSpans(rows, k), s"duplicateSpans k=$k")
      val clean = Dedup.removeDuplicateWindows(df, "doc_id", "text", k)
        .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
      assert(clean == refScrub(rows, k), s"removeDuplicateWindows k=$k")
    }
  }

  test("containmentPairs catches a subsumed doc that Jaccard misses") {
    val d = Seq(
      (1L, "en", "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16 w17 w18 w19 w20"),
      (2L, "en", "w1 w2 w3 w4"), // fully contained in 1: cont 1.0, jac 0.2
      (3L, "en", "z1 z2 z3 z4")
    ).toDF("doc_id", "lang", "text")
    val cont = Dedup.containmentPairs(d, "doc_id", "lang", "text", 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(cont == Set((1L, 2L, 1.0)))
    assert(Dedup.jaccardPairs(d, "doc_id", "lang", "text", 0.5).count() == 0)
  }

  test("winnowing guarantees a shared fingerprint for long matches") {
    // shared run of k+w-1 = 7 tokens between docs with different context
    val shared = "s1 s2 s3 s4 s5 s6 s7"
    val d = Seq(
      (1L, s"a1 a2 a3 $shared a4 a5"),
      (2L, s"b1 $shared b2 b3 b4 b5"),
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10")
    ).toDF("doc_id", "text")
    val fp = Dedup.winnowFingerprints(d, "doc_id", "text", k = 4, w = 4)
    val byDoc = fp.collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    // detection guarantee: any match of length >= k+w-1 shares a selection
    assert(byDoc(1L).intersect(byDoc(2L)).nonEmpty)
    assert(byDoc(3L).intersect(byDoc(1L)).isEmpty)
    // density: w-windows of a 10-token doc (7 window hashes, 4 frames)
    // select far fewer fingerprints than the 7 raw hashes
    assert(byDoc(3L).size <= 4)
    // deterministic across runs
    val again = Dedup.winnowFingerprints(d, "doc_id", "text", 4, 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(again == fp.collect().map(r => r.getLong(0) -> r.getLong(1)).toSet)
  }

  test("duplicateSpans merges within-doc repeats and adjacent windows") {
    // the same 3-token phrase twice in ONE doc, separated by one token:
    // windows at 0 and 4 -> 4 <= 0 + 3 is false -> two separate spans
    val docs = Seq((1L, "x1 x2 x3 gap x1 x2 x3")).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(docs, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(spans == Set((1L, 0, 3), (1L, 4, 3)))
    // overlapping duplicated windows fuse into one maximal span: the
    // repeat "y1 y2 y3 y4" gives windows 0,1 and 5,6 -> spans of length 4
    val d2 = Seq((2L, "y1 y2 y3 y4 gap y1 y2 y3 y4")).toDF("doc_id", "text")
    val s2 = Dedup.duplicateSpans(d2, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(s2 == Set((2L, 0, 4), (2L, 5, 4)))
  }

  test("ensureLshIndex: concurrent builders race safely (atomic rename, " +
      "no half-written index observable, no scratch leftovers)") {
    val corpus = (1L to 40L)
      .map(i => (i, s"tok${i % 7} tok${i % 5} tok${i % 3} common"))
      .toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("lshix")
    val dir = s"$root/index"
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val counts = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val threads = (1 to 3).map { _ =>
      new Thread(() =>
        try {
          val (b, t) = Dedup.ensureLshIndex(corpus, "doc_id", "text", 8, 2, dir)
          counts.add((b.count(), t.count()))
        } catch { case e: Throwable => errs.add(e) })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, errs)
    // every racer read a COMPLETE index: 2 band rows + 1 token row per doc
    counts.forEach { case (b, t) => assert((b, t) === ((80L, 40L))) }
    // the losers' scratch dirs were discarded — only the index remains
    val leftovers = java.nio.file.Files.list(root).toArray.map(_.toString)
    assert(leftovers.toSeq === Seq(dir), leftovers.toSeq)
    // a later call reuses, never rebuilds: the index tree is untouched
    val before = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .toArray.map(_.toString).sorted.toSeq
    Dedup.ensureLshIndex(corpus, "doc_id", "text", 8, 2, dir)
    val after = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .toArray.map(_.toString).sorted.toSeq
    assert(after === before)
  }

  test("ensureLshIndex never spreads its write-only build: one file per dir") {
    // a single-file parquet corpus is exactly the input Spread.auto fans
    // out to every core (a Seq.toDF corpus never spreads), so a spread
    // left inside either builder would write one file per task
    val root = java.nio.file.Files.createTempDirectory("lshix1")
    (1L to 40L)
      .map(i => (i, s"tok${i % 7} tok${i % 5} tok${i % 3} common"))
      .toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$root/corpus")
    val corpus = spark.read.parquet(s"$root/corpus")
    assert(corpus.rdd.getNumPartitions === 1)
    val dir = s"$root/index"
    Dedup.ensureLshIndex(corpus, "doc_id", "text", 8, 2, dir)
    def dataFiles(d: java.io.File): Seq[String] =
      d.listFiles().map(_.getName).filter(n => n.startsWith("part-") &&
        n.endsWith(".parquet")).toSeq
    assert(dataFiles(new java.io.File(s"$dir/tokens")).size === 1)
    val bandDirs = new java.io.File(s"$dir/bands").listFiles()
      .filter(_.getName.startsWith("band_id=")).toSeq
    assert(bandDirs.map(_.getName).sorted === Seq("band_id=0", "band_id=1"))
    bandDirs.foreach(d => assert(dataFiles(d).size === 1, d))
  }
}
