package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality constraint checks as Catalyst plans — the dbt-test /
  * expectations layer of a pipeline, declared so each check is a filter,
  * aggregate, or anti-join the optimizer plans like any query: nothing
  * collects to the driver, checks compose into one pass where possible,
  * and a 100 TB validation run costs what the underlying scans cost.
  *
  * Each check returns a one-row (check, violations) frame; [[report]]
  * unions them — a tiny driver-side plan of counts, NOT the violating
  * rows themselves (at scale, dump violating-row samples separately with
  * `.limit(n)` on the same predicates).
  */
object Validate {

  /** Rows where `c` is null. */
  def notNull(df: DataFrame, c: String): DataFrame =
    one(s"not_null($c)", df.filter(col(c).isNull))

  /** Rows violating a boolean expectation. */
  def expect(df: DataFrame, name: String, predicate: Column): DataFrame =
    one(s"expect($name)", df.filter(!coalesce(predicate, lit(false))))

  /** Keys appearing more than once (duplicate-key violations, counted as
    * the number of EXTRA rows beyond one per key). */
  def uniqueKey(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__n"))
      .agg(coalesce(sum(col("__n") - 1), lit(0L))
        .as("violations"))
      .select(lit(s"unique(${keys.mkString(",")})").as("check"),
        col("violations"))

  /** Child rows whose `childKey` has no match in `parent.parentKey`
    * (referential-integrity violations; null child keys don't count —
    * pair with [[notNull]] when they must). */
  def refIntegrity(child: DataFrame, childKey: String,
      parent: DataFrame, parentKey: String): DataFrame =
    one(s"ref($childKey->$parentKey)",
      child.filter(col(childKey).isNotNull)
        .join(parent.select(col(parentKey).as(childKey)).distinct(),
          Seq(childKey), "left_anti"))

  private def one(name: String, violating: DataFrame): DataFrame =
    violating.agg(count(lit(1)).as("violations"))
      .select(lit(name).as("check"), col("violations"))

  /** Union the per-check count frames into one (check, violations)
    * report, ordered by check name. */
  def report(checks: Seq[DataFrame]): DataFrame = {
    require(checks.nonEmpty, "report needs at least one check")
    checks.reduce(_.unionByName(_)).orderBy("check")
  }

  /** Per-slice KL divergence of a categorical distribution against the
    * whole corpus — the drift monitor of a training pipeline (is source X's
    * language mix diverging from the corpus mix?). KL(p_slice ‖ p_corpus)
    * = Σ_c p(c) · ln(p(c)/q(c)), categories with zero slice mass
    * contribute 0.
    *
    * `cats` is the EXPLICIT category list, and the sum is the left-assoc
    * fold over it in list order — not a SUM() aggregate over category
    * rows. That is deliberate: aggregate summation order is
    * engine-/partitioning-dependent, so a float SUM can differ in the
    * last ulp between runs or engines, while a fixed-order expression
    * tree reproduces bit-identically (the q_drift oracle spells the same
    * chain and matches with no tolerance). Counts are exact integers via
    * conditional aggregation — one partial-agg pass per slice plus one
    * broadcast corpus row; nothing else shuffles. Categories outside
    * `cats` are ignored (add a sentinel bucket to `cats` to track them). */
  def klDrift(df: DataFrame, sliceCol: String, catCol: String,
      cats: Seq[String]): DataFrame = {
    require(cats.nonEmpty, "klDrift needs >= 1 category")
    require(cats.distinct == cats, "klDrift categories must be distinct")
    def cnt(c: String) = sum(when(col(catCol) === c, 1L).otherwise(0L))
    val slice = df.groupBy(col(sliceCol))
      .agg(count(lit(1)).as("n"), cats.map(c => cnt(c).as(s"c_$c")): _*)
    val corpus = df.agg(count(lit(1)).as("nn"),
      cats.map(c => cnt(c).as(s"g_$c")): _*)
    def term(c: String) = {
      val p = col(s"c_$c").cast("double") / col("n")
      val q = col(s"g_$c").cast("double") / col("nn")
      when(col(s"c_$c") > 0, p * log(p / q)).otherwise(lit(0.0))
    }
    slice.crossJoin(broadcast(corpus))
      .select(col(sliceCol), cats.map(term).reduce(_ + _).as("kl"))
  }

  /** Per-group z-score outliers of an INTEGRAL value column — the
    * distribution-shift / anomaly screen of a quality pipeline (a doc
    * whose length sits far outside its language×source cohort is suspect).
    *
    * Moments are EXACT integer sums (n, Σv, Σv²) — one partial-agg pass
    * collapsing to |groups| rows broadcast back onto the scan, so the data
    * itself never shuffles and the plan is the same train-once/score-many
    * shape as the text scorers. mean/variance/z are then derived with a
    * FIXED association, each double op correctly rounded from exact
    * integer inputs — any engine spelling the same expressions reproduces
    * the doubles bit-for-bit (the q_anomaly oracle does, with no
    * tolerance). Sample variance (n−1); zero-variance groups are excluded
    * up front — their members are definitionally non-outliers, and ±∞/NaN
    * z-scores would otherwise leak engine-specific NaN-ordering semantics
    * into the filter. Appends a `z` column, keeps rows with |z| > cut. */
  def zOutliers(df: DataFrame, valueCol: String, cut: Double,
      groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "zOutliers needs >= 1 group column")
    require(cut > 0, s"cut must be positive (got $cut)")
    val v = col(valueCol).cast("long")
    // moments accumulate in decimal(38,0): sum(v*v) over a big group wraps
    // a LongType sum silently (Spark's non-ANSI sum), which would corrupt
    // the variance while the oracle's HUGEINT sum stays exact. The decimal
    // square is taken on a decimal operand so the per-row product cannot
    // wrap either; decimal→double rounds once, same as the oracle's cast.
    val vd = v.cast("decimal(19,0)")
    val stats = df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("__n"), count(vd).as("__nv"), sum(vd).as("__s"),
        sum(vd * vd).as("__ss"))
      .where(col("__n") > 1)
      // overflow fails LOUDLY: sum(decimal(38,0)) past 38 digits yields
      // NULL under non-ANSI Spark, and a NULL moment would silently drop
      // the whole group at the __var filter (all its rows become
      // non-outliers) while an exact-arithmetic oracle keeps it — a silent
      // cross-engine divergence. A group with values present must have
      // non-NULL moments, or the job stops here.
      .withColumn("__ss",
        when(col("__nv") > 0 && (col("__s").isNull || col("__ss").isNull),
          raise_error(lit("zOutliers: moment sum overflowed decimal(38,0)" +
            " — rescale the value column"))).otherwise(col("__ss")))
      .select(groupCols.map(col) :+
        (col("__s").cast("double") / col("__n")).as("__mean") :+
        ((col("__ss").cast("double") -
          col("__s").cast("double") * col("__s").cast("double") / col("__n"))
          / (col("__n") - 1)).as("__var"): _*)
      .where(col("__var") > 0)
    df.join(broadcast(stats), groupCols)
      .withColumn("z", (v.cast("double") - col("__mean")) / sqrt(col("__var")))
      .where(abs(col("z")) > cut)
      .drop("__mean", "__var")
  }

  /** Winsorization — clip `valCol` to its per-group exact interpolated
    * [lo, hi] percentiles (the standard outlier-robust cleaning pass;
    * Dixon & Tukey's trimming family). Same shape as [[zOutliers]]: one
    * tiny per-group quantile aggregate broadcast back onto a narrow
    * clip — the data never shuffles. Exact percentile needs each group's
    * sorted values on one task; at 100 TB swap in approx_percentile for
    * the quantile table and keep the identical clip stage.
    *
    * A VALUE REWRITE, never a filter: every input row survives. NULL
    * group keys don't equi-join their quantile row and NULL values must
    * stay NULL (Spark's least/greatest SKIP null arguments rather than
    * propagate, which would silently rewrite NULL to the p-hi bound) —
    * both cases pass through unclipped. */
  def winsorize(df: DataFrame, groupCol: String, valCol: String,
      lo: Double, hi: Double): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo < hi, s"need 0 <= lo < hi <= 1 (got $lo, $hi)")
    val q = df.groupBy(groupCol)
      .agg(expr(s"percentile($valCol, $lo)").as("__plo"),
        expr(s"percentile($valCol, $hi)").as("__phi"))
    df.join(broadcast(q), Seq(groupCol), "left")
      .withColumn(valCol,
        when(col(valCol).isNull || col("__plo").isNull, col(valCol))
          .otherwise(greatest(least(col(valCol), col("__phi")), col("__plo"))))
      .drop("__plo", "__phi")
  }

  /** Jensen–Shannon divergence between the TOKEN distributions of slice
    * pairs — the symmetric, bounded ([0, ln 2]) drift measure completing
    * the family next to [[klDrift]] (asymmetric, unbounded) and the KS
    * test (q_ks, distribution-free). JSD(P,Q) = ½KL(P‖M) + ½KL(Q‖M)
    * with M = (P+Q)/2; a token absent from one side contributes only
    * the other side's term (p ln 2 in the limit), so unlike raw KL no
    * smoothing is needed — the reason JSD is the standard corpus-vs-
    * corpus distance in data-mixing work.
    *
    * Shape: one tokenize+count pass shared by all pairs, then per pair
    * ONE vocabulary-sized full-outer equi-join on the token (each side's
    * total attached via a broadcast 1-row frame) and a partial-aggregable
    * sum — |pairs| small by contract (explicit list), vocabulary-bounded
    * work per pair, the corpus itself never re-shuffles. */
  def jsDivergencePairs(df: DataFrame, sliceCol: String, textCol: String,
      pairs: Seq[(String, String)]): DataFrame = {
    require(pairs.nonEmpty, "jsDivergencePairs needs >= 1 slice pair")
    require(pairs.forall(p => p._1 != p._2), "pair slices must differ")
    val slices = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    // ONE materialized tokenize+count: each pair's plan references the
    // count frame twice (ca, cb) and the totals twice more, and the
    // per-branch slice filters push below the aggregate into the scan —
    // distinct plans, so Catalyst's exchange reuse can't kick in. Without
    // the cut, 6 pairs = 12+ full corpus tokenize scans; with it, exactly
    // one (the Scaladoc's "one tokenize+count pass shared by all pairs",
    // now made true physically — at 100 TB the difference is 11 corpus
    // scans). Deliberately NOT spread: the single tokenize is cheap
    // relative to the repartition it would pay (A/B: 0.63 s vs 1.03 s).
    // Checkpoint.cut, not raw localCheckpoint: honors the
    // graft.checkpoint.reliable cluster posture (r15 ADVICE — an
    // executor-local-only cut here would silently lose durability on
    // preemptible fleets while the rest of the repo upgrades)
    val cnt = Checkpoint.cut(df.filter(col(sliceCol).isin(slices: _*))
      .select(col(sliceCol).as("sl"), explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("sl", "w").agg(count(lit(1)).as("c")))
    val tot = cnt.groupBy("sl").agg(sum("c").as("n"))
    pairs.map { case (a, b) =>
      val ca = cnt.filter(col("sl") === a).select(col("w"), col("c").as("ca"))
      val cb = cnt.filter(col("sl") === b).select(col("w"), col("c").as("cb"))
      val na = tot.filter(col("sl") === a).select(col("n").as("na"))
      val nb = tot.filter(col("sl") === b).select(col("n").as("nb"))
      val p = coalesce(col("ca"), lit(0L)).cast("double") / col("na")
      val q = coalesce(col("cb"), lit(0L)).cast("double") / col("nb")
      val m = (p + q) / 2
      // each KL term is floor-quantized to integer nano-units BEFORE the
      // distributed sum: a float SUM's value depends on partition order
      // (the tokenEntropy discipline), so the quantized int64 sum is the
      // only spelling that is bit-stable across runs, partitionings, and
      // engines. Terms may be negative (p < m); floor(x·1e9 + 0.5) is
      // the shared round-half-up in both dialects.
      ca.join(cb, Seq("w"), "full_outer")
        .crossJoin(broadcast(na)).crossJoin(broadcast(nb))
        .agg(((sum(when(col("ca").isNotNull,
            floor(p * log(p / m) * 1e9 + 0.5).cast("long")).otherwise(0L)) +
          sum(when(col("cb").isNotNull,
            floor(q * log(q / m) * 1e9 + 0.5).cast("long")).otherwise(0L)))
          .cast("double") / 2e9)
          .as("jsd"))
        .select(lit(a).as("sa"), lit(b).as("sb"),
          // a slice absent from the data (or holding only empty texts)
          // makes the cross-joined agg emit one all-NULL row — RAISE
          // instead of returning a silent NULL divergence (the zOutliers
          // posture: misconfiguration fails loudly)
          when(col("jsd").isNull, raise_error(lit(
            s"jsDivergencePairs: slice '$a' or '$b' has no tokens in " +
              s"column — check the pair list against the data")))
            .otherwise(round(col("jsd"), 4)).as("jsd"))
    }.reduce(_ unionByName _)
  }
}
