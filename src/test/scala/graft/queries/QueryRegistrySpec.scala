package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.{Bench, SparkEntry, Verify}

/** The registry's contract, without a session: the driver maps derived
  * from it, the bench classes it declares and perfbench's catalog sample
  * are pinned at their values from before the registry existed, when the
  * same facts lived in five name-keyed tables. */
class QueryRegistrySpec extends AnyFunSuite {
  private val names = SparkEntry.queries.keys.toSeq.sorted

  private def sha256(rows: Seq[String]): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(rows.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  test("driver maps: 297 queries, 295 oracles, oracle SQL byte-identical") {
    assert(names.size == 297)
    assert(SparkEntry.oracleSql.size == 295)
    val rows = names.map(n => n + "\t" + SparkEntry.oracleSql.getOrElse(n, "<none>"))
    assert(sha256(rows) ==
      "f06f35e0202bed233af019c0b9426bf7ad3d82d292d9766ab698f67eb109c54c")
  }

  test("bench facts: class, solo and reps per query unchanged") {
    val rows = names.map(n =>
      s"$n\t${Bench.queryClass(n)}\t${Bench.solo(n)}\t${Bench.repsFor(n)}")
    assert(sha256(rows) ==
      "b98265f6d7ded2bc0f0f1fc1f4636c7b9a08e98ba50b9dcfc36d66ec28d449a6")
  }

  test("perfbench catalog sample: default class with an oracle, every 38th") {
    // the filter perfbench's Catalog workload applies
    val cat = names.filter(n =>
      Bench.queryClass(n) == "default" && SparkEntry.oracleSql.contains(n))
    assert(cat.indices.filter(_ % 38 == 0).map(cat) == Seq("q_abtest",
      "q_chunk", "q_dup_spans", "q_inverted_index", "q_mix", "q_retention",
      "q_text_stats"))
  }

  test("a name registered twice is rejected") {
    val d = Registry.byName("q_agg_group")
    val e = intercept[IllegalArgumentException](
      Registry.index(Seq(d, Registry.byName("q_scan"), d)))
    assert(e.getMessage.contains("q_agg_group"))
    assert(Registry.index(Registry.all).size == Registry.all.size)
  }

  test("Verify's name filter rejects a name that is not registered") {
    assert(Verify.selected(Seq("q_scan", "q_agg_group")) ==
      Set("q_scan", "q_agg_group"))
    assert(Verify.selected(Nil).isEmpty)
    val e = intercept[IllegalArgumentException](
      Verify.selected(Seq("q_scan", "q_agg_gruop")))
    assert(e.getMessage.contains("q_agg_gruop"))
  }
}
