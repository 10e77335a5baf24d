package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** One candidate of a [[MisraGriesAgg]] summary: a term and its LOWER
  * BOUND count (true count ∈ [lb, lb + n/(k+1)]). */
final case class TermLb(term: String, lb: Long)

/** Misra–Gries frequent-items sketch as a mergeable typed [[Aggregator]]
  * (Misra & Gries 1982; merge rule of Berinde et al., PODS'09): the buffer
  * holds at most k counters; a new term either increments its counter,
  * claims a free slot, or decrements EVERY counter by one (dropping
  * zeros). Merging sums two buffers counter-wise, then subtracts the
  * (k+1)-th largest total from all and keeps the positive remainder.
  *
  * Guarantee (the reason the two-pass exact heavy-hitters plan is
  * correct): after summarizing n items, every term with true frequency
  * > n/(k+1) is PRESENT in the buffer, and each kept counter
  * undercounts by at most n/(k+1). So with threshold t ≥ n/(k+1) the
  * sketch's key set is a superset of the true ≥t-frequent terms, and an
  * exact recount of just those ≤k candidates (second pass, broadcast
  * semi-join) yields the exact answer — no full-vocabulary shuffle.
  *
  * Scale shape: map tasks fold rows into k-entry buffers (partial
  * aggregation), the shuffle carries one ≤k-entry map per task, and the
  * final merge is driver-light. This is the sketch companion to the
  * exact mergeable [[TopKAgg]]: TopKAgg bounds WHICH ROWS survive per
  * group; MisraGries bounds VOCABULARY state when distinct terms are
  * unbounded and only the frequent tail matters. */
class MisraGriesAgg(k: Int)
    extends Aggregator[String, Map[String, Long], Array[TermLb]] {
  require(k > 0, s"k must be positive (got $k)")

  override def zero: Map[String, Long] = Map.empty

  override def reduce(m: Map[String, Long], w: String): Map[String, Long] =
    m.get(w) match {
      case Some(c)            => m.updated(w, c + 1)
      case None if m.size < k => m.updated(w, 1L)
      case None =>
        // the classic all-decrement step: one unit of every counter is
        // "spent" against the unmatched arrival, preserving the invariant
        // that total decrements ≤ n/(k+1) per surviving term
        m.collect { case (t, c) if c > 1 => t -> (c - 1) }
    }

  override def merge(a: Map[String, Long],
      b: Map[String, Long]): Map[String, Long] = {
    val s = b.foldLeft(a) { case (acc, (t, c)) =>
      acc.updated(t, acc.getOrElse(t, 0L) + c)
    }
    if (s.size <= k) s
    else {
      // subtract the (k+1)-th largest summed count from everything — the
      // merge-time analogue of the decrement step (Berinde et al. §3)
      val cut = s.valuesIterator.toArray.sortWith(_ > _).apply(k)
      s.collect { case (t, c) if c > cut => t -> (c - cut) }
    }
  }

  override def finish(m: Map[String, Long]): Array[TermLb] =
    m.toArray.map { case (t, c) => TermLb(t, c) }
      .sortBy(e => (-e.lb, e.term))

  override def bufferEncoder: Encoder[Map[String, Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
  override def outputEncoder: Encoder[Array[TermLb]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[TermLb]]()
}
