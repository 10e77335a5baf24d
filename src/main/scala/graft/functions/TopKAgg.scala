package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** One scored entry of a [[TopKAgg]] buffer. */
final case class Scored(score: Double, id: Long)

/** Mergeable bounded top-k as a typed [[Aggregator]]: each buffer holds at
  * most k (score, id) entries ordered by (score DESC, id ASC — the id
  * tie-break makes results deterministic under quantized scores).
  *
  * Why this beats the window form (`row_number() OVER (PARTITION BY g
  * ORDER BY s DESC) <= k`) at scale: the window plan shuffles EVERY row of
  * every group and sorts whole partitions before discarding all but k; the
  * aggregator is partial-aggregable, so each map task keeps only k entries
  * per group and the shuffle carries k·|groups| rows, independent of input
  * size. At 100 TB with k=5 that's the difference between shuffling the
  * corpus and shuffling kilobytes. Same result set — the window spelling
  * stays as the ANSI oracle.
  */
class TopKAgg(k: Int)
    extends Aggregator[Scored, Array[Scored], Array[Scored]] {
  require(k > 0, s"k must be positive (got $k)")

  // (score DESC, id ASC): returns true when a ranks strictly before b
  private def before(a: Scored, b: Scored): Boolean =
    a.score > b.score || (a.score == b.score && a.id < b.id)

  override def zero: Array[Scored] = Array.empty

  override def reduce(buf: Array[Scored], x: Scored): Array[Scored] =
    if (buf.length == k && !before(x, buf(k - 1))) buf // below the bar
    else {
      // insertion into a ≤k sorted array: O(k) copy, no allocation churn
      // beyond the one result array — k is small by contract
      val n = math.min(buf.length + 1, k)
      val out = new Array[Scored](n)
      var i = 0
      var placed = false
      var j = 0
      while (j < n) {
        if (!placed && (i >= buf.length || before(x, buf(i)))) {
          out(j) = x; placed = true
        } else { out(j) = buf(i); i += 1 }
        j += 1
      }
      out
    }

  override def merge(x: Array[Scored], y: Array[Scored]): Array[Scored] = {
    val n = math.min(x.length + y.length, k)
    val out = new Array[Scored](n)
    var i = 0
    var j = 0
    var o = 0
    while (o < n) {
      out(o) =
        if (j >= y.length || (i < x.length && before(x(i), y(j)))) {
          val v = x(i); i += 1; v
        } else { val v = y(j); j += 1; v }
      o += 1
    }
    out
  }

  override def finish(r: Array[Scored]): Array[Scored] = r
  override def bufferEncoder: Encoder[Array[Scored]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Scored]]()
  override def outputEncoder: Encoder[Array[Scored]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Scored]]()
}
