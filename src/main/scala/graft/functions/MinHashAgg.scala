package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Mergeable MinHash sketch as a typed [[Aggregator]]: k independent
  * min-hashes of a token set, combinable across partitions, blocks, and
  * micro-batches (the sketch-reuse path of SURVEY §4 — a DataSet's
  * signature can be maintained incrementally as new blocks accumulate,
  * without re-reading old ones).
  *
  * Hash family: h_i(w) = (a_i · poly(w) + b_i) mod p over a 61-bit Mersenne
  * prime, with poly a 31-base rolling hash of the UTF-8 bytes — portable,
  * allocation-free, and defined entirely here (no engine hash dependence).
  *
  * Estimate: J(A,B) ≈ |{i : sig_A(i) = sig_B(i)}| / k.
  */
class MinHashAgg(k: Int) extends Aggregator[String, Array[Long], Array[Long]] {
  private val P = (1L << 61) - 1

  private def mix(i: Int): (Long, Long) = {
    // splitmix64-derived per-hash coefficients, deterministic in i
    var z = i.toLong * 0x9E3779B97F4A7C15L + 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    val a = (z ^ (z >>> 31)) & (P - 1) | 1L
    var y = (i + 0x55).toLong * 0x94D049BB133111EBL + 0x2545F4914F6CDD1DL
    y = (y ^ (y >>> 29)) * 0x94D049BB133111EBL
    val b = (y ^ (y >>> 32)) % P
    (a, if (b < 0) b + P else b)
  }

  private val coeffs: Array[(Long, Long)] = Array.tabulate(k)(mix)

  private def poly(w: String): Long = {
    var h = 7L
    var i = 0
    while (i < w.length) { h = (h * 31 + w.charAt(i)) % P; i += 1 }
    h
  }

  override def zero: Array[Long] = Array.fill(k)(Long.MaxValue)

  override def reduce(sig: Array[Long], token: String): Array[Long] = {
    val pw = poly(token)
    var i = 0
    while (i < k) {
      val (a, b) = coeffs(i)
      // (a*pw + b) mod P without overflow: a,pw < 2^61; use Math.multiplyHigh-free
      // path via BigInt-free mulmod (128-bit emulation).
      val h = mulModP(a, pw, b)
      if (h < sig(i)) sig(i) = h
      i += 1
    }
    sig
  }

  private def mulModP(a: Long, x: Long, b: Long): Long = {
    // (a*x + b) mod P with P = 2^61-1, using 128-bit split arithmetic
    val hi = Math.multiplyHigh(a, x)
    val lo = a * x
    // fold 128-bit value mod 2^61-1: value = hi*2^64 + lo
    var r = (lo & P) + ((lo >>> 61) | (hi << 3)) + (hi >>> 58)
    r = (r & P) + (r >>> 61)
    r = r + (b % P)
    r = (r & P) + (r >>> 61)
    if (r >= P) r - P else r
  }

  override def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
    var i = 0
    while (i < k) { if (y(i) < x(i)) x(i) = y(i); i += 1 }
    x
  }

  override def finish(sig: Array[Long]): Array[Long] = sig
  override def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
}

object MinHashAgg {
  /** Estimated Jaccard similarity from two signatures. */
  def estimate(a: Array[Long], b: Array[Long]): Double = {
    require(a.length == b.length)
    a.zip(b).count { case (x, y) => x == y }.toDouble / a.length
  }
}

/** Keyed variant for per-document aggregation: input rows are
  * (docId, token); the id rides in the group key, the token feeds the
  * sketch. Same hash family and merge as [[MinHashAgg]], so per-block
  * signatures fold into batch signatures exactly (the incremental
  * signature-maintenance path — see graft.modules.CorpusModule). */
final class MinHashDocAgg(k: Int)
    extends Aggregator[(Long, String), Array[Long], Array[Long]] {
  private val inner = new MinHashAgg(k)
  override def zero: Array[Long] = inner.zero
  override def reduce(b: Array[Long], a: (Long, String)): Array[Long] =
    inner.reduce(b, a._2)
  override def merge(x: Array[Long], y: Array[Long]): Array[Long] =
    inner.merge(x, y)
  override def finish(r: Array[Long]): Array[Long] = inner.finish(r)
  override def bufferEncoder: Encoder[Array[Long]] = inner.bufferEncoder
  override def outputEncoder: Encoder[Array[Long]] = inner.outputEncoder
}
