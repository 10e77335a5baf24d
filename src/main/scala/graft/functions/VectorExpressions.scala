package graft.functions

import scala.reflect.ClassTag

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{lit, typedLit}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType, StringType}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.types.UTF8String

/** The loops behind the graft_* expressions, each written once. Both
  * evaluation paths of an expression call the same method: `nullSafeEval`
  * directly, and the generated code through the static forwarder that
  * scalac emits for a top-level object with no companion class (the way
  * Spark's own expressions call `DateTimeUtils`). A static call with
  * primitive, `ArrayData` and `UTF8String` arguments is one the JIT can
  * inline into the whole-stage loop, and there is no second copy of a
  * kernel, as Java text, to keep in step with the first. */
object VectorKernels {

  /** The class name generated code calls the kernels by. */
  val className: String = getClass.getName.stripSuffix("$")

  /** Per-index float×float product, accumulated in double, index order,
    * over min(|x|, |y|) coordinates. */
  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += (x.getFloat(i) * y.getFloat(i)).toDouble; i += 1 }
    acc
  }

  /** Distinct intersection count of two string arrays, with
    * `array_intersect`'s null handling: one hash set of the right side,
    * one membership sweep of the left. */
  def intersectSize(x: ArrayData, y: ArrayData): Int = {
    val set = new java.util.HashSet[AnyRef]()
    var yNull = false
    var i = 0
    while (i < y.numElements()) {
      if (y.isNullAt(i)) yNull = true else set.add(y.getUTF8String(i))
      i += 1
    }
    var n = 0
    i = 0
    while (i < x.numElements()) {
      // remove-on-hit so duplicate left elements count once (distinct ∩);
      // a null element matches a null element, once — as array_intersect
      if (x.isNullAt(i)) {
        if (yNull) { n += 1; yNull = false }
      } else if (set.remove(x.getUTF8String(i))) n += 1
      i += 1
    }
    n
  }

  /** The two-pointer merge of two ascending long arrays: returns the
    * number of distinct common values and, when `out` is not null, writes
    * them to `out` in ascending order. */
  private def sortedMerge(x: ArrayData, y: ArrayData, out: Array[Long]): Int = {
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0; var n = 0
    while (i < nx && j < ny) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv < yv) i += 1
      else if (xv > yv) j += 1
      else {
        if (out != null) out(n) = xv
        n += 1
        // skip duplicates so each distinct value counts once
        while (i < nx && x.getLong(i) == xv) i += 1
        while (j < ny && y.getLong(j) == xv) j += 1
      }
    }
    n
  }

  def intersectSizeSorted(x: ArrayData, y: ArrayData): Int =
    sortedMerge(x, y, null)

  /** The common values in one right-sized primitive array. */
  def sortedIntersect(x: ArrayData, y: ArrayData): ArrayData = {
    val tmp = new Array[Long](math.min(x.numElements(), y.numElements()))
    val n = sortedMerge(x, y, tmp)
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(tmp, n))
  }

  /** The integer nearest-centroid scan: exact squared-L2 distance over
    * min(dim) coordinates to each centroid, with the sound early exit (the
    * running sum is monotone, so a cell whose partial distance already
    * reaches the best seen stops mid-coordinate without affecting the
    * argmin). Ties keep the FIRST cell. Returns the distance if `dist`,
    * else the cell index; an empty table raises the named error rather
    * than return a -1 / Long.MaxValue sentinel into downstream grouping. */
  private def nearest(cents: ArrayData, v: ArrayData, dist: Boolean): Long = {
    val k = cents.numElements()
    if (k == 0) throw new IllegalArgumentException(
      s"${if (dist) "graft_nearest_dist2" else "graft_nearest_cell"}: " +
        "empty centroid table (need at least 1 centroid)")
    var best = -1
    var bestD = Long.MaxValue
    var c = 0
    while (c < k) {
      val ct = cents.getArray(c)
      val dim = math.min(ct.numElements(), v.numElements())
      var acc = 0L
      var j = 0
      while (j < dim && acc < bestD) {
        val d = ct.getLong(j) - v.getLong(j)
        acc += d * d
        j += 1
      }
      if (acc < bestD) { bestD = acc; best = c }
      c += 1
    }
    if (dist) bestD else best
  }

  def nearestCell(cents: ArrayData, v: ArrayData): Int =
    nearest(cents, v, dist = false).toInt

  def nearestDist2(cents: ArrayData, v: ArrayData): Long =
    nearest(cents, v, dist = true)

  // The text kernels read a UTF-8 string's bytes in place. Their tokens
  // are `split(t, ' ')`'s: the byte runs between single ' ' bytes, empty
  // runs included, so a text with s spaces has s + 1 tokens. ' ' is one
  // byte that no multibyte UTF-8 sequence contains.

  private def checkWidth(n: Int): Unit =
    if (n < 1) throw new IllegalArgumentException(s"gram width must be >= 1 (got $n)")

  private def spaces(t: UTF8String): Int = {
    val base = t.getBaseObject; val off = t.getBaseOffset; val len = t.numBytes
    var s = 0
    var i = 0
    while (i < len) { if (Platform.getByte(base, off + i) == ' ') s += 1; i += 1 }
    s
  }

  /** Token i is the bytes from `starts(i)` up to, not including,
    * `starts(i + 1) - 1`; the last entry is the text's length plus one. */
  private def tokenStarts(t: UTF8String): Array[Int] = {
    val base = t.getBaseObject; val off = t.getBaseOffset; val len = t.numBytes
    val starts = new Array[Int](spaces(t) + 2)
    var k = 1
    var i = 0
    while (i < len) {
      if (Platform.getByte(base, off + i) == ' ') { starts(k) = i + 1; k += 1 }
      i += 1
    }
    starts(k) = len + 1
    starts
  }

  /** The number of word n-grams, `max(tokens - n + 1, 1)`: a text with
    * fewer than n tokens is one gram. At n = 1 it is `size(split(t, ' '))`. */
  def gramCount(t: UTF8String, n: Int): Int = {
    checkWidth(n)
    math.max(spaces(t) + 2 - n, 1)
  }

  /** The number of tokens equal to a non-null element of `words`
    * (`size(filter(split(t, ' '), w -> w IN words))`), in one byte pass. */
  def stopwordCount(t: UTF8String, words: ArrayData): Int = {
    val base = t.getBaseObject; val off = t.getBaseOffset; val len = t.numBytes
    var n = 0
    var s = 0
    var i = 0
    while (i <= len) {
      if (i == len || Platform.getByte(base, off + i) == ' ') {
        var j = 0
        var hit = false
        while (!hit && j < words.numElements()) {
          if (!words.isNullAt(j)) {
            val w = words.getUTF8String(j)
            hit = w.numBytes == i - s && ByteArrayMethods.arrayEquals(
              w.getBaseObject, w.getBaseOffset, base, off + s, i - s)
          }
          j += 1
        }
        if (hit) n += 1
        s = i + 1
      }
      i += 1
    }
    n
  }

  /** A hash of the byte slice `len` bytes long at `off` in `base`. */
  private[functions] trait SliceHash {
    def apply(base: AnyRef, off: Long, len: Int): Long
  }

  private val xxh64: SliceHash = (base, off, len) => XXH64.hashUnsafeBytes(base, off, len, 42L)

  /** The number of distinct word n-grams, `size(array_distinct(grams))`
    * for the grams [[gramCount]] counts. */
  def distinctGramCount(t: UTF8String, n: Int): Int = distinctGrams(t, n, xxh64)

  /** Gram g is the byte slice from token g's start to token g+n-1's end
    * (tokens are one byte apart, so the slice is their " "-join). The
    * grams go into an open-addressing set of gram indices, probed by
    * `hash`; equal hashes are confirmed by comparing the bytes, so a
    * collision never changes the count. */
  private[functions] def distinctGrams(t: UTF8String, n: Int, hash: SliceHash): Int = {
    checkWidth(n)
    val starts = tokenStarts(t)
    val grams = math.max(starts.length - n, 1)
    if (grams == 1) return 1
    val base = t.getBaseObject; val off = t.getBaseOffset
    val mask = Integer.highestOneBit(grams) * 4 - 1 // load factor below 1/2
    val slots = new Array[Int](mask + 1) // gram index + 1; 0 is empty
    val slotHashes = new Array[Long](mask + 1)
    var distinct = 0
    var g = 0
    while (g < grams) {
      val s = starts(g); val len = starts(g + n) - 1 - s
      val h = hash(base, off + s, len)
      var p = (h ^ (h >>> 32)).toInt & mask
      var found = false
      while (!found && slots(p) != 0) {
        val o = slots(p) - 1
        if (slotHashes(p) == h) {
          val os = starts(o)
          found = starts(o + n) - 1 - os == len &&
            ByteArrayMethods.arrayEquals(base, off + os, base, off + s, len)
        }
        if (!found) p = (p + 1) & mask
      }
      if (!found) { slots(p) = g + 1; slotHashes(p) = h; distinct += 1 }
      g += 1
    }
    distinct
  }

  // The PII scrub replays, over bytes, what Java's leftmost-greedy
  // matcher does for `TextAnalysis.emailRe` and then `phoneRe` (both
  // ASCII-only classes, so a multibyte sequence is never part of a match).

  private def isLower(b: Byte): Boolean = b >= 'a' && b <= 'z'
  private def isDigit(b: Byte): Boolean = b >= '0' && b <= '9'
  private def isDomain(b: Byte): Boolean = isLower(b) || isDigit(b) || b == '.' || b == '-'
  private def isLocal(b: Byte): Boolean = isDomain(b) || b == '_' || b == '%' || b == '+'

  private val emailTag = "<EMAIL>".getBytes(java.nio.charset.StandardCharsets.UTF_8)
  private val phoneTag = "<PHONE>".getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** The scrubbed copy of a text, written as the scan finds matches. */
  private final class Redacted(t: UTF8String) {
    // an email match is at least 6 bytes ("a@b.co") and its tag 7, a
    // phone 12 and its tag 7: the output is at most len + len / 6 bytes
    private val out = new Array[Byte](t.numBytes + t.numBytes / 6)
    private var n = 0
    private var done = 0 // the text before `done` is in `out`

    private def copyTo(until: Int): Unit = {
      Platform.copyMemory(t.getBaseObject, t.getBaseOffset + done, out,
        Platform.BYTE_ARRAY_OFFSET + n, until - done)
      n += until - done
      done = until
    }

    /** Writes `tag` in place of the text from `from` up to `until`. */
    def replace(from: Int, until: Int, tag: Array[Byte]): Unit = {
      copyTo(from)
      System.arraycopy(tag, 0, out, n, tag.length)
      n += tag.length
      done = until
    }

    def result: UTF8String = {
      copyTo(t.numBytes)
      UTF8String.fromBytes(out, 0, n)
    }
  }

  /** The end of the email whose '@' is at `at`, or -1. The domain is the
    * longest `[a-z0-9.-]` run after the '@', cut back to its last '.'
    * that has a domain byte before it and two lowercase letters after it;
    * the match then takes every lowercase letter after that '.'. */
  private def emailEnd(base: AnyRef, off: Long, len: Int, at: Int): Int = {
    def b(i: Int) = Platform.getByte(base, off + i)
    var e = at + 1
    while (e < len && isDomain(b(e))) e += 1
    var k = e - 3
    while (k >= at + 2 && !(b(k) == '.' && isLower(b(k + 1)) && isLower(b(k + 2)))) k -= 1
    if (k < at + 2) -1
    else {
      var end = k + 3
      while (end < len && isLower(b(end))) end += 1
      end
    }
  }

  /** Whether `\d{3}-\d{3}-\d{4}` matches at `i`. */
  private def isPhone(base: AnyRef, off: Long, i: Int): Boolean = {
    var j = 0
    while (j < 12) {
      val b = Platform.getByte(base, off + i + j)
      if (!(if (j == 3 || j == 7) b == '-' else isDigit(b))) return false
      j += 1
    }
    true
  }

  /** Redacts the phones between `from` and `until`; `r` is null until the
    * first match of the text. */
  private def phones(t: UTF8String, from: Int, until: Int, r: Redacted): Redacted = {
    var out = r
    var i = from
    while (i + 12 <= until) {
      if (isPhone(t.getBaseObject, t.getBaseOffset, i)) {
        if (out == null) out = new Redacted(t)
        out.replace(i, i + 12, phoneTag)
        i += 12
      } else i += 1
    }
    out
  }

  /** `regexp_replace(regexp_replace(t, emailRe, "<EMAIL>"), phoneRe,
    * "<PHONE>")` in one pass. An email starts at the first local-part
    * byte (`[a-z0-9._%+-]`) of the run that ends at its '@'; a failed
    * '@' fails every start in that run. Neither tag holds a digit or
    * '-', so the phone pass over the emails' output finds exactly the
    * phones in the gaps between the emails. A text with nothing to
    * redact comes back as it is. Like `regexp_replace`, which reads the
    * text as a Java `String`, a text that is not valid UTF-8 is scrubbed
    * as its decoding, each malformed sequence replaced by U+FFFD. */
  def scrubPii(t: UTF8String): UTF8String = {
    val base = t.getBaseObject; val off = t.getBaseOffset; val len = t.numBytes
    var out: Redacted = null
    var high = false // a byte outside ASCII: the text may not be valid UTF-8
    var gap = 0      // where the text after the last email starts
    var run = 0      // where the local-part run that reaches i starts
    var i = 0
    while (i < len) {
      val b = Platform.getByte(base, off + i)
      val end = if (b == '@' && run < i) emailEnd(base, off, len, i) else -1
      if (end > 0) {
        out = phones(t, gap, run, out)
        if (out == null) out = new Redacted(t)
        out.replace(run, end, emailTag)
        gap = end; run = end; i = end
      } else {
        high |= b < 0
        i += 1
        if (!isLocal(b)) run = i
      }
    }
    out = phones(t, gap, len, out)
    if (high && !t.isValid) scrubPii(UTF8String.fromString(t.toString))
    else if (out == null) t
    else out.result
  }
}

/** A binary graft_* expression whose evaluation is one [[VectorKernels]]
  * method: `nullSafeEval` calls it, and the generated code calls it by
  * name (`kernel`), so the expression stays inside whole-stage codegen.
  * `argTypes` is the one argument-type check (element nullability is not
  * checked). */
abstract class KernelExpression extends BinaryExpression {
  protected def argTypes: (DataType, DataType)
  protected def kernel: String

  override def checkInputDataTypes(): TypeCheckResult = {
    val (l, r) = argTypes
    if (DataType.equalsStructurally(left.dataType, l, ignoreNullability = true) &&
        DataType.equalsStructurally(right.dataType, r, ignoreNullability = true))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (${l.simpleString}, ${r.simpleString}), " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${VectorKernels.className}.$kernel($a, $b)")
}

/** Native codegen'd dot product over two `array<float>` columns.
  *
  * Spark's higher-order functions (`zip_with` + `aggregate`) evaluate the
  * lambda interpreted, per element, with boxing — fine for correctness,
  * hostile at 100 TB × 64+ dims. This expression calls one tight
  * primitive loop ([[VectorKernels.dot]]) from whole-stage codegen (no
  * boxing, no closure calls), the preferred extension order of SURVEY §4: compose built-ins first,
  * then a custom `Expression` with `doGenCode` — never a Scala UDF.
  *
  * Semantics exactly match the validated HOF/oracle formulation: per-index
  * float×float product, accumulated in double, index order.
  */
case class DotProduct(left: Expression, right: Expression)
    extends KernelExpression {
  override protected def argTypes = (ArrayType(FloatType), ArrayType(FloatType))
  override protected def kernel = "dot"
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DotProduct = copy(left = newLeft, right = newRight)
}

/** Codegen'd |A ∩ B| over two `array<string>` columns — EXACT semantics of
  * `size(array_intersect(a, b))` (distinct intersection count, null
  * elements matching null elements) without materializing the intersection
  * array. The built-in composition builds and allocates the intersection
  * per evaluation; near-dup verification evaluates it millions of times
  * per task (once per candidate pair), so the count-only single-pass form
  * is the hot-path version: one hash set of the right side, one membership
  * sweep of the left, no allocation of result arrays. Exact equivalence is
  * what lets [[IntersectSizeRewrite]] swap it in unconditionally. */
case class IntersectSize(left: Expression, right: Expression)
    extends KernelExpression {
  override protected def argTypes = (ArrayType(StringType), ArrayType(StringType))
  override protected def kernel = "intersectSize"
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_intersect_size"

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.intersectSize(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): IntersectSize = copy(left = newLeft, right = newRight)
}

/** Codegen'd |A ∩ B| over two ASCENDING-SORTED `array<bigint>` columns via
  * a two-pointer merge — O(|A|+|B|) primitive compares, ZERO allocation per
  * evaluation. This is the hot-path intersection for LSH-verified near-dup:
  * [[IntersectSize]] (string sets) builds a `java.util.HashSet` per
  * candidate pair, and at millions of pairs per task that allocation is
  * pure GC churn (the round-2 q_neardup_lsh 11–58 s swing). Token sets are
  * hashed to int64 once per DOCUMENT (not per pair) and sorted; each pair
  * evaluation is then one branchy primitive loop, called from whole-stage
  * codegen.
  *
  * Requires both arrays sorted ascending (e.g. `array_sort(transform(toks,
  * xxhash64(w)))`); duplicate values are counted once (distinct-set ∩) and
  * null elements must not occur (hash outputs never are). */
case class IntersectSizeSorted(left: Expression, right: Expression)
    extends KernelExpression {
  override protected def argTypes = (ArrayType(LongType), ArrayType(LongType))
  override protected def kernel = "intersectSizeSorted"
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_intersect_size_sorted"

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.intersectSizeSorted(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): IntersectSizeSorted =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd A ∩ B VALUES over two ASCENDING-SORTED `array<bigint>` columns
  * — the emitting sibling of [[IntersectSizeSorted]] (the same merge), for
  * consumers that need the intersection members, not just its cardinality
  * (triangle listing emits the closing vertex of every wedge:
  * `explode(nu ∩ nw)`). Spark's built-in `array_intersect` builds a hash
  * set of one side PER EVALUATION; a triangle probe evaluates once per
  * oriented edge and the adjacency arrays reach O(√m) elements, so at
  * millions of edges that allocation dominates the stage (same pathology
  * IntersectSizeSorted removed from near-dup verify). Here: one two-pointer
  * merge over presorted primitive longs, one right-sized primitive result
  * array, no boxing, no hash set.
  *
  * Requires both arrays sorted ascending (`sort_array(collect_list(..))`);
  * duplicate values emit once (distinct-set ∩); null elements must not
  * occur. Output is ascending-sorted by construction. */
case class SortedIntersect(left: Expression, right: Expression)
    extends KernelExpression {
  override protected def argTypes = (ArrayType(LongType), ArrayType(LongType))
  override protected def kernel = "sortedIntersect"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_intersect_sorted"

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.sortedIntersect(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): SortedIntersect =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd argmin of exact integer squared-L2 distance from a quantized
  * vector (right, `array<bigint>`) to each of k centroids (left, the
  * centroid TABLE `array<array<bigint>>`, in practice a literal of the k
  * trained integer centroids) — the k-means ASSIGNMENT scan, which at
  * 100 TB is the dominant per-round cost of Lloyd's iterations.
  *
  * The HOF formulation ([[graft.operators.KMeans.cellOfFold]]: one
  * zip_with/aggregate fold per centroid + a single argmin fold) is
  * semantically identical but interpreted — per element, boxed, with
  * closure calls. This expression calls one tight primitive nested loop
  * from whole-stage codegen, with a sound early exit: the running sum
  * is monotone, so a cell whose partial distance already reaches the
  * best seen can stop mid-coordinate without affecting the argmin.
  *
  * Semantics (pinned bit-identical to the fold in KMeansSpec): distances
  * over min(dim) coordinates, ties keep the FIRST (smallest) cell id —
  * the convention the cross-engine oracle's `ORDER BY d2, cell` mirrors.
  * An empty centroid table raises a named error, on both evaluation
  * paths: a -1 sentinel would flow silently into downstream grouping. */
case class NearestCell(left: Expression, right: Expression)
    extends KernelExpression {
  override protected def argTypes = (ArrayType(ArrayType(LongType)), ArrayType(LongType))
  override protected def kernel = "nearestCell"
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_nearest_cell"

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.nearestCell(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): NearestCell =
    copy(left = newLeft, right = newRight)
}

/** The companion of [[NearestCell]]: the exact integer squared-L2
  * distance TO the nearest centroid (the per-row inertia term), same
  * scan, same sound early exit, returning the min distance instead of
  * its index. */
case class NearestDist2(left: Expression, right: Expression)
    extends KernelExpression {
  override protected def argTypes = (ArrayType(ArrayType(LongType)), ArrayType(LongType))
  override protected def kernel = "nearestDist2"
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_nearest_dist2"

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.nearestDist2(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): NearestDist2 =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd word n-gram count of a string column, n the right operand:
  * `max(tokens - n + 1, 1)` over `split(t, ' ')`'s tokens, so n = 1 is the
  * whitespace token count. Counts spaces; builds no token array. */
case class GramCount(left: Expression, right: Expression)
    extends KernelExpression {
  override protected def argTypes = (StringType, IntegerType)
  override protected def kernel = "gramCount"
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_gram_count"

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.gramCount(a.asInstanceOf[UTF8String], b.asInstanceOf[Int])

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): GramCount = copy(left = newLeft, right = newRight)
}

/** Codegen'd DISTINCT word n-gram count, the same grams as [[GramCount]]:
  * exactly `size(array_distinct(Dedup.wordGrams(t, n)))`, from one hash
  * set of byte slices of the text, with no gram string built. */
case class DistinctGramCount(left: Expression, right: Expression)
    extends KernelExpression {
  override protected def argTypes = (StringType, IntegerType)
  override protected def kernel = "distinctGramCount"
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_distinct_gram_count"

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.distinctGramCount(a.asInstanceOf[UTF8String], b.asInstanceOf[Int])

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DistinctGramCount = copy(left = newLeft, right = newRight)
}

/** Codegen'd count of the whitespace tokens of a string column that are
  * in a word list (right, `array<string>`, in practice a literal):
  * exactly `size(filter(split(t, ' '), w -> w IN words))` without the
  * interpreted lambda or the token array. */
case class StopwordCount(left: Expression, right: Expression)
    extends KernelExpression {
  override protected def argTypes = (StringType, ArrayType(StringType))
  override protected def kernel = "stopwordCount"
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_stopword_count"

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.stopwordCount(a.asInstanceOf[UTF8String], b.asInstanceOf[ArrayData])

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): StopwordCount = copy(left = newLeft, right = newRight)
}

/** Codegen'd PII scrub of a string column: exactly
  * `regexp_replace(regexp_replace(t, emailRe, "<EMAIL>"), phoneRe,
  * "<PHONE>")` for [[graft.operators.TextAnalysis]]'s two regexes, in one
  * pass over the text's bytes ([[VectorKernels.scrubPii]]) that copies
  * nothing when there is nothing to redact. */
case class ScrubPii(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_scrub_pii"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (string), got (${child.dataType.simpleString})")

  override def nullSafeEval(t: Any): Any =
    VectorKernels.scrubPii(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"${VectorKernels.className}.scrubPii($t)")

  override protected def withNewChildInternal(newChild: Expression): ScrubPii =
    copy(child = newChild)
}

/** Column-API and SQL surfaces for the graft_* expressions. */
object VectorFunctions {

  private def call(build: (Expression, Expression) => Expression,
      a: Column, b: Column): Column =
    ColumnBridge.column(build(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Codegen'd dot product of two float-array columns. */
  def dotProduct(a: Column, b: Column): Column =
    call(DotProduct, a, b)

  /** Codegen'd squared L2 norm. */
  def norm2(a: Column): Column = dotProduct(a, a)

  /** Codegen'd distinct-intersection count of two string-array columns
    * (≡ size(array_intersect(a, b)), allocation-free). */
  def intersectSize(a: Column, b: Column): Column =
    call(IntersectSize, a, b)

  /** Codegen'd distinct-intersection count of two SORTED long-array columns
    * (two-pointer merge, zero allocation per row — the per-pair hot path). */
  def intersectSizeSorted(a: Column, b: Column): Column =
    call(IntersectSizeSorted, a, b)

  /** Codegen'd intersection VALUES of two SORTED long-array columns
    * (two-pointer merge; ascending distinct output — the triangle probe). */
  def sortedIntersect(a: Column, b: Column): Column =
    call(SortedIntersect, a, b)

  /** Codegen'd nearest-centroid index: argmin of exact integer squared-L2
    * distance over a centroid-table column (k-means assignment scan). */
  def nearestCell(centroids: Column, vec: Column): Column =
    call(NearestCell, centroids, vec)

  /** Codegen'd distance to the nearest centroid (per-row inertia). */
  def nearestDist2(centroids: Column, vec: Column): Column =
    call(NearestDist2, centroids, vec)

  /** Codegen'd word n-gram count (n = 1: whitespace token count). */
  def gramCount(text: Column, n: Int): Column =
    call(GramCount, text, lit(n))

  /** Codegen'd distinct word n-gram count. */
  def distinctGramCount(text: Column, n: Int): Column =
    call(DistinctGramCount, text, lit(n))

  /** Codegen'd count of the whitespace tokens that are in `words`. */
  def stopwordCount(text: Column, words: Seq[String]): Column =
    call(StopwordCount, text, typedLit(words))

  /** Codegen'd email and phone redaction (`TextAnalysis.scrubPii`). */
  def scrubPii(text: Column): Column =
    ColumnBridge.column(ScrubPii(ColumnBridge.expression(text)))

  private def fn[E <: Expression](name: String, build: Seq[Expression] => E)(
      implicit cls: ClassTag[E]): (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (new FunctionIdentifier(name), new ExpressionInfo(cls.runtimeClass.getName, name),
      (children: Seq[Expression]) => build(children))

  private def fn[E <: Expression](name: String, build: (Expression, Expression) => E)(
      implicit cls: ClassTag[E]): (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    fn(name, (c: Seq[Expression]) => build(c(0), c(1)))

  /** Every graft_* SQL function, by name: [[GraftExtensions]] injects them
    * at session build and [[register]] installs them in a running session. */
  val sqlFunctions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    fn("graft_dot", DotProduct),
    fn("graft_intersect_size", IntersectSize),
    fn("graft_intersect_size_sorted", IntersectSizeSorted),
    fn("graft_intersect_sorted", SortedIntersect),
    fn("graft_nearest_cell", NearestCell),
    fn("graft_nearest_dist2", NearestDist2),
    fn("graft_gram_count", GramCount),
    fn("graft_distinct_gram_count", DistinctGramCount),
    fn("graft_stopword_count", StopwordCount),
    fn("graft_scrub_pii", (c: Seq[Expression]) => ScrubPii(c(0))))

  /** Register the graft_* functions in a session's function registry so
    * SQL-string pipes can call them (the library-call path needs no
    * registration). */
  def register(spark: SparkSession): Unit =
    sqlFunctions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}

/** Optimizer rewrite: `size(array_intersect(a, b))` over string arrays →
  * [[IntersectSize]]. Users (and composed operators) write the idiomatic
  * built-in form; the rule swaps in the count-only expression, so the
  * intersection ARRAY — allocated per evaluation, discarded after its size
  * is read — never materializes. Sound unconditionally because
  * IntersectSize reproduces array_intersect's semantics exactly, null
  * elements included. A `Rule[LogicalPlan]` rather than an analyzer
  * change: it runs in the optimizer where both expressions are resolved.
  *
  * Deployment: injected by [[GraftExtensions]]
  * (`spark.sql.extensions=graft.functions.GraftExtensions`) or session-
  * locally via `spark.experimental.extraOptimizations`. */
object IntersectSizeRewrite
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{ArrayIntersect, Size}
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

  private def strings(e: Expression): Boolean = e.dataType match {
    case ArrayType(StringType, _) => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      // legacySizeOfNull=false only: legacy size() returns -1 on a null
      // ARRAY input, IntersectSize (null-intolerant) returns null
      case Size(ArrayIntersect(l, r), false) if strings(l) && strings(r) =>
        IntersectSize(l, r)
    }
}

/** `spark.sql.extensions=graft.functions.GraftExtensions` injects the
  * functions at session build — the deployment path for clusters where user
  * code can't touch the registry before SQL parsing. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => IntersectSizeRewrite)
    VectorFunctions.sqlFunctions.foreach(ext.injectFunction)
  }
}
