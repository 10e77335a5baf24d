package graft.functions

import scala.reflect.ClassTag

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType, StringType}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** The loops behind the graft_* expressions, each written once. Both
  * evaluation paths of an expression call the same method: `nullSafeEval`
  * directly, and the generated code through the static forwarder that
  * scalac emits for a top-level object with no companion class (the way
  * Spark's own expressions call `DateTimeUtils`). A static call with
  * primitive and `ArrayData` arguments is one the JIT can inline into the
  * whole-stage loop, and there is no second copy of a kernel, as Java
  * text, to keep in step with the first. */
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
    * else the cell index; an empty table gives -1 / Long.MaxValue. */
  private def nearest(cents: ArrayData, v: ArrayData, dist: Boolean): Long = {
    val k = cents.numElements()
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

  /** The float nearest-centroid scan, in [[NearestCellF]]'s widening
    * discipline; an empty table raises the named error. */
  def nearestCellF(cents: ArrayData, v: ArrayData): Int = {
    val k = cents.numElements()
    if (k == 0) throw new IllegalArgumentException(
      "graft_nearest_cell_f: empty centroid table (need at least 1 centroid)")
    val nv = v.numElements()
    var n2 = 0.0
    var j = 0
    while (j < nv) {
      val f = v.getFloat(j); n2 += (f * f).toDouble; j += 1
    }
    var best = -1
    var bestD = Double.PositiveInfinity
    var c = 0
    while (c < k) {
      val ct = cents.getArray(c)
      val nc = ct.numElements()
      var sc2 = 0.0
      j = 0
      while (j < nc) {
        val f = ct.getFloat(j); sc2 += f.toDouble * f.toDouble; j += 1
      }
      var dot = 0.0
      val nd = math.min(nc, nv)
      j = 0
      while (j < nd) {
        dot += (v.getFloat(j) * ct.getFloat(j)).toDouble; j += 1
      }
      val d = (n2 + sc2) - dot * 2.0
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
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
  * Empty centroid table → -1 (the fold's convention). */
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

/** The FLOAT twin of [[NearestCell]]: argmin of squared-L2 distance from
  * an `array<float>` vector to each row of an `array<array<float>>`
  * centroid table — the IVF coarse-quantizer assignment scan. This is
  * what retires [[graft.operators.Ivf]]'s 256-cell cap: the old `cellOf`
  * inlined ONE distance expression per centroid (`norm2 + Σc² − 2·dot`
  * over literals), so codegen size grew linearly with k and production
  * cell counts (k ~ √n, thousands) blew the JIT budget. Here the
  * centroid table is a single array literal and the scan is one nested
  * primitive loop, k-independent in code size — the same move
  * [[NearestCell]] made for the integer k-means path.
  *
  * Semantics are pinned BIT-IDENTICAL to the old inlined form (IvfSpec
  * ties test; the float-Lloyd digest pin survives unchanged), which
  * means replicating its exact widening discipline per centroid c:
  *
  *   d(c) = (n2 + sc2) − dot·2   where
  *   n2  = Σ (double)(vᵢ·vᵢ)     — FLOAT product, then widened
  *                                 ([[DotProduct]] of v with itself),
  *   sc2 = Σ (double)cᵢ·(double)cᵢ — DOUBLE product (the driver-side
  *                                 literal Σc² of the old form),
  *   dot = Σ (double)(vᵢ·cᵢ)     — float product, widened, over
  *                                 min(|v|, |c|) coordinates.
  *
  * Ties keep the FIRST (smallest) cell id — exactly array_position(ds,
  * array_min(ds)) on exactly-equal doubles. An EMPTY centroid table
  * raises a named error: the pre-r14 behavior returned the -1 sentinel,
  * which the Column-API wrapper guarded but SQL callers of
  * graft_nearest_cell_f could silently propagate into downstream grouping
  * (ADVICE r13).
  * No partial-distance early exit: d accumulates as (sc2 − 2·dot),
  * which is not monotone in the coordinate index (unlike the integer
  * Σ(a−b)² form), so a sound exit does not exist in this widening
  * discipline. */
case class NearestCellF(left: Expression, right: Expression)
    extends KernelExpression {
  override protected def argTypes = (ArrayType(ArrayType(FloatType)), ArrayType(FloatType))
  override protected def kernel = "nearestCellF"
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_nearest_cell_f"

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.nearestCellF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): NearestCellF =
    copy(left = newLeft, right = newRight)
}

/** Column-API and SQL surfaces for the vector expressions. */
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

  /** Codegen'd FLOAT nearest-centroid index (IVF coarse assignment;
    * k-independent code size — no cell-count cap). */
  def nearestCellF(centroids: Column, vec: Column): Column =
    call(NearestCellF, centroids, vec)

  private def fn[E <: Expression](name: String, build: (Expression, Expression) => E)(
      implicit cls: ClassTag[E]): (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (new FunctionIdentifier(name), new ExpressionInfo(cls.runtimeClass.getName, name),
      (children: Seq[Expression]) => build(children(0), children(1)))

  /** Every graft_* SQL function, by name: [[GraftExtensions]] injects them
    * at session build and [[register]] installs them in a running session. */
  val sqlFunctions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    fn("graft_dot", DotProduct),
    fn("graft_intersect_size", IntersectSize),
    fn("graft_intersect_size_sorted", IntersectSizeSorted),
    fn("graft_intersect_sorted", SortedIntersect),
    fn("graft_nearest_cell", NearestCell),
    fn("graft_nearest_dist2", NearestDist2),
    fn("graft_nearest_cell_f", NearestCellF))

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
