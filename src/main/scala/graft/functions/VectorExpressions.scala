package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType, StringType}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** Native codegen'd dot product over two `array<float>` columns.
  *
  * Spark's higher-order functions (`zip_with` + `aggregate`) evaluate the
  * lambda interpreted, per element, with boxing — fine for correctness,
  * hostile at 100 TB × 64+ dims. This expression compiles to a tight
  * primitive loop inside whole-stage codegen (no boxing, no virtual calls),
  * the preferred extension order of SURVEY §4: compose built-ins first,
  * then a custom `Expression` with `doGenCode` — never a Scala UDF.
  *
  * Semantics exactly match the validated HOF/oracle formulation: per-index
  * float×float product, accumulated in double, index order.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += (x.getFloat(i) * y.getFloat(i)).toDouble; i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += (double) ($x.getFloat($i) * $y.getFloat($i));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

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
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<string> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_intersect_size"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
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

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val set = ctx.freshName("set")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val yNull = ctx.freshName("yNull")
      s"""
         |java.util.HashSet $set = new java.util.HashSet();
         |boolean $yNull = false;
         |for (int $i = 0; $i < $y.numElements(); $i++) {
         |  if ($y.isNullAt($i)) { $yNull = true; }
         |  else { $set.add($y.getUTF8String($i)); }
         |}
         |int $n = 0;
         |for (int $j = 0; $j < $x.numElements(); $j++) {
         |  if ($x.isNullAt($j)) {
         |    if ($yNull) { $n++; $yNull = false; }
         |  } else if ($set.remove($x.getUTF8String($j))) { $n++; }
         |}
         |${ev.value} = $n;
       """.stripMargin
    })

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
  * evaluation is then a branchy primitive loop whole-stage codegen inlines.
  *
  * Requires both arrays sorted ascending (e.g. `array_sort(transform(toks,
  * xxhash64(w)))`); duplicate values are counted once (distinct-set ∩) and
  * null elements must not occur (hash outputs never are). */
case class IntersectSizeSorted(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_intersect_size_sorted"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0; var n = 0
    while (i < nx && j < ny) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv < yv) i += 1
      else if (xv > yv) j += 1
      else {
        n += 1
        // skip duplicates so each distinct value counts once
        val v = xv
        while (i < nx && x.getLong(i) == v) i += 1
        while (j < ny && y.getLong(j) == v) j += 1
      }
    }
    n
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val n = ctx.freshName("n"); val v = ctx.freshName("v")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |int $nx = $x.numElements(); int $ny = $y.numElements();
         |int $i = 0; int $j = 0; int $n = 0;
         |while ($i < $nx && $j < $ny) {
         |  long $xv = $x.getLong($i); long $yv = $y.getLong($j);
         |  if ($xv < $yv) { $i++; }
         |  else if ($xv > $yv) { $j++; }
         |  else {
         |    $n++;
         |    long $v = $xv;
         |    while ($i < $nx && $x.getLong($i) == $v) { $i++; }
         |    while ($j < $ny && $y.getLong($j) == $v) { $j++; }
         |  }
         |}
         |${ev.value} = $n;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): IntersectSizeSorted =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd A ∩ B VALUES over two ASCENDING-SORTED `array<bigint>` columns
  * — the emitting sibling of [[IntersectSizeSorted]], for consumers that
  * need the intersection members, not just its cardinality (triangle
  * listing emits the closing vertex of every wedge: `explode(nu ∩ nw)`).
  * Spark's built-in `array_intersect` builds a hash set of one side PER
  * EVALUATION; a triangle probe evaluates once per oriented edge and the
  * adjacency arrays reach O(√m) elements, so at millions of edges that
  * allocation dominates the stage (same pathology IntersectSizeSorted
  * removed from near-dup verify). Here: one two-pointer merge over
  * presorted primitive longs, one right-sized primitive result array, no
  * boxing, no hash set.
  *
  * Requires both arrays sorted ascending (`sort_array(collect_list(..))`);
  * duplicate values emit once (distinct-set ∩); null elements must not
  * occur. Output is ascending-sorted by construction. */
case class SortedIntersect(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_intersect_sorted"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    val tmp = new Array[Long](math.min(nx, ny))
    var i = 0; var j = 0; var k = 0
    while (i < nx && j < ny) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv < yv) i += 1
      else if (xv > yv) j += 1
      else {
        tmp(k) = xv; k += 1
        while (i < nx && x.getLong(i) == xv) i += 1
        while (j < ny && y.getLong(j) == xv) j += 1
      }
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(java.util.Arrays.copyOf(tmp, k))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val k = ctx.freshName("k"); val tmp = ctx.freshName("tmp")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |int $nx = $x.numElements(); int $ny = $y.numElements();
         |long[] $tmp = new long[java.lang.Math.min($nx, $ny)];
         |int $i = 0; int $j = 0; int $k = 0;
         |while ($i < $nx && $j < $ny) {
         |  long $xv = $x.getLong($i); long $yv = $y.getLong($j);
         |  if ($xv < $yv) { $i++; }
         |  else if ($xv > $yv) { $j++; }
         |  else {
         |    $tmp[$k++] = $xv;
         |    while ($i < $nx && $x.getLong($i) == $xv) { $i++; }
         |    while ($j < $ny && $y.getLong($j) == $xv) { $j++; }
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray(java.util.Arrays.copyOf($tmp, $k));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): SortedIntersect =
    copy(left = newLeft, right = newRight)
}

/** Shared typing for the two nearest-centroid expressions: left is the
  * centroid TABLE (`array<array<bigint>>`, in practice a literal of the
  * k trained integer centroids), right the quantized row vector
  * (`array<bigint>`). */
trait NearestBase { self: BinaryExpression =>
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(ArrayType(LongType, _), _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<array<bigint>>, array<bigint>), " +
          s"got (${l.simpleString}, ${r.simpleString})")
    }
}

/** Codegen'd argmin of exact integer squared-L2 distance from a quantized
  * vector to each of k centroids — the k-means ASSIGNMENT scan, which at
  * 100 TB is the dominant per-round cost of Lloyd's iterations.
  *
  * The HOF formulation ([[graft.operators.KMeans.cellOfFold]]: one
  * zip_with/aggregate fold per centroid + a single argmin fold) is
  * semantically identical but interpreted — per element, boxed, with
  * closure calls. This expression is one tight primitive nested loop
  * inside whole-stage codegen, with a sound early exit: the running sum
  * is monotone, so a cell whose partial distance already reaches the
  * best seen can stop mid-coordinate without affecting the argmin.
  *
  * Semantics (pinned bit-identical to the fold in KMeansSpec): distances
  * over min(dim) coordinates, ties keep the FIRST (smallest) cell id —
  * the convention the cross-engine oracle's `ORDER BY d2, cell` mirrors.
  * Empty centroid table → -1 (the fold's convention). */
case class NearestCell(left: Expression, right: Expression)
    extends BinaryExpression with NearestBase {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_nearest_cell"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val cents = a.asInstanceOf[ArrayData]
    val v = b.asInstanceOf[ArrayData]
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
    best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (cents, v) => {
      val k = ctx.freshName("k"); val c = ctx.freshName("c")
      val ct = ctx.freshName("ct"); val dim = ctx.freshName("dim")
      val acc = ctx.freshName("acc"); val j = ctx.freshName("j")
      val d = ctx.freshName("d")
      val best = ctx.freshName("best"); val bestD = ctx.freshName("bestD")
      s"""
         |int $k = $cents.numElements();
         |int $best = -1;
         |long $bestD = Long.MAX_VALUE;
         |for (int $c = 0; $c < $k; $c++) {
         |  org.apache.spark.sql.catalyst.util.ArrayData $ct = $cents.getArray($c);
         |  int $dim = java.lang.Math.min($ct.numElements(), $v.numElements());
         |  long $acc = 0L;
         |  for (int $j = 0; $j < $dim && $acc < $bestD; $j++) {
         |    long $d = $ct.getLong($j) - $v.getLong($j);
         |    $acc += $d * $d;
         |  }
         |  if ($acc < $bestD) { $bestD = $acc; $best = $c; }
         |}
         |${ev.value} = $best;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): NearestCell =
    copy(left = newLeft, right = newRight)
}

/** The companion of [[NearestCell]]: the exact integer squared-L2
  * distance TO the nearest centroid (the per-row inertia term), same
  * loop, same sound early exit, returning the min distance instead of
  * its index. */
case class NearestDist2(left: Expression, right: Expression)
    extends BinaryExpression with NearestBase {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_nearest_dist2"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val cents = a.asInstanceOf[ArrayData]
    val v = b.asInstanceOf[ArrayData]
    val k = cents.numElements()
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
      if (acc < bestD) bestD = acc
      c += 1
    }
    bestD
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (cents, v) => {
      val k = ctx.freshName("k"); val c = ctx.freshName("c")
      val ct = ctx.freshName("ct"); val dim = ctx.freshName("dim")
      val acc = ctx.freshName("acc"); val j = ctx.freshName("j")
      val d = ctx.freshName("d"); val bestD = ctx.freshName("bestD")
      s"""
         |int $k = $cents.numElements();
         |long $bestD = Long.MAX_VALUE;
         |for (int $c = 0; $c < $k; $c++) {
         |  org.apache.spark.sql.catalyst.util.ArrayData $ct = $cents.getArray($c);
         |  int $dim = java.lang.Math.min($ct.numElements(), $v.numElements());
         |  long $acc = 0L;
         |  for (int $j = 0; $j < $dim && $acc < $bestD; $j++) {
         |    long $d = $ct.getLong($j) - $v.getLong($j);
         |    $acc += $d * $d;
         |  }
         |  if ($acc < $bestD) { $bestD = $acc; }
         |}
         |${ev.value} = $bestD;
       """.stripMargin
    })

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
  * raises a named error (in both the interpreted and generated paths):
  * the pre-r14 behavior returned the -1 sentinel, which the Column-API
  * wrapper guarded but SQL callers of graft_nearest_cell_f could
  * silently propagate into downstream grouping (ADVICE r13).
  * No partial-distance early exit: d accumulates as (sc2 − 2·dot),
  * which is not monotone in the coordinate index (unlike the integer
  * Σ(a−b)² form), so a sound exit does not exist in this widening
  * discipline. */
case class NearestCellF(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(ArrayType(FloatType, _), _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<array<float>>, array<float>), " +
          s"got (${l.simpleString}, ${r.simpleString})")
    }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_nearest_cell_f"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val cents = a.asInstanceOf[ArrayData]
    val v = b.asInstanceOf[ArrayData]
    val k = cents.numElements()
    if (k == 0) throw new IllegalArgumentException(NearestCellF.emptyMsg)
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

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (cents, v) => {
      val k = ctx.freshName("k"); val c = ctx.freshName("c")
      val ct = ctx.freshName("ct"); val nc = ctx.freshName("nc")
      val nv = ctx.freshName("nv"); val nd = ctx.freshName("nd")
      val j = ctx.freshName("j"); val f = ctx.freshName("f")
      val n2 = ctx.freshName("n2"); val sc2 = ctx.freshName("sc2")
      val dot = ctx.freshName("dot"); val d = ctx.freshName("d")
      val best = ctx.freshName("best"); val bestD = ctx.freshName("bestD")
      s"""
         |int $k = $cents.numElements();
         |if ($k == 0) {
         |  throw new IllegalArgumentException(
         |    "${NearestCellF.emptyMsg}");
         |}
         |int $nv = $v.numElements();
         |double $n2 = 0.0;
         |for (int $j = 0; $j < $nv; $j++) {
         |  float $f = $v.getFloat($j);
         |  $n2 += (double) ($f * $f);
         |}
         |int $best = -1;
         |double $bestD = Double.POSITIVE_INFINITY;
         |for (int $c = 0; $c < $k; $c++) {
         |  org.apache.spark.sql.catalyst.util.ArrayData $ct = $cents.getArray($c);
         |  int $nc = $ct.numElements();
         |  double $sc2 = 0.0;
         |  for (int $j = 0; $j < $nc; $j++) {
         |    float $f = $ct.getFloat($j);
         |    $sc2 += ((double) $f) * ((double) $f);
         |  }
         |  double $dot = 0.0;
         |  int $nd = java.lang.Math.min($nc, $nv);
         |  for (int $j = 0; $j < $nd; $j++) {
         |    $dot += (double) ($v.getFloat($j) * $ct.getFloat($j));
         |  }
         |  double $d = ($n2 + $sc2) - $dot * 2.0;
         |  if ($d < $bestD) { $bestD = $d; $best = $c; }
         |}
         |${ev.value} = $best;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): NearestCellF =
    copy(left = newLeft, right = newRight)
}

object NearestCellF {
  /** The named empty-centroid contract error — one literal shared by the
    * interpreted and generated paths so the two engines cannot drift.
    * (No quotes/backslashes: the string is interpolated into generated
    * Java source as a literal.) */
  final val emptyMsg: String =
    "graft_nearest_cell_f: empty centroid table (need at least 1 centroid)"
}

/** Column-API and SQL surfaces for the vector expressions. */
object VectorFunctions {

  /** Codegen'd dot product of two float-array columns. */
  def dotProduct(a: Column, b: Column): Column =
    ColumnBridge.column(
      DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Codegen'd squared L2 norm. */
  def norm2(a: Column): Column = dotProduct(a, a)

  /** Codegen'd distinct-intersection count of two string-array columns
    * (≡ size(array_intersect(a, b)), allocation-free). */
  def intersectSize(a: Column, b: Column): Column =
    ColumnBridge.column(
      IntersectSize(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Codegen'd distinct-intersection count of two SORTED long-array columns
    * (two-pointer merge, zero allocation per row — the per-pair hot path). */
  def intersectSizeSorted(a: Column, b: Column): Column =
    ColumnBridge.column(
      IntersectSizeSorted(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Codegen'd intersection VALUES of two SORTED long-array columns
    * (two-pointer merge; ascending distinct output — the triangle probe). */
  def sortedIntersect(a: Column, b: Column): Column =
    ColumnBridge.column(
      SortedIntersect(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Codegen'd nearest-centroid index: argmin of exact integer squared-L2
    * distance over a centroid-table column (k-means assignment scan). */
  def nearestCell(centroids: Column, vec: Column): Column =
    ColumnBridge.column(
      NearestCell(ColumnBridge.expression(centroids), ColumnBridge.expression(vec)))

  /** Codegen'd distance to the nearest centroid (per-row inertia). */
  def nearestDist2(centroids: Column, vec: Column): Column =
    ColumnBridge.column(
      NearestDist2(ColumnBridge.expression(centroids), ColumnBridge.expression(vec)))

  /** Codegen'd FLOAT nearest-centroid index (IVF coarse assignment;
    * k-independent code size — no cell-count cap). */
  def nearestCellF(centroids: Column, vec: Column): Column =
    ColumnBridge.column(
      NearestCellF(ColumnBridge.expression(centroids), ColumnBridge.expression(vec)))

  private val registration = (
    new FunctionIdentifier("graft_dot"),
    new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
    (children: Seq[Expression]) => DotProduct(children(0), children(1)))

  /** Register `graft_dot` in a session's function registry so SQL-string
    * pipes can call it (the library-call path needs no registration). */
  def register(spark: SparkSession): Unit = {
    val (id, info, builder) = registration
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
    ext.injectFunction(
      (new FunctionIdentifier("graft_dot"),
        new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
        (children: Seq[Expression]) => DotProduct(children(0), children(1))))
    ext.injectFunction(
      (new FunctionIdentifier("graft_intersect_size"),
        new ExpressionInfo(classOf[IntersectSize].getName, "graft_intersect_size"),
        (children: Seq[Expression]) => IntersectSize(children(0), children(1))))
    ext.injectFunction(
      (new FunctionIdentifier("graft_intersect_size_sorted"),
        new ExpressionInfo(classOf[IntersectSizeSorted].getName,
          "graft_intersect_size_sorted"),
        (children: Seq[Expression]) => IntersectSizeSorted(children(0), children(1))))
    ext.injectFunction(
      (new FunctionIdentifier("graft_intersect_sorted"),
        new ExpressionInfo(classOf[SortedIntersect].getName,
          "graft_intersect_sorted"),
        (children: Seq[Expression]) => SortedIntersect(children(0), children(1))))
    ext.injectFunction(
      (new FunctionIdentifier("graft_nearest_cell"),
        new ExpressionInfo(classOf[NearestCell].getName, "graft_nearest_cell"),
        (children: Seq[Expression]) => NearestCell(children(0), children(1))))
    ext.injectFunction(
      (new FunctionIdentifier("graft_nearest_dist2"),
        new ExpressionInfo(classOf[NearestDist2].getName, "graft_nearest_dist2"),
        (children: Seq[Expression]) => NearestDist2(children(0), children(1))))
    ext.injectFunction(
      (new FunctionIdentifier("graft_nearest_cell_f"),
        new ExpressionInfo(classOf[NearestCellF].getName, "graft_nearest_cell_f"),
        (children: Seq[Expression]) => NearestCellF(children(0), children(1))))
  }
}
