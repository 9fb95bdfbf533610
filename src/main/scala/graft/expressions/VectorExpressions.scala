package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.GraftBridge.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType}

/** Native Catalyst expressions for the vector hot path (SURVEY.md §4:
  * "custom Catalyst `Expression` with `doGenCode` — fastest").
  *
  * Spark's higher-order functions (`aggregate`, `zip_with`) are *not*
  * whole-stage-codegen'd — each element evaluation goes through an
  * interpreted lambda dispatch. For one scored row that is irrelevant;
  * for a pairwise similarity join producing millions of rows it
  * dominates the query (bench: 51 s for 2M cosine pairs at sf0.1).
  * These expressions generate a tight primitive loop instead, while
  * computing the *same sequential left-to-right Double folds* as the
  * HOF formulations (graft.functions.VectorFunctions) and the DuckDB
  * oracle — bit-identical results, orders of magnitude less dispatch.
  */
object VectorExpressions {

  /** Cosine similarity of two ARRAY<FLOAT> columns in one pass
    * (dot + both norms in a single loop). Null/zero-norm → null,
    * matching [[graft.functions.VectorFunctions.cosineSimilarity]]. */
  def cosine(a: Column, b: Column): Column = column(ArrayFloatCosine(expression(a), expression(b)))

  /** Neo4j score convention (1+cos)/2 on the codegen'd cosine. */
  def neo4jScoreFast(a: Column, b: Column): Column =
    (org.apache.spark.sql.functions.lit(1.0) + cosine(a, b)) / 2.0

  /** Squared L2 distance of two vector columns (each ARRAY<FLOAT> or
    * ARRAY<DOUBLE>) in one primitive loop — the k-means assignment hot
    * path ([[graft.operators.SemDedup]] evaluates it corpus×k times per
    * iteration). Null on length mismatch, matching the `zip_with`
    * formulation's null-padding collapse. */
  def sqDist(a: Column, b: Column): Column = column(ArraySqDist(expression(a), expression(b)))

  /** Unit-length copy of a vector column (ARRAY<FLOAT> or
    * ARRAY<DOUBLE>) as ARRAY<DOUBLE>, in one loop per row — see
    * [[ArrayL2Normalize]]. */
  def l2Normalize(a: Column): Column = column(ArrayL2Normalize(expression(a)))

  /** Index of the centroid nearest to a vector column (ARRAY<FLOAT>
    * or ARRAY<DOUBLE>) under the 6-dp rounded squared L2 distance, ties
    * to the lowest index — see [[NearestCentroid]]. */
  def nearestCentroid(a: Column, centroids: Seq[Seq[Double]]): Column =
    column(NearestCentroid(expression(a), centroids.map(_.toVector).toVector))

  /** Intersection size of two pre-sorted distinct ARRAY<LONG> columns
    * via two-pointer merge — no per-row hash set allocation. */
  def sortedIntersectSize(a: Column, b: Column): Column =
    column(SortedLongIntersectSize(expression(a), expression(b)))

  /** Jaccard |A∩B|/|A∪B| of two pre-sorted distinct ARRAY<LONG>
    * columns, one two-pointer pass; null when both are empty. */
  def sortedJaccard(a: Column, b: Column): Column =
    column(SortedLongJaccard(expression(a), expression(b)))
}

/** cos(a, b) over float arrays; single sequential loop, Double math. */
case class ArrayFloatCosine(left: Expression, right: Expression)
  extends BinaryExpression {

  override val nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"arguments must be ARRAY<FLOAT>, got (${left.dataType}, ${right.dataType})")
  }
  override def dataType: DataType = DoubleType
  // zero-norm inputs yield null even when inputs are non-null
  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    // tail elements of the longer array still contribute to its norm
    var j = n
    while (j < a.numElements()) { val x = a.getFloat(j).toDouble; na += x * x; j += 1 }
    j = n
    while (j < b.numElements()) { val y = b.getFloat(j).toDouble; nb += y * y; j += 1 }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val denom = ctx.freshName("denom")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = (double) $a.getFloat($i);
         |  double $y = (double) $b.getFloat($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |for (int $i = $n; $i < $a.numElements(); $i++) {
         |  double $x = (double) $a.getFloat($i); $na += $x * $x;
         |}
         |for (int $i = $n; $i < $b.numElements(); $i++) {
         |  double $y = (double) $b.getFloat($i); $nb += $y * $y;
         |}
         |double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |if ($denom == 0.0) { ${ev.isNull} = true; } else { ${ev.value} = $dot / $denom; }
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Σ(aᵢ-bᵢ)² over float/double arrays; single sequential loop, Double
  * math (the same left-to-right fold as the HOF formulation — bit-equal,
  * asserted in ExpressionsSpec). Null when lengths differ: `zip_with`
  * pads the shorter side with null and the fold then collapses to null,
  * so this is the HOF result for that case too. */
case class ArraySqDist(left: Expression, right: Expression)
  extends BinaryExpression {

  override val nullIntolerant: Boolean = true
  // length-mismatched inputs yield null even when inputs are non-null
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"arguments must be ARRAY<FLOAT> or ARRAY<DOUBLE>, got (${left.dataType}, ${right.dataType})")
  }
  override def dataType: DataType = DoubleType

  private def floatElems(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    val af = floatElems(left); val bf = floatElems(right)
    var s = 0.0
    var i = 0
    while (i < n) {
      val x = if (af) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bf) b.getFloat(i).toDouble else b.getDouble(i)
      val d = x - y
      s += d * d
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val getA = if (floatElems(left)) "getFloat" else "getDouble"
    val getB = if (floatElems(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) { ${ev.isNull} = true; } else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $d = (double) $a.$getA($i) - (double) $b.$getB($i);
         |    $s += $d * $d;
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Loop bodies of [[ArrayL2Normalize]] and [[NearestCentroid]], shared
  * by interpreted eval and generated code (one static call per row). */
object VectorOps {

  /** Element `i` of a float or double array, widened to Double. */
  @inline private def elem(a: ArrayData, floatElems: Boolean, i: Int): Double =
    if (floatElems) a.getFloat(i).toDouble else a.getDouble(i)

  /** `a / ‖a‖` as ARRAY<DOUBLE>. The squared norm is ONE left fold in
    * array order, so each element is `x / sqrt(Σ x²)` exactly as the
    * `transform(a, x => x / sqrt(aggregate(a, …)))` formulation
    * computes it. A null element makes that fold null, and a zero norm
    * fails its `n != 0` guard: both return the widened copy, nulls
    * kept. A NaN norm passes the guard (NaN divides every element). */
  def l2Normalize(a: ArrayData, floatElems: Boolean): ArrayData = {
    val n = a.numElements()
    val out = new Array[Double](n)
    var sq = 0.0
    var hasNull = false
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) hasNull = true
      else {
        val x = elem(a, floatElems, i)
        out(i) = x
        sq += x * x
      }
      i += 1
    }
    if (hasNull) {
      val boxed = new Array[Any](n)
      i = 0
      while (i < n) { if (!a.isNullAt(i)) boxed(i) = out(i); i += 1 }
      return new GenericArrayData(boxed)
    }
    val norm = math.sqrt(sq)
    if (norm != 0.0) {
      i = 0
      while (i < n) { out(i) = out(i) / norm; i += 1 }
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Spark's `round(d, 6)` on a double (HALF_UP on the shortest
    * decimal form of `d`; NaN and ±∞ pass through). */
  def round6(d: Double): Double =
    if (d.isNaN || d.isInfinite) d
    else java.math.BigDecimal.valueOf(d)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Argmin over `centroids` of `round(Σ(aᵢ-cᵢ)², 6)`: a null `a` or a
    * length mismatch scores +∞, scores compare under Spark's double
    * ordering (NaN above +∞) and a tie keeps the lowest index, so an
    * all-+∞ (or all-NaN) row is cell 0. */
  def nearestCell(a: ArrayData, floatElems: Boolean, centroids: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.PositiveInfinity
    var c = 0
    while (c < centroids.length) {
      val ce = centroids(c)
      val d =
        if (a == null || a.numElements() != ce.length) Double.PositiveInfinity
        else {
          var s = 0.0
          var i = 0
          while (i < ce.length) {
            val t = elem(a, floatElems, i) - ce(i)
            s += t * t
            i += 1
          }
          round6(s)
        }
      if (c == 0 || SQLOrderingUtil.compareDoubles(d, bestD) < 0) { best = c; bestD = d }
      c += 1
    }
    best
  }
}

/** A unary expression over one ARRAY<FLOAT> or ARRAY<DOUBLE> vector. */
trait VectorInput extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"argument must be ARRAY<FLOAT> or ARRAY<DOUBLE>, got $t")
  }

  protected def floatElems: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
}

/** `a / ‖a‖` over a float or double array: one pass folds the squared
  * norm in array order, a second divides — where the higher-order
  * formulation (`transform` whose lambda re-folds the norm with
  * `aggregate`) is O(d²) interpreted arithmetic per row. Bit-identical
  * to it, zero-norm and null-element branches included (asserted in
  * IndexBuildSpec); null on a null array. */
case class ArrayL2Normalize(child: Expression) extends VectorInput {

  override val nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)

  override def nullSafeEval(a: Any): Any =
    VectorOps.l2Normalize(a.asInstanceOf[ArrayData], floatElems)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.expressions.VectorOps.l2Normalize($a, $floatElems)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Nearest-centroid index of a float or double array against a fixed
  * centroid table: the generated code holds the table ONCE as a
  * reference object and makes one call into [[VectorOps.nearestCell]],
  * so its size does not grow with k and its source does not change
  * with the table (a new table reuses the compiled class). The rule is
  * the one `array_min(array(struct(coalesce(round(sqDist, 6), +∞),
  * cell), …))` encodes — rounded distance first, lowest cell on a tie —
  * and the result is bit-identical to it (asserted in IndexBuildSpec).
  * Both earlier formulations inlined the table into the row's code: a
  * `when`-chain fold duplicated its running-best subtree at every step,
  * so its code grew 2^k and at k = 8 over 64 dims overflowed Janino's
  * 64 KB method limit into interpreted execution; `array_min` over one
  * struct per centroid is linear in k, but 16 centroids still generated
  * a 5,917-line projection class that every ingest compiled afresh.
  * Never null. */
case class NearestCentroid(child: Expression, centroids: Vector[Vector[Double]])
  extends VectorInput {

  require(centroids.nonEmpty, "nearest centroid of an empty table")

  @transient private lazy val table: Array[Array[Double]] = centroids.map(_.toArray).toArray

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    VectorOps.nearestCell(child.eval(input).asInstanceOf[ArrayData], floatElems, table)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val a = child.genCode(ctx)
    val cents = ctx.addReferenceObj("centroids", table, "double[][]")
    ev.copy(code = code"""
      |${a.code}
      |int ${ev.value} = graft.expressions.VectorOps.nearestCell(
      |  ${a.isNull} ? null : ${a.value}, $floatElems, $cents);
      """.stripMargin, isNull = FalseLiteral)
  }

  override def toString: String =
    s"nearest_centroid($child, ${centroids.size}x${centroids.head.size})"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Jaccard of two sorted distinct ARRAY<LONG> inputs in one pass;
  * null when the union is empty (division undefined). */
case class SortedLongJaccard(left: Expression, right: Expression)
  extends BinaryExpression {

  override val nullIntolerant: Boolean = true
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"arguments must be ARRAY<BIGINT>, got (${left.dataType}, ${right.dataType})")
  }
  override def dataType: DataType = DoubleType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val v = HashOps.sortedJaccard(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    if (java.lang.Double.isNaN(v)) null else v
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val v = ctx.freshName("v")
      s"""
         |double $v = graft.expressions.HashOps.sortedJaccard($a, $b);
         |if (java.lang.Double.isNaN($v)) { ${ev.isNull} = true; } else { ${ev.value} = $v; }
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** |A ∩ B| for two sorted distinct ARRAY<LONG> inputs (two-pointer). */
case class SortedLongIntersectSize(left: Expression, right: Expression)
  extends BinaryExpression {

  override val nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"arguments must be ARRAY<BIGINT>, got (${left.dataType}, ${right.dataType})")
  }
  override def dataType: DataType = LongType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var c = 0L
    while (i < a.numElements() && j < b.numElements()) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $i = 0, $j = 0;
         |${ev.value} = 0L;
         |while ($i < $a.numElements() && $j < $b.numElements()) {
         |  long $x = $a.getLong($i); long $y = $b.getLong($j);
         |  if ($x == $y) { ${ev.value}++; $i++; $j++; }
         |  else if ($x < $y) { $i++; } else { $j++; }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
