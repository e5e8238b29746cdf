package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DecimalType, DoubleType, FloatType, LongType, StringType}

/** Native Catalyst expressions for the vector hot path.
  *
  * The higher-order-function formulation in [[graft.operators.Similarity]]
  * (`zip_with` + `aggregate`) is semantically right but evaluates interpreted
  * lambdas per element (HOFs are CodegenFallback). For the ANN/near-dup inner
  * loops — millions of 64-dim cosines — this codegen'd expression compiles to
  * a tight fused Java loop inside whole-stage codegen instead.
  *
  * Accumulation order is IDENTICAL to the HOF form (sequential, float widened
  * to double before multiply), so swapping it in changes performance only —
  * results stay bit-identical, which the DuckDB oracle gate re-proves on
  * every run.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments, got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true // unequal lengths / null elements
  override def prettyName: String = "cosine_similarity"

  // Null algebra matches the cosineHof composition it claims bit-parity
  // with: zip_with null-pads the shorter array, so unequal lengths poison
  // the dot to null; a null ELEMENT likewise poisons (ArrayData's getFloat
  // ignores the null bitmap — the round-7 mat_vec lesson — so the bitmap is
  // checked explicitly rather than silently reading 0.0).
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) null
    else {
      val n = a.numElements()
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        if (a.isNullAt(i) || b.isNullAt(i)) return null
        val x = a.getFloat(i).toDouble
        val y = b.getFloat(i).toDouble
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // fresh names: two instances of this expression can share one generated
      // method (split thresholds permitting) — fixed names fail janino with
      // "Redefinition of local variable" and drop the projection to
      // interpreted mode
      val n = ctx.freshName("n"); val dot = ctx.freshName("dot")
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val i = ctx.freshName("i"); val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val bad = ctx.freshName("bad")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  boolean $bad = false;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
         |    double $x = (double) $a.getFloat($i);
         |    double $y = (double) $b.getFloat($i);
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |  if ($bad) { ${ev.isNull} = true; }
         |  else { ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb)); }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Intersection cardinality of two SORTED string arrays via a single merge
  * pass — the hot inner loop of set-similarity verification.
  *
  * The built-in formulation `size(filter(a, x => array_contains(b, x)))` is
  * O(|a|*|b|) with interpreted lambda evaluation per element (HOFs are
  * CodegenFallback): at sf0.1 that is ~90k LSH candidate pairs x ~90k
  * interpreted comparisons each. This expression is O(|a|+|b|) compiled
  * byte-compares. Inputs MUST be sorted ascending (binary UTF8 order, i.e.
  * `sort_array`) and null-free; distinct inputs yield set-intersection size.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(StringType, _) => true
      case _                        => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<string> arguments")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_intersect_count"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val (n1, n2) = (a.numElements(), b.numElements())
    var i = 0; var j = 0; var cnt = 0L
    while (i < n1 && j < n2) {
      val c = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (c == 0) { cnt += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    cnt
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // fresh names — see CosineSimilarity.doGenCode
      val n1 = ctx.freshName("n1"); val n2 = ctx.freshName("n2")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val cnt = ctx.freshName("cnt"); val c = ctx.freshName("c")
      s"""
         |int $n1 = $a.numElements(), $n2 = $b.numElements();
         |int $i = 0, $j = 0; long $cnt = 0L;
         |while ($i < $n1 && $j < $n2) {
         |  int $c = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
         |  if ($c == 0) { $cnt++; $i++; $j++; }
         |  else if ($c < 0) $i++;
         |  else $j++;
         |}
         |${ev.value} = $cnt;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** DECIMAL-exact squared distances of one vector to a packed centroid matrix,
  * all centroids in a single call: `(array<float|double>, array<array<double>>)
  * -> array<decimal(38,18)>`, element i = squared L2 distance to centroid i.
  *
  * This is the vectorized IVF-build kernel (`IvfIndex`): round 1 computed the
  * same distances by exploding vectors to (vec, dim, v) rows and joining
  * centroids on `dim` — a 64x row inflation x nLists intermediate before the
  * group-by. Here the centroid matrix is tiny (nLists x dims), travels as a
  * broadcast literal, and each vector row produces its nLists distances in one
  * fused loop — no explode, no join, no re-aggregation.
  *
  * Determinism contract (oracle-enforced): each per-dimension term is computed
  * in doubles exactly as the exploded form did (`(v - c) * (v - c)` with
  * float widened to double), then converted with EXACTLY Spark's
  * `cast(double AS decimal(38,18))` semantics — shortest decimal
  * representation (`BigDecimal.valueOf`) then HALF_UP to scale 18 — and summed
  * with exact BigDecimal addition. The result is bit-identical to
  * `sum(cast((v - c) * (v - c) as decimal(38,18)))` regardless of
  * partitioning, so the DuckDB oracle for the IVF query is unchanged.
  */
case class SquaredDistances(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val vecOk = left.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _                                    => false
    }
    val centsOk = right.dataType match {
      case ArrayType(ArrayType(DoubleType, _), _) => true
      case _                                      => false
    }
    if (vecOk && centsOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<float|double>, array<array<double>>), got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }
  override def dataType: DataType =
    ArrayType(DecimalType(38, 18), containsNull = false)
  override def prettyName: String = "squared_distances"

  // lazy: left.dataType is only legal after analysis resolves the children
  private lazy val vecIsFloat = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    SquaredDistances.compute(l.asInstanceOf[ArrayData],
      r.asInstanceOf[ArrayData], vecIsFloat)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${ev.value} = graft.functions.SquaredDistances.compute(
         |  $a, $b, $vecIsFloat);""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SquaredDistances {
  import java.math.{BigDecimal => JBig, RoundingMode}
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.sql.types.Decimal

  /** Shared by interpreted eval and codegen (the generated code just calls
    * this — the loop body is BigDecimal arithmetic either way). */
  def compute(vec: ArrayData, cents: ArrayData, vecIsFloat: Boolean): ArrayData = {
    val nLists = cents.numElements()
    val out = new Array[Any](nLists)
    var li = 0
    while (li < nLists) {
      val c = cents.getArray(li)
      // ragged embeddings must fail fast, not silently truncate to the
      // shorter vector and return plausible-but-wrong distances
      if (vec.numElements() != c.numElements())
        throw new IllegalArgumentException(
          s"squared_distances: vector dim ${vec.numElements()} != " +
            s"centroid dim ${c.numElements()} (list position $li)")
      val n = vec.numElements()
      var acc = JBig.ZERO
      var i = 0
      while (i < n) {
        // A NULL element in either operand makes the exploded form's term
        // (v - c) * (v - c) NULL, and sum() skips null terms — mirror by
        // skipping (ArrayData getFloat/getDouble ignore the null bitmap and
        // would silently read 0.0 — the round-7 mat_vec lesson).
        if (!vec.isNullAt(i) && !c.isNullAt(i)) {
          val v = if (vecIsFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
          val d = v - c.getDouble(i)
          val term = d * d
          // Spark's Cast(double -> decimal(38,18)): shortest decimal repr of
          // the double, then HALF_UP to scale 18 (Decimal.changePrecision). A
          // non-finite term under non-ANSI Cast becomes null, and sum() skips
          // null terms — mirror that by skipping the term rather than letting
          // JBig.valueOf throw NumberFormatException.
          if (java.lang.Double.isFinite(term))
            acc = acc.add(JBig.valueOf(term).setScale(18, RoundingMode.HALF_UP))
        }
        i += 1
      }
      out(li) = Decimal(acc, 38, 18)
      li += 1
    }
    new GenericArrayData(out)
  }
}

/** Plain dot product with the EXACT semantics of the canonical HOF form
  * `aggregate(zip_with(x, y, (a,b) -> a·b), 0.0, (s,v) -> s+v)`
  * ([[graft.operators.Similarity.dot]]), bit-for-bit INCLUDING the null
  * algebra: `zip_with` null-pads the shorter array (unequal lengths poison
  * the sum to null), a null element yields a null product which poisons
  * the running `acc + null`, and two empty arrays fold to the zero literal
  * 0.0. Accumulation is sequential
  * ascending-index with floats widened to double before the multiply. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _                                    => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float|double> arguments, got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true // unequal lengths / null elements
  override def prettyName: String = "dot_product"

  private def isFloat(e: Expression) = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) null
    else {
      val n = a.numElements()
      val (fa, fb) = (isFloat(left), isFloat(right))
      var acc = 0.0
      var i = 0
      while (i < n) {
        if (a.isNullAt(i) || b.isNullAt(i)) return null
        val x = if (fa) a.getFloat(i).toDouble else a.getDouble(i)
        val y = if (fb) b.getFloat(i).toDouble else b.getDouble(i)
        acc += x * y
        i += 1
      }
      acc
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val acc = ctx.freshName("acc")
      val i = ctx.freshName("i"); val bad = ctx.freshName("bad")
      def get(arr: String, e: Expression, idx: String) =
        if (isFloat(e)) s"(double) $arr.getFloat($idx)" else s"$arr.getDouble($idx)"
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $acc = 0.0;
         |  boolean $bad = false;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
         |    $acc += ${get(a, left, i)} * ${get(b, right, i)};
         |  }
         |  if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Dense matrix·vector product: `out[r] = Σ_i mat[r][i]·vec[i]` with the
  * accumulation running in ascending element order — BIT-IDENTICAL to the
  * `aggregate(zip_with(mat[r], vec, _*_), 0.0, _+_)` HOF form it replaces
  * (the PCA projection / Parseval hot path: d² interpreted boxed lambda
  * evaluations per row become one fused loop). Matrix rows are typically a
  * driver-fitted model literal. Ragged dims fail fast. */
case class MatVecProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val vecOk = left.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _                                    => false
    }
    val matOk = right.dataType match {
      case ArrayType(ArrayType(DoubleType, _), _) => true
      case _                                      => false
    }
    if (vecOk && matOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<float|double>, array<array<double>>), got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }
  // an output element is null iff any consumed input element is null (the
  // HOF fold contract: zip_with multiplies null→null, and the running
  // `a + null` poisons the accumulator) — OR the matrix ROW itself is null
  // (compute() emits a null output element for a null outer row), so the
  // matrix's OUTER containsNull must be included too or downstream unsafe
  // serialization that trusts the schema could read a null slot as 0.0
  override def dataType: DataType = ArrayType(DoubleType,
    containsNull = left.dataType.asInstanceOf[ArrayType].containsNull ||
      (right.dataType match {
        case ArrayType(ArrayType(_, inner), outerNull) => inner || outerNull
        case _                                         => false
      }))
  override def prettyName: String = "mat_vec"

  private lazy val vecIsFloat = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    MatVecProduct.compute(l.asInstanceOf[ArrayData],
      r.asInstanceOf[ArrayData], vecIsFloat)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${ev.value} = graft.functions.MatVecProduct.compute(
         |  $a, $b, $vecIsFloat);""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object MatVecProduct {
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  /** Shared by interpreted eval and codegen. Sequential ascending-index
    * accumulation — the HOF fold order, bit-for-bit, INCLUDING null
    * semantics: a null element in either operand poisons that output
    * element to null (`zip_with` multiplies null→null, and the running
    * `acc + null` stays null), never silently reads as 0.0 — ArrayData's
    * getFloat/getDouble ignore the null bitmap, so the bitmap is checked
    * explicitly. A null row in the matrix likewise yields a null output. */
  def compute(vec: ArrayData, mat: ArrayData, vecIsFloat: Boolean): ArrayData = {
    val nRows = mat.numElements()
    val out = new Array[Any](nRows)
    var r = 0
    while (r < nRows) {
      if (mat.isNullAt(r)) { out(r) = null; r += 1 }
      else {
        val row = mat.getArray(r)
        if (vec.numElements() != row.numElements())
          throw new IllegalArgumentException(
            s"mat_vec: vector dim ${vec.numElements()} != " +
              s"matrix row dim ${row.numElements()} (row $r)")
        val n = vec.numElements()
        var acc = 0.0
        var sawNull = false
        var i = 0
        while (i < n && !sawNull) {
          if (vec.isNullAt(i) || row.isNullAt(i)) sawNull = true
          else {
            val v = if (vecIsFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
            acc += row.getDouble(i) * v
          }
          i += 1
        }
        out(r) = if (sawNull) null else acc
        r += 1
      }
    }
    new GenericArrayData(out)
  }
}

/** Elementwise difference with zip_with's EXACT padding/null algebra — the
  * residual-quantization hot path (`v − centroid`, graft.operators.PqIndex):
  * `zip_with(a, b, (x, y) -> x − y)` is CodegenFallback and pays an
  * interpreted boxed lambda per element over the whole corpus at encode
  * time; this fuses into whole-stage codegen. Contract (bit-for-bit, spec-
  * asserted by ZipWithSubtractRewriteSpec):
  *  - output length = max(|a|, |b|) — zip_with PADS the shorter side with
  *    nulls, it does not truncate;
  *  - an output element is null iff either side is null-or-missing at that
  *    index (null − y = null);
  *  - floats widen to double BEFORE subtracting — the twin of a lambda
  *    over double-cast operands, not of a raw float − float (which rounds
  *    to float first). */
case class ZipSubtract(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _                                    => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float|double> arguments, got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }
  // zip_with always declares containsNull=true (padding can introduce nulls)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def prettyName: String = "zip_subtract"

  private def isFloat(e: Expression) = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    ZipSubtract.compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData],
      isFloat(left), isFloat(right))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${ev.value} = graft.functions.ZipSubtract.compute(
         |  $a, $b, ${isFloat(left)}, ${isFloat(right)});""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ZipSubtract {
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  /** Shared by interpreted eval and codegen. The null bitmap is checked
    * explicitly (ArrayData's getFloat/getDouble ignore it — the mat_vec
    * lesson); indexes past the shorter side are zip_with padding → null. */
  def compute(a: ArrayData, b: ArrayData,
              aFloat: Boolean, bFloat: Boolean): ArrayData = {
    val na = a.numElements()
    val nb = b.numElements()
    val n = math.max(na, nb)
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) =
        if (i >= na || i >= nb || a.isNullAt(i) || b.isNullAt(i)) null
        else {
          val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
          val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
          x - y
        }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Integer dot product over two `array<bigint>` columns with the exact
  * `aggregate(zip_with(a, b, (x, y) -> x·y), 0L, (s, v) -> s+v)` contract —
  * the int8-quantized scoring loop of the SQ ANN lane
  * (graft.operators.Similarity.sqTopK), which otherwise pays an interpreted
  * lambda per element across the corpus × query crossJoin. Long arithmetic
  * is order-insensitive only in the absence of overflow; accumulation is
  * sequential ascending anyway (the HOF fold order). `failOnError` mirrors
  * the ANSI mode the HOF's Multiply/Add would capture: overflow throws the
  * same ARITHMETIC_OVERFLOW SparkArithmeticException (minus the SQL-fragment
  * query context) instead of wrapping. Null algebra: unequal lengths (the
  * zip_with pad) or a null element poison the sum to null — and on that
  * failure path the ANSI THROW contract is still reproduced: zip_with
  * evaluates a product for every overlap index whose two elements are
  * non-null (even past a null element or under a length mismatch), so this
  * expression scans the full overlap with multiplyExact before returning
  * null, and an overflowing product after a null still throws exactly as
  * the HOF does. A null product only stops ACCUMULATION (the HOF fold goes
  * null-absorbing from the first null), never the overflow scan. The one
  * remaining collapse: the HOF evaluates ALL products before ANY fold step,
  * while this expression interleaves them in one pass — when a fold-step
  * overflow and a later product overflow coexist, the two forms throw the
  * same exception class but may differ in which site (try_add vs
  * try_multiply hint) reports first. Both always throw; nothing returns
  * null that the HOF would have thrown on. */
case class LongDotProduct(left: Expression, right: Expression,
                          failOnError: Boolean) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _                      => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> arguments, got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true // unequal lengths / null elements
  override def prettyName: String = "long_dot_product"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val mu = org.apache.spark.sql.catalyst.util.MathUtils
    if (failOnError) {
      // ANSI throw parity with the HOF (see scaladoc): zip_with evaluates
      // a product for EVERY overlap index with both elements non-null —
      // even past a null element or under a length mismatch — and the fold
      // adds products until the first null one. So a null/mismatch must
      // not short-circuit the overflow scan; it only stops accumulation.
      val m = math.min(a.numElements(), b.numElements())
      var acc = 0L
      var poisoned = false
      var i = 0
      while (i < m) {
        if (a.isNullAt(i) || b.isNullAt(i)) poisoned = true
        else {
          val p = mu.multiplyExact(a.getLong(i), b.getLong(i), null)
          if (!poisoned) acc = mu.addExact(acc, p, null)
        }
        i += 1
      }
      if (poisoned || a.numElements() != b.numElements()) null else acc
    } else if (a.numElements() != b.numElements()) null
    else {
      val n = a.numElements()
      var acc = 0L
      var i = 0
      while (i < n) {
        if (a.isNullAt(i) || b.isNullAt(i)) return null
        acc += a.getLong(i) * b.getLong(i)
        i += 1
      }
      acc
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val acc = ctx.freshName("acc")
      val i = ctx.freshName("i"); val bad = ctx.freshName("bad")
      val p = ctx.freshName("p")
      val mu = "org.apache.spark.sql.catalyst.util.MathUtils"
      if (failOnError)
        // ANSI throw parity (see scaladoc / nullSafeEval): scan the whole
        // overlap for product overflow even past a null or length mismatch;
        // a null product only stops accumulation, never the scan
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |long $acc = 0L;
           |boolean $bad = false;
           |for (int $i = 0; $i < $n; $i++) {
           |  if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; }
           |  else {
           |    long $p = $mu.multiplyExact($a.getLong($i), $b.getLong($i), null);
           |    if (!$bad) { $acc = $mu.addExact($acc, $p, null); }
           |  }
           |}
           |if ($bad || $a.numElements() != $b.numElements()) {
           |  ${ev.isNull} = true;
           |} else { ${ev.value} = $acc; }
         """.stripMargin
      else
        s"""
           |if ($a.numElements() != $b.numElements()) {
           |  ${ev.isNull} = true;
           |} else {
           |  int $n = $a.numElements();
           |  long $acc = 0L;
           |  boolean $bad = false;
           |  for (int $i = 0; $i < $n; $i++) {
           |    if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
           |    $acc += $a.getLong($i) * $b.getLong($i);
           |  }
           |  if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = $acc; }
           |}
         """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Sum of squares with the exact single-array fold contract
  * `aggregate(v, 0.0, (a, x) -> a + x·x)` — the ‖v‖² kernel under
  * [[graft.operators.VectorOps.l2Norm]] (quantization digests, unit
  * normalization) and the PCA Parseval audit. A UNARY expression rather
  * than `DotProduct(v, v)` so a non-attribute child is never evaluated
  * twice. Null algebra: a null element poisons the running sum to null
  * (x·x is null, `a + null` stays null); empty arrays fold to the +0.0
  * zero; floats widen to double BEFORE squaring. */
case class SumSquares(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double>, got ${other.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true // null elements poison
  override def prettyName: String = "sum_squares"

  private def isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val x = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      acc += x * x
      i += 1
    }
    acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val acc = ctx.freshName("acc")
      val i = ctx.freshName("i"); val x = ctx.freshName("x")
      val bad = ctx.freshName("bad")
      val get = if (isFloat) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      s"""
         |int $n = $a.numElements();
         |double $acc = 0.0;
         |boolean $bad = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) { $bad = true; break; }
         |  double $x = $get;
         |  $acc += $x * $x;
         |}
         |if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = $acc; }
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Fused cosine with the EXACT algebra of the three-fold composition
  * `dot(a,b) / (sqrt(dot(a,a)) · sqrt(dot(b,b)))` built from HOF (or
  * [[DotProduct]]) folds and Spark's `Divide` — NOT the same contract as
  * [[CosineSimilarity]], which predates it and yields IEEE NaN/Inf on
  * zero-norm inputs where `Divide` yields NULL (legacy) or throws
  * DIVIDE_BY_ZERO (ANSI). Each of the three accumulators runs its own
  * sequential ascending fold — fusing them into one pass reorders nothing
  * within any accumulator, so results are bit-identical to three separate
  * loops. `failOnError` mirrors the ANSI mode a `Divide` built at the same
  * point would capture; the thrown error carries no SQL-fragment query
  * context (the one documented divergence — error class and condition are
  * identical). */
case class CosineFold(left: Expression, right: Expression,
                      failOnError: Boolean) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _                                    => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float|double> arguments, got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_fold"

  private def isFloat(e: Expression) = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) null
    else {
      val n = a.numElements()
      val (fa, fb) = (isFloat(left), isFloat(right))
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        if (a.isNullAt(i) || b.isNullAt(i)) return null
        val x = if (fa) a.getFloat(i).toDouble else a.getDouble(i)
        val y = if (fb) b.getFloat(i).toDouble else b.getDouble(i)
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      val denom = math.sqrt(na) * math.sqrt(nb)
      if (denom == 0.0) {
        if (failOnError) throw CosineFold.divideByZeroError()
        else null
      } else dot / denom
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val dot = ctx.freshName("dot")
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val i = ctx.freshName("i"); val x = ctx.freshName("x")
      val y = ctx.freshName("y"); val bad = ctx.freshName("bad")
      val denom = ctx.freshName("denom")
      def get(arr: String, e: Expression, idx: String) =
        if (isFloat(e)) s"(double) $arr.getFloat($idx)" else s"$arr.getDouble($idx)"
      val onZero =
        if (failOnError)
          "throw graft.functions.CosineFold.divideByZeroError();"
        else s"${ev.isNull} = true;"
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  boolean $bad = false;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
         |    double $x = ${get(a, left, i)};
         |    double $y = ${get(b, right, i)};
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |  if ($bad) { ${ev.isNull} = true; }
         |  else {
         |    double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |    if ($denom == 0.0) { $onZero }
         |    else { ${ev.value} = $dot / $denom; }
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineFold {
  /** The identical DIVIDE_BY_ZERO error Spark's Divide throws under ANSI,
    * minus the SQL-fragment query context (failure-path-only divergence);
    * routed through the private[sql] bridge. */
  def divideByZeroError(): ArithmeticException =
    org.apache.spark.sql.graft.ColumnBridge.divideByZeroError()
}

object VectorFunctions {
  /** Column-level API: codegen'd cosine similarity over float vectors. */
  def cosine_similarity(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimilarity(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Codegen'd dot product (exact HOF `aggregate(zip_with(...))` contract). */
  def dot_product(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Codegen'd dense matrix·vector product (HOF-fold accumulation order). */
  def mat_vec(vec: Column, mat: Column): Column =
    ColumnBridge.column(MatVecProduct(
      ColumnBridge.expression(vec), ColumnBridge.expression(mat)))

  /** Codegen'd set-intersection size over sorted string arrays. */
  def sorted_intersect_count(a: Column, b: Column): Column =
    ColumnBridge.column(SortedIntersectCount(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** DECIMAL-exact squared distances to all packed centroids at once. */
  def squared_distances(vec: Column, cents: Column): Column =
    ColumnBridge.column(SquaredDistances(
      ColumnBridge.expression(vec), ColumnBridge.expression(cents)))

  /** Codegen'd elementwise difference with zip_with's pad/null algebra. */
  def zip_subtract(a: Column, b: Column): Column =
    ColumnBridge.column(ZipSubtract(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Codegen'd long dot product (exact HOF fold contract); the overflow
    * mode is read from `SQLConf` when the column is built, as a `Multiply`
    * built at the same point would capture it. */
  def long_dot_product(a: Column, b: Column): Column =
    ColumnBridge.column(LongDotProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b),
      org.apache.spark.sql.internal.SQLConf.get.ansiEnabled))

  /** Codegen'd fused cosine with the dot/sqrt/Divide COMPOSITION's exact
    * algebra (Divide-null/throw on zero norms, unlike [[CosineSimilarity]]'s
    * IEEE NaN); the ANSI mode is read from `SQLConf` when the column is
    * built, as a `Divide` built at the same point would capture it. */
  def cosine_fold(a: Column, b: Column): Column =
    ColumnBridge.column(CosineFold(
      ColumnBridge.expression(a), ColumnBridge.expression(b),
      org.apache.spark.sql.internal.SQLConf.get.ansiEnabled))

  /** Codegen'd ‖v‖² (exact `aggregate(v, 0.0, (a, x) -> a + x·x)` contract). */
  def sum_squares(v: Column): Column =
    ColumnBridge.column(SumSquares(ColumnBridge.expression(v)))
}
