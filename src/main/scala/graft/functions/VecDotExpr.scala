package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/**
 * `vec_dot(a, b)` — the dot product of two `array<double>` columns as a NATIVE Catalyst
 * expression with whole-stage code generation.
 *
 * This is the hot inner loop of every embedding operator (brute-force cosine top-k, LSH
 * sign projections, IVF centroid probes, near-dup verification — `ext/Similarity`): at
 * n vectors × q queries the fold runs n·q·dim multiply-adds. The higher-order-function
 * formulation (`aggregate(zip_with(a, b, _*_), 0.0, _+_)`) evaluates INTERPRETED — one
 * lambda dispatch per element with boxed accumulator state — because HOFs are
 * CodegenFallback. `doGenCode` here emits the primitive `double` loop directly into the
 * enclosing WholeStageCodegen stage: no virtual calls, no boxing, no per-element branch
 * beyond the null check, JIT-vectorizable. Measured at ANN fan-out (200 broadcast queries
 * × 2000 vectors × 64 dims, local[32], sf0.1): HOF fold 1.80 s median vs native 0.24 s —
 * ~7.5× including the join/aggregate overhead both share.
 *
 * Semantics are BIT-IDENTICAL to the HOF fold the engine shipped first (and to DuckDB's
 * `list_dot_product`, which the oracle compares against): a strictly sequential
 * left-to-right sum of products — same IEEE rounding sequence — with the fold's null
 * algebra preserved exactly:
 *   - either input array NULL → NULL (standard null propagation);
 *   - length mismatch → NULL (`zip_with` pads the shorter side with null elements, which
 *     poisons the fold's accumulator);
 *   - any NULL element → NULL (null product poisons the accumulator the same way).
 *
 * Element-type polymorphic over `array<double>` and `array<long>`: the integer variant is
 * the exact-arithmetic path of the milli-quantized embedding operators
 * (`simsearch_kmeans_iter`, `simsearch_pq`) and uses `Math.multiplyExact`/`addExact` so a
 * 64-bit overflow stays LOUD (an ArithmeticException). The fold this replaced ran under
 * the engine's default NON-ANSI mode and would have wrapped silently on overflow, so this
 * is a deliberate behavior CHANGE toward strictness, not a preserved semantic —
 * unreachable today, but if quantization scale ever grows, overflow surfaces as an error
 * here where the old fold would have corrupted results. One documented divergence in
 * that corner: the loop short-circuits to NULL on a null element / length mismatch BEFORE reaching a later
 * overflowing product, while the HOF fold materializes every pairwise product first
 * (zip_with) and would throw. Null-or-mismatch inputs that ALSO overflow are outside any
 * caller's contract here (quantization bounds products to ~2^40); choosing NULL keeps the
 * null algebra primary.
 */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {

  // analysis-time type gate (AbstractDataType/ImplicitCastInputTypes are private[sql]):
  // both children must already be array<double> or both array<long> — call sites cast
  override def checkInputDataTypes(): TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) => TypeCheckResult.TypeCheckSuccess
      case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<double> or two array<long> arguments, got " +
          s"${l.simpleString} and ${r.simpleString}")
    }
  }
  private def isLong: Boolean = left.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }
  override def dataType: DataType = if (isLong) LongType else DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_dot"

  override def eval(input: InternalRow): Any = {
    val l = left.eval(input)
    if (l == null) return null
    val r = right.eval(input)
    if (r == null) return null
    val x = l.asInstanceOf[ArrayData]
    val y = r.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var i = 0
    if (isLong) {
      var s = 0L
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        s = Math.addExact(s, Math.multiplyExact(x.getLong(i), y.getLong(i)))
        i += 1
      }
      s
    } else {
      var s = 0.0
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        s += x.getDouble(i) * y.getDouble(i)
        i += 1
      }
      s
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val (decl, step) =
        if (isLong)
          (s"long $s = 0L;",
            s"$s = Math.addExact($s, Math.multiplyExact($x.getLong($i), $y.getLong($i)));")
        else
          (s"double $s = 0.0;", s"$s += $x.getDouble($i) * $y.getDouble($i);")
      s"""
         |final int $n = $x.numElements();
         |if ($y.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  $decl
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $step
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): VecDot = copy(left = newLeft, right = newRight)
}
