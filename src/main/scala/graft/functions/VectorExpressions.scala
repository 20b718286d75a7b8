package graft.functions

import scala.reflect.{ClassTag, classTag}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native codegen vector kernels (SURVEY.md §7.3's "custom surface" escape
  * hatch, exercised for the similarity operators): the composed
  * `aggregate(zip_with(...))` form allocates a zipped array and evaluates a
  * lambda per element per row — fine semantically, but it stays interpreted
  * inside whole-stage codegen. These expressions emit a tight fused loop
  * instead (no allocation, no virtual calls), which is the difference between
  * usable and unusable brute-force similarity at 10^6+ candidate pairs.
  *
  * Accumulation order is ascending-index, identical to the sequential
  * `aggregate` fold they replace — results are bit-identical, so oracle SQL
  * is unchanged.
  */
abstract class VectorBinaryExpression extends BinaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<double> arguments")
  }
}

/** `graft_dot(a, b)` — Σ a(i)·b(i), ascending i.
  *
  * Null/length semantics replicate the composed
  * `aggregate(zip_with(a,b,(x,y)->x*y), 0d, (acc,v)->acc+v)` form exactly:
  * mismatched lengths (zip_with null-pads the shorter side) or any null
  * element yield NULL — so [[RewriteVectorFolds]] is a pure strength
  * reduction, never a semantics change. */
case class DotProduct(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "graft_dot"
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getDouble(i) * y.getDouble(i); i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      // freshName, never fixed locals: with NON-nullable children the
      // emitted code gets no enclosing block scope, so two kernels in one
      // projection would redeclare the same variable — a janino compile
      // error and a silent fallback to interpreted execution
      val (n, i, acc) = (ctx.freshName("n"), ctx.freshName("i"), ctx.freshName("acc"))
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += $x.getDouble($i) * $y.getDouble($i);
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

/** `graft_cosine(a, b)` — dot(a,b) / (sqrt(dot(a,a)) * sqrt(dot(b,b))),
  * all three accumulators in one fused pass. Same null/length semantics as
  * [[DotProduct]]: mismatched lengths or a null element yield NULL. */
case class CosineSimilarity(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "graft_cosine"
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = x.getDouble(i); val yv = y.getDouble(i)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      // freshName for every local — see DotProduct.doGenCode
      val (n, i) = (ctx.freshName("n"), ctx.freshName("i"))
      val (dot, na, nb) = (ctx.freshName("dot"), ctx.freshName("na"), ctx.freshName("nb"))
      val (xv, yv) = (ctx.freshName("xv"), ctx.freshName("yv"))
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $xv = $x.getDouble($i);
         |    double $yv = $y.getDouble($i);
         |    $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $dot / (Math.sqrt($na) * Math.sqrt($nb));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimilarity =
    copy(left = l, right = r)
}

/** Optimizer rule: rewrite the composed higher-order-function dot product
  *   `aggregate(zip_with(a, b, (x, y) -> x * y), 0.0, (acc, v) -> acc + v)`
  * into the fused [[DotProduct]] kernel (double arrays) or [[QDotProduct]]
  * (bigint arrays, zero spelled `0L`), and the squared-norm fold
  *   `aggregate(a, 0L, (acc, x) -> acc + x * x)`
  * into [[QNorm2]]. Users keep writing the declarative form; the plan gets
  * the tight loop (same ascending fold → same result; long sums are exact,
  * so the integer rewrites are trivially bit-identical).
  *
  * The match is exact, not shape-based: the Multiply operands must be
  * precisely the zip_with lambda's two (distinct) parameters and the Add
  * operands precisely the merge lambda's two parameters — `(x, y) -> x * x`
  * or `(acc, v) -> acc + acc` must NOT rewrite — and the finalize lambda
  * must be the identity on its own parameter. The kernels replicate
  * zip_with's null/length-pad semantics, so no type-level nullability guard
  * is needed: the rewrite is sound for every input.
  */
object RewriteVectorFolds extends org.apache.spark.sql.catalyst.rules.Rule[
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions._
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
  import org.apache.spark.sql.types.LongType

  private def isZero(e: Expression): Boolean = e match {
    case Literal(0.0, DoubleType) => true
    case Cast(Literal(0, _), DoubleType, _, _) => true
    case _ => false
  }
  private def isZeroL(e: Expression): Boolean = e match {
    case Literal(0L, LongType) => true
    case Cast(Literal(0, _), LongType, _, _) => true
    case _ => false
  }
  private def isDoubleArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }
  private def isLongArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  /** The binary op's operands are exactly the lambda's two distinct
    * parameters (either order), referenced by exprId — not merely any two
    * lambda variables in scope. */
  private def usesBothParams(l: Expression, r: Expression,
      args: Seq[NamedExpression]): Boolean = (l, r, args) match {
    case (lv: NamedLambdaVariable, rv: NamedLambdaVariable,
          Seq(a1: NamedLambdaVariable, a2: NamedLambdaVariable)) =>
      a1.exprId != a2.exprId &&
        Set(lv.exprId, rv.exprId) == Set(a1.exprId, a2.exprId)
    case _ => false
  }

  /** Finalize lambda is the identity on its own parameter. */
  private def isIdentityFinish(fin: Expression, finArgs: Seq[NamedExpression]): Boolean =
    (fin, finArgs) match {
      case (f: NamedLambdaVariable, Seq(fa: NamedLambdaVariable)) => fa.exprId == f.exprId
      case _ => false
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case ArrayAggregate(
        ZipWith(a, b, LambdaFunction(Multiply(ml, mr, _), zipArgs, _)),
        zero,
        LambdaFunction(Add(al, ar, _), mergeArgs, _),
        LambdaFunction(fin, finArgs, _))
      if isZero(zero) && isDoubleArray(a) && isDoubleArray(b) &&
        usesBothParams(ml, mr, zipArgs) &&
        usesBothParams(al, ar, mergeArgs) &&
        isIdentityFinish(fin, finArgs) =>
      DotProduct(a, b)
    // the same fold over BIGINT arrays with a 0L zero — the integer-grid
    // dot product the hash-gated ANN queries rank on
    case ArrayAggregate(
        ZipWith(a, b, LambdaFunction(Multiply(ml, mr, _), zipArgs, _)),
        zero,
        LambdaFunction(Add(al, ar, _), mergeArgs, _),
        LambdaFunction(fin, finArgs, _))
      if isZeroL(zero) && isLongArray(a) && isLongArray(b) &&
        usesBothParams(ml, mr, zipArgs) &&
        usesBothParams(al, ar, mergeArgs) &&
        isIdentityFinish(fin, finArgs) =>
      QDotProduct(a, b)
    // squared-norm fold `aggregate(a, 0L, (acc, x) -> acc + x * x)`: the
    // Multiply operands must BOTH be the element parameter and the other
    // Add operand the accumulator parameter (either Add order)
    case ArrayAggregate(
        a,
        zero,
        LambdaFunction(Add(al, ar, _), Seq(accP: NamedLambdaVariable, elemP: NamedLambdaVariable), _),
        LambdaFunction(fin, finArgs, _))
      if isZeroL(zero) && isLongArray(a) && accP.exprId != elemP.exprId &&
        isIdentityFinish(fin, finArgs) && {
          def isAcc(e: Expression) = e match {
            case v: NamedLambdaVariable => v.exprId == accP.exprId
            case _ => false
          }
          def isSq(e: Expression) = e match {
            case Multiply(x1: NamedLambdaVariable, x2: NamedLambdaVariable, _) =>
              x1.exprId == elemP.exprId && x2.exprId == elemP.exprId
            case _ => false
          }
          (isAcc(al) && isSq(ar)) || (isSq(al) && isAcc(ar))
        } =>
      QNorm2(a)
  }
}

/** The native functions [[graft.sources.GraftSqlExtensions]] injects at
  * session build, each with its arity check and its `DESCRIBE FUNCTION`
  * class. */
object GraftFunctions {

  type FunctionDescription = (FunctionIdentifier, ExpressionInfo, FunctionBuilder)

  /** Arity-checked builders: a wrong-argument-count call must surface as
    * the standard analysis error, not an IndexOutOfBoundsException from
    * `args(1)` during resolution. */
  private def binary[E <: Expression: ClassTag](name: String,
      f: (Expression, Expression) => E): FunctionDescription =
    describe[E](name, args => {
      require(args.length == 2,
        s"$name requires exactly 2 arguments, got ${args.length}")
      f(args(0), args(1))
    })
  private def unary[E <: Expression: ClassTag](name: String,
      f: Expression => E): FunctionDescription =
    describe[E](name, args => {
      require(args.length == 1,
        s"$name requires exactly 1 argument, got ${args.length}")
      f(args(0))
    })
  private def describe[E: ClassTag](name: String,
      builder: FunctionBuilder): FunctionDescription =
    (FunctionIdentifier(name),
      new ExpressionInfo(classTag[E].runtimeClass.getName, name), builder)

  private[graft] val fns: Seq[FunctionDescription] = Seq(
    binary("graft_dot", DotProduct),
    binary("graft_cosine", CosineSimilarity),
    binary("graft_qdot", QDotProduct),
    binary("graft_ql2", QL2Distance),
    unary("graft_qnorm2", QNorm2),
    binary("graft_qmatmul", QMatVec),
    binary("graft_minhash", MinHashSignature),
    unary("graft_nfc", NfcNormalize),
    unary("graft_nfkc", NfkcNormalize),
    unary("graft_strip_accents", StripAccents))
}
