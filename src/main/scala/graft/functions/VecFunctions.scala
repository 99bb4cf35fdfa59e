package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: dot product of two float vectors in double
  * precision, as one whole-stage-codegen'd tight loop.
  *
  * This replaces `aggregate(zip_with(a, b, _*_), 0d, _+_)` in the similarity
  * family — semantically identical (strict left-to-right fold, so results
  * stay bit-equal to the DuckDB oracles), but ~10× cheaper: the HOF pair
  * allocates an intermediate array and dispatches per element; this compiles
  * to `for (i) s += a[i]*b[i]` inside the surrounding codegen stage.
  *
  * Deliberately an Expression, not a UDF: codegen'd wherever the host
  * operator compiles its projections (WholeStageCodegen spans, and the
  * UnsafeProjection of non-WSCG operators like BroadcastNestedLoopJoin),
  * no serialization boundary, null-safe, and usable from SQL once injected
  * via [[GraftExtensions]].
  */
case class FloatVecDot(left: Expression, right: Expression)
  extends BinaryExpression {

  private def elemType(t: DataType): Option[DataType] = t match {
    case ArrayType(FloatType, _) => Some(FloatType)
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemType(left.dataType).isDefined && elemType(right.dataType).isDefined)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vdot expects (array<float|double>, array<float|double>), got (${left.dataType.sql}, ${right.dataType.sql})")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vdot"

  // per-side element accessor: double arrays (e.g. a centroid computed in
  // double precision) dot float corpora without materializing a cast array
  private def get(x: ArrayData, t: DataType, i: Int): Double = t match {
    case FloatType => x.getFloat(i).toDouble
    case _ => x.getDouble(i)
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val lt = elemType(left.dataType).get
    val rt = elemType(right.dataType).get
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0d
    var i = 0
    while (i < n) { s += get(x, lt, i) * get(y, rt, i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      def getter(src: String, t: DataType, idx: String): String = t match {
        case FloatType => s"(double) $src.getFloat($idx)"
        case _ => s"$src.getDouble($idx)"
      }
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += ${getter(a, elemType(left.dataType).get, i)} * ${getter(b, elemType(right.dataType).get, i)};
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVecDot =
    copy(left = newLeft, right = newRight)
}

/** Dense matrix-vector product y = R·x over a float vector: double
  * accumulation in ascending-index order (deterministic — the driver-side
  * trainer mirrors the identical loop), emitted as array<float>. This is
  * the OPQ pre-rotation: the matrix rides along as one broadcast-style
  * reference object per task, and the loop compiles into the scan's
  * whole-stage codegen — a per-row rotation costs rows×dims² multiplies
  * and NO shuffle at any corpus size. */
case class MatVecMul(child: Expression, matrix: Seq[Seq[Double]])
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  @transient private lazy val m: Array[Array[Double]] =
    matrix.map(_.toArray).toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) if matrix.nonEmpty =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"mat_vec expects array<float>, got ${child.dataType.sql}")
  }
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "mat_vec"

  override protected def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val out = new Array[Float](m.length)
    var i = 0
    while (i < m.length) {
      val row = m(i)
      var acc = 0.0d
      var j = 0
      while (j < row.length) { acc += row(j) * v.getFloat(j).toDouble; j += 1 }
      out(i) = acc.toFloat
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mRef = ctx.addReferenceObj("matrix", m, "double[][]")
    nullSafeCodeGen(ctx, ev, a => {
      val out = ctx.freshName("out")
      val row = ctx.freshName("row")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      s"""
         |float[] $out = new float[$mRef.length];
         |for (int $i = 0; $i < $mRef.length; $i++) {
         |  double[] $row = $mRef[$i];
         |  double $acc = 0.0;
         |  for (int $j = 0; $j < $row.length; $j++) {
         |    $acc += $row[$j] * (double) $a.getFloat($j);
         |  }
         |  $out[$i] = (float) $acc;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MatVecMul =
    copy(child = newChild)
}

/** DataFrame-API entry points for the native vector expressions. */
object Vec {
  import org.apache.spark.sql.{Column, GraftBridge}
  import org.apache.spark.sql.functions.sqrt

  /** Codegen'd double-precision dot product of two float vectors. */
  def vdot(a: Column, b: Column): Column =
    GraftBridge.column(FloatVecDot(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** L2 norm via vdot(a, a). */
  def vnorm(a: Column): Column = sqrt(vdot(a, a))

  /** Codegen'd y = R·x rotation (array<float> out). */
  def matvec(a: Column, matrix: Seq[Seq[Double]]): Column =
    GraftBridge.column(MatVecMul(GraftBridge.expression(a), matrix))
}

/** SparkSessionExtensions hook registering the graft native functions —
  * enable with `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`.
  * After that, `expr("vdot(a, b)")` / `expr("ngram_hashes(ws, 5)")` (or
  * plain SQL text through the gateway) resolve to the codegen expressions,
  * so SQL-only users get the same hot loops the DataFrame API uses. The
  * matrix/plane-parameterized expressions (MatVecMul, HyperplaneSigs, PQ)
  * stay DataFrame-only — their model payload isn't expressible as a SQL
  * literal argument. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("vdot"),
      new ExpressionInfo(classOf[FloatVecDot].getName, "vdot"),
      (args: Seq[Expression]) => FloatVecDot(args.head, args(1))))
    ext.injectFunction((
      FunctionIdentifier("ngram_hashes"),
      new ExpressionInfo(classOf[NgramHashes].getName, "ngram_hashes"),
      (args: Seq[Expression]) => NgramHashes(args.head,
        args(1).eval().asInstanceOf[Int])))
    ext.injectFunction((
      FunctionIdentifier("minhash"),
      new ExpressionInfo(classOf[MinHashAgg].getName, "minhash"),
      (args: Seq[Expression]) => MinHashAgg(args.head,
        args(1).eval().asInstanceOf[Int]).toAggregateExpression()))
    ext.injectFunction((
      FunctionIdentifier("simhash"),
      new ExpressionInfo(classOf[SimHashAgg].getName, "simhash"),
      (args: Seq[Expression]) => SimHashAgg(args.head).toAggregateExpression()))
    ext.injectFunction((
      FunctionIdentifier("nfc_norm"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_norm"),
      (args: Seq[Expression]) => NfcNormalize(args.head)))
    // planning-time zone-map file pruning over graft table directories —
    // the transparent (no-API) half of the manifest-pruning story; guarded
    // to fire only on single-dir parquet relations with a manifest-stats
    // sidecar, so foreign datasets are untouched
    ext.injectOptimizerRule(s => graft.plans.ZoneMapPruneRule(s))
    // stats-sidecar join routing (broadcast vs shuffle from ANALYZE +
    // histogram metadata — the catalog CBO reaching the planner); guarded
    // to fire only on filtered scans of analyzed graft tables
    ext.injectOptimizerRule(s => graft.plans.CboRouteRule(s))
  }
}
