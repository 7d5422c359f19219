package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Custom Catalyst expressions for the embedding hot path.
  *
  * Why custom: the built-in route for vector math is higher-order
  * functions (`aggregate`/`zip_with`/`transform`), which Spark always
  * evaluates interpreted (HigherOrderFunction has no codegen), and an
  * unrolled `element_at` sum for dim=64 blows whole-stage codegen past
  * the JVM method limit, falling back to interpreted tree-walking —
  * milliseconds per row. These expressions generate compact loops
  * instead: whole-stage codegen keeps working, the JIT vectorizes the
  * loop, and a candidate pair costs nanoseconds.
  *
  * Determinism contract (oracle parity): both expressions fold
  * left-to-right in index order from 0.0 in double precision — the
  * exact IEEE sequence of the DuckDB
  * `list_aggregate(list_transform(...), 'sum')` twin,
  * [[Vectors.dotSql]]. The interpreted `eval` and the generated code
  * use the same loop, so results are identical under either execution
  * mode.
  */
object VectorExpressions {

  /** dot(array<float>, array<float>) → double, left-to-right from 0.0. */
  case class DotFloat(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      def isFloatArray(t: DataType): Boolean = t match {
        case ArrayType(FloatType, _) => true
        case _                       => false
      }
      if (isFloatArray(left.dataType) && isFloatArray(right.dataType)) {
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      } else {
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_dot expects array<float> inputs, got ${left.dataType} / ${right.dataType}")
      }
    }

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var sum = 0.0
      var i = 0
      while (i < n) {
        sum += x.getFloat(i).toDouble * y.getFloat(i).toDouble
        i += 1
      }
      sum
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val sum = ctx.freshName("sum")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $sum = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $sum += (double) $a.getFloat($i) * (double) $b.getFloat($i);
           |}
           |${ev.value} = $sum;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Element-wise difference of two array<float> vectors (length = the
    * shorter input) — the residual step of IVF-PQ encoding. Float
    * subtraction is correctly rounded IEEE, identical in any engine. */
  case class SubFloat(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = ArrayType(FloatType, containsNull = false)
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      def isFloatArray(t: DataType): Boolean = t match {
        case ArrayType(FloatType, _) => true
        case _                       => false
      }
      if (isFloatArray(left.dataType) && isFloatArray(right.dataType)) {
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      } else {
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_sub expects array<float> inputs, got ${left.dataType} / ${right.dataType}")
      }
    }

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      val out = new Array[Float](n)
      var i = 0
      while (i < n) {
        out(i) = x.getFloat(i) - y.getFloat(i)
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val out = ctx.freshName("out")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |float[] $out = new float[$n];
           |for (int $i = 0; $i < $n; $i++) {
           |  $out[$i] = $a.getFloat($i) - $b.getFloat($i);
           |}
           |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
         """.stripMargin
      })

    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** SRP-LSH bucket code of an array<float> vector: bit p is set iff
    * sum_i(±v[i]) > 0, where the sign of (plane p, dim i) is +1 when
    * md5("p:i") has an odd last byte. Signs are data-free deterministic
    * constants — identical on every executor and inlineable by the
    * DuckDB oracle as literal ±1 lists (±x is exactly x * ±1.0 in
    * IEEE, so the twin matches bit-for-bit). */
  case class SrpBucket(child: Expression, numPlanes: Int, dim: Int) extends UnaryExpression {
    override def dataType: DataType = LongType

    @transient lazy val signs: Array[Array[Byte]] = SrpBucket.signMatrix(numPlanes, dim)

    override def nullSafeEval(input: Any): Any = {
      val v = input.asInstanceOf[ArrayData]
      val d = math.min(dim, v.numElements())
      var code = 0L
      var p = 0
      while (p < numPlanes) {
        val s = signs(p)
        var proj = 0.0
        var i = 0
        while (i < d) {
          val x = v.getFloat(i).toDouble
          proj += (if (s(i) == 1) x else -x)
          i += 1
        }
        if (proj > 0) code |= (1L << p)
        p += 1
      }
      code
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val signsRef = ctx.addReferenceObj("srpSigns", signs, "byte[][]")
      nullSafeCodeGen(ctx, ev, v => {
        val d = ctx.freshName("d")
        val p = ctx.freshName("p")
        val i = ctx.freshName("i")
        val proj = ctx.freshName("proj")
        val code = ctx.freshName("code")
        val s = ctx.freshName("s")
        val x = ctx.freshName("x")
        s"""
           |int $d = java.lang.Math.min($dim, $v.numElements());
           |long $code = 0L;
           |for (int $p = 0; $p < $numPlanes; $p++) {
           |  byte[] $s = $signsRef[$p];
           |  double $proj = 0.0;
           |  for (int $i = 0; $i < $d; $i++) {
           |    double $x = (double) $v.getFloat($i);
           |    $proj += ($s[$i] == 1) ? $x : -$x;
           |  }
           |  if ($proj > 0) $code |= (1L << $p);
           |}
           |${ev.value} = $code;
         """.stripMargin
      })
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  object SrpBucket {
    /** md5-derived ±1 hyperplane signs, identical to the DuckDB twin's
      * inlined literal lists. */
    def signMatrix(numPlanes: Int, dim: Int): Array[Array[Byte]] =
      Array.tabulate(numPlanes, dim) { (p, d) =>
        val md5 = java.security.MessageDigest.getInstance("MD5").digest(s"$p:$d".getBytes("UTF-8"))
        if ((md5.last & 1) == 1) 1.toByte else -1.toByte
      }
  }

  // --- Column wrappers -------------------------------------------------------

  private def asCol(e: Expression): Column =
    org.apache.spark.sql.GraftSqlBridge.column(e)

  private def asExpr(c: Column): Expression =
    org.apache.spark.sql.GraftSqlBridge.expression(c)

  /** Codegen'd float-array dot product (see [[DotFloat]]). */
  def dotF(a: Column, b: Column): Column = asCol(DotFloat(asExpr(a), asExpr(b)))

  def normF(a: Column): Column = org.apache.spark.sql.functions.sqrt(dotF(a, a))

  /** Codegen'd float-array element-wise difference (see [[SubFloat]]). */
  def subF(a: Column, b: Column): Column = asCol(SubFloat(asExpr(a), asExpr(b)))

  /** Codegen'd SRP bucket code (see [[SrpBucket]]). */
  def srpBucket(v: Column, numPlanes: Int, dim: Int): Column =
    asCol(SrpBucket(asExpr(v), numPlanes, dim))
}
