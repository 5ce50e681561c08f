package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, StructType}

/** Native Catalyst expression for the embedding hot loop: dot product of two
  * ARRAY<FLOAT> columns in double precision, with whole-stage codegen.
  *
  * The builtin alternative — `aggregate(zip_with(a,b,*),0d,+)` — allocates an
  * intermediate array per row and interprets the lambdas per element; this
  * expression compiles to a tight primitive loop, which is the difference
  * between scan-bound and CPU-bound ANN at 100TB.
  */
case class FloatDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "float_dot"

  // fail wrong-typed arguments at ANALYSIS time, not with a runtime
  // ClassCastException / codegen compile error inside the scan loop
  override def checkInputDataTypes(): TypeCheckResult =
    Seq(left, right).zipWithIndex.collectFirst {
      case (e, i) if !e.dataType.isInstanceOf[ArrayType] ||
        e.dataType.asInstanceOf[ArrayType].elementType != FloatType =>
        TypeCheckResult.TypeCheckFailure(
          s"argument ${i + 1} of $prettyName must be ARRAY<FLOAT>, got ${e.dataType.sql}")
    }.getOrElse(TypeCheckResult.TypeCheckSuccess)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd SQ8 asymmetric-distance scoring (ADC): cosine of a
  * scalar-quantized corpus vector against a float query, decoding inline —
  * `decoded_i = mn_i + code_i * step_i` — in ONE primitive loop that also
  * accumulates both norms. The builtin alternative (`zip_with` decode +
  * `aggregate` dot) allocates an intermediate array per row and interprets
  * three lambdas per element; the approximate pass scans the WHOLE corpus,
  * so at 100 TB this loop IS the scan.
  *
  * Children: codes ARRAY<INT>, query ARRAY<FLOAT>,
  * stats ARRAY<STRUCT<mn: DOUBLE, step: DOUBLE>> (per-dimension min/step).
  */
case class Sq8Cosine(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "sq8_cosine"

  // analysis-time typing (matches FloatDotProduct): the stats struct needs
  // exactly two DOUBLE fields; field NAMES are free so a struct(mn, step)
  // built under any aliases is accepted
  override def checkInputDataTypes(): TypeCheckResult = {
    def arrayOf(e: Expression, el: DataType => Boolean): Boolean = e.dataType match {
      case ArrayType(t, _) => el(t)
      case _ => false
    }
    if (!arrayOf(first, _ == IntegerType))
      TypeCheckResult.TypeCheckFailure(
        s"argument 1 of $prettyName must be ARRAY<INT>, got ${first.dataType.sql}")
    else if (!arrayOf(second, _ == FloatType))
      TypeCheckResult.TypeCheckFailure(
        s"argument 2 of $prettyName must be ARRAY<FLOAT>, got ${second.dataType.sql}")
    else if (!arrayOf(third, {
      case s: StructType => s.fields.length == 2 && s.fields.forall(_.dataType == DoubleType)
      case _ => false
    }))
      TypeCheckResult.TypeCheckFailure(
        s"argument 3 of $prettyName must be ARRAY<STRUCT<DOUBLE, DOUBLE>>, got ${third.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def nullSafeEval(c0: Any, q0: Any, s0: Any): Any = {
    val c = c0.asInstanceOf[ArrayData]
    val q = q0.asInstanceOf[ArrayData]
    val s = s0.asInstanceOf[ArrayData]
    val n = math.min(c.numElements(), math.min(q.numElements(), s.numElements()))
    var dot = 0.0; var d2 = 0.0; var q2 = 0.0
    var i = 0
    while (i < n) {
      val st = s.getStruct(i, 2)
      val d = st.getDouble(0) + c.getInt(i) * st.getDouble(1)
      val qa = q.getFloat(i).toDouble
      dot += d * qa; d2 += d * d; q2 += qa * qa
      i += 1
    }
    dot / (math.sqrt(d2) * math.sqrt(q2))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, q, s) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val d2 = ctx.freshName("d2")
      val q2 = ctx.freshName("q2")
      val st = ctx.freshName("st")
      val d = ctx.freshName("d")
      val qa = ctx.freshName("qa")
      s"""
         |int $n = java.lang.Math.min($c.numElements(),
         |  java.lang.Math.min($q.numElements(), $s.numElements()));
         |double $dot = 0.0; double $d2 = 0.0; double $q2 = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  org.apache.spark.sql.catalyst.InternalRow $st = $s.getStruct($i, 2);
         |  double $d = $st.getDouble(0) + $c.getInt($i) * $st.getDouble(1);
         |  double $qa = (double) $q.getFloat($i);
         |  $dot += $d * $qa; $d2 += $d * $d; $q2 += $qa * $qa;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($d2) * java.lang.Math.sqrt($q2));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Column builders for the vector kernels: each wraps its Catalyst node
  * directly (no session function registry), so any session can run them. */
object VectorExprs {
  import org.apache.spark.sql.functions.{sqrt, when}
  import org.apache.spark.sql.graft.ColumnBridge.{column, expression}

  def floatDot(a: Column, b: Column): Column =
    column(FloatDotProduct(expression(a), expression(b)))

  /** Cosine similarity via the codegen'd dot product. A zero-norm operand
    * yields 0.0 (no similarity) rather than an ANSI divide-by-zero — real
    * corpora do contain all-zero embeddings. */
  def fastCosine(a: Column, b: Column): Column = {
    val denom = sqrt(floatDot(a, a)) * sqrt(floatDot(b, b))
    when(denom === 0d, 0d).otherwise(floatDot(a, b) / denom)
  }

  /** Codegen'd SQ8 ADC cosine: codes ARRAY<INT>, query ARRAY<FLOAT>, stats
    * ARRAY<STRUCT<mn, step>>. */
  def sq8Cosine(codes: Column, q: Column, stats: Column): Column =
    column(Sq8Cosine(expression(codes), expression(q), expression(stats)))
}
