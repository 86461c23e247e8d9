package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.types._

/**
 * Native Catalyst expressions for the vector-similarity hot path: a dot
 * product and an L2 norm over `array<float|double>` columns, with
 * whole-stage-codegen loops.
 *
 * Why: the equivalent `aggregate(zip_with(...))` higher-order fold is
 * interpreted (one closure call + boxing per element per row), and an
 * explicit 64-term `element_at` tree blows up janino compile time. A tight
 * generated `for` loop is both. Accumulation is left-to-right in double —
 * bit-identical to the fold and to a left-assoc SQL sum, so DuckDB-oracle
 * hash parity is preserved.
 */
object VectorExpressions {

  private def elemKind(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"vector expression expects array<float|double>, got ${other.simpleString}")
  }

  /** dot(a, b) = Σ a_i·b_i, null if any element is null; pairs truncate at
   *  the shorter length (inputs are expected equal-length). */
  case class ArrayDotProduct(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)

    override protected def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val aF = elemKind(left); val bF = elemKind(right)
      val n = math.min(a.numElements(), b.numElements())
      var acc = 0.0
      var i = 0
      while (i < n) {
        if (a.isNullAt(i) || b.isNullAt(i)) return null
        val x = if (aF) a.getFloat(i).toDouble else a.getDouble(i)
        val y = if (bF) b.getFloat(i).toDouble else b.getDouble(i)
        acc += x * y
        i += 1
      }
      acc
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val aGet = if (elemKind(left)) s"(double) $a.getFloat" else s"$a.getDouble"
        val bGet = if (elemKind(right)) s"(double) $b.getFloat" else s"$b.getDouble"
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val acc = ctx.freshName("acc")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $acc = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
           |  $acc += $aGet($i) * $bGet($i);
           |}
           |${ev.value} = $acc;
           |""".stripMargin
      })
  }

  /** |a| = sqrt(Σ a_i²), null if any element is null. */
  case class ArrayL2Norm(child: Expression) extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)

    override protected def nullSafeEval(v: Any): Any = {
      val a = v.asInstanceOf[ArrayData]
      val aF = elemKind(child)
      val n = a.numElements()
      var acc = 0.0
      var i = 0
      while (i < n) {
        if (a.isNullAt(i)) return null
        val x = if (aF) a.getFloat(i).toDouble else a.getDouble(i)
        acc += x * x
        i += 1
      }
      math.sqrt(acc)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val aGet = if (elemKind(child)) s"(double) $a.getFloat" else s"$a.getDouble"
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val acc = ctx.freshName("acc")
        val x = ctx.freshName("x")
        s"""
           |int $n = $a.numElements();
           |double $acc = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
           |  double $x = $aGet($i);
           |  $acc += $x * $x;
           |}
           |${ev.value} = java.lang.Math.sqrt($acc);
           |""".stripMargin
      })
  }

  /** Nearest-cell argmin over a broadcast centroid array — the codegen'd
   *  form of the in-row routing device: for each row, scan
   *  `cents: array<struct<crank, cv, cc>>` and return the crank
   *  minimizing `vv + cc - 2·(v·cv)`, ties to the smaller crank. The
   *  interpreted `array_sort(transform(...))` spelling of the same
   *  argmin pays one closure call + struct allocation per centroid per
   *  row; this is one generated loop with the dot product inlined.
   *  Ordering: distances compared via Double.compare — identical to the
   *  SQL sort for the finite, never-negative-zero distances here (d =
   *  (vv + cc) - 2·dot with vv + cc >= +0.0), and the accumulation is
   *  left-to-right in double exactly like [[ArrayDotProduct]], so
   *  results are bit-identical to both the rank-window and the
   *  interpreted in-row forms. Null result on a null/empty centroid
   *  array or a null element (mirrors element_at-of-empty). */
  case class CellArgmin(first: Expression, second: Expression, third: Expression)
      extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
    // first = v: array<float|double>, second = vv: double,
    // third = cents: array<struct<crank: int|long, cv: array<float|double>, cc: double>>
    private def centStruct: StructType = third.dataType match {
      case ArrayType(s: StructType, _) if s.length == 3 => s
      case other => throw new IllegalArgumentException(
        s"cell_argmin expects array<struct<crank, cv, cc>>, got ${other.simpleString}")
    }
    private def crankType: DataType = centStruct.fields(0).dataType
    private def cvFloat: Boolean = centStruct.fields(1).dataType match {
      case ArrayType(FloatType, _) => true
      case ArrayType(DoubleType, _) => false
      case other => throw new IllegalArgumentException(
        s"cell_argmin cv must be array<float|double>, got ${other.simpleString}")
    }
    override def dataType: DataType = crankType
    override def nullable: Boolean = true
    // a wrong crank/cv/cc (or v/vv) type must fail ANALYSIS, not reach
    // nullSafeEval or the generated Java as a ClassCastException
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      def vec(dt: DataType) = dt match {
        case ArrayType(FloatType | DoubleType, _) => true
        case _ => false
      }
      val centsOk = third.dataType match {
        case ArrayType(StructType(Array(crank, cv, cc)), _) =>
          Seq(IntegerType, LongType).contains(crank.dataType) &&
            vec(cv.dataType) && cc.dataType == DoubleType
        case _ => false
      }
      if (vec(first.dataType) && second.dataType == DoubleType && centsOk)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "cell_argmin expects (array<float|double>, double, array<struct<crank: " +
          "int|bigint, cv: array<float|double>, cc: double>>), got " +
          Seq(first, second, third).map(_.dataType.simpleString).mkString("(", ", ", ")"))
    }
    override protected def withNewChildrenInternal(
        f: Expression, s: Expression, t: Expression): Expression =
      copy(first = f, second = s, third = t)

    override protected def nullSafeEval(vAny: Any, vvAny: Any, centsAny: Any): Any = {
      val v = vAny.asInstanceOf[ArrayData]
      val vv = vvAny.asInstanceOf[Double]
      val cents = centsAny.asInstanceOf[ArrayData]
      val vF = elemKind(first)
      val cF = cvFloat
      val crankLong = crankType == LongType
      val k = cents.numElements()
      var bestD = 0.0
      var bestCrank = 0L
      var found = false
      var i = 0
      while (i < k) {
        if (cents.isNullAt(i)) return null
        val row = cents.getStruct(i, 3)
        val crank = if (crankLong) row.getLong(0) else row.getInt(0).toLong
        val cv = row.getArray(1)
        val cc = row.getDouble(2)
        val n = math.min(v.numElements(), cv.numElements())
        var acc = 0.0
        var j = 0
        while (j < n) {
          if (v.isNullAt(j) || cv.isNullAt(j)) return null
          val x = if (vF) v.getFloat(j).toDouble else v.getDouble(j)
          val y = if (cF) cv.getFloat(j).toDouble else cv.getDouble(j)
          acc += x * y
          j += 1
        }
        val d = vv + cc - 2.0 * acc
        val cmp = java.lang.Double.compare(d, bestD)
        if (!found || cmp < 0 || (cmp == 0 && crank < bestCrank)) {
          bestD = d; bestCrank = crank; found = true
        }
        i += 1
      }
      if (!found) null
      else if (crankLong) bestCrank
      else bestCrank.toInt
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (v, vv, cents) => {
        val vGet = if (elemKind(first)) s"(double) $v.getFloat" else s"$v.getDouble"
        val cvGet = if (cvFloat) s"(double) %s.getFloat" else s"%s.getDouble"
        val crankJ = if (crankType == LongType) "long" else "int"
        val crankGet = if (crankType == LongType) "getLong" else "getInt"
        val k = ctx.freshName("k"); val i = ctx.freshName("i")
        val row = ctx.freshName("row"); val cv = ctx.freshName("cv")
        val cc = ctx.freshName("cc"); val n = ctx.freshName("n")
        val j = ctx.freshName("j"); val acc = ctx.freshName("acc")
        val d = ctx.freshName("d"); val cmp = ctx.freshName("cmp")
        val bestD = ctx.freshName("bestD"); val bestC = ctx.freshName("bestC")
        val found = ctx.freshName("found"); val crank = ctx.freshName("crank")
        val brk = ctx.freshName("argmin")
        s"""
           |int $k = $cents.numElements();
           |double $bestD = 0.0; $crankJ $bestC = 0; boolean $found = false;
           |$brk: {
           |for (int $i = 0; $i < $k; $i++) {
           |  if ($cents.isNullAt($i)) { ${ev.isNull} = true; break $brk; }
           |  org.apache.spark.sql.catalyst.InternalRow $row = $cents.getStruct($i, 3);
           |  $crankJ $crank = $row.$crankGet(0);
           |  org.apache.spark.sql.catalyst.util.ArrayData $cv = $row.getArray(1);
           |  double $cc = $row.getDouble(2);
           |  int $n = java.lang.Math.min($v.numElements(), $cv.numElements());
           |  double $acc = 0.0;
           |  for (int $j = 0; $j < $n; $j++) {
           |    if ($v.isNullAt($j) || $cv.isNullAt($j)) { ${ev.isNull} = true; break $brk; }
           |    $acc += $vGet($j) * ${cvGet.format(cv)}($j);
           |  }
           |  double $d = $vv + $cc - 2.0 * $acc;
           |  int $cmp = java.lang.Double.compare($d, $bestD);
           |  if (!$found || $cmp < 0 || ($cmp == 0 && $crank < $bestC)) {
           |    $bestD = $d; $bestC = $crank; $found = true;
           |  }
           |}
           |if (!$found) { ${ev.isNull} = true; }
           |${ev.value} = $bestC;
           |}
           |""".stripMargin
      })
  }

  def dot(a: Column, b: Column): Column =
    GraftSqlBridge.column(ArrayDotProduct(GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  def l2Norm(a: Column): Column =
    GraftSqlBridge.column(ArrayL2Norm(GraftSqlBridge.expression(a)))

  /** Nearest-cell crank of `v` (with precomputed `vv`) against the 1-row
   *  broadcast centroid array `cents` — see [[CellArgmin]]. */
  def cellArgmin(v: Column, vv: Column, cents: Column): Column =
    GraftSqlBridge.column(CellArgmin(GraftSqlBridge.expression(v),
      GraftSqlBridge.expression(vv), GraftSqlBridge.expression(cents)))
}
