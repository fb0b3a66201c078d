package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expressions for hot-path vector math.
  *
  * The HOF formulations in [[graft.ml.Distance]] are correct but evaluate
  * a lambda per element per pass (cosine = 3 passes); on O(millions) of
  * pairs that dominates (SURVEY.md §4: "custom Expression only if the HOF
  * formulation proves too slow at bench scale" — it did: the brute
  * near-dup pair scan). These generate a single fused whole-stage-codegen
  * loop per pair: no virtual calls, no per-element allocation.
  *
  * Exposure: [[VectorExprs]] wraps each expression directly in a Column
  * (through `org.apache.spark.sql.CatalystColumns`), so building a
  * vector column needs nothing done to the session first. SQL text
  * reaches the same expressions by name only through
  * [[graft.GraftExtensions]].
  */
abstract class ArrayPairFold extends BinaryExpression {
  // callers cast operands to array<double>; no ExpectsInputTypes (that
  // trait's AbstractDataType signature is private[sql] in Spark 4)
  override def dataType: DataType = DoubleType
}

/** Cosine similarity in one fused pass (dot + both norms together);
  * 1e-12 denominator floor matches Distance.cosineS. */
case class ArrayCosine(left: Expression, right: Expression)
    extends ArrayPairFold {
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    dot / math.max(math.sqrt(nx) * math.sqrt(ny), 1e-12)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val i = ctx.freshName("i")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
        |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        |double $dot = 0.0, $nx = 0.0, $ny = 0.0;
        |for (int $i = 0; $i < $n; $i++) {
        |  double $xi = $a.getDouble($i);
        |  double $yi = $b.getDouble($i);
        |  $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
        |}
        |${ev.value} = $dot / java.lang.Math.max(
        |  java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny), 1e-12);
      """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): Expression = copy(left = l, right = r)
}

/** Squared euclidean distance, single fused loop. */
case class ArraySqEuclidean(left: Expression, right: Expression)
    extends ArrayPairFold {
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = x.getDouble(i) - y.getDouble(i); s += d * d; i += 1
    }
    s
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      s"""
        |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        |double $s = 0.0;
        |for (int $i = 0; $i < $n; $i++) {
        |  double $d = $a.getDouble($i) - $b.getDouble($i);
        |  $s += $d * $d;
        |}
        |${ev.value} = $s;
      """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): Expression = copy(left = l, right = r)
}

/** Minkowski distance (Σ|aᵢ−bᵢ|^p)^(1/p) — reference H6 semantics
  * (vector_engine.py:18-19), fused loop. */
case class ArrayMinkowski(left: Expression, right: Expression, p: Double)
    extends ArrayPairFold {
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += math.pow(math.abs(x.getDouble(i) - y.getDouble(i)), p); i += 1
    }
    math.pow(s, 1.0 / p)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      s"""
        |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        |double $s = 0.0;
        |for (int $i = 0; $i < $n; $i++) {
        |  $s += java.lang.Math.pow(
        |    java.lang.Math.abs($a.getDouble($i) - $b.getDouble($i)), $p);
        |}
        |${ev.value} = java.lang.Math.pow($s, ${1.0 / p});
      """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): Expression = copy(left = l, right = r)
}

/** |A ∩ B| for two SORTED string arrays — linear merge scan, no hash-set
  * allocation per row (array_intersect builds one per call). Callers sort
  * once per side with `array_sort` before the pairwise join, so the
  * O(n+m) merge replaces the O(n·m)-ish allocation-heavy path on the
  * near-dup pair scan. Jaccard = inter / (|A| + |B| − inter). */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var c = 0
    val n = x.numElements(); val m = y.numElements()
    while (i < n && j < m) {
      val cmp = x.getUTF8String(i).compareTo(y.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val c = ctx.freshName("c"); val n = ctx.freshName("n")
      val m = ctx.freshName("m"); val cmp = ctx.freshName("cmp")
      s"""
        |int $i = 0, $j = 0, $c = 0;
        |int $n = $a.numElements(), $m = $b.numElements();
        |while ($i < $n && $j < $m) {
        |  int $cmp = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
        |  if ($cmp == 0) { $c++; $i++; $j++; }
        |  else if ($cmp < 0) $i++;
        |  else $j++;
        |}
        |${ev.value} = $c;
      """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): Expression = copy(left = l, right = r)
}

/** Integer dot product over two int arrays (int8-quantized vectors), long
  * accumulator — the hot inner loop of quantized similarity search. Exact
  * by construction (no float accumulation), so the oracle can replay it
  * with any summation order. */
case class ArrayDotLong(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0L
    var i = 0
    while (i < n) {
      dot += x.getInt(i).toLong * y.getInt(i)
      i += 1
    }
    dot
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val i = ctx.freshName("i")
      s"""
        |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        |long $dot = 0L;
        |for (int $i = 0; $i < $n; $i++) {
        |  $dot += (long) $a.getInt($i) * $b.getInt($i);
        |}
        |${ev.value} = $dot;
      """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): Expression = copy(left = l, right = r)
}

/** One-pass int8 symmetric quantization of a double array:
  * `q_i = floor(127·x_i/m + 0.5)` with `m = max |x_i|` (zero vector →
  * all-zero codes), plus the integer squared norm, returned as
  * `struct<q: array<int>, n: bigint>`. A native expression because the
  * HOF formulation (abs-max + quantize + norm-aggregate) is three
  * lambda passes outside codegen — measured 10× slower at the ×100
  * stress scale; this is two tight primitive loops inside
  * whole-stage codegen. The op sequence `127*x/m + 0.5` is fixed IEEE
  * double math, bit-identical in the DuckDB oracle replay.
  *
  * Contract: elements must be non-null and finite (primitive getDouble
  * reads a null slot as 0.0 rather than propagating, and a NaN would
  * cast to code 0 on the JVM but error/NULL in an oracle replay —
  * embedding columns here are non-null finite by construction). */
case class ArrayQuantizeInt8(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.StructType(
    Seq(org.apache.spark.sql.types.StructField("q",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.IntegerType, containsNull = false)),
      org.apache.spark.sql.types.StructField("n",
        org.apache.spark.sql.types.LongType)))
  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var mx = 0.0
    var i = 0
    while (i < n) {
      val v = math.abs(x.getDouble(i))
      if (v > mx) mx = v
      i += 1
    }
    val q = new Array[Int](n)
    var norm = 0L
    if (mx > 0) {
      i = 0
      while (i < n) {
        val qi = math.floor(127.0 * x.getDouble(i) / mx + 0.5).toInt
        q(i) = qi
        norm += qi.toLong * qi
        i += 1
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](new org.apache.spark.sql.catalyst.util.GenericArrayData(q),
        norm))
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val mx = ctx.freshName("mx")
      val i = ctx.freshName("i")
      val v = ctx.freshName("v")
      val q = ctx.freshName("q")
      val qi = ctx.freshName("qi")
      val norm = ctx.freshName("norm")
      s"""
        |int $n = $a.numElements();
        |double $mx = 0.0;
        |for (int $i = 0; $i < $n; $i++) {
        |  double $v = java.lang.Math.abs($a.getDouble($i));
        |  if ($v > $mx) $mx = $v;
        |}
        |int[] $q = new int[$n];
        |long $norm = 0L;
        |if ($mx > 0) {
        |  for (int $i = 0; $i < $n; $i++) {
        |    int $qi = (int) java.lang.Math.floor(
        |      127.0 * $a.getDouble($i) / $mx + 0.5);
        |    $q[$i] = $qi;
        |    $norm += (long) $qi * $qi;
        |  }
        |}
        |${ev.value} =
        |  new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        |    new Object[] {
        |      new org.apache.spark.sql.catalyst.util.GenericArrayData($q),
        |      $norm });
      """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object VectorExprs {
  import org.apache.spark.sql.CatalystColumns.{column, expression => e}

  def cosine(a: Column, b: Column): Column = column(ArrayCosine(e(a), e(b)))

  def sqEuclidean(a: Column, b: Column): Column =
    column(ArraySqEuclidean(e(a), e(b)))

  def euclidean(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.sqrt(sqEuclidean(a, b))

  /** Only p=1.5 (the reference's constant) has the fused expression;
    * other p fall back to the HOF formulation. */
  def minkowski(a: Column, b: Column, p: Double): Column =
    if (p == 1.5) column(ArrayMinkowski(e(a), e(b), 1.5))
    else graft.ml.Distance.minkowskiHof(a, b, p)

  /** Requires both operands pre-sorted (array_sort). */
  def sortedIntersectSize(a: Column, b: Column): Column =
    column(SortedIntersectSize(e(a), e(b)))

  /** Exact integer dot over int arrays (quantized-vector hot loop). */
  def dotLong(a: Column, b: Column): Column = column(ArrayDotLong(e(a), e(b)))

  /** One-pass int8 quantization: struct<q: array<int>, n: bigint>. */
  def quantizeInt8(v: Column): Column = column(ArrayQuantizeInt8(e(v)))
}
