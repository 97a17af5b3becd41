package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Dot product over two array<double> columns as a native Catalyst
  * expression with whole-stage codegen.
  *
  * The composable alternative — `aggregate(zip_with(a, b, _*_), ...)` —
  * allocates a zipped array per row and evaluates the lambda
  * interpreted; on an O(pairs) similarity join that was the entire
  * bottleneck (~60× slower than this primitive loop). This is the
  * "custom Expression beats UDF beats driver loop" preference order
  * from the build rules.
  */
case class ArrayDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<double> arguments, " +
        s"got ${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "array_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $x.getDouble($i) * $y.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayDotProduct =
    copy(left = newLeft, right = newRight)
}

/** `array<double> / scalar` (elementwise division) as a native codegen
  * expression. Division, not multiply-by-reciprocal: the DuckDB value
  * oracles compute `x / sqrt(dot(v,v))` and the two differ in the last
  * ulp.
  *
  * Exists so `normalize` needs no `transform` lambda: a LambdaFunction
  * instantiates fresh variable ids per call site, so identical
  * normalize copies never compare equal and subexpression elimination
  * cannot dedupe them — after projection collapse, a signature
  * computation referencing the normalized vector 48 times evaluated
  * the interpreted transform 48 times per row (measured 86 s for one
  * pass over 500k vectors; ~2 s with this expression). Deterministic
  * codegen subtrees are CSE-able and the loop stays in whole-stage
  * codegen.
  */
case class ArrayDivide(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<double>, double), " +
          s"got ${l.simpleString} and ${r.simpleString}")
    }
  /** Null elements propagate (as the transform() lambda this replaces
    * did) — the output is nullable exactly when the input is. */
  private def childContainsNull: Boolean = left.dataType match {
    case ArrayType(_, n) => n
    case _ => false
  }
  override def dataType: DataType =
    ArrayType(DoubleType, containsNull = childContainsNull)
  override def prettyName: String = "array_div"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val f = b.asInstanceOf[Double]
    val n = x.numElements()
    if (childContainsNull && (0 until n).exists(x.isNullAt)) {
      val out = new Array[Any](n)
      var i = 0
      while (i < n) {
        out(i) = if (x.isNullAt(i)) null else x.getDouble(i) / f
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    } else {
      val out = new Array[Double](n)
      var i = 0
      while (i < n) { out(i) = x.getDouble(i) / f; i += 1 }
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, f) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val out = ctx.freshName("out")
      val nulls = ctx.freshName("nulls")
      val boxed = ctx.freshName("boxed")
      if (childContainsNull)
        // ADAPTIVE: parquet-sourced arrays are declared nullable even
        // when no element ever is, so the common case must stay the
        // primitive loop — only an actually-present null (which
        // getDouble would silently read as 0.0) pays the boxed copy
        s"""
           |int $n = $x.numElements();
           |double[] $out = new double[$n];
           |int $nulls = 0;
           |for (int $i = 0; $i < $n; $i++) {
           |  if ($x.isNullAt($i)) { $nulls++; }
           |  else { $out[$i] = $x.getDouble($i) / $f; }
           |}
           |if ($nulls == 0) {
           |  ${ev.value} =
           |    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
           |} else {
           |  Object[] $boxed = new Object[$n];
           |  for (int $j = 0; $j < $n; $j++) {
           |    if (!$x.isNullAt($j)) { $boxed[$j] = (Object) $out[$j]; }
           |  }
           |  ${ev.value} =
           |    new org.apache.spark.sql.catalyst.util.GenericArrayData($boxed);
           |}
         """.stripMargin
      else
        s"""
           |int $n = $x.numElements();
           |double[] $out = new double[$n];
           |for (int $i = 0; $i < $n; $i++) {
           |  $out[$i] = $x.getDouble($i) / $f;
           |}
           |${ev.value} =
           |  org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
         """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayDivide =
    copy(left = newLeft, right = newRight)
}

/** max(|x_i|) over an array<double> as a native codegen expression
  * (0.0 for an empty array; null elements skipped, as the
  * `aggregate(v, 0.0, greatest(acc, abs(x)))` composition it replaces
  * did via greatest's null-skip). Exists because higher-order
  * functions (`aggregate`/`transform`) have no codegen path: one of
  * them in a projection drops the WHOLE projection to interpreted
  * eval, which in ss08's composed pipeline (quantization stacked on
  * IVF assignment) multiplied with the inlined normalize into a
  * ~10 ms/row interpreted tree — 678 s for one 500k pass. */
case class ArrayAbsMax(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${t.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "array_absmax"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var m = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i)) m = math.max(m, math.abs(x.getDouble(i)))
      i += 1
    }
    m
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val m = ctx.freshName("m")
      s"""
         |int $n = $x.numElements();
         |double $m = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$x.isNullAt($i)) {
         |    $m = java.lang.Math.max($m, java.lang.Math.abs($x.getDouble($i)));
         |  }
         |}
         |${ev.value} = $m;
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): ArrayAbsMax = copy(child = newChild)
}

/** Symmetric int8 scalar quantization of an array<double> as a native
  * codegen expression: per element `clamp(floor(x/scale + 0.5), ±127)`
  * (the half-up rounding DuckDB's floor mirrors exactly — same IEEE
  * ops in the same order as the `transform` lambda it replaces), and
  * a zero scale quantizes the whole vector to zeros (the zero-vector
  * guard). Null elements propagate. Output stays double (the int dot
  * of ±127 lanes is exact in double and the oracle compares doubles).
  */
case class ArrayQuantize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<double>, double), " +
          s"got ${l.simpleString} and ${r.simpleString}")
    }
  private def childContainsNull: Boolean = left.dataType match {
    case ArrayType(_, n) => n
    case _ => false
  }
  override def dataType: DataType =
    ArrayType(DoubleType, containsNull = childContainsNull)
  override def prettyName: String = "array_quantize"

  private def code(x: Double, s: Double): Double =
    if (s == 0.0) 0.0
    else math.max(math.min(math.floor(x / s + 0.5), 127.0), -127.0)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val s = b.asInstanceOf[Double]
    val n = x.numElements()
    if (childContainsNull && (0 until n).exists(x.isNullAt)) {
      val out = new Array[Any](n)
      var i = 0
      while (i < n) {
        out(i) = if (x.isNullAt(i)) null else code(x.getDouble(i), s)
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    } else {
      val out = new Array[Double](n)
      var i = 0
      while (i < n) { out(i) = code(x.getDouble(i), s); i += 1 }
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, s) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val out = ctx.freshName("out")
      val nulls = ctx.freshName("nulls")
      val boxed = ctx.freshName("boxed")
      val elem = (idx: String) =>
        s"($s == 0.0) ? 0.0 : java.lang.Math.max(java.lang.Math.min(" +
          s"java.lang.Math.floor($x.getDouble($idx) / $s + 0.5), 127.0), -127.0)"
      if (childContainsNull)
        s"""
           |int $n = $x.numElements();
           |double[] $out = new double[$n];
           |int $nulls = 0;
           |for (int $i = 0; $i < $n; $i++) {
           |  if ($x.isNullAt($i)) { $nulls++; }
           |  else { $out[$i] = ${elem(i)}; }
           |}
           |if ($nulls == 0) {
           |  ${ev.value} =
           |    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
           |} else {
           |  Object[] $boxed = new Object[$n];
           |  for (int $j = 0; $j < $n; $j++) {
           |    if (!$x.isNullAt($j)) { $boxed[$j] = (Object) $out[$j]; }
           |  }
           |  ${ev.value} =
           |    new org.apache.spark.sql.catalyst.util.GenericArrayData($boxed);
           |}
         """.stripMargin
      else
        s"""
           |int $n = $x.numElements();
           |double[] $out = new double[$n];
           |for (int $i = 0; $i < $n; $i++) {
           |  $out[$i] = ${elem(i)};
           |}
           |${ev.value} =
           |  org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
         """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayQuantize =
    copy(left = newLeft, right = newRight)
}

/** IVF coarse-quantizer assignment as a native codegen expression:
  * returns the FIRST index c maximizing `dot(v, planes(c)) −
  * halfNorms(c)` (the Euclidean-nearest form for unit vectors; ties →
  * lowest index, matching DuckDB's `list_position(cd, list_max(cd))`).
  *
  * Exists because spelling the same argmax as
  * `array_position(array(dot(v, lit₀)…dot(v, lit₁₅)), array_max(…))`
  * inlines sixteen 64-double array literals into EVERY operator that
  * references the bucket (the join-key IsNotNull filter re-derives it
  * below the projection), producing generated methods so large they
  * run interpreted — measured ~2 ms/row on the corpus side of
  * ss03b/ss08 (98 s for a 50k-vector pass; ~678 s at 500k). Here the
  * centroid matrix rides along as one reference object and the loop
  * is ~10 lines of bytecode, so a re-evaluation costs microseconds.
  * The per-centroid IEEE arithmetic (left-to-right dot, then subtract
  * the precomputed half-norm) is identical to the literal spelling,
  * so oracle values are unchanged. */
case class IvfAssign(child: Expression, planes: Array[Array[Double]],
    halfNorms: Array[Double])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${t.simpleString}")
  }
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "ivf_assign"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    var best = 0
    var bestScore = Double.NegativeInfinity
    var c = 0
    while (c < planes.length) {
      val p = planes(c)
      val n = math.min(x.numElements(), p.length)
      var s = 0.0
      var i = 0
      while (i < n) { s += x.getDouble(i) * p(i); i += 1 }
      s -= halfNorms(c)
      if (s > bestScore) { best = c; bestScore = s }
      c += 1
    }
    best.toLong
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("ivfPlanes", planes, "double[][]")
    val normsRef = ctx.addReferenceObj("ivfHalfNorms", halfNorms, "double[]")
    nullSafeCodeGen(ctx, ev, x => {
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val best = ctx.freshName("best")
      val bestScore = ctx.freshName("bestScore")
      val p = ctx.freshName("p")
      s"""
         |int $best = 0;
         |double $bestScore = Double.NEGATIVE_INFINITY;
         |for (int $c = 0; $c < $planesRef.length; $c++) {
         |  double[] $p = $planesRef[$c];
         |  int $n = java.lang.Math.min($x.numElements(), $p.length);
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += $x.getDouble($i) * $p[$i];
         |  }
         |  $s -= $normsRef[$c];
         |  if ($s > $bestScore) { $best = $c; $bestScore = $s; }
         |}
         |${ev.value} = (long) $best;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(
      newChild: Expression): IvfAssign = copy(child = newChild)
}

/** Product-quantization encoder as ONE native codegen expression:
  * subspace j of the input array<double> (components [j·sub, (j+1)·sub))
  * maps to the FIRST index c maximizing `dot(v_j, planes(j)(c)) −
  * halfNorms(j)(c)` (IvfAssign's argmax/tiebreak, per subspace);
  * returns all M codes as array<long>.
  *
  * Exists because spelling the same encoding as M separate IvfAssign
  * projections (plus the M-term element_at score chain downstream)
  * made the whole-stage generated method fail Janino compilation —
  * the stage then ran INTERPRETED end to end, 4.3 s for a 50k-row ADC
  * pass at sf0.1 vs ~0.4 s here. The codebook rides as one reference
  * object; the loop is ~15 lines of bytecode. */
case class PqEncode(child: Expression, planes: Array[Array[Array[Double]]],
    halfNorms: Array[Array[Double]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  private val subDim = planes(0)(0).length

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "pq_encode"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val out = new Array[Long](planes.length)
    var j = 0
    while (j < planes.length) {
      val off = j * subDim
      var best = 0
      var bestScore = Double.NegativeInfinity
      var c = 0
      while (c < planes(j).length) {
        val p = planes(j)(c)
        var s = 0.0
        var i = 0
        while (i < subDim) { s += x.getDouble(off + i) * p(i); i += 1 }
        s -= halfNorms(j)(c)
        if (s > bestScore) { best = c; bestScore = s }
        c += 1
      }
      out(j) = best.toLong
      j += 1
    }
    ArrayData.toArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("pqPlanes", planes, "double[][][]")
    val normsRef = ctx.addReferenceObj("pqHalfNorms", halfNorms, "double[][]")
    nullSafeCodeGen(ctx, ev, x => {
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val off = ctx.freshName("off")
      val best = ctx.freshName("best")
      val bestScore = ctx.freshName("bestScore")
      val p = ctx.freshName("p")
      val out = ctx.freshName("out")
      s"""
         |long[] $out = new long[$planesRef.length];
         |for (int $j = 0; $j < $planesRef.length; $j++) {
         |  int $off = $j * $subDim;
         |  int $best = 0;
         |  double $bestScore = Double.NEGATIVE_INFINITY;
         |  for (int $c = 0; $c < $planesRef[$j].length; $c++) {
         |    double[] $p = $planesRef[$j][$c];
         |    double $s = 0.0;
         |    for (int $i = 0; $i < $subDim; $i++) {
         |      $s += $x.getDouble($off + $i) * $p[$i];
         |    }
         |    $s -= $normsRef[$j][$c];
         |    if ($s > $bestScore) { $best = $c; $bestScore = $s; }
         |  }
         |  $out[$j] = (long) $best;
         |}
         |${ev.value} =
         |  org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(
      newChild: Expression): PqEncode = copy(child = newChild)
}

/** Query-side ADC lookup table: `adc(j)(c) = dot(v_j, planes(j)(c))`
  * over the input's subspace slices, returned as array<array<double>>.
  * Each dot is the same left-to-right IEEE loop as ArrayDotProduct /
  * the oracle's list_dot_product, so table entries are bit-identical
  * to the 512-literal `array(array(dot(slice…, lit…)…))` spelling this
  * replaces — that spelling put ~400 array literals into one generated
  * method and failed Janino compilation (interpreted fallback + a
  * multi-second doomed compile attempt per run). */
case class PqAdcTable(child: Expression, planes: Array[Array[Array[Double]]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  private val subDim = planes(0)(0).length

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${t.simpleString}")
  }
  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)
  override def prettyName: String = "pq_adc_table"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val rows = new Array[ArrayData](planes.length)
    var j = 0
    while (j < planes.length) {
      val off = j * subDim
      val row = new Array[Double](planes(j).length)
      var c = 0
      while (c < planes(j).length) {
        val p = planes(j)(c)
        var s = 0.0
        var i = 0
        while (i < subDim) { s += x.getDouble(off + i) * p(i); i += 1 }
        row(c) = s
        c += 1
      }
      rows(j) = ArrayData.toArrayData(row)
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      rows.asInstanceOf[Array[Any]])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("pqTablePlanes", planes, "double[][][]")
    nullSafeCodeGen(ctx, ev, x => {
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val off = ctx.freshName("off")
      val p = ctx.freshName("p")
      val row = ctx.freshName("row")
      val rows = ctx.freshName("rows")
      s"""
         |Object[] $rows = new Object[$planesRef.length];
         |for (int $j = 0; $j < $planesRef.length; $j++) {
         |  int $off = $j * $subDim;
         |  double[] $row = new double[$planesRef[$j].length];
         |  for (int $c = 0; $c < $planesRef[$j].length; $c++) {
         |    double[] $p = $planesRef[$j][$c];
         |    double $s = 0.0;
         |    for (int $i = 0; $i < $subDim; $i++) {
         |      $s += $x.getDouble($off + $i) * $p[$i];
         |    }
         |    $row[$c] = $s;
         |  }
         |  $rows[$j] =
         |    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($row);
         |}
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($rows);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(
      newChild: Expression): PqAdcTable = copy(child = newChild)
}

/** Asymmetric-distance score: `Σ_j adc(j)(codes(j))`, j ascending
  * (left-to-right IEEE order — the oracle spells the same sum as an
  * explicit left-associated `+` chain). `codes` is PqEncode's
  * array<long>; `adc` is the query-side M×K lookup table
  * (array<array<double>>). One compact loop instead of an M-term
  * element_at chain — see [[PqEncode]] for why that chain broke
  * whole-stage codegen. */
case class PqAdcSum(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<long>, array<array<double>>), " +
          s"got ${l.simpleString} and ${r.simpleString}")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc_sum"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val codes = a.asInstanceOf[ArrayData]
    val adc = b.asInstanceOf[ArrayData]
    // Both sides derive from the same fixed subspace count M; a
    // mismatch is an upstream encoding bug — fail, never truncate to a
    // plausible-but-wrong partial score.
    if (codes.numElements() != adc.numElements()) {
      throw new IllegalArgumentException(
        s"pq_adc_sum subspace mismatch: codes has ${codes.numElements()} " +
          s"entries but ADC table has ${adc.numElements()}")
    }
    val m = codes.numElements()
    var s = 0.0
    var j = 0
    while (j < m) {
      s += adc.getArray(j).getDouble(codes.getLong(j).toInt)
      j += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (codes, adc) => {
      val m = ctx.freshName("m")
      val j = ctx.freshName("j")
      val s = ctx.freshName("s")
      s"""
         |int $m = $codes.numElements();
         |if ($m != $adc.numElements()) {
         |  throw new IllegalArgumentException(
         |    "pq_adc_sum subspace mismatch: codes has " + $m +
         |    " entries but ADC table has " + $adc.numElements());
         |}
         |double $s = 0.0;
         |for (int $j = 0; $j < $m; $j++) {
         |  $s += $adc.getArray($j).getDouble((int) $codes.getLong($j));
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcSum =
    copy(left = newLeft, right = newRight)
}

object VectorOps {

  /** Register `array_dot` / `array_div` in the session's function
    * registry (idempotent). */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "array_dot", exprs => ArrayDotProduct(exprs(0), exprs(1)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "array_div", exprs => ArrayDivide(exprs(0), exprs(1)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "array_absmax", exprs => ArrayAbsMax(exprs(0)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "array_quantize", exprs => ArrayQuantize(exprs(0), exprs(1)), "scala_udf")
  }

  /** Dot product column (requires register(spark) on the session). */
  def dot(a: Column, b: Column): Column = call_function("array_dot", a, b)

  /** max(|x_i|) column (requires register(spark) on the session). */
  def absMax(v: Column): Column = call_function("array_absmax", v)

  /** Half-up clamped int8 quantization column; zero scale → zeros
    * (requires register(spark) on the session). */
  def quantize(v: Column, scale: Column): Column =
    call_function("array_quantize", v, scale)

  /** L2-normalize an array<double> column (one dot + one codegen'd
    * elementwise division).
    * A zero vector stays zero (instead of NaN from 0/0): cosine against
    * anything is then 0, so it drops out of similarity thresholds
    * rather than sorting first under NaN-is-largest semantics or
    * blowing up ANSI casts downstream. */
  def normalize(v: Column): Column = {
    val n = sqrt(dot(v, v))
    when(n === 0.0, v)
      .otherwise(call_function("array_div", v, n))
  }

  /** [[normalize]]'s DuckDB twin for the value oracles: the CTE pair
    * `e(vec_id, v)` over `embeddings` and `n(vec_id, nv)` with the same
    * zero-vector guard and the same x / sqrt(dot(v, v)) division, so
    * the oracle's normalized vectors are IEEE-identical to the Spark
    * side's. `n` names the second CTE. */
  def normalizedSqlCtes(n: String = "n"): String =
    s"""e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |$n AS (
       |  SELECT vec_id,
       |    CASE WHEN list_dot_product(v, v) = 0 THEN v
       |         ELSE list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
       |    END AS nv
       |  FROM e)""".stripMargin

  /** Cosine via pre-normalization: cosine(a, b) = dot(norm(a), norm(b)).
    * When the same vectors appear in many pairs (similarity joins),
    * normalize once per vector and use `dot` on the pairs instead. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
}
