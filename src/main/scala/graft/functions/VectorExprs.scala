package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, FloatType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for cosine similarity over two
  * `array<float>` embedding columns, with whole-stage codegen.
  *
  * Why not `zip_with` + `aggregate`: Spark's higher-order functions
  * evaluate their lambdas interpreted (per element, with variable
  * binding) — fine for one-off queries, but pairwise similarity
  * evaluates the kernel O(n²·dims) times, where an interpreted lambda
  * is ~20× slower than the fused loop this expression generates.
  *
  * Numerics are kept IDENTICAL to the HOF/oracle formulation
  * (SURVEY.md §7.3): a single left-to-right fold accumulating
  * `dot += a[i]·b[i]`, `na += a[i]²`, `nb += b[i]²` in double, result
  * `dot / (sqrt(na) · sqrt(nb))` — bit-for-bit the same as DuckDB's
  * `list_reduce` fold, so oracle comparison stays exact. Length
  * mismatch → null, like the zip_with form (which null-pads the
  * shorter array and propagates null through the fold).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  // null on length mismatch even for non-nullable children
  override def nullable: Boolean = true

  // float or double element arrays, mixed allowed (round 12: the
  // trained coarse quantizer's centroids are decimal-exact-mean
  // DOUBLE arrays — same widening DotProduct/SquaredL2 already had).
  // A float element is read and widened exactly, so float-array
  // results are bit-identical to the float-only original.
  private def elemOk(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"cosine_sim expects array<float|double> on both sides, got " +
          s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  private def anyContainsNull: Boolean = Seq(left, right).exists(
    _.dataType.asInstanceOf[ArrayType].containsNull)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val lf = isFloat(left)
    val rf = isFloat(right)
    val n = x.numElements()
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      // null element → null result, matching the HOF/list_reduce forms
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xi * yi
      na += xi * xi
      nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      // generated only when a side's schema admits null elements.
      // NOTE: parquet-sourced arrays declare containsNull=true (list
      // elements are optional in the format), so the guard IS present
      // in the similarity hot loops — measured cost is two null-bit
      // probes per element, not visible in the sim01/sim02 timings; a
      // schema that pins elements non-null gets the branch-free loop
      def get(arr: String, fl: Boolean) =
        if (fl) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"
      val nullGuard =
        if (anyContainsNull)
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullGuard
         |    double $xi = ${get(a, isFloat(left))};
         |    double $yi = ${get(b, isFloat(right))};
         |    $dot += $xi * $yi;
         |    $na += $xi * $xi;
         |    $nb += $yi * $yi;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Native codegen dot product over two embedding arrays
  * (`array<float>` or `array<double>` on either side, mixed allowed).
  *
  * Exists for the LSH bucketing pass (Similarity sim02): projecting
  * every row onto P hyperplanes evaluates P·dims multiply-adds per
  * row, where the `aggregate(zip_with(...))` higher-order form pays
  * an interpreted lambda per element (~20× slower than this fused
  * loop — same measurement as CosineSimilarity above).
  *
  * Numerics: a single left-to-right fold `dot += a[i]·b[i]` in
  * double — bit-for-bit equal to the HOF form
  * `aggregate(zip_with(a, b, (x,y) -> CAST(x AS DOUBLE)*CAST(y AS DOUBLE)), 0.0, (acc,v) -> acc+v)`
  * and to DuckDB's seedless `list_reduce` fold, so swapping it into
  * an oracle-checked query changes nothing observable. Length
  * mismatch → null, exactly like the HOF form (zip_with null-pads
  * the shorter array; double * null → null; sum absorbs it to null).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  // null on length mismatch even for non-nullable children
  override def nullable: Boolean = true

  private def elemOk(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"dot_product expects array<float|double> on both sides, got " +
          s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  private def anyContainsNull: Boolean = Seq(left, right).exists(
    _.dataType.asInstanceOf[ArrayType].containsNull)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val lf = isFloat(left)
    val rf = isFloat(right)
    val n = x.numElements()
    var dot = 0.0
    var i = 0
    while (i < n) {
      // null element → null result, matching the HOF/list_reduce forms
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xi * yi
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      def get(arr: String, fl: Boolean) =
        if (fl) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"
      val nullGuard =
        if (anyContainsNull)
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullGuard
         |    $dot += ${get(a, isFloat(left))} * ${get(b, isFloat(right))};
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $dot;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Squared L2 distance `Σ (a_i - b_i)²` between two vectors
  * (`array<float>` or `array<double>` on either side, mixed allowed).
  *
  * Exists for the product-quantization kernels (Similarity sim07):
  * encoding scores every vector's subspace slice against K codewords
  * and the ADC table scores every query against every codeword — both
  * are tight multiply-add loops where the HOF
  * `aggregate(zip_with(...))` form pays an interpreted lambda per
  * element (same ~20× measurement as CosineSimilarity/DotProduct).
  *
  * Numerics: a single left-to-right fold `d += (a[i]-b[i])·(a[i]-b[i])`
  * in double — bit-for-bit equal to the HOF form and to DuckDB's
  * seedless `list_reduce` over the per-element squared differences.
  * Length mismatch → null, exactly like the HOF form.
  */
case class SquaredL2(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  // null on length mismatch even for non-nullable children
  override def nullable: Boolean = true

  private def elemOk(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"sq_dist expects array<float|double> on both sides, got " +
          s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  private def anyContainsNull: Boolean = Seq(left, right).exists(
    _.dataType.asInstanceOf[ArrayType].containsNull)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val lf = isFloat(left)
    val rf = isFloat(right)
    val n = x.numElements()
    var d = 0.0
    var i = 0
    while (i < n) {
      // null element → null result, matching the HOF/list_reduce forms
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      val diff = xi - yi
      d += diff * diff
      i += 1
    }
    d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      val diff = ctx.freshName("diff")
      def get(arr: String, fl: Boolean) =
        if (fl) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"
      val nullGuard =
        if (anyContainsNull)
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $d = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullGuard
         |    double $diff = ${get(a, isFloat(left))} - ${get(b, isFloat(right))};
         |    $d += $diff * $diff;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $d;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SquaredL2 =
    copy(left = newLeft, right = newRight)
}

/** Fused per-document token statistics: one pass over a `tokens`
  * array computes the five counters the text-quality family reads —
  * token count, total character length, stopword hits, short-token
  * hits (numChars ≤ shortLen), and distinct-token count — as a
  * struct<n, len_sum, stop_cnt, short_cnt, n_distinct : bigint>.
  *
  * Replaces three-to-four interpreted higher-order passes per row
  * (`aggregate(+length)`, `size(filter(stopword))`,
  * `size(filter(length≤k))`, `size(array_distinct)`) in
  * tx01/tx02/df01 with a single fused loop. All counters are exact
  * integers, so each field is value-identical to its HOF form (and
  * to the DuckDB list_* oracle forms): `length()` is numChars,
  * stopword membership is string equality, and distinct counting by
  * hash set equals `array_distinct`'s first-occurrence cardinality.
  * Null array → null; a null ELEMENT → null (the HOF forms poison
  * their folds the same way).
  */
case class TokenStats(child: Expression, stopwords: Seq[String], shortLen: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n", org.apache.spark.sql.types.LongType, nullable = false),
    StructField("len_sum", org.apache.spark.sql.types.LongType, nullable = false),
    StructField("stop_cnt", org.apache.spark.sql.types.LongType, nullable = false),
    StructField("short_cnt", org.apache.spark.sql.types.LongType, nullable = false),
    StructField("n_distinct", org.apache.spark.sql.types.LongType, nullable = false)))

  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"token_stats expects array<string>, got ${t.catalogString}")
    }

  @transient private lazy val stopSet: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    stopwords.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var lenSum = 0L
    var stop = 0L
    var short = 0L
    val seen = new java.util.HashSet[UTF8String]()
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      val t = arr.getUTF8String(i)
      val len = t.numChars()
      lenSum += len
      if (len <= shortLen) short += 1
      if (stopSet.contains(t)) stop += 1
      seen.add(t)
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n.toLong, lenSum, stop, short, seen.size.toLong))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val stopRef = ctx.addReferenceObj("stopSet", stopSet, "java.util.HashSet")
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val lenSum = ctx.freshName("lenSum")
      val stop = ctx.freshName("stop")
      val shortC = ctx.freshName("shortC")
      val seen = ctx.freshName("seen")
      val t = ctx.freshName("t")
      val len = ctx.freshName("len")
      val containsNull = child.dataType.asInstanceOf[ArrayType].containsNull
      val nullGuard =
        if (containsNull)
          s"if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |int $n = $a.numElements();
         |long $lenSum = 0L, $stop = 0L, $shortC = 0L;
         |java.util.HashSet $seen = new java.util.HashSet();
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullGuard
         |  UTF8String $t = $a.getUTF8String($i);
         |  int $len = $t.numChars();
         |  $lenSum += $len;
         |  if ($len <= $shortLen) $shortC++;
         |  if ($stopRef.contains($t)) $stop++;
         |  $seen.add($t);
         |}
         |if (!${ev.isNull}) {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |    new Object[]{(long) $n, $lenSum, $stop, $shortC, (long) $seen.size()});
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): TokenStats =
    copy(child = newChild)
}

/** Fused MinHash mixing: one pass over a document's shingle-hash
  * array computes all k affine-family minima
  * `min_i (h_i·a_j + b_j) mod m`. The HOF formulation
  * (`k × array_min(transform(...))`) either re-runs the upstream md5
  * pass k times (after CollapseProject) or pays k interpreted-lambda
  * sweeps; this expression is one codegen loop with the k updates
  * unrolled. Math identical to the oracle's `list_min(list_transform)`.
  * Returns null for an empty array (matching `array_min`'s null).
  */
case class MinhashMix(child: Expression, coeffs: Seq[(Long, Long)], mod: Long)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)

  // empty input → null output even when the child is non-nullable
  // (mirrors array_min's null-on-empty), so the default
  // child.nullable inheritance would let the optimizer fold
  // IsNotNull incorrectly
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return null
    val mins = Array.fill(coeffs.length)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var j = 0
      while (j < coeffs.length) {
        val v = (h * coeffs(j)._1 + coeffs(j)._2) % mod
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val childGen = child.genCode(ctx)
    val n = ctx.freshName("n")
    val i = ctx.freshName("i")
    val h = ctx.freshName("h")
    val mins = ctx.freshName("mins")
    val k = coeffs.length
    val updates = coeffs.zipWithIndex.map { case ((a, b), j) =>
      s"{ long v = ($h * ${a}L + ${b}L) % ${mod}L; if (v < $mins[$j]) $mins[$j] = v; }"
    }.mkString("\n")
    ev.copy(code =
      code"""
         |${childGen.code}
         |boolean ${ev.isNull} = ${childGen.isNull};
         |ArrayData ${ev.value} = null;
         |if (!${ev.isNull}) {
         |  int $n = ${childGen.value}.numElements();
         |  if ($n == 0) { ${ev.isNull} = true; } else {
         |    long[] $mins = new long[$k];
         |    java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |    for (int $i = 0; $i < $n; $i++) {
         |      long $h = ${childGen.value}.getLong($i);
         |      $updates
         |    }
         |    ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($mins);
         |  }
         |}
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashMix =
    copy(child = newChild)
}

/** Fused SimHash: one pass over a document's token-hash array
  * computes the full 32-bit signature. The relational formulation
  * (explode tokens × crossJoin 32 bit positions → two aggregations)
  * multiplies the shuffled row volume by 32 before the first
  * aggregate; this expression folds the whole bit-majority vote into
  * a narrow per-row loop — zero shuffle, zero row inflation.
  *
  * Math identical to the relational/oracle form: per bit b,
  * `sgn_b = Σ_tokens (bit b set ? +1 : -1)`; output bit b is set iff
  * `sgn_b > 0` (ties → 0). Hashes are 60-bit non-negative
  * ([[Portable.phash]]), so `(h >> b) & 1` matches `(h >> b) % 2 = 1`
  * exactly. Returns null for an empty array — the relational form
  * emits no row for a token-less doc, so callers filter nulls to
  * keep the same row set.
  */
case class SimhashMix(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  // empty input → null output even when the child is non-nullable
  // (same contract as MinhashMix above)
  override def nullable: Boolean = true

  private val Bits = 32

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return null
    val sgn = new Array[Int](Bits)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var b = 0
      while (b < Bits) {
        if (((h >>> b) & 1L) == 1L) sgn(b) += 1 else sgn(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < Bits) {
      if (sgn(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val childGen = child.genCode(ctx)
    val n = ctx.freshName("n")
    val i = ctx.freshName("i")
    val b = ctx.freshName("b")
    val h = ctx.freshName("h")
    val sgn = ctx.freshName("sgn")
    ev.copy(code =
      code"""
         |${childGen.code}
         |boolean ${ev.isNull} = ${childGen.isNull};
         |long ${ev.value} = 0L;
         |if (!${ev.isNull}) {
         |  int $n = ${childGen.value}.numElements();
         |  if ($n == 0) { ${ev.isNull} = true; } else {
         |    int[] $sgn = new int[$Bits];
         |    for (int $i = 0; $i < $n; $i++) {
         |      long $h = ${childGen.value}.getLong($i);
         |      for (int $b = 0; $b < $Bits; $b++) {
         |        if ((($h >>> $b) & 1L) == 1L) $sgn[$b]++; else $sgn[$b]--;
         |      }
         |    }
         |    for (int $b = 0; $b < $Bits; $b++) {
         |      if ($sgn[$b] > 0) ${ev.value} |= (1L << $b);
         |    }
         |  }
         |}
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): SimhashMix =
    copy(child = newChild)
}

/** 2-D Hilbert curve index (the classic xy2d conversion, `bits`
  * levels) as ONE fused codegen loop. Why not the `aggregate` HOF
  * fold: its struct-accumulator lambda evaluates interpreted per
  * level per row (measured 16.9 s vs z01's ~1.8 s on the same scan —
  * the df01/sim02 lesson again), and a statically unrolled expression
  * chain would duplicate the (x, y) subtrees multiplicatively under
  * CollapseProject. The loop is exact integer math; LayoutSpec pins
  * it bit-equal to the HOF fold on a full grid, and the DuckDB oracle
  * unrolls the same levels as CTEs. */
case class HilbertIndex(left: Expression, right: Expression, bits: Int)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t == org.apache.spark.sql.types.LongType ||
      t == org.apache.spark.sql.types.IntegerType
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"hilbert_index expects int/bigint keys, got " +
          s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    var x = a.asInstanceOf[Number].longValue
    var y = b.asInstanceOf[Number].longValue
    var d = 0L
    var i = bits - 1
    while (i >= 0) {
      val rx = (x >> i) & 1L
      val ry = (y >> i) & 1L
      d += (1L << (2 * i)) * ((3L * rx) ^ ry)
      if (ry == 0L) {
        if (rx == 1L) { x = (1L << i) - 1L - x; y = (1L << i) - 1L - y }
        val t = x; x = y; y = t
      }
      i -= 1
    }
    d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val x = ctx.freshName("hx")
      val y = ctx.freshName("hy")
      val d = ctx.freshName("hd")
      val i = ctx.freshName("hi")
      val rx = ctx.freshName("hrx")
      val ry = ctx.freshName("hry")
      val t = ctx.freshName("ht")
      s"""
         |long $x = (long) ($a);
         |long $y = (long) ($b);
         |long $d = 0L;
         |for (int $i = ${bits - 1}; $i >= 0; $i--) {
         |  long $rx = ($x >> $i) & 1L;
         |  long $ry = ($y >> $i) & 1L;
         |  $d += (1L << (2 * $i)) * ((3L * $rx) ^ $ry);
         |  if ($ry == 0L) {
         |    if ($rx == 1L) { $x = (1L << $i) - 1L - $x; $y = (1L << $i) - 1L - $y; }
         |    long $t = $x; $x = $y; $y = $t;
         |  }
         |}
         |${ev.value} = $d;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HilbertIndex =
    copy(left = newLeft, right = newRight)
}

object VectorExprs {

  /** The functions [[graft.GraftExtensions]] injects into every
    * session, by SQL name. */
  def descriptions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_sim" -> (exprs => CosineSimilarity(exprs(0), exprs(1))),
    "dot_product" -> (exprs => DotProduct(exprs(0), exprs(1))),
    "sq_dist" -> (exprs => SquaredL2(exprs(0), exprs(1))),
    "token_stats" -> (exprs => TokenStats(exprs.head,
      graft.ops.TextAnalysis.LangStopwords.flatMap(_._2),
      graft.ops.TextAnalysis.ShortTokenLen)),
    "minhash_mix" -> (exprs => MinhashMix(exprs.head,
      graft.ops.Dedup.mixCoeffs.toSeq, graft.ops.Dedup.MixMod)),
    "simhash_mix" -> (exprs => SimhashMix(exprs.head)),
    // aggregates: the analyzer wraps a bare AggregateFunction in
    // AggregateExpression(Complete) on resolution
    "moment_partials" -> (exprs =>
      MomentPartials(exprs.head, graft.ops.Similarity.Dims, diag = false)),
    "dim_moments" -> (exprs =>
      MomentPartials(exprs.head, graft.ops.Similarity.Dims, diag = true)),
    "mahal_score" -> (exprs => MahalScore(exprs(0), exprs(1), exprs(2))),
    "mg_sketch" -> (exprs =>
      MisraGries(exprs.head, graft.ops.Analytics.HeavyK)),
    "hilbert_index" -> (exprs =>
      HilbertIndex(exprs(0), exprs(1), graft.ops.Layout.ZBits)),
    "topk_struct" -> (exprs => TopKStructs(exprs(0), exprs(1) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v,
          org.apache.spark.sql.types.IntegerType) =>
        // k <= 0 would otherwise surface as an opaque
        // NoSuchElementException from insert()'s buf.last on the
        // first row — reject at analysis time instead (round-10
        // ADVICE)
        val k = v.asInstanceOf[Int]
        require(k > 0, s"topk_struct k must be positive, got $k")
        k
      case other => throw new IllegalArgumentException(
        s"topk_struct k must be an integer literal, got $other")
    })))
}
