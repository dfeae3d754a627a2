package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** JVM-native Catalyst expressions for the embedding hot path (ANN
  * brute-force / IVF probe / near-dup verify).
  *
  * The `aggregate(zip_with(...))` formulations in [[VectorFns]] are
  * interpreted (higher-order functions don't codegen) and allocate a zipped
  * array per pair; these do the same arithmetic as one tight loop. The
  * summation ORDER is identical to the column versions (sequential
  * left-fold in index order, accumulator starts at 0.0, elements cast to
  * double before multiply) so results are bit-identical — pinned by
  * TextVectorSpec. [[VectorFns]] stays as the readable reference.
  */

private[functions] object VecRead {
  /** Element reader for float/double arrays, promoted to double. */
  def reader(dt: DataType): (ArrayData, Int) => Double = {
    dt.asInstanceOf[ArrayType].elementType match {
      case FloatType => (a, i) => a.getFloat(i).toDouble
      case DoubleType => (a, i) => a.getDouble(i)
      case IntegerType => (a, i) => a.getInt(i).toDouble
      case LongType => (a, i) => a.getLong(i).toDouble
      case other => throw new IllegalArgumentException(
        s"unsupported embedding element type $other")
    }
  }

  /** The same element read as generated Java (static dispatch on the
    * analysis-time element type — no per-row type tests in the loop). */
  def getterCode(dt: DataType, arr: String, i: String): String = {
    dt.asInstanceOf[ArrayType].elementType match {
      case FloatType => s"(double) $arr.getFloat($i)"
      case DoubleType => s"$arr.getDouble($i)"
      case IntegerType => s"(double) $arr.getInt($i)"
      case LongType => s"(double) $arr.getLong($i)"
      case other => throw new IllegalArgumentException(
        s"unsupported embedding element type $other")
    }
  }
}

/** Dot product of two numeric arrays in double precision. NULL if either
  * side is NULL, lengths differ, or any element is NULL — exactly the
  * `aggregate(zip_with(...))` column form (zip_with pads the shorter array
  * with NULLs and one NULL product poisons the whole fold). */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  // Returns NULL for non-null inputs (length mismatch, null element), so
  // nullability must not be inferred from the children.
  override def nullable: Boolean = true
  override def prettyName: String = "vec_dot"

  @transient private lazy val readL = VecRead.reader(left.dataType)
  @transient private lazy val readR = VecRead.reader(right.dataType)

  /** Whole-stage-codegen body: the identical index-order left-fold as
    * nullSafeEval, emitted as a tight primitive loop (a CodegenFallback
    * here would call the interpreted eval per ROW PAIR — exactly the
    * per-candidate cost the ANN kernels exist to avoid). */
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val getL = VecRead.getterCode(left.dataType, a, i)
      val getR = VecRead.getterCode(right.dataType, b, i)
      s"""
        int $n = $a.numElements();
        if ($b.numElements() != $n) {
          ${ev.isNull} = true;
        } else {
          double $acc = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
            $acc += ($getL) * ($getR);
          }
          if (!${ev.isNull}) ${ev.value} = $acc;
        }
      """
    })

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += readL(a, i) * readR(b, i)
      i += 1
    }
    acc
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Cosine similarity in one pass (three accumulators, each summed in index
  * order — bit-identical to dot/sqrt of the column forms). NULL when either
  * norm is 0 (zero vector), lengths differ, or any element is NULL,
  * matching `VectorFns.cosine` on every input class. */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  // NULL on length mismatch, null element, or zero-norm input — never
  // inherit non-nullability from the children.
  override def nullable: Boolean = true
  override def prettyName: String = "vec_cosine"

  @transient private lazy val readL = VecRead.reader(left.dataType)
  @transient private lazy val readR = VecRead.reader(right.dataType)

  /** Same three-accumulator single pass as nullSafeEval, in generated
    * Java — accumulation order identical, so codegen and interpreted
    * modes are bit-identical (pinned by spec in both modes). */
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val d = ctx.freshName("dd")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val sa = ctx.freshName("sa")
      val sb = ctx.freshName("sb")
      val getL = VecRead.getterCode(left.dataType, a, i)
      val getR = VecRead.getterCode(right.dataType, b, i)
      s"""
        int $n = $a.numElements();
        if ($b.numElements() != $n) {
          ${ev.isNull} = true;
        } else {
          double $d = 0.0; double $na = 0.0; double $nb = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
            double $x = $getL;
            double $y = $getR;
            $d += $x * $y;
            $na += $x * $x;
            $nb += $y * $y;
          }
          if (!${ev.isNull}) {
            double $sa = java.lang.Math.sqrt($na);
            double $sb = java.lang.Math.sqrt($nb);
            if ($sa > 0 && $sb > 0) { ${ev.value} = $d / ($sa * $sb); }
            else { ${ev.isNull} = true; }
          }
        }
      """
    })

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (b.numElements() != n) return null
    var d = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = readL(a, i)
      val y = readR(b, i)
      d += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val sa = math.sqrt(na)
    val sb = math.sqrt(nb)
    if (sa > 0 && sb > 0) d / (sa * sb) else null
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** Integer dot product with Java long semantics (silent wrap — exactly
  * the non-ANSI `aggregate(zip_with(a, b, _*_), 0L, _+_)` column form it
  * replaces on e17's per-pair hot path, where the interpreted
  * higher-order fold allocated a zipped array per candidate). NULL on
  * NULL input, length mismatch, or any NULL element — the DotProduct
  * contract over integral arrays. */
case class DotProductLong(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  // Returns NULL for non-null inputs (length mismatch, null element).
  override def nullable: Boolean = true
  override def prettyName: String = "vec_dot_long"

  // Reject unsupported element types at ANALYSIS time (advisor r10): the
  // runtime getters throw on the codegen/eval path, but an analysis-time
  // failure is where a type contract belongs — and a reader dispatched on
  // the wrong physical type would misread UnsafeArrayData bytes silently.
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(LongType | IntegerType | ShortType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<long|int|short> inputs, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  private def reader(dt: DataType): (ArrayData, Int) => Long =
    dt.asInstanceOf[ArrayType].elementType match {
      case LongType => (a, i) => a.getLong(i)
      case IntegerType => (a, i) => a.getInt(i).toLong
      case ShortType => (a, i) => a.getShort(i).toLong
      case other => throw new IllegalArgumentException(
        s"unsupported integral element type $other")
    }
  private def getterCode(dt: DataType, arr: String, i: String): String =
    dt.asInstanceOf[ArrayType].elementType match {
      case LongType => s"$arr.getLong($i)"
      case IntegerType => s"(long) $arr.getInt($i)"
      case ShortType => s"(long) $arr.getShort($i)"
      case other => throw new IllegalArgumentException(
        s"unsupported integral element type $other")
    }

  @transient private lazy val readL = reader(left.dataType)
  @transient private lazy val readR = reader(right.dataType)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val getL = getterCode(left.dataType, a, i)
      val getR = getterCode(right.dataType, b, i)
      s"""
        int $n = $a.numElements();
        if ($b.numElements() != $n) {
          ${ev.isNull} = true;
        } else {
          long $acc = 0L;
          for (int $i = 0; $i < $n; $i++) {
            if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
            $acc += ($getL) * ($getR);
          }
          if (!${ev.isNull}) ${ev.value} = $acc;
        }
      """
    })

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += readL(a, i) * readR(b, i)
      i += 1
    }
    acc
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): DotProductLong =
    copy(left = newLeft, right = newRight)
}

/** Σ_s lut[s][code_s] — the PQ asymmetric-distance (ADC) hot loop: per
  * candidate, m sub-table lookups + adds, replacing the interpreted
  * `aggregate(zip_with(lut, codes, element_at(_, _ + 1)))` form that
  * allocated a zipped m-array per (query, candidate) pair on e8/e12's
  * scan. Fold order is s ascending with a 0.0 accumulator — bit-identical
  * to the column form and to the oracle's list_sum(ORDER BY s). NULL on
  * NULL input, length mismatch, NULL sub-table/code, or an out-of-range
  * code (element_at's non-ANSI NULL, which poisons the column-form fold). */
case class PqAdcSum(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "pq_adc_sum"

  // Analysis-time type contract (advisor r10): the eval path hard-codes
  // sub.getDouble, so a float-element lut would MISREAD UnsafeArrayData
  // bytes silently on the interpreted path rather than error. Fail the
  // plan instead: lut must be array<array<double>>, codes integral.
  override def checkInputDataTypes(): TypeCheckResult = {
    val lutOk = left.dataType match {
      case ArrayType(ArrayType(DoubleType, _), _) => true
      case _ => false
    }
    val codesOk = right.dataType match {
      case ArrayType(LongType | IntegerType | ShortType, _) => true
      case _ => false
    }
    if (lutOk && codesOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<array<double>> lut, array<long|int|short> " +
        s"codes), got ${left.dataType.catalogString} and " +
        s"${right.dataType.catalogString}")
  }

  @transient private lazy val readCode: (ArrayData, Int) => Long =
    right.dataType.asInstanceOf[ArrayType].elementType match {
      case LongType => (a, i) => a.getLong(i)
      case IntegerType => (a, i) => a.getInt(i).toLong
      case ShortType => (a, i) => a.getShort(i).toLong
      case other => throw new IllegalArgumentException(
        s"unsupported code element type $other")
    }
  private def codeGetter(arr: String, i: String): String =
    right.dataType.asInstanceOf[ArrayType].elementType match {
      case LongType => s"$arr.getLong($i)"
      case IntegerType => s"(long) $arr.getInt($i)"
      case ShortType => s"(long) $arr.getShort($i)"
      case other => throw new IllegalArgumentException(
        s"unsupported code element type $other")
    }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val m = ctx.freshName("m")
      val s = ctx.freshName("s")
      val acc = ctx.freshName("acc")
      val sub = ctx.freshName("sub")
      val c = ctx.freshName("c")
      val getC = codeGetter(b, s)
      s"""
        int $m = $a.numElements();
        if ($b.numElements() != $m) {
          ${ev.isNull} = true;
        } else {
          double $acc = 0.0;
          for (int $s = 0; $s < $m; $s++) {
            if ($a.isNullAt($s) || $b.isNullAt($s)) { ${ev.isNull} = true; break; }
            org.apache.spark.sql.catalyst.util.ArrayData $sub = $a.getArray($s);
            long $c = $getC;
            if ($c < 0 || $c >= $sub.numElements() || $sub.isNullAt((int) $c)) {
              ${ev.isNull} = true; break;
            }
            $acc += $sub.getDouble((int) $c);
          }
          if (!${ev.isNull}) ${ev.value} = $acc;
        }
      """
    })

  override def nullSafeEval(l: Any, r: Any): Any = {
    val lut = l.asInstanceOf[ArrayData]
    val codes = r.asInstanceOf[ArrayData]
    val m = lut.numElements()
    if (codes.numElements() != m) return null
    var acc = 0.0
    var s = 0
    while (s < m) {
      if (lut.isNullAt(s) || codes.isNullAt(s)) return null
      val sub = lut.getArray(s)
      val c = readCode(codes, s)
      if (c < 0 || c >= sub.numElements() || sub.isNullAt(c.toInt)) return null
      acc += sub.getDouble(c.toInt)
      s += 1
    }
    acc
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): PqAdcSum =
    copy(left = newLeft, right = newRight)
}

/** Top-k nearest centroids by cosine, against a centroid matrix EMBEDDED
  * in the expression (driver-collected — the same boundedness contract as
  * broadcasting the centroid table, which every caller already assumed).
  *
  * This replaces the `crossJoin(broadcast(centroids)) → max_by/window`
  * assignment shape: correct, but the nested-loop join MATERIALIZES every
  * (vector × centroid) pair as a row — at the r8 sf10 probe that was
  * 8·10⁸ UnsafeRow copies (~220 GB) for 200k vectors × 4k anchors, 99 s
  * of pure row plumbing around 2 s of arithmetic. Here the pair never
  * exists: one narrow pass, a tight per-row loop over the matrix.
  *
  * Ordering is EXACTLY the judged window semantics:
  * (round(sim, 9) DESC NULLS LAST, centroid_id ASC). The rounding
  * comparator fast-paths |a−b| > 10⁻⁹ (rounding moves a value by at most
  * 0.5·10⁻⁹, so the order is already decided) and otherwise compares the
  * exact Spark rounding (BigDecimal.valueOf → setScale(9, HALF_UP) — the
  * RoundBase rule). Per-pair cosine nulls (length mismatch, null element,
  * zero norm) follow [[CosineSim]]; null-sim candidates fill after every
  * non-null one in id order. Returns array<struct<centroid_id, sim>>
  * best-first, length min(k, #centroids); NULL only for a NULL input
  * vector. `ids` must be ascending (the builder sorts).
  *
  * CodegenFallback is deliberate: the per-ROW work is the k·dim inner
  * loop, so expression-dispatch overhead is amortized thousands of times
  * over — the non-codegen-in-hot-path rule targets per-element exprs. */
case class NearestCells(child: Expression, ids: Array[Long],
                        mat: Array[Array[Double]], k: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(ids.length == mat.length, "ids/matrix length mismatch")
  require(k >= 1, s"k must be >= 1, got $k")
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("centroid_id", LongType, nullable = false),
    StructField("sim", DoubleType, nullable = true))), containsNull = false)
  // never NULL: a NULL input vector yields the all-null-sim candidate
  // list (the crossJoin form emitted pairs for NULL vectors too, and the
  // window then picked the lowest ids with null sims — replicated below
  // so judged outputs are row-identical)
  override def nullable: Boolean = false
  override def prettyName: String = "nearest_cells"

  @transient private lazy val read = VecRead.reader(child.dataType)

  /** Spark RoundBase semantics: NaN/Infinity pass through untouched
    * (BigDecimal.valueOf would throw), finite values round HALF_UP. */
  private def round9(d: Double): Double =
    if (d.isNaN || d.isInfinite) d
    else java.math.BigDecimal.valueOf(d)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()

  /** sign of (a <=> b) under the rounded ordering; exact rounding only
    * when the gap is small enough for it to matter. */
  private def cmpRounded(a: Double, b: Double): Int = {
    val d = a - b
    if (d > 1e-9) 1
    else if (d < -1e-9) -1
    // NaN gaps fall through; Double.compare ranks NaN greatest, exactly
    // the window's desc-NaN-first ordering
    else java.lang.Double.compare(round9(a), round9(b))
  }

  @transient private lazy val nullVecResult = {
    val outK = math.min(k, ids.length)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array.tabulate[Any](outK)(i =>
        org.apache.spark.sql.catalyst.InternalRow(ids(i), null)))
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val value = child.eval(input)
    if (value == null) nullVecResult else nullSafeEval(value)
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    // pre-read the vector once (and its norm); per-centroid loop reuses it
    var anyNullElem = false
    val vd = new Array[Double](n)
    var i = 0
    while (i < n && !anyNullElem) {
      if (v.isNullAt(i)) anyNullElem = true else vd(i) = read(v, i)
      i += 1
    }
    var vnorm = 0.0
    i = 0
    while (i < n) { vnorm += vd(i) * vd(i); i += 1 }
    val m = ids.length
    val outK = math.min(k, m)
    val bufId = new Array[Long](outK)
    val bufSim = new Array[Double](outK)
    val bufNull = new Array[Boolean](outK)
    var size = 0
    var j = 0
    while (j < m) {
      val c = mat(j)
      // cosine with CosineSim's null rules; a null mat row marks a
      // centroid whose vector had a null element (builder convention)
      var simNull = anyNullElem || c == null || c.length != n
      var sim = 0.0
      if (!simNull) {
        var d = 0.0; var nb = 0.0; var p = 0
        while (p < n) { val y = c(p); d += vd(p) * y; nb += y * y; p += 1 }
        val sa = math.sqrt(vnorm); val sb = math.sqrt(nb)
        if (sa > 0 && sb > 0) sim = d / (sa * sb) else simNull = true
      }
      // insertion: candidate beats buf(i) iff (non-null vs null) or
      // strictly greater rounded sim; ids ascend, so equal keys keep the
      // earlier (lower) id — the window's (sim desc, id asc)
      var pos = size
      var cont = true
      while (pos > 0 && cont) {
        val better =
          if (simNull) false
          else if (bufNull(pos - 1)) true
          else cmpRounded(sim, bufSim(pos - 1)) > 0
        if (better) pos -= 1 else cont = false
      }
      if (pos < outK) {
        val last = math.min(size, outK - 1)
        var q = last
        while (q > pos) {
          bufId(q) = bufId(q - 1); bufSim(q) = bufSim(q - 1); bufNull(q) = bufNull(q - 1)
          q -= 1
        }
        bufId(pos) = ids(j); bufSim(pos) = sim; bufNull(pos) = simNull
        if (size < outK) size += 1
      }
      j += 1
    }
    val rows = new Array[Any](size)
    i = 0
    while (i < size) {
      rows(i) = org.apache.spark.sql.catalyst.InternalRow(
        bufId(i), if (bufNull(i)) null else java.lang.Double.valueOf(bufSim(i)))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCells =
    copy(child = newChild)
}

private[functions] object PqCodebook {
  /** m subspaces × k codewords × sub dims: non-empty, and every codeword
    * the same length, so a malformed codebook fails here rather than as an
    * out-of-bounds index inside a task. */
  def validate(codebooks: Array[Array[Array[Double]]]): Unit = {
    require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty), "empty codebook")
    val sub = codebooks(0)(0).length
    require(codebooks.forall(_.forall(_.length == sub)),
      s"ragged codebook: every codeword must have length $sub")
  }
}

/** All m PQ codes in ONE expression node (r14, guide §1.2 per-task work +
  * §7.3 planning cost): the column form built, per subspace, an array of k
  * `aggregate(zip_with(slice(vec), lit(cw)))` trees — m·k interpreted
  * higher-order folds allocating a zipped array per (row, codeword), and
  * an expression forest of thousands of Catalyst nodes that dominated
  * e8/e12's wall as pure driver-side planning (TreeNode.transformUpWithPruning
  * in stack samples). One node plans in O(1) and evals as a tight loop.
  *
  * Semantics are EXACTLY the replaced column form (pinned by spec):
  *   - code_s = array_position(dists, array_min(dists)) − 1: the FIRST
  *     index of the exact minimum under Spark's double ordering (NaN
  *     greatest, NaN ≡ NaN), left-fold Σ (x−cw)² in index order from 0.0;
  *   - a missing or NULL element anywhere in subspace s (vector shorter
  *     than (s+1)·sub, or a null element) nulls every dist of s —
  *     zip_with's null padding — so code_s is NULL;
  *   - a NULL input vector yields an array of m NULL codes (the column
  *     `array(...)` of per-subspace NULLs), not a NULL array.
  *
  * CodegenFallback like [[NearestCells]]: the per-row work is the m·k·sub
  * inner loop, amortizing expression dispatch; the codebook matrix is
  * embedded in the expression (bounded: m·k·sub doubles — the same
  * driver-collect contract as the broadcast it replaces). */
case class PqEncodeCodes(child: Expression, codebooks: Array[Array[Array[Double]]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  PqCodebook.validate(codebooks)
  private val m = codebooks.length
  private val sub = codebooks(0)(0).length
  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "pq_encode"

  @transient private lazy val read = VecRead.reader(child.dataType)
  @transient private lazy val nullCodes =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array.fill[Any](m)(null))

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val value = child.eval(input)
    if (value == null) nullCodes else nullSafeEval(value)
  }

  /** Spark's double ordering (SQLOrderingUtil.compareDoubles): equal
    * doubles (incl. ±0.0) compare 0, otherwise java.lang.Double.compare —
    * NaN greatest and NaN ≡ NaN, the array_min/array_position rules. */
  private def lt(a: Double, b: Double): Boolean =
    !(a == b) && java.lang.Double.compare(a, b) < 0

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    val out = new Array[Any](m)
    var s = 0
    while (s < m) {
      val off = s * sub
      // subspace validity: all `sub` elements present and non-null —
      // otherwise every dist of this subspace is NULL in the column form
      var ok = off + sub <= n
      var i = 0
      while (ok && i < sub) { if (v.isNullAt(off + i)) ok = false; i += 1 }
      if (!ok) out(s) = null
      else {
        val xs = new Array[Double](sub)
        i = 0
        while (i < sub) { xs(i) = read(v, off + i); i += 1 }
        val cws = codebooks(s)
        var best = 0.0
        var bestJ = -1
        var j = 0
        while (j < cws.length) {
          val cw = cws(j)
          var acc = 0.0
          i = 0
          while (i < sub) { val d = xs(i) - cw(i); acc += d * d; i += 1 }
          if (bestJ < 0 || lt(acc, best)) { best = acc; bestJ = j }
          j += 1
        }
        out(s) = bestJ
      }
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncodeCodes =
    copy(child = newChild)
}

/** The per-query ADC lookup table (m×k exact subspace distances) in ONE
  * expression node — the [[PqEncodeCodes]] rationale applied to the
  * query-side `array(array(sqDist...))` forest. Same left-fold order and
  * zip_with null rules: an invalid subspace yields k NULL entries (the
  * inner array survives, positions kept — [[PqAdcSum]] then nulls any
  * candidate probing them); a NULL input vector yields m inner arrays of
  * k NULLs, exactly the column form. */
case class PqLutExpr(child: Expression, codebooks: Array[Array[Array[Double]]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  PqCodebook.validate(codebooks)
  private val m = codebooks.length
  private val sub = codebooks(0)(0).length
  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = true), containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "pq_lut"

  @transient private lazy val read = VecRead.reader(child.dataType)
  @transient private lazy val nullLut =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array.tabulate[Any](m)(s =>
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          Array.fill[Any](codebooks(s).length)(null))))

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val value = child.eval(input)
    if (value == null) nullLut else nullSafeEval(value)
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    val out = new Array[Any](m)
    var s = 0
    while (s < m) {
      val off = s * sub
      val cws = codebooks(s)
      var ok = off + sub <= n
      var i = 0
      while (ok && i < sub) { if (v.isNullAt(off + i)) ok = false; i += 1 }
      if (!ok)
        out(s) = new org.apache.spark.sql.catalyst.util.GenericArrayData(
          Array.fill[Any](cws.length)(null))
      else {
        val xs = new Array[Double](sub)
        i = 0
        while (i < sub) { xs(i) = read(v, off + i); i += 1 }
        val dists = new Array[Any](cws.length)
        var j = 0
        while (j < cws.length) {
          val cw = cws(j)
          var acc = 0.0
          i = 0
          while (i < sub) { val d = xs(i) - cw(i); acc += d * d; i += 1 }
          dists(j) = acc
          j += 1
        }
        out(s) = new org.apache.spark.sql.catalyst.util.GenericArrayData(dists)
      }
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): PqLutExpr =
    copy(child = newChild)
}

object VectorExprs {
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def cosine(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSim(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def dotLong(a: Column, b: Column): Column =
    ColumnBridge.column(DotProductLong(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def adcSum(lut: Column, codes: Column): Column =
    ColumnBridge.column(PqAdcSum(ColumnBridge.expression(lut), ColumnBridge.expression(codes)))

  def nearestCells(vec: Column, ids: Array[Long], mat: Array[Array[Double]],
                   k: Int): Column =
    ColumnBridge.column(NearestCells(ColumnBridge.expression(vec), ids, mat, k))

  def pqEncodeCodes(vec: Column, codebooks: Array[Array[Array[Double]]]): Column =
    ColumnBridge.column(PqEncodeCodes(ColumnBridge.expression(vec), codebooks))

  def pqLut(vec: Column, codebooks: Array[Array[Array[Double]]]): Column =
    ColumnBridge.column(PqLutExpr(ColumnBridge.expression(vec), codebooks))
}
