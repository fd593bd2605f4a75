package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the vector hot path (SURVEY §7.3:
  * "custom Expression for the hot ones").
  *
  * The `aggregate(zip_with(...))` formulation in VectorFunctions is
  * correct but evaluates interpreted (higher-order functions don't
  * participate in whole-stage codegen); these expressions generate a
  * tight primitive loop instead — no lambda dispatch, no boxing, no
  * intermediate zipped array. Both eval and doGenCode accumulate in
  * double over the element type, in array order, so results are
  * bit-identical to the HOF formulation and the DuckDB oracle.
  */
/** Sizing contract for the matrix-carrying kernels (NearestList /
  * PqEncode / MatVecProject): the centroid/codebook/basis matrix rides
  * the serialized plan as a REFERENCE OBJECT, one copy per task binary
  * — driver-sized by design, exactly like the driver-side quantizer
  * training that produces it (`Ivf.build` / `Pq.build` / `Pca.fit`).
  * That is the right trade up to a few tens of MB: the matrix is
  * CPU-cache-resident during the row loop and there is no broadcast
  * fetch on the task critical path. [[KernelConstants.MaxLiteralElems]]
  * (16.7M elements ≈ 67 MB of floats) is the explicit ceiling — a
  * FAISS-scale nlist=64k × d=768 coarse quantizer (49M elements,
  * ~200 MB) fails fast with the remediation rather than silently
  * shipping a 200 MB plan: hold the matrix in a
  * `sparkContext.broadcast` and reference `bc.value` from a kernel
  * variant (one executor-wide copy, torrent-fetched), or shard the
  * assignment IVF-style (coarse-assign against a small top level,
  * refine per list). No probed workload is within 50× of the ceiling
  * (largest committed: nlist=256 × d=768 = 197k elements). */
object KernelConstants {
  final val MaxLiteralElems: Long = 1L << 24

  private[expressions] def checkMatrixSize(
      what: String, elems: Long): Unit =
    require(elems <= MaxLiteralElems,
      f"$what has $elems%d elements (~${elems * 4 / 1e6}%.0f MB as " +
        f"float) — past the $MaxLiteralElems%d-element plan-literal " +
        "ceiling. Ship it as a sparkContext.broadcast (one executor-wide " +
        "copy) or shard the assignment IVF-style instead of embedding " +
        "it in every task binary.")
}

abstract class VectorFoldExpression extends BinaryExpression
    with Serializable {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  protected def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  /** Combine one element pair into the accumulator (interpreted path). */
  protected def combine(acc: Double, x: Double, y: Double): Double
  /** Java source for the loop body; acc/x/y are double variables. */
  protected def combineCode(acc: String, x: String, y: String): String

  // NULL semantics match the HOF formulation aggregate(zip_with(...))
  // and the DuckDB oracle exactly: mismatched lengths or any null
  // element pair make the whole result NULL (zip_with pads with null,
  // and null poisons the fold) — no silent partial sums.

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (xs, ys) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (xs.numElements() != ys.numElements()) return null
    val n = xs.numElements()
    val (lt, rt) = (elemType(left), elemType(right))
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (xs.isNullAt(i) || ys.isNullAt(i)) return null
      val x = lt match {
        case FloatType => xs.getFloat(i).toDouble
        case _ => xs.getDouble(i)
      }
      val y = rt match {
        case FloatType => ys.getFloat(i).toDouble
        case _ => ys.getDouble(i)
      }
      acc = combine(acc, x, y)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (lGet, rGet) = (
      if (elemType(left) == FloatType) "getFloat" else "getDouble",
      if (elemType(right) == FloatType) "getFloat" else "getDouble")
    nullSafeCodeGen(ctx, ev, (xs, ys) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |if ($xs.numElements() != $ys.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $xs.numElements();
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($xs.isNullAt($i) || $ys.isNullAt($i)) {
         |      ${ev.isNull} = true;
         |      break;
         |    }
         |    double $x = (double) $xs.$lGet($i);
         |    double $y = (double) $ys.$rGet($i);
         |    ${combineCode(acc, x, y)}
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $acc;
         |  }
         |}
       """.stripMargin
    })
  }
}

/** Σ xᵢ·yᵢ — the kernel of cosine/dot similarity search. */
case class DotProduct(left: Expression, right: Expression)
    extends VectorFoldExpression {
  override def prettyName: String = "graft_dot"
  protected def combine(acc: Double, x: Double, y: Double): Double = acc + x * y
  protected def combineCode(acc: String, x: String, y: String): String =
    s"$acc = $acc + $x * $y;"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Σ (xᵢ-yᵢ)² — squared Euclidean distance. */
case class L2DistanceSq(left: Expression, right: Expression)
    extends VectorFoldExpression {
  override def prettyName: String = "graft_l2sq"
  protected def combine(acc: Double, x: Double, y: Double): Double = {
    val d = x - y; acc + d * d
  }
  protected def combineCode(acc: String, x: String, y: String): String =
    s"double d = $x - $y; $acc = $acc + d * d;"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2DistanceSq =
    copy(left = newLeft, right = newRight)
}

/** argmax over a centroid MATRIX of `v·cᵢ − ‖cᵢ‖²/2` (≡ nearest
  * centroid in L2), fused into ONE small loop — the assignment kernel
  * of IVF and distributed k-means.
  *
  * Why not `array(dot(v,c₀)−h₀, …)` + `array_position(array_max(…))`
  * (the pre-r13 formulation)? That inlines k independent dot loops
  * into one generated `doConsume`; at k≈64 the method blows past the
  * JVM's huge-method bytecode limit, HotSpot refuses to JIT it, and
  * the "codegen'd" assignment runs as interpreted bytecode —
  * measured ~200× slower at 2M×64/k=64: 420 s vs 2 s per pass
  * (the retired KmeansProbe main caught it — 32 cores pegged for minutes per pass
  * inside `project_doConsume`; docs/artifacts/kmeans_probe_r13c.txt).
  * This expression is one k×dim loop over two flat reference arrays —
  * a few hundred bytecodes regardless of k, always JIT-compiled.
  *
  * Semantics are IDENTICAL to the old formulation (the oracle gate
  * re-proves it): scores accumulate left-to-right in double over the
  * element type, ties keep the LOWEST list id (strict `>` ≡
  * array_position-of-first-max), a null/ragged vector yields null
  * (any null element made every dot null, so the argmax was null). */
case class NearestList(child: Expression, cents: Array[Array[Float]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with Serializable {
  require(cents.nonEmpty && cents.forall(_.length == cents.head.length),
    "centroid matrix must be non-empty and rectangular")
  // plan-literal sizing contract — see KernelConstants
  KernelConstants.checkMatrixSize("NearestList centroid matrix",
    cents.length.toLong * cents.head.length)

  override def prettyName: String = "graft_nearest_list"
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  // the default rendering would print the matrix as [[F@<hashcode> —
  // unreadable AND run-nondeterministic (EXPLAIN.md would churn on
  // every regeneration); show the shape instead
  override def toString: String =
    s"$prettyName($child, k=$k, dim=$dim)"
  override def sql: String = s"$prettyName(${child.sql}, k=$k, dim=$dim)"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<float|double> input, got ${other.simpleString}")
  }

  private def k = cents.length
  private def dim = cents.head.length

  /** Flattened row-major matrix + the ‖c‖²/2 terms, computed once per
    * (driver/executor) deserialized instance — the same
    * `c.map(x => x.toDouble * x).sum / 2.0` fold the Column-level
    * formulation used, so scores match bit for bit. */
  @transient private lazy val flat: Array[Float] = {
    val f = new Array[Float](k * dim)
    var c = 0
    while (c < k) {
      System.arraycopy(cents(c), 0, f, c * dim, dim); c += 1
    }
    f
  }
  @transient private lazy val halves: Array[Double] =
    cents.map(c => c.map(x => x.toDouble * x).sum / 2.0)

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    if (v.numElements() != dim) return null
    val isFloat =
      child.dataType.asInstanceOf[ArrayType].elementType == FloatType
    val x = new Array[Double](dim)
    var j = 0
    while (j < dim) {
      if (v.isNullAt(j)) return null
      x(j) = if (isFloat) v.getFloat(j).toDouble else v.getDouble(j)
      j += 1
    }
    var best = -1
    var bestScore = Double.NegativeInfinity
    var c = 0
    while (c < k) {
      var acc = 0.0
      val base = c * dim
      var i = 0
      while (i < dim) { acc += x(i) * flat(base + i); i += 1 }
      val s = acc - halves(c)
      if (s > bestScore) { bestScore = s; best = c }
      c += 1
    }
    best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val get = if (child.dataType.asInstanceOf[ArrayType].elementType ==
      FloatType) "getFloat" else "getDouble"
    val fRef = ctx.addReferenceObj("graftCents", flat, "float[]")
    val hRef = ctx.addReferenceObj("graftHalves", halves, "double[]")
    nullSafeCodeGen(ctx, ev, v => {
      val (x, j, c, i, acc, s, best, bs, base) = (
        ctx.freshName("x"), ctx.freshName("j"), ctx.freshName("c"),
        ctx.freshName("i"), ctx.freshName("acc"), ctx.freshName("s"),
        ctx.freshName("best"), ctx.freshName("bs"), ctx.freshName("base"))
      s"""
         |if ($v.numElements() != $dim) {
         |  ${ev.isNull} = true;
         |} else {
         |  double[] $x = new double[$dim];
         |  for (int $j = 0; $j < $dim; $j++) {
         |    if ($v.isNullAt($j)) { ${ev.isNull} = true; break; }
         |    $x[$j] = (double) $v.$get($j);
         |  }
         |  if (!${ev.isNull}) {
         |    int $best = -1;
         |    double $bs = Double.NEGATIVE_INFINITY;
         |    for (int $c = 0; $c < $k; $c++) {
         |      double $acc = 0.0;
         |      int $base = $c * $dim;
         |      for (int $i = 0; $i < $dim; $i++) {
         |        $acc += $x[$i] * (double) $fRef[$base + $i];
         |      }
         |      double $s = $acc - $hRef[$c];
         |      if ($s > $bs) { $bs = $s; $best = $c; }
         |    }
         |    ${ev.value} = $best;
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression)
      : NearestList = copy(child = newChild)
}

/** Product-quantization encoding — codes[s] = argmin_c ‖v_sub(s) −
  * codebook(s)(c)‖² for all m subspaces, fused into ONE triple loop
  * (m × ksub × dsub) over a flat codebook reference array.
  *
  * Same huge-method story as [[NearestList]], but on PQ's CORPUS-scale
  * stage: the per-subspace `array(l2Sq(sub, code_0), …)` +
  * array_position-of-first-min formulation inlines m × ksub distance
  * loops into one generated method — tolerable at the oracle queries'
  * ksub=16, interpreted bytecode at the ksub=256 every real PQ uses.
  * This expression's method size is constant in both m and ksub.
  *
  * Per-subspace semantics are IDENTICAL to the old column form
  * (spec-pinned, and the PQ/IVF-PQ oracle family re-proves it):
  * distances accumulate left-to-right in double; ties keep the LOWEST
  * code; a subspace whose slice is short or contains a null element
  * yields a NULL code for THAT subspace only (slice+l2Sq null
  * semantics — a truncated vector still encodes its complete prefix
  * subspaces, and `adcExpr` null-propagates the rest). */
case class PqEncode(child: Expression, codebooks: Array[Array[Array[Float]]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with Serializable {
  require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
    "need at least one subspace and one code per subspace")
  require(codebooks.flatten.forall(_.length == codebooks.head.head.length),
    "all codewords must share the sub-dimension")
  require(codebooks.forall(_.length == codebooks.head.length),
    "all subspaces must share ksub")
  // plan-literal sizing contract — see KernelConstants
  KernelConstants.checkMatrixSize("PqEncode codebooks",
    codebooks.length.toLong * codebooks.head.length *
      codebooks.head.head.length)

  override def prettyName: String = "graft_pq_encode"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<float|double> input, got ${other.simpleString}")
  }

  private def m = codebooks.length
  private def ksub = codebooks.head.length
  private def dsub = codebooks.head.head.length

  override def toString: String =
    s"$prettyName($child, m=$m, ksub=$ksub, dsub=$dsub)"
  override def sql: String =
    s"$prettyName(${child.sql}, m=$m, ksub=$ksub, dsub=$dsub)"

  /** Flat row-major codebook: [s][c][j] at ((s*ksub)+c)*dsub + j. */
  @transient private lazy val flat: Array[Float] = {
    val f = new Array[Float](m * ksub * dsub)
    var s = 0
    while (s < m) {
      var c = 0
      while (c < ksub) {
        System.arraycopy(codebooks(s)(c), 0, f, (s * ksub + c) * dsub, dsub)
        c += 1
      }
      s += 1
    }
    f
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val isFloat =
      child.dataType.asInstanceOf[ArrayType].elementType == FloatType
    val n = v.numElements()
    val out = new Array[Any](m)
    var s = 0
    while (s < m) {
      val base = s * dsub
      if (base + dsub > n) out(s) = null
      else {
        val x = new Array[Double](dsub)
        var j = 0
        var anyNull = false
        while (j < dsub && !anyNull) {
          if (v.isNullAt(base + j)) anyNull = true
          else x(j) =
            if (isFloat) v.getFloat(base + j).toDouble
            else v.getDouble(base + j)
          j += 1
        }
        if (anyNull) out(s) = null
        else {
          var best = -1
          var bd = Double.PositiveInfinity
          var c = 0
          while (c < ksub) {
            var acc = 0.0
            val cb = (s * ksub + c) * dsub
            var i = 0
            while (i < dsub) {
              val d = x(i) - flat(cb + i); acc += d * d; i += 1
            }
            if (acc < bd) { bd = acc; best = c }
            c += 1
          }
          out(s) = best
        }
      }
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val get = if (child.dataType.asInstanceOf[ArrayType].elementType ==
      FloatType) "getFloat" else "getDouble"
    val fRef = ctx.addReferenceObj("graftCodebooks", flat, "float[]")
    nullSafeCodeGen(ctx, ev, v => {
      val (out, n, s, base, x, j, anyNull, best, bd, c, cb, acc, i, d) = (
        ctx.freshName("out"), ctx.freshName("n"), ctx.freshName("s"),
        ctx.freshName("base"), ctx.freshName("x"), ctx.freshName("j"),
        ctx.freshName("anyNull"), ctx.freshName("best"), ctx.freshName("bd"),
        ctx.freshName("c"), ctx.freshName("cb"), ctx.freshName("acc"),
        ctx.freshName("i"), ctx.freshName("d"))
      s"""
         |Object[] $out = new Object[$m];
         |int $n = $v.numElements();
         |double[] $x = new double[$dsub];
         |for (int $s = 0; $s < $m; $s++) {
         |  int $base = $s * $dsub;
         |  if ($base + $dsub > $n) { $out[$s] = null; continue; }
         |  boolean $anyNull = false;
         |  for (int $j = 0; $j < $dsub && !$anyNull; $j++) {
         |    if ($v.isNullAt($base + $j)) $anyNull = true;
         |    else $x[$j] = (double) $v.$get($base + $j);
         |  }
         |  if ($anyNull) { $out[$s] = null; continue; }
         |  int $best = -1;
         |  double $bd = Double.POSITIVE_INFINITY;
         |  for (int $c = 0; $c < $ksub; $c++) {
         |    double $acc = 0.0;
         |    int $cb = ($s * $ksub + $c) * $dsub;
         |    for (int $i = 0; $i < $dsub; $i++) {
         |      double $d = $x[$i] - (double) $fRef[$cb + $i];
         |      $acc += $d * $d;
         |    }
         |    if ($acc < $bd) { $bd = $acc; $best = $c; }
         |  }
         |  $out[$s] = java.lang.Integer.valueOf($best);
         |}
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression)
      : PqEncode = copy(child = newChild)
}

/** Dense affine projection — out[r] = Σᵢ (v[i] − mean[i]) · M[r][i]
  * for all `rows` output coordinates, fused into ONE rows × dim loop
  * over a flat row-major matrix: the kernel of PCA projection,
  * JL random projection, and any learned linear re-embedding.
  *
  * Same huge-method discipline as [[NearestList]]/[[PqEncode]]: the
  * `array(dot(v,m₀), …)` formulation inlines `rows` dot loops into one
  * generated method (interpreted bytecode past the JIT limit at the
  * 64-wide bases PCA actually uses); this expression's method size is
  * constant in both `rows` and `dim`, so the corpus-scale projection
  * pass stays whole-stage-codegen'd and JIT-compiled.
  *
  * Numerics are pinned for the DuckDB oracle gate (q_jl_project):
  * elements widen to double, each output accumulates left-to-right
  * over i ascending, centering happens per element BEFORE the product
  * ((v[i]−mean[i])·m — not v·m − mean·m, which rounds differently).
  * NULL semantics: a null/ragged vector or ANY null element nulls the
  * WHOLE output — unlike PQ's per-subspace codes, every projected
  * coordinate mixes every input dimension, so no partial output is
  * honest. */
case class MatVecProject(child: Expression, mat: Array[Array[Double]],
    mean: Array[Double])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with Serializable {
  require(mat.nonEmpty && mat.forall(_.length == mean.length),
    "matrix must be non-empty with rows matching the mean length")
  // plan-literal sizing contract — see KernelConstants (doubles, so
  // the MB estimate in the message understates by 2× — still the
  // right order for the remediation decision)
  KernelConstants.checkMatrixSize("MatVecProject matrix",
    mat.length.toLong * mean.length)

  override def prettyName: String = "graft_matvec_project"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true

  private def rows = mat.length
  private def dim = mean.length

  // shape-only rendering — see NearestList: the default would print
  // [[D@<hashcode>, churning EXPLAIN.md nondeterministically
  override def toString: String =
    s"$prettyName($child, rows=$rows, dim=$dim)"
  override def sql: String = s"$prettyName(${child.sql}, rows=$rows, dim=$dim)"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<float|double> input, got ${other.simpleString}")
  }

  /** Flat row-major matrix, built once per deserialized instance. */
  @transient private lazy val flat: Array[Double] = {
    val f = new Array[Double](rows * dim)
    var r = 0
    while (r < rows) {
      System.arraycopy(mat(r), 0, f, r * dim, dim); r += 1
    }
    f
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    if (v.numElements() != dim) return null
    val isFloat =
      child.dataType.asInstanceOf[ArrayType].elementType == FloatType
    val x = new Array[Double](dim)
    var j = 0
    while (j < dim) {
      if (v.isNullAt(j)) return null
      val e = if (isFloat) v.getFloat(j).toDouble else v.getDouble(j)
      x(j) = e - mean(j)
      j += 1
    }
    val out = new Array[Double](rows)
    var r = 0
    while (r < rows) {
      var acc = 0.0
      val base = r * dim
      var i = 0
      while (i < dim) { acc += x(i) * flat(base + i); i += 1 }
      out(r) = acc
      r += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val get = if (child.dataType.asInstanceOf[ArrayType].elementType ==
      FloatType) "getFloat" else "getDouble"
    val fRef = ctx.addReferenceObj("graftProjMat", flat, "double[]")
    val mRef = ctx.addReferenceObj("graftProjMean", mean, "double[]")
    nullSafeCodeGen(ctx, ev, v => {
      val (x, j, r, i, acc, base, out) = (
        ctx.freshName("x"), ctx.freshName("j"), ctx.freshName("r"),
        ctx.freshName("i"), ctx.freshName("acc"), ctx.freshName("base"),
        ctx.freshName("out"))
      s"""
         |if ($v.numElements() != $dim) {
         |  ${ev.isNull} = true;
         |} else {
         |  double[] $x = new double[$dim];
         |  for (int $j = 0; $j < $dim; $j++) {
         |    if ($v.isNullAt($j)) { ${ev.isNull} = true; break; }
         |    $x[$j] = (double) $v.$get($j) - $mRef[$j];
         |  }
         |  if (!${ev.isNull}) {
         |    double[] $out = new double[$rows];
         |    for (int $r = 0; $r < $rows; $r++) {
         |      double $acc = 0.0;
         |      int $base = $r * $dim;
         |      for (int $i = 0; $i < $dim; $i++) {
         |        $acc += $x[$i] * $fRef[$base + $i];
         |      }
         |      $out[$r] = $acc;
         |    }
         |    ${ev.value} =
         |      new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression)
      : MatVecProject = copy(child = newChild)
}

/** Σ |xᵢ-yᵢ| — Manhattan distance (reference Metric "Manhattan"). */
case class L1Distance(left: Expression, right: Expression)
    extends VectorFoldExpression {
  override def prettyName: String = "graft_l1"
  protected def combine(acc: Double, x: Double, y: Double): Double =
    acc + math.abs(x - y)
  protected def combineCode(acc: String, x: String, y: String): String =
    s"$acc = $acc + java.lang.Math.abs($x - $y);"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L1Distance =
    copy(left = newLeft, right = newRight)
}
