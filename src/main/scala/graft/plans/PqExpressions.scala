package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native expressions for the product-quantization hot path (the PQ and
  * IVF-PQ serves in [[graft.ann.PortableAnn]]).
  *
  * The composed form of the PQ encoder is one `transform`+`aggregate` lambda
  * pair per (subspace × code) — m·k = 256 nested HOF subtrees at a
  * 16×16 config. That tree is not just slow to EXECUTE (boxed per-element
  * lambdas outside codegen), it is slow to PLAN: analysis + optimization of
  * the 256-lambda tree cost seconds per Lloyd iteration regardless of data
  * size. Both expressions here keep the trained parameters OUT of the tree —
  * the codebook/table literal is a single foldable child whose value is
  * extracted once at first eval — so the plan is one node and the inner loop
  * is a fused primitive loop in generated code.
  *
  * Registered via [[GraftExtensions]] as `pq_encode` / `adc_dist`; the
  * parameter child must be a foldable nested-double-array literal (they are
  * trained model parameters, shipped with the plan like a broadcast of
  * O(m·k·w) doubles — never data).
  */
private object PqParams {
  /** Extract a foldable array<array<...<double>>> literal into a flat array,
    * validating rectangularity. Returns (dims, flat) with row-major layout. */
  def flatten3(e: Expression): (Int, Int, Int, Array[Double]) = {
    val outer = e.eval(null).asInstanceOf[ArrayData]
    val m = outer.numElements()
    require(m > 0, "empty parameter array")
    val mid0 = outer.getArray(0)
    val k = mid0.numElements()
    require(k > 0, "empty code axis")
    val w = mid0.getArray(0).numElements()
    require(w > 0, "empty subspace axis")
    val flat = new Array[Double](m * k * w)
    var s = 0
    while (s < m) {
      val mid = outer.getArray(s)
      require(mid.numElements() == k, s"ragged code axis at subspace $s")
      var c = 0
      while (c < k) {
        val inner = mid.getArray(c)
        require(inner.numElements() == w, s"ragged subspace axis at ($s,$c)")
        var i = 0
        while (i < w) { flat((s * k + c) * w + i) = inner.getDouble(i); i += 1 }
        c += 1
      }
      s += 1
    }
    (m, k, w, flat)
  }

  def flatten2(e: Expression): (Int, Int, Array[Double]) = {
    val outer = e.eval(null).asInstanceOf[ArrayData]
    val m = outer.numElements()
    require(m > 0, "empty parameter array")
    val k = outer.getArray(0).numElements()
    require(k > 0, "empty code axis")
    val flat = new Array[Double](m * k)
    var s = 0
    while (s < m) {
      val row = outer.getArray(s)
      require(row.numElements() == k, s"ragged table at subspace $s")
      var c = 0
      while (c < k) { flat(s * k + c) = row.getDouble(c); c += 1 }
      s += 1
    }
    (m, k, flat)
  }

  def checkParam(name: String, e: Expression, depth: Int): TypeCheckResult = {
    def peel(dt: DataType, d: Int): Boolean = (dt, d) match {
      case (DoubleType, 0) => true
      case (ArrayType(inner, _), n) if n > 0 => peel(inner, n - 1)
      case _ => false
    }
    if (!e.foldable)
      TypeCheckResult.TypeCheckFailure(s"$name parameter must be a literal")
    else if (!peel(e.dataType, depth))
      TypeCheckResult.TypeCheckFailure(
        s"$name parameter must be ${"array<" * depth}double${">" * depth}, " +
          s"got ${e.dataType.simpleString(10)}")
    else TypeCheckResult.TypeCheckSuccess
  }
}

/** `pq_encode(vec, codebooks)`: per-subspace nearest-code ids as
  * array<int> of length m. Distances are squared L2 in double precision,
  * accumulated left-to-right; exact ties resolve to the smaller code id —
  * bit-identical to the HOF `transform`/`array_position(array_min)` form it
  * replaces (parity-tested). NULL for a vector of the wrong length or with
  * null elements. */
case class PqEncodeCodes(left: Expression, right: Expression)
    extends BinaryExpression {

  @transient private lazy val (m, k, w, flat) = PqParams.flatten3(right)

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "pq_encode"

  override def checkInputDataTypes(): TypeCheckResult = {
    val v = VectorElem.check(prettyName, left.dataType)
    if (v != TypeCheckResult.TypeCheckSuccess) v
    else PqParams.checkParam(prettyName, right, 3)
  }

  private def encodeVec(v: ArrayData): Array[Int] = {
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < k) {
        var d = 0.0
        val base = (s * k + c) * w
        var i = 0
        while (i < w) {
          val x = VectorElem.read(left.dataType, v, s * w + i) - flat(base + i)
          d += x * x; i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      codes(s) = best
      s += 1
    }
    codes
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    if (v.numElements() != m * w) return null
    var i = 0
    while (i < m * w) { if (v.isNullAt(i)) return null; i += 1 }
    UnsafeArrayData.fromPrimitiveArray(encodeVec(v))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val flatRef = ctx.addReferenceObj("pqFlat", flat, "double[]")
    nullSafeCodeGen(ctx, ev, (v, _) => {
      val codes = ctx.freshName("codes")
      val ok = ctx.freshName("ok")
      val s = ctx.freshName("s")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      val x = ctx.freshName("x")
      val best = ctx.freshName("best")
      val bestD = ctx.freshName("bestD")
      val base = ctx.freshName("base")
      val idx = ctx.freshName("idx")
      val getV = VectorElem.genGet(left.dataType, v, idx, "pq_encode input")
      s"""
         |boolean $ok = ($v.numElements() == ${m * w});
         |for (int $i = 0; $ok && $i < ${m * w}; $i++) {
         |  if ($v.isNullAt($i)) $ok = false;
         |}
         |if (!$ok) {
         |  ${ev.isNull} = true;
         |} else {
         |  int[] $codes = new int[$m];
         |  for (int $s = 0; $s < $m; $s++) {
         |    int $best = 0;
         |    double $bestD = Double.MAX_VALUE;
         |    for (int $c = 0; $c < $k; $c++) {
         |      double $d = 0.0;
         |      int $base = ($s * $k + $c) * $w;
         |      for (int $i = 0; $i < $w; $i++) {
         |        int $idx = $s * $w + $i;
         |        double $x = $getV - $flatRef[$base + $i];
         |        $d += $x * $x;
         |      }
         |      if ($d < $bestD) { $bestD = $d; $best = $c; }
         |    }
         |    $codes[$s] = $best;
         |  }
         |  ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |    .fromPrimitiveArray($codes);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `adc_dist(codes, tables)`: asymmetric-distance lookup — the sum over
  * subspaces of `tables(s)(codes(s))`, the PQ approximation of the squared
  * L2 distance between the (never-read) original vector and the query whose
  * per-subspace distance tables were computed on the driver. NULL for a codes
  * array of the wrong length or with any code outside [0, k). */
case class AdcDistance(left: Expression, right: Expression)
    extends BinaryExpression {

  @transient private lazy val (m, k, flat) = PqParams.flatten2(right)

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "adc_dist"

  override def checkInputDataTypes(): TypeCheckResult = {
    left.dataType match {
      case ArrayType(IntegerType, _) => PqParams.checkParam(prettyName, right, 2)
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<int> codes, got ${other.simpleString(10)}")
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val codes = a.asInstanceOf[ArrayData]
    if (codes.numElements() != m) return null
    var acc = 0.0
    var s = 0
    while (s < m) {
      if (codes.isNullAt(s)) return null
      val c = codes.getInt(s)
      if (c < 0 || c >= k) return null
      acc += flat(s * k + c)
      s += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val flatRef = ctx.addReferenceObj("adcFlat", flat, "double[]")
    nullSafeCodeGen(ctx, ev, (codes, _) => {
      val ok = ctx.freshName("ok")
      val s = ctx.freshName("s")
      val c = ctx.freshName("c")
      val acc = ctx.freshName("acc")
      s"""
         |boolean $ok = ($codes.numElements() == $m);
         |double $acc = 0.0;
         |for (int $s = 0; $ok && $s < $m; $s++) {
         |  if ($codes.isNullAt($s)) { $ok = false; break; }
         |  int $c = $codes.getInt($s);
         |  if ($c < 0 || $c >= $k) { $ok = false; break; }
         |  $acc += $flatRef[$s * $k + $c];
         |}
         |if (!$ok) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
