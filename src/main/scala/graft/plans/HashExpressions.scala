package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

private object HashElem {
  /** Analysis-time gate: these expressions call getLong on primitive slots —
    * non-array<bigint> input must fail analysis, never return garbage. */
  def check(name: String, dt: DataType): TypeCheckResult = dt match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$name requires an array<bigint> argument, got ${other.simpleString(10)}")
  }
}

/** Native per-row expressions for the text-dedup and quantized-vector
  * families: shingling, hashing, signatures, winnowing and integer dot
  * products.
  *
  * Higher-order functions never enter whole-stage codegen: a composed
  * `transform`/`aggregate` chain bottoms out in interpreted, allocation-heavy
  * per-element dispatch, and is re-evaluated wholesale when a downstream
  * null filter is pushed into the scan. Measured on the sf0.1 fixture, a
  * single task stuck on such a chain ran 60–180 s while 31 cores idled
  * (JIT-luck bimodality). Each expression here is ONE compiled loop per row
  * calling the same primitives the interpreted chain bottoms out in, so its
  * output is bit-identical to the composed form (parity asserted in
  * DedupSpec and TextVectorSpec) at a fraction of the cost.
  */

/** Word n-gram shingle STRINGS (space-joined, duplicates kept, document
  * order) — the native twin of the `transform(sequence, concat_ws(slice))`
  * HOF composition in `TextFunctions.wordShinglesHof`, for the query paths
  * that need the passage text itself (n-gram Jaccard, decontamination,
  * duplicated-passage detection) rather than its hash.
  *
  * Null propagation: a NULL text yields NULL (standard unary semantics); the
  * HOF composition yields an empty array instead. The fixture corpus has no
  * NULL texts; documented for parity-spec scoping. */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "word_shingles"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${other.simpleString(10)}")
  }

  override def nullSafeEval(input: Any): Any =
    WordShingles.compute(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.WordShingles.compute($a, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordShingles {
  import org.apache.spark.unsafe.types.UTF8String
  private val Space = UTF8String.fromString(" ")

  def compute(text: UTF8String, n: Int): ArrayData = {
    val words = text.split(Space, -1)
    if (words.length < n)
      return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](words.length - n + 1)
    val window = new Array[UTF8String](n)
    var i = 0
    while (i < out.length) {
      var j = 0
      while (j < n) { window(j) = words(i + j); j += 1 }
      out(i) = UTF8String.concatWs(Space, window: _*)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** The q159 portable 63-bit hyperplane signature as one fused native loop:
  * bit t (t = 0..62) is [Σ_j v[j]·c(t,j) ≥ 0] with arithmetic plane
  * coefficients c(t,j) = ((1299709·(t·dim+j) + 15485863) mod 1000003) −
  * 500001 — the integer algebra the DuckDB oracle replays verbatim (the
  * q99 portability pattern: no JVM RNG anywhere). The composed
  * nested-HOF form (aggregate over sequence(0,62) of an indexed transform)
  * is interpreted per row per bit; this loop runs 63·dim fused
  * multiply-accumulates in codegen with the coefficient computed inline —
  * no plane matrix in memory at all. Bit-parity with the HOF composition is
  * asserted in TextVectorSpec.
  *
  * Degenerate inputs (empty array, any null element) yield 0L. (The HOF
  * composition maps an EMPTY
  * array to all-ones instead — its aggregate seed 0 satisfies every
  * `≥ 0` test — and DuckDB's empty `list_sum` is NULL, so 0L is also the
  * only cross-engine-consistent choice; q159 filters zero-norm vectors
  * before signing either way.) */
case class PortableHyperplaneSig(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "portable_hyperplane_sig"

  override def checkInputDataTypes(): TypeCheckResult =
    HashElem.check(prettyName, child.dataType)

  override def nullSafeEval(input: Any): Any =
    PortableHyperplaneSig.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.plans.PortableHyperplaneSig.compute($v);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PortableHyperplaneSig {
  def compute(v: ArrayData): Long = {
    val d = v.numElements()
    if (d == 0) return 0L
    var j = 0
    while (j < d) { if (v.isNullAt(j)) return 0L; j += 1 }
    var sig = 0L
    var t = 0
    while (t < 63) {
      var s = 0L
      val base = t.toLong * d
      var i = 0
      while (i < d) {
        s += v.getLong(i) *
          ((1299709L * (base + i) + 15485863L) % 1000003L - 500001L)
        i += 1
      }
      if (s >= 0L) sig |= (1L << t)
      t += 1
    }
    sig
  }
}

/** Exact integer dot product of two array<bigint> columns (Σ a_i·b_i over
  * the common prefix, null elements skipped pairwise) — the compiled kernel
  * under the quantized-similarity family (q110's all-pairs scan evaluates it
  * once per PAIR, where the zip_with/aggregate HOF composition it replaces
  * would run interpreted). Returns NULL if either side is NULL. */
case class DotProductLong(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "dot_i64"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<bigint> arguments, got " +
          s"${l.simpleString(10)} and ${r.simpleString(10)}")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    DotProductLong.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.DotProductLong.compute($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotProductLong {
  def compute(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i)) acc += a.getLong(i) * b.getLong(i)
      i += 1
    }
    acc
  }
}

/** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
  * "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD 2003)
  * over a document's gram-hash array, as ONE per-row expression — the
  * r16 replacement for the explode → doc-keyed exchange → sort → 6-column
  * lag/lead window formulation of `winnowSelected` (bit-identical
  * selection, pinned in DedupSpec; the window stage carried ~11 s of task
  * time at sf0.1 for what is a local scan over each doc's own array, and
  * at warehouse scale the exchange+sort it needed shuffles the whole gram
  * stream once for no cross-row information). Input: the doc-ordered
  * gram hashes (duplicates kept). Output: array of (pos, fp) structs,
  * pos 1-based, for positions where, with lg(k)=hash at pos−k (MAX
  * beyond the start) and ld(k)=hash at pos+k (MAX beyond the end):
  *   (lg1≥h ∧ lg2≥h ∧ lg3≥h) ∨ (lg1≥h ∧ lg2≥h ∧ ld1>h)
  *   ∨ (lg1≥h ∧ ld1>h ∧ ld2>h) ∨ (ld1>h ∧ ld2>h ∧ ld3>h)
  * — the leftmost-minimum selection of every w=4 window, extended to
  * partial edge windows, exactly the window formulation's predicate. */
case class WinnowSelect(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("pos", LongType, nullable = false),
      StructField("fp", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "winnow_select"

  /** Null elements are refused at analysis: `compute` reads every slot
    * with getLong, which returns 0 for a null slot, so a null would be
    * selected as a real 0 hash. */
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, false) => TypeCheckResult.TypeCheckSuccess
    case ArrayType(LongType, true) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<bigint> with no null elements " +
        "(containsNull = false)")
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<bigint> argument, got " +
        other.simpleString(10))
  }

  override def nullSafeEval(input: Any): Any =
    WinnowSelect.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.WinnowSelect.compute($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WinnowSelect {
  def compute(hs: ArrayData): ArrayData = {
    val n = hs.numElements()
    val MAX = Long.MaxValue
    @inline def at(i: Int): Long =
      if (i >= 0 && i < n) hs.getLong(i) else MAX
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      val lg1 = at(i - 1); val lg2 = at(i - 2); val lg3 = at(i - 3)
      val ld1 = at(i + 1); val ld2 = at(i + 2); val ld3 = at(i + 3)
      val sel =
        (lg1 >= h && lg2 >= h && lg3 >= h) ||
          (lg1 >= h && lg2 >= h && ld1 > h) ||
          (lg1 >= h && ld1 > h && ld2 > h) ||
          (ld1 > h && ld2 > h && ld3 > h)
      if (sel) out += new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(Array[Any]((i + 1).toLong, h))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }
}

/** `size(array_intersect(a, b))` as one primitive-long expression — the
  * verification kernel of the containment/Jaccard/triangle families on
  * their hot paths (r16 optimization). The built-in ArrayIntersect builds
  * a boxed `OpenHashSet[Any]`, allocates the intersection ARRAY, and then
  * `size` throws it away; at sf0.1 the q252 verify stage spent ~8 s of
  * task time mostly in that box-allocate-discard loop. This expression
  * builds one primitive open-addressing long table over the right array
  * and counts DISTINCT left elements that probe into it — zero boxing,
  * zero result allocation, and bit-identical to the composed form for
  * every input (duplicates collapse on insert, a counted slot counts
  * once, a null element matches a null element once — the exact
  * ArrayIntersect contract; parity is property-pinned in DedupSpec). */
case class IntersectCountLong(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "intersect_count_i64"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<bigint> arguments, got " +
          s"${l.simpleString(10)} and ${r.simpleString(10)}")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    IntersectCountLong.compute(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.IntersectCountLong.compute($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object IntersectCountLong {
  /** Largest power of two a JVM `long[]` can hold (the VM refuses arrays
    * within a few slots of `Int.MaxValue`). */
  val MaxCapacity: Int = 1 << 30

  /** Table capacity for `n` right-side elements: the smallest power of two
    * ≥ max(4, 2n), computed in `Long`: in `Int` the doubling loop
    * overflows for n > 2^29 and never ends. Past [[MaxCapacity]] it fails
    * with an error naming the function instead. */
  def capacity(n: Int): Int = {
    val need = math.max(4L, 2L * n)
    if (need > MaxCapacity)
      throw new IllegalArgumentException(s"intersect_count_i64: right array " +
        s"of $n elements needs a table of $need slots, over the maximum " +
        s"$MaxCapacity")
    (java.lang.Long.highestOneBit(need - 1) << 1).toInt
  }

  /** Open-addressing table (linear probing) sized to the next power of two
    * ≥ 2·|right|; 0 and null ride dedicated flags so the table can use 0
    * as its empty marker. A `counted` bitmap makes a duplicated left
    * element count once — the array_intersect "distinct elements of the
    * left present in the right" contract. The table is thrown away per row
    * (arrays here are shingle/neighbor sets — tens to a few thousand
    * elements — so a fresh long[] beats any pooling complexity). */
  def compute(a: ArrayData, b: ArrayData): Long = {
    val n = b.numElements()
    val cap = capacity(n)
    val mask = cap - 1
    val table = new Array[Long](cap)
    var hasZero = false
    var hasNull = false
    var i = 0
    while (i < n) {
      if (b.isNullAt(i)) hasNull = true
      else {
        val v = b.getLong(i)
        if (v == 0L) hasZero = true
        else {
          var idx = (scala.util.hashing.byteswap64(v) & mask).toInt
          while (table(idx) != 0L && table(idx) != v)
            idx = (idx + 1) & mask
          table(idx) = v
        }
      }
      i += 1
    }
    val counted = new Array[Boolean](cap)
    var acc = 0L
    val m = a.numElements()
    var j = 0
    while (j < m) {
      if (a.isNullAt(j)) { if (hasNull) { acc += 1L; hasNull = false } }
      else {
        val v = a.getLong(j)
        if (v == 0L) { if (hasZero) { acc += 1L; hasZero = false } }
        else {
          var idx = (scala.util.hashing.byteswap64(v) & mask).toInt
          while (table(idx) != 0L && table(idx) != v)
            idx = (idx + 1) & mask
          if (table(idx) == v && !counted(idx)) { acc += 1L; counted(idx) = true }
        }
      }
      j += 1
    }
    acc
  }
}

/** Engine-portable md5-60-bit shingle hashes (duplicates kept, document
  * order) — the native twin of
  * `transform(wordShingles(text, n), conv(substring(md5(s),1,15),16,10))`
  * that feeds the cross-engine-checkable dedup/fingerprint paths (q99, q35):
  * the value of each element is the first 60 bits of the MD5 of the shingle's
  * UTF-8 bytes, exactly what DuckDB's `CAST('0x'||substr(md5(s),1,15) AS
  * BIGINT)` computes. Same interpreted-HOF motivation as [[WordShingles]];
  * here the per-shingle MD5 makes the interpreted chain (string build + hex
  * format + base-16 re-parse) even heavier, so the native loop digests the
  * shingle bytes and folds the leading 7.5 bytes directly — no hex string at
  * either end. Bit-parity with the composed plan is asserted in DedupSpec. */
case class PortableShingleHashes(child: Expression, n: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "portable_shingle_hashes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${other.simpleString(10)}")
  }

  override def nullSafeEval(input: Any): Any =
    PortableShingleHashes.compute(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.PortableShingleHashes.compute($a, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PortableShingleHashes {
  import org.apache.spark.unsafe.types.UTF8String
  private val Space = UTF8String.fromString(" ")
  private val Digest = ThreadLocal.withInitial(
    new java.util.function.Supplier[java.security.MessageDigest] {
      def get(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    })

  /** First 60 bits of md5(bytes): 15 hex digits = 7 full bytes + the high
    * nibble of the 8th — identical to parsing `substr(hex(md5), 1, 15)` in
    * base 16 on either engine. */
  private def md560(md: java.security.MessageDigest, s: UTF8String): Long = {
    md.reset()
    val d = md.digest(s.getBytes)
    var acc = 0L
    var i = 0
    while (i < 7) { acc = (acc << 8) | (d(i) & 0xffL); i += 1 }
    (acc << 4) | ((d(7) & 0xf0L) >> 4)
  }

  def compute(text: UTF8String, n: Int): ArrayData = {
    val words = text.split(Space, -1)
    if (words.length < n) return new GenericArrayData(Array.emptyLongArray)
    val md = Digest.get()
    val out = new Array[Long](words.length - n + 1)
    val window = new Array[UTF8String](n)
    var i = 0
    while (i < out.length) {
      var j = 0
      while (j < n) { window(j) = words(i + j); j += 1 }
      out(i) = md560(md, UTF8String.concatWs(Space, window: _*))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** 60-bit SimHash over the md5-60-bit shingle-hash array — q28's
  * cross-engine fingerprint (the same portability move
  * [[PortableHyperplaneSig]] makes for q159): bit t
  * (t = 0..59) of the result is set iff Σ_h sign(bit t of h) > 0, where the
  * h are [[PortableShingleHashes]] values both engines compute identically,
  * so a DuckDB oracle replays the ENTIRE fingerprint from the raw text.
  * 60 bits (not 64) because the portable hash itself is 60 bits — a signed
  * 64-bit value in either engine, never negative, so `>>`/`&`/`xor`
  * band-and-Hamming arithmetic agrees with no unsigned-shift caveats.
  * NULL for an empty array (docs with no shingles have no fingerprint),
  * null elements skipped, strict `> 0` majority per bit. */
case class PortableSimHash60(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "portable_simhash60"

  override def checkInputDataTypes(): TypeCheckResult =
    HashElem.check(prettyName, child.dataType)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return null
    val counts = new Array[Long](60)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = arr.getLong(i)
        var b = 0
        while (b < 60) {
          counts(b) += (if (((h >>> b) & 1L) == 1L) 1L else -1L)
          b += 1
        }
      }
      i += 1
    }
    var acc = 0L
    var b = 0
    while (b < 60) { if (counts(b) > 0) acc |= (1L << b); b += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val h = ctx.freshName("h")
      val acc = ctx.freshName("acc")
      val counts = ctx.freshName("counts")
      s"""
         |int $n = $a.numElements();
         |if ($n == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  long[] $counts = new long[60];
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i)) continue;
         |    long $h = $a.getLong($i);
         |    for (int $b = 0; $b < 60; $b++) {
         |      $counts[$b] += ((($h >>> $b) & 1L) == 1L) ? 1L : -1L;
         |    }
         |  }
         |  long $acc = 0L;
         |  for (int $b = 0; $b < 60; $b++) {
         |    if ($counts[$b] > 0) $acc |= (1L << $b);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
