package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/* Native Catalyst expressions for the hot paths where composing builtins
  * would allocate intermediates per row:
  *
  *  - [[CosineSim]] and [[DotProduct]]: fused cosine and dot product over
  *    two `array<double>`.
  *  - [[IntSqDist]]: exact squared L2 over two integer-tick `array<bigint>`
  *    (LSH bucketing, IVF/PQ geometry).
  *  - [[PqNearest]] and [[PqDists]]: one PQ subspace's nearest codeword,
  *    and its distances to every codeword.
  *  - [[RollHash64]]: base-31 rolling hash over UTF-8 or raw binary bytes.
  *  - [[RollWindowHash64]]: every sliding-window [[RollHash64]] over a
  *    token array, in one pass.
  *  - [[Mix64]], [[Avalanche64]] and [[Combine64]]: wrapping mod-2⁶⁴ hash
  *    combinators (MinHash permutations, sort keys, band signatures).
  *  - [[JaccardSim]]: distinct-set Jaccard over two `array<string>`.
  *  - [[RedactCascade]]: the email → phone → id PII cascade.
  *
  * Invariant: each expression has ONE kernel, a static method on its
  * companion object, and `nullSafeEval` and `doGenCode` both call it. So
  * constant folding, the interpreted fallback and whole-stage codegen
  * cannot disagree. A `doGenCode` is that call plus, for a nullable
  * expression, its null flag. The loops live in real JVM methods: the JIT
  * compiles them once, and the generated stage method stays under the
  * JVM's 8 KB JIT limit however many expressions fuse into it.
  */

/** Type check and NULL rule shared by the expressions over arrays. */
object ArrayArgs {
  /** Type check of an expression over two `array<elem>` arguments. */
  def check(e: BinaryExpression, elem: DataType): TypeCheckResult =
    (e.left.dataType, e.right.dataType) match {
      case (ArrayType(l, _), ArrayType(r, _)) if l == elem && r == elem =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"${e.prettyName} expects two array<${elem.simpleString}> arguments, got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }

  def noNulls(xs: ArrayData): Boolean = {
    var i = 0
    while (i < xs.numElements()) {
      if (xs.isNullAt(i)) return false
      i += 1
    }
    true
  }

  /** The NULL rule of the composed array formulations: `zip_with` pads a
    * length mismatch with nulls and a null element nulls the fold, so a
    * result exists only for equal lengths and no null element on either
    * side — never a silently truncated or zero-filled one.
    */
  def aligned(a: ArrayData, b: ArrayData): Boolean =
    a.numElements() == b.numElements() && noNulls(a) && noNulls(b)

  /** [[aligned]] against every codeword of a PQ codebook, none null. */
  def alignedCodebook(subv: ArrayData, codebook: ArrayData): Boolean = {
    var c = 0
    while (c < codebook.numElements()) {
      if (codebook.isNullAt(c) || !aligned(subv, codebook.getArray(c))) return false
      c += 1
    }
    true
  }
}

/** Cosine `dot/sqrt(Σa²·Σb²)` in one loop; the `zip_with`+`aggregate`
  * form materializes a products array per row. NULL unless
  * [[ArrayArgs.aligned]], like its composed reference.
  */
case class CosineSim(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = ArrayArgs.check(this, DoubleType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (xs, ys) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (ArrayArgs.aligned(xs, ys)) CosineSim.cosine(xs, ys) else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${ev.isNull} = !graft.functions.ArrayArgs.aligned($a, $b);
         |if (!${ev.isNull}) ${ev.value} = graft.functions.CosineSim.cosine($a, $b);""".stripMargin)

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

object CosineSim {
  /** Requires [[ArrayArgs.aligned]] arrays. */
  def cosine(xs: ArrayData, ys: ArrayData): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < xs.numElements()) {
      val x = xs.getDouble(i); val y = ys.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / math.sqrt(na * nb)
  }
}

/** Fused dot product over two array<double> columns — no per-row
  * `zip_with` product array. The LSH bucket computations evaluate a dot
  * against every hyperplane literal per row, so the allocation saved is
  * per row × per plane. NULL unless [[ArrayArgs.aligned]].
  */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = ArrayArgs.check(this, DoubleType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (xs, ys) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (ArrayArgs.aligned(xs, ys)) DotProduct.dot(xs, ys) else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${ev.isNull} = !graft.functions.ArrayArgs.aligned($a, $b);
         |if (!${ev.isNull}) ${ev.value} = graft.functions.DotProduct.dot($a, $b);""".stripMargin)

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** Requires [[ArrayArgs.aligned]] arrays. */
  def dot(xs: ArrayData, ys: ArrayData): Double = {
    var acc = 0.0
    var i = 0
    while (i < xs.numElements()) {
      acc += xs.getDouble(i) * ys.getDouble(i)
      i += 1
    }
    acc
  }
}

/** Fused exact squared L2 over two array<bigint> tick columns — the
  * quantized-vector geometry primitive (IVF assignment, PQ): no
  * intermediate diff array, exact long arithmetic (callers bound tick
  * magnitudes so the squared sums fit). NULL unless [[ArrayArgs.aligned]].
  */
case class IntSqDist(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = ArrayArgs.check(this, LongType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_int_sqdist"
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (xs, ys) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (ArrayArgs.aligned(xs, ys)) IntSqDist.sqDist(xs, ys) else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${ev.isNull} = !graft.functions.ArrayArgs.aligned($a, $b);
         |if (!${ev.isNull}) ${ev.value} = graft.functions.IntSqDist.sqDist($a, $b);""".stripMargin)

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): IntSqDist =
    copy(left = newLeft, right = newRight)
}

object IntSqDist {
  /** The one exact integer-L2 loop ([[PqNearest]] and [[PqDists]] run it
    * per codeword). Requires [[ArrayArgs.aligned]] arrays.
    */
  def sqDist(xs: ArrayData, ys: ArrayData): Long = {
    var acc = 0L
    var i = 0
    while (i < xs.numElements()) {
      val d = xs.getLong(i) - ys.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }
}

/** Polynomial (base-31) rolling hash over UTF-8 or raw binary bytes — a
  * single-pass 64-bit content fingerprint, no digest allocation. String
  * and binary inputs with identical bytes hash identically: binary
  * payloads (media chunks) are hashed raw, with no string cast that would
  * trip on frames split mid-codepoint.
  */
case class RollHash64(child: Expression)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_rollhash64 expects a string or binary argument, got ${t.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_rollhash64"

  override def nullSafeEval(input: Any): Any = RollHash64.hash(child.dataType match {
    case StringType => input.asInstanceOf[UTF8String].getBytes
    case _ => input.asInstanceOf[Array[Byte]]
  })

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = if (child.dataType == StringType) s"$c.getBytes()" else c
      s"${ev.value} = graft.functions.RollHash64.hash($bytes);"
    })

  override protected def withNewChildInternal(newChild: Expression): RollHash64 =
    copy(child = newChild)
}

object RollHash64 {
  /** The seed of every graft base-31 fold ([[RollWindowHash64]], [[Combine64]]). */
  val Seed = 1125899906842597L

  def hash(bytes: Array[Byte]): Long = {
    var h = Seed
    var i = 0
    while (i < bytes.length) {
      h = 31L * h + (bytes(i) & 0xff)
      i += 1
    }
    h
  }
}

/** All sliding-window [[RollHash64]] values over a token array in ONE
  * O(total-bytes) pass — the Rabin-Karp prefix-product identity.
  *
  * Element i of the result is VALUE-IDENTICAL to
  * `RollHash64(concat_ws(' ', slice(toks, i+1, win)))` for every
  * i ∈ [0, n−win]: with S the seed and pre(k) the seedless base-31 fold
  * of the first k bytes of the space-joined token stream,
  * H(a,e) = pre(e) + (S − pre(a))·31^(e−a) (mod 2⁶⁴) — all wrapping
  * Java long arithmetic, so the identity is exact, not approximate.
  * The composed formulation materializes every window STRING
  * (O(bytes × win) character copies + hashing); this expression hashes
  * each byte once and reads each window off the prefix table.
  * ExprsSpec pins the per-element equality against the composed form.
  */
case class RollWindowHash64(child: Expression, win: Int)
  extends UnaryExpression {

  require(win >= 1, s"graft_rollwindow64 window must be >= 1, got $win")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_rollwindow64 expects an array<string> argument, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_rollwindow64"

  override def nullSafeEval(input: Any): Any =
    RollWindowHash64.hashes(input.asInstanceOf[ArrayData], win)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.RollWindowHash64.hashes($c, $win);")

  override protected def withNewChildInternal(newChild: Expression): RollWindowHash64 =
    copy(child = newChild)
}

object RollWindowHash64 {
  /** All window hashes over `toks` joined by single spaces (exactly the
    * byte stream `concat_ws(' ', ...)` produces — split-derived tokens
    * are never null, and empty tokens join like any other). Returns an
    * empty array when fewer than `win` tokens (callers filter first).
    */
  def hashes(toks: ArrayData, win: Int): ArrayData = {
    val n = toks.numElements()
    if (n < win)
      return org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(Array.emptyLongArray)
    val tb = new Array[Array[Byte]](n)
    var l = n - 1 // the n−1 single-space separators
    var t = 0
    while (t < n) {
      // getUTF8String on a null slot reads undefined bytes from
      // UnsafeArrayData; no caller produces null tokens (split() output),
      // so fail loudly instead of hashing them
      if (toks.isNullAt(t))
        throw new IllegalArgumentException(
          "graft_rollwindow64 does not support null array elements " +
            s"(null at index $t)")
      tb(t) = toks.getUTF8String(t).getBytes
      l += tb(t).length
      t += 1
    }
    // byte offset of each token in the joined stream + the longest
    // window's byte length (powers are only needed up to that)
    val off = new Array[Int](n + 1)
    var k = 0
    t = 0
    while (t < n) {
      off(t) = k
      k += tb(t).length + 1 // +1 for the following space (or 1 past end)
      t += 1
    }
    off(n) = l + 1
    var maxM = 0
    var i = 0
    while (i <= n - win) {
      val m = (if (i + win < n) off(i + win) - 1 else l) - off(i)
      if (m > maxM) maxM = m
      i += 1
    }
    // prefix fold pre(k) over the joined bytes and 31^m table
    val pre = new Array[Long](l + 1)
    var h = 0L
    k = 0
    t = 0
    while (t < n) {
      val b = tb(t)
      var j = 0
      while (j < b.length) {
        h = 31L * h + (b(j) & 0xff)
        k += 1
        pre(k) = h
        j += 1
      }
      if (t < n - 1) {
        h = 31L * h + 0x20L
        k += 1
        pre(k) = h
      }
      t += 1
    }
    val pow = new Array[Long](maxM + 1)
    pow(0) = 1L
    i = 1
    while (i <= maxM) { pow(i) = 31L * pow(i - 1); i += 1 }
    val out = new Array[Long](n - win + 1)
    i = 0
    while (i <= n - win) {
      val a = off(i)
      val e = if (i + win < n) off(i + win) - 1 else l
      out(i) = pre(e) + (RollHash64.Seed - pre(a)) * pow(e - a)
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }
}

/** Wrapping 64-bit affine mix `h → a·h + b` (mod 2⁶⁴) — the universal-hash
  * "permutation" family MinHash needs. A native expression because plain
  * Column arithmetic throws on long overflow under ANSI mode, while Java
  * long arithmetic wraps silently — and mod-2⁶⁴ wrapping is exactly the
  * semantic a hash mix wants. Portable: any engine with 128-bit integers
  * can replay `(a·h + b) mod 2⁶⁴` (see the DuckDB oracles in Dedup).
  */
case class Mix64(child: Expression, a: Long, b: Long)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_mix64 expects a bigint argument, got ${child.dataType.simpleString}")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_mix64"

  override def nullSafeEval(input: Any): Any = Mix64.mix(input.asInstanceOf[Long], a, b)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Mix64.mix($c, ${a}L, ${b}L);")

  override protected def withNewChildInternal(newChild: Expression): Mix64 =
    copy(child = newChild)
}

object Mix64 {
  def mix(h: Long, a: Long, b: Long): Long = a * h + b
}

/** SplitMix64 finalizer (Steele/Lea/Flood's SplittableRandom mix, the
  * public-domain xor-shift-multiply avalanche): the ORDERING-grade
  * scrambler the affine [[Mix64]] is not. An affine map a·h+b mod 2⁶⁴
  * is monotone between wraparounds, so over dense sequential inputs its
  * HIGH bits barely move — fine for a mod-10⁶ keep rate (the low bits
  * equidistribute), useless as a sort key (F25 measured 498/499
  * doc_id-ascending adjacent pairs under Mix64). Three rounds give full
  * avalanche; wrapping Java long semantics; replayable exactly in any
  * 128-bit-integer engine via xor + floor-divide + mod-2⁶⁴ multiply.
  */
case class Avalanche64(child: Expression)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_avalanche64 expects a bigint argument, got ${child.dataType.simpleString}")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_avalanche64"

  override def nullSafeEval(input: Any): Any = Avalanche64.scramble(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.functions.Avalanche64.scramble($c);")

  override protected def withNewChildInternal(newChild: Expression): Avalanche64 =
    copy(child = newChild)
}

object Avalanche64 {
  def scramble(h: Long): Long = {
    var z = h
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}

/** Wrapping polynomial fold over an array<long>: s = 31·s + xᵢ (mod 2⁶⁴)
  * from [[RollHash64.Seed]] — combines a band index + its minhash rows
  * into one 64-bit band signature in a single pass, again with wrapping
  * (not throwing) overflow semantics and a portable mod-2⁶⁴ definition.
  * A null ELEMENT nulls the result (SQL semantics): hashing nulls as 0
  * would collide distinct inputs for SQL callers.
  */
case class Combine64(child: Expression)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"graft_combine64 expects array<bigint>, got ${t.simpleString}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_combine64"
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val xs = input.asInstanceOf[ArrayData]
    if (ArrayArgs.noNulls(xs)) Combine64.combine(xs) else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.isNull} = !graft.functions.ArrayArgs.noNulls($c);
         |if (!${ev.isNull}) ${ev.value} = graft.functions.Combine64.combine($c);""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Combine64 =
    copy(child = newChild)
}

object Combine64 {
  /** Requires no null element. */
  def combine(xs: ArrayData): Long = {
    var s = RollHash64.Seed
    var i = 0
    while (i < xs.numElements()) {
      s = 31L * s + xs.getLong(i)
      i += 1
    }
    s
  }
}

/** PQ nearest-codeword argmin: left = one subspace's tick subvector
  * (`array<bigint>`), right = the subspace's codebook (an
  * `array<array<bigint>>` LITERAL, k codewords × d ticks). Returns the
  * order-preserving encoding `d2 · 256 + ordinal` of the nearest
  * codeword under exact integer L2, ties to the lowest ordinal — so a
  * numeric min over the encodings IS the (d2, code) lexicographic
  * argmin, and callers decode with `>> 8` / `& 255`. NULL for an empty
  * or over-256 codebook, or unless [[ArrayArgs.alignedCodebook]].
  *
  * Why native: the composed formulation (`array_min` over k structs of
  * [[IntSqDist]] calls, times S subspaces) inlines k·S distance loops
  * into one generated method — past the JVM's 8 KB JIT limit the WHOLE
  * fused stage runs as interpreted bytecode, including any join loop
  * fused after it. One kernel call per subspace keeps the stage JIT'd.
  * Encoding headroom: d2 ≤ d·maxdiff², so d2·256 fits a long for any
  * realistic tick scale (10⁻⁶ ticks of unit-norm floats: ~3·10¹⁶).
  */
case class PqNearest(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = PqDists.check(this)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_pq_nearest"
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (subv, cb) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (PqNearest.valid(subv, cb)) PqNearest.nearest(subv, cb) else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${ev.isNull} = !graft.functions.PqNearest.valid($a, $b);
         |if (!${ev.isNull}) ${ev.value} = graft.functions.PqNearest.nearest($a, $b);""".stripMargin)

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): PqNearest =
    copy(left = newLeft, right = newRight)
}

object PqNearest {
  def valid(subv: ArrayData, codebook: ArrayData): Boolean = {
    val k = codebook.numElements()
    k >= 1 && k <= 256 && ArrayArgs.alignedCodebook(subv, codebook)
  }

  /** Requires [[valid]]. */
  def nearest(subv: ArrayData, codebook: ArrayData): Long = {
    var best = Long.MaxValue
    var c = 0
    while (c < codebook.numElements()) {
      val enc = (IntSqDist.sqDist(subv, codebook.getArray(c)) << 8) | c
      if (enc < best) best = enc
      c += 1
    }
    best
  }
}

/** Per-subspace PQ distance row: left = a probe's tick subvector, right
  * = the subspace codebook literal (as in [[PqNearest]]). Returns the
  * `array<bigint>` of exact integer L2 distances to every codeword — one
  * row of the probe's ADC lookup table, in codebook-ordinal order. NULL
  * unless [[ArrayArgs.alignedCodebook]]. Same JIT rationale as
  * [[PqNearest]]: the probe side scales with the corpus (1% sample), so
  * its encode stage must also stay compiled.
  */
case class PqDists(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = PqDists.check(this)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_pq_dists"
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (subv, cb) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (ArrayArgs.alignedCodebook(subv, cb)) PqDists.dists(subv, cb) else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${ev.isNull} = !graft.functions.ArrayArgs.alignedCodebook($a, $b);
         |if (!${ev.isNull}) ${ev.value} = graft.functions.PqDists.dists($a, $b);""".stripMargin)

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): PqDists =
    copy(left = newLeft, right = newRight)
}

object PqDists {
  /** Type check of a (subvector, codebook) pair, shared with [[PqNearest]]. */
  def check(e: BinaryExpression): TypeCheckResult = (e.left.dataType, e.right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(ArrayType(LongType, _), _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"${e.prettyName} expects (array<bigint>, array<array<bigint>>), got " +
        s"(${l.simpleString}, ${r.simpleString})")
  }

  /** Requires [[ArrayArgs.alignedCodebook]]. */
  def dists(subv: ArrayData, codebook: ArrayData): ArrayData = {
    val out = new Array[Long](codebook.numElements())
    var c = 0
    while (c < out.length) {
      out(c) = IntSqDist.sqDist(subv, codebook.getArray(c))
      c += 1
    }
    new GenericArrayData(out)
  }
}

/** Fused distinct-set Jaccard over two array<string> columns — VALUE-
  * IDENTICAL to `size(array_intersect(a, b)).cast("double") /
  * size(array_union(a, b))`: both operands of the division are the same
  * exact integers, so the double quotient is bit-equal. The one
  * divergence is two EMPTY arrays (union size 0, which no caller produces,
  * since shingled()/grams emit ≥1 element): the composed divide raises
  * DIVIDE_BY_ZERO under ANSI while this returns NaN. The composed form
  * builds three hash sets and MATERIALIZES two intermediate arrays per
  * pair just to take their sizes; this expression computes both
  * cardinalities in one pass over each array with one hash set and two
  * counters. Null ELEMENTS follow array_intersect/array_union semantics
  * exactly: null counts as one distinct value, in the intersection iff
  * present on both sides. JaccardSimSpec pins the per-pair equality
  * against the composed form.
  */
case class JaccardSim(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = ArrayArgs.check(this, StringType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_jaccard"

  override def nullSafeEval(a: Any, b: Any): Any =
    JaccardSim.of(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.JaccardSim.of($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): JaccardSim =
    copy(left = newLeft, right = newRight)
}

object JaccardSim {
  /** |distinct(a) ∩ distinct(b)| / |distinct(a) ∪ distinct(b)| as the
    * exact double quotient of the two int cardinalities; NaN for two
    * empty arrays.
    */
  def of(a: ArrayData, b: ArrayData): Double = {
    // the sets hold UTF8String views into a's and b's buffers, which are
    // valid only for this call: no set may outlive it
    val na = a.numElements()
    val nb = b.numElements()
    val setA = new java.util.HashSet[UTF8String](Math.max(4, na * 2))
    var aNull = false
    var i = 0
    while (i < na) {
      if (a.isNullAt(i)) aNull = true
      else setA.add(a.getUTF8String(i))
      i += 1
    }
    // one pass over b: seenB dedupes b's own repeats; an element of b is
    // an intersection hit iff it is in setA (counted once), else a
    // union-only extra (counted once)
    val seenB = new java.util.HashSet[UTF8String](Math.max(4, nb * 2))
    var bNull = false
    var inter = 0
    var extra = 0
    i = 0
    while (i < nb) {
      if (b.isNullAt(i)) bNull = true
      else {
        val e = b.getUTF8String(i)
        if (seenB.add(e)) { if (setA.contains(e)) inter += 1 else extra += 1 }
      }
      i += 1
    }
    val interN = inter + (if (aNull && bNull) 1 else 0)
    val unionN = setA.size + extra +
      (if (aNull || bNull) 1 else 0)
    interN.toDouble / unionN
  }
}

/** The full PII cascade — email → phone → id — fused into ONE expression:
  * returns struct(n_email, n_phone, n_id, redacted). VALUE-IDENTICAL to
  * the composed `size(regexp_extract_all(...))` + `regexp_replace(...)`
  * chain: each class's count and replacement come from the SAME
  * java.util.regex Matcher walk Spark's own RegExpReplace /
  * RegExpExtractAll run, in the same class order on the same
  * intermediate strings — the count of find()s IS the number of
  * replacements. The composed form pays SIX regex passes per row (one
  * extract_all + one replace per class) and materializes a matched-
  * substrings array per class just to take its size; the fused form
  * pays three and allocates nothing but the rewritten strings.
  * RedactCascadeSpec pins per-row equality against the composed chain.
  *
  * The pattern/replacement triples are compiled ONCE per JVM (static
  * finals) from [[RedactCascade.patterns]] — the single definition of
  * the cascade, re-exported by ops.Redact so the contract query, the
  * oracle SQL and this expression can never disagree.
  */
case class RedactCascade(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_redact_cascade expects a string argument, got ${t.simpleString}")
  }
  override def dataType: DataType = RedactCascade.outType
  override def prettyName: String = "graft_redact_cascade"

  override def nullSafeEval(input: Any): Any =
    RedactCascade.redact(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.RedactCascade.redact($c);")

  override protected def withNewChildInternal(newChild: Expression): RedactCascade =
    copy(child = newChild)
}

object RedactCascade {
  /** The cascade, in application order — THE definition (ops.Redact
    * re-exports it). RE2-compatible, and the phone separator class
    * spells out its whitespace explicitly (Java \s includes \x0B,
    * RE2's does not) — see ops.Redact for the full rationale.
    */
  val patterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", "\\+[0-9][0-9() \\t\\n\\r\\f.-]{6,}[0-9]", "<PHONE>"),
    ("id", "[0-9]{9,}", "<ID>"))

  val outType: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      patterns.map { case (name, _, _) =>
        org.apache.spark.sql.types.StructField(
          s"n_$name", org.apache.spark.sql.types.IntegerType, nullable = false)
      } :+ org.apache.spark.sql.types.StructField(
        "redacted", StringType, nullable = false))

  private val compiled: Array[(java.util.regex.Pattern, String)] =
    patterns.map { case (_, p, r) =>
      (java.util.regex.Pattern.compile(p), r)
    }.toArray

  /** Count-and-replace each class in declared order on the text as
    * already redacted by the earlier classes — exactly the composed
    * chain's sequential semantics.
    */
  def redact(input: UTF8String): InternalRow = {
    var t = input.toString
    val counts = new Array[Any](compiled.length + 1)
    var ci = 0
    while (ci < compiled.length) {
      val (p, rep) = compiled(ci)
      val m = p.matcher(t)
      var n = 0
      if (m.find()) {
        val sb = new java.lang.StringBuffer(t.length)
        do {
          n += 1
          m.appendReplacement(sb, rep)
        } while (m.find())
        m.appendTail(sb)
        t = sb.toString
      }
      counts(ci) = n
      ci += 1
    }
    counts(compiled.length) = UTF8String.fromString(t)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(counts)
  }
}
