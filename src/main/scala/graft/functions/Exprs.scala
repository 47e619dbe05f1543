package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow,
  TernaryExpression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode,
  FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, IntegerType, LongType,
  StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/* Native Catalyst expressions for the per-row array and string work of
  * the hot paths. Spark interprets a higher-order lambda (`transform`,
  * `aggregate`, `zip_with`) per element, outside whole-stage codegen, and
  * a composed builtin chain allocates intermediates per row; each of
  * these is one loop instead:
  *
  *  - [[CosineSim]], [[DotProduct]] and [[SqDist]]: fused cosine, dot
  *    product and squared L2 over two `array<double>`.
  *  - [[QTicks]]: every component of an `array<double>` in 10⁻⁶ ticks.
  *  - [[IntSqDist]]: exact squared L2 over two integer-tick `array<bigint>`
  *    (LSH bucketing, IVF/PQ geometry).
  *  - [[CellFold]]: the (d2, cell) fold of a tick vector against an IVF
  *    codebook.
  *  - [[PqNearest]] and [[PqDists]]: one PQ subspace's nearest codeword,
  *    and its distances to every codeword.
  *  - [[RollHash64]]: base-31 rolling hash over UTF-8 or raw binary bytes.
  *  - [[RollWindowHash64]]: every sliding-window [[RollHash64]] over a
  *    token array, in one pass.
  *  - [[MinHash]] and [[Shingles3]]: a document's MinHash signature and
  *    its distinct word 3-grams, from its token array.
  *  - [[Mix64]], [[Avalanche64]] and [[Combine64]]: wrapping mod-2⁶⁴ hash
  *    combinators (MinHash permutations, sort keys, band signatures).
  *  - [[JaccardSim]]: distinct-set Jaccard over two `array<string>`.
  *  - [[TextStats]]: a text's length, token count and character-class
  *    counts in one pass over its UTF-8 bytes.
  *  - [[RedactCascade]]: the email → phone → id PII cascade.
  *
  * Invariant: each expression has ONE kernel, a static method on its
  * companion object, and `nullSafeEval` (or `eval`) and `doGenCode` both
  * call it. So constant folding, the interpreted fallback and whole-stage
  * codegen cannot disagree. A `doGenCode` is that call plus, for a
  * nullable expression, its null flag. The loops live in real JVM
  * methods: the JIT compiles them once, and the generated stage method
  * stays under the JVM's 8 KB JIT limit however many expressions fuse
  * into it.
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

/** Fused squared L2 Σ (aᵢ−bᵢ)² over two array<double> columns, summed in
  * index order from 0.0 — the double sum the `zip_with` + `aggregate`
  * fold computes, with no per-row difference array. NULL unless
  * [[ArrayArgs.aligned]], like that fold.
  */
case class SqDist(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = ArrayArgs.check(this, DoubleType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_sqdist"
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (xs, ys) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (ArrayArgs.aligned(xs, ys)) SqDist.sqDist(xs, ys) else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${ev.isNull} = !graft.functions.ArrayArgs.aligned($a, $b);
         |if (!${ev.isNull}) ${ev.value} = graft.functions.SqDist.sqDist($a, $b);""".stripMargin)

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): SqDist =
    copy(left = newLeft, right = newRight)
}

object SqDist {
  /** Requires [[ArrayArgs.aligned]] arrays. */
  def sqDist(xs: ArrayData, ys: ArrayData): Double = {
    var acc = 0.0
    var i = 0
    while (i < xs.numElements()) {
      val d = xs.getDouble(i) - ys.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }
}

/** Every component of an `array<double>` in 10⁻⁶ ticks,
  * `floor(x·10⁶ + 0.5)` as a long — element for element what
  * `VectorOps.qtick` gives: Java's double-to-long conversion, so NaN is
  * 0 and ±Inf saturate. A NULL element stays NULL.
  */
case class QTicks(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_qticks expects an array<double> argument, got ${t.simpleString}")
  }
  override def dataType: DataType =
    ArrayType(LongType, child.dataType.asInstanceOf[ArrayType].containsNull)
  override def prettyName: String = "graft_qticks"

  override def nullSafeEval(input: Any): Any = QTicks.ticks(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.functions.QTicks.ticks($c);")

  override protected def withNewChildInternal(newChild: Expression): QTicks =
    copy(child = newChild)
}

object QTicks {
  def tick(x: Double): Long = Math.floor(x * 1000000.0 + 0.5).toLong

  def ticks(xs: ArrayData): ArrayData = {
    val n = xs.numElements()
    var i = 0
    if (ArrayArgs.noNulls(xs)) {
      val out = new Array[Long](n)
      while (i < n) { out(i) = tick(xs.getDouble(i)); i += 1 }
      UnsafeArrayData.fromPrimitiveArray(out)
    } else {
      val out = new Array[Any](n)
      while (i < n) {
        if (!xs.isNullAt(i)) out(i) = tick(xs.getDouble(i))
        i += 1
      }
      new GenericArrayData(out)
    }
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
  def hashes(toks: ArrayData, win: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(windows(toks, win))

  /** [[hashes]] as a plain `long[]`, for kernels that fold the hashes. */
  def windows(toks: ArrayData, win: Int): Array[Long] = {
    val n = toks.numElements()
    if (n < win) return Array.emptyLongArray
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
    out
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

/** A document's MinHash signature from its token array: element i is the
  * min over its word-3-gram window hashes of [[Mix64]]`(h, aᵢ, bᵢ)`.
  * VALUE-IDENTICAL to hashing each of the document's distinct shingles
  * with [[RollHash64]] and taking a per-permutation `min` of the mixes:
  * the window hashes are [[RollWindowHash64]]'s (a repeated shingle
  * hashes alike, and cannot move a min), and a document with fewer than
  * 3 tokens has the one hash of its tokens joined by spaces — "" for
  * none, and for NULL tokens, as `concat_ws` over out-of-range
  * subscripts gives. One pass over the bytes and `numPerm` multiply-adds
  * per window, so signing is linear in document length.
  *
  * `a` and `b` are foldable `array<bigint>` children of equal length (the
  * mix constants), so two signings compare equal as plans.
  */
case class MinHash(tokens: Expression, a: Expression, b: Expression)
  extends TernaryExpression {

  override def first: Expression = tokens
  override def second: Expression = a
  override def third: Expression = b

  override def checkInputDataTypes(): TypeCheckResult =
    (tokens.dataType, a.dataType, b.dataType) match {
      case (ArrayType(StringType, _), ArrayType(LongType, _), ArrayType(LongType, _))
        if a.foldable && b.foldable => TypeCheckResult.TypeCheckSuccess
      case (t, x, y) => TypeCheckResult.TypeCheckFailure(
        "graft_minhash expects (array<string>, foldable array<bigint>, foldable array<bigint>), " +
          s"got (${t.simpleString}, ${x.simpleString}, ${y.simpleString})")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash"
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = MinHash.signature(
    tokens.eval(input).asInstanceOf[ArrayData],
    a.eval(input).asInstanceOf[ArrayData], b.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (t, x, y) = (tokens.genCode(ctx), a.genCode(ctx), b.genCode(ctx))
    ev.copy(code =
      code"""${t.code}
            |${x.code}
            |${y.code}
            |${CodeGenerator.javaType(dataType)} ${ev.value} = graft.functions.MinHash.signature(
            |  ${t.isNull} ? null : ${t.value}, ${x.value}, ${y.value});""".stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newFirst: Expression, newSecond: Expression,
                                                 newThird: Expression): MinHash =
    copy(tokens = newFirst, a = newSecond, b = newThird)
}

object MinHash {
  /** The shingle width. */
  val Width = 3

  /** `toks` may be null (no tokens). */
  def signature(toks: ArrayData, a: ArrayData, b: ArrayData): ArrayData = {
    val (am, bm) = (a.toLongArray(), b.toLongArray())
    require(am.length == bm.length,
      s"graft_minhash needs as many a as b constants, got ${am.length} and ${bm.length}")
    val n = if (toks == null) 0 else toks.numElements()
    val hs =
      if (n == 0) Array(RollHash64.Seed)
      else RollWindowHash64.windows(toks, math.min(n, Width))
    val out = Array.fill(am.length)(Long.MaxValue)
    var w = 0
    while (w < hs.length) {
      val h = hs(w)
      var i = 0
      while (i < out.length) {
        val m = Mix64.mix(h, am(i), bm(i))
        if (m < out(i)) out(i) = m
        i += 1
      }
      w += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** A document's distinct word 3-grams from its token array: the
  * space-joined windows in first-occurrence order, VALUE-IDENTICAL to
  * `array_distinct` over `concat_ws(' ', toks[i], toks[i+1], toks[i+2])`
  * for i ∈ [0, max(n−3, 0)] — so fewer than 3 tokens give the one
  * string of all of them, and NULL tokens give `[""]`.
  */
case class Shingles3(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_shingles3 expects an array<string> argument, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles3"
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    Shingles3.shingles(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code =
      code"""${c.code}
            |${CodeGenerator.javaType(dataType)} ${ev.value} =
            |  graft.functions.Shingles3.shingles(${c.isNull} ? null : ${c.value});""".stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Shingles3 =
    copy(child = newChild)
}

object Shingles3 {
  private val Space = UTF8String.fromString(" ")

  /** `toks` may be null (no tokens); its elements may not. */
  def shingles(toks: ArrayData): ArrayData = {
    val n = if (toks == null) 0 else toks.numElements()
    val w = MinHash.Width
    if (n == 0) return new GenericArrayData(Array[Any](UTF8String.EMPTY_UTF8))
    val t = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      if (toks.isNullAt(i))
        throw new IllegalArgumentException(
          s"graft_shingles3 does not support null array elements (null at index $i)")
      t(i) = toks.getUTF8String(i)
      i += 1
    }
    if (n < w) return new GenericArrayData(Array[Any](UTF8String.concatWs(Space, t: _*)))
    val seen = new java.util.HashSet[UTF8String](2 * (n - w + 1))
    val out = new scala.collection.mutable.ArrayBuffer[Any](n - w + 1)
    i = 0
    while (i <= n - w) {
      val s = UTF8String.concatWs(Space, t(i), t(i + 1), t(i + 2))
      if (seen.add(s)) out += s
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
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

/** The IVF (d2, cell) fold: left = a tick vector `q` (`array<bigint>`),
  * right = a codebook literal `array<struct<cell, cv: array<bigint>>>`.
  * Returns one `struct<d2, cell>` per codeword in codebook order, d2 the
  * exact [[IntSqDist]] from `q` to `cv` — NULL unless
  * [[ArrayArgs.aligned]], and NULL for every cell when `q` is NULL —
  * the array the per-cell `transform` lambda builds, so `array_min` and
  * `array_sort` over it keep the lowest-cell tie-break of the struct
  * order.
  */
case class CellFold(left: Expression, right: Expression)
  extends BinaryExpression {

  private def cellField: StructField =
    right.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType].fields(0)

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(StructType(Array(_, StructField(_, ArrayType(LongType, _),
      _, _))), _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"graft_cell_fold expects (array<bigint>, array<struct<cell, cv: array<bigint>>>), got " +
        s"(${l.simpleString}, ${r.simpleString})")
  }
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("d2", LongType, nullable = true),
    StructField("cell", cellField.dataType, cellField.nullable))), containsNull = false)
  override def prettyName: String = "graft_cell_fold"
  override def nullable: Boolean = right.nullable

  override def eval(input: InternalRow): Any = {
    val cells = right.eval(input)
    if (cells == null) null
    else CellFold.fold(left.eval(input).asInstanceOf[ArrayData], cells.asInstanceOf[ArrayData],
      cellField.dataType)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (q, cells) = (left.genCode(ctx), right.genCode(ctx))
    val cellType = ctx.addReferenceObj("cellType", cellField.dataType)
    ev.copy(code =
      code"""${q.code}
            |${cells.code}
            |boolean ${ev.isNull} = ${cells.isNull};
            |${CodeGenerator.javaType(dataType)} ${ev.value} = ${ev.isNull} ? null :
            |  graft.functions.CellFold.fold(${q.isNull} ? null : ${q.value}, ${cells.value},
            |    $cellType);""".stripMargin)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): CellFold =
    copy(left = newLeft, right = newRight)
}

object CellFold {
  /** `q` may be null. */
  def fold(q: ArrayData, cells: ArrayData, cellType: DataType): ArrayData = {
    val out = new Array[Any](cells.numElements())
    var c = 0
    while (c < out.length) {
      val cell = cells.getStruct(c, 2)
      val d2 =
        if (q != null && !cell.isNullAt(1) && ArrayArgs.aligned(q, cell.getArray(1)))
          IntSqDist.sqDist(q, cell.getArray(1))
        else null
      out(c) = new GenericInternalRow(Array[Any](d2, cell.get(0, cellType)))
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

/** A text's statistics in one pass over its UTF-8 bytes: struct(len,
  * n_tokens, punct, digits, non_space), each VALUE-IDENTICAL on valid
  * UTF-8 to the composed form it replaces (W = the six ASCII whitespace
  * characters `[ \t\n\x0B\f\r]`):
  *  - len = `length(text)`, the code points;
  *  - n_tokens = `size(split(trim(text), W+))`: W-runs + 1 once `trim`
  *    has removed the spaces (0x20 only) at both ends, so "" has 1;
  *  - punct = `len − length(regexp_replace(text, [^a-zA-Z0-9W], ''))`:
  *    code points outside ASCII letters, digits and W;
  *  - digits = `len − length(regexp_replace(text, [0-9], ''))`;
  *  - non_space = `length(regexp_replace(text, W, ''))`.
  * The composed form runs three regex replaces and a regex split per
  * row; this counts lead bytes, with no String decode.
  */
case class TextStats(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_text_stats expects a string argument, got ${t.simpleString}")
  }
  override def dataType: DataType = TextStats.outType
  override def prettyName: String = "graft_text_stats"

  override def nullSafeEval(input: Any): Any = TextStats.stats(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.functions.TextStats.stats($c);")

  override protected def withNewChildInternal(newChild: Expression): TextStats =
    copy(child = newChild)
}

object TextStats {
  val outType: StructType = StructType(
    Seq("len", "n_tokens", "punct", "digits", "non_space")
      .map(StructField(_, IntegerType, nullable = false)))

  private def isSpace(b: Byte): Boolean = b == ' ' || (b >= 9 && b <= 13)

  def stats(s: UTF8String): InternalRow = {
    val n = s.numBytes()
    // the token count reads [lo, hi): the text with its spaces trimmed
    var lo = 0
    while (lo < n && s.getByte(lo) == ' ') lo += 1
    var hi = n
    while (hi > lo && s.getByte(hi - 1) == ' ') hi -= 1
    var len = 0; var runs = 0; var punct = 0; var digits = 0; var spaces = 0
    var prevSpace = false
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if (b >= 0) {
        len += 1
        val space = isSpace(b)
        if (space) {
          spaces += 1
          if ((i == lo || !prevSpace) && i >= lo && i < hi) runs += 1
        } else if (b >= '0' && b <= '9') digits += 1
        else if (!((b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z'))) punct += 1
        prevSpace = space
      } else if ((b & 0xC0) != 0x80) {
        // the lead byte of a multi-byte code point: never a letter, digit or space
        len += 1
        punct += 1
        prevSpace = false
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](len, runs + 1, punct, digits, len - spaces))
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
