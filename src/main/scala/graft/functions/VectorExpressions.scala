package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block.BlockHelper
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the vector/sketch hot paths.
  *
  * SURVEY.md §7.3–7.4 reserved custom expressions for "when bench
  * demands": higher-order-function lambdas are interpreted row-at-a-time
  * (Invoke on boxed values), which made the O(n²) similarity prefilter and
  * the per-token sketches the two dominant bench costs. These expressions
  * run the same arithmetic as the HOF formulations — results are
  * bit-identical, the DuckDB oracles are unchanged — but as tight JVM
  * loops, with whole-stage codegen for the dot product.
  */

/** dot(a, b) over array<float>/array<double> in IEEE double, sequential
  * order (same fold order as aggregate(zip_with(...)) — bit-identical).
  * Codegen'd: the loop inlines into the enclosing WholeStageCodegen. */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_fdot"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_fdot expects array<float|double>, got ${left.dataType} / ${right.dataType}")
  }

  private def leftIsFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  private def rightIsFloat: Boolean =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(a: Any, b: Any): Any =
    FloatVecDot.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      leftIsFloat, rightIsFloat)

  // r19 optimization round: was an INLINED 64-iteration loop per call
  // site. A projection evaluating many of these (q34b/q73's banded stage
  // inlines 24, one per LSH plane) generated a consume method past the
  // JIT's huge-method bytecode limit — HotSpot left the whole stage
  // running as INTERPRETED BYTECODE, measurably slower than the pre-r18
  // non-codegen plan (r19 same-session A/B of q34b's banded stage alone:
  // 0.41 s vs 0.23 s, OPTIMIZATION_r19.md). A static
  // call keeps every generated method small (the JVM inlines it where
  // hot), exactly the [[DecVecDot]]/[[Simhash64]] convention.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.FloatVecDot.dot($a, $b, $leftIsFloat, $rightIsFloat);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object FloatVecDot {
  /** Static kernel, called from both interpreted eval and generated code. */
  def dot(x: ArrayData, y: ArrayData, leftIsFloat: Boolean, rightIsFloat: Boolean): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) {
      val xv = if (leftIsFloat) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rightIsFloat) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xv * yv
      i += 1
    }
    dot
  }
}

/** 64-bit SimHash over an array<string> of tokens, emitted as 16 lowercase
  * hex chars. Exact same construction as the portable HOF/oracle version:
  * md5 hex per token (multiplicity counts), hex digit p carries bits
  * 4p..4p+3, bit = (±1 vote sum >= 0). md5 dominates the cost either
  * way, but codegen as a static call into [[Simhash64.sketch]] keeps the
  * enclosing WholeStageCodegen stage row-free (a CodegenFallback would
  * force an InternalRow materialization per document to re-enter the
  * interpreted tree). */
case class Simhash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_simhash64"

  override protected def nullSafeEval(input: Any): Any =
    Simhash64.sketch(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Simhash64.sketch($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Simhash64 {
  private val HexChars: Array[Byte] = "0123456789abcdef".getBytes
  private val digest: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** Static kernel, called from both interpreted eval and generated code. */
  def sketch(tokens: ArrayData): UTF8String = {
    val md = digest.get()
    val counts = new Array[Int](64)
    var t = 0
    val n = tokens.numElements()
    while (t < n) {
      val tok = tokens.getUTF8String(t)
      md.reset()
      val h = md.digest(tok.getBytes)
      // the portable construction uses md5 hex positions 1..16, i.e. the
      // first 8 digest bytes; byte j holds hex digits 2j (high nibble)
      // and 2j+1 (low nibble)
      var j = 0
      while (j < 8) {
        val hi = (h(j) >> 4) & 0xF
        val lo = h(j) & 0xF
        var b = 0
        while (b < 4) {
          counts(2 * j * 4 + b) += (if (((hi >> b) & 1) == 1) 1 else -1)
          counts((2 * j + 1) * 4 + b) += (if (((lo >> b) & 1) == 1) 1 else -1)
          b += 1
        }
        j += 1
      }
      t += 1
    }
    val out = new Array[Byte](16)
    var p = 0
    while (p < 16) {
      var d = 0
      var b = 0
      while (b < 4) {
        if (counts(p * 4 + b) >= 0) d |= (1 << b)
        b += 1
      }
      out(p) = HexChars(d)
      p += 1
    }
    UTF8String.fromBytes(out)
  }
}

/** Count of positions where two array<bigint> values are equal — the
  * MinHash signature-agreement kernel (est_jaccard = eqcount / 64).
  * Bit-identical to `size(filter(zip_with(a, b, (x,y) -> x = y), v -> v))`
  * (integer equality — nothing to diverge), but a codegen'd int loop
  * instead of three interpreted lambdas over boxed values: on the
  * clean-corpus 8× probe the estimate runs once per ~10.8M capped
  * candidates, making this the q29-family hot path. */
case class LongVecEqCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_eqcount"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_eqcount expects array<bigint>, got ${left.dataType} / ${right.dataType}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val n = math.min(x.numElements(), y.numElements())
    var c = 0
    var i = 0
    while (i < n) {
      if (x.getLong(i) == y.getLong(i)) c += 1
      i += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int ${ev.value}_c = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.getLong($i) == $b.getLong($i)) ${ev.value}_c++;
         |}
         |${ev.value} = ${ev.value}_c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Bit-Hamming distance between two 16-hex-digit SimHash strings — the
  * q31 verification kernel. Bit-identical to the HOF formulation
  * `aggregate(sequence(1,16), 0, (acc,p) -> acc + bit_count(nibble(h1,p)
  * ^ nibble(h2,p)))` (integer math), but a codegen'd byte loop. Non-hex
  * bytes contribute 0 bits, matching instr() - 1 = -1 semantics only for
  * well-formed inputs — both producers are [[Simhash64]] outputs. */
case class HexHamming64(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_hexhamming"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_hexhamming expects string, got ${left.dataType} / ${right.dataType}")

  override protected def nullSafeEval(a: Any, b: Any): Any =
    HexHamming64.hamming(a.asInstanceOf[UTF8String].getBytes, b.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.HexHamming64.hamming($a.getBytes(), $b.getBytes());")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object HexHamming64 {
  private def nibble(c: Byte): Int = c match {
    case b if b >= '0' && b <= '9' => b - '0'
    case b if b >= 'a' && b <= 'f' => b - 'a' + 10
    case _ => 0
  }
  def hamming(x: Array[Byte], y: Array[Byte]): Int = {
    val n = math.min(x.length, y.length)
    var c = 0
    var i = 0
    while (i < n) {
      c += java.lang.Integer.bitCount(nibble(x(i)) ^ nibble(y(i)))
      i += 1
    }
    c
  }
}

/** Exact-decimal dot product — the [[graft.operators.Similarity]] `dotDec`
  * verify kernel (r18 optimization round), bit-identical to the HOF
  * fragment it replaces:
  *
  * {{{
  *   CAST(ROUND(aggregate(
  *     zip_with(a, b, (x, y) -> CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(18,12))),
  *     CAST(0 AS DECIMAL(18,12)), (acc, v) -> CAST(acc + v AS DECIMAL(18,12))), 12) AS DOUBLE)
  * }}}
  *
  * That fragment is interpreted (two lambdas over boxed Decimals, one
  * zip_with array materialization per evaluation) and sits on every
  * exact-cosine verify in the ANN family — per CANDIDATE PAIR, which made
  * it the family's dominant per-row cost. The kernel runs the identical
  * arithmetic as a loop: per position an IEEE double multiply, then
  * exactly Spark's double→DECIMAL(18,12) cast (`BigDecimal.valueOf`, i.e.
  * `Double.toString`, HALF_UP to scale 12) to an unscaled long;
  * accumulation in plain longs IS the decimal add (exact integer math),
  * with the fold's per-step DECIMAL(18,12) cast-back replicated as an
  * 18-digit bound check on every partial sum; one final
  * `BigDecimal(acc, 12).doubleValue` — the same single conversion
  * `CAST(... AS DOUBLE)` performs.
  *
  * NULL parity with the HOF: mismatched lengths (zip_with pads with
  * NULL) or any NULL element poison the fold → NULL result; two empty
  * arrays fold to the seed → 0.0. A NaN or ±Inf product casts to NULL in
  * either ANSI mode and poisons the fold too. A product or partial sum
  * that does not fit DECIMAL(18,12) fails with the cast's own overflow
  * error under ANSI (`failOnError`, captured at construction as the
  * cast captures it) and is NULL otherwise. ExtensionsSpec pins
  * generated ≡ interpreted and scalacheck-drives kernel ≡ HOF equality. */
case class DecVecDot(left: Expression, right: Expression,
    failOnError: Boolean = org.apache.spark.sql.internal.SQLConf.get.ansiEnabled)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot_dec"
  override protected def stringArgs: Iterator[Any] = Iterator(left, right)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_dot_dec expects array<float|double>, got ${left.dataType} / ${right.dataType}")
  }

  // the fold's NULL-poisoning means the result can be NULL even when
  // both inputs are non-NULL
  override def nullable: Boolean = true

  private def leftIsFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  private def rightIsFloat: Boolean =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def eval(input: InternalRow): Any = {
    val a = left.eval(input)
    if (a == null) return null
    val b = right.eval(input)
    if (b == null) return null
    DecVecDot.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      leftIsFloat, rightIsFloat, failOnError)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val boxed = ctx.freshName("boxedDot")
      s"""
         |java.lang.Double $boxed = graft.functions.DecVecDot.dot($a, $b, $leftIsFloat, $rightIsFloat, $failOnError);
         |if ($boxed == null) { ${ev.isNull} = true; } else { ${ev.value} = $boxed.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DecVecDot {
  private val Scale = 12
  /** DECIMAL(18,12) bound on every partial sum — the fold's per-step
    * `CAST(acc + v AS DECIMAL(18,12))` overflow point. */
  private val MaxUnscaled = 1000000000000000000L // 10^18

  /** Static kernel, called from both interpreted eval and generated code.
    * Returns null (boxed) when the HOF fold would: length mismatch, a
    * NULL element, a NaN or ±Inf product, or (without `failOnError`) a
    * product or partial sum past DECIMAL(18,12).
    *
    * With `failOnError` the fold's `zip_with` casts EVERY product of the
    * common prefix before its `aggregate` adds any, so an oversized
    * product fails the row even behind a NULL, a non-finite product, a
    * length mismatch or an oversized partial sum. Those exits therefore
    * scan the rest of the prefix for one ([[checkProducts]]); only
    * poisoned rows pay for it. */
  def dot(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean,
      failOnError: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n && !failOnError) return null
    val common = math.min(n, b.numElements())
    var acc = 0L
    var i = 0
    while (i < common) {
      if (a.isNullAt(i) || b.isNullAt(i)) return poisoned(a, b, aFloat, bFloat, i + 1, failOnError)
      val p = product(a, b, aFloat, bFloat, i)
      if (!java.lang.Double.isFinite(p)) return poisoned(a, b, aFloat, bFloat, i + 1, failOnError)
      val bd = cast(p)
      if (bd.precision - bd.scale > 18 - Scale) {
        if (failOnError)
          throw org.apache.spark.sql.graft.ColumnBridge.decimalOverflowError(p, 18, Scale)
        return null
      }
      acc = Math.addExact(acc, bd.unscaledValue().longValueExact())
      if (acc >= MaxUnscaled || acc <= -MaxUnscaled) {
        if (failOnError) {
          checkProducts(a, b, aFloat, bFloat, i + 1)
          throw org.apache.spark.sql.graft.ColumnBridge.decimalOverflowError(
            new java.math.BigDecimal(java.math.BigInteger.valueOf(acc), Scale).doubleValue(), 18, Scale)
        }
        return null
      }
      i += 1
    }
    if (b.numElements() != n) return null
    java.lang.Double.valueOf(
      new java.math.BigDecimal(java.math.BigInteger.valueOf(acc), Scale).doubleValue())
  }

  private def product(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean, i: Int): Double =
    (if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)) *
      (if (bFloat) b.getFloat(i).toDouble else b.getDouble(i))

  /** Spark's double → DECIMAL(18,12) cast, before its precision check. */
  private def cast(p: Double): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(p).setScale(Scale, java.math.RoundingMode.HALF_UP)

  /** The fold's NULL for a row poisoned before position `from`; with
    * `failOnError` the products from `from` on are checked first. */
  private def poisoned(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean,
      from: Int, failOnError: Boolean): java.lang.Double = {
    if (failOnError) checkProducts(a, b, aFloat, bFloat, from)
    null
  }

  /** Throws the cast's overflow error for the first product of the common
    * prefix, from position `from` on, that does not fit DECIMAL(18,12). */
  private def checkProducts(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean,
      from: Int): Unit = {
    var i = from
    while (i < math.min(a.numElements(), b.numElements())) {
      if (!a.isNullAt(i) && !b.isNullAt(i)) {
        val p = product(a, b, aFloat, bFloat, i)
        if (java.lang.Double.isFinite(p)) {
          val bd = cast(p)
          if (bd.precision - bd.scale > 18 - Scale)
            throw org.apache.spark.sql.graft.ColumnBridge.decimalOverflowError(p, 18, Scale)
        }
      }
      i += 1
    }
  }
}

/** Integer dot product with NULL-poisoning fold semantics — the q81
  * quantized-ANN ranking kernel (r18 optimization round), bit-identical
  * to the HOF fragment it replaces:
  *
  * {{{
  *   aggregate(zip_with(a, b, (x, y) -> CAST(x AS BIGINT) * CAST(y AS BIGINT)),
  *             CAST(0 AS BIGINT), (acc, v) -> acc + v)
  * }}}
  *
  * Same parity rules as [[DecVecDot]]: mismatched lengths (zip_with NULL
  * padding) or a NULL element poison the fold → NULL; empty arrays fold
  * to the 0 seed; a BIGINT-overflowing sum throws, as the ANSI add
  * would. Integer math only — nothing to round. */
case class LongVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_dot_long"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(IntegerType | LongType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_dot_long expects array<int|bigint>, got ${left.dataType} / ${right.dataType}")
  }

  override def nullable: Boolean = true

  private def leftIsInt: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == IntegerType
  private def rightIsInt: Boolean =
    right.dataType.asInstanceOf[ArrayType].elementType == IntegerType

  override protected def nullSafeEval(a: Any, b: Any): Any =
    LongVecDot.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      leftIsInt, rightIsInt)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val boxed = ctx.freshName("boxedDotL")
      s"""
         |java.lang.Long $boxed = graft.functions.LongVecDot.dot($a, $b, $leftIsInt, $rightIsInt);
         |if ($boxed == null) { ${ev.isNull} = true; } else { ${ev.value} = $boxed.longValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object LongVecDot {
  /** Static kernel, called from both interpreted eval and generated code. */
  def dot(a: ArrayData, b: ArrayData, aInt: Boolean, bInt: Boolean): java.lang.Long = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aInt) a.getInt(i).toLong else a.getLong(i)
      val y = if (bInt) b.getInt(i).toLong else b.getLong(i)
      acc = Math.addExact(acc, Math.multiplyExact(x, y))
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }
}

/** All [[RandomSignProject.dims]] hashed-sign projections of one vector in
  * ONE map-side pass (the q86 kernel, r18 optimization round).
  *
  * Replaces the posexplode → groupBy(vec_id) → 16 conditional
  * DECIMAL(18,12) SUM formulation: that shape shuffled 16 non-compact
  * decimal buffers per vector and paid one BigDecimal add per
  * (element, output-dim) pair — dims× more decimal arithmetic than the
  * math needs — because each exploded row fed every sum. This expression
  * converts each element to its DECIMAL(18,12) unscaled long ONCE
  * (exactly Spark's double→decimal cast: `BigDecimal.valueOf` i.e.
  * `Double.toString`, then HALF_UP to scale 12), accumulates the dims
  * signed sums in plain longs (exact — the decimal sum it replaces is
  * exact integer arithmetic on the same unscaled values), and converts
  * each sum back through `new BigDecimal(unscaled, 12).doubleValue` —
  * the same single correctly-rounded conversion `CAST(round(sum, 12) AS
  * DOUBLE)` performs. Results are bit-identical by construction
  * (PipelineOpsSpec pins the exact-decimal driver recompute;
  * ExtensionsSpec pins generated ≡ interpreted).
  *
  * Parity notes: NULL elements are skipped but still advance the
  * position index (posexplode semantics); an all-NULL/empty input yields
  * all-NULL outputs (SUM over zero rows); long-overflowing sums
  * (reachable only when elements approach the DECIMAL(18,12) bound)
  * re-accumulate in BigInteger, and a sum past the old DECIMAL(28,12)
  * buffer's 28-digit precision throws, as the ANSI sum would. */
case class RandomSignProject(child: Expression, dims: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def prettyName: String = "graft_random_sign_project"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = child.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (!ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_random_sign_project expects array<float|double>, got ${child.dataType}")
    else if (dims < 1) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_random_sign_project: dims must be >= 1, got $dims")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  }

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(input: Any): Any =
    RandomSignProject.project(input.asInstanceOf[ArrayData], isFloat, dims)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.RandomSignProject.project($c, $isFloat, $dims);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RandomSignProject {
  private val Scale = 12
  /** Matches the replaced SUM's DECIMAL(28,12) buffer precision: a sum
    * whose unscaled magnitude needs more than 28 digits overflowed the
    * old aggregate too. */
  private val MaxSumUnscaled = java.math.BigInteger.TEN.pow(28)

  /** Static kernel, called from both interpreted eval and generated code. */
  def project(arr: ArrayData, isFloat: Boolean, dims: Int): ArrayData = {
    val n = arr.numElements()
    // element → unscaled DECIMAL(18,12) long, exactly Spark's
    // double→decimal cast semantics (Double.toString, HALF_UP)
    val us = new Array[Long](n)
    val nonNull = new Array[Boolean](n)
    var cnt = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val d = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
        val bd = java.math.BigDecimal.valueOf(d)
          .setScale(Scale, java.math.RoundingMode.HALF_UP)
        if (bd.precision - bd.scale > 18 - Scale)
          throw new ArithmeticException(
            s"graft_random_sign_project: $d does not fit DECIMAL(18,$Scale)")
        us(i) = bd.unscaledValue().longValueExact()
        nonNull(i) = true
        cnt += 1
      }
      i += 1
    }
    val out = new Array[Any](dims)
    if (cnt == 0) return new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    val sums = new Array[Long](dims)
    var overflowed = false
    i = 0
    while (i < n && !overflowed) {
      if (nonNull(i)) {
        var j = 0
        while (j < dims && !overflowed) {
          val pos = ((i.toLong * dims + j) * 2654435761L) % 1000000007L % 2L == 0L
          try sums(j) = Math.addExact(sums(j), if (pos) us(i) else -us(i))
          catch { case _: ArithmeticException => overflowed = true }
          j += 1
        }
      }
      i += 1
    }
    if (!overflowed) {
      var j = 0
      while (j < dims) {
        out(j) = new java.math.BigDecimal(
          java.math.BigInteger.valueOf(sums(j)), Scale).doubleValue()
        j += 1
      }
    } else {
      // exact slow path (unreachable below |element| ~ 1e17/n): the same
      // arithmetic in BigInteger
      val big = Array.fill(dims)(java.math.BigInteger.ZERO)
      i = 0
      while (i < n) {
        if (nonNull(i)) {
          val u = java.math.BigInteger.valueOf(us(i))
          var j = 0
          while (j < dims) {
            val pos = ((i.toLong * dims + j) * 2654435761L) % 1000000007L % 2L == 0L
            big(j) = if (pos) big(j).add(u) else big(j).subtract(u)
            j += 1
          }
        }
        i += 1
      }
      var j = 0
      while (j < dims) {
        if (big(j).abs.compareTo(MaxSumUnscaled) >= 0)
          throw new ArithmeticException(
            s"graft_random_sign_project: sum overflows DECIMAL(28,$Scale)")
        out(j) = new java.math.BigDecimal(big(j), Scale).doubleValue()
        j += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Symmetric int8 scalar quantizer — the q81 code-construction kernel
  * (r19 optimization round), bit-identical to the HOF fragment it
  * replaces:
  *
  * {{{
  *   transform(embedding, x ->
  *     CASE WHEN nrm = 0.0D THEN 0
  *          ELSE CAST(FLOOR((CAST(x AS DOUBLE) / nrm) * 127.0D + 0.5D) AS INT) END)
  * }}}
  *
  * That fragment was the last interpreted per-corpus-row HOF on the q81
  * path after r18 kernelized the ranking dot ([[LongVecDot]]). The loop
  * replicates each step exactly: IEEE double divide/multiply/add,
  * `java.lang.Math.floor` + `(long)` cast (Spark's FLOOR(double)→BIGINT),
  * then the BIGINT→INT cast under the session's ANSI mode captured at
  * construction (overflow throws under ANSI, truncates otherwise — the
  * values here are bounded by ±127.5 so neither fires on real data).
  *
  * Parity notes (the transform semantics): a NULL array or NULL nrm →
  * NULL result; `nrm = 0.0` short-circuits EVERY element to 0 (including
  * NULL elements — the CASE never evaluates them); otherwise NULL
  * elements stay NULL; empty arrays → empty arrays. The q81 oracle
  * re-derives the identical quantizer in DuckDB SQL, so the hash gate
  * covers the swap; ExtensionsSpec pins kernel ≡ HOF on open inputs and
  * the edge shapes, and generated ≡ interpreted. */
case class Int8Quantize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)
  override def prettyName: String = "graft_quantize_i8"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val okL = left.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (okL && right.dataType == DoubleType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_quantize_i8 expects (array<float|double>, double), got ${left.dataType} / ${right.dataType}")
  }

  private def isFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType

  // ANSI capture at construction, the Cast convention: the BIGINT→INT
  // step must throw-on-overflow exactly when the CAST it replaces would
  private val ansi = org.apache.spark.sql.internal.SQLConf.get.ansiEnabled

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Int8Quantize.quantize(a.asInstanceOf[ArrayData], b.asInstanceOf[Double], isFloat, ansi)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.Int8Quantize.quantize($a, $b, $isFloat, $ansi);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object Int8Quantize {
  /** Static kernel, called from both interpreted eval and generated code. */
  def quantize(arr: ArrayData, nrm: Double, isFloat: Boolean, ansi: Boolean): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Any](n)
    var i = 0
    if (nrm == 0.0) {
      // the CASE's zero branch never evaluates x: NULL elements quantize
      // to 0 too
      while (i < n) { out(i) = 0; i += 1 }
    } else {
      while (i < n) {
        if (!arr.isNullAt(i)) {
          val x = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
          // FLOOR(double) is (long) Math.floor(d) — NaN→0, ±Inf clamp
          val l = Math.floor((x / nrm) * 127.0 + 0.5).toLong
          if (ansi && (l < Int.MinValue || l > Int.MaxValue))
            throw new ArithmeticException(
              s"graft_quantize_i8: $l overflows INT (ANSI cast)")
          out(i) = l.toInt
        }
        i += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** All per-subspace PQ code assignments of one vector in ONE pass — the
  * r19 setup-cost kernel (VERDICT r18 item 4).
  *
  * Replaces the unrolled SQL projection (`VectorReference.pqCodeCols` in
  * test sources, which ExtensionsSpec holds it equal to): `subs × codes` argmin
  * columns, each an array of `codes` distances, each distance `subDim`
  * terms of `CAST((x−u)·(x−u) AS DECIMAL(18,12))` — ~10⁴ Catalyst nodes
  * per plan, REBUILT with fresh literals every Lloyd iteration and every
  * encode pass, whose analysis + codegen time (not the 32k-row data) was
  * the dominant share of the bench's untimed PQ provisioning (q150
  * setup 23.5 s, q152 18.4 s, cold canonical run).
  *
  * Arithmetic is the SQL form's, step for step: per term an IEEE double
  * (x−u)², then exactly Spark's double→DECIMAL(18,12) cast
  * (`BigDecimal.valueOf`, i.e. `Double.toString`, HALF_UP to scale 12 —
  * the [[DecVecDot]] convention) accumulated as exact unscaled longs;
  * per-code distance converted once to double
  * (`CAST(ROUND(...,12) AS DOUBLE)`); argmin by strict `<` first-index —
  * `array_position(dists, array_min(dists))`'s tie rule. The q150/q152
  * oracles re-derive the identical codes with unrolled SQL, so the hash
  * gate covers the swap; ExtensionsSpec pins kernel ≡ unrolled-SQL
  * column-for-column on open inputs and the edge shapes.
  *
  * NULL/edge parity with the SQL form: NULL array → every code NULL (the
  * distances are NULL, `array_min` is NULL, `array_position(…, NULL)` is
  * NULL — note: an array OF nulls, not a NULL array); a NULL element
  * poisons exactly its own subspace's code; an array shorter than
  * `subs × subDim` throws, as ANSI `element_at` past the end would. A
  * term of 1e6 or more overflows DECIMAL(18,12): under ANSI
  * (`failOnError`, captured at construction as the cast captures it) it
  * fails with the cast's own overflow error, otherwise that distance is
  * NULL and the argmin skips it. A NaN or infinite term casts to NULL in
  * either mode, so its distance is NULL too. */
case class PqAssignCodes(child: Expression, codebooks: Array[Array[Array[Double]]],
    failOnError: Boolean = org.apache.spark.sql.internal.SQLConf.get.ansiEnabled)
    extends UnaryExpression {

  require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty) &&
    codebooks.forall(_.forall(_.length == codebooks(0)(0).length)),
    "graft_pq_assign: codebooks must be a non-empty subs × codes × subDim cube")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)
  override def prettyName: String = "graft_pq_assign"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_pq_assign expects array<float|double>, got $other")
    }

  // a NULL input yields an array of NULL codes, not a NULL array — the
  // array(...) constructor the SQL form runs is itself never NULL
  override def nullable: Boolean = false

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def eval(input: InternalRow): Any =
    PqAssignCodes.assign(child.eval(input).asInstanceOf[ArrayData], codebooks, isFloat, failOnError)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebooks", codebooks, "double[][][]")
    val c = child.genCode(ctx)
    val callArgs = s"$cbRef, $isFloat, $failOnError"
    ev.copy(code =
      code"""
        ${c.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          graft.functions.PqAssignCodes.assign(
            ${c.isNull} ? null : ${c.value}, $callArgs);
      """,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PqAssignCodes {
  /** Static kernel, called from both interpreted eval and generated code.
    * `arr == null` encodes a NULL input array (all codes NULL). */
  def assign(arr: ArrayData, cbs: Array[Array[Array[Double]]],
      isFloat: Boolean, failOnError: Boolean): ArrayData = {
    val subs = cbs.length
    val out = new Array[Any](subs)
    if (arr == null)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    val nCodes = cbs(0).length
    val subDim = cbs(0)(0).length
    if (arr.numElements() < subs * subDim)
      throw new ArrayIndexOutOfBoundsException(
        s"graft_pq_assign: input has ${arr.numElements()} elements, " +
          s"need ${subs * subDim} (ANSI element_at would fail here)")
    val x = new Array[Double](subDim)
    var s = 0
    while (s < subs) {
      // a NULL element poisons every distance of this subspace → NULL code
      var hasNull = false
      var i = 0
      while (i < subDim && !hasNull) {
        val p = s * subDim + i
        if (arr.isNullAt(p)) hasNull = true
        else x(i) = if (isFloat) arr.getFloat(p).toDouble else arr.getDouble(p)
        i += 1
      }
      if (!hasNull) {
        val cb = cbs(s)
        var best = -1
        var bestD = 0d
        var j = 0
        while (j < nCodes) {
          val u = cb(j)
          var acc = 0L
          var isNull = false
          var k = 0
          // the SQL sum adds left to right and stops reading terms at the
          // first NULL one, so a later term can no longer fail the query
          while (k < subDim && !isNull) {
            val d = (x(k) - u(k)) * (x(k) - u(k))
            // Spark's double→DECIMAL(18,12) cast: valueOf (Double.toString)
            // then HALF_UP at scale 12; sums stay exact in unscaled longs.
            // NaN and ±Inf cast to NULL; a term of 1e6 or more does not
            // fit, which fails the query under ANSI and is NULL otherwise
            if (java.lang.Double.isFinite(d)) {
              val term = java.math.BigDecimal.valueOf(d).setScale(12, java.math.RoundingMode.HALF_UP)
              if (term.precision - term.scale > 18 - 12) {
                if (failOnError)
                  throw org.apache.spark.sql.graft.ColumnBridge.decimalOverflowError(d, 18, 12)
                isNull = true
              } else acc = Math.addExact(acc, term.unscaledValue().longValueExact())
            } else isNull = true
            k += 1
          }
          if (!isNull) {
            val dist = new java.math.BigDecimal(
              java.math.BigInteger.valueOf(acc), 12).doubleValue()
            // array_position(dists, array_min(dists)): first strict
            // minimum, NULL distances skipped
            if (best < 0 || dist < bestD) { bestD = dist; best = j }
          }
          j += 1
        }
        // every distance NULL: array_min is NULL, and so is the code
        if (best >= 0) out(s) = best
      }
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Hybrid IVF cell assignment of one vector in ONE codegen'd call — the
  * r19 twin of the `fscores`/`hybridCellCol` column pair (`VectorReference`
  * in test sources; VERDICT r18
  * item 4, and the map-side inner loop of the whole IVF query family).
  *
  * Replaces, per row: a 16-element `array(graft_fdot × 16)` projection,
  * two `array_sort`s for the top-2 gap, an `array_position` argmax, and
  * (on near-ties) a second 16-element exact-decimal score array. The
  * kernel runs the IDENTICAL arithmetic by calling the same static
  * kernels the column form compiles to — [[FloatVecDot.dot]] for the 16
  * double scores and [[DecVecDot.dot]] for the decimal fallback — so
  * there is no parallel implementation to drift: gap > 1e-6 decides on
  * the double scores (first-index argmax, `array_position` tie rule),
  * near-ties fall back to the exact-decimal argmax the oracle computes.
  * ExtensionsSpec pins kernel ≡ column form on the corpus and edges.
  *
  * NULL parity: NULL array → NULL cell (the CASE's both branches are
  * NULL); a NULL element inside the fallback's decimal scores poisons
  * only those scores (`array_max` skips NULLs), matching DecVecDot.
  *
  * One centroid: `element_at(array_sort(f), -2)` has no element to read.
  * Under ANSI (`failOnError`, captured at construction as element_at
  * captures it) every non-NULL row fails with
  * INVALID_ARRAY_INDEX_IN_ELEMENT_AT; a NULL row stays NULL, as the gap's
  * subtraction never reads its right side once the top score is NULL.
  * Without ANSI the gap is NULL and the exact-decimal branch decides. */
case class IvfAssignCell(child: Expression, centroids: Array[Array[Double]],
    failOnError: Boolean = org.apache.spark.sql.internal.SQLConf.get.ansiEnabled)
    extends UnaryExpression {

  require(centroids.nonEmpty && centroids.forall(_.length == centroids(0).length),
    "graft_ivf_assign: centroids must be a non-empty rectangular matrix")

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_ivf_assign"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_ivf_assign expects array<float|double>, got $other")
    }

  // the all-NULL-scores fallback row yields NULL even on non-NULL input
  override def nullable: Boolean = true

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  // centroids wrapped once as ArrayData so the kernel calls the very same
  // FloatVecDot.dot / DecVecDot.dot entry points the column form uses
  @transient private lazy val centArrays: Array[ArrayData] =
    centroids.map(c => new org.apache.spark.sql.catalyst.util.GenericArrayData(
      c.map(java.lang.Double.valueOf(_): Any)))

  override def nullSafeEval(a: Any): Any =
    IvfAssignCell.assign(a.asInstanceOf[ArrayData], centArrays, isFloat, failOnError)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centRef = ctx.addReferenceObj("ivfCentroids", centArrays,
      "org.apache.spark.sql.catalyst.util.ArrayData[]")
    nullSafeCodeGen(ctx, ev, c => {
      val boxed = ctx.freshName("cellBoxed")
      s"""
         |java.lang.Integer $boxed = graft.functions.IvfAssignCell.assign($c, $centRef, $isFloat, $failOnError);
         |if ($boxed == null) { ${ev.isNull} = true; } else { ${ev.value} = $boxed.intValue(); }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object IvfAssignCell {
  /** Spark's `=` on doubles: IEEE equality plus NaN = NaN (array_position
    * must find a NaN top; ±0.0 stay equal as IEEE has it). */
  private def sqlEq(a: Double, b: Double): Boolean =
    a == b || (java.lang.Double.isNaN(a) && java.lang.Double.isNaN(b))

  /** Static kernel, called from both interpreted eval and generated code.
    * Returns null (boxed) when the column form would (all fallback
    * scores NULL). */
  def assign(arr: ArrayData, cents: Array[ArrayData], isFloat: Boolean,
      failOnError: Boolean): java.lang.Integer = {
    val k = cents.length
    if (k < 2 && failOnError) throw org.apache.spark.sql.graft.ColumnBridge.elementAtIndexError(-2, k)
    val f = new Array[Double](k)
    var j = 0
    while (j < k) {
      f(j) = FloatVecDot.dot(arr, cents(j), isFloat, false)
      j += 1
    }
    // element_at(array_sort(f), -1/-2): top-2 via Spark's double ordering
    // (java.lang.Double.compare — NaN last, -0.0 before 0.0)
    val sorted = f.clone()
    java.util.Arrays.sort(sorted)
    val top = sorted(k - 1)
    // one centroid (non-ANSI): element_at(…, -2) and the gap are NULL.
    // Spark orders NaN above every double, so a NaN gap (NaN or +Inf − +Inf
    // scores) is > 1e-6 too
    val gap = if (k > 1) top - sorted(k - 2) else 0d
    if (k > 1 && (gap > 1e-6 || java.lang.Double.isNaN(gap))) {
      // (array_position(f, top) - 1): first index equal to the max
      var i = 0
      while (i < k) {
        if (sqlEq(f(i), top)) return java.lang.Integer.valueOf(i)
        i += 1
      }
      null // unreachable: top came from f
    } else {
      // exact-decimal fallback: argmax over DecVecDot scores, NULLs
      // skipped (array_max), first index on ties (array_position)
      val dsc = new Array[java.lang.Double](k)
      var best = -1
      var i = 0
      while (i < k) {
        dsc(i) = DecVecDot.dot(arr, cents(i), isFloat, false, failOnError)
        if (dsc(i) != null &&
          (best < 0 || java.lang.Double.compare(dsc(i).doubleValue(), dsc(best).doubleValue()) > 0))
          best = i
        i += 1
      }
      if (best < 0) return null
      // array_position returns the FIRST element equal to the max
      i = 0
      while (i < k) {
        if (dsc(i) != null && sqlEq(dsc(i).doubleValue(), dsc(best).doubleValue()))
          return java.lang.Integer.valueOf(i)
        i += 1
      }
      null // unreachable
    }
  }
}

// Round-1 note: a MinHashSig expression (tight-loop min(a_i*x+b_i) over a
// collect_set'd hash array) lived here until round 2 replaced it with 64
// declarative min() aggregates in Dedup.signaturesFromHash — algebraic
// min() gets map-side partial aggregation, which the collect_set
// formulation structurally could not, and the declarative form codegens.
