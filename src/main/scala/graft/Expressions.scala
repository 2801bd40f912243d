package graft

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** `gcd` / `lcm` — DataFusion ships these as scalar functions
  * (reference `datafusion/functions/src/math/{gcd,lcm}.rs`) and Spark has no
  * builtin, so they are the one spot in SURVEY §2.7 needing a real custom
  * Catalyst expression. Implemented with `doGenCode` so they stay inside
  * whole-stage codegen (no UDF/serialization cost at 100 TB scale).
  */
case class Gcd(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Gcd.gcd(a.asInstanceOf[Long], b.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (x, y, t) = (ctx.freshName("x"), ctx.freshName("y"), ctx.freshName("t"))
      s"""
         |long $x = java.lang.Math.abs((long)$a);
         |long $y = java.lang.Math.abs((long)$b);
         |while ($y != 0L) { long $t = $y; $y = $x % $y; $x = $t; }
         |${ev.value} = $x;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Gcd = copy(l, r)
}

object Gcd {
  def gcd(a: Long, b: Long): Long = {
    var x = math.abs(a); var y = math.abs(b)
    while (y != 0L) { val t = y; y = x % y; x = t }
    x
  }
  /** FunctionRegistry builder: coerce both args to long like DataFusion's
    * signature (int64 domain). */
  def build(children: Seq[Expression]): Expression = {
    require(children.size == 2, "gcd requires exactly two arguments")
    Gcd(Cast(children(0), LongType), Cast(children(1), LongType))
  }
}

case class Lcm(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[Long], b.asInstanceOf[Long])
    if (x == 0L || y == 0L) 0L else math.abs(x / Gcd.gcd(x, y) * y)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (x, y, g, t) =
        (ctx.freshName("x"), ctx.freshName("y"), ctx.freshName("g"), ctx.freshName("t"))
      s"""
         |long $x = java.lang.Math.abs((long)$a);
         |long $y = java.lang.Math.abs((long)$b);
         |if ($x == 0L || $y == 0L) { ${ev.value} = 0L; } else {
         |  long $g = $x; long ${t}0 = $y;
         |  while (${t}0 != 0L) { long $t = ${t}0; ${t}0 = $g % ${t}0; $g = $t; }
         |  ${ev.value} = $x / $g * $y;
         |}
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Lcm = copy(l, r)
}

object Lcm {
  def build(children: Seq[Expression]): Expression = {
    require(children.size == 2, "lcm requires exactly two arguments")
    Lcm(Cast(children(0), LongType), Cast(children(1), LongType))
  }
}

/** Codegen'd dot product over two numeric array columns — the hot inner
  * loop of every embedding-similarity operator. Replaces the
  * `aggregate(zip_with(...))` higher-order fold, which Spark evaluates
  * per-element with closure dispatch and boxing; this compiles to a tight
  * primitive loop inside whole-stage codegen (~10× on 64-dim vectors).
  *
  * Summation is the same left-to-right order as the SQL fold (and the
  * DuckDB `list_reduce` oracle), so results are bit-identical.
  * Null semantics match the fold: any null element → null result, and a
  * length mismatch → null (the zip_with fold it replaces yields null
  * there, not a min-length product).
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {
  import org.apache.spark.sql.catalyst.util.ArrayData
  import org.apache.spark.sql.types.{ArrayType, DoubleType => DT, FloatType => FT}

  override def dataType: DataType = org.apache.spark.sql.types.DoubleType

  // nullable even when both array columns are non-nullable: a null ELEMENT
  // (containsNull) or a length mismatch produces null, and BinaryExpression
  // only inherits column-level nullability — with nullable=false codegen's
  // non-nullable branch would emit an assignment to a false-literal isNull
  // and silently fall back to interpreted eval
  override def nullable: Boolean = true

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FT, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(FT, _) | ArrayType(DT, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"dot_product requires array<float|double> inputs, got ${left.dataType.sql}, ${right.dataType.sql}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val n = x.numElements()
    if (n != y.numElements()) return null
    val (lf, rf) = (elemIsFloat(left), elemIsFloat(right))
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xv * yv
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (n, i, acc) = (ctx.freshName("n"), ctx.freshName("i"), ctx.freshName("acc"))
      val getL = if (elemIsFloat(left)) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val getR = if (elemIsFloat(right)) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      s"""
         |int $n = $a.numElements();
         |double $acc = 0.0;
         |if ($n != $b.numElements()) { ${ev.isNull} = true; } else {
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += $getL * $getR;
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(l, r)
}

object DotProduct {
  def build(children: Seq[Expression]): Expression = {
    require(children.size == 2, "dot_product requires exactly two arguments")
    DotProduct(children(0), children(1))
  }
}

/** Native fingerprint kernels for the q53 document-fingerprinting operator.
  *
  * The SQL-HOF formulation (`aggregate(transform(sequence(1, length(text))
  * ...))` + an `md5`+`conv` per gram position) evaluates interpreted — one
  * closure dispatch, UTF8String `substr` allocation, hex-string format AND
  * parse per character — and dominated the honest bench (7.3 s of a 43 s
  * suite at sf0.1). These expressions compute the SAME values (verified by
  * the unchanged DuckDB oracle) in a tight Java loop over the UTF-8 bytes:
  * codepoint-at-a-time for the rolling hash, md5 over 4-codepoint byte
  * slices with one reused MessageDigest for the min-gram sketch. Both stay
  * inside whole-stage codegen via static helper calls. q45's SimHash
  * sketch ([[simhash60]]) follows the same pattern: one md5 per token and
  * the 60 bit votes in a local array.
  */
object Fingerprints {
  import org.apache.spark.unsafe.types.UTF8String

  /** SimHash sketch width (q45): 15 md5 hex chars per token hash, so every
    * sketch bit carries signal and the BIGINT sign bit stays clear. */
  val SimhashBits = 60

  // q53 cost note (round 12, VERDICT r11 #3): the min-gram sketch runs one
  // MD5 per character POSITION (~n_chars digests/doc, 2.5B at ×1000), so the
  // obvious optimization was replacing MessageDigest (reset + engineDigest +
  // a fresh 16-byte array per call) with an allocation-free pure-Java
  // single-block MD5. MEASURED (BASELINE.md §"q53 fingerprint: the MD5
  // floor") and rejected: HotSpot intrinsifies MD5.implCompress, and the
  // intrinsic beats the pure-Java compression 79 vs 103 ms per 600k grams
  // even paying the per-call allocations. The ThreadLocal MessageDigest
  // below is the measured floor; the per-position digest count itself is
  // the oracle contract (min over i of md5(substr(text,i,4))) and cannot be
  // reduced.
  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Byte offsets of each codepoint boundary (n+1 entries) in UTF-8. */
  private def cpOffsets(b: Array[Byte]): Array[Int] = {
    val out = new Array[Int](b.length + 1)
    var i = 0; var n = 0
    while (i < b.length) {
      out(n) = i; n += 1
      val c = b(i) & 0xff
      i += (if (c < 0x80) 1 else if (c < 0xe0) 2 else if (c < 0xf0) 3 else 4)
    }
    out(n) = b.length
    java.util.Arrays.copyOf(out, n + 1)
  }

  /** 31-ary rolling hash over codepoints, mod 2^31-1 — identical to the
    * SQL fold `(acc * 31 + ascii(char_i)) % 2147483647`. */
  def poly(s: UTF8String): Long = {
    val str = s.toString
    var acc = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      acc = (acc * 31 + cp) % 2147483647L
      i += Character.charCount(cp)
    }
    acc
  }

  /** min over positions i of the first-32-bits-of-md5 hash of the
    * 4-codepoint gram at i — identical to
    * `array_min(transform(..., i -> conv(substr(md5(substr(text,i,4)),1,8),16,10)))`.
    * Caller guards numChars >= 4 (expression returns null below that). */
  def minGram4(s: UTF8String): Long = {
    val bytes = s.getBytes
    val off = cpOffsets(bytes)
    val n = off.length - 1 // codepoint count
    val d = md5.get()
    var best = Long.MaxValue
    var i = 0
    while (i <= n - 4) {
      d.reset()
      d.update(bytes, off(i), off(i + 4) - off(i))
      val h = d.digest()
      val v = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
        ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
      if (v < best) best = v
      i += 1
    }
    best
  }

  /** 60-bit SimHash of the space-split tokens — identical to q45's former
    * explode-and-vote SQL: `explode(transform(split(text, ' '), w ->
    * cast(conv(substr(md5(w),1,15),16,10) AS BIGINT)))`, then per bit b
    * `SUM(CASE WHEN (shiftright(x, b) & 1) = 1 THEN 1 ELSE -1 END) >= 0`.
    * One pass over the UTF-8 bytes: a token ends at every 0x20 byte and at
    * the end, so empty tokens (leading, trailing, doubled spaces) count,
    * as `split` keeps them; 0x20 never occurs inside a multibyte
    * codepoint. The token hash is the digest's first 60 bits (15 hex
    * chars), i.e. its first 8 bytes big-endian `>>> 4`. Property-checked
    * against the SQL in ExpressionsSpec. */
  def simhash60(s: UTF8String): Long = {
    val bytes = s.getBytes
    val d = md5.get()
    val votes = new Array[Int](SimhashBits)
    var start = 0
    var i = 0
    while (i <= bytes.length) {
      if (i == bytes.length || bytes(i) == ' ') {
        d.reset()
        d.update(bytes, start, i - start)
        val h = d.digest()
        var x = 0L
        var j = 0
        while (j < 8) { x = (x << 8) | (h(j) & 0xffL); j += 1 }
        x >>>= 4
        var b = 0
        while (b < SimhashBits) { votes(b) += (if (((x >>> b) & 1L) == 1L) 1 else -1); b += 1 }
        start = i + 1
      }
      i += 1
    }
    var sh = 0L
    var b = 0
    while (b < SimhashBits) { if (votes(b) >= 0) sh |= 1L << b; b += 1 }
    sh
  }

  /** Token count of the fixed BPE-ish lexer `[a-z]+|[0-9]+|[^a-z0-9 ]` in
    * ONE codepoint scan — equal to
    * `size(regexp_extract_all(text, pat, 0))` exactly: the regex's first
    * two branches are greedy maximal runs (after an `[a-z]+` match the
    * engine resumes at the first unconsumed codepoint, so a run can never
    * be split), the third consumes exactly one non-space codepoint, and
    * spaces match no branch. The regex engine spends ~0.7 ms per KB on
    * the alternation (5M ×1000 docs = 113 s); this scan is ~40× cheaper
    * and keeps q52 inside whole-stage codegen. Property-checked against
    * `java.util.regex` on random strings in ExpressionsSpec. */
  def tokenLexCount(s: UTF8String): Long = {
    val str = s.toString
    var n = 0L
    var i = 0
    var run = 0 // 0 = none, 1 = inside a-z run, 2 = inside 0-9 run
    while (i < str.length) {
      val cp = str.codePointAt(i)
      if (cp >= 'a' && cp <= 'z') { if (run != 1) n += 1; run = 1 }
      else if (cp >= '0' && cp <= '9') { if (run != 2) n += 1; run = 2 }
      else { if (cp != ' ') n += 1; run = 0 }
      i += Character.charCount(cp)
    }
    n
  }
}

case class PolyHash(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(s: Any): Any =
    Fingerprints.poly(s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.Fingerprints.poly($c)")
  override protected def withNewChildInternal(c: Expression): PolyHash = copy(c)
}

object PolyHash {
  def build(children: Seq[Expression]): Expression = {
    require(children.size == 1, "poly_hash requires exactly one argument")
    PolyHash(Cast(children.head, org.apache.spark.sql.types.StringType))
  }
}

case class MinGramHash(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true // null when numChars < 4, regardless of child
  override protected def nullSafeEval(s: Any): Any = {
    val u = s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
    if (u.numChars() < 4) null else Fingerprints.minGram4(u)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |if ($c.numChars() < 4) { ${ev.isNull} = true; }
       |else { ${ev.value} = graft.Fingerprints.minGram4($c); }
     """.stripMargin)
  override protected def withNewChildInternal(c: Expression): MinGramHash = copy(c)
}

object MinGramHash {
  def build(children: Seq[Expression]): Expression = {
    require(children.size == 1, "min_gram_hash requires exactly one argument")
    MinGramHash(Cast(children.head, org.apache.spark.sql.types.StringType))
  }
}

case class SimHash60(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(s: Any): Any =
    Fingerprints.simhash60(s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.Fingerprints.simhash60($c)")
  override protected def withNewChildInternal(c: Expression): SimHash60 = copy(c)
}

object SimHash60 {
  def build(children: Seq[Expression]): Expression = {
    require(children.size == 1, "simhash60 requires exactly one argument")
    SimHash60(Cast(children.head, org.apache.spark.sql.types.StringType))
  }
}

case class TokenLexCount(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(s: Any): Any =
    Fingerprints.tokenLexCount(s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.Fingerprints.tokenLexCount($c)")
  override protected def withNewChildInternal(c: Expression): TokenLexCount = copy(c)
}

object TokenLexCount {
  def build(children: Seq[Expression]): Expression = {
    require(children.size == 1, "token_lex_count requires exactly one argument")
    TokenLexCount(Cast(children.head, org.apache.spark.sql.types.StringType))
  }
}

/** `to_fixed(d, scale, precision)` — exact fixed-point conversion of a
  * DOUBLE to its unscaled BIGINT at `scale`, semantically identical to
  * `UnscaledValue(CAST(d AS DECIMAL(precision, scale)))` (pinned by
  * FixedPointSpec) but without the per-row `Double.toString` + BigDecimal
  * walk that dominates decimal aggregation at scale: the ×1000 A/B
  * (BASELINE §decimal sums) measured TPC-H q1's four decimal casts +
  * wide-precision sums at ~20 s of its 24 s total on 600M rows.
  *
  * Fast path: `f = Math.round(d·10^s)` is accepted iff `(double) f / 10^s`
  * round-trips to exactly `d`, `|d·10^s| < 2e14`, and `|f|` fits the
  * precision. Under that bound the double's shortest decimal
  * representation (what Spark's double→decimal cast rounds, via
  * `BigDecimal(Double.toString(d))`) lies within `2e14·2^-51 < 0.09`
  * unscaled units of `f`, and no other multiple of `10^-s` can round-trip
  * (spacing ≥ ulp), so the fast path can never disagree with the cast —
  * it can only decline (ties like 0.615 fail the round-trip and fall
  * through). Everything else — ties, NaN/Infinity, precision overflow —
  * evaluates an embedded `UnscaledValue(Cast(...))` sub-expression, so
  * the rare paths ARE the session's cast semantics (ANSI error or null)
  * by construction, not a reimplementation.
  *
  * The reference reads TPC-H money columns as native DECIMAL and
  * aggregates in i128 (DataFusion `sum_decimal`); this expression is the
  * Spark-side equivalent lane: unscaled longs feed plain `sum(BIGINT)`
  * inside whole-stage codegen (see Queries.sumU for the overflow-safe
  * scale-split accumulation).
  */
case class DoubleToFixed(child: Expression, scale: Int, precision: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(scale >= 0 && scale <= 6 && precision > scale && precision <= 18,
    s"to_fixed supports 0<=scale<=6 < precision<=18, got ($precision,$scale)")
  import org.apache.spark.sql.catalyst.expressions.UnscaledValue
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  /** The reference lane for every non-fast input, bound to ordinal 0 of a
    * one-field row holding the ALREADY-COMPUTED child value (ADVICE r10):
    * the previous form embedded `Cast(child, ...)`, which re-evaluated the
    * child a second time whenever the fast path declined — duplicated
    * codegen for deterministic children and a genuine divergence (fast
    * check vs cast seeing different values) for non-deterministic ones.
    * Lazy per-instance so the Cast captures the session's eval mode at
    * first use, exactly as before. */
  private lazy val slowPath: Expression =
    UnscaledValue(Cast(
      org.apache.spark.sql.catalyst.expressions.BoundReference(
        0, org.apache.spark.sql.types.DoubleType, nullable = false),
      org.apache.spark.sql.types.DecimalType(precision, scale)))


  private val pow: Double = DoubleToFixed.pow10(scale).toDouble
  private val maxU: Long = DoubleToFixed.pow10(precision) - 1L

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else {
      val d = v.asInstanceOf[Double]
      if (!java.lang.Double.isNaN(d) && !java.lang.Double.isInfinite(d)
          && math.abs(d) * pow < 2e14) {
        val f = Math.round(d * pow)
        if (f.toDouble / pow == d && math.abs(f) <= maxU) return f
      }
      // rare path: feed the SAME d the fast check saw, never re-eval child
      val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
      row.update(0, d)
      slowPath.eval(row)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.{FalseLiteral, JavaCode}
    val c = child.genCode(ctx)
    val (f, done) = (ctx.freshName("fixed"), ctx.freshName("fastDone"))
    // Generate the slow path against the ALREADY-COMPUTED child variable:
    // slowPath's BoundReference(0) resolves through ctx.currentVars to the
    // `${f}d` local declared below, so the child's code is emitted exactly
    // once (the non-null branch guarantees the value is valid here).
    val savedVars = ctx.currentVars
    val savedRow = ctx.INPUT_ROW
    ctx.currentVars = Seq(ExprCode(FalseLiteral,
      JavaCode.variable(s"${f}d", org.apache.spark.sql.types.DoubleType)))
    ctx.INPUT_ROW = null
    val s = slowPath.genCode(ctx)
    ctx.currentVars = savedVars
    ctx.INPUT_ROW = savedRow
    ev.copy(code =
      code"""
         |${c.code}
         |boolean ${ev.isNull} = true;
         |long ${ev.value} = -1L;
         |if (!${c.isNull}) {
         |  boolean $done = false;
         |  double ${f}d = ${c.value};
         |  if (!Double.isNaN(${f}d) && !Double.isInfinite(${f}d)
         |      && Math.abs(${f}d) * ${pow}D < 2e14) {
         |    long $f = Math.round(${f}d * ${pow}D);
         |    if (((double) $f) / ${pow}D == ${f}d && Math.abs($f) <= ${maxU}L) {
         |      ${ev.isNull} = false; ${ev.value} = $f; $done = true;
         |    }
         |  }
         |  if (!$done) {
         |    ${s.code}
         |    ${ev.isNull} = ${s.isNull};
         |    if (!${ev.isNull}) ${ev.value} = ${s.value};
         |  }
         |}
       """.stripMargin)
  }
  override protected def withNewChildInternal(c: Expression): DoubleToFixed =
    copy(child = c)
}

object DoubleToFixed {
  private[graft] def pow10(n: Int): Long = {
    var r = 1L; var i = 0
    while (i < n) { r *= 10L; i += 1 }
    r
  }

  def build(children: Seq[Expression]): Expression = {
    require(children.size == 3,
      "to_fixed requires (value, scale, precision)")
    val Seq(c, s, p) = children
    def lit(e: Expression, name: String): Int = e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v, _) =>
        v.toString.toInt
      case _ => throw new IllegalArgumentException(s"to_fixed $name must be a literal")
    }
    DoubleToFixed(Cast(c, org.apache.spark.sql.types.DoubleType),
      lit(s, "scale"), lit(p, "precision"))
  }
}
