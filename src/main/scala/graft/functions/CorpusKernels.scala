package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, MathUtils}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/* Native Catalyst kernels for the corpus operators' per-element loops,
  * the [[FloatDotProduct]] cure applied to the rest of the family: Spark's
  * higher-order functions (`transform`, `aggregate`, `zip_with`,
  * `filter`) are `CodegenFallback`, so the compositions these replace ran
  * one interpreted lambda call per vector dimension, token or window.
  * Each kernel returns the same bits as the composition it replaces;
  * `CorpusKernelsSpec` compares the two in both eval paths.
  */

/** `Σ (x − y)²` over two `array<bigint>`: sim8's exact integer squared L2
  * and sim12's silhouette distance. NULL on ragged lengths or a null
  * element, as `zip_with`'s null padding poisons the fold; `-`, `*` and
  * `+` overflow as the replaced operators do under the session's ANSI
  * setting (every term is computed, so a term that overflows after a
  * NULL still raises, exactly as `zip_with` evaluates every pair).
  */
case class LongSquaredL2(
    left: Expression, right: Expression,
    failOnError: Boolean = SQLConf.get.ansiEnabled)
  extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "long_sq_l2"
  override def nullable: Boolean = true
  override protected def flatArguments: Iterator[Any] = Iterator(left, right)

  override def checkInputDataTypes(): TypeCheckResult =
    CorpusKernels.expect(prettyName, Seq(left, right), {
      case ArrayType(LongType, _) => true
      case _ => false
    }, "array<bigint>")

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var isNull = x.numElements() != y.numElements()
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) isNull = true
      else if (failOnError) {
        val d = MathUtils.subtractExact(x.getLong(i), y.getLong(i))
        val t = MathUtils.multiplyExact(d, d)
        if (!isNull) s = MathUtils.addExact(s, t)
      } else {
        val d = x.getLong(i) - y.getLong(i)
        s += d * d
      }
      i += 1
    }
    if (isNull) null else s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val (n, i, s, d) = (ctx.freshName("n"), ctx.freshName("i"),
        ctx.freshName("s"), ctx.freshName("d"))
      val math = MathUtils.getClass.getName.stripSuffix("$")
      def op(name: String, sym: String, a: String, b: String) =
        if (failOnError) s"$math.${name}Exact($a, $b)" else s"($a $sym $b)"
      s"""
         |int $n = Math.min($x.numElements(), $y.numElements());
         |${ev.isNull} = $x.numElements() != $y.numElements();
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($x.isNullAt($i) || $y.isNullAt($i)) {
         |    ${ev.isNull} = true;
         |  } else {
         |    long $d = ${op("subtract", "-", s"$x.getLong($i)", s"$y.getLong($i)")};
         |    $d = ${op("multiply", "*", d, d)};
         |    if (!${ev.isNull}) { $s = ${op("add", "+", s, d)}; }
         |  }
         |}
         |if (!${ev.isNull}) { ${ev.value} = $s; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongSquaredL2 =
    copy(left = newLeft, right = newRight)
}

/** The lowercase md5 hex of every `k`-token window (windows `1..n−k+1`,
  * tokens joined by one space, null tokens skipped as `concat_ws` skips
  * them): t30's boilerplate shingles and dd8's contamination windows.
  * Empty when `n < k`; NULL for a null array.
  */
case class KgramMd5(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"kgram_md5 needs k >= 1, got $k")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "kgram_md5"

  override def checkInputDataTypes(): TypeCheckResult =
    CorpusKernels.expect(prettyName, Seq(child), {
      case ArrayType(_: StringType, _) => true
      case _ => false
    }, "array<string>")

  override def nullSafeEval(tokens: Any): Any =
    CorpusKernels.kgramMd5(tokens.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"${CorpusKernels.Name}.kgramMd5($t, $k)")

  override protected def withNewChildInternal(newChild: Expression): KgramMd5 =
    copy(child = newChild)
}

/** dd4's 60-bit SimHash of a token set: bit `i` is set iff
  * `2·votes_i − |set| > 0`, where a token votes for the set bits of its
  * [[CorpusKernels.token60]] hash. A null token counts in `|set|` but
  * votes for no bit. NULL for an empty or null set.
  */
case class Simhash60(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash60"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    CorpusKernels.expect(prettyName, Seq(child), {
      case ArrayType(_: StringType, _) => true
      case _ => false
    }, "array<string>")

  override def nullSafeEval(tokens: Any): Any = {
    val a = tokens.asInstanceOf[ArrayData]
    if (a.numElements() == 0) null else CorpusKernels.simhash60(a)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"""
         |if ($t.numElements() == 0) { ${ev.isNull} = true; }
         |else { ${ev.value} = ${CorpusKernels.Name}.simhash60($t); }
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Simhash60 =
    copy(child = newChild)
}

/** One string's [[CorpusKernels.token60]] hash: dd3's token-set hash. */
case class Token60(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "token60"

  override def checkInputDataTypes(): TypeCheckResult =
    CorpusKernels.expect(prettyName, Seq(child), {
      case _: StringType => true
      case _ => false
    }, "string")

  override def nullSafeEval(s: Any): Any =
    CorpusKernels.token60(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"${CorpusKernels.Name}.token60($s)")

  override protected def withNewChildInternal(newChild: Expression): Token60 =
    copy(child = newChild)
}

/** The lowercased runs of ASCII letters of a string, in order:
  * `array_remove(split(lower(s), "[^a-z]+"), "")` in one pass over the
  * UTF-8 bytes, with no case-mapping table and no regex. `A`–`Z` fold to
  * `a`–`z`. The only non-ASCII code points whose lowercase holds an ASCII
  * letter are U+212A (KELVIN SIGN, to `k`) and U+0130 (to `i` plus
  * U+0307, so the `i` ends its token); Spark's `lower` maps them so with
  * and without ICU case mappings, under any default locale but the
  * Turkish, Azeri and Lithuanian ones. Every other non-ASCII code point
  * and every malformed byte separates tokens, as its lowercase (or the
  * replacement character it decodes to) does.
  */
case class Tokens(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "tokens"

  override def checkInputDataTypes(): TypeCheckResult =
    CorpusKernels.expect(prettyName, Seq(child), {
      case _: StringType => true
      case _ => false
    }, "string")

  override def nullSafeEval(s: Any): Any =
    CorpusKernels.tokens(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"${CorpusKernels.Name}.tokens($s)")

  override protected def withNewChildInternal(newChild: Expression): Tokens =
    copy(child = newChild)
}

/** Word bigrams in order: element `i` is `t_i || ' ' || t_{i+1}`, NULL
  * when either token is NULL (as `concat` is). Empty for fewer than two
  * tokens; NULL for a null array.
  */
case class Bigrams(child: Expression) extends UnaryExpression {
  override def dataType: DataType = child.dataType match {
    case ArrayType(_, containsNull) => ArrayType(StringType, containsNull)
    case _ => ArrayType(StringType)
  }
  override def prettyName: String = "bigrams"

  override def checkInputDataTypes(): TypeCheckResult =
    CorpusKernels.expect(prettyName, Seq(child), {
      case ArrayType(_: StringType, _) => true
      case _ => false
    }, "array<string>")

  override def nullSafeEval(tokens: Any): Any =
    CorpusKernels.bigrams(tokens.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"${CorpusKernels.Name}.bigrams($t)")

  override protected def withNewChildInternal(newChild: Expression): Bigrams =
    copy(child = newChild)
}

/** The `n`-entry MinHash signature of a shingle set: entry `k` is the
  * least 4-hex-digit window `k` (digits `4k+1..4k+4`) of the lowercase
  * md5 hex of a non-null shingle, so one md5 per shingle serves all `n`
  * orderings. Every entry is NULL when no shingle is non-null; NULL for a
  * null array.
  */
case class MinhashSig(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1 && n <= 8, s"minhash_sig needs 1 <= n <= 8, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "minhash_sig"

  override def checkInputDataTypes(): TypeCheckResult =
    CorpusKernels.expect(prettyName, Seq(child), {
      case ArrayType(_: StringType, _) => true
      case _ => false
    }, "array<string>")

  override def nullSafeEval(shingles: Any): Any =
    CorpusKernels.minhashSig(shingles.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"${CorpusKernels.Name}.minhashSig($s, $n)")

  override protected def withNewChildInternal(newChild: Expression): MinhashSig =
    copy(child = newChild)
}

object CorpusKernels {

  /** Column-API surface of the kernels. */
  def longSqL2(a: Column, b: Column): Column =
    Bridge.column(LongSquaredL2(Bridge.expression(a), Bridge.expression(b)))
  def kgramMd5(tokens: Column, k: Int): Column =
    Bridge.column(KgramMd5(Bridge.expression(tokens), k))
  def simhash60(tokens: Column): Column =
    Bridge.column(Simhash60(Bridge.expression(tokens)))
  def token60(s: Column): Column =
    Bridge.column(Token60(Bridge.expression(s)))
  def tokens(text: Column): Column =
    Bridge.column(Tokens(Bridge.expression(text)))
  def bigrams(tokens: Column): Column =
    Bridge.column(Bigrams(Bridge.expression(tokens)))
  def minhashSig(shingles: Column, n: Int): Column =
    Bridge.column(MinhashSig(Bridge.expression(shingles), n))

  /** The class name generated code calls the static kernels through. */
  private[functions] val Name: String = getClass.getName.stripSuffix("$")

  private[functions] def expect(name: String, args: Seq[Expression],
      ok: DataType => Boolean, want: String): TypeCheckResult =
    if (args.forall(a => ok(a.dataType))) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name requires $want arguments, got " +
        args.map(_.dataType.simpleString).mkString(", "))

  private val Md5 = ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))
  private val Hex = "0123456789abcdef".getBytes("US-ASCII")

  /** The 60-bit token hash: the first 15 hex digits of the md5 of the
    * token's UTF-8 bytes, read as an unsigned integer. The one definition
    * behind [[Token60]] and [[Simhash60]]; the oracle spells it
    * `conv(md5(x).substr(1, 15), 16, 10)`.
    */
  def token60(s: UTF8String): Long = {
    val d = Md5.get().digest(s.getBytes)
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h >>> 4
  }

  def kgramMd5(tokens: ArrayData, k: Int): ArrayData = {
    val n = tokens.numElements()
    val bytes = Array.tabulate(n)(i =>
      if (tokens.isNullAt(i)) null else tokens.getUTF8String(i).getBytes)
    val md = Md5.get()
    val out = new Array[Any](math.max(0, n - k + 1))
    var w = 0
    while (w < out.length) {
      var first = true
      var j = w
      while (j < w + k) {
        if (bytes(j) != null) {
          if (!first) md.update(' '.toByte)
          md.update(bytes(j))
          first = false
        }
        j += 1
      }
      val d = md.digest()
      val hex = new Array[Byte](32)
      var b = 0
      while (b < 16) {
        hex(2 * b) = Hex((d(b) >> 4) & 0xf)
        hex(2 * b + 1) = Hex(d(b) & 0xf)
        b += 1
      }
      out(w) = UTF8String.fromBytes(hex)
      w += 1
    }
    new GenericArrayData(out)
  }

  /** [[Tokens]]: the tokens share one buffer of lowered letters. */
  def tokens(s: UTF8String): ArrayData = {
    val n = s.numBytes()
    val low = new Array[Byte](n)
    val out = new java.util.ArrayList[AnyRef]()
    var w = 0 // letters in `low`
    var start = 0 // where the open token starts in `low`
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      var letter = 0 // a letter that continues the token, else 0
      var width = 1
      if (b >= 'a' && b <= 'z') letter = b
      else if (b >= 'A' && b <= 'Z') letter = b + 32
      else if (b == 0xE2.toByte && i + 2 < n && s.getByte(i + 1) == 0x84.toByte &&
          s.getByte(i + 2) == 0xAA.toByte) { letter = 'k'; width = 3 }
      else if (b == 0xC4.toByte && i + 1 < n && s.getByte(i + 1) == 0xB0.toByte) {
        low(w) = 'i'; w += 1; width = 2 // U+0130: `i`, then U+0307 ends the token
      }
      if (letter != 0) { low(w) = letter.toByte; w += 1 }
      else if (w > start) {
        out.add(UTF8String.fromBytes(low, start, w - start))
        start = w
      }
      i += width
    }
    if (w > start) out.add(UTF8String.fromBytes(low, start, w - start))
    new GenericArrayData(out.toArray.asInstanceOf[Array[Any]])
  }

  private val Space = UTF8String.fromString(" ")

  def bigrams(tokens: ArrayData): ArrayData = {
    val out = new Array[Any](math.max(0, tokens.numElements() - 1))
    var i = 0
    while (i < out.length) {
      if (!tokens.isNullAt(i) && !tokens.isNullAt(i + 1))
        out(i) = UTF8String.concat(tokens.getUTF8String(i), Space,
          tokens.getUTF8String(i + 1))
      i += 1
    }
    new GenericArrayData(out)
  }

  def minhashSig(shingles: ArrayData, n: Int): ArrayData = {
    val md = Md5.get()
    val least = Array.fill(n)(0x10000)
    var i = 0
    while (i < shingles.numElements()) {
      if (!shingles.isNullAt(i)) {
        val d = md.digest(shingles.getUTF8String(i).getBytes)
        var k = 0
        while (k < n) {
          least(k) = math.min(least(k), ((d(2 * k) & 0xff) << 8) | (d(2 * k + 1) & 0xff))
          k += 1
        }
      }
      i += 1
    }
    new GenericArrayData(least.map[Any] { v =>
      if (v > 0xffff) null
      else UTF8String.fromBytes(Array(12, 8, 4, 0).map(sh => Hex((v >> sh) & 0xf)))
    })
  }

  /** [[Simhash60]] over a non-empty token array. */
  def simhash60(tokens: ArrayData): Long = {
    val n = tokens.numElements()
    val votes = new Array[Int](60)
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val h = token60(tokens.getUTF8String(i))
        var b = 0
        while (b < 60) { votes(b) += ((h >>> b) & 1L).toInt; b += 1 }
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < 60) {
      if (2 * votes(b) - n > 0) fp |= 1L << b
      b += 1
    }
    fp
  }
}
