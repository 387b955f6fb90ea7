package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftColumnBridge.{column, expression, AbstractType}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Jaro-Winkler scalar kernel, matching DuckDB's
  * `jaro_winkler_similarity` semantics exactly (verified empirically):
  * classic Jaro with match window ⌊max/2⌋−1, Winkler prefix bonus
  * p = 0.1 over at most 4 common prefix chars, bonus applied ONLY when
  * jaro > 0.7, and 0.0 when either side is empty. Spark has levenshtein
  * built in but no Jaro-Winkler; dedup re-ranking wants both (JW is the
  * standard name-matching measure — prefix-weighted, length-tolerant). */
object JaroWinklerAlgo {
  def compute(ua: UTF8String, ub: UTF8String): Double = {
    val a = ua.toString
    val b = ub.toString
    val la = a.length
    val lb = b.length
    if (la == 0 || lb == 0) return 0.0
    val window = math.max(0, math.max(la, lb) / 2 - 1)
    val ma = new Array[Boolean](la)
    val mb = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - window)
      val hi = math.min(lb - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!mb(j) && a.charAt(i) == b.charAt(j)) {
          ma(i) = true; mb(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    // transpositions: matched chars out of order, counted pairwise
    var t = 0
    var k = 0
    i = 0
    while (i < la) {
      if (ma(i)) {
        while (!mb(k)) k += 1
        if (a.charAt(i) != b.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    val mm = m.toDouble
    val jaro = (mm / la + mm / lb + (mm - t / 2) / mm) / 3.0
    if (jaro <= 0.7) return jaro
    var l = 0
    val maxL = math.min(4, math.min(la, lb))
    while (l < maxL && a.charAt(l) == b.charAt(l)) l += 1
    jaro + l * 0.1 * (1.0 - jaro)
  }
}

case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def dataType: DataType = DoubleType

  override def inputTypes: Seq[AbstractType] = Seq(StringType, StringType)

  override def nullSafeEval(a: Any, b: Any): Any =
    JaroWinklerAlgo.compute(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  // stays inside whole-stage codegen as a static call — the kernel
  // itself gains nothing from inlining into janino
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.plans.JaroWinklerAlgo.compute($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinkler =
    copy(left = newLeft, right = newRight)
}

/** O(len)-per-document rolling window hashes: the 64-bit hash of EVERY
  * k-codepoint window of a string in one linear pass. The position-level
  * dedup kernel (Dedup.winHashes) anchors a window at every character;
  * hashing each window independently via `substring(text, i, k)` is
  * O(len²) per document — `UTF8String.substring` walks from the string
  * start to find the char offset, so a 100 kB document costs ~10¹⁰ byte
  * steps, exactly the long-boilerplate regime ExactSubstr-style dedup
  * exists for. Here each next window reuses the previous window's hash
  * (classic Rabin-Karp roll: subtract the leaving codepoint's term,
  * multiply by the base, add the entering codepoint), so the whole
  * document costs O(len) regardless of k.
  *
  * Equality contract: two windows get the same raw polynomial value iff
  * their codepoint sequences match, up to mod-2⁶⁴ collisions — the same
  * "hash equality ≡ string equality, collision-negligible" contract the
  * previous md5-56 window hash ran under, with 63 output bits instead of
  * 56. The murmur3 finalizer decorrelates OUTPUT values (a bijection —
  * it cannot remove collisions, only the value clustering raw
  * polynomials exhibit on structured input). Against an ADVERSARY the
  * seedless fixed-base polynomial admits engineered window collisions
  * (solvable coefficient differences ≡ 0 mod 2⁶⁴) that md5's preimage
  * resistance would not — but the prior contract already conceded that
  * ground: 56 truncated bits fall to a 2²⁸ birthday search regardless of
  * md5's strength, so neither formulation defends recurrence against
  * crafted corpora; the contract is and was statistical. A deployment
  * that needs adversarial robustness should re-key the multiplier per
  * corpus (any odd 64-bit value works — it is not wired to a conf here
  * because the persisted winidx artifact must hash identically across
  * sessions). The consumer's oracle hashes windows independently (md5 in
  * DuckDB); outputs agree because both sides' recurrence sets equal
  * string-recurrence exactly when neither side collides — the documented
  * ≥1e-5 margin at 10¹² positions. */
object RollingWindowHashAlgo {
  /** Odd 64-bit multiplier (2⁶⁴/φ); odd ⇒ invertible mod 2⁶⁴, so the
    * polynomial map is injective per position count. */
  private final val B = 0x9E3779B97F4A7C15L

  /** murmur3 fmix64 finalizer. */
  private def fmix(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL
    x ^= x >>> 33; x *= 0xC4CEB9FE1A85EC53L
    x ^= x >>> 33
    x
  }

  def compute(s: UTF8String, k: Int): ArrayData = {
    // code points, not UTF-16 units: the window is defined in characters
    // (matching substring()/len() semantics on both engines)
    val cps = s.toString.codePoints().toArray
    val n = cps.length
    if (n < k) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    var bk1 = 1L // B^(k-1), the leaving codepoint's positional weight
    var i = 1
    while (i < k) { bk1 *= B; i += 1 }
    val out = new Array[Long](n - k + 1)
    var h = 0L
    i = 0
    while (i < k) { h = h * B + cps(i); i += 1 }
    out(0) = fmix(h) & Long.MaxValue
    var w = 1
    while (w <= n - k) {
      h = (h - cps(w - 1) * bk1) * B + cps(w + k - 1)
      out(w) = fmix(h) & Long.MaxValue
      w += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

case class RollingWindowHashes(child: Expression, k: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  require(k > 0, s"rolling_window_hashes k must be positive, got $k")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def inputTypes: Seq[AbstractType] = Seq(StringType)

  override def nullSafeEval(a: Any): Any =
    RollingWindowHashAlgo.compute(a.asInstanceOf[UTF8String], k)

  // stays inside whole-stage codegen as a static call (the JaroWinkler
  // pattern) — the linear pass itself gains nothing from janino inlining
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"graft.plans.RollingWindowHashAlgo.compute($a, $k)")

  override protected def withNewChildInternal(newChild: Expression): RollingWindowHashes =
    copy(child = newChild)
}

/** The word-count tokenizer (the reference's `wc::map`) as one linear
  * pass over a string's UTF-8 bytes. Its definition is the regex chain
  * `s.replaceAll("(?U)[^\\w\\s]+", "").split("\\s+").filter(_.nonEmpty)`:
  *  - a code point in neither `(?U)\w` nor `(?U)\s` is deleted, so
  *    fragments around it merge (`a.b` → `ab`);
  *  - tokens split only on Java's ASCII `\s` (space, `\t`, `\n`, `\x0B`,
  *    `\f`, `\r`): a non-ASCII space such as U+00A0 stays inside its token;
  *  - bytes that are not well-formed UTF-8 decode to U+FFFD under
  *    `toString`, which is neither class, so they are deleted too.
  * An ASCII byte is classified by table; a non-ASCII code point by the
  * same `Character` predicates `java.util.regex` uses for the `(?U)`
  * classes. Kept bytes are copied once into one buffer the tokens slice,
  * with no `String` decode or regex state per row. */
object TokensAlgo {
  private final val Drop: Byte = 0
  private final val Keep: Byte = 1
  private final val Split: Byte = 2

  private final val WordTypes: Int =
    (1 << Character.NON_SPACING_MARK) | (1 << Character.ENCLOSING_MARK) |
      (1 << Character.COMBINING_SPACING_MARK) | (1 << Character.DECIMAL_DIGIT_NUMBER) |
      (1 << Character.CONNECTOR_PUNCTUATION)
  private final val SpaceTypes: Int =
    (1 << Character.SPACE_SEPARATOR) | (1 << Character.LINE_SEPARATOR) |
      (1 << Character.PARAGRAPH_SEPARATOR)

  /** `(?U)\w` or `(?U)\s` outside U+0009–U+000D: java.util.regex's
    * UNICODE_CHARACTER_CLASS definitions (Alphabetic, Mn/Me/Mc/Nd/Pc,
    * Join_Control; White_Space). */
  private def kept(cp: Int): Boolean = {
    val t = Character.getType(cp)
    Character.isAlphabetic(cp) || ((WordTypes >> t) & 1) != 0 || cp == 0x200C || cp == 0x200D ||
      ((SpaceTypes >> t) & 1) != 0 || cp == 0x85
  }

  /** Class of each ASCII byte: ASCII `\s` splits, the rest is kept or
    * dropped by [[kept]] (so `[A-Za-z0-9_]` is kept). */
  private val ascii: Array[Byte] = Array.tabulate[Byte](128) { c =>
    if (c == ' ' || (c >= 0x09 && c <= 0x0D)) Split
    else if (kept(c)) Keep
    else Drop
  }

  def compute(s: UTF8String): ArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    val buf = new Array[Byte](n)
    // token t is buf[ends(t - 1), ends(t)): kept bytes are written only
    // inside tokens, so each token starts where the previous one ended
    var ends = new Array[Int](16)
    var nTok = 0
    var w = 0
    var i = 0
    while (i <= n) {
      val b = if (i < n) Platform.getByte(base, off + i) & 0xFF else ' '.toInt
      var len = 1
      var keep = false
      if (b < 0x80) {
        val c = ascii(b)
        keep = c == Keep
        if (c == Split && w > (if (nTok == 0) 0 else ends(nTok - 1))) {
          if (nTok == ends.length) ends = java.util.Arrays.copyOf(ends, nTok * 2)
          ends(nTok) = w
          nTok += 1
        }
      } else {
        // a well-formed sequence is kept or dropped whole; any other byte
        // is dropped alone (as its U+FFFD would be), and since it is never
        // an ASCII byte or a lead byte, nothing after it is lost
        val cp = codePointAt(base, off, i, n, b)
        if (cp >= 0) {
          len = if (cp < 0x800) 2 else if (cp < 0x10000) 3 else 4
          keep = kept(cp)
        }
      }
      if (keep) {
        var k = 0
        while (k < len) { buf(w) = Platform.getByte(base, off + i + k); w += 1; k += 1 }
      }
      i += len
    }
    val out = new Array[Any](nTok)
    var t = 0
    while (t < nTok) {
      val from = if (t == 0) 0 else ends(t - 1)
      out(t) = UTF8String.fromBytes(buf, from, ends(t) - from)
      t += 1
    }
    new GenericArrayData(out)
  }

  /** How many code points the strip deletes: those [[compute]] drops, by
    * the same classification. On valid UTF-8 this is
    * `length(s) - length(regexp_replace(s, "(?U)[^\\w\\s]+", ""))`; a
    * byte that is not well-formed UTF-8 counts once, as its U+FFFD would. */
  def stripped(s: UTF8String): Int = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var dropped = 0
    var i = 0
    while (i < n) {
      val b = Platform.getByte(base, off + i) & 0xFF
      if (b < 0x80) {
        if (ascii(b) == Drop) dropped += 1
        i += 1
      } else {
        val cp = codePointAt(base, off, i, n, b)
        if (cp < 0 || !kept(cp)) dropped += 1
        i += (if (cp < 0) 1 else if (cp < 0x800) 2 else if (cp < 0x10000) 3 else 4)
      }
    }
    dropped
  }

  /** The code point of the well-formed UTF-8 sequence led by byte `b` at
    * `i`, or -1 (truncated, overlong, an encoded surrogate, or past
    * U+10FFFF: what the JDK's decoder reports as malformed). */
  private def codePointAt(base: AnyRef, off: Long, i: Int, n: Int, b: Int): Int = {
    def at(j: Int): Int = if (j < n) Platform.getByte(base, off + j) & 0xFF else 0
    def cont(j: Int): Boolean = (at(j) & 0xC0) == 0x80
    if (b >= 0xC2 && b <= 0xDF) {
      if (cont(i + 1)) ((b & 0x1F) << 6) | (at(i + 1) & 0x3F) else -1
    } else if (b >= 0xE0 && b <= 0xEF) {
      if (!cont(i + 1) || !cont(i + 2)) -1
      else {
        val cp = ((b & 0x0F) << 12) | ((at(i + 1) & 0x3F) << 6) | (at(i + 2) & 0x3F)
        if (cp < 0x800 || (cp >= 0xD800 && cp <= 0xDFFF)) -1 else cp
      }
    } else if (b >= 0xF0 && b <= 0xF4) {
      if (!cont(i + 1) || !cont(i + 2) || !cont(i + 3)) -1
      else {
        val cp = ((b & 0x07) << 18) | ((at(i + 1) & 0x3F) << 12) |
          ((at(i + 2) & 0x3F) << 6) | (at(i + 3) & 0x3F)
        if (cp < 0x10000 || cp > 0x10FFFF) -1 else cp
      }
    } else -1
  }
}

/** The tokenizer as a Catalyst expression: `array<string>` with no null
  * elements; a null input gives a null result. */
case class Tokens(child: Expression) extends UnaryExpression with ImplicitCastInputTypes {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def inputTypes: Seq[AbstractType] = Seq(StringType)

  override def nullSafeEval(a: Any): Any = TokensAlgo.compute(a.asInstanceOf[UTF8String])

  // one static call inside whole-stage codegen (the RollingWindowHashes pattern)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.plans.TokensAlgo.compute($a)")

  override protected def withNewChildInternal(newChild: Expression): Tokens =
    copy(child = newChild)
}

/** The strip's deleted-code-point count ([[TokensAlgo.stripped]]) as a
  * Catalyst expression; a null input gives a null result. */
case class StrippedChars(child: Expression) extends UnaryExpression with ImplicitCastInputTypes {

  override def dataType: DataType = IntegerType

  override def inputTypes: Seq[AbstractType] = Seq(StringType)

  override def nullSafeEval(a: Any): Any = TokensAlgo.stripped(a.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.plans.TokensAlgo.stripped($a)")

  override protected def withNewChildInternal(newChild: Expression): StrippedChars =
    copy(child = newChild)
}

object StringExpressions {
  def jaro_winkler(a: Column, b: Column): Column =
    column(JaroWinkler(expression(a), expression(b)))

  def rolling_window_hashes(c: Column, k: Int): Column =
    column(RollingWindowHashes(expression(c), k))
}
