package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.unsafe.Platform

/** Byte-level parser of one `<x1, x2, …, xd>` line, value- and
  * exception-exact with the reference's String parse
  * (`KMeans.parsePoint`, KMeans.java:261-274, as written in Java):
  *
  * {{{
  *   val s = line.trim                      // blank ⇒ no point
  *   s.replaceAll("[<>]", "").split(",\\s*").map(java.lang.Double.parseDouble)
  * }}}
  *
  * without decoding the line to a String or compiling a regex per line.
  * The split semantics are reproduced byte for byte: `<` and `>` are
  * invisible everywhere; a comma and the `[ \t\n\x0B\f\r]` run after it
  * separate pieces; trailing empty pieces are dropped, a body with no
  * comma is one piece even when empty, and any other empty piece is the
  * `parseDouble("")` failure. Every byte ≥ 0x80 stays inside a piece
  * (UTF-8 separators are ASCII), so a non-ASCII line fails exactly where
  * the String parse does.
  *
  * Each piece is parsed by Clinger's exact fast path when it is
  * `[+-]?digits[.digits]` with at most 15 significant digits and at most
  * 22 fraction digits: m and 10^f are then exact doubles, and the one
  * correctly rounded division m / 10^f is the value `parseDouble`
  * returns (its own fast path does the same division). Any other piece
  * (exponents, NaN, Infinity, long mantissas, malformed text) goes to
  * `java.lang.Double.parseDouble` on that piece alone: same value, same
  * NumberFormatException.
  *
  * One instance per reader: the value buffer is reused across lines.
  * [[tokenize]] fills it; [[parse]] returns it as a Spark array, and a
  * reader that wants a plain `double[]` copies [[values]]' first
  * [[size]] entries instead.
  */
final class PointsLineParser {
  import PointsLineParser._

  private var buf = new Array[Double](16)
  private var n = 0

  /** The value buffer: its first [[size]] entries are the point on the
    * line tokenized last. The next line reuses it. */
  def values: Array[Double] = buf

  /** How many values the line tokenized last has. */
  def size: Int = n

  /** The point on a non-blank line (see [[PointsLineParser.isBlank]]). */
  def parse(b: Array[Byte], len: Int): UnsafeArrayData = {
    tokenize(b, len)
    array
  }

  /** The point on the line tokenized last, as a Spark array (a copy). */
  def array: UnsafeArrayData =
    UnsafeArrayData.fromPrimitiveArray(buf, Platform.DOUBLE_ARRAY_OFFSET, n, 8)

  /** Parses a non-blank line into the value buffer. */
  def tokenize(b: Array[Byte], len: Int): Unit = {
    var lo = 0
    var hi = len
    while (lo < hi && (b(lo) & 0xff) <= ' ') lo += 1
    while (hi > lo && (b(hi - 1) & 0xff) <= ' ') hi -= 1
    n = 0
    var empties = 0 // empty pieces, failing unless they turn out trailing
    var start = lo
    var more = true
    while (more) {
      var end = start
      var empty = true
      while (end < hi && b(end) != ',') {
        if (!isBracket(b(end))) empty = false
        end += 1
      }
      if (empty) {
        if (start == lo && end == hi) throw new NumberFormatException("empty String")
        empties += 1
      } else {
        if (empties > 0) throw new NumberFormatException("empty String")
        append(piece(b, start, end))
      }
      if (end < hi) {
        start = end + 1
        while (start < hi && isSeparatorSpace(b(start))) start += 1
      } else more = false
    }
  }

  private def append(v: Double): Unit = {
    if (n == buf.length) buf = java.util.Arrays.copyOf(buf, n * 2)
    buf(n) = v
    n += 1
  }
}

object PointsLineParser {

  /** `String.trim` of the line is empty: every byte is ≤ 0x20. */
  def isBlank(b: Array[Byte], len: Int): Boolean = {
    var i = 0
    while (i < len && (b(i) & 0xff) <= ' ') i += 1
    i == len
  }

  /** 10^0 … 10^22, each exact (5^22 < 2^53), built by exact products. */
  private val Pow10: Array[Double] = Array.iterate(1.0, 23)(_ * 10)

  private def isBracket(c: Byte): Boolean = c == '<' || c == '>'

  /** `\s` of `java.util.regex`, plus the removed brackets. */
  private def isSeparatorSpace(c: Byte): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == 0x0b || c == '\f' || c == '\r' ||
      isBracket(c)

  private def isTrimmed(c: Byte): Boolean = (c & 0xff) <= ' ' || isBracket(c)

  /** `parseDouble` of the piece [from, to) with the brackets removed. */
  private def piece(b: Array[Byte], from: Int, to: Int): Double = {
    var s = from
    var e = to
    while (s < e && isTrimmed(b(s))) s += 1
    while (e > s && isTrimmed(b(e - 1))) e -= 1
    var i = s
    val neg = i < e && b(i) == '-'
    if (i < e && (neg || b(i) == '+')) i += 1
    var m = 0L
    var significant = 0
    var digits = 0
    var fraction = 0
    var dot = false
    var exact = true
    while (exact && i < e) {
      val c = b(i)
      if (c >= '0' && c <= '9') {
        digits += 1
        if (dot) fraction += 1
        if (m != 0 || c != '0') {
          significant += 1
          m = m * 10 + (c - '0')
        }
        if (significant > 15) exact = false
      } else if (c == '.' && !dot) dot = true
      else if (!isBracket(c)) exact = false
      i += 1
    }
    if (exact && digits > 0 && fraction < Pow10.length) {
      val v = m.toDouble / Pow10(fraction)
      if (neg) -v else v
    } else {
      // decode first, then drop the brackets, as the String parse does:
      // a bracket inside a malformed UTF-8 sequence must not join it
      val text = new String(b, s, e - s, UTF_8)
      java.lang.Double.parseDouble(text.filter(c => c != '<' && c != '>'))
    }
  }
}
