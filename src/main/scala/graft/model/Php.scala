package graft.model

import java.util.Locale

/** String helpers matching the PHP semantics the reference relies on.
  *
  * The reference uses PHP mb_* (code-point) string functions everywhere
  * (e.g. ParseText.php:1016, Analyzer.php:391), so offsets in spans are
  * code-point offsets. Java Strings are UTF-16; these helpers are
  * surrogate-aware with a fast path for strings without supplementary
  * characters (the overwhelmingly common case at 100 TB of mostly-ASCII
  * transcript payloads — the fast path keeps the per-turn extractor cheap).
  */
object Php {

  @inline private def isBmp(s: String): Boolean = {
    // no surrogate pairs => UTF-16 index == code-point index
    var i = 0
    val n = s.length
    while (i < n) {
      if (Character.isHighSurrogate(s.charAt(i))) return false
      i += 1
    }
    true
  }

  /** mb_strlen */
  def mbLen(s: String): Int =
    if (isBmp(s)) s.length else s.codePointCount(0, s.length)

  /** mb_substr(s, start, len) with PHP semantics for in-range args
    * (we only ever call with start >= 0 or small negatives).
    */
  def mbSubstr(s: String, start: Int, len: Int = Int.MaxValue): String = {
    val n = mbLen(s)
    var st = if (start < 0) math.max(0, n + start) else math.min(start, n)
    var end =
      if (len == Int.MaxValue) n
      else if (len < 0) math.max(st, n + len)
      else math.min(n.toLong, st.toLong + len).toInt
    if (end < st) end = st
    if (isBmp(s)) s.substring(st, end)
    else {
      val a = s.offsetByCodePoints(0, st)
      val b = s.offsetByCodePoints(a, end - st)
      s.substring(a, b)
    }
  }

  /** mb_strpos: code-point index of needle at/after code-point offset, or -1. */
  def mbStrpos(s: String, needle: String, fromCp: Int = 0): Int = {
    if (isBmp(s)) {
      val i = s.indexOf(needle, math.min(fromCp, s.length))
      i
    } else {
      val fromIdx = s.offsetByCodePoints(0, math.min(fromCp, mbLen(s)))
      val i = s.indexOf(needle, fromIdx)
      if (i < 0) -1 else s.codePointCount(0, i)
    }
  }

  /** PHP trim()'s default charlist: " \t\n\r\0\x0B" */
  private val phpTrimChars: Set[Char] = Set(' ', '\t', '\n', '\r', '\u0000', '\u000B')

  def trim(s: String): String = rtrimBy(ltrimBy(s, isPhpTrimChar), isPhpTrimChar)
  def ltrim(s: String): String = ltrimBy(s, isPhpTrimChar)
  def rtrim(s: String): String = rtrimBy(s, isPhpTrimChar)

  def trim(s: String, chars: Set[Char]): String = rtrim(ltrim(s, chars), chars)
  def ltrim(s: String, chars: Set[Char]): String = {
    var i = 0
    while (i < s.length && chars.contains(s.charAt(i))) i += 1
    if (i == 0) s else s.substring(i)
  }
  def rtrim(s: String, chars: Set[Char]): String = {
    var j = s.length
    while (j > 0 && chars.contains(s.charAt(j - 1))) j -= 1
    if (j == s.length) s else s.substring(0, j)
  }

  // allocation-free trim fast paths (hot in the per-line layout loops)
  @inline private def isPhpTrimChar(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\u0000' || c == '\u000B'
  @inline private def isCustomTrimChar(c: Char): Boolean =
    isPhpTrimChar(c) || c == '\f'
  @inline private def isNbspTrimChar(c: Char): Boolean =
    isPhpTrimChar(c) || c == '\u00A0'
  private def ltrimBy(s: String, p: Char => Boolean): String = {
    var i = 0
    while (i < s.length && p(s.charAt(i))) i += 1
    if (i == 0) s else s.substring(i)
  }
  private def rtrimBy(s: String, p: Char => Boolean): String = {
    var j = s.length
    while (j > 0 && p(s.charAt(j - 1))) j -= 1
    if (j == s.length) s else s.substring(0, j)
  }

  /** `rtrim($x, " \n\r\t\v\x00" . chr(0xC2).chr(0xA0))` as used at
    * ParseText.php:488,1016 — strips ASCII whitespace, NUL and NBSP from
    * the right. (PHP does this byte-wise; on well-formed text the visible
    * effect is exactly this set.)
    */
  val nbspTrimChars: Set[Char] = Set(' ', '\n', '\r', '\t', '\u000B', '\u0000', '\u00A0')
  def rtrimNbsp(s: String): String = rtrimBy(s, isNbspTrimChar)

  /** customLtrim / customRtrim (ParseText.php:15-22):
    * preg '[\s\x00]+' with /u but without PCRE_UCP, i.e. ASCII \s + NUL:
    * [ \t\n\r\f\v\0 ].
    */
  val customTrimChars: Set[Char] = Set(' ', '\t', '\n', '\r', '\f', '\u000B', '\u0000')
  def customLtrim(s: String): String = ltrimBy(s, isCustomTrimChar)
  def customRtrim(s: String): String = rtrimBy(s, isCustomTrimChar)
  def customTrim(s: String): String = rtrimBy(ltrimBy(s, isCustomTrimChar), isCustomTrimChar)

  /** reduce_spaces (UniversalUtilities.php:140-143): [[:blank:]]+ -> " "
    * ([:blank:] = space + tab).
    */
  def reduceSpaces(s: String): String = {
    if (s.indexOf("  ") < 0 && s.indexOf('\t') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    var inBlank = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == ' ' || c == '\t') {
        if (!inBlank) sb.append(' ')
        inBlank = true
      } else {
        sb.append(c); inBlank = false
      }
      i += 1
    }
    sb.toString
  }

  /** compress_spaces (Objects.php:3-10): only in PDF mode; '!\s+!' (no /u)
    * = ASCII whitespace runs -> single space.
    */
  def compressSpaces(s: String): String = {
    var needs = false
    var i = 0
    while (i < s.length && !needs) {
      val c = s.charAt(i)
      if (c == '\t' || c == '\n' || c == '\r' || c == '\f' || c == '\u000B') needs = true
      else if (c == ' ' && i + 1 < s.length && isAsciiSpace(s.charAt(i + 1))) needs = true
      i += 1
    }
    if (!needs) return s
    val sb = new java.lang.StringBuilder(s.length)
    var j = 0
    var run = false
    while (j < s.length) {
      val c = s.charAt(j)
      if (isAsciiSpace(c)) { if (!run) sb.append(' '); run = true }
      else { sb.append(c); run = false }
      j += 1
    }
    sb.toString
  }
  @inline private def isAsciiSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f' || c == '\u000B'

  /** strip_color_formatting (Objects.php:12-18): remove chr(15)..chr(30). */
  def stripColorFormatting(s: String): String = {
    var has = false
    var i = 0
    while (i < s.length && !has) { val c = s.charAt(i); if (c >= 15 && c <= 30) has = true; i += 1 }
    if (!has) s else s.filter(c => c < 15 || c > 30)
  }

  /** is_uppercase (UniversalUtilities.php:39-42): str equals its uppercase.
    * Allocation-free single pass for strings without non-ASCII letters
    * (locale-special casings like ß fall back to the full comparison).
    */
  def isUppercase(s: String): Boolean = {
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c < 128) {
        if (c >= 'a' && c <= 'z') return false
      } else {
        return s == s.toUpperCase(Locale.ROOT)
      }
      i += 1
    }
    true
  }

  /** is_prefix / is_suffix (UniversalUtilities.php:17-37). */
  def isPrefix(s: String, prefix: String, caseSensitive: Boolean = true): Boolean =
    if (caseSensitive) s.startsWith(prefix)
    else s.toLowerCase(Locale.ROOT).startsWith(prefix.toLowerCase(Locale.ROOT))

  /** white_out (ParseText.php:656-662): case-insensitive replace of marker
    * (and its smart-quote variants) with equal-code-point-length spaces.
    */
  def whiteOut(str: String, contd: String): String = {
    val blank = " " * mbLen(contd)
    var s = replaceIgnoreCase(str, contd, blank)
    if (contd.indexOf('\'') >= 0) {
      s = replaceIgnoreCase(s, contd.replace("'", "’"), blank)
      s = replaceIgnoreCase(s, contd.replace("'", "‘"), blank)
    }
    s
  }

  /** case-insensitive indexOf without allocating lowercase copies */
  def indexOfIgnoreCase(s: String, find: String, from: Int): Int = {
    val n = s.length
    val m = find.length
    if (m == 0) return from
    var i = from
    val last = n - m
    while (i <= last) {
      if (s.regionMatches(true, i, find, 0, m)) return i
      i += 1
    }
    -1
  }

  /** str_ireplace: ASCII-case-insensitive literal replace of all occurrences. */
  def replaceIgnoreCase(s: String, find: String, repl: String): String = {
    if (find.isEmpty) return s
    var i = indexOfIgnoreCase(s, find, 0)
    if (i < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var last = 0
    while (i >= 0) {
      sb.append(s, last, i).append(repl)
      last = i + find.length
      i = indexOfIgnoreCase(s, find, last)
    }
    sb.append(s, last, s.length)
    sb.toString
  }

  /** PHP ctype_alnum on a 1-char string. */
  def ctypeAlnum(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

  /** Collapse of blank+CR/LF runs used by the Shakespeare path
    * (ParseShakespeare.php:35,57,74,92,101): preg "[[:blank:]\r\n]+" -> " ".
    */
  def collapseBlankCrLf(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    var run = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == ' ' || c == '\t' || c == '\r' || c == '\n') { if (!run) sb.append(' '); run = true }
      else { sb.append(c); run = false }
      i += 1
    }
    sb.toString
  }

  def countOccurrences(s: String, sub: String): Int = {
    var c = 0; var i = s.indexOf(sub)
    while (i >= 0) { c += 1; i = s.indexOf(sub, i + sub.length) }
    c
  }
}
