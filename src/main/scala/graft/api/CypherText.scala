package graft.api

/** Cypher query text as [[CypherLite]] and [[CypherWrite]] scan it: the
  * one place that knows what a string literal is and how groups nest.
  *
  * A literal opens at `'` or `"` and closes at the next unescaped copy
  * of the same quote; inside it a backslash escapes the next char, and
  * an unterminated literal runs to the end of the text. Quotes, parens,
  * separators and keywords inside a literal are text, never syntax (prop
  * values hold code: `'def f(a, b): WHERE'`).
  *
  * Outside literals, `groups` names the openers a call nests over — some
  * of `([{`, each closed by its partner, all kinds counted as one depth;
  * a stray closer leaves the depth at 0. Only depth-0 text is "top
  * level". The sites really differ in their sets: a comma splits items
  * at depth 0 of `([{`, a clause keyword is found outside `{…}` bodies
  * alone, a comparison operator outside `(…)` and `[…]`.
  */
private[api] object CypherText {

  def isQuote(c: Char): Boolean = c == '\'' || c == '"'

  /** `\w` in the Unicode sense: '_' is a word char, so `n.return_type`
    * never reads as the RETURN keyword. */
  def isWordChar(c: Char): Boolean = c.isLetterOrDigit || c == '_'

  /** Index just past the literal that opens at `i` (`s(i)` is a quote),
    * or -1 when it is unterminated. */
  def literalEnd(s: String, i: Int): Int = {
    val quote = s.charAt(i)
    var j = i + 1
    while (j < s.length) {
      val c = s.charAt(j)
      if (c == '\\') j += 2
      else if (c == quote) return j + 1
      else j += 1
    }
    -1
  }

  /** The text of a quoted literal, its `\'`, `\"` and `\\` escapes
    * resolved; anything else comes back trimmed. */
  def unquote(v: String): String = {
    val t = v.trim
    if (t.length >= 2 && isQuote(t.head) && t.last == t.head)
      t.substring(1, t.length - 1).replaceAll("""\\(['"\\])""", "$1")
    else t
  }

  /** The walk every search shares: `visit(i, depth)` for each index from
    * `from` on outside the literals, where `depth` counts the open
    * groups including `s(i)` itself when it opens one; returns the first
    * index visited true, or -1. */
  private def walk(s: String, groups: String, from: Int)(
      visit: (Int, Int) => Boolean): Int = {
    var depth = 0
    var i = from
    while (i < s.length) {
      val c = s.charAt(i)
      if (isQuote(c)) {
        val end = literalEnd(s, i)
        i = if (end < 0) s.length else end
      } else {
        val shut = ")]}".indexOf(c)
        if (groups.indexOf(c) >= 0) depth += 1
        else if (shut >= 0 && groups.indexOf("([{".charAt(shut)) >= 0)
          depth = math.max(0, depth - 1)
        if (visit(i, depth)) return i
        i += 1
      }
    }
    -1
  }

  /** First top-level index from `from` on where `p` holds; -1 if none. */
  def indexWhere(s: String, groups: String, from: Int = 0)(
      p: Int => Boolean): Int =
    walk(s, groups, from)((i, depth) => depth == 0 && p(i))

  /** Every top-level index where `p` holds, ascending. */
  def indexesWhere(s: String, groups: String)(p: Int => Boolean): Seq[Int] = {
    val out = Seq.newBuilder[Int]
    walk(s, groups, 0) { (i, depth) =>
      if (depth == 0 && p(i)) out += i
      false
    }
    out.result()
  }

  /** `tok` starts at `i`, case-insensitively; a token that starts with a
    * word char must also stand as a whole word (`BRAND` holds no `AND`). */
  def tokenAt(s: String, i: Int, tok: String): Boolean =
    s.regionMatches(true, i, tok, 0, tok.length) &&
      (!isWordChar(tok.head) ||
        (i == 0 || !isWordChar(s.charAt(i - 1))) &&
          (i + tok.length >= s.length || !isWordChar(s.charAt(i + tok.length))))

  /** First top-level `tok` from `from` on; -1 if none. */
  def indexOf(s: String, tok: String, groups: String, from: Int = 0): Int =
    indexWhere(s, groups, from)(tokenAt(s, _, tok))

  /** Every top-level `tok`, ascending. */
  def indexesOf(s: String, tok: String, groups: String): Seq[Int] =
    indexesWhere(s, groups)(tokenAt(s, _, tok))

  /** The trimmed, non-empty pieces between top-level `sep`s. */
  def splitOn(s: String, sep: String, groups: String): Seq[String] = {
    val cuts = indexesOf(s, sep, groups)
    (-sep.length +: cuts).zip(cuts :+ s.length)
      .map { case (a, b) => s.substring(a + sep.length, b).trim }
      .filter(_.nonEmpty)
  }

  /** Index of the closer that ends the group opening at `open`; -1 when
    * `s(open)` opens none of `groups` or the group is unterminated. */
  def closer(s: String, open: Int, groups: String): Int =
    if (groups.indexOf(s.charAt(open)) < 0) -1
    else walk(s, groups, open)((i, depth) => depth == 0)

  /** `s` trimmed and without the groups that enclose all of it:
    * `( (a) OR b )` → `(a) OR b`. */
  def ungroup(s: String, groups: String): String = {
    val t = s.trim
    if (t.nonEmpty && closer(t, 0, groups) == t.length - 1)
      ungroup(t.substring(1, t.length - 1), groups)
    else t
  }

  /** `s` with `f` applied to each stretch outside the literals; the
    * literals stay as written. */
  def mapUnquoted(s: String)(f: String => String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val q = s.indexWhere(isQuote, i)
      val end = if (q < 0) s.length else q
      sb.append(f(s.substring(i, end)))
      i = if (q < 0) end else { val e = literalEnd(s, q); if (e < 0) s.length else e }
      sb.append(s.substring(end, i))
    }
    sb.toString
  }
}
