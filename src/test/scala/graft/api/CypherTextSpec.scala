package graft.api

import org.scalatest.funsuite.AnyFunSuite

import CypherText._

/** What [[CypherText]] answers for each scan the Cypher parser makes, on
  * one fixed table of inputs: both quote kinds with escapes, `BRAND` vs
  * `AND`, `n.return_type` vs `RETURN`, `STARTS WITH` vs clause `WITH`,
  * an `EXISTS { … }` body, `-[` vs `n.bal<-1`, an unterminated quote and
  * a stray closer. The answers were recorded from the per-site scanners
  * the object replaced. Two kinds of answer moved, each marked where it
  * is asserted: a stray closer leaves the depth at 0 everywhere (six of
  * the old scanners let it go negative, hiding all text after it), and
  * a string literal in a value expression resolves its escapes. */
class CypherTextSpec extends AnyFunSuite {

  private val inputs: Seq[String] = Seq(
    """a, 'b,c', "d,e" x""",
    """a, 'it\'s, x', "say \"hi\", y", z""",
    """x = 'a\\', y = "b" """,
    """BRAND = 'x' AND n.brand <> 'AND' OR b""",
    """n.return_type = 1 RETURN n.return_type""",
    """n.name STARTS WITH 'a' WITH n, count(*) AS c""",
    """EXISTS { MATCH (a)-[:R]->(b) WHERE a.x = 1 AND b.y = 2 } AND n.z = 3""",
    """n.bal<-1 AND a-5 > b""",
    """(a)-[:R {k: '(x)'}]->(b)<--(c), (d)-->(e)""",
    """coalesce(x, 'd') + [1, 2][0..1] | y""",
    """a, 'b, c""",
    """a) , b | c = d + [e] WITH f""",
    """x } , y AND z WHERE w""",
    """] a, b.. c""",
    """(a OR b) AND (c) {d: '}'} WHERE e""",
    """'$p' + $q, "$r" $s_1 AS b""",
    """((a) AND (b))""",
    """(a))""",
    """[x IN xs WHERE x > 1 | x * 2]""",
    """size((a)-[:R]->(b)) + COUNT { (c)-->(d) }""",
    """a.b <= 'x' AND (c) <> d""",
    """'', "" , b:c""",
    "",
    """ ( (x) ) """)

  /** A splitter's answer when nothing splits. */
  private val unsplit = inputs.map(s => Seq(s.trim).filter(_.nonEmpty))

  private val params = Map[String, Any]("q" -> "it's", "s_1" -> 1L, "p" -> "x")

  private def raises(f: => Any): Any =
    try f catch { case _: IllegalArgumentException => "raises" }

  /** `f` at the first `c` in `s`; -2 when there is none. */
  private def first(s: String, c: Char)(f: Int => Int): Int =
    if (s.indexOf(c) < 0) -2 else f(s.indexOf(c))

  /** scanNodes' walk: each top-level '(' to its closer. */
  private def spans(p: String): Any = {
    val out = Seq.newBuilder[(Int, Int)]
    var i = indexOf(p, "(", "")
    while (i >= 0) {
      val end = closer(p, i, "(")
      if (end < 0) return "unbalanced"
      out += ((i, end + 1))
      i = indexOf(p, "(", "", end + 1)
    }
    out.result()
  }

  /** CypherWrite's FOREACH substitution of `v` by `'V'`. */
  private def foreachUses(s: String, v: String): String =
    indexesWhere(s, "") { i =>
      val after = s.indexWhere(!_.isWhitespace, i + v.length)
      s.startsWith(v, i) && tokenAt(s, i, v) &&
        !(after >= 0 && s.charAt(after) == ':')
    }.foldRight(s)((i, t) => t.patch(i, "'V'", v.length))

  /** parseValueExpr's literal at the first quote: (text, end). */
  private def literal(s: String): Any = {
    val q = s.indexWhere(isQuote)
    if (q < 0) -2
    else {
      val end = literalEnd(s, q)
      if (end < 0) "unterminated" else (unquote(s.substring(q, end)), end)
    }
  }

  private def check(call: String => Any, expected: Any*): Unit = {
    assert(expected.size === inputs.size)
    inputs.zip(expected).foreach { case (in, want) =>
      withClue(s"on <$in>: ") { assert(call(in) === want) }
    }
  }

  test("items split on top-level ',' over ([{") {
    check(s => splitOn(s, ",", "([{"),
      unsplit
        .updated(0, Seq("a", "'b,c'", "\"d,e\" x"))
        .updated(1, Seq("a", "'it\\'s, x'", "\"say \\\"hi\\\", y\"", "z"))
        .updated(2, Seq("x = 'a\\\\'", "y = \"b\""))
        .updated(5, Seq("n.name STARTS WITH 'a' WITH n", "count(*) AS c"))
        .updated(8, Seq("(a)-[:R {k: '(x)'}]->(b)<--(c)", "(d)-->(e)"))
        .updated(10, Seq("a", "'b, c"))
        .updated(11, Seq("a)", "b | c = d + [e] WITH f"))
        .updated(12, Seq("x }", "y AND z WHERE w"))
        .updated(13, Seq("] a", "b.. c"))
        .updated(15, Seq("'$p' + $q", "\"$r\" $s_1 AS b"))
        .updated(21, Seq("''", "\"\"", "b:c")): _*)
  }

  test("a prop literal splits on ':' and an item on AS, over ([{") {
    check(s => splitOn(s, ":", "([{"),
      unsplit
        .updated(21, Seq("'', \"\" , b", "c")): _*)
    check(s => splitOn(s, "AS", "([{"),
      unsplit
        .updated(5, Seq("n.name STARTS WITH 'a' WITH n, count(*)", "c"))
        .updated(15, Seq("'$p' + $q, \"$r\" $s_1", "b")): _*)
  }

  test("WHERE and comprehension predicates split on AND / OR over ({") {
    check(s => splitOn(s, "AND", "({"),
      unsplit
        .updated(3, Seq("BRAND = 'x'", "n.brand <> 'AND' OR b"))
        .updated(6, Seq("EXISTS { MATCH (a)-[:R]->(b) WHERE a.x = 1 AND b.y = 2 }", "n.z = 3"))
        .updated(7, Seq("n.bal<-1", "a-5 > b"))
        .updated(12, Seq("x } , y", "z WHERE w"))
        // was Seq("x } , y AND z WHERE w")
        .updated(14, Seq("(a OR b)", "(c) {d: '}'} WHERE e"))
        .updated(20, Seq("a.b <= 'x'", "(c) <> d")): _*)
    check(s => splitOn(s, "OR", "({"),
      unsplit
        .updated(3, Seq("BRAND = 'x' AND n.brand <> 'AND'", "b")): _*)
  }

  test("clause keywords: the first and every one outside {...} bodies") {
    check(s => indexOf(s, "WHERE", "{"),
      -1, -1, -1, -1, -1, -1, -1, -1, -1, -1, -1, -1, 14, -1, 26, -1, -1, -1,
      9, -1, -1, -1, -1, -1)
    check(s => indexOf(s, "RETURN", "{"),
      -1, -1, -1, -1, 18, -1, -1, -1, -1, -1, -1, -1, -1, -1, -1, -1, -1, -1,
      -1, -1, -1, -1, -1, -1)
    check(s => indexOf(s, "AND", "{"),
      -1, -1, -1, 12, -1, -1, 57, 9, -1, -1, -1, -1, 8, -1, 9, -1, 5, -1, -1,
      -1, 11, -1, -1, -1)
    check(s => indexesOf(s, "WITH", "{"),
      Seq(), Seq(), Seq(), Seq(), Seq(), Seq(14, 23), Seq(), Seq(), Seq(),
      Seq(), Seq(), Seq(21), Seq(), Seq(), Seq(), Seq(), Seq(), Seq(), Seq(),
      Seq(), Seq(), Seq(), Seq(), Seq())
    check(s => indexesOf(s, "AND", "{"),
      Seq(), Seq(), Seq(), Seq(12), Seq(), Seq(), Seq(57), Seq(9), Seq(),
      Seq(), Seq(), Seq(), Seq(8), Seq(), Seq(9), Seq(), Seq(5), Seq(), Seq(),
      Seq(), Seq(11), Seq(), Seq(), Seq())
  }

  test("the closer of the first '(', '{' and '[' (-2: none in the text)") {
    check(s => first(s, '(')(closer(s, _, "(")),
      -2, -2, -2, -2, -2, 38, 17, -2, 2, 15, -2, -2, -2, -2, 7, -2, 12, 2, -2,
      18, 17, -2, -2, 7)
    check(s => first(s, '{')(closer(s, _, "{")),
      -2, -2, -2, -2, -2, -2, 55, -2, 17, -2, -2, -2, -2, -2, 24, -2, -2, -2,
      -2, 40, -2, -2, -2, -2)
    check(s => first(s, '[')(closer(s, _, "[")),
      -2, -2, -2, -2, -2, -2, 22, -2, 18, 24, -2, 19, -2, -2, -2, -2, -2, -2,
      28, 12, -2, -2, -2, -2)
  }

  test("ungroup strips only the parens that enclose the whole text") {
    check(s => ungroup(s, "("),
      inputs.map(_.trim).updated(16, "(a) AND (b)").updated(23, "x"): _*)
  }

  test("the first '|' and ',' over ([{, a slice's '..' over ([") {
    check(s => indexOf(s, "|", "([{"),
      -1, -1, -1, -1, -1, -1, -1, -1, -1, 32, -1,
      7,  // was -1
      -1, -1, -1, -1, -1, -1, -1, -1, -1, -1, -1, -1)
    check(s => indexOf(s, ",", "([{"),
      1, 1, 9, -1, -1, 29, -1, -1, 30, -1, 1,
      3,  // was -1
      4,  // was -1
      3,  // was -1
      -1, 9, -1, -1, -1, -1, -1, 2, -1, -1)
    check(s => indexOf(s, "..", "(["),
      -1, -1, -1, -1, -1, -1, -1, -1, -1, -1, -1, -1, -1,
      6,  // was -1
      -1, -1, -1, -1, -1, -1, -1, -1, -1, -1)
  }

  test("the first '{' and ':' outside literals") {
    check(s => indexOf(s, "{", ""),
      -1, -1, -1, -1, -1, -1, 7, -1, 8, -1, -1, -1, -1, -1, 17, -1, -1, -1,
      -1, 28, -1, -1, -1, -1)
    check(s => indexOf(s, ":", ""),
      -1, -1, -1, -1, -1, -1, 20, -1, 5, -1, -1, -1, -1, -1, 19, -1, -1, -1,
      -1, 10, -1, 10, -1, -1)
  }

  test("relationship pattern markers: '-[', '-->', '<--' but not n.bal<-1") {
    check(s => indexWhere(s, "")(i =>
        Seq("-[", "-->", "<--").exists(s.startsWith(_, i))) >= 0,
      false, false, false, false, false, false, true, false, true, false,
      false, false, false, false, false, false, false, false, false, true,
      false, false, false, false)
  }

  test("a comprehension predicate's first comparison operator over ([") {
    check(s => indexWhere(s, "([")(i => "=<>".indexOf(s.charAt(i)) >= 0),
      -1, -1, 2, 6, 14, -1, 24, 5, 20, -1, -1,
      11,  // was -1
      -1, -1, -1, -1, -1, -1, -1, 35, 4, -1, -1, -1)
  }

  test("an UNWIND list ends at the first ']' outside literals") {
    check(s => indexOf("[" + s + "] AS x", "]", ""),
      18, 34, 20, 38, 39, 45, 23, 21, 19, 25, -1, 20, 22, 1, 34, 26, 14, 5,
      29, 13, 24, 13, 1, 10)
  }

  test("node pattern spans: each top-level '(' to its closer") {
    check(s => spans(s),
      Seq(), Seq(), Seq(), Seq(), Seq(), Seq((36, 39)),
      Seq((15, 18), (25, 28)), Seq(),
      Seq((0, 3), (21, 24), (27, 30), (32, 35), (38, 41)), Seq((8, 16)),
      Seq(), Seq(), Seq(), Seq(), Seq((0, 8), (13, 16)), Seq(), Seq((0, 13)),
      Seq((0, 3)), Seq(), Seq((4, 19), (30, 33), (36, 39)), Seq((15, 18)),
      Seq(), Seq(), Seq((1, 8)))
  }

  test("a RETURN item is a value expression on an operator or '[' over ({") {
    check(s => indexWhere(s, "({")(i =>
        "[+-*/%".indexOf(s.charAt(i)) >= 0) >= 0,
      false, false, false, false, false, false, false, true, true, true,
      false,
      true,  // was false
      false, false, false, true, false, false, true, true, false, false,
      false, false)
  }

  test("parameters: inlined outside literals, and a missing binding raises") {
    check(s => raises(CypherLite.substituteParams(s, params)),
      inputs.updated(15, "'$p' + 'it\\'s', \"$r\" 1 AS b"): _*)
    check(s => raises(CypherLite.substituteParams(s, Map.empty)),
      inputs.updated(15, "raises"): _*)
  }

  test("rewrites touch only the text outside literals") {
    check(s => mapUnquoted(s)(_.replaceAll("(?i)\\bwith\\b", "W")),
      inputs.updated(5, "n.name STARTS W 'a' W n, count(*) AS c")
        .updated(11, "a) , b | c = d + [e] W f"): _*)
    check(s => foreachUses(s, "b"),
      inputs.updated(3, "BRAND = 'x' AND n.brand <> 'AND' OR 'V'")
        .updated(6, "EXISTS { MATCH (a)-[:R]->('V') WHERE a.x = 1 AND 'V'.y = 2 } AND n.z = 3")
        .updated(7, "n.bal<-1 AND a-5 > 'V'")
        .updated(8, "(a)-[:R {k: '(x)'}]->('V')<--(c), (d)-->(e)")
        .updated(11, "a) , 'V' | c = d + [e] WITH f")
        .updated(13, "] a, 'V'.. c")
        .updated(14, "(a OR 'V') AND (c) {d: '}'} WHERE e")
        .updated(15, "'$p' + $q, \"$r\" $s_1 AS 'V'")
        .updated(16, "((a) AND ('V'))")
        .updated(19, "size((a)-[:R]->('V')) + COUNT { (c)-->(d) }")
        .updated(20, "a.'V' <= 'x' AND (c) <> d"): _*)
  }

  test("a string literal's extent and text, escapes resolved") {
    check(s => literal(s),
      ("b,c", 8),
      ("it's, x", 13),  // was ("it\\", 8)
      ("a\\", 9),  // was ("a\\\\", 9)
      ("x", 11), -2, ("a", 22), -2, -2, ("(x)", 17), ("d", 15),
      "unterminated", -2, -2, -2, ("}", 24), ("$p", 4), -2, -2, -2, -2,
      ("x", 10), ("", 2), -2, -2)
  }
}
