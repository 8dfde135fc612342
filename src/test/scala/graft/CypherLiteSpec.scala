package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.api.GraphDatabase
import graft.model._

/** B10 — the reference's demo queries (graphDB.py:269-303) through the
  * CypherLite subset parser. */
class CypherLiteSpec extends AnyFunSuite {
  import TestSpark.spark

  private lazy val db = {
    val d = GraphDatabase.inMemory(spark)
    d.addNode("sklearn", Kind.Class, "m.Person", Map("name" -> "Person"))
    d.addNode("sklearn", Kind.Method, "m.Person.greet",
      Map("name" -> "greet", "signature" -> "def greet(self):", "code" -> "..."))
    d.addNode("sklearn", Kind.Module, "m", Map("name" -> "m", "file_path" -> "m.py"))
    d.addNode("sklearn", Kind.Function, "m.util", Map("name" -> "util"))
    d.addEdge("sklearn", "m.Person", Rel.HasMethod, "m.Person.greet")
    d.addEdge("sklearn", "m", Rel.Contains, "m.Person")
    d.commit()
    d
  }

  test("B2: lookup by label+prop — MATCH (c:CLASS {name:'Person'}) RETURN c") {
    val out = db.executeQuery("MATCH (c:CLASS {name: 'Person'}) RETURN c").collect()
    assert(out.length === 1)
    assert(out(0).getAs[String]("c.full_name") === "m.Person")
  }

  test("B1: point lookup within a task label") {
    val out = db.executeQuery(
      "MATCH (n:sklearn {full_name: 'm.Person'}) RETURN n.name").collect()
    assert(out.map(_.getString(0)).toSeq === Seq("Person"))
  }

  test("B6: expand with projection — methods of a class with signature") {
    val out = db.executeQuery(
      "MATCH (c:CLASS {name: 'Person'})-[:HAS_METHOD]->(m:METHOD) " +
        "RETURN m.name, m.signature, m.code").collect()
    assert(out.length === 1)
    assert(out(0).getString(0) === "greet")
    assert(out(0).getString(1) === "def greet(self):")
  }

  test("B3: expand with target prop filter and labels() projection") {
    val out = db.executeQuery(
      "MATCH (m:MODULE {full_name: 'm'})-[:CONTAINS]->(c {name: 'Person'}) " +
        "RETURN c.full_name, labels(c)").collect()
    assert(out.length === 1)
    assert(out(0).getString(0) === "m.Person")
    assert(out(0).getSeq[String](1).contains(Kind.Class))
    assert(out(0).getSeq[String](1).contains("sklearn"))
  }

  test("B7: existence predicate — WHERE exists(n.file_path)") {
    val out = db.executeQuery(
      "MATCH (n:sklearn) WHERE exists(n.file_path) RETURN n.file_path, n.full_name")
      .collect()
    assert(out.map(_.getString(1)).toSet === Set("m"))
  }

  test("B8: whole-label scan — MATCH (m:sklearn) RETURN m") {
    assert(db.executeQuery("MATCH (m:sklearn) RETURN m").count() === 4)
  }

  test("reversed arrow: (m)<-[:HAS_METHOD]-(c) matches c-HAS_METHOD->m") {
    val out = db.executeQuery(
      "MATCH (m:METHOD)<-[:HAS_METHOD]-(c:CLASS) RETURN m.full_name, c.full_name")
      .collect()
    assert(out.length === 1)
    assert(out(0).getString(0) === "m.Person.greet")
    assert(out(0).getString(1) === "m.Person")
  }

  test("multi-hop chain: module CONTAINS class HAS_METHOD method") {
    val out = db.executeQuery(
      "MATCH (mod:MODULE)-[:CONTAINS]->(c:CLASS)-[:HAS_METHOD]->(f) " +
        "RETURN mod.full_name, c.name, f.name").collect()
    assert(out.length === 1)
    assert((out(0).getString(0), out(0).getString(1), out(0).getString(2)) ===
      (("m", "Person", "greet")))
  }

  test("prop values containing commas and colons parse correctly") {
    val d2 = GraphDatabase.inMemory(spark)
    d2.addNode("t", Kind.Class, "x.C",
      Map("name" -> "a, b: c", "signature" -> "def f(a, b):"))
    d2.commit()
    val out = d2.executeQuery(
      "MATCH (n:CLASS {name: 'a, b: c', signature: 'def f(a, b):'}) RETURN n.full_name")
      .collect()
    assert(out.map(_.getString(0)).toSeq === Seq("x.C"))
  }

  test("WHERE conjunction: exists AND prop equality") {
    val out = db.executeQuery(
      "MATCH (n:sklearn) WHERE exists(n.file_path) AND n.name = 'm' " +
        "RETURN n.full_name").collect()
    assert(out.map(_.getString(0)).toSeq === Seq("m"))
  }

  test("prop values containing WHERE/RETURN keywords and escaped quotes") {
    // ADVICE r4: clause splitting was quote-blind — code/signature text
    // holding WHERE or RETURN terminated the pattern early
    val d2 = GraphDatabase.inMemory(spark)
    d2.addNode("t", Kind.Function, "x.f",
      Map("name" -> "f", "signature" -> "RETURN x WHERE y",
        "code" -> "it's a WHERE"))
    d2.commit()
    val out = d2.executeQuery(
      "MATCH (n:FUNCTION {signature: 'RETURN x WHERE y'}) RETURN n.full_name")
      .collect()
    assert(out.map(_.getString(0)).toSeq === Seq("x.f"))
    val esc = d2.executeQuery(
      """MATCH (n:FUNCTION {code: 'it\'s a WHERE'}) RETURN n.name""").collect()
    assert(esc.map(_.getString(0)).toSeq === Seq("f"))
    val w = d2.executeQuery(
      "MATCH (n:FUNCTION) WHERE n.code = 'it\\'s a WHERE' RETURN n.name").collect()
    assert(w.map(_.getString(0)).toSeq === Seq("f"))
  }

  test("snake_case identifiers containing keyword substrings parse (\\w boundary)") {
    val d2 = GraphDatabase.inMemory(spark)
    d2.addNode("t", Kind.Function, "x.f",
      Map("name" -> "f", "return_type" -> "int", "and_flag" -> "y"))
    d2.commit()
    // `return_type` must not read as the RETURN keyword, `and_flag` must
    // not split the WHERE conjunction
    val out = d2.executeQuery(
      "MATCH (n:FUNCTION) WHERE n.return_type = 'int' AND n.and_flag = 'y' " +
        "RETURN n.full_name").collect()
    assert(out.map(_.getString(0)).toSeq === Seq("x.f"))
  }

  test("prop values containing braces/parens (code snippets) parse correctly") {
    // node-pattern scanning is quote-aware: `}` / `)` inside a quoted
    // prop value must not terminate the props block or the node pattern
    val d2 = GraphDatabase.inMemory(spark)
    d2.addNode("t", Kind.Function, "x.g",
      Map("name" -> "g", "code" -> "def g(a): return {a: (a)}"))
    d2.commit()
    val out = d2.executeQuery(
      "MATCH (n:FUNCTION {code: 'def g(a): return {a: (a)}'}) RETURN n.full_name")
      .collect()
    assert(out.map(_.getString(0)).toSeq === Seq("x.g"))
  }

  test("executeQuerySafe swallows failures like the reference (-> empty)") {
    assert(db.executeQuerySafe("TOTALLY NOT CYPHER").count() === 0)
    assert(db.executeQuerySafe("MATCH (m:sklearn) RETURN m").count() === 4)
  }

  test("variable-length: (m)-[:CONTAINS*1..2]->(x) returns one row per path") {
    // m -CONTAINS-> m.Person -CONTAINS? no; build a 2-level chain:
    // m -CONTAINS-> m.Person and m.Person has no CONTAINS out-edge, so
    // *1..2 from m finds exactly the length-1 path
    val out = db.executeQuery(
      "MATCH (a {full_name: 'm'})-[:CONTAINS*1..2]->(b) RETURN b.full_name")
      .collect().map(_.getString(0)).toSeq
    assert(out === Seq("m.Person"))
    // exact-length form: *2 composes CONTAINS then CONTAINS — none here
    assert(db.executeQuery(
      "MATCH (a {full_name: 'm'})-[:CONTAINS*2]->(b) RETURN b.full_name")
      .collect().isEmpty)
    // mixed-rel 2-path via composition: CONTAINS then HAS_METHOD is NOT
    // a CONTAINS*2 path (types must all match)
    val viaBoth = db.executeQuery(
      "MATCH (a {full_name: 'm'})-[:CONTAINS]->(c)-[:HAS_METHOD]->(x) RETURN x.full_name")
      .collect().map(_.getString(0)).toSeq
    assert(viaBoth === Seq("m.Person.greet"))
  }

  test("variable-length: reversed arrow and multi-path multiplicity") {
    val d2 = GraphDatabase.inMemory(spark)
    // diamond: a -> b1 -> c, a -> b2 -> c (two length-2 paths a..c)
    d2.addEdge("t", "a", Rel.Call, "b1"); d2.addEdge("t", "b1", Rel.Call, "c")
    d2.addEdge("t", "a", Rel.Call, "b2"); d2.addEdge("t", "b2", Rel.Call, "c")
    val fwd = d2.executeQuery(
      "MATCH (x {full_name: 'a'})-[:CALL*2]->(y) RETURN y.full_name")
      .collect().map(_.getString(0)).toSeq
    assert(fwd === Seq("c", "c")) // one row PER PATH
    val rev = d2.executeQuery(
      "MATCH (y {full_name: 'c'})<-[:CALL*1..2]-(x) RETURN x.full_name")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(rev === Seq("a", "a", "b1", "b2"))
  }

  test("variable-length: relationship uniqueness stops 2-cycles repeating") {
    val d3 = GraphDatabase.inMemory(spark)
    d3.addEdge("t", "p", Rel.Call, "q"); d3.addEdge("t", "q", Rel.Call, "p")
    // p->q->p->q would reuse edge p->q; only p->q (len 1) and p->q->p
    // (len 2, two distinct edges) are valid from p
    val out = d3.executeQuery(
      "MATCH (x {full_name: 'p'})-[:CALL*1..3]->(y) RETURN y.full_name")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(out === Seq("p", "q"))
  }

  test("WHERE <> and NOT exists follow Neo4j null semantics") {
    val neq = db.executeQuery(
      "MATCH (n:sklearn) WHERE n.name <> 'Person' RETURN n.full_name")
      .collect().map(_.getString(0)).toSet
    // every node HAS a name here; Person drops, the rest stay
    assert(neq === Set("m.Person.greet", "m", "m.util"))
    // <> on a MISSING prop drops the row (null comparison), like Neo4j
    val neqMissing = db.executeQuery(
      "MATCH (n:sklearn) WHERE n.file_path <> 'nope' RETURN n.full_name")
      .collect().map(_.getString(0)).toSet
    assert(neqMissing === Set("m")) // only m has file_path at all
    val notExists = db.executeQuery(
      "MATCH (n:sklearn) WHERE NOT exists(n.file_path) RETURN n.full_name")
      .collect().map(_.getString(0)).toSet
    assert(notExists === Set("m.Person", "m.Person.greet", "m.util"))
  }

  test("WHERE IS NULL / IS NOT NULL — Neo4j's modern exists() spelling") {
    val isNull = db.executeQuery(
      "MATCH (n:sklearn) WHERE n.file_path IS NULL RETURN n.full_name")
      .collect().map(_.getString(0)).toSet
    assert(isNull === Set("m.Person", "m.Person.greet", "m.util"))
    val isNotNull = db.executeQuery(
      "MATCH (n:sklearn) WHERE n.file_path IS NOT NULL RETURN n.full_name")
      .collect().map(_.getString(0)).toSet
    assert(isNotNull === Set("m"))
    // composes with the boolean grammar and is case-insensitive
    val combo = db.executeQuery(
      "MATCH (n:sklearn) WHERE n.file_path is null AND n.name = 'util' " +
        "RETURN n.full_name").collect().map(_.getString(0)).toSet
    assert(combo === Set("m.util"))
  }

  test("relationship property patterns filter edges (incl. var-length)") {
    val d4 = GraphDatabase.inMemory(spark)
    d4.addEdge("t", "a", Rel.Call, "b", Map("via" -> "direct"))
    d4.addEdge("t", "a", Rel.Call, "c", Map("via" -> "proxy"))
    d4.addEdge("t", "b", Rel.Call, "d", Map("via" -> "direct"))
    val direct = d4.executeQuery(
      "MATCH (x {full_name: 'a'})-[:CALL {via: 'direct'}]->(y) RETURN y.full_name")
      .collect().map(_.getString(0)).toSeq
    assert(direct === Seq("b"))
    // var-length: every relationship of the path must satisfy the props
    val chain = d4.executeQuery(
      "MATCH (x {full_name: 'a'})-[:CALL*1..2 {via: 'direct'}]->(y) RETURN y.full_name")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(chain === Seq("b", "d")) // a->c (proxy) and paths through it drop
    val rev = d4.executeQuery(
      "MATCH (y)<-[:CALL {via: 'proxy'}]-(x) RETURN y.full_name")
      .collect().map(_.getString(0)).toSeq
    assert(rev === Seq("c"))
    // parens inside a quoted rel-prop value must not open a node pattern
    val d5 = GraphDatabase.inMemory(spark)
    d5.addEdge("t", "f", Rel.Call, "g", Map("signature" -> "run(x)"))
    val paren = d5.executeQuery(
      "MATCH (a)-[:CALL {signature: 'run(x)'}]->(b) RETURN b.full_name")
      .collect().map(_.getString(0)).toSeq
    assert(paren === Seq("g"))
  }

  test("WHERE function keywords are case-insensitive like Neo4j") {
    val up = db.executeQuery(
      "MATCH (n:sklearn) WHERE EXISTS(n.file_path) RETURN n.full_name")
      .collect().map(_.getString(0)).toSet
    assert(up === Set("m"))
  }

  test("RETURN count(*) and count(var) aggregate the match") {
    val out = db.executeQuery("MATCH (n:sklearn) RETURN count(*)").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(4L))
    val cnt = db.executeQuery(
      "MATCH (c:CLASS)-[:HAS_METHOD]->(m) RETURN count(m) AS n").collect()
    assert(cnt(0).getAs[Long]("n") === 1L)
  }

  test("implicit grouping: RETURN n.kind, count(*) groups by kind") {
    val out = db.executeQuery(
      "MATCH (n:sklearn) RETURN n.kind, count(*) AS n ORDER BY n DESC, n.kind")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out === Seq(("CLASS", 1L), ("FUNCTION", 1L), ("METHOD", 1L),
      ("MODULE", 1L)))
  }

  test("ORDER BY / SKIP / LIMIT shape the result like Neo4j") {
    val out = db.executeQuery(
      "MATCH (n:sklearn) RETURN n.full_name ORDER BY n.full_name LIMIT 2")
      .collect().map(_.getString(0)).toSeq
    assert(out === Seq("m", "m.Person"))
    val skipped = db.executeQuery(
      "MATCH (n:sklearn) RETURN n.full_name ORDER BY n.full_name SKIP 2 LIMIT 2")
      .collect().map(_.getString(0)).toSeq
    assert(skipped === Seq("m.Person.greet", "m.util"))
    val desc = db.executeQuery(
      "MATCH (n:sklearn) RETURN n.full_name AS fn ORDER BY fn DESC LIMIT 1")
      .collect().map(_.getString(0)).toSeq
    assert(desc === Seq("m.util"))
  }

  test("RETURN DISTINCT collapses duplicate projections") {
    val d6 = GraphDatabase.inMemory(spark)
    d6.addEdge("t", "a", Rel.Call, "x"); d6.addEdge("t", "b", Rel.Call, "x")
    d6.addNode("t", Kind.Function, "a", Map("group" -> "g1"))
    d6.addNode("t", Kind.Function, "b", Map("group" -> "g1"))
    d6.commit()
    val all = d6.executeQuery(
      "MATCH (s)-[:CALL]->(t2) RETURN s.group").collect()
    assert(all.length === 2)
    val dist = d6.executeQuery(
      "MATCH (s)-[:CALL]->(t2) RETURN DISTINCT s.group").collect()
    assert(dist.map(_.getString(0)).toSeq === Seq("g1"))
  }

  test("unsupported shapes are rejected, not silently wrong") {
    // unbounded (`*`, `*2..`) and zero-length (`*0..n`) are SUPPORTED
    // since round 10 — see the var-length tests above
    intercept[IllegalArgumentException] {
      db.executeQuery("MATCH (a)-[:X*1..99]->(b) RETURN a") // over the cap
    }
    intercept[IllegalArgumentException] {
      db.executeQuery("MATCH (a)-[:X*1..2..3]->(b) RETURN a") // malformed range
    }
    intercept[IllegalArgumentException] {
      db.executeQuery("OPTIONAL MATCH (a) RETURN a")
    }
    // undirected single hops are SUPPORTED since r15, var-length
    // undirected since r16 — see the dedicated tests above
    intercept[IllegalArgumentException] {
      // '_' is a word char: MATCH_foo must fail the keyword-boundary
      // check, same \w rule as WHERE/RETURN (ADVICE r5)
      db.executeQuery("MATCH_foo (a) RETURN a")
    }
    intercept[IllegalArgumentException] {
      // ORDER BY may reference a non-returned PROPERTY (supported), but
      // an unknown variable must still raise
      db.executeQuery("MATCH (n:sklearn) RETURN n.name ORDER BY zz.kind")
    }
    intercept[IllegalArgumentException] {
      // count(DISTINCT *) is not Cypher (r18: DISTINCT-qualified
      // aggregates are otherwise supported)
      db.executeQuery("MATCH (n:sklearn) RETURN count(DISTINCT *)")
    }
  }

  test("WHERE OR / parenthesized groups follow Cypher precedence") {
    // AND binds tighter than OR: matches Person (name) OR (util+FUNCTION)
    val out = db.executeQuery(
      "MATCH (n:sklearn) WHERE n.name = 'Person' " +
        "OR n.name = 'util' AND n.kind = 'FUNCTION' RETURN n.full_name")
      .collect().map(_.getString(0)).toSet
    assert(out === Set("m.Person", "m.util"))
    // explicit group flips the precedence: (Person OR util) AND FUNCTION
    val grouped = db.executeQuery(
      "MATCH (n:sklearn) WHERE (n.name = 'Person' OR n.name = 'util') " +
        "AND n.kind = 'FUNCTION' RETURN n.full_name")
      .collect().map(_.getString(0)).toSet
    assert(grouped === Set("m.util"))
    // NOT over a group
    val negated = db.executeQuery(
      "MATCH (n:sklearn) WHERE NOT (n.kind = 'CLASS' OR n.kind = 'METHOD') " +
        "AND exists(n.name) RETURN n.kind").collect().map(_.getString(0)).toSet
    assert(negated === Set("MODULE", "FUNCTION"))
  }

  test("WHERE: a quoted value is one whole literal; text after it is " +
      "trailing input") {
    def names(where: String) = db.executeQuery(
      s"MATCH (n:sklearn) WHERE $where RETURN n.full_name")
      .collect().map(_.getString(0)).toSet
    for (where <- Seq("n.name = 'util' } OR n.name = 'm'",
        "n.name = 'util' x", "n.name <> 'util' }", "n.name < 'util' x",
        "n.name >= \"util\" x", "n.name STARTS WITH 'u' x",
        "n.name ENDS WITH 'l' }", "n.name CONTAINS 'ti' x",
        "n.name =~ 'u.*' x", "toUpper(n.name) = 'UTIL' x",
        "size(n.name) > '3' x", "toLower(n.name) CONTAINS 'ti' }",
        "n.name IN ['util' x, 'm']"))
      withClue(where) {
        val e = intercept[IllegalArgumentException](names(where))
        assert(e.getMessage.contains("trailing input"), e.getMessage)
      }
    // whole literals, escapes included, still compare
    assert(names("n.name = 'util' OR n.name = 'm'") === Set("m", "m.util"))
    assert(names("n.name = 'it\\'s' OR n.name =~ 'ut.*'") === Set("m.util"))
    assert(names("toUpper(n.name) = \"UTIL\"") === Set("m.util"))
  }

  test("WHERE string predicates: STARTS WITH / ENDS WITH / CONTAINS / IN") {
    val starts = db.executeQuery(
      "MATCH (n:sklearn) WHERE n.full_name STARTS WITH 'm.Person' RETURN n.full_name")
      .collect().map(_.getString(0)).toSet
    assert(starts === Set("m.Person", "m.Person.greet"))
    val ends = db.executeQuery(
      "MATCH (n:sklearn) WHERE n.full_name ENDS WITH 'greet' RETURN n.full_name")
      .collect().map(_.getString(0)).toSet
    assert(ends === Set("m.Person.greet"))
    val contains = db.executeQuery(
      "MATCH (n:sklearn) WHERE n.signature CONTAINS 'self' RETURN n.full_name")
      .collect().map(_.getString(0)).toSet
    assert(contains === Set("m.Person.greet"))
    val in = db.executeQuery(
      "MATCH (n:sklearn) WHERE n.name IN ['Person', 'util'] RETURN n.full_name")
      .collect().map(_.getString(0)).toSet
    assert(in === Set("m.Person", "m.util"))
  }

  test("OPTIONAL MATCH null-extends non-matching rows (left-join semantics)") {
    // every sklearn CLASS, with its methods if any: Person has one,
    // util is a FUNCTION (excluded), module m has no HAS_METHOD
    val out = db.executeQuery(
      "MATCH (n:sklearn) OPTIONAL MATCH (n)-[:HAS_METHOD]->(mm:METHOD) " +
        "RETURN n.full_name, mm.full_name").collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).toSet
    assert(out === Set(
      ("m.Person", Some("m.Person.greet")),
      ("m.Person.greet", None),
      ("m", None),
      ("m.util", None)))
  }

  test("OPTIONAL MATCH WHERE folds into the join, not a post-filter") {
    // Neo4j attaches WHERE to the preceding MATCH: a row whose optional
    // match is filtered away null-extends instead of dropping
    val out = db.executeQuery(
      "MATCH (n:CLASS) OPTIONAL MATCH (n)-[:HAS_METHOD]->(mm) " +
        "WHERE mm.name = 'nope' RETURN n.full_name, mm.full_name").collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).toSet
    assert(out === Set(("m.Person", None)))
  }

  test("OPTIONAL MATCH WHERE pattern predicate filters the optional " +
    "side, null-extending failures") {
    // Person's method greet: positive predicate (its class CONTAINS-es
    // from m) keeps it; the NOT form filters it away but the driving
    // Person row must null-extend, never drop
    val pos = db.executeQuery(
      "MATCH (n:CLASS) OPTIONAL MATCH (n)-[:HAS_METHOD]->(mm:METHOD) " +
        "WHERE (n)<-[:CONTAINS]-({name: 'm'}) " +
        "RETURN n.full_name, mm.full_name").collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).toSet
    assert(pos === Set(("m.Person", Some("m.Person.greet"))))
    val neg = db.executeQuery(
      "MATCH (n:CLASS) OPTIONAL MATCH (n)-[:HAS_METHOD]->(mm:METHOD) " +
        "WHERE NOT (mm)<-[:HAS_METHOD]-({name: 'Person'}) " +
        "RETURN n.full_name, mm.full_name").collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).toSet
    assert(neg === Set(("m.Person", None)))
    // a pattern predicate AND a boolean remainder compose: the boolean
    // part stays in the join condition
    val mixed = db.executeQuery(
      "MATCH (n:CLASS) OPTIONAL MATCH (n)-[:HAS_METHOD]->(mm:METHOD) " +
        "WHERE (n)<-[:CONTAINS]-({name: 'm'}) AND mm.name = 'nope' " +
        "RETURN n.full_name, mm.full_name").collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).toSet
    assert(mixed === Set(("m.Person", None)))
  }

  test("second MATCH clause joins at the shared variable (inner)") {
    val out = db.executeQuery(
      "MATCH (mod:MODULE)-[:CONTAINS]->(c) MATCH (c)-[:HAS_METHOD]->(f) " +
        "RETURN mod.full_name, c.name, f.name").collect()
    assert(out.length === 1)
    assert((out(0).getString(0), out(0).getString(1), out(0).getString(2)) ===
      (("m", "Person", "greet")))
    // a later un-anchored clause is Neo4j's cartesian product, executed
    // under the loud row budget since r15 (1 CLASS x 1 MODULE here)
    val cart = db.executeQuery(
      "MATCH (a:CLASS) MATCH (b:MODULE) RETURN a.name, b.name").collect()
    assert(cart.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("Person", "m")))
  }

  test("WHERE comparisons: numeric literals cast, strings compare lexicographically") {
    val d2 = GraphDatabase.inMemory(spark)
    d2.addNode("t", Kind.Class, "a", Map("name" -> "a", "score" -> "10"))
    d2.addNode("t", Kind.Class, "b", Map("name" -> "b", "score" -> "9"))
    d2.addNode("t", Kind.Class, "c", Map("name" -> "c")) // no score
    d2.commit()
    // numeric: 9 < 10 (lexicographic would say '9' > '10'); the missing
    // prop on c compares to NULL and drops, Neo4j semantics
    val num = d2.executeQuery(
      "MATCH (n:t) WHERE n.score >= 10 RETURN n.name")
      .collect().map(_.getString(0)).toSet
    assert(num === Set("a"))
    val lt = d2.executeQuery(
      "MATCH (n:t) WHERE n.score < 10 RETURN n.name")
      .collect().map(_.getString(0)).toSet
    assert(lt === Set("b"))
    // quoted literal: lexicographic string comparison
    val lex = d2.executeQuery(
      "MATCH (n:t) WHERE n.name > 'a' RETURN n.name")
      .collect().map(_.getString(0)).toSet
    assert(lex === Set("b", "c"))
  }

  private lazy val d7 = {
    val d = GraphDatabase.inMemory(spark)
    d.addNode("t", Kind.Class, "m.A", Map("name" -> "A"))
    d.addNode("t", Kind.Class, "m.B", Map("name" -> "B"))
    d.addNode("t", Kind.Method, "m.A.f", Map("name" -> "f"))
    d.addNode("t", Kind.Method, "m.A.g", Map("name" -> "g"))
    d.addNode("t", Kind.Method, "m.B.h", Map("name" -> "h"))
    d.addEdge("t", "m.A", Rel.HasMethod, "m.A.f")
    d.addEdge("t", "m.A", Rel.HasMethod, "m.A.g")
    d.addEdge("t", "m.B", Rel.HasMethod, "m.B.h")
    d.commit()
    d
  }

  private lazy val d8 = {
    val d = GraphDatabase.inMemory(spark)
    d.addNode("t", Kind.Class, "m.A", Map("name" -> "A"))
    d.addNode("t", Kind.Method, "m.A.f", Map("name" -> "f"))
    d.addNode("t", Kind.Method, "m.A.g", Map("name" -> "g"))
    d.addEdge("t", "m.A", Rel.HasMethod, "m.A.f", Map("vis" -> "public"))
    d.addEdge("t", "m.A", Rel.HasMethod, "m.A.g", Map("vis" -> "private"))
    d.commit()
    d
  }

  test("relationship variables: r.prop, rel_type, count(r), whole-r") {
    val props = d8.executeQuery(
      "MATCH (c:CLASS)-[r:HAS_METHOD]->(m) WHERE r.vis = 'public' " +
        "RETURN m.name, r.rel_type").collect()
    assert(props.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("f", "HAS_METHOD")))
    val cnt = d8.executeQuery(
      "MATCH (c:CLASS)-[r:HAS_METHOD]->(m) RETURN c.name, count(r) AS n")
      .collect()
    assert(cnt.map(r => (r.getString(0), r.getLong(1))).toSeq === Seq(("A", 2L)))
    val whole = d8.executeQuery(
      "MATCH (c:CLASS)-[r:HAS_METHOD]->(m {name: 'g'}) RETURN r").collect()
    assert(whole.length === 1)
    assert(whole(0).getAs[String]("r.rel_type") === "HAS_METHOD")
    assert(whole(0).getAs[String]("r.dst") === "m.A.g")
  }

  test("count(DISTINCT r) counts distinct relationships, not sources") {
    // both HAS_METHOD edges share src = m.A — a src-keyed distinct
    // would collapse the grouped count to 1
    val cnt = d8.executeQuery(
      "MATCH (c:CLASS)-[r:HAS_METHOD]->(m) " +
        "RETURN c.name, count(DISTINCT r) AS n").collect()
    assert(cnt.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("A", 2L)))
    // ungrouped shape for completeness
    val all = d8.executeQuery(
      "MATCH ()-[r:HAS_METHOD]->() RETURN count(DISTINCT r) AS n").collect()
    assert(all.map(_.getLong(0)).toSeq === Seq(2L))
  }

  test("collect(x) aggregates values per group (sorted for determinism)") {
    val out = d7.executeQuery(
      "MATCH (c:CLASS)-[:HAS_METHOD]->(m) " +
        "RETURN c.name, collect(m.name) AS methods ORDER BY c.name").collect()
    assert(out.map(r => (r.getString(0), r.getSeq[String](1))).toSeq ===
      Seq(("A", Seq("f", "g")), ("B", Seq("h"))))
    // whole-variable collect gathers full_name keys
    val keys = d7.executeQuery(
      "MATCH (c:CLASS {name: 'A'})-[:HAS_METHOD]->(m) RETURN collect(m) AS ms")
      .collect()
    assert(keys(0).getSeq[String](0) === Seq("m.A.f", "m.A.g"))
  }

  test("properties(n) folds fixed columns with the props map; keys(n) " +
      "is the sorted key set") {
    val out = db.executeQuery(
      "MATCH (c:CLASS {name: 'Person'}) RETURN properties(c), keys(c)")
      .collect()
    assert(out.length === 1)
    val props = out(0).getMap[String, String](0)
    assert(props("name") === "Person")
    assert(!props.contains("code")) // unset fixed columns stay absent
    assert(out(0).getSeq[String](1) === props.keys.toSeq.sorted)
    // methods carry signature+code as fixed columns — both surface
    val m = db.executeQuery(
      "MATCH (m:METHOD) RETURN properties(m) AS p").collect()(0)
      .getMap[String, String](0)
    assert(m("signature") === "def greet(self):" && m("code") === "...")
  }

  test("class property key round-trips: write 'class' -> read 'class'") {
    // write-side vocabulary: addNode maps 'class' into the clazz column;
    // the read side must expose the SAME key — properties(n)['class'],
    // n.class, and {class: …} pattern literals all hit the clazz column
    val d = GraphDatabase.inMemory(spark)
    d.executeQuery("CREATE (m:METHOD:t {full_name: 'x.C.m', name: 'm', class: 'C'})")
    d.commit()
    val row = d.executeQuery(
      "MATCH (n:METHOD {class: 'C'}) RETURN n.class, properties(n), keys(n)")
      .collect()
    assert(row.length === 1)
    assert(row(0).getString(0) === "C")
    val props = row(0).getMap[String, String](1)
    assert(props("class") === "C")
    assert(!props.contains("clazz"))
    assert(row(0).getSeq[String](2).contains("class"))
  }

  test("relationship accessors: type(r), startNode(r), endNode(r)") {
    val out = d8.executeQuery(
      "MATCH (c:CLASS)-[r:HAS_METHOD]->(m {name: 'f'}) " +
        "RETURN type(r), startNode(r), endNode(r)").collect()
    assert(out.length === 1)
    assert(out(0).getString(0) === "HAS_METHOD")
    assert(out(0).getString(1) === "m.A")
    assert(out(0).getString(2) === "m.A.f")
    intercept[IllegalArgumentException] {
      d8.executeQuery("MATCH (c:CLASS) RETURN type(c)")
    }
  }

  test("count(r) over a var-length variable counts paths") {
    val out = d8.executeQuery(
      "MATCH (a:CLASS)-[r:HAS_METHOD*1..2]->(b) RETURN count(r) AS n")
      .collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(2L)) // A→f, A→g
  }

  test("WITH pipe: aggregate then filter (the HAVING shape)") {
    val out = d7.executeQuery(
      "MATCH (c:CLASS)-[:HAS_METHOD]->(m) WITH c, count(*) AS n " +
        "WHERE n > 1 RETURN c.name, n").collect()
    assert(out.length === 1)
    assert(out(0).getString(0) === "A")
    assert(out(0).getLong(1) === 2L)
    // post-pipe WHERE mixes an output column with a carried-variable
    // prop predicate (incl. STARTS WITH, which must not read as a pipe)
    val mixed = d7.executeQuery(
      "MATCH (c:CLASS)-[:HAS_METHOD]->(m) WITH c, count(*) AS n " +
        "WHERE n >= 1 AND c.name STARTS WITH 'B' RETURN c.name, n").collect()
    assert(mixed.map(r => (r.getString(0), r.getLong(1))).toSeq === Seq(("B", 1L)))
  }

  test("node variables named like internal aliases stay nodes everywhere") {
    // `e1`/`n2` as USER node variables: relationship-ness is decided by
    // the planner's binding (reserved __rel namespace), never by the
    // variable's spelling — e1.name must project the node column, not
    // fall through to the edge schema / props-map nulls
    val direct = d7.executeQuery(
      "MATCH (e1:CLASS {name: 'A'})-[:HAS_METHOD]->(n2) " +
        "RETURN e1.name, n2.name ORDER BY n2.name").collect()
    assert(direct.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("A", "f"), ("A", "g")))
    // carried through WITH: the struct carry + downstream .name / labels()
    val carried = d7.executeQuery(
      "MATCH (e1:CLASS)-[:HAS_METHOD]->(m) WITH e1, count(m) AS n " +
        "WHERE n > 1 RETURN e1.name, n").collect()
    assert(carried.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("A", 2L)))
  }

  test("WITH pipe: projected props, RETURN by output column, ORDER BY") {
    val out = d7.executeQuery(
      "MATCH (c:CLASS)-[:HAS_METHOD]->(m) WITH c.name AS cls, count(m) AS n " +
        "RETURN cls, n ORDER BY n DESC, cls").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("A", 2L), ("B", 1L)))
  }

  test("WITH quote-safety: STARTS WITH and quoted text never open a pipe") {
    val sw = d7.executeQuery(
      "MATCH (c:CLASS) WHERE c.name STARTS WITH 'A' RETURN c.name").collect()
    assert(sw.map(_.getString(0)).toSeq === Seq("A"))
    // ' WITH ' inside a quoted prop literal is plain text
    val lit = d7.executeQuery(
      "MATCH (c:CLASS {name: 'A WITH B'}) RETURN c.name").collect()
    assert(lit.isEmpty)
  }

  test("WITH chains: a second pipe filters the first pipe's aggregate") {
    val out = d7.executeQuery(
      "MATCH (c:CLASS)-[:HAS_METHOD]->(m) WITH c.name AS cls, count(*) AS n " +
        "WITH cls, n WHERE n > 1 RETURN cls, n").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq === Seq(("A", 2L)))
    // a rename mid-chain re-scopes the downstream references
    val renamed = d7.executeQuery(
      "MATCH (c:CLASS)-[:HAS_METHOD]->(m) WITH c, count(*) AS n " +
        "WITH c.name AS cls, n AS total WHERE total >= 1 " +
        "RETURN cls, total ORDER BY total DESC, cls").collect()
    assert(renamed.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("A", 2L), ("B", 1L)))
  }

  test("RETURN expressions: arithmetic, size(), coalesce(), toInteger()") {
    val out = db.executeQuery(
      "MATCH (c:CLASS {name: 'Person'}) RETURN c.name, size(c.name) AS ln, " +
        "1 + 2 * 3 AS seven, (4 + 6) / 2 - -1 AS six, " +
        "coalesce(c.nope, 'dflt') AS d, toInteger('41') + 1 AS n").collect()
    assert(out.length === 1)
    val r = out(0)
    assert(r.getString(0) === "Person")
    assert(r.getInt(1) === 6)
    assert(r.getLong(2) === 7L)
    // division follows Spark semantics (always double), unary minus binds
    assert(r.getDouble(3) === 6.0)
    assert(r.getString(4) === "dflt")
    assert(r.getLong(5) === 42L)
  }

  test("WITH expressions: computed columns pipe, filter, and compose") {
    val out = db.executeQuery(
      "MATCH (c:sklearn) WITH c, size(c.name) AS ln WHERE ln > 4 " +
        "RETURN c.name, ln + 1 AS lp ORDER BY lp").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("greet", 6L), ("Person", 7L)))
  }

  test("expressions raise on unknown functions and unknown names") {
    intercept[IllegalArgumentException] {
      db.executeQuery("MATCH (c:CLASS) RETURN sqrt(c.name) AS x").collect()
    }
    intercept[IllegalArgumentException] {
      db.executeQuery("MATCH (c:CLASS) RETURN ghost + 1 AS x").collect()
    }
  }

  test("WITH carry: a node variable literally named e1 stays a node") {
    // regression: carried aliases used to equal the variable name, so a
    // user variable spelled like an internal edge alias (e\d+) was
    // misresolved as a relationship downstream (fixed columns like .name
    // fell through to the props map and came back null)
    val out = d7.executeQuery(
      "MATCH (e1:CLASS)-[:HAS_METHOD]->(m) WITH e1, count(*) AS n " +
        "WHERE n > 1 RETURN e1.name, n").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq === Seq(("A", 2L)))
  }

  private lazy val d9 = {
    val d = GraphDatabase.inMemory(spark)
    d.addNode("t", Kind.Class, "m.A", Map("name" -> "A"))
    d.addNode("t", Kind.Class, "m.B", Map("name" -> "B"))
    d.addNode("t", Kind.Method, "m.A.f", Map("name" -> "f", "lines" -> "10"))
    d.addNode("t", Kind.Method, "m.A.g", Map("name" -> "g", "lines" -> "4"))
    d.addNode("t", Kind.Method, "m.B.h", Map("name" -> "h", "lines" -> "7"))
    d.addEdge("t", "m.A", Rel.HasMethod, "m.A.f")
    d.addEdge("t", "m.A", Rel.HasMethod, "m.A.g")
    d.addEdge("t", "m.B", Rel.HasMethod, "m.B.h")
    d.commit()
    d
  }

  test("numeric aggregates: sum()/avg() coerce props, implicit grouping") {
    val out = d9.executeQuery(
      "MATCH (c:CLASS)-[:HAS_METHOD]->(m) " +
        "RETURN c.name, sum(m.lines) AS total, avg(m.lines) AS mean " +
        "ORDER BY total DESC").collect()
    assert(out.map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      .toSeq === Seq(("A", 14.0, 7.0), ("B", 7.0, 7.0)))
  }

  test("min()/max() are lexicographic on the string model") {
    val out = d9.executeQuery(
      "MATCH (c:CLASS {name: 'A'})-[:HAS_METHOD]->(m) " +
        "RETURN min(m.name) AS lo, max(m.name) AS hi").collect()
    assert(out.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("f", "g")))
    // the footgun the doc calls out: "10" < "4" lexicographically —
    // numeric min is one toFloat() pipe away, not min()'s job
    val lex = d9.executeQuery(
      "MATCH (c:CLASS {name: 'A'})-[:HAS_METHOD]->(m) " +
        "RETURN min(m.lines) AS lo").collect()
    assert(lex(0).getString(0) === "10")
  }

  test("WITH pipe carries sum() and filters on it (HAVING over sums)") {
    val out = d9.executeQuery(
      "MATCH (c:CLASS)-[:HAS_METHOD]->(m) WITH c, sum(m.lines) AS total " +
        "WHERE total > 10 RETURN c.name, total").collect()
    assert(out.map(r => (r.getString(0), r.getDouble(1))).toSeq ===
      Seq(("A", 14.0)))
  }

  test("numeric aggregates raise on a whole-variable argument") {
    intercept[IllegalArgumentException] {
      d9.executeQuery(
        "MATCH (c:CLASS)-[:HAS_METHOD]->(m) RETURN c.name, sum(m) AS s")
        .collect()
    }
  }

  test("write Cypher: CREATE/MERGE/SET/promotion/DELETE route to the " +
      "typed write API with reference semantics") {
    DatabaseArms.inMemory { d =>
      // CREATE with kind+task labels and props (py2neo create spelling)
      assert(d.executeQuery(
        "CREATE (n:CLASS:tw {full_name: 'm.A', name: 'A'})").count() === 0)
      // MERGE + SET upserts props on the same key (add_node's update path)
      d.executeQuery("MERGE (n:CLASS:tw {full_name: 'm.A'}) SET n.code = 'class A:'")
      // edge MERGE stubs the unknown endpoint as `none` (A4)
      d.executeQuery(
        "MERGE (a:tw {full_name: 'm.A'})-[:INHERITS]->(b {full_name: 'm.B'})")
      val kinds = d.nodes.select("full_name", "kind")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(kinds === Map("m.A" -> Kind.Class, "m.B" -> Kind.None_))
      // explicit promotion Cypher (graphDB.py:86-88): none → CLASS
      d.executeQuery(
        "MATCH (n:none {full_name: 'm.B'}) REMOVE n:none SET n:CLASS")
      assert(d.nodes.filter(col("full_name") === "m.B")
        .select("kind").head().getString(0) === Kind.Class)
      // a second promotion attempt is a no-op (kind is no longer none)
      d.executeQuery(
        "MATCH (n:none {full_name: 'm.B'}) REMOVE n:none SET n:METHOD")
      assert(d.nodes.filter(col("full_name") === "m.B")
        .select("kind").head().getString(0) === Kind.Class)
      // MATCH-SET is A3: existing node patches, missing node is a NO-OP
      d.executeQuery("MATCH (n {full_name: 'm.A'}) SET n.sig = 'x', n.v = '2'")
      d.executeQuery("MATCH (n {full_name: 'm.GHOST'}) SET n.v = '9'")
      assert(d.nodes.count() === 2)
      val aProps = d.executeQuery(
        "MATCH (n:tw {full_name: 'm.A'}) RETURN n.code, n.sig, n.v").head()
      assert((aProps.getString(0), aProps.getString(1), aProps.getString(2))
        === (("class A:", "x", "2")))
      // task-scoped DETACH DELETE clears the task's nodes (A5)
      d.executeQuery("MATCH (n:`tw`) DETACH DELETE n")
      assert(d.nodes.count() === 0)
      // full clear (A6)
      d.executeQuery("CREATE (n:CLASS:tw2 {full_name: 'm.C'})")
      d.executeQuery("MATCH (n) DETACH DELETE n")
      assert(d.nodes.count() === 0)
    }
  }

  private lazy val dsp = {
    val d = GraphDatabase.inMemory(spark)
    // a diamond with a long detour: shortest a->e is 2 via either arm,
    // the 3-hop detour must NOT win; f is reachable only backwards
    d.addNode("t", Kind.Module, "a", Map("name" -> "a"))
    d.addNode("t", Kind.Module, "b", Map("name" -> "b"))
    d.addNode("t", Kind.Module, "c", Map("name" -> "c"))
    d.addNode("t", Kind.Module, "e", Map("name" -> "e"))
    d.addNode("t", Kind.Module, "f", Map("name" -> "f"))
    d.addEdge("t", "a", Rel.Contains, "b")
    d.addEdge("t", "a", Rel.Uses, "c")
    d.addEdge("t", "b", Rel.Contains, "e")
    d.addEdge("t", "c", Rel.Contains, "e")
    d.addEdge("t", "b", Rel.Contains, "c") // detour edge
    d.addEdge("t", "f", Rel.Contains, "a") // only f->a, never a->f
    d.commit()
    d
  }

  test("shortestPath: unbounded * BFS returns min hops per endpoint") {
    val out = dsp.executeQuery(
      "MATCH p = shortestPath((a {full_name: 'a'})-[:CONTAINS*]->(b)) " +
        "RETURN b.full_name AS v, length(p) AS d ORDER BY v").collect()
    // CONTAINS only: a->b (1), a->b->c (2, detour arm), a->b->e (2);
    // f unreachable forward; a itself excluded (min 1 hop)
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("b", 1L), ("c", 2L), ("e", 2L)))
  }

  test("spath BFS driver kernel ≡ the distributed frontier loop " +
      "(spark.graft.localThreshold = 0 forces the loop)") {
    val qs = Seq(
      "MATCH p = shortestPath((a {full_name: 'a'})-[:CONTAINS*]->(b)) " +
        "RETURN b.full_name AS v, nodes(p) AS ns, relationships(p) AS rs " +
        "ORDER BY v",
      "MATCH p = allShortestPaths((a {full_name: 'a'})-[:CONTAINS*]->(b)) " +
        "RETURN b.full_name AS v, length(p) AS d ORDER BY v, d",
      // reversed and undirected searches walk a flipped and a two-way
      // traversal frame; both reconstruct physical relationships
      "MATCH p = shortestPath((a {full_name: 'e'})<-[:CONTAINS*]-(b)) " +
        "RETURN b.full_name AS v, nodes(p) AS ns, relationships(p) AS rs " +
        "ORDER BY v",
      "MATCH p = shortestPath((a {full_name: 'e'})-[:CONTAINS*]-(b)) " +
        "RETURN b.full_name AS v, length(p) AS d, nodes(p) AS ns, " +
        "relationships(p) AS rs ORDER BY v",
      // every shortest path, reconstructed over the layered DAG
      "MATCH p = allShortestPaths((a {full_name: 'a'})-[:CONTAINS|USES*]->" +
        "(b)) RETURN b.full_name AS v, head(tail(nodes(p))) AS mid, " +
        "nodes(p) AS ns, relationships(p) AS rs ORDER BY v, mid")
    for (q <- qs) {
      val local = dsp.executeQuery(q).collect().map(_.toSeq).toSeq
      val dist = IngestArms.under(IngestArms.Distributed)(
        dsp.executeQuery(q).collect().map(_.toSeq).toSeq)
      assert(local === dist, q)
    }
  }

  test("shortest-path counts past Long range: shortestPath answers and " +
      "allShortestPaths raises its cap, on both BFS arms") {
    // a feeds layer 0; 17 layers of 16 vertices, each wired fully to
    // the next: 16^16 = 2^64 shortest paths reach layer 16
    val d = GraphDatabase.inMemory(spark)
    for (j <- 0 until 16) d.addEdge("t", "a", Rel.Call, s"L0.$j")
    for (l <- 0 until 16; i <- 0 until 16; j <- 0 until 16)
      d.addEdge("t", s"L$l.$i", Rel.Call, s"L${l + 1}.$j")
    d.commit()
    def search(kw: String) = d.executeQuery(
      s"MATCH p = $kw((a {full_name: 'a'})-[:CALL*]->" +
        "(b {full_name: 'L16.0'})) RETURN length(p) AS d").collect()
    for (arm <- Seq(IngestArms.Driver, IngestArms.Distributed))
      withClue(s"${arm.name}: ")(IngestArms.under(arm) {
        assert(search("shortestPath").map(_.getLong(0)).toSeq === Seq(17L))
        intercept[IllegalArgumentException](search("allShortestPaths"))
      })
  }

  test("shortestPath: rel-type alternation widens the frontier") {
    val out = dsp.executeQuery(
      "MATCH p = shortestPath((a {full_name: 'a'})-[:CONTAINS|USES*]->(b)) " +
        "RETURN b.full_name AS v, length(p) AS d ORDER BY v").collect()
    // USES opens a->c directly: c now at 1, e still 2
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("b", 1L), ("c", 1L), ("e", 2L)))
  }

  test("shortestPath: reversed arrow, bounds, WHERE, and end labels") {
    val rev = dsp.executeQuery(
      "MATCH p = shortestPath((a {full_name: 'e'})<-[:CONTAINS*]-(b)) " +
        "RETURN b.full_name AS v, length(p) AS d ORDER BY v").collect()
    // into e: b(1), c(1), a(2 via either arm), f(3)
    assert(rev.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("a", 2L), ("b", 1L), ("c", 1L), ("f", 3L)))
    // *2.. lower bound drops the 1-hop rows; WHERE filters on props
    val bounded = dsp.executeQuery(
      "MATCH p = shortestPath((a {full_name: 'e'})<-[:CONTAINS*2..]-(b)) " +
        "WHERE b.name <> 'f' RETURN b.full_name AS v, length(p) AS d")
      .collect()
    assert(bounded.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("a", 2L)))
    // aggregates compose over length(p)
    val agg = dsp.executeQuery(
      "MATCH p = shortestPath((a {full_name: 'e'})<-[:CONTAINS*]-(b)) " +
        "RETURN max(length(p)) AS deepest").collect()
    assert(agg(0).getLong(0) === 3L)
  }

  test("plain bounded var-length still enumerates paths (not shortest)") {
    // the detour means TWO distinct a~>e paths of lengths 2 and 3: path
    // multiplicity is the non-shortestPath contract (one row per path)
    val out = dsp.executeQuery(
      "MATCH (a {full_name: 'a'})-[:CONTAINS*1..4]->(b {full_name: 'e'}) " +
        "RETURN count(*) AS n").collect()
    assert(out(0).getLong(0) === 2L)
  }

  test("write Cypher rejects malformed writes instead of reading them") {
    DatabaseArms.inMemory { d =>
      // node write without a task label
      intercept[IllegalArgumentException] {
        d.executeQuery("CREATE (n:CLASS {full_name: 'm.X'})")
      }
      // parameterized statement
      intercept[IllegalArgumentException] {
        d.executeQuery(
          "MATCH (n:none {full_name: $full_name}) REMOVE n:none SET n:CLASS")
      }
      // DETACH DELETE by kind label
      intercept[IllegalArgumentException] {
        d.executeQuery("MATCH (n:CLASS) DETACH DELETE n")
      }
      // write keyword head with unsupported body
      intercept[IllegalArgumentException] {
        d.executeQuery("MERGE (a)-[:R]->(b) ON CREATE SET a.x = '1'")
      }
    }
  }

  test("WITH pipes shape with ORDER BY / SKIP / LIMIT before WHERE") {
    // top-1 class by method count, then continue the pipeline
    val top = d7.executeQuery(
      "MATCH (c:CLASS)-[:HAS_METHOD]->(m) " +
        "WITH c, count(*) AS n ORDER BY n DESC, c.name ASC LIMIT 1 " +
        "RETURN c.name, n").collect()
    assert(top.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("A", 2L)))
    // SKIP past the top row
    val second = d7.executeQuery(
      "MATCH (c:CLASS)-[:HAS_METHOD]->(m) " +
        "WITH c, count(*) AS n ORDER BY n DESC, c.name ASC SKIP 1 " +
        "RETURN c.name, n").collect()
    assert(second.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("B", 1L)))
    // Cypher's clause order: LIMIT applies BEFORE the trailing WHERE —
    // the kept top-1 row (A, n=2) fails n < 2, so nothing survives; the
    // wrong WHERE-then-LIMIT reading would keep B's row (n=1) instead
    val none = d7.executeQuery(
      "MATCH (c:CLASS)-[:HAS_METHOD]->(m) " +
        "WITH c, count(*) AS n ORDER BY n DESC, c.name ASC LIMIT 1 " +
        "WHERE n < 2 RETURN c.name, n").collect()
    assert(none.isEmpty)
  }

  test("WITH raises on un-aliased expressions") {
    intercept[IllegalArgumentException] {
      d7.executeQuery(
        "MATCH (c:CLASS)-[:HAS_METHOD]->(m) WITH c.name, count(*) AS n RETURN n")
    }
  }

  // ------------------------------------------------------ parameters ($x)

  test("parameters: $full_name in a prop literal (graphDB.py:86-91 shape)") {
    val out = db.executeQuery(
      "MATCH (n:sklearn {full_name: $full_name}) RETURN n.name",
      Map("full_name" -> "m.Person")).collect()
    assert(out.map(_.getString(0)).toSeq === Seq("Person"))
  }

  test("parameters: string escaping round-trips quotes and backslashes") {
    val d = GraphDatabase.inMemory(spark)
    d.addNode("t", Kind.Function, "m.f",
      Map("name" -> "f", "signature" -> """def f(x="it's a \ test"):"""))
    d.commit()
    val out = d.executeQuery(
      "MATCH (n:t) WHERE n.signature = $sig RETURN n.full_name",
      Map("sig" -> """def f(x="it's a \ test"):""")).collect()
    assert(out.map(_.getString(0)).toSeq === Seq("m.f"))
  }

  test("parameters: numbers compare numerically, lists drive IN") {
    val d = GraphDatabase.inMemory(spark)
    d.addNode("t", Kind.Function, "m.a", Map("name" -> "a", "arity" -> "2"))
    d.addNode("t", Kind.Function, "m.b", Map("name" -> "b", "arity" -> "10"))
    d.commit()
    // numeric $min: 10 > 9 numerically (lexicographically "10" < "9")
    val nums = d.executeQuery(
      "MATCH (n:t) WHERE n.arity > $min RETURN n.name",
      Map("min" -> 9)).collect()
    assert(nums.map(_.getString(0)).toSeq === Seq("b"))
    val in = d.executeQuery(
      "MATCH (n:t) WHERE n.name IN $names RETURN n.full_name",
      Map("names" -> Seq("a", "zzz"))).collect()
    assert(in.map(_.getString(0)).toSeq === Seq("m.a"))
  }

  test("parameters: $ inside quoted text is literal; missing binding raises") {
    val d = GraphDatabase.inMemory(spark)
    d.addNode("t", Kind.Function, "m.f", Map("name" -> "$price"))
    d.commit()
    // the quoted '$price' is text, not a parameter — no binding needed
    val out = d.executeQuery(
      "MATCH (n:t {name: '$price'}) RETURN n.full_name", Map.empty[String, Any])
      .collect()
    assert(out.map(_.getString(0)).toSeq === Seq("m.f"))
    intercept[IllegalArgumentException] {
      d.executeQuery("MATCH (n:t {name: $nope}) RETURN n", Map.empty[String, Any])
    }
    // executeQuerySafe swallows it (the reference's posture)
    assert(d.executeQuerySafe("MATCH (n:t {name: $nope}) RETURN n",
      Map.empty[String, Any]).isEmpty)
  }

  test("parameters: a parameterized WRITE routes through CypherWrite") {
    DatabaseArms.inMemory { d =>
      d.executeQuery("CREATE (n:t:FUNCTION {full_name: $fn, name: $nm})",
        Map("fn" -> "m.g", "nm" -> "g"))
      val out = d.executeQuery("MATCH (n:t) RETURN n.full_name, n.name").collect()
      assert(out.map(r => (r.getString(0), r.getString(1))).toSeq ===
        Seq(("m.g", "g")))
      // the no-params overload must NOT treat $fn as literal text
      intercept[IllegalArgumentException] {
        d.executeQuery("CREATE (n:t:FUNCTION {full_name: $fn})")
      }
    }
  }

  // ------------------------------------------- backticked labels, anon nodes

  test("backticked labels: the reference's own demo spelling") {
    // graphDB.py:271-274: MATCH (c:`sklearn`:CLASS {name: 'Person'}) RETURN c
    val out = db.executeQuery(
      "MATCH (c:`sklearn`:CLASS {name: 'Person'}) RETURN c").collect()
    assert(out.length === 1)
    assert(out(0).getAs[String]("c.full_name") === "m.Person")
  }

  test("backticked labels hold slashes (project_cc_python/102-style task ids)") {
    val d = GraphDatabase.inMemory(spark)
    d.addNode("project_cc_python/102", Kind.Class, "m.C", Map("name" -> "C"))
    d.commit()
    val out = d.executeQuery(
      "MATCH (c:`project_cc_python/102`:CLASS) RETURN c.full_name").collect()
    assert(out.map(_.getString(0)).toSeq === Seq("m.C"))
  }

  // --------------------------------------------------------- UNION / UNWIND

  test("UNION dedups across branches; UNION ALL keeps multiplicity") {
    val both = db.executeQuery(
      "MATCH (c:CLASS) RETURN c.full_name UNION MATCH (m:MODULE)-[:CONTAINS]->(c) " +
        "RETURN c.full_name").collect()
    // m.Person appears in both branches — UNION dedups to one row
    assert(both.map(_.getString(0)).toSeq === Seq("m.Person"))
    val all = db.executeQuery(
      "MATCH (c:CLASS) RETURN c.full_name UNION ALL MATCH (m:MODULE)-[:CONTAINS]->(c) " +
        "RETURN c.full_name").collect()
    assert(all.map(_.getString(0)).sorted.toSeq === Seq("m.Person", "m.Person"))
  }

  test("UNION raises on mismatched columns and on mixed UNION/UNION ALL") {
    intercept[IllegalArgumentException] {
      db.executeQuery("MATCH (c:CLASS) RETURN c.name UNION MATCH (c:CLASS) RETURN c.full_name")
    }
    intercept[IllegalArgumentException] {
      db.executeQuery(
        "MATCH (c:CLASS) RETURN c.name UNION MATCH (c:CLASS) RETURN c.name " +
          "UNION ALL MATCH (c:CLASS) RETURN c.name")
    }
  }

  test("UNWIND drives batch point-lookups (the $list + UNWIND idiom)") {
    val out = db.executeQuery(
      "UNWIND $keys AS k MATCH (n:sklearn) WHERE n.full_name = k RETURN n.name",
      Map("keys" -> Seq("m.Person", "m.util", "nope"))).collect()
    assert(out.map(_.getString(0)).sorted.toSeq === Seq("Person", "util"))
  }

  test("UNWIND multiplies rows per list element and projects the variable") {
    val out = db.executeQuery(
      "UNWIND ['a', 'b'] AS tag MATCH (c:CLASS) RETURN c.name, tag").collect()
    assert(out.map(r => (r.getString(0), r.getString(1))).toSet ===
      Set(("Person", "a"), ("Person", "b")))
  }

  test("bare UNWIND … RETURN (no MATCH) with aggregation") {
    val out = db.executeQuery(
      "UNWIND [3, 1, 2] AS x RETURN count(x) AS n").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(3L))
    val rows = db.executeQuery("UNWIND ['p', 'q'] AS x RETURN x").collect()
    assert(rows.map(_.getString(0)).sorted.toSeq === Seq("p", "q"))
    // a ']' inside a quoted element is text, not the list's end
    val quoted = db.executeQuery("UNWIND ['a]', 'b'] AS x RETURN x").collect()
    assert(quoted.map(_.getString(0)).sorted.toSeq === Seq("a]", "b"))
    // elements are literals: a nested list raises rather than unwinding
    // the strings '[1,2]' and '[3]'
    intercept[IllegalArgumentException] {
      db.executeQuery("UNWIND [[1,2],[3]] AS x RETURN x").collect()
    }
  }

  test("escaped quotes: value-expression literals and string parameters") {
    // `$p` renders as 'it\'s ': the same literal, both spellings
    val p = Map("p" -> "it's ")
    val shapes = Seq[(String, String, Any)](
      ("$p + n.name", "'it\\'s ' + n.name", "it's util"),
      ("n.name + $p", "n.name + 'it\\'s '", "utilit's "),
      ("coalesce(n.code, $p)", "coalesce(n.code, 'it\\'s ')", "it's "),
      ("size($p)", "size('it\\'s ')", 5),
      ("CASE WHEN n.name = 'util' THEN $p ELSE 'x' END",
        "CASE WHEN n.name = 'util' THEN 'it\\'s ' ELSE 'x' END", "it's "),
      ("[$p, 'b']", "['it\\'s ', 'b']", Seq("it's ", "b")))
    for ((param, literal, want) <- shapes; item <- Seq(param, literal))
      withClue(item) {
        val out = db.executeQuery(
          s"MATCH (n {full_name: 'm.util'}) RETURN $item AS v", p).collect()
        assert(out.map(_.get(0)).toSeq === Seq(want))
      }
  }

  test("a stray closer in a scanned expression still raises") {
    // each query puts a stray closer before the text one scan looks for
    // (a comprehension's '|' and WHERE operator, reduce's ',', a slice's
    // '..', a RETURN item's operator)
    for (q <- Seq(
        "RETURN [x IN [1, 2]) | x] AS v",
        "RETURN [x IN [1, 2] WHERE x) > 1] AS v",
        "RETURN reduce(acc = 0], x IN [1, 2] | acc + x) AS v",
        "RETURN [1, 2, 3][0)..2] AS v",
        "RETURN n.name) + 1 AS v"))
      withClue(q) {
        intercept[IllegalArgumentException] {
          db.executeQuery(s"MATCH (n {full_name: 'm.util'}) $q").collect()
        }
      }
  }

  test("property-to-property comparison: WHERE a.name = b.name") {
    val d = GraphDatabase.inMemory(spark)
    d.addNode("t", Kind.Class, "p.C", Map("name" -> "C"))
    d.addNode("t", Kind.Class, "q.C", Map("name" -> "C"))
    d.addNode("t", Kind.Class, "q.D", Map("name" -> "D"))
    d.addEdge("t", "p.C", Rel.Inherits, "q.C")
    d.addEdge("t", "p.C", Rel.Inherits, "q.D")
    d.commit()
    val out = d.executeQuery(
      "MATCH (a:CLASS)-[:INHERITS]->(b:CLASS) WHERE a.name = b.name " +
        "RETURN a.full_name, b.full_name").collect()
    assert(out.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("p.C", "q.C")))
  }

  // -------------------------------------- zero-length / unbounded var-length

  private lazy val chainDb = {
    // a -> b -> c -> d  plus a diamond a -> x -> c
    val d = GraphDatabase.inMemory(spark)
    Seq("a", "b", "c", "dd", "x").foreach(n =>
      d.addNode("t", Kind.Class, n, Map("name" -> n)))
    Seq("a" -> "b", "b" -> "c", "c" -> "dd", "a" -> "x", "x" -> "c")
      .foreach { case (s, t) => d.addEdge("t", s, Rel.Inherits, t) }
    d.commit()
    d
  }

  test("var-length relationship variable: size(r)/length(r) read the " +
    "hop count per path") {
    // paths a→…→c: a-b-c (2 hops) and a-x-c (2 hops); a→…→dd: two
    // 3-hop paths through b-c and x-c
    val out = chainDb.executeQuery(
      "MATCH (s:CLASS {name: 'a'})-[r:INHERITS*1..3]->(t) " +
        "RETURN t.name AS n, size(r) AS hops ORDER BY n, hops").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq === Seq(
      ("b", 1L), ("c", 2L), ("c", 2L), ("dd", 3L), ("dd", 3L), ("x", 1L)))
    // single-hop named rel: size(r) is 1
    val one = chainDb.executeQuery(
      "MATCH (s:CLASS {name: 'a'})-[r:INHERITS]->(t) " +
        "RETURN t.name AS n, length(r) AS hops ORDER BY n").collect()
    assert(one.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("b", 1L), ("x", 1L)))
  }

  test("relationship variables carry through WITH (explicit and *)") {
    val out = chainDb.executeQuery(
      "MATCH (s:CLASS {name: 'a'})-[r:INHERITS*2..3]->(t) " +
        "WITH t, r WHERE t.name = 'dd' " +
        "RETURN t.name AS n, size(r) AS hops ORDER BY hops").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("dd", 3L), ("dd", 3L)))
    // WITH * keeps the relationship too; single-hop r.rel_type survives
    val star = chainDb.executeQuery(
      "MATCH (s:CLASS {name: 'a'})-[r:INHERITS]->(t) " +
        "WITH * RETURN t.name AS n, r.rel_type AS rt ORDER BY n").collect()
    assert(star.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("b", "INHERITS"), ("x", "INHERITS")))
  }

  test("zero-length *0..1: binds the same node at zero hops") {
    val out = chainDb.executeQuery(
      "MATCH (s:CLASS {name: 'a'})-[:INHERITS*0..1]->(t) RETURN t.name").collect()
    // zero hops → a itself; one hop → b and x
    assert(out.map(_.getString(0)).sorted.toSeq === Seq("a", "b", "x"))
  }

  test("unbounded *: fixpoint enumerates every simple-edge path") {
    val out = chainDb.executeQuery(
      "MATCH (s:CLASS {name: 'a'})-[:INHERITS*]->(t) RETURN t.name").collect()
    // paths from a: b, c(2 ways), dd(2 ways), x → 6 paths
    assert(out.map(_.getString(0)).sorted.toSeq ===
      Seq("b", "c", "c", "dd", "dd", "x"))
  }

  test("unbounded * terminates on cycles (edge uniqueness) ") {
    val d = GraphDatabase.inMemory(spark)
    Seq("p", "q").foreach(n => d.addNode("t", Kind.Class, n, Map("name" -> n)))
    d.addEdge("t", "p", Rel.Inherits, "q")
    d.addEdge("t", "q", Rel.Inherits, "p")
    d.commit()
    val out = d.executeQuery(
      "MATCH (s:CLASS {name: 'p'})-[:INHERITS*]->(t) RETURN t.name").collect()
    // p->q (1 hop) and p->q->p (2 hops, both edges used once) — then stop
    assert(out.map(_.getString(0)).sorted.toSeq === Seq("p", "q"))
  }

  test("*2.. lower-bounded unbounded spec") {
    val out = chainDb.executeQuery(
      "MATCH (s:CLASS {name: 'a'})-[:INHERITS*2..]->(t) RETURN t.name").collect()
    assert(out.map(_.getString(0)).sorted.toSeq === Seq("c", "c", "dd", "dd"))
  }

  test("anonymous node patterns: () and (:LABEL) bind no variable") {
    // classes that contain at least one method — the target stays anonymous
    val out = db.executeQuery(
      "MATCH (c:CLASS)-[:HAS_METHOD]->(:METHOD) RETURN c.full_name").collect()
    assert(out.map(_.getString(0)).toSeq === Seq("m.Person"))
    val any = db.executeQuery(
      "MATCH (m:MODULE)-[:CONTAINS]->() RETURN m.full_name").collect()
    assert(any.map(_.getString(0)).toSeq === Seq("m"))
  }

  // ------------------------------- DISTINCT aggregates / CASE / pattern preds

  test("count(DISTINCT …) vs count(…) over var-length duplicate rows") {
    val out = chainDb.executeQuery(
      "MATCH (s:CLASS {name: 'a'})-[:INHERITS*]->(t) " +
        "RETURN count(t) AS paths, count(DISTINCT t) AS targets").collect()
    assert(out.length === 1)
    assert(out(0).getAs[Long]("paths") === 6L)
    assert(out(0).getAs[Long]("targets") === 4L)
  }

  test("collect(DISTINCT x) is the sorted set variant") {
    val out = chainDb.executeQuery(
      "MATCH (s:CLASS {name: 'a'})-[:INHERITS*]->(t) " +
        "RETURN collect(DISTINCT t.name) AS names").collect()
    assert(out(0).getSeq[String](0).toSeq === Seq("b", "c", "dd", "x"))
  }

  test("count(DISTINCT …) through a WITH pipe") {
    val out = chainDb.executeQuery(
      "MATCH (s:CLASS)-[:INHERITS]->(t) " +
        "WITH s, count(DISTINCT t.name) AS fanout WHERE fanout > 1 " +
        "RETURN s.name AS src, fanout").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq === Seq(("a", 2L)))
  }

  test("generic CASE WHEN in RETURN; missing ELSE yields null") {
    val out = db.executeQuery(
      "MATCH (n:sklearn) RETURN n.full_name AS fn, " +
        "CASE WHEN n.kind = 'CLASS' THEN 'type' " +
        "WHEN n.kind = 'METHOD' OR n.kind = 'FUNCTION' THEN 'callable' " +
        "END AS grp ORDER BY fn").collect()
    val got = out.map(r => (r.getString(0), r.getString(1))).toMap
    assert(got("m.Person") === "type")
    assert(got("m.Person.greet") === "callable")
    assert(got("m.util") === "callable")
    assert(got("m") === null) // MODULE: no arm, no ELSE
  }

  test("simple-form CASE with operand, arithmetic THEN values, in WITH") {
    val out = db.executeQuery(
      "MATCH (n:sklearn) " +
        "WITH CASE n.kind WHEN 'CLASS' THEN 10 WHEN 'METHOD' THEN 2 + 3 " +
        "ELSE 0 END AS w RETURN sum(w) AS total").collect()
    assert(out(0).getDouble(0) === 15.0)
  }

  test("CASE as an implicit grouping key with count") {
    val out = db.executeQuery(
      "MATCH (n:sklearn) RETURN " +
        "CASE WHEN n.kind = 'MODULE' THEN 'mod' ELSE 'sym' END AS side, " +
        "count(n) AS cnt ORDER BY side").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("mod", 1L), ("sym", 3L)))
  }

  test("nested CASE composes: THEN and ELSE arms recurse") {
    // outer discriminates module vs symbol; the symbol arm nests a
    // second CASE on the kind, the module arm nests one in ELSE
    val out = db.executeQuery(
      "MATCH (n:sklearn) RETURN n.full_name AS fn, " +
        "CASE WHEN n.kind = 'MODULE' " +
        "THEN CASE WHEN n.name = 'm' THEN 'root-mod' ELSE 'sub-mod' END " +
        "ELSE CASE n.kind WHEN 'CLASS' THEN 'type' " +
        "WHEN 'METHOD' THEN 'member' ELSE 'other' END " +
        "END AS grp ORDER BY fn").collect()
    val got = out.map(r => (r.getString(0), r.getString(1))).toMap
    assert(got("m") === "root-mod")
    assert(got("m.Person") === "type")
    assert(got("m.Person.greet") === "member")
    assert(got("m.util") === "other") // FUNCTION: inner simple-form ELSE
    // a still-unbalanced CASE (no matching END) raises
    intercept[IllegalArgumentException] {
      db.executeQuery("MATCH (n:sklearn) RETURN CASE WHEN n.kind = 'X' " +
        "THEN CASE WHEN n.name = 'y' THEN 1 END AS z")
    }
  }

  test("positive pattern predicate: semi-join keeps matching rows") {
    val out = db.executeQuery(
      "MATCH (n:sklearn) WHERE (n)-[:CONTAINS]->({name: 'Person'}) " +
        "RETURN n.full_name").collect()
    assert(out.map(_.getString(0)).toSeq === Seq("m"))
  }

  test("NOT pattern predicate: anti-join drops matching rows") {
    val out = db.executeQuery(
      "MATCH (n:sklearn) WHERE NOT (n)-[:HAS_METHOD]->() RETURN n.full_name")
      .collect()
    assert(out.map(_.getString(0)).sorted.toSeq ===
      Seq("m", "m.Person.greet", "m.util"))
  }

  test("pattern predicate mixes with ordinary conjuncts and later clauses") {
    val out = db.executeQuery(
      "MATCH (mod:MODULE)-[:CONTAINS]->(c) " +
        "WHERE (c)-[:HAS_METHOD]->(:METHOD) AND exists(c.name) " +
        "RETURN c.name").collect()
    assert(out.map(_.getString(0)).toSeq === Seq("Person"))
  }

  test("pattern predicate referencing TWO bound variables") {
    // (mod)-[:CONTAINS]->(c) as a predicate with both ends bound
    val out = db.executeQuery(
      "MATCH (mod:MODULE) MATCH (mod)-[:CONTAINS]->(c:CLASS) " +
        "WHERE (mod)-[:CONTAINS]->(c) RETURN mod.full_name, c.name").collect()
    assert(out.length === 1)
  }

  test("pattern predicate under OR filters as a disjunction (r18 — " +
      "was the raising posture through r17)") {
    val out = db.executeQuery("MATCH (n:sklearn) " +
      "WHERE (n)-[:HAS_METHOD]->() OR n.name = 'm' " +
      "RETURN n.full_name AS fn ORDER BY fn").collect()
    // m.Person via the pattern side, m via the boolean side
    assert(out.map(_.getString(0)).toSeq === Seq("m", "m.Person"))
  }

  test("pattern predicate with an unbound named variable raises") {
    intercept[IllegalArgumentException] {
      db.executeQuery("MATCH (n:sklearn) WHERE (z)-[:CONTAINS]->() " +
        "RETURN n.full_name")
    }
  }

  // ----------------------------------------- RETURN * / WITH * / EXISTS{}

  test("RETURN * projects every user variable; anon nodes stay hidden") {
    val out = db.executeQuery(
      "MATCH (c:CLASS)-[:HAS_METHOD]->(:METHOD) RETURN *").collect()
    assert(out.length === 1)
    assert(out(0).getAs[String]("c.full_name") === "m.Person")
    // only c's five fixed columns — the anonymous method never projects
    assert(out(0).schema.fieldNames.toSet ===
      Set("c.full_name", "c.kind", "c.name", "c.file_path", "c.signature"))
  }

  test("WITH * carries every variable plus an aggregate alongside") {
    val out = db.executeQuery(
      "MATCH (c:CLASS)-[:HAS_METHOD]->(f) WITH *, count(f) AS n " +
        "RETURN c.name, n").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("Person", 1L)))
  }

  test("EXISTS { … } subquery predicate with inner WHERE") {
    val out = db.executeQuery(
      "MATCH (n:sklearn) WHERE EXISTS { MATCH (n)-[:CONTAINS]->(x) " +
        "WHERE x.name = 'Person' } RETURN n.full_name").collect()
    assert(out.map(_.getString(0)).toSeq === Seq("m"))
    // NOT EXISTS: inner WHERE that matches nothing keeps every row
    val none = db.executeQuery(
      "MATCH (n:sklearn) WHERE NOT EXISTS { (n)-[:CONTAINS]->(x) " +
        "WHERE x.name = 'zzz' } RETURN n.full_name").collect()
    assert(none.length === 4)
  }

  test("FOREACH writes: one typed mutation per list element") {
    DatabaseArms.inMemory { d =>
      d.executeQuery("FOREACH (nm IN ['a1', 'a2', 'a3'] | " +
        "CREATE (n:CLASS:`tf` {full_name: nm, name: nm}))")
      d.executeQuery("FOREACH (nm IN ['a1', 'a2'] | " +
        "MATCH (n {full_name: nm}) SET n.seen = 'y')")
      val rows = d.nodes.select(col("full_name"),
          org.apache.spark.sql.functions.element_at(col("props"), "seen"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(rows.keySet === Set("a1", "a2", "a3"))
      assert(rows("a1") === "y" && rows("a2") === "y" && rows("a3") === null)
      // body that is not a write raises
      intercept[IllegalArgumentException] {
        d.executeQuery("FOREACH (x IN ['p'] | MATCH (n) RETURN n)")
      }
    }
  }

  test("MERGE ON CREATE SET / ON MATCH SET takes exactly one branch") {
    DatabaseArms.inMemory { d =>
      def props(fn: String): Map[String, String] = {
        val r = d.nodes.filter(col("full_name") === fn)
          .select(org.apache.spark.sql.functions.element_at(col("props"), "o"),
            org.apache.spark.sql.functions.element_at(col("props"), "m"),
            col("name")).collect()
        assert(r.length === 1)
        Map("o" -> r(0).getString(0), "m" -> r(0).getString(1),
          "name" -> r(0).getString(2)).filter(_._2 != null)
      }
      // first merge: node absent → ON CREATE branch (pattern props + seed)
      d.executeQuery("MERGE (n:CLASS:`mg` {full_name: 'x.A', name: 'A'}) " +
        "ON CREATE SET n.o = 'new'")
      assert(props("x.A") === Map("o" -> "new", "name" -> "A"))
      // second merge: node present → ON MATCH only; the second ON CREATE
      // value must NOT overwrite the first
      d.executeQuery("MERGE (n:CLASS:`mg` {full_name: 'x.A'}) " +
        "ON CREATE SET n.o = 'again' ON MATCH SET n.m = '1'")
      assert(props("x.A") === Map("o" -> "new", "m" -> "1", "name" -> "A"))
      // ON MATCH alone on an absent node creates WITHOUT the match patch
      d.executeQuery("MERGE (n:CLASS:`mg` {full_name: 'x.B', name: 'B'}) " +
        "ON MATCH SET n.m = '1'")
      assert(props("x.B") === Map("name" -> "B"))
    }
  }

  test("r14 edge MERGE ON CREATE SET / ON MATCH SET takes exactly one " +
      "branch; SETs must dot the relationship variable") {
    DatabaseArms.inMemory { d =>
      def eprops(src: String, rel: String, dst: String): Map[String, String] = {
        val r = d.edges.filter(col("src") === src &&
            col("rel_type") === rel && col("dst") === dst)
          .select(org.apache.spark.sql.functions.element_at(col("props"), "k"),
            org.apache.spark.sql.functions.element_at(col("props"), "o"),
            org.apache.spark.sql.functions.element_at(col("props"), "m"))
          .collect()
        assert(r.length === 1)
        Map("k" -> r(0).getString(0), "o" -> r(0).getString(1),
          "m" -> r(0).getString(2)).filter(_._2 != null)
      }
      // absent edge → ON CREATE seeds (pattern props + branch), ON MATCH
      // never applies
      d.executeQuery("MERGE (a:`mg` {full_name: 'x.A'})-[r:CALLS {k: 'v'}]->" +
        "(b {full_name: 'x.B'}) ON CREATE SET r.o = 'new' ON MATCH SET r.m = '1'")
      assert(eprops("x.A", "CALLS", "x.B") === Map("k" -> "v", "o" -> "new"))
      // present edge (same-batch staged AND after a flush) → ON MATCH
      // patches key-wise, the second ON CREATE value never lands
      d.executeQuery("MERGE (a:`mg` {full_name: 'x.A'})-[r:CALLS]->" +
        "(b {full_name: 'x.B'}) " +
        "ON CREATE SET r.o = 'again' ON MATCH SET r.m = '1'")
      assert(eprops("x.A", "CALLS", "x.B") ===
        Map("k" -> "v", "o" -> "new", "m" -> "1"))
      // eprops flushed the batch: a cross-commit match patches the BASE
      // snapshot edge key-wise too
      d.executeQuery("MERGE (a:`mg` {full_name: 'x.A'})-[r:CALLS]->" +
        "(b {full_name: 'x.B'}) ON MATCH SET r.m = '2'")
      assert(eprops("x.A", "CALLS", "x.B") ===
        Map("k" -> "v", "o" -> "new", "m" -> "2"))
      // ON MATCH alone on an absent edge creates WITHOUT the match patch
      d.executeQuery("MERGE (a:`mg` {full_name: 'x.A'})-[r:USES]->" +
        "(b {full_name: 'x.C'}) ON MATCH SET r.m = '1'")
      assert(eprops("x.A", "USES", "x.C") === Map.empty)
      // branch SET must dot the BOUND relationship variable
      intercept[IllegalArgumentException] {
        d.executeQuery("MERGE (a:`mg` {full_name: 'x.A'})-[r:CALLS]->" +
          "(b {full_name: 'x.B'}) ON MATCH SET a.m = '1'")
      }
      // branches without a relationship variable raise
      intercept[IllegalArgumentException] {
        d.executeQuery("MERGE (a:`mg` {full_name: 'x.A'})-[:CALLS]->" +
          "(b {full_name: 'x.B'}) ON MATCH SET r.m = '1'")
      }
    }
  }

  test("r14 DELETE r / REMOVE n.prop / SET += : the remaining write " +
      "surface, with Neo4j no-op and mismatch semantics") {
    import org.apache.spark.sql.functions.element_at
    DatabaseArms.inMemory { d =>
      d.executeQuery("CREATE (n:CLASS:`w` {full_name: 'w.A', name: 'A'})")
      d.executeQuery("CREATE (n:CLASS:`w` {full_name: 'w.B', name: 'B'})")
      d.executeQuery("MATCH (n {full_name: 'w.A'}) SET n.k = '1', n.j = '2'")
      d.executeQuery("MERGE (a:`w` {full_name: 'w.A'})-[:CALLS {e: 'v'}]->" +
        "(b {full_name: 'w.B'})")
      d.executeQuery("MERGE (a:`w` {full_name: 'w.A'})-[:USES]->" +
        "(b {full_name: 'w.B'})")
      // SET += map-merges: new key lands, existing key overwrites, the
      // untouched key survives
      d.executeQuery("MATCH (n {full_name: 'w.A'}) SET n += {k: '9', p: 'x'}")
      def propsOfA = d.nodes.filter(col("full_name") === "w.A")
        .select(element_at(col("props"), "k"), element_at(col("props"), "j"),
          element_at(col("props"), "p"), col("name")).collect().head
      assert((propsOfA.getString(0), propsOfA.getString(1),
        propsOfA.getString(2)) === (("9", "2", "x")))
      // REMOVE drops map keys AND core fields; absent keys no-op
      d.executeQuery("MATCH (n {full_name: 'w.A'}) REMOVE n.j, n.name, n.zz")
      val after = propsOfA
      assert(after.getString(1) === null && after.getString(3) === null)
      assert(after.getString(0) === "9") // untouched key survives
      // DELETE r drops exactly the one typed edge; the other type stays
      d.executeQuery("MATCH (a {full_name: 'w.A'})-[r:CALLS]->" +
        "(b {full_name: 'w.B'}) DELETE r")
      val rels = d.edges.filter(col("src") === "w.A")
        .select(col("rel_type")).collect().map(_.getString(0)).toSeq
      assert(rels === Seq("USES"))
      // endpoints survive an edge delete (DETACH is A5's job)
      assert(d.nodes.filter(col("full_name").isin("w.A", "w.B")).count() === 2)
      // DELETE of a variable that isn't the bound one raises
      intercept[IllegalArgumentException] {
        d.executeQuery("MATCH (a {full_name: 'w.A'})-[r:USES]->" +
          "(b {full_name: 'w.B'}) DELETE x")
      }
      // REMOVE must dot the bound variable
      intercept[IllegalArgumentException] {
        d.executeQuery("MATCH (n {full_name: 'w.A'}) REMOVE m.k")
      }
      // SET += must target the bound variable
      intercept[IllegalArgumentException] {
        d.executeQuery("MATCH (n {full_name: 'w.A'}) SET m += {k: '1'}")
      }
    }
  }

  test("un-anchored OPTIONAL MATCH left-joins the whole driving row set") {
    // matched: every driving row pairs with the independent match
    val hit = db.executeQuery(
      "MATCH (c:CLASS) OPTIONAL MATCH (f:FUNCTION {name: 'util'}) " +
        "RETURN c.name, f.full_name").collect()
    assert(hit.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("Person", "m.util")))
    // no match anywhere: the driving row null-extends instead of dropping
    val miss = db.executeQuery(
      "MATCH (c:CLASS) OPTIONAL MATCH (f:FUNCTION {name: 'nope'}) " +
        "RETURN c.name, f.full_name").collect()
    assert(miss.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("Person", null)))
    // a WHERE on the un-anchored optional folds into the join condition
    val whr = db.executeQuery(
      "MATCH (c:CLASS) OPTIONAL MATCH (f:FUNCTION) WHERE f.name = 'nope' " +
        "RETURN c.name, f.full_name").collect()
    assert(whr.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("Person", null)))
    // an un-anchored PLAIN match executes as Neo4j's cartesian product
    // under the loud row budget (r15 — refused through r14)
    // r16 (advisor): the budget guard's two cache() frames must NOT
    // outlive the query — a long-lived session would leak two cached
    // plans' blocks per un-anchored MATCH otherwise. clearCache first:
    // the cache manager is session-global and other suites' leftovers
    // must not mask (or fake) this query's own leak.
    spark.sqlContext.clearCache()
    val cart = db.executeQuery(
      "MATCH (c:CLASS) MATCH (f:FUNCTION) RETURN c.name, f.full_name")
      .collect()
    assert(cart.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("Person", "m.util")))
    assert(spark.sharedState.cacheManager.isEmpty,
      "un-anchored MATCH left plans in the cache manager")
  }

  test("r15 undirected relationships: both orientations match, " +
      "physical columns survive, the same edge never binds twice, " +
      "self-loops match once") {
    // Person's edges: HAS_METHOD out (→ greet), CONTAINS in (← m) —
    // one undirected untyped hop reaches BOTH
    val both = db.executeQuery(
      "MATCH (c:CLASS)--(x) RETURN x.full_name ORDER BY x.full_name")
      .collect().map(_.getString(0)).toSeq
    assert(both === Seq("m", "m.Person.greet"))
    // typed undirected: only the named type's edges, either way
    val typed = db.executeQuery(
      "MATCH (c:CLASS)-[:CONTAINS]-(x) RETURN x.full_name").collect()
    assert(typed.map(_.getString(0)).toSeq === Seq("m"))
    // the relationship variable reads PHYSICAL orientation: the
    // CONTAINS edge runs m → Person even when matched backward
    val phys = db.executeQuery(
      "MATCH (c:CLASS)-[r:CONTAINS]-(x) RETURN startNode(r), endNode(r)")
      .collect()
    assert(phys.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("m", "m.Person")))
    // relationship uniqueness spans orientations: walking CONTAINS
    // from m to Person and "back" would reuse the SAME edge — no rows
    val uniq = db.executeQuery(
      "MATCH (a {full_name: 'm'})-[r1:CONTAINS]-(b)-[r2:CONTAINS]-(c) " +
        "RETURN c.full_name").collect()
    assert(uniq.isEmpty)
    // self-loop matches ONCE through an undirected hop
    val d2 = GraphDatabase.inMemory(spark)
    d2.executeQuery("CREATE (n:CLASS:`u` {full_name: 'u.A', name: 'A'})")
    d2.executeQuery("MERGE (a:`u` {full_name: 'u.A'})-[:CALLS]->" +
      "(b {full_name: 'u.A'})")
    val loop = d2.executeQuery(
      "MATCH (a:CLASS)-[:CALLS]-(b) RETURN b.full_name").collect()
    assert(loop.map(_.getString(0)).toSeq === Seq("u.A"))
    // var-length undirected executes since r16 — single-type 1..2 from
    // the class reaches only the module (one CONTAINS edge, and
    // edge-uniqueness forbids going back over it)
    val vl = db.executeQuery(
      "MATCH (a:CLASS)-[:CONTAINS*1..2]-(b) RETURN b.full_name").collect()
    assert(vl.map(_.getString(0)).toSeq === Seq("m"))
    // pattern predicates accept undirected hops through the same
    // machinery: nodes CONTAINS-adjacent to m in either direction
    val pred = db.executeQuery(
      "MATCH (x) WHERE (x)-[:CONTAINS]-({full_name: 'm'}) " +
        "RETURN x.full_name").collect()
    assert(pred.map(_.getString(0)).toSeq === Seq("m.Person"))
  }

  test("r16 var-length UNDIRECTED relationships: orientations mix per " +
      "step, a back-and-forth over one edge binds nothing, path " +
      "variables carry PHYSICAL rel structs, unbounded * converges") {
    // graph: m -CONTAINS-> m.Person -HAS_METHOD-> m.Person.greet
    // untyped *1..2 from m: Person at 1 hop, greet at 2 (CONTAINS
    // cannot be re-crossed backward — physical edge-uniqueness)
    val two = db.executeQuery(
      "MATCH (a {full_name: 'm'})-[r*1..2]-(b) " +
        "RETURN b.full_name, size(r) AS hops ORDER BY hops").collect()
    assert(two.map(x => (x.getString(0), x.getLong(1))).toSeq ===
      Seq(("m.Person", 1L), ("m.Person.greet", 2L)))
    // back-and-forth: the only CONTAINS edge at m cannot be used twice
    val bf = db.executeQuery(
      "MATCH (a {full_name: 'm'})-[:CONTAINS*2..2]-(b) RETURN b").collect()
    assert(bf.isEmpty)
    // a 2-step chain crossing BOTH edges backward (greet → Person → m)
    // through a type alternation
    val rev = db.executeQuery(
      "MATCH (a {full_name: 'm.Person.greet'})" +
        "-[:HAS_METHOD|CONTAINS*2..2]-(b) RETURN b.full_name").collect()
    assert(rev.map(_.getString(0)).toSeq === Seq("m"))
    // path variable: nodes(p) walks visited nodes; relationships(p)
    // keeps each edge's PHYSICAL (src, rel_type, dst) even when the
    // step traversed it backward
    val p = db.executeQuery(
      "MATCH p = (a {full_name: 'm.Person.greet'})-[*2..2]-(b) " +
        "RETURN nodes(p), relationships(p), length(p)").collect()
    assert(p.length === 1)
    assert(p(0).getSeq[String](0) ===
      Seq("m.Person.greet", "m.Person", "m"))
    val rels = p(0).getSeq[org.apache.spark.sql.Row](1)
    assert(rels.map(r => (r.getString(0), r.getString(1), r.getString(2)))
      === Seq(("m.Person", "HAS_METHOD", "m.Person.greet"),
        ("m", "CONTAINS", "m.Person")))
    assert(p(0).getLong(2) === 2L)
    // unbounded * converges (every path consumes a distinct edge)
    val unb = db.executeQuery(
      "MATCH (a {full_name: 'm'})-[*]-(b) RETURN b.full_name " +
        "ORDER BY b.full_name").collect()
    assert(unb.map(_.getString(0)).toSeq ===
      Seq("m.Person", "m.Person.greet"))
    // *0.. zero leg binds the start node itself
    val z = db.executeQuery(
      "MATCH (a:MODULE)-[*0..1]-(b) RETURN b.full_name " +
        "ORDER BY b.full_name").collect()
    assert(z.map(_.getString(0)).toSeq === Seq("m", "m.Person"))
  }

  test("r16 range() + list index/slice: UNWIND range is in-plan and " +
      "typed, bounds are inclusive, slices are 0-based half-open with " +
      "negatives and clamping, out-of-range index is null") {
    // UNWIND range: inclusive bounds, typed longs (arithmetic stays long)
    val r = db.executeQuery(
      "UNWIND range(1, 4) AS x RETURN x, x * x AS sq ORDER BY x").collect()
    assert(r.map(x => (x.getLong(0), x.getLong(1))).toSeq ===
      Seq((1L, 1L), (2L, 4L), (3L, 9L), (4L, 16L)))
    // negative step
    val dn = db.executeQuery(
      "UNWIND range(10, 0, -3) AS x RETURN x").collect()
    assert(dn.map(_.getLong(0)).toSeq === Seq(10L, 7L, 4L, 1L))
    // zero step and over-budget extents raise loudly
    intercept[IllegalArgumentException] {
      db.executeQuery("UNWIND range(1, 5, 0) AS x RETURN x")
    }
    intercept[IllegalArgumentException] {
      db.executeQuery("UNWIND range(1, 999999999999) AS x RETURN x")
    }
    // range() as a RETURN expression + size() of a list-producing fn
    val rr = db.executeQuery(
      "UNWIND range(1, 1) AS i RETURN range(2, 6, 2) AS r, " +
        "size(range(1, 10, 3)) AS n").collect().head
    assert(rr.getSeq[Long](0) === Seq(2L, 4L, 6L))
    assert(rr.getInt(1) === 4)
    // list index/slice over a deterministic split() list
    val s = db.executeQuery(
      "UNWIND range(1, 1) AS i " +
        "RETURN split('a,b,c,d', ',')[0] AS first, " +
        "split('a,b,c,d', ',')[-1] AS last_, " +
        "split('a,b,c,d', ',')[1..3] AS mid, " +
        "split('a,b,c,d', ',')[..2] AS pre, " +
        "split('a,b,c,d', ',')[2..] AS post, " +
        "split('a,b,c,d', ',')[9] AS oob, " +
        "split('a,b,c,d', ',')[1..100] AS clamp, " +
        "split('a,b,c,d', ',')[-3..-1] AS negs, " +
        "split('a,b,c,d', ',')[3..1] AS empty_").collect().head
    assert(s.getString(0) === "a")
    assert(s.getString(1) === "d")
    assert(s.getSeq[String](2) === Seq("b", "c"))
    assert(s.getSeq[String](3) === Seq("a", "b"))
    assert(s.getSeq[String](4) === Seq("c", "d"))
    assert(s.isNullAt(5))
    assert(s.getSeq[String](6) === Seq("b", "c", "d"))
    assert(s.getSeq[String](7) === Seq("b", "c"))
    assert(s.getSeq[String](8) === Seq.empty)
    // slicing composes with path machinery: nodes(p)[0] / [-1]
    val p = db.executeQuery(
      "MATCH p = (a {full_name: 'm'})-[:CONTAINS*1..1]->(b) " +
        "RETURN nodes(p)[0] AS src, nodes(p)[-1] AS dst").collect().head
    assert(p.getString(0) === "m")
    assert(p.getString(1) === "m.Person")
    // a dynamic index expression (the unwound var) works too
    val dyn = db.executeQuery(
      "UNWIND range(0, 3) AS i RETURN split('a,b,c,d', ',')[i] AS c " +
        "ORDER BY c").collect()
    assert(dyn.map(_.getString(0)).toSeq === Seq("a", "b", "c", "d"))
  }

  test("r16 pattern counts: size((n)-[...]->()) and COUNT { ... } " +
      "attach as groupBy-count + left join; zero-match anchors read 0; " +
      "WHERE conjuncts defer; inner WHERE filters the sub-chain") {
    // graph: m -CONTAINS-> m.Person -HAS_METHOD-> m.Person.greet; m.util
    // has no edges at all
    val deg = db.executeQuery(
      "MATCH (n:sklearn) RETURN n.full_name AS v, " +
        "size((n)-[]->()) AS deg ORDER BY v").collect()
    assert(deg.map(r => (r.getString(0), r.getLong(1))).toSeq === Seq(
      ("m", 1L), ("m.Person", 1L), ("m.Person.greet", 0L),
      ("m.util", 0L)))
    // the modern COUNT{} spelling, in a WHERE comparison (deferred
    // conjunct) — undirected: only the edge-less node counts 0
    val iso = db.executeQuery(
      "MATCH (n:sklearn) WHERE COUNT { (n)--() } = 0 " +
        "RETURN n.full_name").collect()
    assert(iso.map(_.getString(0)).toSeq === Seq("m.util"))
    // classic spelling in WHERE, composed with an ordinary conjunct
    val out = db.executeQuery(
      "MATCH (n:sklearn) WHERE size((n)-[]->()) > 0 " +
        "AND n.full_name <> 'm' RETURN n.full_name").collect()
    assert(out.map(_.getString(0)).toSeq === Seq("m.Person"))
    // inner WHERE filters the counted sub-chain (COUNT{} form)
    val filt = db.executeQuery(
      "MATCH (n:MODULE) RETURN COUNT { (n)-[]->(x) " +
        "WHERE x.name = 'Person' } AS c").collect()
    assert(filt.map(_.getLong(0)).toSeq === Seq(1L))
    // two bound anchors: the count keys on BOTH endpoints
    val pair = db.executeQuery(
      "MATCH (a)-[:CONTAINS]->(b) RETURN a.full_name, " +
        "size((a)-->(b)) AS c").collect()
    assert(pair.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("m", 1L)))
    // typed pattern count through an aggregate pipe
    val agg = db.executeQuery(
      "MATCH (n:sklearn) WITH size((n)-[:HAS_METHOD]->()) AS hm " +
        "RETURN hm, count(*) AS n ORDER BY hm").collect()
    assert(agg.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((0L, 3L), (1L, 1L)))
    // unbound-anchor and OPTIONAL placements raise
    intercept[IllegalArgumentException] {
      db.executeQuery(
        "MATCH (n:sklearn) RETURN size((zz)-[]->()) AS c")
    }
    intercept[IllegalArgumentException] {
      db.executeQuery("MATCH (n:sklearn) OPTIONAL MATCH (m:MODULE) " +
        "WHERE size((m)-[]->()) > 0 RETURN n.full_name, m.full_name")
    }
  }

  test("r16 list expressions: literals, comprehensions with WHERE and " +
      "projection, reduce(), =~ regex, toBoolean") {
    // list literal + postfix index compose
    val lt = db.executeQuery(
      "UNWIND range(1, 1) AS i RETURN [10, 20, 30][1] AS x, " +
        "size([1, 2, 3]) AS n").collect().head
    assert(lt.getLong(0) === 20L)
    // size() of a literal list: the arg is an array head, not a string
    assert(lt.getInt(1) === 3 || lt.getLong(1) === 3L)
    // comprehension: filter + projection, lambda var shadows nothing
    val comp = db.executeQuery(
      "UNWIND range(1, 1) AS i " +
        "RETURN [x IN range(1, 6) WHERE x % 2 = 0 | x * 10] AS evens, " +
        "[x IN range(1, 4) WHERE x > 2] AS fil, " +
        "[x IN range(1, 3) | x + 100] AS proj").collect().head
    assert(comp.getSeq[Long](0) === Seq(20L, 40L, 60L))
    assert(comp.getSeq[Long](1) === Seq(3L, 4L))
    assert(comp.getSeq[Long](2) === Seq(101L, 102L, 103L))
    // reduce(): Cypher's fold — sum of squares
    val red = db.executeQuery(
      "UNWIND range(1, 1) AS i " +
        "RETURN reduce(acc = 0, x IN range(1, 4) | acc + x * x) AS ss")
      .collect().head
    assert(red.getLong(0) === 30L)
    // a comprehension over an unwound variable's list + AND/OR pred
    val mix = db.executeQuery(
      "UNWIND range(1, 1) AS i RETURN " +
        "[x IN [1, 5, 8, 12] WHERE x > 2 AND x < 10 | x] AS mid")
      .collect().head
    assert(mix.getSeq[Long](0) === Seq(5L, 8L))
    // =~ is a WHOLE-string Java regex (not a substring find)
    val rex = db.executeQuery(
      "MATCH (n:sklearn) WHERE n.name =~ 'Per.*' RETURN n.full_name")
      .collect()
    assert(rex.map(_.getString(0)).toSeq === Seq("m.Person"))
    val rexAnchor = db.executeQuery(
      "MATCH (n:sklearn) WHERE n.name =~ 'erso' RETURN n.full_name")
      .collect()
    assert(rexAnchor.isEmpty, "=~ must match the WHOLE string")
    // toBoolean: parses, junk nulls (row drops in WHERE)
    val tb = db.executeQuery(
      "UNWIND range(1, 1) AS i RETURN toBoolean('TRUE') AS t, " +
        "toBoolean('nope') AS j").collect().head
    assert(tb.getBoolean(0) === true)
    assert(tb.isNullAt(1))
  }

  test("r16 ORDER BY value expressions: size()/arithmetic/CASE sort " +
      "keys project as hidden columns and drop after the sort") {
    val byLen = db.executeQuery(
      "MATCH (n:sklearn) RETURN n.full_name " +
        "ORDER BY size(n.full_name) DESC, n.full_name").collect()
    assert(byLen.map(_.getString(0)).toSeq ===
      Seq("m.Person.greet", "m.Person", "m.util", "m"))
    val byCase = db.executeQuery(
      "MATCH (n:sklearn) RETURN n.full_name ORDER BY " +
        "CASE WHEN n.kind = 'MODULE' THEN 0 ELSE 1 END, n.full_name")
      .collect()
    assert(byCase.head.getString(0) === "m")
  }

  test("r16 expression aggregates and tail(): sum/avg/min/max/count/" +
      "collect over value expressions, in RETURN and WITH") {
    val ag = db.executeQuery(
      "UNWIND range(1, 4) AS i RETURN sum(i * i) AS ss, " +
        "avg(i + 1) AS ap, max(i % 3) AS mx, count(i * 2) AS c, " +
        "collect(i * 10) AS xs").collect().head
    assert(ag.getDouble(0) === 30.0)
    assert(ag.getDouble(1) === 3.5)
    assert(ag.getLong(2) === 2L)
    assert(ag.getLong(3) === 4L)
    assert(ag.getSeq[Long](4) === Seq(10L, 20L, 30L, 40L))
    // WITH-pipe form with a trailing filter
    val piped = db.executeQuery(
      "UNWIND range(1, 4) AS i WITH i % 2 AS par, i AS i " +
        "WITH par, sum(i * i) AS ss RETURN par, ss ORDER BY par")
      .collect()
    assert(piped.map(r => (r.getLong(0), r.getDouble(1))).toSeq ===
      Seq((0L, 20.0), (1L, 10.0)))
    // `sum(a) + sum(b)` stays a VALUE EXPRESSION of two strict
    // aggregates — the final-paren guard must not mis-read it
    intercept[IllegalArgumentException] {
      // (raises because aggregate-in-value-expression isn't a shape —
      // but it must raise THERE, not parse `a) + sum(b` as one arg)
      db.executeQuery("UNWIND range(1, 2) AS i RETURN sum(i) + sum(i)")
    }
    // tail(): everything after the head; empty stays empty
    val tl = db.executeQuery(
      "UNWIND range(1, 1) AS i RETURN tail([1, 2, 3]) AS t, " +
        "tail(split('a', ',')) AS e").collect().head
    assert(tl.getSeq[Long](0) === Seq(2L, 3L))
    assert(tl.getSeq[String](1) === Seq.empty)
  }

  test("r16 mid-query UNWIND: collect-then-regroup, range regrouping, " +
      "empty lists drop, rebinds raise") {
    // the canonical regroup: collect per group, unwind back out
    val rg = db.executeQuery(
      "MATCH (n:sklearn) WITH collect(n.full_name) AS xs " +
        "UNWIND xs AS v RETURN v ORDER BY v").collect()
    assert(rg.map(_.getString(0)).toSeq ===
      Seq("m", "m.Person", "m.Person.greet", "m.util"))
    // UNWIND of a computed list expression (slice of the collected set)
    val sl = db.executeQuery(
      "MATCH (n:sklearn) WITH collect(n.full_name) AS xs " +
        "UNWIND xs[0..2] AS v RETURN count(*) AS c").collect().head
    assert(sl.getLong(0) === 2L)
    // UNWIND directly after the pattern (no WITH), over range()
    val direct = db.executeQuery(
      "MATCH (n:CLASS) UNWIND range(1, 3) AS k " +
        "RETURN n.name, k ORDER BY k").collect()
    assert(direct.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("Person", 1L), ("Person", 2L), ("Person", 3L)))
    // an empty list yields NO rows (Neo4j)
    val empty = db.executeQuery(
      "MATCH (n:CLASS) WITH collect(n.file_path) AS xs " +
        "UNWIND xs[0..0] AS v RETURN v").collect()
    assert(empty.isEmpty)
    // rebinding a bound name raises
    intercept[IllegalArgumentException] {
      db.executeQuery("MATCH (n:sklearn) WITH collect(n.name) AS xs " +
        "UNWIND xs AS xs RETURN xs")
    }
  }

  test("r16 map projections: .prop / key: expr / .* with explicit " +
      "override; rel variables raise") {
    val mp = db.executeQuery(
      "MATCH (n:CLASS) RETURN n {.name, .kind, nick: n.name + '!'} AS m")
      .collect().head.getMap[String, String](0)
    assert(mp("name") === "Person")
    assert(mp("kind") === "CLASS")
    assert(mp("nick") === "Person!")
    // .* merges the full property map, explicit entries overriding
    val star = db.executeQuery(
      "MATCH (n:METHOD) RETURN n {.*, name: 'shadowed'} AS m")
      .collect().head.getMap[String, String](0)
    assert(star("name") === "shadowed")
    assert(star("signature") === "def greet(self):")
    // a missing prop reads null inside the map? (map() drops nothing —
    // the entry is present with a null value)
    val miss = db.executeQuery(
      "MATCH (n:CLASS) RETURN n {.file_path} AS m").collect().head
      .getMap[String, String](0)
    assert(miss.contains("file_path") && miss("file_path") == null)
    intercept[IllegalArgumentException] {
      db.executeQuery(
        "MATCH (a)-[r:CONTAINS]->(b) RETURN r {.whatever} AS m")
    }
  }

  test("r16 string/list + concatenation and n:LABEL predicates") {
    // '+' with a string-literal operand CONCATENATES (Cypher), the
    // numeric coercion stays for plain operands
    val cat = db.executeQuery(
      "MATCH (n:CLASS) RETURN 'name = ' + n.name AS s, " +
        "n.name + '!' AS t").collect().head
    assert(cat.getString(0) === "name = Person")
    assert(cat.getString(1) === "Person!")
    // list + list concatenates; numeric + stays numeric
    val lc = db.executeQuery(
      "UNWIND range(1, 1) AS i RETURN [1, 2] + [3] AS xs, " +
        "1 + 2 AS n, 'a' + 1 AS m").collect().head
    assert(lc.getSeq[Long](0) === Seq(1L, 2L, 3L))
    assert(lc.getLong(1) === 3L)
    assert(lc.getString(2) === "a1")
    // label predicates in WHERE: kind and task-id vocabulary, NOT form
    val lbl = db.executeQuery(
      "MATCH (n:sklearn) WHERE n:CLASS RETURN n.full_name").collect()
    assert(lbl.map(_.getString(0)).toSeq === Seq("m.Person"))
    val notLbl = db.executeQuery(
      "MATCH (n:sklearn) WHERE NOT n:CLASS AND NOT n:METHOD " +
        "RETURN n.full_name ORDER BY n.full_name").collect()
    assert(notLbl.map(_.getString(0)).toSeq === Seq("m", "m.util"))
    // a task-id label tests membership of task_ids
    val task = db.executeQuery(
      "MATCH (n:CLASS) WHERE n:`sklearn` RETURN n.full_name").collect()
    assert(task.map(_.getString(0)).toSeq === Seq("m.Person"))
  }

  test("r17 advisor: prop + prop CONCATENATES (string-typed model); " +
      "numeric locals keep the numeric path") {
    // n.name + n.kind — two string-typed property refs: Neo4j
    // concatenates; the r16 numeric `+` silently returned NULL here
    val pp = db.executeQuery(
      "MATCH (n:CLASS) RETURN n.name + n.kind AS s").collect().head
    assert(pp.getString(0) === "PersonCLASS")
    // prop + numeric literal: Neo4j string + int concatenates too
    val pn = db.executeQuery(
      "MATCH (n:CLASS) RETURN n.name + 1 AS s").collect().head
    assert(pn.getString(0) === "Person1")
    // a bare LOCAL stays numeric (WITH alias arithmetic)
    val ln = db.executeQuery(
      "MATCH (n:CLASS) WITH size(n.name) AS w RETURN w + 1 AS x")
      .collect().head
    assert(ln.getLong(0) === 7L)
  }

  test("r17 advisor: range() with reversed bounds is [] (Neo4j), not " +
      "an error; scalar range() carries the extent budget") {
    // UNWIND range(5,1) — zero rows, no exception
    val u = db.executeQuery(
      "UNWIND range(5, 1) AS i RETURN i").collect()
    assert(u.isEmpty)
    // negative step walks down; reversed-vs-step empty both ways
    val d = db.executeQuery(
      "UNWIND range(3, 1, -1) AS i RETURN i ORDER BY i").collect()
    assert(d.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    val e = db.executeQuery(
      "UNWIND range(1, 3, -1) AS i RETURN i").collect()
    assert(e.isEmpty)
    // scalar range() in RETURN: reversed → empty list, not a throw
    val s = db.executeQuery(
      "UNWIND range(1, 1) AS i RETURN size(range(5, 1)) AS z, " +
        "range(3, 1, -1) AS xs").collect().head
    assert(s.getInt(0) === 0)
    assert(s.getSeq[Long](1) === Seq(3L, 2L, 1L))
    // the scalar path now enforces the same element budget as UNWIND
    val boom = intercept[Exception] {
      db.executeQuery(
        "UNWIND range(1, 1) AS i RETURN size(range(1, 99999999999)) AS z")
        .collect()
    }
    assert(boom.getMessage != null)
  }

  test("r17 advisor: =~ RHS must be a literal or var.prop — var.prop " +
      "resolves dynamically, junk raises") {
    val d = GraphDatabase.inMemory(spark)
    d.executeQuery("CREATE (n:CLASS:`rx` {full_name: 'rx.A', " +
      "name: 'Widget', pat: 'Wid.*'})")
    d.executeQuery("CREATE (n:CLASS:`rx` {full_name: 'rx.B', " +
      "name: 'Gadget', pat: 'Wid.*'})")
    // dynamic pattern: n.name =~ n.pat matches only the Widget row
    val dyn = d.executeQuery(
      "MATCH (n:`rx`) WHERE n.name =~ n.pat RETURN n.full_name")
      .collect()
    assert(dyn.map(_.getString(0)).toSeq === Seq("rx.A"))
    // literal still works
    val lt = d.executeQuery(
      "MATCH (n:`rx`) WHERE n.name =~ 'Gad.*' RETURN n.full_name")
      .collect()
    assert(lt.map(_.getString(0)).toSeq === Seq("rx.B"))
    // an unquoted non-ref RHS raises instead of silently matching
    intercept[IllegalArgumentException] {
      d.executeQuery("MATCH (n:`rx`) WHERE n.name =~ Widget RETURN n.name")
    }
  }

  test("r15 percentileDisc/percentileCont: ceil-index rule, " +
      "interpolation, p edge values, WITH-pipe form") {
    val d = GraphDatabase.inMemory(spark)
    (1 to 4).foreach { i =>
      d.executeQuery(s"CREATE (n:CLASS:`pc` {full_name: 'pc.$i', " +
        s"name: 'n$i', v: '$i'})") }
    val out = d.executeQuery(
      "MATCH (n:`pc`) RETURN percentileDisc(n.v, 0.5) AS d50, " +
        "percentileCont(n.v, 0.5) AS c50, " +
        "percentileDisc(n.v, 0) AS d0, percentileDisc(n.v, 1) AS d100")
      .collect().head
    // values 1..4: disc(.5) = 2nd sorted = 2; cont(.5) = 2.5;
    // disc(0) = first; disc(1) = last
    assert(out.getDouble(0) === 2.0)
    assert(out.getDouble(1) === 2.5)
    assert(out.getDouble(2) === 1.0)
    assert(out.getDouble(3) === 4.0)
    // the WITH-pipe aggregate form composes with a trailing filter
    val piped = d.executeQuery(
      "MATCH (n:`pc`) WITH percentileDisc(n.v, 0.75) AS p WHERE p > 2 " +
        "RETURN p").collect()
    assert(piped.map(_.getDouble(0)).toSeq === Seq(3.0))
    // out-of-range percentile raises
    intercept[IllegalArgumentException] {
      d.executeQuery("MATCH (n:`pc`) RETURN percentileDisc(n.v, 1.5)")
    }
    // stDev (sample) and stDevP (population) over 1..4: variance 5/3
    // and 5/4; a single value reads 0, not NULL (Neo4j)
    val sd = d.executeQuery(
      "MATCH (n:`pc`) RETURN stDev(n.v) AS s, stDevP(n.v) AS sp")
      .collect().head
    assert(sd.getDouble(0) === math.rint(math.sqrt(5.0 / 3) * 1e6) / 1e6)
    assert(sd.getDouble(1) === math.rint(math.sqrt(5.0 / 4) * 1e6) / 1e6)
    val one1 = d.executeQuery(
      "MATCH (n:`pc` {full_name: 'pc.1'}) RETURN stDev(n.v) AS s")
      .collect().head
    assert(one1.getDouble(0) === 0.0)
    // r16 (advisor): an all-NULL group collects an EMPTY array — under
    // ANSI mode element_at would raise INVALID_ARRAY_INDEX; Neo4j
    // returns null. The missing prop `w` is null on every node.
    val nul = d.executeQuery(
      "MATCH (n:`pc`) RETURN percentileDisc(n.w, 0.5) AS d")
      .collect().head
    assert(nul.isNullAt(0), s"expected null, got ${nul.get(0)}")
  }

  test("r15 elementId: full_name for nodes, src|type|dst for " +
      "relationships") {
    val out = db.executeQuery(
      "MATCH (c:CLASS)-[r:HAS_METHOD]->(m2) " +
        "RETURN elementId(c), elementId(r), elementId(m2)").collect()
    assert(out.map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSeq === Seq(("m.Person", "m.Person|HAS_METHOD|m.Person.greet",
        "m.Person.greet")))
    // a var-length r is a relationship LIST — no single identity:
    // raises, never fabricates a src|dst pair
    intercept[IllegalArgumentException] {
      db.executeQuery(
        "MATCH (a:MODULE)-[r:CONTAINS*1..2]->(b) RETURN elementId(r)")
    }
  }

  test("r15 undirected shortestPath/allShortestPaths: BFS over both " +
      "orientations, physical edges in relationships(p)") {
    // the graph runs m -CONTAINS-> Person -HAS_METHOD-> greet; no
    // DIRECTED path exists from greet to m, the undirected one does
    val sp = db.executeQuery(
      "MATCH p = shortestPath((a {full_name: 'm.Person.greet'})" +
        "-[:CONTAINS|HAS_METHOD*]-(b {full_name: 'm'})) " +
        "RETURN length(p), nodes(p), relationships(p)").collect()
    assert(sp.length === 1)
    assert(sp(0).getLong(0) === 2L)
    assert(sp(0).getSeq[String](1) ===
      Seq("m.Person.greet", "m.Person", "m"))
    // relationships carry PHYSICAL orientation even though both edges
    // were walked backwards
    val rels = sp(0).getSeq[org.apache.spark.sql.Row](2)
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(rels === Seq(
      ("m.Person", "HAS_METHOD", "m.Person.greet"),
      ("m", "CONTAINS", "m.Person")))
    // the directed spelling of the same endpoints finds nothing
    val dir = db.executeQuery(
      "MATCH p = shortestPath((a {full_name: 'm.Person.greet'})" +
        "-[:CONTAINS|HAS_METHOD*]->(b {full_name: 'm'})) " +
        "RETURN length(p)").collect()
    assert(dir.isEmpty)
    // allShortestPaths: the single undirected geodesic, one row
    val asp = db.executeQuery(
      "MATCH p = allShortestPaths((a {full_name: 'm.Person.greet'})" +
        "-[:CONTAINS|HAS_METHOD*]-(b {full_name: 'm'})) " +
        "RETURN length(p), relationships(p)").collect()
    assert(asp.length === 1)
    assert(asp(0).getLong(0) === 2L)
    assert(asp(0).getSeq[org.apache.spark.sql.Row](1)
      .map(r => (r.getString(0), r.getString(1), r.getString(2))) ===
      Seq(("m.Person", "HAS_METHOD", "m.Person.greet"),
        ("m", "CONTAINS", "m.Person")))
  }

  test("r15 comma patterns: cartesian under budget, cross-variable " +
      "WHERE, shared-variable anchoring, budget raise") {
    // the canonical un-anchored comma shape — a 4-node cartesian of
    // every (node, node) pair, de-duplicated by the WHERE
    val pairs = db.executeQuery(
      "MATCH (a), (b) WHERE a.full_name < b.full_name " +
        "RETURN a.full_name, b.full_name ORDER BY a.full_name, b.full_name")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(pairs.length === 6) // C(4,2): ordered pairs of 4 nodes
    assert(pairs.contains(("m.Person", "m.util")))
    assert(pairs === pairs.sorted)
    // comma with labels and cross-variable WHERE
    val cf = db.executeQuery(
      "MATCH (c:CLASS), (f:FUNCTION) WHERE c.name < f.name " +
        "RETURN c.name, f.name").collect()
    assert(cf.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("Person", "util")))
    // a SHARED variable across comma patterns ANCHORS (no cartesian):
    // the node-only sub re-binds c and adds label + prop constraints —
    // with a non-matching name the whole pattern yields nothing
    val anchored = db.executeQuery(
      "MATCH (c)-[:HAS_METHOD]->(m2), (c:CLASS {name: 'Person'}) " +
        "RETURN c.name, m2.name").collect()
    assert(anchored.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("Person", "greet")))
    val anchoredMiss = db.executeQuery(
      "MATCH (c)-[:HAS_METHOD]->(m2), (c:CLASS {name: 'Nobody'}) " +
        "RETURN c.name, m2.name").collect()
    assert(anchoredMiss.isEmpty)
    // and an UN-anchored node-only sub still cartesians under budget
    val mixed = db.executeQuery(
      "MATCH (c:CLASS)-[:HAS_METHOD]->(m2), (mod:MODULE {name: 'm'}) " +
        "RETURN c.name, m2.name, mod.name").collect()
    assert(mixed.map(r => (r.getString(0), r.getString(1),
      r.getString(2))).toSeq === Seq(("Person", "greet", "m")))
    // two relationship chains in one comma group (r17): relationship
    // uniqueness spans them — enforced by cross-sub triple-inequality,
    // so the pair binds (the two chains hold different edges here)
    val two = db.executeQuery(
      "MATCH (a)-[:CONTAINS]->(b), (c)-[:HAS_METHOD]->(d) " +
        "RETURN a.name, c.name").collect()
    assert(two.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("m", "Person")))
    // the SAME chain twice: every pairing binds the same edge in both
    // slots — cross-sub uniqueness filters them all out
    val dup = db.executeQuery(
      "MATCH (a)-[:HAS_METHOD]->(b), (c)-[:HAS_METHOD]->(d) " +
        "RETURN a.name").collect()
    assert(dup.isEmpty,
      "one HAS_METHOD edge cannot bind both comma chains")
    // DISCONNECTED comma parts under OPTIONAL MATCH (no shared
    // variable) still raise — the conjunction would pre-join a product
    // (connected comma parts null-extend atomically since r17)
    intercept[IllegalArgumentException] {
      db.executeQuery("MATCH (c:CLASS) OPTIONAL MATCH (a:MODULE), " +
        "(b:FUNCTION) RETURN c.name")
    }
    // the budget raises LOUDLY: 1,415 x 1,415 = 2,002,225 rows is past
    // the 2,000,000-row budget; both sides count before any join runs
    val big = GraphDatabase.inMemory(spark)
    (0 until 1415).foreach(i => big.addNode("t", Kind.Function, s"f$i"))
    big.commit()
    val ex = intercept[IllegalArgumentException] {
      big.executeQuery("MATCH (a), (b) RETURN a.full_name, b.full_name")
    }
    assert(ex.getMessage.contains(
      "1415 x 1415 exceeds the 2000000-row budget"))
  }

  test("r17 verdict task #3: OPTIONAL MATCH comma patterns null-extend " +
      "ATOMICALLY — all comma variables bind or none does") {
    val d = GraphDatabase.inMemory(spark)
    // m1 contains a class WITH a method; m2 contains a class WITHOUT —
    // for m2 the conjunction fails, so BOTH comma variables must be
    // null even though (m2)-[:CONTAINS]->(class) alone matches
    d.addNode("t", Kind.Module, "m1", Map("name" -> "m1"))
    d.addNode("t", Kind.Module, "m2", Map("name" -> "m2"))
    d.addNode("t", Kind.Class, "m1.C", Map("name" -> "C"))
    d.addNode("t", Kind.Class, "m2.D", Map("name" -> "D"))
    d.addNode("t", Kind.Method, "m1.C.f", Map("name" -> "f"))
    d.addEdge("t", "m1", Rel.Contains, "m1.C")
    d.addEdge("t", "m2", Rel.Contains, "m2.D")
    d.addEdge("t", "m1.C", Rel.HasMethod, "m1.C.f")
    d.commit()
    val out = d.executeQuery(
      "MATCH (mod:MODULE) OPTIONAL MATCH (mod)-[:CONTAINS]->(c:CLASS), " +
        "(c)-[:HAS_METHOD]->(f:METHOD) " +
        "RETURN mod.full_name AS m, c.full_name AS cls, " +
        "f.full_name AS fn ORDER BY m").collect()
    assert(out.length === 2)
    assert((out(0).getString(0), out(0).getString(1), out(0).getString(2))
      === (("m1", "m1.C", "m1.C.f")))
    assert(out(1).getString(0) === "m2")
    assert(out(1).isNullAt(1) && out(1).isNullAt(2),
      "the comma pattern must null-extend ATOMICALLY: c is null even " +
        "though (m2)-[:CONTAINS]->(m2.D) alone matches")
    // a WHERE on the conjunction folds into the left join: a filtered
    // row null-extends instead of dropping
    val w = d.executeQuery(
      "MATCH (mod:MODULE) OPTIONAL MATCH (mod)-[:CONTAINS]->(c:CLASS), " +
        "(c)-[:HAS_METHOD]->(f:METHOD) WHERE f.name = 'nope' " +
        "RETURN mod.full_name AS m, f.full_name AS fn ORDER BY m")
      .collect()
    assert(w.length === 2 && w.forall(_.isNullAt(1)))
    // the comma subs may ALSO share the bound variable itself — and
    // relationship uniqueness spans the subs: m1 has ONE CONTAINS edge,
    // which cannot bind both chains, so the conjunction fails and the
    // row null-extends (Neo4j's per-clause uniqueness rule)
    val b = d.executeQuery(
      "MATCH (mod:MODULE {full_name: 'm1'}) " +
        "OPTIONAL MATCH (mod)-[:CONTAINS]->(c:CLASS), " +
        "(mod)-[:CONTAINS]->(c2:CLASS {name: 'C'}) " +
        "RETURN c.name AS a, c2.name AS b").collect()
    assert(b.length === 1 && b.head.isNullAt(0) && b.head.isNullAt(1),
      "one CONTAINS edge cannot bind both comma chains — atomic null")
  }

  test("r17 verdict task #6: CALL { … } subqueries — correlated " +
      "(importing WITH) and uncorrelated, aggregate and row-returning") {
    val d = GraphDatabase.inMemory(spark)
    d.addNode("t", Kind.Module, "m1", Map("name" -> "m1"))
    d.addNode("t", Kind.Module, "m2", Map("name" -> "m2"))
    d.addNode("t", Kind.Class, "m1.C", Map("name" -> "C"))
    d.addNode("t", Kind.Class, "m1.D", Map("name" -> "D"))
    d.addEdge("t", "m1", Rel.Contains, "m1.C")
    d.addEdge("t", "m1", Rel.Contains, "m1.D")
    d.commit()
    // correlated PURE-AGGREGATE: one row per driving row; count reads 0
    // for m2 (left join + backfill, Neo4j's empty-group value)
    val agg = d.executeQuery(
      "MATCH (mod:MODULE) CALL { WITH mod " +
        "MATCH (mod)-[:CONTAINS]->(c:CLASS) RETURN count(c) AS nc, " +
        "collect(c.name) AS names } " +
        "RETURN mod.full_name AS m, nc, names ORDER BY m").collect()
    assert(agg.length === 2)
    assert(agg(0).getString(0) === "m1" && agg(0).getLong(1) === 2L)
    assert(agg(0).getSeq[String](2).sorted === Seq("C", "D"))
    assert(agg(1).getString(0) === "m2" && agg(1).getLong(1) === 0L)
    assert(agg(1).getSeq[String](2) === Seq.empty)
    // correlated ROW-RETURNING: no rows drops the driving row (inner)
    val rows = d.executeQuery(
      "MATCH (mod:MODULE) CALL { WITH mod " +
        "MATCH (mod)-[:CONTAINS]->(c:CLASS) RETURN c.name AS cn } " +
        "RETURN mod.full_name AS m, cn ORDER BY m, cn").collect()
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("m1", "C"), ("m1", "D")))
    // uncorrelated: the sub plans once; its single aggregate row
    // cross-joins every driving row
    val unc = d.executeQuery(
      "MATCH (mod:MODULE) CALL { MATCH (x:CLASS) " +
        "RETURN count(x) AS total } " +
        "RETURN mod.full_name AS m, total ORDER BY m").collect()
    assert(unc.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("m1", 2L), ("m2", 2L)))
    // un-aliased sub items raise
    intercept[IllegalArgumentException] {
      d.executeQuery("MATCH (mod:MODULE) CALL { MATCH (x:CLASS) " +
        "RETURN count(x) } RETURN mod.name")
    }
    // CALL after a pipe attaches at the pipe stage (r18 — was the
    // raising posture through r17): the uncorrelated single-row
    // aggregate cross-joins the piped frame
    val piped = d.executeQuery("MATCH (mod:MODULE) WITH mod.name AS mn " +
      "CALL { MATCH (x:CLASS) RETURN count(x) AS t } " +
      "RETURN mn, t ORDER BY mn").collect()
    assert(piped.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("m1", 2L), ("m2", 2L)))
  }

  test("r17: function-wrapped WHERE comparisons — toUpper/toLower/size " +
      "and kin on the LHS compare like bare refs") {
    val d = GraphDatabase.inMemory(spark)
    d.executeQuery("CREATE (n:CLASS:`fw` {full_name: 'f.Widget', " +
      "name: 'Widget', n: '5'})")
    d.executeQuery("CREATE (n:CLASS:`fw` {full_name: 'f.gadget', " +
      "name: 'gadget', n: '12'})")
    val up = d.executeQuery(
      "MATCH (n:`fw`) WHERE toUpper(n.name) = 'WIDGET' RETURN n.full_name")
      .collect()
    assert(up.map(_.getString(0)).toSeq === Seq("f.Widget"))
    val lo = d.executeQuery(
      "MATCH (n:`fw`) WHERE toLower(n.name) STARTS WITH 'gad' " +
        "RETURN n.full_name").collect()
    assert(lo.map(_.getString(0)).toSeq === Seq("f.gadget"))
    val sz = d.executeQuery(
      "MATCH (n:`fw`) WHERE size(n.n) >= 2 RETURN n.full_name")
      .collect()
    assert(sz.map(_.getString(0)).toSeq === Seq("f.gadget"))
    val ti = d.executeQuery(
      "MATCH (n:`fw`) WHERE toInteger(n.n) >= 10 RETURN n.full_name")
      .collect()
    assert(ti.map(_.getString(0)).toSeq === Seq("f.gadget"))
    // var.prop RHS resolves; NOT composes; junk still raises
    val eqp = d.executeQuery(
      "MATCH (n:`fw`) WHERE NOT toLower(n.name) = n.name " +
        "RETURN n.full_name").collect()
    assert(eqp.map(_.getString(0)).toSeq === Seq("f.Widget"))
    intercept[IllegalArgumentException] {
      d.executeQuery("MATCH (n:`fw`) WHERE mystery(n.name) = 'x' " +
        "RETURN n.name")
    }
  }

  test("data-driven FOREACH: the write loop runs over a COLLECTED list") {
    DatabaseArms.inMemory { d =>
      d.executeQuery("FOREACH (nm IN ['p1', 'p2', 'q3'] | " +
        "CREATE (n:CLASS:`dd` {full_name: nm, name: nm}))")
      // read feeds write: collect the p-names, patch exactly those
      d.executeQuery(
        "MATCH (n:CLASS) WHERE n.name STARTS WITH 'p' " +
          "WITH collect(n.name) AS names " +
          "FOREACH (nm IN names | MATCH (x {full_name: nm}) SET x.seen = 'y')")
      val rows = d.nodes.select(col("full_name"),
          org.apache.spark.sql.functions.element_at(col("props"), "seen"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(rows === Map("p1" -> "y", "p2" -> "y", "q3" -> null))
      // an empty collected list is a no-op, not an error
      d.executeQuery(
        "MATCH (n:CLASS) WHERE n.name STARTS WITH 'zz' " +
          "WITH collect(n.name) AS names " +
          "FOREACH (nm IN names | MATCH (x {full_name: nm}) SET x.seen = 'n')")
      assert(d.nodes.count() === 3)
    }
  }

  test("FOREACH loop variable colliding with a prop-map key substitutes " +
    "only value positions") {
    DatabaseArms.inMemory { d =>
      // `name` is both the loop variable AND a property KEY: the key
      // position must survive the substitution untouched
      d.executeQuery("FOREACH (name IN ['k1', 'k2'] | " +
        "CREATE (n:CLASS:`tfk` {full_name: name, name: name}))")
      val rows = d.nodes.select(col("full_name"), col("name"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(rows === Map("k1" -> "k1", "k2" -> "k2"))
    }
  }

  test("string functions: toUpper/toLower/replace/substring/left/right") {
    val out = db.executeQuery(
      "MATCH (c:CLASS) RETURN toUpper(c.name) AS u, toLower(c.name) AS l, " +
        "replace(c.name, 'son', 'SON') AS r, substring(c.name, 0, 3) AS s3, " +
        "substring(c.name, 3) AS tail, left(c.name, 2) AS lf, " +
        "right(c.name, 3) AS rt, trim('  x  ') AS t").collect()
    assert(out.length === 1)
    val r = out(0)
    assert(r.getAs[String]("u") === "PERSON")
    assert(r.getAs[String]("l") === "person")
    assert(r.getAs[String]("r") === "PerSON")
    assert(r.getAs[String]("s3") === "Per") // Cypher substring is 0-based
    assert(r.getAs[String]("tail") === "son")
    assert(r.getAs[String]("lf") === "Pe")
    assert(r.getAs[String]("rt") === "son")
    assert(r.getAs[String]("t") === "x")
  }

  test("scalar functions: toString/round/split/reverse/head/last") {
    val out = db.executeQuery(
      "MATCH (c:CLASS) RETURN toString(42) AS s, round(2.5) AS r, " +
        "round(2.4) AS r2, split('a.b.c', '.') AS parts, " +
        "reverse(c.name) AS rev, head(split('x|y', '|')) AS h, " +
        "last(split('x|y', '|')) AS lst").collect()
    assert(out.length === 1)
    val r = out(0)
    assert(r.getAs[String]("s") === "42")
    assert(r.getAs[Double]("r") === 3.0)   // Cypher half-up
    assert(r.getAs[Double]("r2") === 2.0)
    // the delimiter is LITERAL — '.' and '|' must not act as regex
    assert(r.getAs[Seq[String]]("parts") === Seq("a", "b", "c"))
    assert(r.getAs[String]("rev") === "nosreP")
    assert(r.getAs[String]("h") === "x")
    assert(r.getAs[String]("lst") === "y")
  }

  test("ORDER BY a non-returned property (the top-N idiom)") {
    val d = GraphDatabase.inMemory(spark)
    Seq(("a", "3"), ("b", "1"), ("c", "2")).foreach { case (n, r) =>
      d.addNode("t", Kind.Class, n, Map("name" -> n, "rank" -> r)) }
    d.commit()
    val out = d.executeQuery(
      "MATCH (n:CLASS) RETURN n.name ORDER BY n.rank DESC LIMIT 2").collect()
    assert(out.map(_.getString(0)).toSeq === Seq("a", "c"))
    // mixed: one output column, one hidden property
    val mixed = d.executeQuery(
      "MATCH (n:CLASS) RETURN n.name AS nm ORDER BY n.rank, nm").collect()
    assert(mixed.map(_.getString(0)).toSeq === Seq("b", "c", "a"))
    // after aggregation the hidden property is gone - raises
    intercept[IllegalArgumentException] {
      d.executeQuery("MATCH (n:CLASS) RETURN count(n) AS c ORDER BY n.rank")
    }
    intercept[IllegalArgumentException] {
      d.executeQuery("MATCH (n:CLASS) RETURN DISTINCT n.name ORDER BY n.rank")
    }
  }

  test("FOREACH composes with $param lists (the batch-write idiom)") {
    DatabaseArms.inMemory { d =>
      d.executeQuery("FOREACH (nm IN $names | " +
        "CREATE (n:CLASS:`tp` {full_name: nm, name: nm}))",
        Map("names" -> Seq("p1", "p2")))
      assert(d.nodes.count() === 2)
    }
  }

  test("bare arrows --> / <-- match any relationship type") {
    val out = db.executeQuery(
      "MATCH (c:CLASS)-->(m) RETURN m.full_name").collect()
    assert(out.map(_.getString(0)).toSeq === Seq("m.Person.greet"))
    val rev = db.executeQuery(
      "MATCH (m:METHOD)<--(c) RETURN c.full_name").collect()
    assert(rev.map(_.getString(0)).toSeq === Seq("m.Person"))
    // bare arrow inside a pattern predicate
    val pred = db.executeQuery(
      "MATCH (n:sklearn) WHERE NOT (n)-->() RETURN n.full_name").collect()
    assert(pred.map(_.getString(0)).sorted.toSeq ===
      Seq("m.Person.greet", "m.util"))
    // a no-space negative comparison must STILL parse as a comparison
    // (null-propagating to zero rows here), never as a pattern arrow
    val cmp = db.executeQuery(
      "MATCH (n:sklearn) WHERE n.name<-1 RETURN count(n) AS c").collect()
    assert(cmp(0).getLong(0) === 0L)
  }

  test("WITH DISTINCT dedups the pipe before downstream aggregation") {
    val out = chainDb.executeQuery(
      "MATCH (s:CLASS {name: 'a'})-[:INHERITS*]->(t) " +
        "WITH DISTINCT t RETURN count(t) AS n").collect()
    assert(out(0).getLong(0) === 4L) // 6 paths, 4 distinct targets
    // WITH DISTINCT alongside aggregation is the no-op Neo4j accepts
    // (r18): the grouped pipe is already one row
    val noop = chainDb.executeQuery("MATCH (s:CLASS)-[:INHERITS]->(t) " +
      "WITH DISTINCT count(t) AS n RETURN n").collect()
    assert(noop.map(_.getLong(0)).toSeq === Seq(5L)) // 5 edges, one row
  }

  private lazy val cycleDb = {
    val d = GraphDatabase.inMemory(spark)
    // two orders sharing two parts; a third sharing only one
    for (o <- Seq("o1", "o2", "o3")) d.addNode("t", Kind.Class, o, Map("name" -> o))
    for (p <- Seq("p1", "p2")) d.addNode("t", Kind.Function, p, Map("name" -> p))
    d.addEdge("t", "o1", Rel.Call, "p1"); d.addEdge("t", "o1", Rel.Call, "p2")
    d.addEdge("t", "o2", Rel.Call, "p1"); d.addEdge("t", "o2", Rel.Call, "p2")
    d.addEdge("t", "o3", Rel.Call, "p1")
    d.commit()
    d
  }

  test("cycle patterns: a repeated variable closes the chain; rel-uniqueness " +
    "keeps one edge from binding twice") {
    // diamond closed back on o1: pairs of orders sharing TWO parts.
    // Rel-uniqueness forces p1 <> p2 (else the two hops through o1 bind
    // the same edge), so o3 (one shared part) never qualifies.
    val out = cycleDb.executeQuery(
      "MATCH (o1:CLASS)-[:CALL]->(p1)<-[:CALL]-(o2:CLASS)-[:CALL]->(p2)<-[:CALL]-(o1) " +
        "WHERE o1.name < o2.name " +
        "RETURN o1.name AS a, o2.name AS b, count(*) AS paths").collect()
    assert(out.length === 1)
    val r = out(0)
    assert((r.getString(0), r.getString(1)) === (("o1", "o2")))
    assert(r.getLong(2) === 2L) // (p1,p2) and (p2,p1)
    // the UN-closed diamond head (pairs sharing ≥1 part): o3 appears
    val open = cycleDb.executeQuery(
      "MATCH (x:CLASS)-[:CALL]->(q1)<-[:CALL]-(y:CLASS) " +
        "WHERE x.name < y.name RETURN DISTINCT x.name, y.name").collect()
    assert(open.length === 3) // (o1,o2) (o1,o3) (o2,o3)
  }

  test("a later MATCH may share ANY bound variable, not just its head") {
    val out = cycleDb.executeQuery(
      "MATCH (a:CLASS {name: 'o1'})-[:CALL]->(p) " +
        "MATCH (b:CLASS {name: 'o2'})-[:CALL]->(p) " +
        "RETURN p.name AS shared ORDER BY shared").collect()
    // the second clause anchors on p (its LAST position, not the head)
    assert(out.map(_.getString(0)).toSeq === Seq("p1", "p2"))
  }

  test("back-and-forth over one edge is excluded by rel-uniqueness") {
    // (a)-[:CALL]->(p)<-[:CALL]-(a): both hops would need the SAME edge
    // (a, CALL, p) — Neo4j returns nothing, and so does the engine
    val out = cycleDb.executeQuery(
      "MATCH (a:CLASS {name: 'o3'})-[:CALL]->(p)<-[:CALL]-(a) " +
        "RETURN a.name").collect()
    assert(out.isEmpty)
  }

  // ---- r18 verdict task #1: DISTINCT-qualified aggregates ----

  test("r18: count(DISTINCT prop) skips nulls; count(DISTINCT) vs " +
    "count multiplicity") {
    // fixture: file_path set only on module m; 4 sklearn nodes total
    val out = db.executeQuery(
      "MATCH (n:sklearn) RETURN count(DISTINCT n.file_path) AS fp, " +
        "count(n.file_path) AS fpAll, count(*) AS rows").collect()
    assert(out.length === 1)
    assert(out(0).getLong(0) === 1L) // one distinct non-null file_path
    assert(out(0).getLong(1) === 1L)
    assert(out(0).getLong(2) === 4L)
  }

  test("r18: avg(DISTINCT expr) of an all-null group is null, not a " +
    "divide-by-zero; RETURN DISTINCT with aggregation is the no-op " +
    "Neo4j accepts") {
    // code is non-numeric ('…') on the only node carrying it — the
    // double cast nulls every input, count_distinct reads 0, and the
    // guarded ratio returns SQL's NULL instead of tripping ANSI
    // divide-by-zero
    val out = db.executeQuery(
      "MATCH (n:sklearn) RETURN DISTINCT count(*) AS rows, " +
        "avg(DISTINCT n.code) AS nocode").collect()
    assert(out.length === 1)
    assert(out(0).getLong(0) === 4L)
    assert(out(0).isNullAt(1))
  }

  test("r18: collect(DISTINCT expr) is the sorted set; WITH pipes " +
    "carry DISTINCT aggregates") {
    val out = db.executeQuery(
      "MATCH (c:CLASS {name: 'Person'})-[:HAS_METHOD]->(m:METHOD) " +
        "WITH count(DISTINCT toUpper(m.name)) AS k, " +
        "collect(DISTINCT toUpper(m.name)) AS names " +
        "RETURN k, names").collect()
    assert(out.length === 1)
    assert(out(0).getLong(0) === 1L)
    assert(out(0).getSeq[String](1) === Seq("GREET"))
  }

  // ---- r18 verdict task #3: pattern predicates under OR ----

  test("r18: a pattern predicate under OR filters as a disjunction " +
    "(flag plan), both sides load-bearing") {
    val out = db.executeQuery(
      "MATCH (x:sklearn) WHERE (x)-[:HAS_METHOD]->() OR " +
        "x.name = 'util' RETURN x.full_name AS fn ORDER BY fn").collect()
    // m.Person via the pattern side, m.util via the boolean side
    assert(out.map(_.getString(0)).toSeq === Seq("m.Person", "m.util"))
  }

  test("r18: NOT-pattern under OR negates the existence flag") {
    val out = db.executeQuery(
      "MATCH (x:sklearn) WHERE NOT (x)-[:CONTAINS]->() OR " +
        "x.name = 'm' RETURN x.full_name AS fn ORDER BY fn").collect()
    // only m has an outgoing CONTAINS — it re-enters via the OR's
    // boolean side, so all four nodes survive
    assert(out.map(_.getString(0)).toSeq ===
      Seq("m", "m.Person", "m.Person.greet", "m.util"))
  }

  test("r18: pure-conjunction pattern WHEREs keep the semi/anti-join " +
    "plan (no flag column leaks into the output)") {
    val df = db.executeQuery(
      "MATCH (x:sklearn) WHERE (x)-[:HAS_METHOD]->() AND " +
        "x.name = 'Person' RETURN x.full_name AS fn")
    assert(!df.queryExecution.executedPlan.toString.contains("__ppf_"),
      "AND-only pattern predicates must not pay the flag join")
    assert(df.collect().map(_.getString(0)).toSeq === Seq("m.Person"))
  }

  // ---- r18 verdict task #2: CALL { … } after a pipe ----

  test("r18: CALL after a WITH+UNWIND boundary imports the carried " +
    "variable; outputs enter the pipe scope") {
    val out = db.executeQuery(
      "MATCH (c:CLASS) WITH c UNWIND [1, 2] AS i " +
        "CALL { WITH c MATCH (c)-[:HAS_METHOD]->(m2) " +
        "RETURN count(m2) AS mc } " +
        "RETURN c.name AS cls, i, mc ORDER BY i").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq === Seq(("Person", 1L, 1L), ("Person", 2L, 1L)))
  }

  test("r18: CALL import of a plain pipe column (not a carried node) " +
    "raises the designed error") {
    val ex = intercept[IllegalArgumentException] {
      db.executeQuery(
        "MATCH (c:CLASS) WITH c.name AS nm " +
          "CALL { WITH nm MATCH (x:sklearn) RETURN count(x) AS k } " +
          "RETURN nm, k").collect()
    }
    assert(ex.getMessage.contains("unbound variable 'nm'"))
  }

  // ---- r18 verdict task #4: UNWIND before shortestPath ----

  test("r18: UNWIND seeds shortestPath; off-graph seeds bind nothing " +
    "and the seed variable reads the start key") {
    val out = db.executeQuery(
      "UNWIND ['m', 'm.Person', 'nope'] AS x " +
        "MATCH p = shortestPath((a {full_name: x})-[:CONTAINS|HAS_METHOD*]->(b)) " +
        "RETURN x AS anchor, b.full_name AS v, length(p) AS d " +
        "ORDER BY anchor, v").collect()
    assert(out.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSeq === Seq(
        ("m", "m.Person", 1L), ("m", "m.Person.greet", 2L),
        ("m.Person", "m.Person.greet", 1L)))
  }

  test("r18: duplicate UNWIND seed values before shortestPath raise " +
    "(the frontier is keyed by start)") {
    val ex = intercept[IllegalArgumentException] {
      db.executeQuery(
        "UNWIND ['m', 'm'] AS x " +
          "MATCH p = shortestPath((a {full_name: x})-[:CONTAINS*]->(b)) " +
          "RETURN b.full_name").collect()
    }
    assert(ex.getMessage.contains("duplicate UNWIND seed"))
  }
}
