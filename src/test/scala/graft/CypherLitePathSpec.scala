package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import graft.api.GraphDatabase
import graft.model._

/** r12 — path variables in plain MATCH: `p = (a)-[:R*m..n]->(b)` with
  * nodes(p) / relationships(p) / length(p) projections (the one common
  * Cypher family that still raised after r11; shortestPath's `p` only
  * carried length). */
class CypherLitePathSpec extends AnyFunSuite {
  import TestSpark.spark

  private lazy val diamond = {
    val d = GraphDatabase.inMemory(spark)
    d.addEdge("t", "a", Rel.Call, "b1"); d.addEdge("t", "b1", Rel.Call, "c")
    d.addEdge("t", "a", Rel.Call, "b2"); d.addEdge("t", "b2", Rel.Call, "c")
    d.commit(); d
  }

  test("p over a var-length hop: nodes/relationships/length, one row per path") {
    val out = diamond.executeQuery(
      "MATCH p = (x {full_name: 'a'})-[:CALL*1..2]->(y {full_name: 'c'}) " +
        "RETURN length(p) AS len, nodes(p) AS ns, relationships(p) AS rs")
      .collect()
    assert(out.length === 2) // a->b1->c and a->b2->c
    val paths = out.map { r =>
      (r.getLong(0), r.getSeq[String](1).toList,
        r.getSeq[Row](2).map(e =>
          (e.getString(0), e.getString(1), e.getString(2))).toList)
    }.sortBy(_._2.mkString)
    assert(paths(0)._1 === 2L && paths(1)._1 === 2L)
    assert(paths.map(_._2) === Seq(
      List("a", "b1", "c"), List("a", "b2", "c")))
    assert(paths(0)._3 === List(("a", Rel.Call, "b1"), ("b1", Rel.Call, "c")))
    assert(paths(1)._3 === List(("a", Rel.Call, "b2"), ("b2", Rel.Call, "c")))
  }

  test("relationships(p) carries PER-EDGE types under alternation") {
    val d = GraphDatabase.inMemory(spark)
    d.addEdge("t", "m", Rel.Contains, "k")
    d.addEdge("t", "k", Rel.HasMethod, "f")
    d.commit()
    val out = d.executeQuery(
      "MATCH p = (x {full_name: 'm'})-[:CONTAINS|HAS_METHOD*2]->(y) " +
        "RETURN relationships(p) AS rs").collect()
    assert(out.length === 1)
    val types = out(0).getSeq[Row](0).map(_.getString(1)).toList
    assert(types === List(Rel.Contains, Rel.HasMethod))
  }

  test("p spans MIXED fixed and var-length hops in one chain") {
    val d = GraphDatabase.inMemory(spark)
    d.addEdge("t", "m", Rel.Contains, "k")
    d.addEdge("t", "k", Rel.HasMethod, "f")
    d.commit()
    val out = d.executeQuery(
      "MATCH p = (x {full_name: 'm'})-[:CONTAINS]->(y)-[:HAS_METHOD*1..2]->(z) " +
        "RETURN nodes(p) AS ns, length(p) AS len").collect()
    assert(out.length === 1)
    assert(out(0).getSeq[String](0).toList === List("m", "k", "f"))
    assert(out(0).getLong(1) === 2L)
  }

  test("zero-length leg: *0..1 binds the same node with an empty path") {
    val out = diamond.executeQuery(
      "MATCH p = (x {full_name: 'a'})-[:CALL*0..1]->(y) " +
        "RETURN y.full_name AS y, length(p) AS len, size(nodes(p)) AS nn " +
        "ORDER BY len, y").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    assert(out.toSeq === Seq(("a", 0L, 1), ("b1", 1L, 2), ("b2", 1L, 2)))
  }

  test("length(p) works in WHERE; head/last project path endpoints") {
    val out = diamond.executeQuery(
      "MATCH p = (x {full_name: 'a'})-[:CALL*1..2]->(y) " +
        "WHERE length(p) = 2 " +
        "RETURN head(nodes(p)) AS h, last(nodes(p)) AS l").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(out.toSeq === Seq(("a", "c"), ("a", "c")))
  }

  test("single-node path: p = (a) has length 0 and one node") {
    val out = diamond.executeQuery(
      "MATCH p = (x {full_name: 'b1'}) " +
        "RETURN length(p) AS len, nodes(p) AS ns").collect()
    assert(out.length === 1)
    assert(out(0).getLong(0) === 0L)
    assert(out(0).getSeq[String](1).toList === List("b1"))
  }

  test("shortestPath: nodes(p)/relationships(p) reconstruct ONE " +
      "deterministic shortest path (min-predecessor tie-break)") {
    val out = diamond.executeQuery(
      "MATCH p = shortestPath((x {full_name: 'a'})-[:CALL*]->" +
        "(y {full_name: 'c'})) " +
        "RETURN length(p) AS len, nodes(p) AS ns, relationships(p) AS rs")
      .collect()
    assert(out.length === 1) // ONE path per endpoint pair, Neo4j's rule
    assert(out(0).getLong(0) === 2L)
    // two shortest paths exist (via b1, via b2); the min-predecessor
    // parent rule deterministically picks b1
    assert(out(0).getSeq[String](1).toList === List("a", "b1", "c"))
    assert(out(0).getSeq[Row](2).map(e =>
        (e.getString(0), e.getString(1), e.getString(2))).toList ===
      List(("a", Rel.Call, "b1"), ("b1", Rel.Call, "c")))
  }

  test("shortestPath reversed arrow: pattern-order nodes, physical rels") {
    val out = diamond.executeQuery(
      "MATCH p = shortestPath((y {full_name: 'c'})<-[:CALL*]-" +
        "(x {full_name: 'a'})) " +
        "RETURN nodes(p) AS ns, relationships(p) AS rs").collect()
    assert(out.length === 1)
    // pattern order runs y → x even though the edges point x → y
    assert(out(0).getSeq[String](0).toList === List("c", "b1", "a"))
    // rel structs keep PHYSICAL orientation
    assert(out(0).getSeq[Row](1).map(e =>
        (e.getString(0), e.getString(2))).toList ===
      List(("b1", "c"), ("a", "b1")))
  }

  test("allShortestPaths: BOTH shortest paths of the diamond, one row " +
      "each; longer paths never appear") {
    val d = GraphDatabase.inMemory(spark)
    // diamond a→{b1,b2}→c plus a LONGER route a→x→y→c (must not appear)
    d.addEdge("t", "a", Rel.Call, "b1"); d.addEdge("t", "b1", Rel.Call, "c")
    d.addEdge("t", "a", Rel.Call, "b2"); d.addEdge("t", "b2", Rel.Call, "c")
    d.addEdge("t", "a", Rel.Call, "x"); d.addEdge("t", "x", Rel.Call, "y")
    d.addEdge("t", "y", Rel.Call, "c")
    d.commit()
    val out = d.executeQuery(
      "MATCH p = allShortestPaths((s {full_name: 'a'})-[:CALL*]->" +
        "(t {full_name: 'c'})) " +
        "RETURN length(p) AS len, nodes(p) AS ns").collect()
    assert(out.length === 2) // one row PER shortest path
    val ns = out.map(_.getSeq[String](1).toList).sortBy(_.mkString)
    assert(ns.toList === List(List("a", "b1", "c"), List("a", "b2", "c")))
    assert(out.forall(_.getLong(0) === 2L))
    // and shortestPath on the same pattern returns exactly ONE
    val one = d.executeQuery(
      "MATCH p = shortestPath((s {full_name: 'a'})-[:CALL*]->" +
        "(t {full_name: 'c'})) RETURN nodes(p) AS ns").collect()
    assert(one.length === 1)
  }

  test("r13: reversed SINGLE hop — pattern-order nodes, physical rels") {
    val out = diamond.executeQuery(
      "MATCH p = (y {full_name: 'c'})<-[:CALL]-(x) " +
        "RETURN nodes(p) AS ns, relationships(p) AS rs, length(p) AS len")
      .collect()
    assert(out.length === 2)
    val paths = out.map { r =>
      (r.getSeq[String](0).toList,
        r.getSeq[Row](1).map(e =>
          (e.getString(0), e.getString(1), e.getString(2))).toList,
        r.getLong(2))
    }.sortBy(_._1.mkString)
    assert(paths.map(_._1) === Seq(List("c", "b1"), List("c", "b2")))
    // the relationship keeps its PHYSICAL endpoints (Neo4j entities do)
    assert(paths(0)._2 === List(("b1", Rel.Call, "c")))
    assert(paths(1)._2 === List(("b2", Rel.Call, "c")))
    assert(paths.forall(_._3 == 1L))
  }

  test("r13: reversed VAR-LENGTH hop — edges and interior nodes reversed " +
      "into pattern order") {
    val out = diamond.executeQuery(
      "MATCH p = (y {full_name: 'c'})<-[:CALL*2]-(x {full_name: 'a'}) " +
        "RETURN nodes(p) AS ns, relationships(p) AS rs").collect()
    assert(out.length === 2)
    val paths = out.map { r =>
      (r.getSeq[String](0).toList,
        r.getSeq[Row](1).map(e =>
          (e.getString(0), e.getString(1), e.getString(2))).toList)
    }.sortBy(_._1.mkString)
    assert(paths.map(_._1) === Seq(
      List("c", "b1", "a"), List("c", "b2", "a")))
    assert(paths(0)._2 === List(("b1", Rel.Call, "c"), ("a", Rel.Call, "b1")))
    assert(paths(1)._2 === List(("b2", Rel.Call, "c"), ("a", Rel.Call, "b2")))
  }

  test("reversed UNBOUNDED var-length hop: nodes(p) and relationships(p) " +
      "in pattern order, r in edge-chain order") {
    val out = diamond.executeQuery(
      "MATCH p = (y {full_name: 'c'})<-[r:CALL*]-(x) " +
        "RETURN nodes(p) AS ns, relationships(p) AS rs, r").collect()
    def rels(row: Row, i: Int) = row.getSeq[Row](i).map(e =>
      (e.getString(0), e.getString(1), e.getString(2))).toList
    val got = out.map(row => (row.getSeq[String](0).toList, rels(row, 1),
      rels(row, 2))).toSeq.sortBy(_._1.mkString(","))
    val (ab1, b1c) = (("a", Rel.Call, "b1"), ("b1", Rel.Call, "c"))
    val (ab2, b2c) = (("a", Rel.Call, "b2"), ("b2", Rel.Call, "c"))
    // every path into c: c <- b1, c <- b1 <- a, c <- b2, c <- b2 <- a
    assert(got === Seq(
      (List("c", "b1"), List(b1c), List(b1c)),
      (List("c", "b1", "a"), List(b1c, ab1), List(ab1, b1c)),
      (List("c", "b2"), List(b2c), List(b2c)),
      (List("c", "b2", "a"), List(b2c, ab2), List(ab2, b2c))))
  }

  test("r13: OPTIONAL MATCH path variable — bound when matched, NULL " +
      "when the optional pattern finds nothing") {
    val hit = diamond.executeQuery(
      "MATCH (x {full_name: 'a'}) OPTIONAL MATCH p = (x)-[:CALL*1..2]->" +
        "(y {full_name: 'c'}) RETURN length(p) AS len ORDER BY len")
      .collect()
    assert(hit.length === 2 && hit.forall(_.getLong(0) == 2L))
    val miss = diamond.executeQuery(
      "MATCH (x {full_name: 'c'}) OPTIONAL MATCH p = (x)-[:CALL]->(y) " +
        "RETURN x.full_name AS x, length(p) AS len").collect()
    assert(miss.length === 1)
    assert(miss(0).getString(0) === "c" && miss(0).isNullAt(1))
  }

  test("r13: whole-variable projection of a VAR-LENGTH relationship " +
      "variable returns the relationship LIST") {
    val out = diamond.executeQuery(
      "MATCH (x {full_name: 'a'})-[r:CALL*1..2]->(y {full_name: 'c'}) " +
        "RETURN r, size(r) AS n").collect()
    assert(out.length === 2)
    out.foreach { row =>
      val rels = row.getSeq[Row](0).map(e =>
        (e.getString(0), e.getString(1), e.getString(2))).toList
      assert(rels.size === 2 && row.getLong(1) === 2L)
      assert(rels.head._1 === "a" && rels.last._3 === "c")
      assert(rels.forall(_._2 == Rel.Call))
    }
    // single-hop r stays a relationship ENTITY (src/rel_type/dst cols)
    val one = diamond.executeQuery(
      "MATCH (x {full_name: 'a'})-[r:CALL]->(y {full_name: 'b1'}) " +
        "RETURN r").collect()
    assert(one.length === 1 && one(0).length === 3)
  }

  test("r13: quoted property literals survive the path-fn rewrite") {
    val d = GraphDatabase.inMemory(spark)
    d.addEdge("t", "src1", Rel.Call, "length(p)")
    d.commit()
    val out = d.executeQuery(
      "MATCH p = (x)-[:CALL]->(y {full_name: 'length(p)'}) " +
        "RETURN y.full_name AS y, length(p) AS len").collect()
    assert(out.length === 1)
    assert(out(0).getString(0) === "length(p)" && out(0).getLong(1) === 1L)
  }

  test("r13 negatives: unknown path var raises; a path var colliding " +
      "with a variable bound in ANOTHER clause raises") {
    intercept[Exception] {
      diamond.executeQuery(
        "MATCH (x {full_name: 'a'})-[:CALL]->(y) RETURN nodes(q)").collect()
    }
    intercept[Exception] {
      diamond.executeQuery(
        "MATCH p = (x {full_name: 'a'})-[:CALL]->(y) " +
          "MATCH (p)-[:CALL]->(z) RETURN length(p)").collect()
    }
  }
}
