package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.indexer.IndexPipeline

/** FIXTURES.md §1 — the committed fixture repo indexed end-to-end and
  * compared against checked-in golden node/edge dumps. Exercises D2
  * re-export chasing through `__init__.py`, relative-import levels,
  * wildcard imports, the syntax-error file, and the D4 closure. */
class FixtureRepoSpec extends AnyFunSuite {
  import TestSpark.spark

  private def resource(p: String): String =
    getClass.getClassLoader.getResource(p).getPath

  private lazy val ix = IngestArms.both(
    IndexPipeline.readRepo(spark, resource("fixture_repo")), "t1")

  private def golden(name: String): Seq[String] =
    scala.io.Source.fromFile(resource(s"golden/$name")).getLines().toSeq

  test("nodes match the golden dump") {
    val got = ix.nodes
      .select("full_name", "kind", "name", "file_path", "signature", "clazz")
      .orderBy("full_name").collect()
      .map(r => r.toSeq.map(v => if (v == null) "-" else v.toString).mkString(" | "))
      .toSeq
    assert(got === golden("fixture_nodes.txt"))
  }

  test("edges match the golden dump") {
    val got = ix.edges.select("src", "rel_type", "dst")
      .orderBy("src", "rel_type", "dst").collect()
      .map(_.toSeq.mkString(" | ")).toSeq
    assert(got === golden("fixture_edges.txt"))
  }

  test("re-export chasing: main's call lands on the definition (D2)") {
    val calls = ix.edges.filter(col("rel_type") === "CALL" && col("src") === "main.main")
      .select("dst").collect().map(_.getString(0)).toSet
    assert(calls.contains("folder1.file1.add_numbers"))
    // and no unresolved stub survives
    assert(ix.nodes.filter(col("full_name") === "folder1.add_numbers").count() === 0)
  }

  test("inherited call rebinding: greet() calls Base.increment (C11 approx)") {
    val dst = ix.edges.filter(col("rel_type") === "CALL"
      && col("src") === "folder1.file2.Person.greet")
      .select("dst").collect().map(_.getString(0)).toSet
    assert(dst === Set("folder1.file1.Base.increment"))
  }

  test("wildcard import containment (D2 B4-shape)") {
    val members = ix.edges.filter(col("rel_type") === "CONTAINS"
      && col("src") === "folder2.file3")
      .select("dst").collect().map(_.getString(0)).toSet
    assert(members.contains("folder1.file1.Base"))
    assert(members.contains("folder1.file1.add_numbers"))
  }

  test("syntax-error file yields an ERROR row, not an abort") {
    val errs = ix.locations.filter(col("kind") === "ERROR")
      .select("symbolFullName").collect().map(_.getString(0)).toSet
    assert(errs === Set("broken"))
  }

  test("the graph does not depend on the partition count of the input") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.groupBy(identity).view.mapValues(_.size).toMap
    def graph(parts: Int) = {
      val files = IndexPipeline.readRepo(spark, resource("fixture_repo"))
        .repartition(parts)
      val g = IngestArms.both(files, "t1")
      (rows(g.nodes), rows(g.edges), rows(g.locations))
    }
    val (n1, e1, l1) = graph(1)
    val (n7, e7, l7) = graph(7)
    assert(n1 === n7)
    assert(e1 === e7)
    assert(l1 === l7)
  }

  test("ingest leaves no cached plan behind") {
    // the cache manager is session-global: other suites' leftovers must
    // not mask (or fake) this ingest's own leak
    spark.sqlContext.clearCache()
    graft.api.GraphDatabase.inMemory(spark)
      .indexRepo(resource("fixture_repo"), "t1")
    assert(spark.sharedState.cacheManager.isEmpty,
      "indexRepo left plans in the cache manager")
  }
}
