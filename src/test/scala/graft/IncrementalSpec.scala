package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.indexer.IndexPipeline
import graft.indexer.IndexPipeline.SourceFile

/** SURVEY.md §5.5 — incremental equivalence: v2 via D5 carry-forward +
  * partial re-index must be graph-isomorphic (modulo task labels) to a
  * full v2 re-index. */
class IncrementalSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val aV1 = "class A:\n    def m1(self):\n        pass\n"
  private val aV2 = "class A:\n    def m1(self):\n        pass\n    def m2(self):\n        pass\n"
  private val b = "class B:\n    def stable(self):\n        pass\n"

  test("carry-forward + partial re-index equals full re-index") {
    // v1: both files; v2: a.py changed, b.py untouched
    val v1Files = Seq(SourceFile("a.py", aV1), SourceFile("b.py", b)).toDS()
    val v2Files = Seq(SourceFile("a.py", aV2), SourceFile("b.py", b)).toDS()

    // full re-index of the v2 tree
    val full = IndexPipeline.enrich(
      IndexPipeline.indexFiles(spark, v2Files, "v2"), "v2")

    // incremental: v1 snapshot, carry-forward unchanged, re-index a.py only
    val v1 = IndexPipeline.enrich(
      IndexPipeline.indexFiles(spark, v1Files, "v1"), "v1")
    val carried = graft.ops.GraphOps.carryForward(v1.nodes, "v2", Seq("a.py"))
    val changedOnly = IndexPipeline.enrich(IndexPipeline.indexFiles(
      spark, v2Files.filter((f: SourceFile) => f.path == "a.py"), "v2"), "v2")
    // v2 view = carried unchanged-file nodes + re-indexed changed-file nodes
    val incNodes = carried
      .filter(array_contains(col("task_ids"), "v2") &&
        !(col("file_path") <=> lit("a.py")))
      .unionByName(changedOnly.nodes)
    val incEdges = v1.edges
      .join(v1.nodes.filter(col("file_path") === "a.py")
        .select(col("full_name")).withColumnRenamed("full_name", "src"),
        Seq("src"), "left_anti")
      .unionByName(changedOnly.edges)

    // graph-isomorphism modulo task labels
    def canonNodes(df: org.apache.spark.sql.DataFrame) =
      df.select("full_name", "kind", "name", "file_path", "signature")
        .collect().map(_.toString).toSet
    def canonEdges(df: org.apache.spark.sql.DataFrame) =
      df.select("src", "rel_type", "dst").collect().map(_.toString).toSet
    assert(canonNodes(incNodes) === canonNodes(full.nodes))
    assert(canonEdges(incEdges) === canonEdges(full.edges))
    // and the new method exists only in v2
    assert(full.nodes.filter(col("full_name") === "a.A.m2").count() === 1)
  }

  test("D6: two real commits drive updateVersion end-to-end") {
    import scala.sys.process._
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graftgit").toFile
    def sh(cmd: String*): String = Process(cmd, dir).!!
    def put(name: String, content: String): Unit =
      Files.write(Paths.get(dir.toString, name), content.getBytes("UTF-8"))
    put("a.py", aV1); put("b.py", b)
    sh("git", "init", "-q")
    sh("git", "config", "user.email", "t@example.com")
    sh("git", "config", "user.name", "t")
    sh("git", "add", "."); sh("git", "commit", "-qm", "v1")
    val c1 = sh("git", "rev-parse", "HEAD").trim
    // index v1 while the tree is at v1 (reference flow indexes, THEN the
    // repo moves and update_version bridges the two states)
    val db = graft.api.GraphDatabase.inMemory(spark)
    db.indexRepo(dir.toString, "v1")
    put("a.py", aV2)
    sh("git", "add", "."); sh("git", "commit", "-qm", "v2")
    val c2 = sh("git", "rev-parse", "HEAD").trim

    // the change list is extracted from git, not handed in
    assert(graft.indexer.GitChanges.changedFiles(dir.toString, c1, c2) === Seq("a.py"))
    db.updateVersionFromCommits("v1", "v2", dir.toString, c1, c2)

    // v2 view of the incremental db ≡ a full re-index of the v2 tree
    val full = IndexPipeline.run(spark, dir.toString, "v2")
    def canonNodes(df: org.apache.spark.sql.DataFrame) =
      df.select("full_name", "kind").collect().map(_.toString).toSet
    val v2View = db.nodes.filter(array_contains(col("task_ids"), "v2"))
    assert(canonNodes(v2View) === canonNodes(full.nodes))
    assert(v2View.filter(col("full_name") === "a.A.m2").count() === 1)
    // unchanged b.py carried BOTH tasks; changed a.py re-indexed under v2
    val bTasks = db.nodes.filter(col("full_name") === "b.B")
      .select("task_ids").as[Seq[String]].collect()(0)
    assert(bTasks.sorted === Seq("v1", "v2"))
  }

  test("D6: re-indexing an unchanged file replaces its locations") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graftloc")
    Files.write(dir.resolve("a.py"), aV1.getBytes("UTF-8"))
    Files.write(dir.resolve("b.py"), b.getBytes("UTF-8"))
    val db = graft.api.GraphDatabase.inMemory(spark)
    db.indexRepo(dir.toString, "v1")
    val before = db.locations.count()
    db.updateVersion("v1", "v2", Seq("b.py"), Some(dir.toString))
    assert(db.locations.count() === before)
  }
}
