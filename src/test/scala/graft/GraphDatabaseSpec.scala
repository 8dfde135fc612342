package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.api.GraphDatabase
import graft.indexer.IndexPipeline.SourceFile
import graft.model._

/** The facade must run the reference's workflows 1:1 (graphDB.py usage,
  * update_version.py walkthrough). Every write test runs on both arms
  * ([[DatabaseArms]]), which must end with the same tables. */
class GraphDatabaseSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("addNode/addEdge/commit: upsert, promotion, stubs, point read") {
    DatabaseArms.inMemory { db =>
      db.addNode("t1", Kind.None_, "m.C", Map("code" -> "v1"))
      db.addNode("t1", Kind.Class, "m.C", Map("signature" -> "class C:"))
      db.addEdge("t1", "m.C", Rel.HasMethod, "m.C.f")
      db.commit()
      val c = db.nodeByKey("m.C").collect()(0)
      assert(c.getAs[String]("kind") === Kind.Class)
      assert(c.getAs[String]("code") === "v1")
      assert(db.nodeByKey("m.C.f").collect()(0).getAs[String]("kind") === Kind.None_)
      // second commit with a prop update: last write wins, node count stable
      db.addNode("t1", Kind.Class, "m.C", Map("code" -> "v2"))
      db.commit()
      assert(db.nodeByKey("m.C").collect()(0).getAs[String]("code") === "v2")
      assert(db.nodes.count() === 2)
    }
  }

  test("expand + clearTaskData cascade") {
    DatabaseArms.inMemory { db =>
      db.addNode("t1", Kind.Class, "m.C")
      db.addNode("t1", Kind.Method, "m.C.f")
      db.addEdge("t1", "m.C", Rel.HasMethod, "m.C.f")
      db.commit()
      val out = db.expand(Rel.HasMethod, col("full_name") === "m.C").collect()
      assert(out.length === 1 && out(0).getAs[String]("dst_name") === "m.C.f")
      db.clearTaskData("t1")
      assert(db.nodes.count() === 0 && db.edges.count() === 0)
    }
  }

  test("persistent snapshot: write, reopen, same graph (atomic commit)") {
    DatabaseArms.persisted { (db, dir) =>
      db.addNode("t1", Kind.Class, "m.C")
      db.addEdge("t1", "m.C", Rel.HasMethod, "m.C.f")
      db.commit()
      val db2 = GraphDatabase.open(spark, dir)
      assert(db2.nodes.count() === 2)
      assert(db2.edges.count() === 1)
    }
  }

  test("updateVersion carries forward unchanged nodes (D5 walkthrough)") {
    DatabaseArms.inMemory { db =>
      db.addNode("t1", Kind.Class, "a.C", Map("file_path" -> "a.py"))
      db.addNode("t1", Kind.Class, "b.D", Map("file_path" -> "b.py"))
      db.commit()
      db.updateVersion("t1", "t2", changedFiles = Seq("a.py"))
      val tasks = db.nodes.select("full_name", "task_ids")
        .as[(String, Seq[String])].collect().toMap
      assert(tasks("a.C") === Seq("t1"))        // changed -> not carried
      assert(tasks("b.D") === Seq("t1", "t2"))  // unchanged -> carried
    }
  }

  test("updateNode: prop-only SET on existing node; missing node is a no-op") {
    DatabaseArms.inMemory { db =>
      db.addNode("t1", Kind.Class, "m.C", Map("code" -> "v1", "custom" -> "x"))
      db.commit()
      db.updateNode("m.C", Map("code" -> "v2", "custom" -> "y", "extra" -> "z"))
      val row = db.nodeByKey("m.C").collect()(0)
      assert(row.getAs[String]("code") === "v2")
      val props = row.getAs[Map[String, String]]("props")
      assert(props("custom") === "y" && props("extra") === "z")
      // unlike add_node, a miss creates nothing (graphDB.py:114-119)
      db.updateNode("m.Missing", Map("code" -> "nope"))
      assert(db.nodes.count() === 1)
    }
  }

  test("updateNode staging: interleaved add/update applies in call order") {
    DatabaseArms.inMemory { db =>
      // ADVICE r4: updates are STAGED (no snapshot rewrite per call) but the
      // seq-ordered LWW fold must preserve exact call order within a batch
      db.addNode("t1", Kind.Class, "m.C", Map("code" -> "v1"))
      db.updateNode("m.C", Map("code" -> "v2", "extra" -> "e1"))
      db.addNode("t1", Kind.Class, "m.C", Map("code" -> "v3"))
      db.updateNode("m.Ghost", Map("code" -> "x")) // never-create, same batch
      val row = db.nodeByKey("m.C").collect()(0)   // read flushes the batch
      assert(row.getAs[String]("code") === "v3")   // add AFTER update wins
      assert(row.getAs[Map[String, String]]("props")("extra") === "e1")
      assert(row.getAs[Seq[String]]("task_ids") === Seq("t1")) // no null task
      assert(db.nodes.count() === 1)               // ghost not created
      // update-before-add in a FRESH batch on a new key: still created by
      // the add, and the earlier update is a strict no-op (graphDB.py:114-119
      // — the node doesn't exist when the SET runs), so NONE of its fields
      // leak into the created node, not even ones the add leaves unset
      db.updateNode("m.D", Map("code" -> "early", "signature" -> "leak",
        "orphan" -> "leak"))
      db.addNode("t2", Kind.Class, "m.D", Map("code" -> "late"))
      val d = db.nodeByKey("m.D").collect()(0)
      assert(d.getAs[String]("code") === "late")
      assert(d.getAs[String]("signature") == null)
      assert(!d.getAs[Map[String, String]]("props").contains("orphan"))
      // ...but the same shape against a key the BASE snapshot already has
      // applies the update first, then the add merges over it
      db.updateNode("m.D", Map("signature" -> "applied"))
      db.addNode("t2", Kind.Class, "m.D", Map("code" -> "v2"))
      val d2 = db.nodeByKey("m.D").collect()(0)
      assert(d2.getAs[String]("code") === "v2")
      assert(d2.getAs[String]("signature") === "applied")
    }
  }

  test("updateNode after addEdge in one batch patches the edge's stub") {
    DatabaseArms.inMemory { db =>
      db.addEdge("t1", "m.A", Rel.Call, "m.B")
      db.updateNode("m.B", Map("code" -> "patched")) // stub exists when SET runs
      db.updateNode("m.C", Map("code" -> "nope"))    // no edge/add -> no-op
      val rows = db.nodes.select("full_name", "code", "task_ids")
        .as[(String, Option[String], Seq[String])].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(rows("m.B") === ((Some("patched"), Seq("t1")))) // patched, task kept
      assert(!rows.contains("m.C"))
      // update staged BEFORE the edge replays as a per-call no-op
      val db2 = GraphDatabase.inMemory(spark)
      db2.updateNode("m.B", Map("code" -> "early"))
      db2.addEdge("t1", "m.A", Rel.Call, "m.B")
      val b2 = db2.nodeByKey("m.B").collect()(0)
      assert(b2.getAs[String]("code") == null)
    }
  }

  test("mixed-task batch: nodes and stubs keep per-task attribution") {
    DatabaseArms.inMemory { db =>
      db.addNode("t1", Kind.Class, "m.A")
      db.addNode("t2", Kind.Class, "m.B")
      db.addNode("t1", Kind.Class, "m.Shared")
      db.addNode("t2", Kind.Class, "m.Shared")
      db.addEdge("t1", "m.A", Rel.HasMethod, "m.A.f") // -> stub m.A.f under t1
      db.addEdge("t2", "m.B", Rel.HasMethod, "m.B.g") // -> stub m.B.g under t2
      db.commit()
      val tasks = db.nodes.select("full_name", "task_ids")
        .as[(String, Seq[String])].collect().toMap
      assert(tasks("m.A") === Seq("t1"))
      assert(tasks("m.B") === Seq("t2"))          // NOT collapsed onto t1
      assert(tasks("m.Shared") === Seq("t1", "t2"))
      assert(tasks("m.A.f") === Seq("t1"))        // stub follows its edge's task
      assert(tasks("m.B.g") === Seq("t2"))
    }
  }

  test("methodsOf: the reference's flagship demo (B6 + B11 hydration)") {
    DatabaseArms.inMemory { db =>
      val files = Seq(SourceFile("p.py",
        "class P:\n    def hi(self):\n        return 1\n")).toDS()
      val ix = graft.indexer.IndexPipeline.indexFiles(spark, files, "t1")
      // seed via the staged API from the indexed tables
      ix.nodes.collect().foreach { r =>
        db.addNode("t1", r.getAs[String]("kind"), r.getAs[String]("full_name"),
          Option(r.getAs[String]("code")).map(c => Map("code" -> c)).getOrElse(Map.empty)
            ++ Option(r.getAs[String]("signature")).map(s => Map("signature" -> s)).getOrElse(Map.empty))
      }
      ix.edges.collect().foreach { r =>
        db.addEdge("t1", r.getAs[String]("src"), r.getAs[String]("rel_type"),
          r.getAs[String]("dst"))
      }
      db.commit()
      val fdf = files.toDF().withColumnRenamed("path", "file_path")
      val out = db.methodsOf("p.P", fdf).collect()
      assert(out.length === 1)
      assert(out(0).getAs[String]("name") === "hi")
      // Indentation is PRESERVED: methodsOf follows the reference's
      // process_string default is_indent=False (graphDB.py:228) — the demo
      // at graphDB.py:280-283 prints the method body with its class-level
      // indent intact. (extract_code_from_file's own default is_indent=True,
      // graphDB.py:208, is the de-indenting path — not the one used here.)
      assert(out(0).getAs[String]("code").startsWith("    def hi(self):"))
    }
  }

  test("an in-memory ingest pins its locations: they read a pinned leaf " +
      "of their own, not the ingest's event pin") {
    val repo = getClass.getClassLoader.getResource("fixture_repo").getPath
    val db = GraphDatabase.inMemory(spark)
    db.indexRepo(repo, "t1")
    val plan = db.locations.queryExecution.analyzed
    plan match {
      case leaf: org.apache.spark.sql.execution.LogicalRDD =>
        assert(leaf.rdd.isCheckpointed, plan.treeString)
      case other => fail("locations read a plan, not a pinned leaf:\n" +
        other.treeString)
    }
    assert(db.locations.count() > 0)
  }

  test("a persisted write's next read sees the version it wrote: " +
      "clearTaskData, deleteEdge, removeNodeProps, promoteNodeKind, " +
      "updateFilePath") {
    val repo = getClass.getClassLoader.getResource("fixture_repo").getPath
    def seeded(db: GraphDatabase): GraphDatabase = {
      db.indexRepo(repo, "t1")
      db.addNode("t2", Kind.Class, "m.C", Map("code" -> "c", "custom" -> "x"))
      db.addEdge("t2", "m.C", Rel.Call, "m.Stub")
      db.commit()
      db
    }
    val writes: Seq[(String, GraphDatabase => Unit)] = Seq(
      "clearTaskData" -> (_.clearTaskData("t2")),
      "deleteEdge" -> (_.deleteEdge("m.C", Rel.Call, "m.Stub")),
      "removeNodeProps" -> (_.removeNodeProps("m.C", Seq("code", "custom"))),
      "promoteNodeKind" -> (_.promoteNodeKind("m.Stub", Kind.Class)),
      "updateFilePath" -> (_.updateFilePath("folder1/")))
    for (arm <- Seq(IngestArms.Driver, IngestArms.Distributed);
         (name, write) <- writes) withClue(s"${arm.name} $name: ") {
      IngestArms.under(arm) {
        val tmp = java.nio.file.Files.createTempDirectory("graft-db-write")
        try {
          seeded(GraphDatabase.open(spark, s"$tmp/db"))
          // reopened, its frames read the directory's files
          val persisted = GraphDatabase.open(spark, s"$tmp/db")
          write(persisted)
          val memory = seeded(GraphDatabase.inMemory(spark))
          write(memory)
          DatabaseArms.sameRows(persisted, memory)
        } finally scala.reflect.io.Directory(tmp.toFile).deleteRecursively()
      }
    }
  }
}
