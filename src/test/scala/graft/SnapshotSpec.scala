package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.api.GraphDatabase
import graft.store.Snapshot

/** `Snapshot.read` declares the tables' schemas instead of inferring them
  * from the parquet footers. */
class SnapshotSpec extends AnyFunSuite {
  import TestSpark.spark

  private val repo =
    getClass.getClassLoader.getResource("fixture_repo").getPath

  private def inTemp[T](body: String => T): T = {
    val tmp = Files.createTempDirectory("graft-snapshot")
    try body(s"$tmp/db")
    finally scala.reflect.io.Directory(tmp.toFile).deleteRecursively()
  }

  /** A database directory holding `fixture_repo` ingested on `arm`. */
  private def ingested[T](arm: IngestArms.Arm)(
      body: (GraphDatabase, String) => T): T = inTemp { dir =>
    val db = GraphDatabase.open(spark, dir)
    IngestArms.under(arm)(db.indexRepo(repo, "t1"))
    body(db, dir)
  }

  test("reading a snapshot back runs no job") {
    import JobRecorder.{jobs, recorded}
    ingested(IngestArms.Driver) { (_, dir) =>
      assert(jobs(recorded(spark)(Snapshot.read(spark, dir))._2) === 0)
    }
  }

  test("the declared schemas read what the inferred read does, from " +
      "either arm's ingest, after a commit and from a direct write") {
    def rows(df: DataFrame) =
      df.collect().toSeq.groupBy(identity).view.mapValues(_.size).toMap
    def agree(dir: String): Unit = {
      val declared = Snapshot.read(spark, dir)
      val inferred = Seq(
        spark.read.parquet(s"$dir/nodes").drop("part_task"),
        spark.read.parquet(s"$dir/edges"),
        spark.read.parquet(s"$dir/locations"))
      Seq(declared.nodes, declared.edges, declared.locations).zip(inferred)
        .foreach { case (d, i) =>
          assert(d.schema === i.schema)
          assert(rows(d) === rows(i))
        }
    }
    ingested(IngestArms.Distributed)((_, dir) => agree(dir))
    ingested(IngestArms.Driver) { (db, dir) =>
      agree(dir)
      db.addEdge("t2", "main", "CALL", "folder1.file1.Base.run")
      db.commit()
      agree(dir)
    }
    // written as enrich returns the tables, edges' `dst` column first
    Seq(IngestArms.Driver, IngestArms.Distributed).foreach { arm =>
      val g = IngestArms.ingest(arm)(
        graft.indexer.IndexPipeline.readRepo(spark, repo), "t1")
      inTemp { dir =>
        Snapshot.write(Snapshot.GraphSnapshot(g.nodes, g.edges, g.locations),
          dir)
        agree(dir)
      }
    }
  }
}
