package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.Assertions._

import graft.api.GraphDatabase
import graft.store.Snapshot

/** A `GraphDatabase` session on both arms: the default row budget, under
  * which the driver holds each version's nodes and edges, and a budget of
  * 0, under which they stay parquet-backed (persisted) or pinned (in
  * memory). */
object DatabaseArms {
  import TestSpark.spark

  private val Arms = Seq(IngestArms.Driver, IngestArms.Distributed)

  /** Runs `body` on a fresh in-memory database under each arm and fails
    * unless the two end with the same nodes, edges and locations, schemas
    * (nullability included) and rows. */
  def inMemory(body: GraphDatabase => Unit): Unit =
    run(_ => GraphDatabase.inMemory(spark))((db, _) => body(db))

  /** [[inMemory]] for a database persisted in a fresh directory, which
    * `body` gets too. */
  def persisted(body: (GraphDatabase, String) => Unit): Unit =
    run(GraphDatabase.open(spark, _))(body)

  private def run(make: String => GraphDatabase)(
      body: (GraphDatabase, String) => Unit): Unit = {
    val tmp = Files.createTempDirectory("graft-db-arms")
    try {
      val Seq(held, stored) = Arms.map { arm =>
        IngestArms.under(arm) {
          val dir = s"$tmp/${arm.name}"
          val db = make(dir)
          body(db, dir)
          tables(db)
        }
      }
      Seq("nodes", "edges", "locations").zip(held.zip(stored))
        .foreach { case (t, (h, s)) =>
          assert(h.schema === s.schema, s"$t: schemas differ")
          IngestArms.sameRows(t, h, s)
        }
    } finally scala.reflect.io.Directory(tmp.toFile).deleteRecursively()
  }

  /** The database's nodes, edges and locations. */
  def tables(db: GraphDatabase): Seq[DataFrame] =
    Seq(db.nodes, db.edges, db.locations)

  /** Fails unless `a` and `b` hold the same rows in every table, each
    * compared in the columns a snapshot stores. */
  def sameRows(a: GraphDatabase, b: GraphDatabase): Unit =
    Seq("nodes", "edges", "locations").zip(tables(a).zip(tables(b)))
      .foreach { case (t, (x, y)) =>
        def stored(df: DataFrame) =
          df.select(Snapshot.schema(t).fieldNames.toSeq.map(col): _*)
        IngestArms.sameRows(t, stored(x), stored(y))
      }
}
