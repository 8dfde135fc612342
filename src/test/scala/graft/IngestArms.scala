package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.scalatest.Assertions._

import graft.indexer.IndexPipeline
import graft.indexer.IndexPipeline.{Indexed, SourceFile}
import graft.ops.Bounded

/** The ingest, `enrich(indexFiles(files))`, on a chosen arm: the driver
  * merge and enrich at the default row budget, or the Spark shuffles and
  * joins, which a budget of 0 forces. */
object IngestArms {

  final case class Arm(name: String, budget: Int)
  val Driver: Arm = Arm("driver", Bounded.DefaultRows)
  val Distributed: Arm = Arm("distributed", 0)

  private val Key = "spark.graft.localThreshold"

  /** Runs `body` with `spark.graft.localThreshold` set to the arm's
    * budget, then restores the key: every spec picks a driver-kernel or
    * distributed arm through this session key, never a parameter. */
  def under[T](arm: Arm)(body: => T): T = {
    val conf = TestSpark.spark.conf
    val prev = conf.getOption(Key)
    conf.set(Key, arm.budget.toString)
    try body
    finally prev.fold(conf.unset(Key))(conf.set(Key, _))
  }

  def indexFiles(arm: Arm)(files: Dataset[SourceFile],
      taskId: String): Indexed =
    under(arm)(IndexPipeline.indexFiles(TestSpark.spark, files, taskId))

  def ingest(arm: Arm)(files: Dataset[SourceFile], taskId: String): Indexed =
    under(arm)(IndexPipeline.enrich(
      IndexPipeline.indexFiles(TestSpark.spark, files, taskId), taskId))

  /** Indexes `files` on both arms and fails unless the merged nodes,
    * edges, locations and imports agree row for row. Returns the driver
    * arm's tables. */
  def indexed(files: Dataset[SourceFile], taskId: String): Indexed =
    merged(files, taskId)._1

  /** Ingests `files` on both arms and fails unless the merged tables and
    * the enriched nodes, edges and locations agree row for row. Returns
    * the driver arm's graph. */
  def both(files: Dataset[SourceFile], taskId: String): Indexed = {
    val (driver, distributed) = merged(files, taskId)
    // enrich follows each merge's arm; at budget 0 the distributed arm's
    // C3 linearization takes its Spark fixpoint too
    val graph = IndexPipeline.enrich(driver, taskId)
    same(graph, under(Distributed)(IndexPipeline.enrich(distributed, taskId)))
    graph
  }

  private def merged(files: Dataset[SourceFile], taskId: String)
      : (Indexed, Indexed) = {
    val driver = indexFiles(Driver)(files, taskId)
    val distributed = indexFiles(Distributed)(files, taskId)
    same(driver, distributed)
    same("imports", driver.imports, distributed.imports)
    (driver, distributed)
  }

  /** Fails unless `a` and `b` have the same nodes (every column), edges
    * (with props) and locations, schemas included. */
  def same(a: Indexed, b: Indexed): Unit = {
    same("nodes", a.nodes, b.nodes)
    same("edges", a.edges, b.edges)
    same("locations", a.locations, b.locations)
  }

  /** Fails unless `a` and `b` have the same schema and rows. */
  def same(what: String, a: DataFrame, b: DataFrame): Unit = {
    def shape(df: DataFrame) = df.schema.map(f => (f.name, f.dataType))
    assert(shape(a) === shape(b), s"$what: schemas differ")
    sameRows(what, a, b)
  }

  /** Fails unless `a` and `b` have the same rows, counted with
    * multiplicity. */
  def sameRows(what: String, a: DataFrame, b: DataFrame): Unit = {
    def rows(df: DataFrame) =
      df.collect().toSeq.groupBy(identity).view.mapValues(_.size).toMap
    val (ra, rb) = (rows(a), rows(b))
    val differ = (ra.keySet ++ rb.keySet)
      .filter(r => ra.getOrElse(r, 0) != rb.getOrElse(r, 0))
    assert(differ.isEmpty, s"$what differ (row -> first count, second " +
      "count):\n" + differ.toSeq
        .map(r => s"$r -> ${ra.getOrElse(r, 0)}, ${rb.getOrElse(r, 0)}")
        .sorted.mkString("\n"))
  }
}
