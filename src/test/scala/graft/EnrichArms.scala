package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.Assertions._

import graft.indexer.IndexPipeline
import graft.indexer.IndexPipeline.Indexed
import graft.ops.Bounded

/** [[IndexPipeline.enrich]] on a chosen arm: the driver pass at the
  * default row budget, or the distributed joins, which a budget of 0
  * forces. */
object EnrichArms {

  final case class Arm(name: String, budget: Int)
  val Driver: Arm = Arm("driver", Bounded.DefaultRows)
  val Distributed: Arm = Arm("distributed", 0)

  private val Key = "spark.graft.localThreshold"

  def enrich(arm: Arm)(ix: Indexed, taskId: String): Indexed = {
    val conf = ix.edges.sparkSession.conf
    val prev = conf.getOption(Key)
    conf.set(Key, arm.budget.toString)
    try IndexPipeline.enrich(ix, taskId)
    finally prev.fold(conf.unset(Key))(conf.set(Key, _))
  }

  /** Enriches `ix` on both arms and fails unless nodes (every column),
    * edges (with props) and locations agree row for row, schemas
    * included. Returns the driver arm's graph. */
  def both(ix: Indexed, taskId: String): Indexed = {
    val driver = enrich(Driver)(ix, taskId)
    val distributed = enrich(Distributed)(ix, taskId)
    def same(what: String, a: DataFrame, b: DataFrame): Unit = {
      def shape(df: DataFrame) = df.schema.map(f => (f.name, f.dataType))
      assert(shape(a) === shape(b), s"$what: schemas differ")
      def rows(df: DataFrame) =
        df.collect().toSeq.groupBy(identity).view.mapValues(_.size).toMap
      val (ra, rb) = (rows(a), rows(b))
      val differ = (ra.keySet ++ rb.keySet)
        .filter(r => ra.getOrElse(r, 0) != rb.getOrElse(r, 0))
      assert(differ.isEmpty, s"$what differ between the arms " +
        s"(row -> driver count, distributed count):\n" + differ.toSeq
          .map(r => s"$r -> ${ra.getOrElse(r, 0)}, ${rb.getOrElse(r, 0)}")
          .sorted.mkString("\n"))
    }
    same("nodes", driver.nodes, distributed.nodes)
    same("edges", driver.edges, distributed.edges)
    same("locations", driver.locations, distributed.locations)
    driver
  }
}
