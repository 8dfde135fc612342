package graft

import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.util.SizeEstimator

import graft.api.{CypherWrite, GraphDatabase}

/** Ad-hoc plan auditor (test scope, not shipped):
  * `sbt "Test/runMain graft.PlanAudit q1_agg q2_join_agg"` prints the
  * formatted physical plan of each named declared query at sf0.001 —
  * the loop for checking pushdown/broadcast/codegen before committing a
  * query shape.
  *
  * `sbt "Test/runMain graft.PlanAudit --serve DB KEY DST CALLER"` prints
  * the plans and result rows of graphbench's `serve` shapes over the
  * snapshot directory `DB`, as the database holds it: a point read of
  * `KEY`, its CALL expand, a `*1..3` walk from `CALLER`, the shortest
  * path from `KEY` to `DST`, and the parsed statement of a `MERGE` of
  * `KEY`; first, the driver heap its held tables take (`SizeEstimator`).
  * The directory is only read. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    if (args.headOption.contains("--serve")) serve(spark, args.toSeq.tail)
    else {
      val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
      val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
      names.foreach { n =>
        println(s"\n===== $n =====")
        try SparkEntry.queries(n)(spark, dir).explain("formatted")
        catch { case e: Throwable => println(s"error: $e") }
      }
    }
    spark.stop()
  }

  private def serve(spark: org.apache.spark.sql.SparkSession,
      args: Seq[String]): Unit = {
    val Seq(dir, key, dst, caller) = args
    val db = GraphDatabase.open(spark, dir)
    // the first reads decide residency; the held rows' driver heap
    val held = Seq("nodes" -> db.nodes, "edges" -> db.edges).map {
      case (t, df) => t -> df.queryExecution.analyzed.collectFirst {
        case l: LocalRelation => SizeEstimator.estimate(l.data)
      }
    }
    println("held bytes: " + held.map { case (t, b) =>
      s"$t=${b.getOrElse("not held")}" }.mkString(" ") +
      s" total=${held.flatMap(_._2).sum}")
    val reads = ServeShapes.reads(key, dst, caller)
    for ((kind, cy) <- reads) {
      println(s"\n===== serve_$kind =====\n-- $cy")
      val df = db.executeQuery(cy)
      df.explain("formatted")
      println("rows: " + df.collect().map(_.toString).sorted.mkString(" "))
    }
    val merge = s"MERGE (n:FUNCTION:v1 {full_name: '$key', " +
      s"name: '${key.split('.').last}'}) " +
      "SET n.graphbench_tag = 'it\\'s \"x\"'"
    println(s"\n===== serve_merge =====\n-- $merge")
    println(CypherWrite.parseAll(merge))
  }
}
