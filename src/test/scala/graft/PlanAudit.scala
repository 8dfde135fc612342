package graft

/** Ad-hoc plan auditor (test scope, not shipped):
  * `sbt "Test/runMain graft.PlanAudit q1_agg q2_join_agg"` prints the
  * formatted physical plan of each named declared query at sf0.001 —
  * the loop for checking pushdown/broadcast/codegen before committing a
  * query shape. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n===== $n =====")
      try SparkEntry.queries(n)(spark, dir).explain("formatted")
      catch { case e: Throwable => println(s"error: $e") }
    }
    spark.stop()
  }
}
