package graft

/** Regenerates the FixtureRepoSpec golden dumps after an INTENTIONAL
  * fixture or indexer change (test scope only; run with
  * `Test/runMain graft.GoldenDump`). Writes to src/test/resources/golden
  * in the exact format FixtureRepoSpec compares. Review the git diff of
  * the goldens before committing — this tool records behavior, it does
  * not judge it. */
object GoldenDump {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(8)
    val ix = graft.indexer.IndexPipeline.run(
      spark, "src/test/resources/fixture_repo", "t1")
    val nodes = ix.nodes
      .select("full_name", "kind", "name", "file_path", "signature", "clazz")
      .orderBy("full_name").collect()
      .map(r => r.toSeq.map(v => if (v == null) "-" else v.toString).mkString(" | "))
    val edges = ix.edges.select("src", "rel_type", "dst")
      .orderBy("src", "rel_type", "dst").collect()
      .map(_.toSeq.mkString(" | "))
    java.nio.file.Files.write(
      java.nio.file.Paths.get("src/test/resources/golden/fixture_nodes.txt"),
      (nodes.mkString("\n") + "\n").getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get("src/test/resources/golden/fixture_edges.txt"),
      (edges.mkString("\n") + "\n").getBytes("UTF-8"))
    println(s"wrote ${nodes.length} node rows, ${edges.length} edge rows")
    spark.stop()
  }
}
