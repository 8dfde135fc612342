package graft

import java.nio.file.{Files, Path, Paths}

import scala.sys.process._

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.indexer.IndexPipeline

/** The ingest on real input: the benchmark's corpus, 60 files of seven
  * CPython 3.11 stdlib packages (`graphbench/corpus`), extracted into a
  * temporary directory. */
class CorpusIngestSpec extends AnyFunSuite with BeforeAndAfterAll {
  import TestSpark.spark

  private lazy val tier: Path = {
    val dir = Files.createTempDirectory("graft-corpus")
    val tarball = Paths.get("graphbench/corpus/stdlib-subset.tar.gz")
    assert(Seq("tar", "-xzf", tarball.toAbsolutePath.toString,
      "-C", dir.toString).! === 0, s"cannot extract $tarball")
    dir
  }

  private def files = IndexPipeline.readRepo(spark, tier.toString)

  override def afterAll(): Unit =
    try scala.reflect.io.Directory(tier.toFile).deleteRecursively()
    finally super.afterAll()

  test("both arms ingest the corpus to the same graph: 3,416 nodes and " +
      "9,103 edges") {
    val g = IngestArms.both(files, "v1")
    assert(g.nodes.count() === 3416)
    assert(g.edges.count() === 9103)
  }

  test("the corpus graph does not depend on the input's partition count") {
    def graph(parts: Int) =
      IngestArms.ingest(IngestArms.Driver)(files.repartition(parts), "v1")
    IngestArms.same(graph(1), graph(7))
  }
}
