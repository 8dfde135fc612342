package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Bounded

class BoundedSpec extends AnyFunSuite {
  import TestSpark.spark

  private def recorded[T](body: => T) = JobRecorder.recorded(spark)(body)
  import JobRecorder.jobs

  /** The executed plan's root below any AdaptiveSparkPlan wrapper. */
  private def root(info: SparkPlanInfo): SparkPlanInfo =
    if (info.nodeName == "AdaptiveSparkPlan") root(info.children.head)
    else info

  private def rows(n: Int) = spark.range(0, n, 1, 4).toDF("id")

  test("take: Some with at most k rows, None with k + 1") {
    val k = 5
    assert(Bounded.take(rows(k), k)(_.getLong(0)).map(_.sorted.toSeq) ===
      Some(0L until k))
    assert(Bounded.take(rows(k - 2), k)(_.getLong(0)).map(_.length) ===
      Some(k - 2))
    assert(Bounded.take(rows(0), k)(_.getLong(0)).map(_.length) === Some(0))
    assert(Bounded.take(rows(k + 1), k)(_.getLong(0)) === None)
  }

  test("take: k <= 0 answers None without submitting a job") {
    for (k <- Seq(0, -1)) {
      val (out, evs) = recorded(Bounded.take(rows(0), k)(_.getLong(0)))
      assert(out === None)
      assert(jobs(evs) === 0, s"k = $k")
    }
    // the recorder does see a probe that runs
    val (_, evs) = recorded(Bounded.take(rows(3), 1)(_.getLong(0)))
    assert(jobs(evs) > 0)
  }

  test("take: the probe executes as CollectLimit k + 1, so a miss never " +
      "collects the whole frame") {
    val k = 3
    val (out, evs) = recorded(Bounded.take(rows(1000), k)(_.getLong(0)))
    assert(out === None)
    val plans = evs.collect { case s: SparkListenerSQLExecutionStart =>
      root(s.sparkPlanInfo) }
    assert(plans.size === 1, plans.map(_.simpleString))
    assert(plans.head.nodeName === "CollectLimit")
    assert(plans.head.simpleString.split("[ ,]").contains((k + 1).toString),
      plans.head.simpleString)
  }

  test("rows: spark.graft.localThreshold sets the session budget") {
    assert(Bounded.rows(spark) === Bounded.DefaultRows)
    spark.conf.set("spark.graft.localThreshold", "7")
    try assert(Bounded.rows(spark) === 7)
    finally spark.conf.unset("spark.graft.localThreshold")
  }

  /** The Scala sources under `dir`. */
  private def sources(dir: String): List[Path] =
    Files.walk(Paths.get(dir)).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toList

  /** `p`'s lines that match `re`, as `path:line: text`. */
  private def hits(re: Regex)(p: Path): Seq[String] =
    Files.readAllLines(p).asScala.toSeq.zipWithIndex.collect {
      case (l, i) if re.findFirstIn(l).isDefined => s"$p:${i + 1}: ${l.trim}"
    }

  test("structure: the only limit(k + 1) probe in src/main is Bounded's") {
    val probe = hits("""\.limit\([^()]*\+\s*1\s*\)""".r) _
    val bounded = Paths.get("src/main/scala/graft/ops/Bounded.scala")
    val all = sources("src/main/scala")
    assert(all.contains(bounded))
    assert(probe(bounded).nonEmpty)
    val outside = all.filterNot(_ == bounded).flatMap(probe)
    assert(outside.isEmpty,
      "size probes belong in graft.ops.Bounded:\n" + outside.mkString("\n"))
  }

  test("structure: one SparkSession builder under src, no routing knob") {
    val builders = sources("src").flatMap(hits("""SparkSession\.builder\(""".r))
    assert(builders.size === 1, builders.mkString("\n"))
    val knob = sources("src/main").flatMap(hits("""spark\.graft\.scale""".r))
    assert(knob.isEmpty, knob.mkString("\n"))
  }

  test("the indexer makes one arm decision") {
    // indexFiles' bounded collect; enrich follows the arm it picks
    val calls = sources("src/main/scala/graft/indexer")
      .flatMap(hits("""Bounded\.take\(""".r))
    assert(calls.size === 1, calls.mkString("\n"))
  }

  test("structure: one path engine in CypherLite") {
    val cypher = Paths.get("src/main/scala/graft/api/CypherLite.scala")
    def count(re: String) = hits(re.r)(cypher)
    // a bounded and an unbounded var-length expander, whatever the arrow
    val expanders = count("""private def varLength\w*\(""")
    assert(expanders.size === 2, expanders.mkString("\n"))
    // one traversal frame for forward, reversed and undirected hops
    val frames = count("""private def \w*(?:Scan|[tT]raversalFrame)\(""")
    assert(frames.size === 1, frames.mkString("\n"))
    // one distributed frontier BFS for shortestPath and allShortestPaths
    val loops = count("""frontier\.count\(\) == 0""")
    assert(loops.size === 1, loops.mkString("\n"))
    // one endpoint-join + WHERE/RETURN tail for the path searches
    val tails = count("""withColumn\("__pnn"""")
    assert(tails.size === 1, tails.mkString("\n"))
  }
}
