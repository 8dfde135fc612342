package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.funsuite.AnyFunSuite

import graft.enrich.Analytics
import graft.ops.Bounded
import graft.pipeline.Corpus

class BoundedSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

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
    IngestArms.under(IngestArms.Arm("seven", 7))(
      assert(Bounded.rows(spark) === 7))
    assert(Bounded.rows(spark) === Bounded.DefaultRows)
  }

  /** Whether `evs` ran a bounded probe at the default budget: a
    * `CollectLimit` of `DefaultRows + 1` rows anywhere in an executed
    * plan. */
  private def probed(evs: Seq[SparkListenerEvent]): Boolean = {
    def nodes(i: SparkPlanInfo): Seq[SparkPlanInfo] =
      i +: i.children.flatMap(nodes)
    val limit = (Bounded.DefaultRows + 1).toString
    evs.exists {
      case s: SparkListenerSQLExecutionStart =>
        nodes(s.sparkPlanInfo).exists(n => n.nodeName == "CollectLimit" &&
          n.simpleString.split("[ ,]").contains(limit))
      case _ => false
    }
  }

  test("the session key alone moves every driver-kernel operator to its " +
      "distributed arm") {
    // RDD-backed inputs: a probe of a local Seq folds into the local
    // relation and would run no CollectLimit
    def scan(df: DataFrame) = spark.createDataFrame(df.rdd, df.schema)
    val edges = scan(Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "d"),
      ("d", "e"), ("b", "e"), ("q", "r")).toDF("src", "dst"))
    val prevScc = scan(Seq(("a", "a"), ("b", "a"), ("c", "a"), ("d", "d"),
      ("e", "e"), ("q", "q"), ("r", "r")).toDF("v", "scc"))
    val prevCond = scan(Seq(("a", "d"), ("a", "e"), ("d", "e"), ("q", "r"))
      .toDF("src_scc", "dst_scc"))
    val newEdges = scan(Seq(("e", "d"), ("r", "s")).toDF("src", "dst"))
    val prevCc = scan(Seq(("a", "a"), ("b", "a"), ("q", "q"), ("r", "q"))
      .toDF("v", "component"))
    val weighted = scan(Seq((1L, 2L, 5L), (2L, 3L, 5L), (1L, 3L, 9L),
      (7L, 8L, 1L)).toDF("src", "dst", "weight"))
    val docs = scan(Seq((1L, "en", "ab ab abab"), (2L, "fr", "xq"))
      .toDF("doc_id", "lang", "text"))
    val ops: Seq[(String, () => DataFrame)] = Seq(
      "stronglyConnected" -> (() => Analytics.stronglyConnected(edges)),
      "stronglyConnectedIncremental" -> (() =>
        Analytics.stronglyConnectedIncremental(newEdges, prevScc, prevCond)),
      "condensationLayersOver" -> (() =>
        Analytics.condensationLayersOver(prevCond, prevScc)),
      "stronglyConnectedGraphX" -> (() =>
        Analytics.stronglyConnectedGraphX(spark, edges)),
      "anf" -> (() => Analytics.anf(edges, rounds = 3)),
      "connectedComponentsGraphX" -> (() =>
        Analytics.connectedComponentsGraphX(spark, edges)),
      "bfsDistances" -> (() => Analytics.bfsDistances(edges, "a", 4)),
      "shortestPathCounts" -> (() =>
        Analytics.shortestPathCounts(edges, "a", 4)),
      "betweennessFromSource" -> (() =>
        Analytics.betweennessFromSource(edges, "a", 4)),
      "betweennessLandmarks" -> (() =>
        Analytics.betweennessLandmarks(edges, Seq("a", "q"), 4)),
      "edgeBetweennessLandmarks" -> (() =>
        Analytics.edgeBetweennessLandmarks(edges, Seq("a", "q"), 4)),
      "bfsDistancesLandmarks" -> (() =>
        Analytics.bfsDistancesLandmarks(edges, Seq("a", "q"), 4)),
      "connectedComponents" -> (() => Analytics.connectedComponents(edges)),
      "connectedComponentsIncremental" -> (() =>
        Analytics.connectedComponentsIncremental(edges, prevCc)),
      "boruvkaMsf" -> (() => Analytics.boruvkaMsf(weighted)),
      "unigramFertility" -> (() => Corpus.unigramFertility(docs,
        vocabCap = 2, seedCap = 10, vocabSize = 3)))
    for ((name, op) <- ops) withClue(s"$name: ") {
      def run(arm: IngestArms.Arm) = recorded(IngestArms.under(arm)(
        op().collect().map(_.toString).sorted.toSeq))
      val (kernel, kEvs) = run(IngestArms.Driver)
      val (dist, dEvs) = run(IngestArms.Distributed)
      assert(probed(kEvs))
      assert(!probed(dEvs))
      assert(jobs(dEvs) > jobs(kEvs))
      assert(dist === kernel)
    }
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

  test("structure: one Cypher text scanner") {
    val api = sources("src/main/scala/graft/api")
    // a quote test opens a literal-tracking loop: CypherText.isQuote is
    // the only one, and every scan of Cypher text goes through it
    val quoteTests = api.flatMap(hits("""==\s*'\\''""".r))
    assert(quoteTests.size === 1, quoteTests.mkString("\n"))
    assert(quoteTests.head.contains("CypherText.scala"), quoteTests.head)
    val wordChar = api.flatMap(hits("""def isWordChar\b""".r))
    assert(wordChar.size === 1, wordChar.mkString("\n"))
  }

  test("structure: the local fold reads the one budget through Bounded, " +
      "and the session recipe and the database install it") {
    val fold = Paths.get("src/main/scala/graft/ops/LocalFold.scala")
    val lines = code(fold)
    assert(lines.exists(_.contains("Bounded.rows(SparkSession.active)")))
    // no key, conf read or budget value of its own
    val own = lines.filter(l =>
      """spark\.graft|conf\.|SQLConf|Threshold|DefaultRows|\b\d{3,}\b""".r
        .findFirstIn(l).isDefined)
    assert(own.isEmpty, own.mkString("\n"))
    // its public members take no budget: install(spark) and apply(plan)
    val public = lines.filter(_.startsWith("  def ")).map(_.trim)
    assert(public.map(_.takeWhile(_ != ')')) === Seq(
      "def install(spark: SparkSession", "def apply(plan: LogicalPlan"),
      public.mkString("\n"))
    val installs = sources("src/main/scala")
      .flatMap(hits("""LocalFold\.install\(""".r))
    assert(installs.map(_.takeWhile(_ != ':')).sorted === Seq(
      "src/main/scala/graft/GraftSession.scala",
      "src/main/scala/graft/api/GraphDatabase.scala"),
      installs.mkString("\n"))
  }

  /** `p`'s text without string literals and comments, line by line. */
  private def code(p: Path): Seq[String] =
    Files.readAllLines(p).asScala.toSeq.map(_
      .replaceAll("\"[^\"]*\"", "\"\"").replaceAll("//.*", "")
      .replaceAll("^\\s*/?\\*.*", ""))

  test("structure: one row budget, the session key") {
    val param = """\b(?:localThreshold|kernelThreshold)\s*:""".r
    val call = """\b(?:localThreshold|kernelThreshold)\s*=(?!=)""".r
    val defName = """\bdef (\w+)""".r
    // the parameters graphbench's analytics suite passes; each defaults
    // to the session budget and goes with graphbench's next change
    val kept = Set("connectedComponents", "connectedComponentsGraphX",
      "stronglyConnected", "betweennessLandmarks", "bfsDistancesLandmarks")
    val params = sources("src/main/scala").flatMap { p =>
      val lines = code(p)
      lines.indices.filter(i => param.findFirstIn(lines(i)).isDefined)
        .map { i =>
          val owner = (i to 0 by -1).iterator
            .flatMap(j => defName.findFirstMatchIn(lines(j))).next().group(1)
          (p.getFileName.toString, owner, lines(i).trim)
        }
    }
    assert(params.map(_._1).toSet === Set("Analytics.scala"),
      params.mkString("\n"))
    assert(params.map(_._2).sorted === kept.toSeq.sorted,
      params.mkString("\n"))
    assert(params.forall(_._3.contains("= Bounded.Session")),
      params.mkString("\n"))
    val passes = sources("src").flatMap(p => code(p).zipWithIndex.collect {
      case (l, i) if call.findFirstIn(l).isDefined => s"$p:${i + 1}: $l"
    })
    assert(passes.isEmpty, passes.mkString("\n"))
    // every probe reads the session budget but for the named caps that
    // are no arm choice, and the kept overrides' helper argument `k`
    val caps = Set("seedCap", "maxCandidates", "k")
    val budgets = sources("src/main/scala").flatMap { p =>
      val text = code(p).mkString("\n")
      "Bounded\\.take\\(".r.findAllMatchIn(text).map { m =>
        var depth = 1
        var i = m.end
        val args = scala.collection.mutable.ArrayBuffer(new StringBuilder)
        while (depth > 0) {
          text(i) match {
            case '(' => depth += 1; args.last += '('
            case ')' => depth -= 1; if (depth > 0) args.last += ')'
            case ',' if depth == 1 => args += new StringBuilder
            case c => args.last += c
          }
          i += 1
        }
        (p.getFileName.toString, args.drop(1).map(_.toString.trim).toSeq)
      }
    }
    assert(budgets.size >= 8, budgets.mkString("\n"))
    val odd = budgets.filterNot { case (_, k) =>
      k.isEmpty || (k.size == 1 && caps(k.head)) }
    assert(odd.isEmpty, odd.mkString("\n"))
  }
}
