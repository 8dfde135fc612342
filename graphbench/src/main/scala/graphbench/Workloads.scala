package graphbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.{CypherLite, GraphDatabase}
import graft.enrich.Analytics
import graft.hydrate.Hydrate
import graft.indexer.IndexPipeline
import graft.merge.Merge
import graft.ops.GraphOps
import graft.ops.Pin._
import graft.store.Snapshot
import graft.store.Snapshot.GraphSnapshot

/** What one benchmark process shares with its workload: the session,
  * the benchmark's own directory, a scratch directory of its own, the
  * prepared v1 fixture and the seed. */
final class Ctx(val spark: SparkSession, val benchDir: Path, val work: Path,
    val fixture: Path, val seed: Long) {
  private var dirs = 0
  /** Seconds spent in each named part of the set-up. */
  val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def phase[A](name: String)(f: => A): A = {
    val (a, ns) = Timed(f)
    phases(name) = ns / 1e9
    a
  }
  /** A fresh directory under the scratch directory. */
  def freshDir(prefix: String): Path = {
    dirs += 1
    work.resolve(s"$prefix-$dirs")
  }
  def tarball: Path = benchDir.resolve("corpus/stdlib-subset.tar.gz")
  /** The tier as prepared with the fixture, read-only. */
  def fixtureTier: Path = fixture.resolve("tier")
  def fixtureSnapshot: Path = fixture.resolve("v1")
}

/** One timed operation: its kind, its latency and whether its output
  * check passed. */
final case class Op(kind: String, ns: Long, ok: Boolean)

trait Workload {
  /** Everything before the first timed operation, warm-up included. */
  def setup(): Unit
  def op(t: Tracer): Op
  /** Bytes of the snapshot the workload last wrote or served. */
  def snapshotBytes: Long
  def corpus: Corpus.Identity
  /** Each operation kind's share of the mix, the weights of the reported
    * per-kind latencies. */
  def shares: Map[String, Double]
  /** Counters taken at layer boundaries during the run. */
  def counters: Map[String, Double] = Map.empty
  def detail: Map[String, Any] = Map.empty
}

/** Canonical, order-free fingerprints of a graph's node and edge sets. */
object Canon {
  def lines(df: DataFrame, cols: String*): Array[String] =
    df.select(cols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*)
      .collect().map(r => (0 until r.length).map(r.getString).mkString("\t"))
      .sorted

  def hash(sorted: Array[String]): String =
    Corpus.sha256Hex(sorted.mkString("\n").getBytes("UTF-8"))

  def nodes(df: DataFrame): Array[String] = lines(df, "full_name", "kind")
  def edges(df: DataFrame): Array[String] = lines(df, "src", "rel_type", "dst")
}

object Timed {
  def apply[A](f: => A): (A, Long) = {
    val t0 = System.nanoTime()
    val a = f
    (a, System.nanoTime() - t0)
  }
}

/** `ingest`: index the corpus into a fresh database directory, the
  * facade call `GraphDatabase.open(dir).indexRepo(tier, "v1")`. */
final class IngestWorkload(ctx: Ctx) extends Workload {
  import ctx.spark
  private val tier = ctx.work.resolve("tier")
  private var id: Corpus.Identity = _
  private var expected: Expected.Graph = _
  private var lastDir: Option[Path] = None
  private var lastBytes = 0L
  private val seen = scala.collection.mutable.Map.empty[String, Double]

  def corpus: Corpus.Identity = id
  def snapshotBytes: Long = lastBytes
  def shares: Map[String, Double] = Map("ingest" -> 1.0)
  override def counters: Map[String, Double] = seen.toMap

  def setup(): Unit = {
    ctx.phase("tier_copy") {
      Corpus.extract(ctx.tarball, tier)
      id = Corpus.identity(tier)
      expected = Expected.load(ctx.benchDir, id.sha256)
    }
    // warm-up: one full ingest, neither timed nor counted
    ctx.phase("warm_up")(run(Tracer.off))
  }

  def op(t: Tracer): Op = {
    val (dir, ns) = run(t)
    Op("ingest", ns, check(dir))
  }

  private def run(t: Tracer): (Path, Long) = {
    lastDir.foreach(Corpus.deleteTree)
    val dir = ctx.freshDir("ingest")
    lastDir = Some(dir)
    val ns = t match {
      case lt: LiveTracer =>
        val (ix, ns) = Timed(traced(lt, dir))
        count(ix, dir)
        ns
      case _ => Timed(GraphDatabase.open(spark, dir.toString)
        .indexRepo(tier.toString, "v1"))._2
    }
    lastBytes = Corpus.treeBytes(dir)._1
    (dir, ns)
  }

  /** `indexRepo` re-composed from the public calls it makes, in the same
    * order and with the same arguments; each boundary output is forced
    * once and reused. */
  private def traced(t: Tracer, dir: Path): IndexPipeline.Indexed =
    t.span("api.GraphDatabase.indexRepo") {
      val files = t.span("indexer.readRepo") {
        val f = IndexPipeline.readRepo(spark, tier.toString).cache()
        f.count()
        f
      }
      val ix = t.span("indexer.indexFiles") {
        IndexPipeline.indexFiles(spark, files, "v1")
      }
      val en = t.span("enrich.enrich") {
        val e = IndexPipeline.enrich(ix, "v1")
        IndexPipeline.Indexed(e.nodes.pin(eager = true),
          e.edges.pin(eager = true), e.locations.pin(eager = true), e.imports)
      }
      // GraphDatabase.mergeIndexed over an empty database
      val snap = GraphSnapshot(en.nodes,
        en.edges.dropDuplicates("src", "rel_type", "dst"), en.locations)
      t.span("store.Snapshot.write") { Snapshot.write(snap, dir.toString) }
      t.span("store.Snapshot.read") {
        Snapshot.read(spark, dir.toString).nodes.count()
      }
      files.unpersist()
      ix
    }

  /** Counters of the traced operation's indexer output and snapshot,
    * taken after its timing ends. */
  private def count(ix: IndexPipeline.Indexed, dir: Path): Unit = {
    val (bytes, nFiles) = Corpus.treeBytes(dir)
    seen ++= Map(
      "indexer.nodes" -> ix.nodes.count().toDouble,
      "indexer.edges" -> ix.edges.count().toDouble,
      "indexer.stubs" ->
        ix.nodes.filter(col("kind") === graft.model.Kind.None_).count().toDouble,
      "indexer.parse_failures" ->
        ix.locations.filter(col("kind") === "ERROR").count().toDouble,
      "indexer.readRepo.useful_ratio" -> 1.0,
      "store.Snapshot.write.bytes_written" -> bytes.toDouble,
      "store.Snapshot.write.files_written" -> nFiles.toDouble)
  }

  private def check(dir: Path): Boolean = {
    val s = Snapshot.read(spark, dir.toString)
    val n = Canon.nodes(s.nodes)
    val e = Canon.edges(s.edges)
    n.length == expected.nodes && e.length == expected.edges &&
      Canon.hash(n) == expected.nodesSha256 &&
      Canon.hash(e) == expected.edgesSha256
  }
}

/** `reindex`: restore the committed v1 snapshot (untimed), then time
  * `updateVersion("v1", "v2", changed, Some(root))` for a seed-drawn edit
  * of k files. The v2 view must equal a full re-index of the edited tree,
  * the incremental-equivalence property (D6). */
final class ReindexWorkload(ctx: Ctx, k: Int = 10) extends Workload {
  import ctx.spark
  private val edited = ctx.work.resolve("edited")
  private var changed: Seq[String] = Nil
  private var id: Corpus.Identity = _
  private var fullNodes: Set[String] = Set.empty
  private var fullEdges: Set[String] = Set.empty
  private var lastDir: Option[Path] = None
  private var lastBytes = 0L
  private val seen = scala.collection.mutable.Map.empty[String, Double]
  private var divergence: Map[String, Any] = Map.empty

  def corpus: Corpus.Identity = id
  def snapshotBytes: Long = lastBytes
  def shares: Map[String, Double] = Map("reindex" -> 1.0)
  override def counters: Map[String, Double] = seen.toMap
  override def detail: Map[String, Any] =
    Map("changed_files" -> changed, "d6" -> divergence)

  def setup(): Unit = {
    ctx.phase("tier_copy") {
      Corpus.copyTree(ctx.fixtureTier, edited)
      id = Corpus.identity(edited)
      changed = Corpus.edit(edited, ctx.seed, k)
    }
    ctx.phase("expected_graph") {
      val full = IndexPipeline.run(spark, edited.toString, "v2")
      fullNodes = Canon.nodes(full.nodes).toSet
      fullEdges = Canon.edges(full.edges).toSet
    }
    ctx.phase("warm_up")(run(Tracer.off))
  }

  def op(t: Tracer): Op = {
    val (db, ns) = run(t)
    Op("reindex", ns, check(db))
  }

  private def run(t: Tracer): (GraphDatabase, Long) = {
    lastDir.foreach(Corpus.deleteTree)
    val dir = ctx.freshDir("reindex")
    lastDir = Some(dir)
    Corpus.copyTree(ctx.fixtureSnapshot, dir)
    val db = GraphDatabase.open(spark, dir.toString)
    val ns = t match {
      case lt: LiveTracer =>
        val ns = Timed(traced(lt, db, dir))._2
        val (bytes, nFiles) = Corpus.treeBytes(dir)
        seen ++= Map(
          "indexer.readRepo.useful_ratio" -> changed.size.toDouble / id.files,
          "store.Snapshot.write.bytes_written" -> bytes.toDouble,
          "store.Snapshot.write.files_written" -> nFiles.toDouble)
        ns
      case _ => Timed(db.updateVersion("v1", "v2", changed,
        Some(edited.toString)))._2
    }
    lastBytes = Corpus.treeBytes(dir)._1
    // the traced path wrote the snapshot past the facade; reopen to read it
    (if (t.isInstanceOf[LiveTracer]) GraphDatabase.open(spark, dir.toString)
     else db, ns)
  }

  /** `updateVersion` re-composed from its public calls: carry-forward,
    * re-index of the changed files, then `mergeIndexed`'s upsert, union
    * and snapshot write. */
  private def traced(t: Tracer, db: GraphDatabase, dir: Path): Unit = {
    t.span("api.GraphDatabase.updateVersion") {
      val carried = t.span("ops.GraphOps.carryForward") {
        GraphOps.carryForward(db.nodes, "v2", changed).pin(eager = true)
      }
      val files = t.span("indexer.readRepo") {
        val ch = changed // the filter ships this list, not the workload
        val f = IndexPipeline.readRepo(spark, edited.toString)
          .filter((s: IndexPipeline.SourceFile) => ch.contains(s.path))
          .cache()
        f.count()
        f
      }
      val ix = t.span("indexer.indexFiles") {
        IndexPipeline.indexFiles(spark, files, "v2")
      }
      val en = t.span("enrich.enrich") {
        val e = IndexPipeline.enrich(ix, "v2")
        IndexPipeline.Indexed(e.nodes.pin(eager = true),
          e.edges.pin(eager = true), e.locations.pin(eager = true), e.imports)
      }
      val nodes = t.span("merge.Merge.upsertInto") {
        Merge.upsertInto(carried, en.nodes.drop("label")).pin(eager = true)
      }
      val snap = GraphSnapshot(nodes,
        db.edges.unionByName(en.edges).dropDuplicates("src", "rel_type", "dst"),
        db.locations.unionByName(en.locations))
      t.span("store.Snapshot.write") { Snapshot.write(snap, dir.toString) }
      t.span("store.Snapshot.read") {
        Snapshot.read(spark, dir.toString).nodes.count()
      }
      files.unpersist()
    }
  }

  private def check(db: GraphDatabase): Boolean = {
    val v2 = db.nodes.filter(array_contains(col("task_ids"), "v2"))
    val v2Nodes = Canon.nodes(v2).toSet
    val v2Keys = v2Nodes.map(_.split("\t")(0))
    val v2Edges = Canon.edges(db.edges).toSet
      .filter { e =>
        val p = e.split("\t")
        v2Keys(p(0)) && v2Keys(p(2))
      }
    val locs = db.locations
    val locRows = locs.count()
    val dupLocs = locRows - locs.distinct().count()
    val extraNodes = v2Nodes -- fullNodes
    val missingNodes = fullNodes -- v2Nodes
    val extraEdges = v2Edges -- fullEdges
    val missingEdges = fullEdges -- v2Edges
    divergence = Map(
      "extra_nodes" -> extraNodes.size, "missing_nodes" -> missingNodes.size,
      "extra_stubs" -> extraNodes.count(_.endsWith("\tnone")),
      "extra_edges" -> extraEdges.size, "missing_edges" -> missingEdges.size,
      "duplicate_location_rows" -> dupLocs,
      "extra_node_sample" -> extraNodes.toSeq.sorted.take(10),
      "extra_edge_sample" -> extraEdges.toSeq.sorted.take(10))
    seen ++= Map(
      "reindex.d6.extra_nodes" -> extraNodes.size.toDouble,
      "reindex.d6.missing_nodes" -> missingNodes.size.toDouble,
      "reindex.d6.extra_edges" -> extraEdges.size.toDouble,
      "reindex.d6.missing_edges" -> missingEdges.size.toDouble,
      "reindex.d6.duplicate_location_rows" -> dupLocs.toDouble)
    extraNodes.isEmpty && missingNodes.isEmpty
  }
}

/** `serve`: a fixed mix of reads and writes with seed-drawn keys over the
  * committed v1 snapshot, through the `GraphDatabase` facade, from one
  * client. */
final class ServeWorkload(ctx: Ctx) extends Workload {
  import ctx.spark
  import ServeWorkload._
  private val dbDir = ctx.work.resolve("db")
  private val tier = ctx.work.resolve("tier")
  private var db: GraphDatabase = _
  private var files: DataFrame = _
  private var id: Corpus.Identity = _
  private val rnd = new scala.util.Random(ctx.seed)
  private var writes = 0

  // in-process copies of the v1 graph: key pools and path oracles
  private var keys: Array[String] = Array.empty
  private var defined: Array[String] = Array.empty
  private var pointRows: Map[String, String] = Map.empty
  private var expandRows: Map[(String, String), Array[String]] = Map.empty
  private var nameOf: Map[String, String] = Map.empty
  private var expandable: Array[(String, String)] = Array.empty
  private var classes: Array[String] = Array.empty
  private var callers: Array[String] = Array.empty
  private var reachable: Array[(String, String, Int)] = Array.empty
  private var kindOf: Map[String, String] = Map.empty
  private var calls: Map[String, Array[String]] = Map.empty
  private var methods: Map[String, Array[(String, String)]] = Map.empty
  private var source: Map[String, Array[String]] = Map.empty

  def corpus: Corpus.Identity = id
  def snapshotBytes: Long = Corpus.treeBytes(dbDir)._1
  def shares: Map[String, Double] = Shares

  def setup(): Unit = {
    ctx.phase("tier_copy") {
      Corpus.copyTree(ctx.fixtureSnapshot, dbDir)
      Corpus.copyTree(ctx.fixtureTier, tier)
      id = Corpus.identity(tier)
    }
    ctx.phase("open") {
      db = GraphDatabase.open(spark, dbDir.toString)
      import spark.implicits._
      files = Corpus.files(tier).map(f => (f, new String(
        Files.readAllBytes(tier.resolve(f)), java.nio.charset.StandardCharsets.UTF_8)))
        .toDF("file_path", "content").cache()
      files.count()
    }
    ctx.phase("expected_graphs")(loadOracles())
    // warm-up: the first 24 operations of the schedule, with keys from a
    // stream of their own; latencies fall over the first few dozen
    val warm = new scala.util.Random(~ctx.seed)
    ctx.phase("warm_up")(Schedule.take(24).foreach(k => run(k, warm, Tracer.off)))
  }

  /** In-process oracles, taken once from the v1 snapshot: the node rows
    * point reads return (the frame `GraphOps.nodeByKey` filters), the
    * rows of `GraphOps.expand` for every source, the CALL adjacency that
    * path results are checked against, and the file contents hydration
    * slices. Writes only set a property, so none of these change. */
  private def loadOracles(): Unit = {
    val nodes = db.nodes.select("full_name", "kind", "name", "file_path",
      "code").collect()
    pointRows = nodes.map(r => r.getString(0) ->
      Row(r.getString(0), r.getString(1), r.getString(2), r.getString(3))
        .toString).toMap
    kindOf = nodes.map(r => r.getString(0) -> r.getString(1)).toMap
    nameOf = nodes.map(r => r.getString(0) -> r.getString(2)).toMap
    val code = nodes.map(r => r.getString(0) -> r.getString(4)).toMap
    keys = nodes.map(_.getString(0)).sorted
    defined = nodes.filter(_.getString(1) != graft.model.Kind.None_)
      .map(_.getString(0)).sorted
    val edges = db.edges.select("src", "rel_type", "dst").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    expandRows = edges.map(_._2).distinct.flatMap { rel =>
      GraphOps.expand(db.nodes, db.edges, rel, lit(true))
        .select(col("src"), col("dst"), col("kind")).collect()
        .map(r => ((r.getString(0), rel), Row(r.getString(1), r.getString(2))))
    }.groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2.toString).sorted }
    expandable = expandRows.keys.toArray.sorted
    methods = edges.filter(_._2 == "HAS_METHOD").groupBy(_._1)
      .map { case (c, es) => c -> es.map(e => (e._3, code.getOrElse(e._3, null))) }
    classes = methods.keys.toArray.sorted
    calls = edges.filter(_._2 == "CALL").groupBy(_._1)
      .map { case (s, es) => s -> es.map(_._3).distinct }
    callers = calls.keys.toArray.sorted
    // shortestPath targets: reachable pairs within 4 CALL hops
    reachable = callers.flatMap { s =>
      bfs(s, 4).toSeq.filter(_._2 >= 1).sortBy(_._1).take(5)
        .map { case (d, n) => (s, d, n) }
    }
    // the decoded contents hydration joins against
    source = files.collect()
      .map(r => r.getString(0) -> r.getString(1).split("\n", -1)).toMap
  }

  /** Hop distance from `s` to every node within `depth` CALL hops. */
  private def bfs(s: String, depth: Int): Map[String, Int] = {
    var dist = Map(s -> 0)
    var frontier = Seq(s)
    for (d <- 1 to depth) {
      frontier = frontier.flatMap(calls.getOrElse(_, Array.empty[String]))
        .filterNot(dist.contains).distinct
      dist ++= frontier.map(_ -> d)
    }
    dist
  }

  private var opIndex = 0

  def op(t: Tracer): Op = {
    val k = Schedule(opIndex % Schedule.size)
    opIndex += 1
    run(k, rnd, t)
  }

  private def q(s: String): String = s.replace("\\", "\\\\").replace("'", "\\'")

  private def run(kind: String, r: scala.util.Random, t: Tracer): Op = kind match {
    case "point" =>
      val key = keys(r.nextInt(keys.length))
      val cy = s"MATCH (n {full_name: '${q(key)}'}) RETURN n.full_name AS " +
        "full_name, n.kind AS kind, n.name AS name, n.file_path AS file_path"
      val (rows, ns) = Timed(read(t, "point", cy))
      Op(kind, ns, rows.map(_.toString).toSeq == pointRows.get(key).toSeq)
    case "expand" =>
      val (src, rel) = expandable(r.nextInt(expandable.length))
      val cy = s"MATCH (a {full_name: '${q(src)}'})-[:$rel]->(b) " +
        "RETURN b.full_name AS dst, b.kind AS kind"
      val (rows, ns) = Timed(read(t, "expand", cy))
      Op(kind, ns, rows.map(_.toString).sorted
        .sameElements(expandRows((src, rel))))
    case "hydrate" =>
      val cls = classes(r.nextInt(classes.length))
      val (rows, ns) = Timed(t match {
        case lt: LiveTracer => lt.span("serve.hydrate") {
          val ms = lt.span("api.GraphDatabase.expand") {
            db.expand("HAS_METHOD", col("full_name") === cls)
              .select(col("dst_name").as("full_name"), col("name"),
                col("signature"), col("code")).pin(eager = true)
          }
          lt.span("hydrate.Hydrate.hydrate") {
            Hydrate.hydrate(ms, files, "code").collect()
          }
        }
        case _ => db.methodsOf(cls, files).collect()
      })
      Op(kind, ns, hydrated(cls, rows))
    case "varpath" =>
        val s = callers(r.nextInt(callers.length))
        val cy = s"MATCH (a {full_name: '${q(s)}'})-[:CALL*1..3]->(b) " +
          "RETURN DISTINCT b.full_name AS dst"
        val (rows, ns) = Timed(read(t, "varpath", cy))
        val want = (bfs(s, 3) - s).keySet ++
          (if (cycleBack(s)) Set(s) else Set.empty)
        Op(kind, ns, rows.map(_.getString(0)).toSet == want &&
          rows.length == want.size)
    case "shortest" =>
        val (s, d, n) = reachable(r.nextInt(reachable.length))
        val cy = s"MATCH p = shortestPath((a {full_name: '${q(s)}'})" +
          s"-[:CALL*]->(b {full_name: '${q(d)}'})) RETURN length(p) AS len"
        val (rows, ns) = Timed(read(t, "shortest", cy))
        Op(kind, ns, rows.length == 1 && rows(0).getAs[Number](0).intValue == n)
    case _ =>
      writes += 1
      val key = defined(r.nextInt(defined.length))
      val tag = s"${ctx.seed}-$writes"
      // the name is restated so the upsert leaves every read column as is
      val name = Option(nameOf(key)).map(n => s", name: '${q(n)}'").getOrElse("")
      val cy = s"MERGE (n:${kindOf(key)}:v1 {full_name: '${q(key)}'$name}) " +
        s"SET n.graphbench_tag = '$tag'"
      val (_, ns) = Timed(t match {
        case lt: LiveTracer => lt.span("serve.write") {
          lt.span("api.GraphDatabase.executeQuery") { db.executeQuery(cy) }
          lt.span("api.GraphDatabase.commit") { db.commit() }
        }
        case _ => db.executeQuery(cy); db.commit()
      })
      val got = GraphOps.nodeByKey(db.nodes, key)
        .select(element_at(col("props"), "graphbench_tag")).collect()
      Op("write", ns, got.length == 1 && got(0).getString(0) == tag)
  }

  /** A var-length CALL walk from `s` may come back to `s` itself. */
  private def cycleBack(s: String): Boolean = {
    val within2 = bfs(s, 2).keySet
    within2.exists(v => calls.getOrElse(v, Array.empty[String]).contains(s))
  }

  /** A Cypher read through the facade; the traced run splits it into
    * CypherLite planning (until the lazy frame returns) and execution. */
  private def read(t: Tracer, kind: String, cy: String): Array[Row] = t match {
    case lt: LiveTracer => lt.span(s"serve.$kind") {
      val df = lt.span(s"api.CypherLite.$kind.plan") {
        CypherLite.execute(db.nodes, db.edges, cy)
      }
      lt.span(s"api.CypherLite.$kind.exec") { df.collect() }
    }
    case _ => db.executeQuery(cy).collect()
  }

  /** Each method's code must be its pointer's line slice of the file. */
  private def hydrated(cls: String, rows: Array[Row]): Boolean = {
    val want = methods.getOrElse(cls, Array.empty).map { case (m, code) =>
      m -> Option(code).map(expandPointers).orNull
    }.toMap
    rows.length == want.size && rows.forall { r =>
      want.get(r.getAs[String]("full_name")).contains(r.getAs[String]("code"))
    }
  }

  private val Pointer = """<CODE>\{"S":(-?\d+),"E":(-?\d+),"F":"(.*?)"\}</CODE>""".r

  /** The line slice [S, E] of file F for every pointer in `code`; with
    * more than one pointer, snippets over 10 characters fold. */
  private def expandPointers(code: String): String = {
    val ms = Pointer.findAllMatchIn(code).toVector
    ms.foldLeft(code) { (acc, m) =>
      val lines = source.getOrElse(m.group(3), Array.empty[String])
      val s = math.max(m.group(1).toInt, 1)
      val e = m.group(2).toInt
      val snip =
        if (e >= s && lines.nonEmpty) lines.slice(s - 1, e).mkString("\n")
        else ""
      val repl =
        if (ms.size > 1 && snip.length > 10) snip.strip().take(10) + "...(code folded)"
        else snip
      acc.replace(m.matched, repl)
    }
  }
}

object ServeWorkload {
  val Kinds: Seq[String] =
    Seq("point", "expand", "hydrate", "varpath", "shortest", "write")
  /** 30 % point, 25 % expand, 20 % hydrate, 15 % paths (half var-length
    * `*1..3`, half shortestPath), 10 % write. */
  val Shares: Map[String, Double] = Map("point" -> 0.30, "expand" -> 0.25,
    "hydrate" -> 0.20, "varpath" -> 0.075, "shortest" -> 0.075,
    "write" -> 0.10)
  /** The order operation kinds run in: one cycle of 40 holds each kind in
    * exact proportion, interleaved by smooth weighted round-robin, so
    * every stretch of the loop carries the mix and a run cut short by
    * its time budget still has every kind in it. Keys come from the seed. */
  val Schedule: IndexedSeq[String] = {
    val weight = Kinds.map(k => k -> math.round(Shares(k) * 40).toInt).toMap
    val current = scala.collection.mutable.Map(Kinds.map(_ -> 0): _*)
    (1 to weight.values.sum).map { _ =>
      Kinds.foreach(k => current(k) += weight(k))
      val k = Kinds.maxBy(current)
      current(k) -= weight.values.sum
      k
    }
  }
}

/** `analytics`: the operator suite over the v1 edge set, once with the
  * default routing (single-machine kernels where the graph fits) and once forced
  * onto the distributed arm (`localThreshold = 0`). The two arms must
  * agree. */
final class AnalyticsWorkload(ctx: Ctx) extends Workload {
  import ctx.spark
  private var edges: DataFrame = _
  private var sources: Seq[String] = Nil
  private var id: Corpus.Identity = _
  private val Default = 200000

  def corpus: Corpus.Identity = id
  def snapshotBytes: Long = Corpus.treeBytes(ctx.fixtureSnapshot)._1
  def shares: Map[String, Double] = Map("analytics" -> 1.0)

  def setup(): Unit = {
    ctx.phase("open") {
      id = Corpus.identity(ctx.fixtureTier)
      edges = Snapshot.read(spark, ctx.fixtureSnapshot.toString).edges
        .select("src", "dst").cache()
      edges.count()
      val rnd = new scala.util.Random(ctx.seed)
      sources = rnd.shuffle(edges.select("src").distinct().collect()
        .map(_.getString(0)).sorted.toSeq).take(8)
    }
    ctx.phase("warm_up") {
      suite(Default, "kernel", Tracer.off)
      suite(0, "dist", Tracer.off)
    }
  }

  private def suite(th: Int, arm: String, t: Tracer): Map[String, Seq[String]] = {
    def run(name: String)(f: => DataFrame): (String, Seq[String]) =
      name -> t.span(s"enrich.Analytics.$name.$arm") {
        f.collect().map(_.toString).toSeq.sorted
      }
    Map(
      run("pageRank")(Analytics.pageRank(edges)),
      run("connectedComponents")(
        Analytics.connectedComponents(edges, localThreshold = th)),
      run("connectedComponentsGraphX")(
        Analytics.connectedComponentsGraphX(spark, edges, localThreshold = th)),
      run("stronglyConnected")(
        Analytics.stronglyConnected(edges, localThreshold = th)),
      run("triangleCounts")(Analytics.triangleCounts(edges)),
      run("betweennessLandmarks")(
        Analytics.betweennessLandmarks(edges, sources, localThreshold = th)),
      run("bfsDistancesLandmarks")(
        Analytics.bfsDistancesLandmarks(edges, sources, 10, localThreshold = th)))
  }

  private var mismatched: Seq[String] = Nil
  override def detail: Map[String, Any] =
    Map("sources" -> sources, "mismatched_operators" -> mismatched)

  def op(t: Tracer): Op = {
    val ((k, d), ns) = Timed(
      (suite(Default, "kernel", t), suite(0, "dist", t)))
    mismatched = k.keys.toSeq.sorted.filter(n => k(n) != d(n))
    Op("analytics", ns, mismatched.isEmpty)
  }
}
