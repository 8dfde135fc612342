package graft.api

import graft.ops.Pin._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SqlInternals
import graft.indexer.IndexPipeline
import graft.merge.Merge
import graft.model._
import graft.ops.{Bounded, GraphOps, LocalFold}
import graft.store.Snapshot
import graft.store.Snapshot.GraphSnapshot

/** The reference's `GraphDatabaseHandler` surface (graphDB.py), re-shaped
  * for batch semantics: reads are DataFrame combinators over the current
  * snapshot; writes accumulate into a staged batch that `commit()` merges
  * set-oriented and persists atomically (the per-event upsert round-trip
  * was the reference's bottleneck — SURVEY.md §4 anti-pattern row).
  *
  * A reference workflow translates 1:1:
  * {{{
  *   val db = GraphDatabase.open(spark, "/data/graph")
  *   db.addNode("t1", Kind.Class, "m.C", Map("name" -> "C"))
  *   db.addEdge("t1", "m.C", Rel.HasMethod, "m.C.f")
  *   db.commit()
  *   db.nodeByKey("m.C").show()
  *   db.indexRepo("/repo", "t2")               // run_mutiprocess.run
  *   db.updateVersion("t2", "t3", changed)     // update_version.py
  *   db.clearTaskData("t1")                    // A5 DETACH DELETE
  * }}}
  *
  * Residency. Each version's `nodes` and `edges` live on the driver, as
  * local frames, when they fit the row budget ([[graft.ops.Bounded]],
  * `spark.graft.localThreshold`); otherwise they stay parquet-backed
  * (persisted) or pinned (in memory). `locations`, which no read
  * touches, is never held; in memory, a write that changes it pins it.
  * The choice is made at most once per version
  * and table: by the table's first read (so `indexRepo` runs no collect
  * for it), or by the write that makes the version — a table the driver
  * held stays held while its new plan, run over the held leaves, still
  * fits. A held table is a local relation of `UnsafeRow`s. Spark folds
  * point filters over it without a job, and [[graft.ops.LocalFold]],
  * which the constructor installs, folds the joins, unions and
  * `DISTINCT`s over held tables on the driver too: point reads, expands,
  * var-length walks, `shortestPath`, the MERGE existence probes and the
  * path searches' edge collect run no Spark job. A commit still reads its
  * held tables through single-partition tasks, which no fold crosses.
  *
  * Every write ends the same way (`advance`): a persisted database
  * writes the tables the write changed, links the files of the others
  * (the [[graft.store.Snapshot]] atomic commit), and reads back every
  * table the driver does not hold, so no frame outlives the files it
  * lists. A commit that stages no edge rewrites `nodes` alone.
  */
final class GraphDatabase private (
    val spark: SparkSession, dir: Option[String]) {
  import spark.implicits._

  // joins, unions and DISTINCTs over held tables fold on the driver,
  // whichever session the caller built
  LocalFold.install(spark)

  @volatile private var snap: GraphSnapshot = GraphSnapshot(
    spark.emptyDataset[NodeRow].toDF()
      .withColumnRenamed("fullName", "full_name")
      .withColumnRenamed("filePath", "file_path")
      .select(col("full_name"),
        lit(Kind.None_).as("kind"), col("taskIds").as("task_ids"),
        col("name"), col("file_path"), col("signature"), col("clazz"),
        col("code"), col("props")).limit(0),
    spark.emptyDataset[EdgeRow].toDF()
      .select(col("src"), col("relType").as("rel_type"), col("dst"), col("props"))
      .limit(0),
    spark.emptyDataset[LocationRow].toDF().limit(0))

  dir.filter(d => new java.io.File(s"$d/nodes").exists())
    .foreach(d => snap = Snapshot.read(spark, d))

  // whether the driver holds the current version's "nodes" and "edges";
  // a table missing here is decided by its next read
  private var held = Map.empty[String, Boolean]
  private def isHeld(t: String): Boolean = held.getOrElse(t, false)

  // Staged per-call events accumulate on the DRIVER until commit() — this
  // mirrors the reference's per-call add_node/add_edge surface 1:1 and is
  // sized for that workload (interactive sessions, ~1e6 events ≈ a few
  // hundred MB). BULK ingest must not route through addNode loops: use
  // indexRepo / Merge.mergeNodes over a Dataset, which never materializes
  // events on the driver.
  private val stagedSymbols = scala.collection.mutable.ArrayBuffer.empty[SymbolEvent]
  private val stagedEdges = scala.collection.mutable.ArrayBuffer.empty[EdgeEvent]
  private val stagedUpdates = scala.collection.mutable.ArrayBuffer.empty[SymbolEvent]
  private var stageSeq = 0L

  /** Reads flush any staged batch first (read-your-writes), so the staged
    * write path is observationally the reference's immediate per-call
    * semantics while consecutive writes still batch into one merge +
    * one snapshot write (ADVICE r4: updateNode was O(snapshot) IO per
    * call). */
  private def autoFlush(): Unit = synchronized {
    if (stagedSymbols.nonEmpty || stagedEdges.nonEmpty || stagedUpdates.nonEmpty)
      commit()
  }

  def nodes: DataFrame = { autoFlush(); table("nodes") }
  def edges: DataFrame = { autoFlush(); table("edges") }
  def locations: DataFrame = { autoFlush(); snap.locations }

  /** Table `t` ("nodes" or "edges") of the current version; its first
    * read decides whether the driver holds it. */
  private def table(t: String): DataFrame = synchronized {
    if (!held.contains(t)) {
      val local = hold(t, snap(t))
      held += t -> local.isDefined
      local.foreach(l => snap = snap.updated(t, l))
    }
    snap(t)
  }

  /** `df` as a local frame of `UnsafeRow`s when it fits the row budget:
    * one bounded collect. Persisted, it takes the schema a read of table
    * `t` gives, so a held table and a read one have the same schema. */
  private def hold(t: String, df: DataFrame): Option[DataFrame] = {
    val schema = if (dir.isDefined) Snapshot.schema(t) else df.schema
    val shaped = if (dir.isDefined) df.to(schema) else df
    val toRow = ExpressionEncoder(schema).createSerializer()
    Bounded.take(shaped)(r => toRow(r).copy()).map(rows => SqlInternals.ofPlan(
      spark, LocalRelation(DataTypeUtils.toAttributes(schema), rows.toSeq)))
  }

  /** Installs the next version, in which the given tables changed and the
    * others stay as they are; every write ends here. A changed table the
    * driver held stays held if it still fits. Persisted, the changed
    * tables are written (a held one from its local frame, one file per
    * table partition) and the others linked, in one atomic commit, and
    * every table the driver does not hold is read back from the new
    * directory. In memory, a changed table decided not to fit is pinned:
    * each commit's merge plan embeds the previous snapshot's plan several
    * times (upsertInto + stubs), so a session of many commits (e.g.
    * per-statement MERGE existence probes) would otherwise compound its
    * plan exponentially. A changed `locations`, never held, is pinned
    * too: an ingest's locations are a projection of its whole pinned
    * event set, which would otherwise stay alive as long as the
    * database. */
  private def advance(nodes: Option[DataFrame] = None,
      edges: Option[DataFrame] = None,
      locations: Option[DataFrame] = None): Unit = {
    val changed = Seq("nodes" -> nodes, "edges" -> edges,
      "locations" -> locations).collect { case (t, Some(df)) => t -> df }.toMap
    val next = changed.foldLeft(snap) { case (s, (t, df)) =>
      if (!isHeld(t)) s.updated(t, df)
      else {
        val local = hold(t, df)
        held += t -> local.isDefined
        s.updated(t, local.getOrElse(df))
      }
    }
    dir match {
      case Some(d) if changed.nonEmpty || !new java.io.File(d).exists() =>
        def written(t: String) =
          if (isHeld(t)) next(t).coalesce(1) else next(t)
        Snapshot.write(GraphSnapshot(written("nodes"), written("edges"),
          next.locations), d, unchanged = Set("nodes", "edges",
            "locations") -- changed.keySet)
        val read = Snapshot.read(spark, d)
        snap = GraphSnapshot(
          if (isHeld("nodes")) next.nodes else read.nodes,
          if (isHeld("edges")) next.edges else read.edges,
          read.locations)
      case Some(_) => // nothing changed, and the directory holds it
      case None =>
        snap = changed.keys.foldLeft(next)((s, t) =>
          if (t == "locations" || held.get(t).contains(false))
            s.updated(t, s(t).pin(eager = true))
          else s)
    }
  }

  // ------------------------------------------------------------- write path

  /** A1/A3 — stage a node upsert (merged on commit). */
  def addNode(taskId: String, kind: String, fullName: String,
      props: Map[String, String] = Map.empty): Unit = synchronized {
    stageSeq += 1
    stagedSymbols += SymbolEvent(stageSeq, taskId, kind, fullName,
      props.getOrElse("name", fullName.split("\\.").last),
      props.get("file_path"), props.get("signature"), props.get("class"),
      props.get("code"),
      props -- Seq("name", "file_path", "signature", "class", "code"))
  }

  /** A4 — stage an edge upsert; endpoints stub on commit if unknown. */
  def addEdge(taskId: String, src: String, relType: String, dst: String,
      props: Map[String, String] = Map.empty): Unit = synchronized {
    stageSeq += 1
    stagedEdges += EdgeEvent(stageSeq, taskId, src, relType, dst, props)
  }

  /** Neo4j `MERGE (a)-[r:REL]->(b) ON CREATE SET … ON MATCH SET …` —
    * the conditional EDGE upsert (r14, the [[mergeNode]] pattern on the
    * A4 edge key): if (src, rel_type, dst) exists, the ON MATCH branch
    * patches its props KEY-WISE; otherwise the edge is created from the
    * pattern props + the ON CREATE branch. Existence probes the staged
    * batch on the driver plus a point lookup on the base snapshot
    * (read-your-writes without a per-statement flush — the mergeNode
    * discipline). The in-batch edge fold is whole-map LWW
    * ([[graft.merge.Merge.mergeEdges]]), so an ON MATCH patch over a
    * SAME-BATCH staged edge re-stages the folded map ++ the branch —
    * per-call replay keeps earlier staged keys; a base-snapshot match
    * stages the branch alone and commit's key-wise prio fold does the
    * patch. */
  def mergeEdge(taskId: String, src: String, relType: String, dst: String,
      props: Map[String, String], onCreate: Map[String, String],
      onMatch: Map[String, String]): Unit = synchronized {
    val stagedSame = stagedEdges.filter(e =>
      e.src == src && e.relType == relType && e.dst == dst)
    val exists = stagedSame.nonEmpty ||
      !table("edges").filter(col("src") === src &&
        col("rel_type") === relType && col("dst") === dst).isEmpty
    if (!exists) addEdge(taskId, src, relType, dst, props ++ onCreate)
    else if (onMatch.nonEmpty) {
      // the staged view of this edge is the LAST staged event's map
      // (mergeEdges' whole-map LWW); base-only matches stage the branch
      // alone and the commit fold patches key-wise
      val stagedProps =
        if (stagedSame.isEmpty) Map.empty[String, String]
        else stagedSame.maxBy(_.seq).props
      addEdge(taskId, src, relType, dst, stagedProps ++ onMatch)
    }
  }

  /** Merge the staged batch into the snapshot (set-oriented A1-A4) and
    * persist if a directory is configured. A batch without edges leaves
    * the edge table (and its files) as it is. */
  def commit(): Unit = synchronized {
    if (stagedSymbols.isEmpty && stagedEdges.isEmpty && stagedUpdates.isEmpty)
      advance()
    else {
      // a held table enters the merge as one partition, as the staged
      // events always do: over held tables Spark then plans the merge
      // with no exchange, one task over the driver's rows
      def leaf(t: String) = {
        val df = table(t)
        if (isHeld(t)) df.coalesce(1) else df
      }
      def staged(events: DataFrame) = events.coalesce(1)
      val base = leaf("nodes")
      // mergeNodes already set-unions task_ids per node from the event
      // stream, so a batch staging events from several tasks attributes
      // each node (and each stub, below) to exactly the tasks that touched
      // it — no collapse to the first task id (round-3 defect #2).
      // never-create (graphDB.py:114-119): update_node applies only when
      // the node EXISTS at the update's call time. Per-call replay order is
      // recovered from the seq numbers: an update is "late" when some
      // in-batch creation event (addNode, or an edge endpoint that stubs)
      // precedes it; otherwise it can only patch a base-snapshot node —
      // and must NOT leak fields into a node this same batch creates later
      // (update-before-add replays as a strict no-op).
      val addKeys = stagedSymbols.iterator.map(_.fullName).toSet
      val addFirstSeq: Map[String, Long] = stagedSymbols.iterator
        .map(ev => ev.fullName -> ev.seq).toSeq
        .groupMapReduce(_._1)(_._2)(math.min)
      val endpointFirstSeq: Map[String, Long] = stagedEdges.iterator
        .flatMap(e => Seq(e.src -> e.seq, e.dst -> e.seq)).toSeq
        .groupMapReduce(_._1)(_._2)(math.min)
      val firstCreateSeq: Map[String, Long] =
        (addFirstSeq.toSeq ++ endpointFirstSeq.toSeq)
          .groupMapReduce(_._1)(_._2)(math.min)
      val (lateUpdates, earlyUpdates) = stagedUpdates.toSeq.partition(u =>
        firstCreateSeq.get(u.fullName).exists(u.seq > _))
      // early updates (nothing in-batch created their key yet) patch the
      // BASE snapshot only — left_semi drops the rest, so a later add in
      // this batch starts from a clean node, exactly like per-call replay
      val baseNodes =
        if (earlyUpdates.isEmpty) base.drop("label")
        else Merge.upsertInto(base.drop("label"),
          Merge.mergeNodes(staged(earlyUpdates.toDF()))
            .join(base.select("full_name"), Seq("full_name"), "left_semi"))
      // late updates on added keys ride the SAME seq-ordered stream (null
      // taskId → no task attribution, 'none' kind → no promotion), so the
      // LWW fold interleaves adds and prop-SETs in exact call order; every
      // key in `fresh` has an addNode event, so no never-create gating is
      // needed here
      val fresh = Merge.mergeNodes(staged(
        (stagedSymbols.toSeq ++ lateUpdates.filter(u => addKeys(u.fullName))).toDF()))
      val upserted = Merge.upsertInto(baseNodes, fresh)
      val edgeEvents = staged(stagedEdges.toSeq.toDF())
      // without staged edges there is no stub to add or patch, and no
      // edge to regroup
      val next =
        if (stagedEdges.isEmpty) (upserted, None)
        else {
          // updateNode AFTER addEdge in the same batch must patch the
          // edge's stub node (per-call replay: the stub exists when the SET
          // runs) — seq-gated so an update staged BEFORE the edge stays a
          // no-op, exactly like the reference's immediate calls
          val stubPatchEvents = lateUpdates.filter(u =>
            !addKeys(u.fullName) &&
              endpointFirstSeq.get(u.fullName).exists(u.seq > _))
          // edge upsert: fresh props overwrite base props key-wise (A4)
          val allEdges = leaf("edges").withColumn("prio", lit(0))
            .unionByName(Merge.mergeEdges(edgeEvents).withColumn("prio", lit(1)))
            .groupBy("src", "rel_type", "dst")
            .agg(aggregate(
              array_sort(collect_list(struct(col("prio"), col("props"))),
                (l, r) => l.getField("prio") - r.getField("prio")),
              map().cast("map<string,string>"),
              (acc, e) => map_concat(
                map_filter(acc, (k, _) => !map_contains_key(e.getField("props"), k)),
                e.getField("props"))).as("props"))
          val withStubs = Merge.withStubsByTask(upserted, edgeEvents)
          val finalNodes =
            if (stubPatchEvents.isEmpty) withStubs
            else Merge.upsertInto(withStubs,
              Merge.mergeNodes(staged(stubPatchEvents.toDF())))
          (finalNodes, Some(allEdges))
        }
      stagedSymbols.clear(); stagedEdges.clear(); stagedUpdates.clear()
      advance(nodes = Some(next._1), edges = next._2)
    }
  }

  /** Neo4j `MERGE … ON CREATE SET … ON MATCH SET …` — the conditional
    * upsert: if the key exists, apply the ON MATCH branch as an A3 prop
    * patch; otherwise create the node from the pattern props + the ON
    * CREATE branch (A1). The existence probe reads the staged batch on
    * the driver (addNode events and edge-endpoint stubs both create)
    * plus a point lookup on the base snapshot — read-your-writes
    * WITHOUT forcing a merge-flush per statement, so a run of MERGEs
    * stays one commit (staged updates can't create, and deletes apply
    * to the snapshot immediately, so staged + base is exact). The
    * branch decision is a driver-side point probe, matching this API's
    * per-statement interactive surface — bulk conditional upserts stay
    * on the set-oriented [[graft.merge.Merge]] path. */
  def mergeNode(taskId: String, kind: String, fullName: String,
      props: Map[String, String], onCreate: Map[String, String],
      onMatch: Map[String, String]): Unit = synchronized {
    val exists = stagedSymbols.exists(_.fullName == fullName) ||
      stagedEdges.exists(e => e.src == fullName || e.dst == fullName) ||
      !table("nodes").filter(col("full_name") === fullName).isEmpty
    if (!exists) addNode(taskId, kind, fullName, props ++ onCreate)
    else if (onMatch.nonEmpty) updateNode(fullName, onMatch)
  }

  /** A3 — prop-only update of an EXISTING node (graphDB.py:114-119:
    * match-then-SET): a missing full_name is a NO-OP — no node is
    * created, unlike [[addNode]]'s upsert. STAGED like addNode (one merge
    * + one snapshot write per batch instead of a full snapshot rewrite
    * per call); reads flush first, so call-order semantics are intact. */
  def updateNode(fullName: String, props0: Map[String, String]): Unit = synchronized {
    // accept the "class" props key exactly as addNode does (stored in the
    // clazz column)
    val props = props0.map { case (k, v) => (if (k == "class") "clazz" else k, v) }
    stageSeq += 1
    stagedUpdates += SymbolEvent(stageSeq, null, Kind.None_, fullName,
      props.getOrElse("name", null),
      props.get("file_path"), props.get("signature"), props.get("clazz"),
      props.get("code"),
      props -- Seq("name", "file_path", "signature", "clazz", "code"))
  }

  /** C1-C14 + D1-D4 — index a Python repo into a task snapshot
    * (run_mutiprocess.run). */
  def indexRepo(root: String, taskId: String): Unit = synchronized {
    autoFlush()
    val ix = IndexPipeline.run(spark, root, taskId)
    mergeIndexed(ix, taskId)
  }

  private def mergeIndexed(ix: IndexPipeline.Indexed, taskId: String,
      baseNodes: DataFrame = snap.nodes): Unit = {
    // a re-indexed file's locations replace its base rows, not add to them
    val (nodes2, baseLocations) =
      if (baseNodes.isEmpty) (ix.nodes, snap.locations)
      else (Merge.upsertInto(baseNodes, ix.nodes.drop("label")),
        snap.locations.join(ix.locations.select("filePath").distinct(),
          Seq("filePath"), "left_anti"))
    val edges2 = snap.edges.unionByName(ix.edges)
      .dropDuplicates("src", "rel_type", "dst")
    // the ingested version's tables are decided by their first read, so
    // the ingest runs no collect for them
    held = Map.empty
    advance(Some(nodes2), Some(edges2),
      Some(baseLocations.unionByName(ix.locations)))
  }

  /** Cypher `MATCH (a)-[r:REL]->(b) DELETE r` — point edge delete (r14
    * write-surface breadth past the reference's parameterized handlers):
    * staged writes flush first (read-your-writes), then the one
    * (src, rel_type, dst) row drops. Nodes and locations stay — DETACH
    * cascade is A5's job. A narrow filter over the edge set; the
    * snapshot rewrite is the same atomic-rename commit every write
    * takes. */
  def deleteEdge(src: String, relType: String, dst: String): Unit =
    synchronized {
      autoFlush()
      advance(edges = Some(table("edges").filter(!(col("src") === src &&
        col("rel_type") === relType && col("dst") === dst))))
    }

  /** Cypher `MATCH (n {full_name:'x'}) REMOVE n.k, n.j` — property
    * removal (r14): keys naming core fields (name, file_path,
    * signature, class, code) null the column for the matched node,
    * open-map keys drop via map_filter, keys the node doesn't carry
    * no-op (Neo4j semantics). One narrow per-key map over the node
    * set — no shuffle, no join. */
  def removeNodeProps(fullName: String, keys: Seq[String]): Unit =
    synchronized {
      autoFlush()
      val core = Map("name" -> "name", "file_path" -> "file_path",
        "signature" -> "signature", "class" -> "clazz", "code" -> "code")
      val hit = col("full_name") === fullName
      var n2 = table("nodes")
      keys.foreach { k =>
        core.get(k) match {
          case Some(c) => n2 = n2.withColumn(c,
            when(hit, lit(null).cast("string")).otherwise(col(c)))
          case None => n2 = n2.withColumn("props",
            when(hit, map_filter(col("props"), (mk, _) => mk =!= k))
              .otherwise(col("props")))
        }
      }
      advance(nodes = Some(n2))
    }

  /** A5 — DETACH DELETE of a task snapshot. */
  def clearTaskData(taskId: String): Unit = synchronized {
    autoFlush()
    val (n2, e2) = GraphOps.clearTask(table("nodes"), table("edges"), taskId)
    advance(Some(n2), Some(e2))
  }

  /** A6 — clear everything. */
  def clearDatabase(): Unit = synchronized {
    stagedSymbols.clear(); stagedEdges.clear(); stagedUpdates.clear()
    advance(Some(snap.nodes.limit(0)), Some(snap.edges.limit(0)),
      Some(snap.locations.limit(0)))
  }

  /** A7 — strip a root prefix off file paths. */
  def updateFilePath(root: String): Unit = synchronized {
    autoFlush()
    advance(nodes =
      Some(GraphOps.stripPathPrefix(table("nodes"), "file_path", root)))
  }

  /** D5/D6 — incremental version update (update_version.py:58-73): carry
    * the new task onto unchanged nodes, re-index only changed files. */
  def updateVersion(oldTask: String, newTask: String, changedFiles: Seq[String],
      repoRoot: Option[String] = None): Unit = synchronized {
    autoFlush()
    val carried = GraphOps.carryForward(snap.nodes, newTask, changedFiles)
    repoRoot match {
      case None => advance(nodes = Some(carried))
      case Some(root) =>
        import IndexPipeline.SourceFile
        val changed = IndexPipeline.readRepo(spark, root)
          .filter((f: SourceFile) => changedFiles.contains(f.path))
        val ix = IndexPipeline.enrich(
          IndexPipeline.indexFiles(spark, changed, newTask), newTask)
        mergeIndexed(ix, newTask, carried)
    }
  }

  /** D6 proper — updateVersion driven from two REAL commits, the
    * reference's own entry flow (update_version.py:80-99: get_change_list
    * then update_version). The repo working tree is expected to be checked
    * out at `commit2`, exactly as the reference assumes. */
  def updateVersionFromCommits(oldTask: String, newTask: String,
      repoRoot: String, commit1: String, commit2: String): Unit =
    updateVersion(oldTask, newTask,
      graft.indexer.GitChanges.changedFiles(repoRoot, commit1, commit2),
      Some(repoRoot))

  // -------------------------------------------------------------- read path

  def nodeByKey(fullName: String): DataFrame =
    GraphOps.nodeByKey(nodes, fullName)

  def nodesByKind(kind: String, pred: Column = lit(true)): DataFrame =
    nodes.filter(col("kind") === kind && pred)

  def expand(relType: String, srcPred: Column, dstPred: Column = lit(true)): DataFrame = {
    val n = nodes // flushes once; snapshot frames below are consistent
    val e = table("edges").filter(col("rel_type") === relType)
    val srcs = n.filter(srcPred).select(col("full_name").as("src"))
    e.join(broadcast(srcs), "src")
      .join(n.withColumnRenamed("full_name", "dst_name")
        .withColumnRenamed("kind", "dst_kind"),
        col("dst") === col("dst_name"))
      .filter(dstPred)
  }

  /** The `none`→kind promotion as the reference's explicit Cypher issues
    * it (`MATCH (n:none {full_name}) REMOVE n:none SET n:LABEL`,
    * graphDB.py:86-88): only a node currently holding the placeholder
    * kind promotes; anything else is untouched (A2). */
  def promoteNodeKind(fullName: String, newKind: String): Unit = synchronized {
    autoFlush()
    advance(nodes = Some(table("nodes").withColumn("kind",
      when(col("full_name") === fullName && col("kind") === Kind.None_,
        newKind).otherwise(col("kind")))))
  }

  /** `<read clauses> FOREACH (v IN <boundList> | <write body>)` — the
    * DATA-DRIVEN write loop (`MATCH … WITH collect(n.name) AS names
    * FOREACH (nm IN names | SET …)`): the read part runs through
    * CypherLite, the bound list collects at the driver, and the loop
    * re-enters the LITERAL-FOREACH machinery with the elements rendered
    * as escaped string literals — one bounded read feeding the same
    * typed write expansion, never a per-row Spark action. The literal
    * form (`IN [ … ]`) never matches here (its list is not a bare
    * identifier), so [[CypherWrite.parseAll]] keeps owning it. */
  private val dataForeachRe =
    """(?is)^(.+?\S)\s+FOREACH\s*\(\s*(\w+)\s+IN\s+(\w+)\s*\|\s*(.+)\)\s*$""".r

  /** B10 — `execute_query` for the reference's observed Cypher shapes
    * (graphDB.py:106-112; full Cypher delegated to Neo4j there, subset
    * parsed natively here — SURVEY.md §7.3). WRITE statements (the
    * shapes the reference's own handler issues — see [[CypherWrite]])
    * route to the typed write API and return an empty frame, exactly
    * the no-records result `graph.run` gives a write. */
  def executeQuery(cypher: String): DataFrame =
    CypherWrite.parseAll(cypher) match {
      case None if dataForeachRe.findFirstMatchIn(cypher).isDefined =>
        val m = dataForeachRe.findFirstMatchIn(cypher).get
        val (readPart, v, listVar, body) =
          (m.group(1), m.group(2), m.group(3), m.group(4))
        val n = nodes
        val rows = CypherLite.execute(n, table("edges"),
          s"$readPart RETURN $listVar AS __fe").collect()
        val elems = rows.toSeq.flatMap(r => r.getSeq[Any](0)).map(_.toString)
        if (elems.nonEmpty) {
          def esc(x: String) = x.replace("\\", "\\\\").replace("'", "\\'")
          executeQuery(s"FOREACH ($v IN [" +
            elems.map(e => s"'${esc(e)}'").mkString(", ") + s"] | $body)")
        }
        spark.emptyDataFrame
      case Some(stmts) =>
        stmts.foreach {
          case CypherWrite.ClearAll => clearDatabase()
          case CypherWrite.ClearLabel(l) =>
            // the reference only issues this for task labels
            // (graphDB.py:96-100); deleting by KIND would need different
            // semantics, so refuse rather than silently no-op
            require(!Kind.all.contains(l),
              s"DETACH DELETE by kind label '$l' not supported (task labels only)")
            clearTaskData(l)
          case CypherWrite.Promote(fn, k) => promoteNodeKind(fn, k)
          case CypherWrite.UpsertNode(task, kind, fn, props) =>
            addNode(task, kind, fn, props)
          case CypherWrite.MergeNode(task, kind, fn, props, onCreate, onMatch) =>
            mergeNode(task, kind, fn, props, onCreate, onMatch)
          case CypherWrite.UpdateProps(fn, props) => updateNode(fn, props)
          case CypherWrite.UpsertEdge(task, s, r, d, props) =>
            addEdge(task, s, r, d, props)
          case CypherWrite.MergeEdge(task, s, r, d, props, onC, onM) =>
            mergeEdge(task, s, r, d, props, onC, onM)
          case CypherWrite.DeleteEdge(s, r, d) => deleteEdge(s, r, d)
          case CypherWrite.RemoveProps(fn, keys) =>
            removeNodeProps(fn, keys)
        }
        spark.emptyDataFrame
      case None => { val n = nodes; CypherLite.execute(n, table("edges"), cypher) }
    }

  /** [[executeQuery]] with Neo4j-style parameters — the reference's own
    * `graph.run(query, full_name=…)` spelling (graphDB.py:86-91): every
    * `$name` is inlined as a literal before parsing, so parameters work
    * in prop literals, WHERE, IN lists and the WRITE statements alike. */
  def executeQuery(cypher: String, params: Map[String, Any]): DataFrame =
    executeQuery(CypherLite.substituteParams(cypher, params))

  /** [[executeQuerySafe]] with parameters (see [[executeQuery]]). A
    * missing/invalid parameter is swallowed to an empty frame too — it
    * surfaces at `graph.run` time in the reference, inside its
    * swallow-all try (graphDB.py:106-112). */
  def executeQuerySafe(cypher: String, params: Map[String, Any]): DataFrame = {
    autoFlush()
    try executeQuery(cypher, params).pin(eager = true)
    catch { case _: Exception => spark.emptyDataFrame }
  }

  /** The reference's swallow-errors query behavior (graphDB.py:106-112:
    * any failure → `''`): unparseable/failing queries yield an EMPTY
    * frame instead of throwing. Materialized eagerly (the reference
    * returns a record list), so EXECUTION-time failures are swallowed
    * too, not just parse/analysis errors. [[executeQuery]] stays the
    * throwing, library-grade surface. */
  def executeQuerySafe(cypher: String): DataFrame = {
    // flush BEFORE the swallow: a failing staged WRITE must surface to
    // the writer, not masquerade as an empty query result
    autoFlush()
    try executeQuery(cypher).pin(eager = true)
    catch { case _: Exception => spark.emptyDataFrame }
  }

  /** B6 + B11 — methods of a class with hydrated code, the reference's
    * flagship demo query (graphDB.py:280-283). */
  def methodsOf(classFullName: String, files: DataFrame): DataFrame = {
    val ms = expand(Rel.HasMethod, col("full_name") === classFullName)
      .select(col("dst_name").as("full_name"), col("name"),
        col("signature"), col("code"))
    graft.hydrate.Hydrate.hydrate(ms, files, "code")
  }
}

object GraphDatabase {
  /** In-memory database (no persistence). */
  def inMemory(spark: SparkSession): GraphDatabase =
    new GraphDatabase(spark, None)

  /** Open (or create) a persistent snapshot directory. */
  def open(spark: SparkSession, dir: String): GraphDatabase =
    new GraphDatabase(spark, Some(dir))
}
