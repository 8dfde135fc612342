package graft.indexer

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.ops.Bounded
import graft.ops.Pin._
import graft.merge.{Merge, MergeLocal}
import graft.model._
import graft.enrich.Closure

/** The indexing pipeline (reference run_mutiprocess.py / run_index_single
  * .py restated Spark-first, SURVEY.md §3.1):
  *
  *   files --flatMap indexFile--> events --merge--> nodes/edges/locations
  *         --enrich (D1-D4)--> snapshot
  *
  * The reference fans out a subprocess per file and serializes every write
  * through one inter-process lock (its main bottleneck, SURVEY.md §4); here
  * per-file parsing is executor-parallel (C2 = partition parallelism) and
  * the merge is two shuffles (SURVEY.md §2.A) above the driver budget, so
  * ingest scales with the cluster, not the lock.
  *
  * Physical plan. At this input size the cost is per task and per job,
  * not per byte, so:
  *   - [[readRepo]] spreads the directory walk and the content reads over
  *     `spark.sparkContext.defaultParallelism` partitions (one per core),
  *     and every later scan of the parsed events inherits that count;
  *   - [[indexFiles]] holds the tree's rows for its two reads (the
  *     pre-scan and the parse) and caches the parsed events. One bounded
  *     collect of the events, a row each, decides the merge's arm
  *     ([[graft.ops.Bounded.take]] against `spark.graft.localThreshold`
  *     rows): a cache stage parses in parallel, then one task reads the
  *     cache. When they fit, [[graft.merge.MergeLocal]] folds them into
  *     the four tables, which come back as one-partition local frames,
  *     with the tables enrich reads kept on the driver: two jobs in place
  *     of the merge shuffles and four pins. When they miss, the merge
  *     shuffles run and the merged nodes, merged edges, locations and
  *     imports are pinned. Either way both caches are released — ingest
  *     leaves no entry in the session's cache manager;
  *   - [[enrich]] has two arms. Tables merged on the driver take the
  *     driver arm; others are probed, one bounded probe per table
  *     ([[graft.ops.Bounded.take]] on the pinned merged edges, then
  *     nodes, then imports, each against the same budget). When all
  *     three fit, the driver arm ([[EnrichLocal]]) computes D1–D4 in one
  *     in-memory pass and returns the edges and stub nodes as local
  *     frames, in place of the distributed arm's dozens of join and
  *     fixpoint jobs. When one misses, the distributed arm runs; it pins
  *     its join tail (`flagged`) once, so the snapshot write's three
  *     tables (edges, the stub nodes built from them, and the locations
  *     whose dropped references they decide) read that leaf instead of
  *     each re-running the joins.
  * The graph itself depends neither on the partition count nor on the
  * arm.
  */
object IndexPipeline {

  final case class SourceFile(path: String, content: String)

  /** C1 — enumerate a source tree into (path, content) rows,
    * EXECUTOR-side: the driver lists only the repo root's immediate
    * children (O(1) driver memory at any repo size); each executor task
    * walks its own subtree, and the resulting path set is rebalanced
    * before the content reads (subtree sizes are skewed). A Spark file
    * source (`binaryFile`) is deliberately NOT used here: the Hadoop
    * hidden-file convention silently skips `_`-/`.`-prefixed names like
    * `__init__.py` — load-bearing files for a Python indexer (they carry
    * the re-exports D2 chases). Assumes a shared filesystem, the same
    * posture the per-partition content reads already had. Paths are
    * relativized to `root` (A7, reference graphDB.py:155-174 does this
    * post-hoc). */
  def readRepo(spark: SparkSession, root: String): Dataset[SourceFile] = {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val rootPath = Paths.get(root)
    val topStream = Files.list(rootPath)
    val top =
      try topStream.iterator().asScala
        .map(p => rootPath.relativize(p).toString).toSeq.sorted
      finally topStream.close()
    val par = spark.sparkContext.defaultParallelism
    spark.createDataset(top)
      .repartition(math.max(1, math.min(top.size, par)))
      .flatMap { rel =>
        val p = Paths.get(root, rel)
        if (Files.isRegularFile(p)) {
          if (rel.endsWith(".py")) Iterator.single(rel) else Iterator.empty
        } else if (Files.isDirectory(p)) {
          val s = Files.walk(p)
          try s.iterator().asScala
            .filter(q => Files.isRegularFile(q) && q.toString.endsWith(".py"))
            .map(q => Paths.get(root).relativize(q).toString)
            .toVector.iterator
          finally s.close()
        } else Iterator.empty
      }
      .repartition(par)
      .map { rel =>
        val bytes = Files.readAllBytes(Paths.get(root, rel))
        SourceFile(rel, decodeSource(bytes))
      }
  }

  /** Encoding auto-derivation (the reference tries UTF-8 then lets the
    * codecs layer "derive encoding automatically",
    * shallow_indexer.py:79-86). For PYTHON sources the principled
    * derivation is what `tokenize.detect_encoding` does — and what we
    * implement, executor-side and allocation-light:
    *
    *  1. BOM sniff: UTF-8 / UTF-16LE/BE / UTF-32LE/BE (32 before 16 —
    *     a UTF-32LE BOM starts with the UTF-16LE one);
    *  2. PEP 263 coding cookie on line 1 or 2
    *     (`# -*- coding: latin-1 -*-`), charset resolved through Java's
    *     alias table (latin-1, cp1252, …) with unknown names ignored;
    *  3. strict UTF-8 (the Python-3 default);
    *  4. permissive total ISO-8859-1 (every byte maps) rather than
    *     scattering U+FFFD through the text — keeps un-decodable files
    *     indexable with their ASCII structure intact. */
  private[graft] def decodeSource(bytes: Array[Byte]): String = {
    import java.nio.charset.{Charset, StandardCharsets}
    def at(i: Int): Int = bytes(i) & 0xff
    def decode(cs: Charset, offset: Int): String =
      new String(bytes, offset, bytes.length - offset, cs)
    // 1 — BOM
    if (bytes.length >= 4 && at(0) == 0xff && at(1) == 0xfe &&
        at(2) == 0x00 && at(3) == 0x00)
      return decode(Charset.forName("UTF-32LE"), 4)
    if (bytes.length >= 4 && at(0) == 0x00 && at(1) == 0x00 &&
        at(2) == 0xfe && at(3) == 0xff)
      return decode(Charset.forName("UTF-32BE"), 4)
    if (bytes.length >= 2 && at(0) == 0xff && at(1) == 0xfe)
      return decode(StandardCharsets.UTF_16LE, 2)
    if (bytes.length >= 2 && at(0) == 0xfe && at(1) == 0xff)
      return decode(StandardCharsets.UTF_16BE, 2)
    if (bytes.length >= 3 && at(0) == 0xef && at(1) == 0xbb && at(2) == 0xbf)
      return decode(StandardCharsets.UTF_8, 3)
    // 2 — PEP 263 cookie within the first two lines (read them as
    // latin-1: the cookie is ASCII and every byte maps)
    locally {
      val headLen = math.min(bytes.length, 256)
      val head = new String(bytes, 0, headLen, StandardCharsets.ISO_8859_1)
      val cookie = """coding[:=]\s*([-\w.]+)""".r
      head.split("\n", 3).take(2).foreach { ln =>
        if (ln.trim.startsWith("#"))
          cookie.findFirstMatchIn(ln).foreach { m =>
            try return new String(bytes, Charset.forName(m.group(1)))
            catch { case _: Exception => /* unknown codec name: fall on */ }
          }
      }
    }
    // 3 — strict UTF-8, 4 — total fallback
    val dec = StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
    try dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
    catch {
      case _: java.nio.charset.CharacterCodingException =>
        new String(bytes, StandardCharsets.ISO_8859_1)
    }
  }

  /** The graph tables of one ingest. `onDriver` holds the merged tables
    * [[enrich]] reads when [[indexFiles]] merged them on the driver, so
    * enrich needs no probe to find them. */
  final case class Indexed(
      nodes: DataFrame, edges: DataFrame, locations: DataFrame,
      imports: DataFrame, onDriver: Option[EnrichLocal.Input] = None)

  private type Parsed = (Seq[SymbolEvent], Seq[EdgeEvent], Seq[LocationRow],
    Seq[PyIndexer.ImportFact])
  private type Event = (SymbolEvent, EdgeEvent, LocationRow,
    PyIndexer.ImportFact)

  /** C2/C4/C13 — index every file and merge the event stream into graph
    * tables. One wide flatMap (no shuffle), then the merge: a fold on the
    * driver when the events fit the session's row budget
    * ([[Bounded.rows]]), else the Merge shuffles. Files the parser chokes
    * on degrade to an ERROR location row (never abort). */
  def indexFiles(spark: SparkSession, files: Dataset[SourceFile],
      taskId: String): Indexed = {
    import spark.implicits._
    // the pre-scan and the parse both read the tree: hold its rows for
    // the two passes, unless the caller already holds them
    val hold = files.storageLevel == StorageLevel.NONE
    if (hold) files.cache()
    // r14 slice 62 pre-scan: one cheap executor pass collects each
    // module's top-level binding set (bounded: names per repo, the model
    // jedi holds in memory for the whole project anyway); broadcast so
    // the deep pass can DISPROVE imported decorator names cross-module
    val ctx = PyIndexer.corpusContext(
      files.map { f =>
        val s = PyIndexer.moduleBindings(f.path, f.content)
        (s.mod, s.names.toSeq.sorted, s.open, s.classes.toSeq.sorted,
          s.returns.toSeq.sorted, s.fields.toSeq.sorted,
          s.vars.toSeq.sorted, s.imports.toSeq.sorted,
          s.modImports.toSeq.sorted, s.bases.toSeq.sortBy(_._1),
          s.returnElems.toSeq.sorted, s.starImports, s.allList)
      }.collect().toSeq
        .map(t => PyIndexer.ModuleScan(t._1, t._2.toSet, t._3,
          t._4.toSet, t._5.toMap, t._6.toMap, t._7.toMap, t._8.toMap,
          t._9.toMap, t._10.toMap, t._11.toMap, t._12, t._13)))
    val ctxB = spark.sparkContext.broadcast(ctx)
    val events = files.flatMap { f =>
      val ev = PyIndexer.indexFileSafe(taskId, f.path, f.content,
        Some(ctxB.value))
      Seq[Parsed]((ev.symbols, ev.edges, ev.locations, ev.imports))
    }.cache()
    val nodes0 = Merge.mergeNodes(events.flatMap(_._1).toDF())
    val edges0 = Merge.mergeEdges(events.flatMap(_._2).toDF())
    val locations0 = events.flatMap(_._3).toDF()
    val imports0 = events.flatMap(_._4).toDF()
    // the one "fits on the driver" decision: a bounded collect of the
    // events, one row each. It reads the cache through one task, after
    // the cache stage has filled it (the parse) in parallel
    val collected = Bounded.take(events.flatMap { case (s, e, l, i) =>
      s.iterator.map(x => (x, null, null, null): Event) ++
        e.iterator.map(x => (null, x, null, null): Event) ++
        l.iterator.map(x => (null, null, x, null): Event) ++
        i.iterator.map(x => (null, null, null, x): Event)
    }.coalesce(1), Bounded.rows(spark))(identity)
    val out = collected match {
      case Some(evs) =>
        mergeOnDriver(evs.toSeq, taskId, Indexed(
          Merge.withStubs(nodes0, edges0, taskId), edges0, locations0,
          imports0))
      case None =>
        val edges = edges0.pin(eager = true)
        val nodes = Merge.withStubs(nodes0, edges, taskId)
          .pin(eager = true)
        // lineage cut at the phase boundary: the enrichment stage chains
        // enough joins that carrying the merge plan underneath it pushes
        // task binaries past the MiB warning threshold — and this is a
        // write pipeline, so materializing the merged tables is the normal
        // posture (the reference persists here too). enrich reads
        // `imports` in six places and the snapshot write reads
        // `locations`, so both are pinned too; after that nothing reads
        // `events` again.
        val locations = locations0.pin(eager = true)
        val imports = imports0.pin(eager = true)
        Indexed(nodes, edges, locations, imports)
    }
    events.unpersist()
    if (hold) files.unpersist()
    out
  }

  /** [[indexFiles]]' merge over the collected events (each row sets one
    * of its four fields), by [[MergeLocal]]: the four tables come back as
    * one-partition local frames in the schemas of `plan`, the distributed
    * arm's unexecuted frames, with the tables [[enrich]] reads kept on
    * the driver. */
  private def mergeOnDriver(events: Seq[Event], taskId: String,
      plan: Indexed): Indexed = {
    val spark = plan.nodes.sparkSession
    def frame(rows: Seq[Row], like: DataFrame) =
      spark.createDataFrame(rows.asJava, like.schema).coalesce(1)
    val named = MergeLocal.nodes(events.flatMap(e => Option(e._1)))
    val keys = named.iterator.map(_.getString(0)).toSet
    val edges = MergeLocal.edges(events.flatMap(e => Option(e._2)))
    val nodes = named ++ MergeLocal.stubs(keys, edges, taskId)
    val locations = events.flatMap(e => Option(e._3))
    val imports = events.flatMap(e => Option(e._4))
    Indexed(
      frame(nodes, plan.nodes),
      frame(edges.map(e => Row(e.src, e.relType, e.dst, e.props)), plan.edges),
      frame(locations.map(Row.fromTuple), plan.locations),
      frame(imports.map(Row.fromTuple), plan.imports),
      Some(EnrichLocal.Input(
        edges.map(e => EnrichLocal.Edge(e.src, e.relType, e.dst, e.props)),
        nodes.map(r => (r.getString(0), r.getString(1))),
        imports.map(i =>
          EnrichLocal.Import(i.module, i.alias, i.target, i.kind)))))
  }

  /** D2 — re-export chasing: an edge/import target `pkg.name` where `pkg`
    * is a module that merely re-imports `name` (from .x import name in
    * __init__.py) is rewritten to the definition's full_name. Applied
    * `hops` times for chains (reference retries recursively,
    * ast_manage.py:128-152). */
  private def chaseReexports(targets: DataFrame, targetCol: String,
      imports: DataFrame, definedKeys: DataFrame, hops: Int): DataFrame = {
    val named = imports.filter(col("kind") === "name")
      .select(concat(col("module"), lit("."), col("alias")).as("_alias_fqn"),
        col("target").as("_reexport_target"))
    (1 to hops).foldLeft(targets) { (df, _) =>
      df
        // only rewrite targets that are NOT actually defined symbols
        .join(definedKeys.withColumnRenamed("full_name", targetCol)
          .withColumn("_defined", lit(true)), Seq(targetCol), "left")
        .join(named, col(targetCol) === col("_alias_fqn"), "left")
        .withColumn(targetCol,
          when(col("_defined").isNull && col("_reexport_target").isNotNull,
            col("_reexport_target")).otherwise(col(targetCol)))
        .drop("_alias_fqn", "_reexport_target", "_defined")
    }
  }

  /** D1-D4 — enrichment:
    *  1. re-export chasing (D2) rewrites edge targets through package
    *     __init__ re-imports;
    *  2. import containment (D1/D2): CONTAINS(importing module → imported
    *     symbol), wildcard `import *` expanding to every top-level member
    *     of the source module (B4 join shape, ast_manage.py:154-160);
    *  3. inherited-method closure (D4, ast_manage.py:79-99);
    *  4. stub reconciliation for the rewritten edge set.
    *
    * When [[indexFiles]] merged on the driver (`ix.onDriver`), or the
    * merged edges, nodes (`full_name`, `kind`) and imports each fit the
    * session's row budget ([[Bounded.rows]]), the pass runs on the
    * driver ([[EnrichLocal]]), and the edges and stub nodes come back as
    * local frames. Otherwise [[enrichDistributed]] runs; both give the
    * same graph.
    */
  def enrich(ix: Indexed, taskId: String): Indexed = {
    val spark = ix.edges.sparkSession
    import spark.implicits._
    val budget = Bounded.rows(spark)
    // the three tables are pinned: one task reads their blocks, so each
    // probe is one job instead of a limit's partition scale-up rounds
    def probe[T: ClassTag](df: DataFrame)(f: Row => T) =
      Bounded.take(df.coalesce(1), budget)(f)
    // tables merged on the driver are there already: no probe
    val input = ix.onDriver.orElse(for {
      edges <- probe(ix.edges.select("src", "rel_type", "dst", "props"))(
        r => EnrichLocal.Edge(r.getString(0), r.getString(1),
          r.getString(2), r.getMap[String, String](3).toMap))
      nodes <- probe(ix.nodes.select("full_name", "kind"))(r =>
        (r.getString(0), r.getString(1)))
      imports <- probe(ix.imports.select("module", "alias", "target", "kind"))(
        r => EnrichLocal.Import(r.getString(0), r.getString(1),
          r.getString(2), r.getString(3)))
    } yield EnrichLocal.Input(edges, nodes, imports))
    input.map(EnrichLocal.run).fold(enrichDistributed(ix, taskId)) { out =>
      // in the distributed arm's column order (its USING join on dst
      // leads), and one partition per table: the snapshot writes a file
      // per partition, and one partition needs no shuffle to deduplicate
      val edges = spark.createDataFrame(
        out.edges.map(e => Row(e.dst, e.src, e.rel, e.props)).asJava,
        ix.edges.select("dst", "src", "rel_type", "props").schema)
        .coalesce(1)
      val stubs = Merge.stubNodes(out.stubs.toDF("full_name")
        .withColumn("task_ids", array(lit(taskId))))
      val nodes = ix.nodes.filter(col("kind") =!= Kind.None_)
        .unionByName(stubs).coalesce(1)
      // drops the REFERENCE rows of dropped calls, as the distributed
      // arm's join does, with a filter on the table
      val locations =
        if (out.dropped.isEmpty) ix.locations.coalesce(1)
        else ix.locations.coalesce(1).filter(!(col("kind") === "REFERENCE" &&
          coalesce(col("symbolFullName").isin(out.dropped.toSeq: _*),
            lit(false))))
      Indexed(nodes, edges, locations, ix.imports)
    }
  }

  /** [[enrich]] as Spark joins, for graphs over the driver budget. */
  private def enrichDistributed(ix: Indexed, taskId: String): Indexed = {
    val defined = ix.nodes.filter(col("kind") =!= Kind.None_)
      .select(col("full_name"))
    val edges1 = chaseReexports(ix.edges, "dst", ix.imports, defined, hops = 2)

    // named import containment (only targets that exist as defined symbols)
    val importContains = chaseReexports(
      ix.imports.filter(col("kind") === "name")
        .select(col("module").as("src"), col("target").as("dst")),
      "dst", ix.imports, defined, hops = 2)
      .join(defined.withColumnRenamed("full_name", "dst"), Seq("dst"), "left_semi")
      .select(col("src"), lit(Rel.Contains).as("rel_type"), col("dst"),
        map(lit("association_type"), lit("IMPORT")).as("props"))
    // wildcard: importing module CONTAINS every top-level member of target
    // (expanded over the post-import-containment edge set, so a package's
    // re-exported members — CONTAINS edges created just above — count)
    val contains1 = edges1.unionByName(importContains)
    val wildcardContains = ix.imports.filter(col("kind") === "wildcard")
      .select(col("module").as("_importer"), col("target").as("_srcmod"))
      .join(contains1.filter(col("rel_type") === Rel.Contains)
        .select(col("src").as("_srcmod"), col("dst")), "_srcmod")
      .select(col("_importer").as("src"), lit(Rel.Contains).as("rel_type"),
        col("dst"), map(lit("association_type"), lit("IMPORT")).as("props"))

    val withImports = contains1.unionByName(wildcardContains)
      .dropDuplicates("src", "rel_type", "dst")
      // second lineage cut: the closure + call-rebinding joins below
      // would otherwise re-serialize the whole re-export/wildcard chain
      // in every downstream stage
      .pin(eager = true)

    val inherits = withImports.filter(col("rel_type") === Rel.Inherits)
      .select(col("src"), col("dst"))
    val hasMethod = withImports.filter(col("rel_type") === Rel.HasMethod)
      .select(col("src"), col("dst"))
    val newEdges = Closure.inheritedMethods(inherits, hasMethod)
      .select(col("src"), lit(Rel.HasMethod).as("rel_type"), col("dst"),
        map(lit("inherited"), lit("true")).as("props"))
    val withInherited0 = withImports.unionByName(newEdges)

    // C3 slice 16: `super().m()` sentinel call edges
    // (`<cls>.__super__.<m>`, PyIndexer) rewrite to the first definition
    // of m along the class's C3 MRO after the class itself
    // (Closure.superResolve — Python's zero-argument super() binding);
    // unresolved sentinels DROP, the shallow posture. The sentinel set
    // is tiny (one row per distinct super-call pair), so these joins
    // never touch the main edge volume.
    val superSent = ".__super__."
    val isSuperCall = col("rel_type") === Rel.Call &&
      col("dst").contains(superSent)
    val superRaw = withInherited0.filter(isSuperCall)
    val withInherited =
      if (superRaw.isEmpty) withInherited0
      else {
        val pairs = superRaw.select(
          substring_index(col("dst"), superSent, 1).as("cls"),
          substring_index(col("dst"), superSent, -1).as("meth")).distinct()
        val inheritsOrd = withImports
          .filter(col("rel_type") === Rel.Inherits)
          .select(col("src"), col("dst"),
            element_at(col("props"), "ord").cast("int").as("ord"))
        val resolved = Closure.superResolve(inheritsOrd, hasMethod, pairs)
        val rewritten = superRaw
          .withColumn("cls", substring_index(col("dst"), superSent, 1))
          .withColumn("meth", substring_index(col("dst"), superSent, -1))
          .join(resolved, Seq("cls", "meth"))
          .withColumn("dst", col("target"))
          .drop("cls", "meth", "target")
        withInherited0.filter(!isSuperCall).unionByName(rewritten)
          .dropDuplicates("src", "rel_type", "dst")
      }

    // C11 approximation: a CALL to an inherited method (`self.m()` bound
    // syntactically to Class.m, which is not defined) re-points to the
    // ancestor's definition discovered by the closure
    val inheritedDefs = newEdges
      .select(col("src").as("_cls"),
        element_at(split(col("dst"), "\\."), -1).as("_meth"),
        col("dst").as("_def"))
    // r12 (r11 verdict #4): cross-module member-take VERIFICATION — the
    // chaseFields convention takes the final member of a cross-module
    // chain blindly, which can emit CALL edges to members that don't
    // exist. Here the whole-corpus tables exist, so the blind take joins
    // against the indexed defs: a CALL whose dst parses as
    // <cls>.<member> where <cls> IS an indexed CLASS node but nothing
    // defines <member> — not the class's own defs (incl. FIELD nodes),
    // not the inherited-method closure — resolves to NOTHING, jedi's
    // behavior (indexer_visitor.py:183-241): the edge DROPS instead of
    // fabricating a stub. Receivers outside the indexed corpus keep the
    // take (nothing to disprove — the shallow posture).
    val classDefs = ix.nodes.filter(col("kind") === Kind.Class)
      .select(col("full_name").as("_clsdef")).distinct()
    // r13 (advisor finding): 'not in the def table' is weaker evidence
    // than 'does not exist' for classes that build members DYNAMICALLY.
    // A class that defines or inherits __getattr__/__getattribute__ can
    // answer any member take at runtime, so its absent members keep the
    // conservative stub instead of dropping — the drop applies only to
    // classes the indexer can model completely. (setattr()-built members
    // stay out of reach: a bare builtin call emits no edge to key on.)
    val dynCls = defined
      .filter(col("full_name").endsWith(".__getattr__") ||
        col("full_name").endsWith(".__getattribute__"))
      .select(expr("substring(full_name, 1, length(full_name) - " +
        "length(element_at(split(full_name, '\\\\.'), -1)) - 1)")
        .as("_dyncls"))
      .unionByName(inheritedDefs
        .filter(col("_meth").isin("__getattr__", "__getattribute__"))
        .select(col("_cls").as("_dyncls")))
      .distinct()
      .withColumn("_dyn", lit(true))
    val flagged = withInherited
      .join(defined.withColumn("_dstdef", lit(true))
        .withColumnRenamed("full_name", "dst"), Seq("dst"), "left")
      .withColumn("_cls2", expr("substring(dst, 1, length(dst) - length(element_at(split(dst, '\\\\.'), -1)) - 1)"))
      .join(inheritedDefs,
        col("rel_type") === Rel.Call && col("_dstdef").isNull &&
          col("_cls2") === col("_cls") &&
          element_at(split(col("dst"), "\\."), -1) === col("_meth"),
        "left")
      .join(classDefs, col("_cls2") === col("_clsdef"), "left")
      .join(dynCls, col("_cls2") === col("_dyncls"), "left")
      .withColumn("_dropme",
        col("rel_type") === Rel.Call && col("_dstdef").isNull &&
          col("_def").isNull && col("_clsdef").isNotNull && col("_dyn").isNull)
      // read by the edges, the stubs built from them and the locations:
      // unpinned, the snapshot write re-runs this join tail per table
      .pin(eager = true)
    val finalEdges = flagged
      .filter(!col("_dropme"))
      .withColumn("dst", coalesce(col("_def"), col("dst")))
      .drop("_dstdef", "_cls2", "_cls", "_meth", "_def", "_clsdef",
        "_dyncls", "_dyn", "_dropme")
      .dropDuplicates("src", "rel_type", "dst")
    // r13 (r12 verdict #7): a dropped nonexistent-member edge must also
    // drop its srctrl REFERENCE occurrence rows — the SQLite sink keys
    // occurrences by symbolFullName, and a location citing a name no
    // edge carries would either dangle or (if the name re-appears as a
    // hierarchy prefix) cite a dropped reference. Symbol/scope/local
    // locations are untouched: only the REFERENCE anchor of the dropped
    // take goes.
    val droppedDsts = flagged.filter(col("_dropme"))
      .select(col("dst").as("symbolFullName")).distinct()
      .withColumn("_gone", lit(true))
    val locations2 = ix.locations
      .join(droppedDsts, Seq("symbolFullName"), "left")
      .filter(!(col("kind") === "REFERENCE" && col("_gone").isNotNull))
      .drop("_gone")

    // stub reconciliation: real + still-referenced stubs for the new edges
    val realNodes = ix.nodes.filter(col("kind") =!= Kind.None_)
    val nodes2 = graft.merge.Merge.withStubs(realNodes, finalEdges, taskId)
    Indexed(nodes2, finalEdges, locations2, ix.imports)
  }

  /** End-to-end: repo directory → enriched snapshot. */
  def run(spark: SparkSession, root: String, taskId: String): Indexed =
    enrich(indexFiles(spark, readRepo(spark, root), taskId), taskId)
}
