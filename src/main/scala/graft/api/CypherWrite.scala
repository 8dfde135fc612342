package graft.api

import graft.model.Kind
import CypherText._

/** The WRITE side of `execute_query` — the Cypher statements the
  * reference itself issues against its store, parsed into typed
  * mutations that route to the [[GraphDatabase]] write API (which owns
  * the A1–A6 semantics):
  *
  *  - `MATCH (n) DETACH DELETE n`                     → clear database
  *    (graphDB.py:104)
  *  - `MATCH (n:`task`) DETACH DELETE n`              → clear task data
  *    (graphDB.py:98)
  *  - `MATCH (n:none {full_name: 'x'}) REMOVE n:none SET n:LABEL`
  *    → the `none`→kind promotion (graphDB.py:86-88, A2)
  *  - `CREATE (n:KIND:task {full_name: 'x', k: 'v'})` and
  *    `MERGE (n:KIND:task {full_name: 'x'}) [SET n.k = 'v', …]`
  *    → node upsert (py2neo `graph.create`/`push` spelling of
  *    add_node, graphDB.py:121-131; both routes hit A1/A2 merge
  *    semantics — in this single-key model CREATE of an existing key
  *    upserts, as add_node does)
  *  - `MERGE (n:KIND:task {full_name: 'x'}) ON CREATE SET n.a='1'
  *    ON MATCH SET n.b='2'` → conditional upsert: the ON CREATE branch
  *    seeds a new node (pattern props + branch), the ON MATCH branch
  *    patches an existing one (A3 update) — py2neo's merge-with-branches
  *    spelling
  *  - `MATCH (n {full_name: 'x'}) SET n.k = 'v', …`   → prop-only update
  *    of an EXISTING node (update_node, graphDB.py:114-119, A3 —
  *    missing node is a no-op)
  *  - `MERGE (a:task {full_name: 'x'})-[:REL {k:'v'}]->(b {full_name: 'y'})`
  *    → edge upsert with endpoint stubs (add_edge, graphDB.py:133-152,
  *    A4); the task label may sit on either endpoint
  *  - `MERGE (a:task {full_name:'x'})-[r:REL]->(b {full_name:'y'})
  *    ON CREATE SET r.a='1' ON MATCH SET r.b='2'` → conditional edge
  *    upsert (r14): create seeds pattern props + the ON CREATE branch,
  *    match patches the existing edge's props key-wise — py2neo's
  *    edge-branch spelling (public-API breadth beyond the reference's
  *    own parameterized add_edge)
  *  - `MATCH (a {full_name:'x'})-[r:REL]->(b {full_name:'y'}) DELETE r`
  *    → point edge delete (r14); nodes stay — DETACH is A5's cascade
  *  - `MATCH (n {full_name:'x'}) REMOVE n.k, n.j` → property removal
  *    (r14): core fields null out, open-map keys drop, absent keys
  *    no-op (Neo4j semantics)
  *  - `MATCH (n {full_name:'x'}) SET n += {k:'v', …}` → map-merge
  *    patch, the bulk spelling of the per-key SET list (A3 semantics)
  *
  * Labels on a node pattern split by vocabulary: a member of
  * [[Kind.all]] is the kind, anything else is a task id. Node
  * creation requires a task label (the reference's handler always
  * carries `task_id`); parameterized queries (`$full_name`,
  * graphDB.py:86-91) route through `executeQuery(q, params)`, which
  * inlines every `$name` before the parse — a `$name` surviving to
  * this parser (the no-params overload) raises.
  *
  * [[parse]] returns None for anything that is not a write statement —
  * the caller then plans it as a read via [[CypherLite]]. Malformed
  * WRITE-keyword statements raise rather than falling through (a
  * mistyped DELETE must not silently become a read-parse error later).
  */
object CypherWrite {

  sealed trait Stmt
  case object ClearAll extends Stmt
  final case class ClearLabel(label: String) extends Stmt
  final case class Promote(fullName: String, newKind: String) extends Stmt
  final case class UpsertNode(task: String, kind: String, fullName: String,
      props: Map[String, String]) extends Stmt
  final case class UpdateProps(fullName: String,
      props: Map[String, String]) extends Stmt
  /** `MERGE (n:KIND:task {full_name:'x'}) ON CREATE SET … ON MATCH SET …`
    * — Neo4j's conditional upsert: `props` are the pattern literals
    * (applied only on create, where they seed the new node; on match
    * they are the match constraint the single-key model already
    * guarantees via full_name), `onCreate`/`onMatch` the branch SETs. */
  final case class MergeNode(task: String, kind: String, fullName: String,
      props: Map[String, String], onCreate: Map[String, String],
      onMatch: Map[String, String]) extends Stmt
  /** `MATCH (a {full_name:'x'})-[r:REL]->(b {full_name:'y'}) DELETE r`
    * — point edge delete (r14 write-surface breadth): drops the one
    * (src, rel_type, dst) edge; nodes stay (DETACH is A5's job). */
  final case class DeleteEdge(src: String, relType: String, dst: String)
      extends Stmt
  /** `MATCH (n {full_name:'x'}) REMOVE n.k, n.j` — property removal
    * (r14): core fields null out, open-map keys drop; a key the node
    * doesn't carry is a no-op (Neo4j semantics). */
  final case class RemoveProps(fullName: String, keys: Seq[String])
      extends Stmt
  final case class UpsertEdge(task: String, src: String, relType: String,
      dst: String, props: Map[String, String]) extends Stmt
  /** `MERGE (a)-[r:REL {props}]->(b) ON CREATE SET r.k='v' ON MATCH SET
    * r.j='w'` (r14, r13 verdict task #3) — the edge-pattern analog of
    * [[MergeNode]]: edge identity is the (src, rel_type, dst) key (the
    * single-key A4 model — pattern props seed creation, they are not
    * match constraints), the ON CREATE branch seeds a new edge's props,
    * the ON MATCH branch patches an existing one key-wise. Branch SETs
    * must dot the bound RELATIONSHIP variable (endpoint SETs are out of
    * this subset and raise). */
  final case class MergeEdge(task: String, src: String, relType: String,
      dst: String, props: Map[String, String],
      onCreate: Map[String, String], onMatch: Map[String, String])
    extends Stmt

  // `(var[:lbl[:lbl…]] [{props}])` — labels may be backticked (the
  // reference backticks task ids, graphDB.py:98); props literal is
  // non-greedy up to the closing braceless paren
  private val nodePat =
    """\(\s*(\w+)((?:\s*:\s*`?[\w./\-]+`?)*)\s*(\{.*?\})?\s*\)"""
  private val clearAllRe =
    """(?is)^\s*MATCH\s*\(\s*(\w+)\s*\)\s*DETACH\s+DELETE\s+(\w+)\s*$""".r
  private val clearLabelRe =
    ("""(?is)^\s*MATCH\s*\(\s*(\w+)\s*:\s*`?([\w./\-]+)`?\s*\)\s*""" +
      """DETACH\s+DELETE\s+(\w+)\s*$""").r
  private val promoteRe =
    ("""(?is)^\s*MATCH\s*\(\s*(\w+)\s*:\s*none\s*\{\s*full_name\s*:\s*""" +
      """('[^']*'|"[^"]*")\s*\}\s*\)\s*REMOVE\s+(\w+)\s*:\s*none\s+""" +
      """SET\s+(\w+)\s*:\s*`?([\w./\-]+)`?\s*$""").r
  private val nodeWriteRe =
    (s"""(?is)^\\s*(CREATE|MERGE)\\s*$nodePat\\s*(SET\\s+.+?)?\\s*$$""").r
  // MERGE with ON CREATE SET / ON MATCH SET branches (either, both, any
  // order); the branch tail parses clause by clause below
  private val mergeOnRe =
    (s"""(?is)^\\s*MERGE\\s*$nodePat\\s*""" +
      s"""((?:ON\\s+(?:CREATE|MATCH)\\s+SET\\s+.+?)+)\\s*$$""").r
  private val onClauseRe =
    """(?is)ON\s+(CREATE|MATCH)\s+SET\s+(.+?)(?=ON\s+(?:CREATE|MATCH)\s+SET|$)""".r
  private val updateRe =
    (s"""(?is)^\\s*MATCH\\s*$nodePat\\s*(SET\\s+.+?)\\s*$$""").r
  // a bound relationship variable is allowed (and ignored) on the plain
  // upsert; the branch form below REQUIRES it as the SET target
  private val edgeWriteRe =
    (s"""(?is)^\\s*(CREATE|MERGE)\\s*$nodePat\\s*-\\s*\\[\\s*(?:\\w+\\s*)?:\\s*""" +
      s"""(\\w+)\\s*(\\{.*?\\})?\\s*\\]\\s*->\\s*$nodePat\\s*$$""").r
  // edge MERGE with ON CREATE SET / ON MATCH SET branches (either, both,
  // any order) — the r14 write-surface extension (r13 verdict task #3)
  private val edgeMergeOnRe =
    (s"""(?is)^\\s*MERGE\\s*$nodePat\\s*-\\s*\\[\\s*(\\w+)?\\s*:\\s*""" +
      s"""(\\w+)\\s*(\\{.*?\\})?\\s*\\]\\s*->\\s*$nodePat\\s*""" +
      s"""((?:ON\\s+(?:CREATE|MATCH)\\s+SET\\s+.+?)+)\\s*$$""").r
  // MATCH (a {full_name:'x'})-[r:REL]->(b {full_name:'y'}) DELETE r
  private val edgeDeleteRe =
    (s"""(?is)^\\s*MATCH\\s*$nodePat\\s*-\\s*\\[\\s*(\\w+)\\s*:\\s*""" +
      s"""(\\w+)\\s*\\]\\s*->\\s*$nodePat\\s*DELETE\\s+(\\w+)\\s*$$""").r
  // MATCH (n {full_name:'x'}) REMOVE n.k[, n.j …] — prop-dotted items
  // only; label REMOVE is the promote form above
  private val removePropsRe =
    (s"""(?is)^\\s*MATCH\\s*$nodePat\\s*REMOVE\\s+""" +
      s"""(\\w+\\s*\\.\\s*\\w+(?:\\s*,\\s*\\w+\\s*\\.\\s*\\w+)*)\\s*$$""").r
  // MATCH (n {full_name:'x'}) SET n += {k:'v', …} — map-merge, Neo4j's
  // bulk-patch spelling of the per-key SET list (same A3 semantics)
  private val setPlusRe =
    (s"""(?is)^\\s*MATCH\\s*$nodePat\\s*SET\\s+(\\w+)\\s*\\+=\\s*""" +
      s"""(\\{.*?\\})\\s*$$""").r

  private def labelsOf(spec: String): Seq[String] =
    if (spec == null) Seq.empty
    else spec.split(":").iterator.map(_.trim.stripPrefix("`").stripSuffix("`"))
      .filter(_.nonEmpty).toSeq

  /** (kind, task labels) — kind defaults to `none` exactly as
    * _create_node does for a missing label (graphDB.py:73-75). */
  private def splitLabels(labels: Seq[String]): (String, Seq[String]) = {
    val (kinds, tasks) = labels.partition(l => Kind.all.contains(l))
    require(kinds.size <= 1, s"multiple kind labels: ${kinds.mkString(", ")}")
    (kinds.headOption.getOrElse(Kind.None_), tasks)
  }

  /** `SET v.k = 'x', v.j = 'y'` → props map; every target must dot the
    * bound variable. */
  private def parseSetItems(set: String, v: String): Map[String, String] =
    splitOn(set.trim.replaceAll("(?is)^SET\\s+", ""), ",", "([{")
      .map { item =>
        val m = """(?s)^\s*(\w+)\.(\w+)\s*=\s*(.+?)\s*$""".r
          .findFirstMatchIn(item)
          .getOrElse(throw new IllegalArgumentException(
            s"unsupported SET item '$item' (expected $v.prop = <literal>)"))
        require(m.group(1) == v,
          s"SET target '${m.group(1)}' is not the bound variable '$v'")
        m.group(2) -> unquote(m.group(3))
      }.toMap

  private def propsOf(lit: String): Map[String, String] =
    if (lit == null) Map.empty else CypherLite.parseProps(lit)

  private def fullNameOf(props: Map[String, String], what: String): String =
    props.getOrElse("full_name", throw new IllegalArgumentException(
      s"$what pattern needs a full_name prop (the reference's node key)"))

  // `FOREACH (x IN [elems] | <write clause>)` — greedy body up to the
  // final closing paren
  private val foreachRe =
    """(?is)^\s*FOREACH\s*\(\s*(\w+)\s+IN\s+\[(.*?)\]\s*\|\s*(.+)\)\s*$""".r

  /** [[parse]] generalized to statement LISTS: `FOREACH (x IN [list] |
    * <write clause>)` — Neo4j's per-element write loop — expands to one
    * typed mutation per element (the loop variable substitutes wherever
    * a literal can appear; a `$param` list arrives pre-inlined by the
    * parameterized entry point). Expansion is driver-side over the
    * LITERAL list — bounded by the query text, the parameter-batch
    * idiom, never a data-driven loop. Nested FOREACH composes. A
    * FOREACH whose body is not a write clause raises; everything else
    * delegates to [[parse]]. A write holding a `$name` outside quotes
    * raises: the parameterized entry point inlines every binding before
    * this parse, so one left here came through the no-params overload. */
  def parseAll(q: String): Option[Seq[Stmt]] = {
    val stmts = q match {
      case foreachRe(v, list, body0) =>
        // the loop variable's uses outside quotes, as a whole word; one
        // followed by `:` is a property-map KEY (`CREATE ({x: x})`), not
        // a value position, and stays
        val body = body0.trim
        val uses = indexesWhere(body, "") { i =>
          val after = body.indexWhere(!_.isWhitespace, i + v.length)
          body.startsWith(v, i) && tokenAt(body, i, v) &&
            !(after >= 0 && body.charAt(after) == ':')
        }
        Some(splitOn(list, ",", "([{").flatMap { e =>
          val substituted = uses.foldRight(body)((i, t) => t.patch(i, e, v.length))
          parseAll(substituted).getOrElse(throw new IllegalArgumentException(
            s"FOREACH body must be a write clause, got: $body0"))
        })
      case _ => parse(q).map(Seq(_))
    }
    // substituting no bindings raises on any `$name` left
    if (stmts.isDefined) CypherLite.substituteParams(q, Map.empty)
    stmts
  }

  /** Some(stmt) when `q` is a supported write statement; None when it is
    * not write-shaped at all. Write-shaped but malformed raises. */
  def parse(q: String): Option[Stmt] = q match {
    case clearAllRe(v, v2) =>
      require(v == v2, s"DETACH DELETE '$v2' does not match bound '$v'")
      Some(ClearAll)
    case clearLabelRe(v, label, v2) =>
      require(v == v2, s"DETACH DELETE '$v2' does not match bound '$v'")
      Some(ClearLabel(label))
    case promoteRe(v, fn, v2, v3, label) =>
      require(v == v2 && v == v3, "REMOVE/SET must target the bound variable")
      Some(Promote(unquote(fn), label))
    case edgeDeleteRe(_, _, aProps, relVar, rel, _, _, bProps, delVar) =>
      require(relVar == delVar,
        s"DELETE '$delVar' does not match bound '$relVar'")
      Some(DeleteEdge(fullNameOf(propsOf(aProps), "start node"), rel,
        fullNameOf(propsOf(bProps), "end node")))
    case removePropsRe(v, _, propLit, items) =>
      val keys = items.split(",").toSeq.map { it =>
        val parts = it.split("\\.").map(_.trim)
        require(parts.length == 2 && parts(0) == v,
          s"REMOVE must dot the bound variable: ${it.trim}")
        parts(1)
      }
      Some(RemoveProps(fullNameOf(propsOf(propLit), "remove"), keys))
    case setPlusRe(v, _, propLit, v2, mapLit) =>
      require(v == v2, s"SET '$v2' does not match bound '$v'")
      Some(UpdateProps(fullNameOf(propsOf(propLit), "update"),
        propsOf(mapLit)))
    case edgeMergeOnRe(_, aLabels, aProps, relVar, rel, rProps,
        _, bLabels, bProps, branches) =>
      val (_, aTasks) = splitLabels(labelsOf(aLabels))
      val (_, bTasks) = splitLabels(labelsOf(bLabels))
      val task = (aTasks ++ bTasks).headOption.getOrElse(
        throw new IllegalArgumentException(
          "edge MERGE needs a task label on an endpoint (stub attribution)"))
      require(relVar != null && relVar.nonEmpty,
        "edge MERGE branches need a bound relationship variable " +
          "(MERGE (a)-[r:REL]->(b) ON … SET r.prop = …)")
      var onCreate = Map.empty[String, String]
      var onMatch = Map.empty[String, String]
      onClauseRe.findAllMatchIn(branches).foreach { m =>
        val items = parseSetItems("SET " + m.group(2).trim, relVar)
        if (m.group(1).equalsIgnoreCase("CREATE")) onCreate ++= items
        else onMatch ++= items
      }
      Some(MergeEdge(task,
        fullNameOf(propsOf(aProps), "start node"), rel,
        fullNameOf(propsOf(bProps), "end node"), propsOf(rProps),
        onCreate, onMatch))
    case edgeWriteRe(_, _, aLabels, aProps, rel, rProps, _, bLabels, bProps) =>
      val (_, aTasks) = splitLabels(labelsOf(aLabels))
      val (_, bTasks) = splitLabels(labelsOf(bLabels))
      val task = (aTasks ++ bTasks).headOption.getOrElse(
        throw new IllegalArgumentException(
          "edge MERGE needs a task label on an endpoint (stub attribution)"))
      Some(UpsertEdge(task,
        fullNameOf(propsOf(aProps), "start node"), rel,
        fullNameOf(propsOf(bProps), "end node"), propsOf(rProps)))
    case mergeOnRe(v, labelSpec, propLit, branches) =>
      val (kind, tasks) = splitLabels(labelsOf(labelSpec))
      require(tasks.nonEmpty,
        "node MERGE needs a task label (the reference's handler " +
          "always writes under a task_id)")
      var onCreate = Map.empty[String, String]
      var onMatch = Map.empty[String, String]
      onClauseRe.findAllMatchIn(branches).foreach { m =>
        val items = parseSetItems("SET " + m.group(2).trim, v)
        if (m.group(1).equalsIgnoreCase("CREATE")) onCreate ++= items
        else onMatch ++= items
      }
      val props = propsOf(propLit)
      Some(MergeNode(tasks.head, kind, fullNameOf(props, "node"),
        props - "full_name", onCreate, onMatch))
    case nodeWriteRe(_, v, labelSpec, propLit, set) =>
      val (kind, tasks) = splitLabels(labelsOf(labelSpec))
      require(tasks.nonEmpty,
        "node CREATE/MERGE needs a task label (the reference's handler " +
          "always writes under a task_id)")
      val props = propsOf(propLit) ++
        Option(set).map(parseSetItems(_, v)).getOrElse(Map.empty)
      Some(UpsertNode(tasks.head, kind, fullNameOf(props, "node") ,
        props - "full_name"))
    case updateRe(v, _, propLit, set) =>
      // a labeled MATCH-SET is still an A3 update; the label is a match
      // constraint the single-key model already guarantees via full_name
      val props = propsOf(propLit)
      Some(UpdateProps(fullNameOf(props, "update"),
        parseSetItems(set, v)))
    case _ =>
      // a statement HEADED by a write keyword must not silently fall
      // through to the read parser; DETACH DELETE / REMOVE inside quoted
      // prop values stay untouched (only the head is inspected), and an
      // unquoted one will raise in CypherLite's read parse anyway
      val head = q.trim.takeWhile(c => !c.isWhitespace && c != '(').toUpperCase
      require(head != "CREATE" && head != "MERGE" && head != "FOREACH",
        s"unsupported write statement: $q")
      // `MATCH … SET` that fell through (e.g. missing full_name) raises
      // in the branches above; a plain MATCH…RETURN lands here → a read
      None
  }
}
