package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Pin._
import org.apache.spark.sql.expressions.Window
import graft.store.{GraphSql, GraphTables, Tables}
import graft.ops.GraphOps
import graft.functions.TextFunctions
import graft.pipeline.{Corpus, Dedup, Similarity}

/** The declared-query catalog: every operator from SURVEY.md §2 (plus the
  * training-data pipeline operators) as a (SparkSession, sfDir) => DataFrame,
  * paired with an ANSI-SQL oracle the driver replays in DuckDB over the
  * same parquet tables.
  *
  * Cross-engine determinism rules used throughout:
  *  - money/measure aggregates go through DECIMAL (exact) and are cast to
  *    DOUBLE at the end — float summation order can never flip a value;
  *  - any derived double (ratios, cosines) is round(_, 4) BEFORE any
  *    ranking/filter that depends on it;
  *  - counts are cast to BIGINT on both sides;
  *  - timestamps are emitted as formatted strings;
  *  - top-k/window orderings always carry a unique tie-break key;
  *  - NO `-0.0` ever reaches an output column: Spark's BigDecimal-backed
  *    round always yields `+0.0`, but DuckDB's round preserves the IEEE
  *    sign of a tiny negative input — so every oracle `round()` whose
  *    argument can be negative (cosines, centroid/component means,
  *    assortativity, modularity, Flesch) appends `+ 0.0`, which
  *    IEEE-forces `-0.0` to `+0.0` and is an exact no-op on every other
  *    value (NULL stays NULL). tools/check_oracle.py scans both engines'
  *    outputs for a signed zero and fails the query if one appears.
  */
object QueryCatalog {
  private type Q = (SparkSession, String) => DataFrame

  private def nodes(s: SparkSession, d: String) = GraphTables.nodes(s, d)
  private def edges(s: SparkSession, d: String) = GraphTables.edges(s, d)

  // ---------------------------------------------------------------- graph B*

  /** B1 — point lookup by primary key (graphDB.py:65-70). */
  val gB1Point: Q = (s, d) =>
    GraphOps.nodeByKey(nodes(s, d), "customer.42")
      .select(col("full_name"), col("label"), col("name"), col("prop_num"))

  val gB1PointSql: String =
    s"""WITH ${GraphSql.nodesCte}
       |SELECT full_name, label, name, prop_num FROM nodes WHERE full_name = 'customer.42'""".stripMargin

  /** B2 — secondary-attribute scan by (label, prop) (graphDB.py:269-272). */
  val gB2LabelProp: Q = (s, d) =>
    GraphOps.nodesByLabelProp(nodes(s, d), "CUSTOMER", col("prop_num") > 9000)
      .select(col("full_name"), col("name"), col("prop_num"))

  val gB2LabelPropSql: String =
    s"""WITH ${GraphSql.nodesCte}
       |SELECT full_name, name, prop_num FROM nodes WHERE label = 'CUSTOMER' AND prop_num > 9000""".stripMargin

  /** B3 — 1-hop expand with target filter (ast_manage.py:24-35):
    * members of nation.3 with prop_num > 5000. */
  val gB3ExpandFiltered: Q = (s, d) => {
    val e = edges(s, d).filter(col("rel_type") === "IN_NATION" && col("dst") === "nation.3")
    e.join(nodes(s, d), e("src") === col("full_name"))
      .filter(col("prop_num") > 5000)
      .select(col("full_name"), col("label"), col("name"))
  }

  val gB3ExpandFilteredSql: String =
    s"""WITH ${GraphSql.nodesCte}, ${GraphSql.edgesCte}
       |SELECT n.full_name, n.label, n.name FROM edges e JOIN nodes n ON e.src = n.full_name
       |WHERE e.rel_type = 'IN_NATION' AND e.dst = 'nation.3' AND n.prop_num > 5000""".stripMargin

  /** B4 — 1-hop expand, all targets (ast_manage.py:37-50): parts of order 1. */
  val gB4ExpandAll: Q = (s, d) =>
    GraphOps.expand(nodes(s, d), edges(s, d), "HAS_ITEM", col("full_name") === "orders.1")
      .select(col("dst").as("full_name"), col("name"))

  val gB4ExpandAllSql: String =
    s"""WITH ${GraphSql.nodesCte}, ${GraphSql.edgesCte}
       |SELECT n.full_name, n.name FROM edges e JOIN nodes n ON e.dst = n.full_name
       |WHERE e.rel_type = 'HAS_ITEM' AND e.src = 'orders.1'""".stripMargin

  /** B5 — 1-hop expand by edge type (ast_manage.py:52-62): orders of customer 7. */
  val gB5ExpandType: Q = (s, d) => {
    val e = edges(s, d).filter(col("rel_type") === "PLACED_BY" && col("dst") === "customer.7")
    e.join(nodes(s, d), e("src") === col("full_name"))
      .select(col("full_name"), col("name"), col("prop_num"))
  }

  val gB5ExpandTypeSql: String =
    s"""WITH ${GraphSql.nodesCte}, ${GraphSql.edgesCte}
       |SELECT n.full_name, n.name, n.prop_num FROM edges e JOIN nodes n ON e.src = n.full_name
       |WHERE e.rel_type = 'PLACED_BY' AND e.dst = 'customer.7'""".stripMargin

  /** B6 — member projection (graphDB.py:280-283): parts of order 3 with props. */
  val gB6Projection: Q = (s, d) =>
    GraphOps.expand(nodes(s, d), edges(s, d), "HAS_ITEM", col("full_name") === "orders.3")
      .select(col("name"), col("prop_num"))

  val gB6ProjectionSql: String =
    s"""WITH ${GraphSql.nodesCte}, ${GraphSql.edgesCte}
       |SELECT n.name, n.prop_num FROM edges e JOIN nodes n ON e.dst = n.full_name
       |WHERE e.rel_type = 'HAS_ITEM' AND e.src = 'orders.3'""".stripMargin

  /** B7 — existence predicate scan (graphDB.py:158-162). */
  val gB7Exists: Q = (s, d) =>
    GraphOps.existsProp(nodes(s, d), "prop_num").select(col("full_name"), col("label"))

  val gB7ExistsSql: String =
    s"""WITH ${GraphSql.nodesCte}
       |SELECT full_name, label FROM nodes WHERE prop_num IS NOT NULL""".stripMargin

  /** B8 — whole-snapshot scan (update_version.py:29-30). */
  val gB8Scan: Q = (s, d) =>
    nodes(s, d).select(col("full_name"), col("label"), col("name"))

  val gB8ScanSql: String =
    s"""WITH ${GraphSql.nodesCte}
       |SELECT full_name, label, name FROM nodes""".stripMargin

  /** B9 — kind-label disambiguation out of a multi-label set
    * (ast_manage.py:32,42-44): array ops, no UDF. */
  val gB9LabelPick: Q = (s, d) =>
    nodes(s, d).select(col("full_name"),
      GraphOps.kindOf(array(lit("none"), col("label")),
        Seq("CUSTOMER", "ORDER", "PART", "SUPPLIER", "NATION", "REGION")).as("kind"))

  val gB9LabelPickSql: String =
    s"""WITH ${GraphSql.nodesCte}
       |SELECT full_name, label AS kind FROM nodes""".stripMargin

  // ---------------------------------------------------------------- graph A*

  /** A1 — last-write-wins merge per key (graphDB.py:121-131), replayed over
    * the events stream: the latest event (by unique event_id) wins. */
  val gA1MergeLww: Q = (s, d) =>
    Tables.events(s, d).groupBy(col("user_id"))
      .agg(
        max_by(col("event_type"), col("event_id")).as("last_type"),
        round(max_by(col("value"), col("event_id")), 2).as("last_value"),
        count(lit(1)).as("n_events"),
        max(col("event_id")).as("max_event_id"))

  val gA1MergeLwwSql: String =
    """SELECT user_id, arg_max(event_type, event_id) AS last_type,
      |round(arg_max(value, event_id), 2) AS last_value,
      |count(*) AS n_events, max(event_id) AS max_event_id
      |FROM events GROUP BY user_id""".stripMargin

  /** A2 — 'none' label promotion (graphDB.py:82-92). */
  val gA2Promote: Q = (s, d) =>
    nodes(s, d).select(col("full_name"),
      array_join(GraphOps.promoteLabel(array(lit("none")), col("label")), ",").as("labels_str"))

  val gA2PromoteSql: String =
    s"""WITH ${GraphSql.nodesCte}
       |SELECT full_name, label AS labels_str FROM nodes""".stripMargin

  /** A3 — prop-only update merge on existing nodes (graphDB.py:114-119):
    * new values overwrite where an update exists, others keep their prop;
    * nodes without updates pass through (left join + coalesce). */
  val gA3Update: Q = (s, d) => {
    val base = nodes(s, d).filter(col("label") === "CUSTOMER")
      .select(col("full_name"), col("name"), col("prop_num"))
    val upd = Tables.orders(s, d)
      .groupBy(concat(lit("customer."), col("o_custkey")).as("full_name"))
      .agg(round(sum(col("o_totalprice").cast("decimal(18,2)")), 2)
        .cast("double").as("new_val"))
    base.join(upd, Seq("full_name"), "left")
      .select(col("full_name"), col("name"),
        round(coalesce(col("new_val"), col("prop_num")), 2).as("prop_num"))
  }

  val gA3UpdateSql: String =
    s"""WITH ${GraphSql.nodesCte},
       |upd AS (SELECT 'customer.' || o_custkey AS full_name,
       |        CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS new_val
       |        FROM orders GROUP BY 1)
       |SELECT n.full_name, n.name, round(coalesce(u.new_val, n.prop_num), 2) AS prop_num
       |FROM nodes n LEFT JOIN upd u ON n.full_name = u.full_name
       |WHERE n.label = 'CUSTOMER'""".stripMargin

  /** A4 — edge dedup on (src, rel_type, dst) (graphDB.py:133-153). */
  val gA4EdgeDedup: Q = (s, d) =>
    Tables.lineitem(s, d).select(
      concat(lit("orders."), col("l_orderkey")).as("src"),
      concat(lit("part."), col("l_partkey")).as("dst"))
      .distinct()

  val gA4EdgeDedupSql: String =
    """SELECT DISTINCT 'orders.' || l_orderkey AS src, 'part.' || l_partkey AS dst FROM lineitem""".stripMargin

  /** A5 — DETACH-cascade delete (graphDB.py:94-100): drop NATION nodes;
    * edges lose rows touching a deleted node. Anti-join against the
    * (small, broadcastable) deleted set — the edge table never shuffles,
    * unlike a semi-join against the full survivor set. */
  val gA5Detach: Q = (s, d) => {
    val deleted = nodes(s, d).filter(col("label") === "NATION")
      .select(col("full_name"))
    edges(s, d)
      .join(broadcast(deleted.withColumnRenamed("full_name", "src")), Seq("src"), "left_anti")
      .join(broadcast(deleted.withColumnRenamed("full_name", "dst")), Seq("dst"), "left_anti")
      .groupBy(col("rel_type")).agg(count(lit(1)).as("n_edges"))
  }

  val gA5DetachSql: String =
    s"""WITH ${GraphSql.nodesCte}, ${GraphSql.edgesCte}
       |SELECT e.rel_type, count(*) AS n_edges FROM edges e
       |WHERE EXISTS (SELECT 1 FROM nodes s WHERE s.full_name = e.src AND s.label <> 'NATION')
       |  AND EXISTS (SELECT 1 FROM nodes t WHERE t.full_name = e.dst AND t.label <> 'NATION')
       |GROUP BY e.rel_type""".stripMargin

  /** A7 — path-prefix strip (graphDB.py:155-174) on documents.source. */
  val gA7Strip: Q = (s, d) =>
    GraphOps.stripPathPrefix(
      Tables.documents(s, d).select(col("doc_id"), col("source")), "source", "src")
      .withColumnRenamed("source", "stripped")

  val gA7StripSql: String =
    """SELECT doc_id, CASE WHEN starts_with(source, 'src') THEN substring(source, 4) ELSE source END AS stripped
      |FROM documents""".stripMargin

  /** g_a9 — LOCAL symbol rows through the real indexer (the srctrl sink's
    * `source_locations` feed, shallow_indexer.py:394-397/473-475/486-494):
    * deterministic Python modules are generated in-executor from nation
    * keys, indexed by [[graft.indexer.PyIndexer.indexFile]], and every
    * LOCAL row (params, assignment/for targets, bare usages) is predicted
    * closed-form by the oracle — positions included. The m_headers
    * pattern applied to the indexer: the parser is real, the payload is
    * synthesized in-plan, the prediction is arithmetic. */
  val gA9Locals: Q = (s, d) => {
    import s.implicits._
    Tables.nation(s, d)
      .select(col("n_nationkey").cast("int").as("k")).as[Int]
      .flatMap { k =>
        val e = k % 3
        val src = (Seq(
          s"def f$k(a, b):",
          "    x = a + b",
          "    for j in r:",
          "        x = x + j") ++
          (0 until e).map(m => s"    v$m = a") :+
          "    return x").mkString("", "\n", "\n")
        graft.indexer.PyIndexer.indexFile("a9", s"m$k.py", src)
          .locations.filter(_.kind == "LOCAL")
          .map(l => (l.symbolFullName, l.startLine, l.startCol, l.endCol))
      }
      .toDF("local_symbol", "start_line", "start_col", "end_col")
  }

  val gA9LocalsSql: String =
    """WITH ks AS (SELECT n_nationkey::INT AS k, length(n_nationkey::VARCHAR) AS dk, (n_nationkey::INT % 3) AS e FROM nation),
      |extra AS (SELECT k, e, unnest(range(0, e)) AS m FROM ks),
      |pos AS (
      |  SELECT k, 'a' AS nm, 1 AS line, 7 + dk AS c FROM ks
      |  UNION ALL SELECT k, 'a', 2, 9 FROM ks
      |  UNION ALL SELECT k, 'a', 5 + m, 10 FROM extra
      |  UNION ALL SELECT k, 'b', 1, 10 + dk FROM ks
      |  UNION ALL SELECT k, 'b', 2, 13 FROM ks
      |  UNION ALL SELECT k, 'x', 2, 5 FROM ks
      |  UNION ALL SELECT k, 'x', 4, 9 FROM ks
      |  UNION ALL SELECT k, 'x', 4, 13 FROM ks
      |  UNION ALL SELECT k, 'x', 5 + e, 12 FROM ks
      |  UNION ALL SELECT k, 'j', 3, 9 FROM ks
      |  UNION ALL SELECT k, 'j', 4, 17 FROM ks
      |  UNION ALL SELECT k, 'v' || m::VARCHAR, 5 + m, 5 FROM extra)
      |SELECT 'm' || k::VARCHAR || '.f' || k::VARCHAR || '<' || nm || '>' AS local_symbol,
      |  line::INT AS start_line, c::INT AS start_col,
      |  (c + length(nm) - 1)::INT AS end_col
      |FROM pos""".stripMargin

  // ---------------------------------------------------------------- graph D*

  /** D4 — transitive closure to fixpoint (ast_manage.py:79-99) over the
    * containment hierarchy; DataFrame fixpoint loop vs recursive CTE. */
  /** B10 — `execute_query` under the ORACLE gate: a real CypherLite
    * query (pattern chain + relationship variable + WITH aggregate-then-
    * filter + aliased RETURN + ORDER BY) planned against the derived
    * graph tables, with the oracle as plain SQL over the same CTEs. The
    * parser's output is a DataFrame plan like any other — this gates the
    * whole parse→plan→execute path, not just parser unit cases. */
  /** The derived star-schema graph in the node/edge shape CypherLite
    * executes against (the graph model's fixed columns + props map). */
  private[graft] def cypherTables(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val n = nodes(s, d).select(col("full_name"), col("label").as("kind"),
      col("name"), lit(null).cast("string").as("file_path"),
      lit(null).cast("string").as("signature"),
      lit(null).cast("string").as("clazz"),
      lit(null).cast("string").as("code"),
      array(col("label")).as("task_ids"),
      map(lit("bal"), col("prop_num").cast("string")).as("props"))
    val e = edges(s, d).select(col("src"), col("rel_type"), col("dst"),
      map().cast("map<string,string>").as("props"))
    (n, e)
  }

  val gB10Cypher: Q = (s, d) => {
    val (n, e) = cypherTables(s, d)
    graft.api.CypherLite.execute(n, e,
      "MATCH (c:CUSTOMER)-[r:IN_NATION]->(n:NATION) " +
        "WITH n, count(r) AS members WHERE members > 50 " +
        "RETURN n.name AS nation, members, members * 2 + 1 AS doubled, " +
        "size(n.name) + members AS score ORDER BY members DESC, nation")
  }

  /** g_b10_cycle — CYCLE pattern + Neo4j relationship-uniqueness under
    * the oracle gate: order pairs sharing at least two distinct parts,
    * spelled as a diamond chain CLOSED BACK on its first variable (o1 anchored to a key-prefix slice so the diamond's fan-out stays bounded at any sf — the selective predicate pushes down to the chain head)
    * (`…<-[:HAS_ITEM]-(o1)`). Match isomorphism forces the two part
    * slots apart (reusing one edge for both hops through o1 is
    * excluded), so `paths` counts ORDERED distinct-part pairs —
    * k·(k−1) for k shared parts, exactly what the oracle's
    * shared-count identity computes. */
  val gB10Cycle: Q = (s, d) => {
    val (n, e0) = cypherTables(s, d)
    // r19 (guide §2.6): the diamond's 4-hop join chain rides the edge
    // scan's partitioning — one small parquet file pins ~19 s of wedge
    // compute to a handful of cores (Profile: 54 tasks, parallelism
    // ≈5). Spreading the narrow edge frame up front parallelizes every
    // hop; no-op at scale where the scan is already wide.
    val e = graft.ops.Par.spread(e0, col("src"))
    graft.api.CypherLite.execute(n, e,
      "MATCH (o1:ORDER)-[:HAS_ITEM]->(p1:PART)<-[:HAS_ITEM]-(o2:ORDER)" +
        "-[:HAS_ITEM]->(p2:PART)<-[:HAS_ITEM]-(o1) " +
        "WHERE o1.full_name STARTS WITH 'orders.100' " +
        "AND o1.full_name < o2.full_name " +
        "WITH o1, o2, count(*) AS paths WHERE paths >= 2 " +
        "RETURN o1.full_name AS a, o2.full_name AS b, paths")
  }

  val gB10CycleSql: String =
    s"""WITH ${GraphSql.edgesCte},
       |hi AS (SELECT src AS o, dst AS p FROM edges WHERE rel_type = 'HAS_ITEM'),
       |sh AS (SELECT a.o AS o1, b.o AS o2, count(*) AS k
       |  FROM hi a JOIN hi b ON a.p = b.p AND a.o < b.o
       |  WHERE starts_with(a.o, 'orders.100') GROUP BY 1, 2)
       |SELECT o1 AS a, o2 AS b, (k * (k - 1))::BIGINT AS paths
       |FROM sh WHERE k >= 2""".stripMargin

  /** g_b10_spath — Cypher `shortestPath` with an UNBOUNDED `*` and
    * rel-type alternation, executed as a multi-source BFS frontier
    * fixpoint (linear per level, never path enumeration): every node
    * with a directed path INTO region.0 through the containment
    * hierarchy, at its minimum hop count. The oracle replays q22's
    * unrolled min-merge recurrence (converged well before 6 rounds)
    * minus the zero-length row (`*` means ≥1 hop). */
  val gB10Spath: Q = (s, d) => {
    val (n, e) = cypherTables(s, d)
    graft.api.CypherLite.execute(n, e,
      "MATCH p = shortestPath((a:REGION {full_name: 'region.0'})" +
        "<-[:PLACED_BY|IN_NATION|IN_REGION*]-(b)) " +
        "RETURN b.full_name AS v, length(p) AS d")
  }

  /** g_b10_allsp — allShortestPaths (r12): EVERY shortest path per
    * endpoint pair via the per-start layered-DAG enumeration. The
    * hierarchy is a TREE, so each pair has exactly one shortest path
    * and the gate shares the BFS-distance oracle (the DIAMOND
    * multiplicity — two rows for two equal-length routes — is
    * spec-gated in CypherLitePathSpec, where an oracle can't replay
    * per-path rows without enumerating paths itself). */
  val gB10Allsp: Q = (s, d) => {
    val (n, e) = cypherTables(s, d)
    graft.api.CypherLite.execute(n, e,
      "MATCH p = allShortestPaths((a:REGION {full_name: 'region.0'})" +
        "<-[:PLACED_BY|IN_NATION|IN_REGION*]-(b)) " +
        "RETURN b.full_name AS v, length(p) AS d")
  }

  /** g_b10_spathp — shortestPath PATH PROJECTIONS (r12):
    * `nodes(p)`/`relationships(p)` now reconstruct one deterministic
    * shortest path per endpoint pair (min-predecessor parents,
    * backtracking joins); the gate drives the reconstruction in-plan
    * through the driver and pins the endpoints + length surface
    * (head/last/size — the full node/edge sequences incl. the
    * tie-break are spec-gated in CypherLitePathSpec). */
  val gB10SpathP: Q = (s, d) => {
    val (n, e) = cypherTables(s, d)
    graft.api.CypherLite.execute(n, e,
      "MATCH p = shortestPath((a:REGION {full_name: 'region.0'})" +
        "<-[:PLACED_BY|IN_NATION|IN_REGION*]-(b)) " +
        "RETURN b.full_name AS v, length(p) AS d, " +
        "head(nodes(p)) AS first_node, last(nodes(p)) AS last_node, " +
        "size(relationships(p)) AS n_rels")
  }

  lazy val gB10SpathPSql: String =
    s"""WITH ${GraphSql.hierarchyCte},
       |rev AS MATERIALIZED (SELECT dst AS src, src AS dst FROM hier),
       |l0 AS MATERIALIZED (SELECT 'region.0' AS v, 0::BIGINT AS d),
       |${(1 to q22Iterations).map(bfsIterSql).mkString(",\n")}
       |SELECT v, d, 'region.0' AS first_node, v AS last_node,
       |  d::INT AS n_rels
       |FROM l$q22Iterations WHERE d > 0""".stripMargin

  // lazy: q22Iterations/bfsIterSql are declared later in the object —
  // an eager init here would read 0 and build an iteration-free chain
  lazy val gB10SpathSql: String =
    s"""WITH ${GraphSql.hierarchyCte},
       |rev AS MATERIALIZED (SELECT dst AS src, src AS dst FROM hier),
       |l0 AS MATERIALIZED (SELECT 'region.0' AS v, 0::BIGINT AS d),
       |${(1 to q22Iterations).map(bfsIterSql).mkString(",\n")}
       |SELECT v, d FROM l$q22Iterations WHERE d > 0""".stripMargin

  val gB10CypherSql: String =
    s"""WITH ${GraphSql.nodesCte}, ${GraphSql.edgesCte}
       |SELECT n.name AS nation, count(*) AS members,
       |  count(*) * 2 + 1 AS doubled,
       |  length(n.name) + count(*) AS score
       |FROM edges e
       |JOIN nodes c ON e.src = c.full_name
       |JOIN nodes n ON e.dst = n.full_name
       |WHERE e.rel_type = 'IN_NATION' AND c.label = 'CUSTOMER' AND n.label = 'NATION'
       |GROUP BY n.name HAVING count(*) > 50""".stripMargin

  /** g_b10_write — the Cypher WRITE path's NODE surface end-to-end
    * under the oracle gate: CREATE node, within-batch LWW re-CREATE,
    * node-MERGE `ON CREATE SET`/`ON MATCH SET` branches, prop-only
    * SET, `REMOVE n.k` (present and absent keys), and `SET n += {map}`
    * — executed ENTIRELY through
    * [[graft.api.GraphDatabase.executeQuery]] — so the parse→mutation
    * ROUTING layer is what's gated, not just the A1–A3 merge semantics
    * underneath (those have their own rows). The EDGE surface (edge
    * MERGE + stubs + promotion + branches, DELETE r, DETACH-cascade)
    * moved to its own gate `g_b10_write_edge` in r15 (verdict task #5)
    * so a regression in one statement family is attributable. The
    * final snapshot is compared to the oracle's closed-form prediction
    * over `nation` (the st_ingest discipline, batch side). The
    * driver-side loop over the collected nation rows (25 at any SF) is
    * the bounded harness pattern, not a query path. */
  val gB10Write: Q = (s, d) => {
    import s.implicits._
    val db = graft.api.GraphDatabase.inMemory(s)
    def run(c: String): Unit = { db.executeQuery(c); () }
    def esc(x: String) = x.replace("\\", "\\\\").replace("'", "\\'")
    val nats = Tables.nation(s, d)
      .select(col("n_nationkey").cast("long"), col("n_name"),
        col("n_regionkey").cast("long"))
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    nats.foreach { case (k, nm, _) =>
      run(s"CREATE (n:CLASS:`t1` {full_name: 'nation.$k', name: '${esc(nm)}'})") }
    // LWW upsert: a second CREATE of an existing key — newest wins (A1)
    run("CREATE (n:CLASS:`t1` {full_name: 'nation.0', name: 'RENAMED'})")
    // prop-only SET on existing nodes (A3)
    nats.foreach { case (k, _, _) =>
      run(s"MATCH (n {full_name: 'nation.$k'}) SET n.nk = '$k'") }
    // MERGE with branches (conditional upsert): ON MATCH patches the
    // three existing nations (origin must NOT seed); ON CREATE seeds
    // three new nodes, and a SECOND merge of each must take the ON
    // MATCH branch only (origin survives as 'new', matched appears)
    (0L to 2L).foreach { k =>
      run(s"MERGE (n:CLASS:`t1` {full_name: 'nation.$k'}) " +
        "ON CREATE SET n.origin = 'ghost' ON MATCH SET n.touched = 'y'") }
    (0L to 2L).foreach { k =>
      run(s"MERGE (n:CLASS:`t1` {full_name: 'merged.$k', name: 'M$k'}) " +
        "ON CREATE SET n.origin = 'new'") }
    (0L to 2L).foreach { k =>
      run(s"MERGE (n:CLASS:`t1` {full_name: 'merged.$k'}) " +
        "ON CREATE SET n.origin = 'again' ON MATCH SET n.matched = '1'") }
    // r14b: REMOVE drops nation.3's nk (absent-key removal on
    // nation.3's 'ghost' is the no-op case), SET += bulk-patches
    // nation.4 (new key + nk overwrite)
    run("MATCH (n {full_name: 'nation.3'}) REMOVE n.nk, n.ghost")
    run("MATCH (n {full_name: 'nation.4'}) SET n += {plus: 'p4', nk: '44'}")
    db.nodes
      .select(col("full_name"), col("kind"), col("name"),
        element_at(col("props"), "nk").as("nk"),
        element_at(col("props"), "plus").as("plus"),
        element_at(col("props"), "touched").as("touched"),
        element_at(col("props"), "origin").as("origin"),
        element_at(col("props"), "matched").as("matched"))
  }

  /** Closed-form prediction: nations keep their CREATE fields (LWW
    * rename on key 0) and carry the SET prop (REMOVE'd on nation.3,
    * `+=`-overwritten on nation.4); nations 0-2 additionally carry the
    * ON MATCH `touched` patch (and never the ON CREATE `origin`); the
    * merged.* nodes carry the first merge's ON CREATE seed and the
    * second merge's ON MATCH patch — never the second ON CREATE
    * value. */
  val gB10WriteSql: String =
    """WITH nat AS (SELECT n_nationkey AS k, n_name AS nm, n_regionkey AS r FROM nation)
      |SELECT 'nation.' || k AS full_name, 'CLASS' AS kind,
      |  CASE WHEN k = 0 THEN 'RENAMED' ELSE nm END AS name,
      |  CASE WHEN k = 3 THEN NULL WHEN k = 4 THEN '44'
      |    ELSE k::VARCHAR END AS nk,
      |  CASE WHEN k = 4 THEN 'p4' END AS plus,
      |  CASE WHEN k <= 2 THEN 'y' END AS touched,
      |  NULL AS origin, NULL AS matched
      |FROM nat
      |UNION ALL
      |SELECT 'merged.' || k, 'CLASS', 'M' || k, NULL, NULL, NULL, 'new',
      |  '1'
      |FROM nat WHERE k <= 2""".stripMargin

  /** g_b10_write_edge — the Cypher WRITE path's EDGE surface (split
    * from `g_b10_write` in r15, verdict task #5): MERGE edge with
    * `none` endpoint stubs (A4), stub `none`→kind promotion (A2), edge
    * MERGE `ON CREATE SET`/`ON MATCH SET` branches (edge identity =
    * the (src, rel_type, dst) A4 key), point edge `DELETE r`, and
    * DETACH DELETE with edge cascade (A5) — all through
    * [[graft.api.GraphDatabase.executeQuery]]. The readout surfaces
    * per-node in-degree plus each source's IN_REGION / NEXT branch
    * props, compared to the oracle's closed-form prediction over
    * `nation`. */
  val gB10WriteEdge: Q = (s, d) => {
    import s.implicits._
    val db = graft.api.GraphDatabase.inMemory(s)
    def run(c: String): Unit = { db.executeQuery(c); () }
    def esc(x: String) = x.replace("\\", "\\\\").replace("'", "\\'")
    val nats = Tables.nation(s, d)
      .select(col("n_nationkey").cast("long"), col("n_name"),
        col("n_regionkey").cast("long"))
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    nats.foreach { case (k, nm, _) =>
      run(s"CREATE (n:CLASS:`t1` {full_name: 'nation.$k', name: '${esc(nm)}'})") }
    // edge upserts create `none` stubs for the not-yet-seen regions (A4)
    nats.foreach { case (k, _, r) =>
      run(s"MERGE (a:`t1` {full_name: 'nation.$k'})-[:IN_REGION]->" +
        s"(b {full_name: 'region.$r'})") }
    // stub promotion (A2): every region stub becomes a REGION node
    nats.map(_._3).distinct.sorted.foreach { r =>
      run(s"MATCH (n:none {full_name: 'region.$r'}) " +
        s"REMOVE n:none SET n:REGION") }
    // r14: EDGE MERGE with branches. The IN_REGION edges of nations 0-2
    // exist → ON MATCH patches r.et, the ON CREATE r.eo must NOT seed;
    // the NEXT chain edges are new → ON CREATE seeds r.eo, and a SECOND
    // merge of each takes the ON MATCH branch only (eo survives 'new',
    // em appears)
    nats.take(3).foreach { case (k, _, r) =>
      run(s"MERGE (a:`t1` {full_name: 'nation.$k'})-[r:IN_REGION]->" +
        s"(b {full_name: 'region.$r'}) " +
        "ON CREATE SET r.eo = 'ghost' ON MATCH SET r.et = 'y'") }
    (0L to 2L).foreach { k =>
      run(s"MERGE (a:`t1` {full_name: 'nation.$k'})-[r:NEXT]->" +
        s"(b {full_name: 'nation.${k + 1}'}) ON CREATE SET r.eo = 'new'") }
    (0L to 2L).foreach { k =>
      run(s"MERGE (a:`t1` {full_name: 'nation.$k'})-[r:NEXT]->" +
        s"(b {full_name: 'nation.${k + 1}'}) " +
        "ON CREATE SET r.eo = 'again' ON MATCH SET r.em = '1'") }
    // scratch task: its node AND its edge into nation.1 must cascade
    // away on DETACH DELETE (A5); nation.1 itself survives untouched
    run("CREATE (n:CLASS:`t2` {full_name: 'tmp.0', name: 'tmp'})")
    run("MERGE (a:`t2` {full_name: 'tmp.0'})-[:CALL]->" +
      "(b {full_name: 'nation.1'})")
    run("MATCH (n:`t2`) DETACH DELETE n")
    // DELETE r drops the NEXT edge 2→3 (nation.2's branch props vanish
    // from the readout, nation.3's in-degree falls to 0)
    run("MATCH (a {full_name: 'nation.2'})-[r:NEXT]->" +
      "(b {full_name: 'nation.3'}) DELETE r")
    val inDeg = db.edges.groupBy(col("dst").as("full_name"))
      .agg(count(lit(1)).as("n_in"))
    // each nation has ≤1 outgoing IN_REGION and ≤1 outgoing NEXT edge —
    // their branch props surface per src
    val regionEdge = db.edges.filter(col("rel_type") === "IN_REGION")
      .select(col("src").as("full_name"),
        element_at(col("props"), "et").as("r_et"),
        element_at(col("props"), "eo").as("r_eo"))
    val nextEdge = db.edges.filter(col("rel_type") === "NEXT")
      .select(col("src").as("full_name"),
        element_at(col("props"), "eo").as("x_eo"),
        element_at(col("props"), "em").as("x_em"))
    db.nodes
      .select(col("full_name"), col("kind"), col("name"))
      .join(inDeg, Seq("full_name"), "left")
      .join(regionEdge, Seq("full_name"), "left")
      .join(nextEdge, Seq("full_name"), "left")
      .select(col("full_name"), col("kind"), col("name"),
        coalesce(col("n_in"), lit(0L)).as("n_in"),
        col("r_et"), col("r_eo"), col("x_eo"), col("x_em"))
  }

  /** Closed-form prediction: nations' in-degree is the NEXT chain's
    * after the 2→3 DELETE (nations 1-2; the scratch CALL edge
    * cascades), the edge-branch patches r_et on nations 0-2 (IN_REGION
    * existed → ON MATCH, never the ON CREATE r_eo) and x_eo/x_em on
    * nations 0-1 (NEXT created by the first merge's ON CREATE, patched
    * by the second's ON MATCH — never the second ON CREATE value;
    * nation.2's NEXT edge is DELETE'd); regions are promoted stubs
    * whose `name` is the stub rule's last dot-segment and whose
    * in-degree is their nation count. The scratch task contributes
    * nothing. */
  val gB10WriteEdgeSql: String =
    """WITH nat AS (SELECT n_nationkey AS k, n_name AS nm, n_regionkey AS r FROM nation)
      |SELECT 'nation.' || k AS full_name, 'CLASS' AS kind, nm AS name,
      |  (CASE WHEN k BETWEEN 1 AND 2 THEN 1 ELSE 0 END)::BIGINT AS n_in,
      |  CASE WHEN k <= 2 THEN 'y' END AS r_et, NULL::VARCHAR AS r_eo,
      |  CASE WHEN k <= 1 THEN 'new' END AS x_eo,
      |  CASE WHEN k <= 1 THEN '1' END AS x_em
      |FROM nat
      |UNION ALL
      |SELECT 'region.' || r, 'REGION', r::VARCHAR, count(*)::BIGINT,
      |  NULL, NULL, NULL, NULL
      |FROM nat GROUP BY r""".stripMargin

  /** g_b10_undir — UNDIRECTED relationships (r15): `(n:NATION)--(x)`
    * matches either physical orientation — forward IN_REGION edges to
    * the region AND backward IN_NATION edges from customers/suppliers
    * both contribute, which no directed spelling reaches in one hop.
    * The oracle symmetrizes the edge table (self-loops entering once)
    * and replays the grouped count. */
  val gB10Undir: Q = (s, d) => {
    val (n, e) = cypherTables(s, d)
    graft.api.CypherLite.execute(n, e,
      "MATCH (n:NATION)--(x) " +
        "RETURN n.name AS nation, x.kind AS kind, count(*) AS cnt")
  }

  val gB10UndirSql: String =
    s"""WITH ${GraphSql.nodesCte}, ${GraphSql.edgesCte},
       |sym AS (SELECT src AS a, dst AS b FROM edges
       |  UNION ALL SELECT dst, src FROM edges WHERE src <> dst)
       |SELECT n.name AS nation, x.label AS kind, count(*)::BIGINT AS cnt
       |FROM sym
       |JOIN nodes n ON sym.a = n.full_name AND n.label = 'NATION'
       |JOIN nodes x ON sym.b = x.full_name
       |GROUP BY 1, 2""".stripMargin

  /** g_b10_undirvar — var-length UNDIRECTED relationships (r16,
    * verdict task #2): `(r:REGION)-[*2..2]-(x)` walks two hops mixing
    * physical orientations — region ← nation ← customer/supplier, both
    * steps backward — under PHYSICAL edge-uniqueness (the step-1
    * IN_REGION edge cannot be re-crossed at step 2, so the region
    * itself never comes back). The oracle symmetrizes the edge table
    * carrying physical (ps, pd) and replays the two-step join with the
    * same physical-pair exclusion. */
  val gB10UndirVar: Q = (s, d) => {
    val (n, e) = cypherTables(s, d)
    graft.api.CypherLite.execute(n, e,
      "MATCH (r:REGION)-[*2..2]-(x) " +
        "RETURN r.name AS region, x.kind AS kind, count(*) AS cnt")
  }

  val gB10UndirVarSql: String =
    s"""WITH ${GraphSql.nodesCte}, ${GraphSql.edgesCte},
       |sym AS (SELECT src AS a, dst AS b, src AS ps, dst AS pd FROM edges
       |  UNION ALL SELECT dst, src, src, dst FROM edges WHERE src <> dst)
       |SELECT r.name AS region, x.label AS kind, count(*)::BIGINT AS cnt
       |FROM sym e1
       |JOIN sym e2 ON e1.b = e2.a
       |JOIN nodes r ON e1.a = r.full_name AND r.label = 'REGION'
       |JOIN nodes x ON e2.b = x.full_name
       |WHERE NOT (e1.ps = e2.ps AND e1.pd = e2.pd)
       |GROUP BY 1, 2""".stripMargin

  /** g_b10_range — `UNWIND range(a, b) AS i` (r16, verdict task #6),
    * the standard Cypher batch idiom: the sequence generates IN-PLAN
    * (Spark `sequence` + explode — no driver-side literal array), the
    * variable is typed (long arithmetic, not string coercion), and the
    * implicit-grouping aggregate pipeline runs over it. The oracle
    * replays DuckDB's generate_series (inclusive, like Cypher). */
  val gB10Range: Q = (s, d) => {
    val (n, e) = cypherTables(s, d)
    graft.api.CypherLite.execute(n, e,
      "UNWIND range(1, 5000) AS i WITH i % 7 AS bucket, i AS i " +
        "RETURN bucket, count(*) AS n, sum(i) AS s, " +
        "min(i) AS mn, max(i) AS mx")
  }

  val gB10RangeSql: String =
    """SELECT i % 7 AS bucket, count(*)::BIGINT AS n, sum(i)::DOUBLE AS s,
      |  min(i)::BIGINT AS mn, max(i)::BIGINT AS mx
      |FROM generate_series(1, 5000) AS t(i)
      |GROUP BY 1""".stripMargin

  /** g_b10_pcount — PATTERN COUNTS (r16): `COUNT { (s:SUPPLIER)
    * -[:IN_NATION]->(n) }` per nation — Neo4j's degree-count idiom
    * (the deprecated `size((pattern))` spelling shares the machinery),
    * executed as ONE groupBy-count of the mini-chain left-joined onto
    * the driving frame, so nations with no suppliers read 0 instead of
    * dropping. The oracle replays the group-count + left join. */
  val gB10Pcount: Q = (s, d) => {
    val (n, e) = cypherTables(s, d)
    graft.api.CypherLite.execute(n, e,
      "MATCH (n:NATION) WHERE COUNT { (c:CUSTOMER)-[:IN_NATION]->(n) } " +
        "> 0 RETURN n.name AS nation, " +
        "COUNT { (sp:SUPPLIER)-[:IN_NATION]->(n) } AS ns")
  }

  val gB10PcountSql: String =
    s"""WITH ${GraphSql.nodesCte}, ${GraphSql.edgesCte},
       |cc AS (SELECT e.dst AS nk, count(*) AS nc FROM edges e
       |  JOIN nodes c ON e.src = c.full_name
       |  WHERE e.rel_type = 'IN_NATION' AND c.label = 'CUSTOMER'
       |  GROUP BY 1),
       |sc AS (SELECT e.dst AS nk, count(*) AS ns FROM edges e
       |  JOIN nodes sp ON e.src = sp.full_name
       |  WHERE e.rel_type = 'IN_NATION' AND sp.label = 'SUPPLIER'
       |  GROUP BY 1)
       |SELECT n.name AS nation, coalesce(sc.ns, 0)::BIGINT AS ns
       |FROM nodes n
       |LEFT JOIN cc ON cc.nk = n.full_name
       |LEFT JOIN sc ON sc.nk = n.full_name
       |WHERE n.label = 'NATION' AND coalesce(cc.nc, 0) > 0""".stripMargin

  /** g_b10_regroup — mid-query UNWIND + list slice (r16): the
    * collect-then-regroup idiom — per nation, collect the customer
    * keys (sorted, the engine's deterministic collect), slice the
    * first 3, unwind them back out and re-aggregate. The oracle
    * replays it as a row_number window. */
  val gB10Regroup: Q = (s, d) => {
    val (n, e) = cypherTables(s, d)
    graft.api.CypherLite.execute(n, e,
      "MATCH (c:CUSTOMER)-[:IN_NATION]->(n:NATION) " +
        "WITH n.name AS nation, collect(c.full_name) AS xs " +
        "UNWIND xs[0..3] AS v " +
        "RETURN nation, count(*) AS cnt, min(v) AS mn")
  }

  val gB10RegroupSql: String =
    s"""WITH ${GraphSql.nodesCte}, ${GraphSql.edgesCte},
       |pairs AS (SELECT n.name AS nation, c.full_name AS v,
       |    row_number() OVER (PARTITION BY n.name ORDER BY c.full_name)
       |      AS rn
       |  FROM edges e
       |  JOIN nodes c ON e.src = c.full_name
       |  JOIN nodes n ON e.dst = n.full_name
       |  WHERE e.rel_type = 'IN_NATION' AND c.label = 'CUSTOMER'
       |    AND n.label = 'NATION')
       |SELECT nation, count(*)::BIGINT AS cnt, min(v) AS mn
       |FROM pairs WHERE rn <= 3 GROUP BY 1""".stripMargin

  /** g_b10_pctl — Neo4j's percentile aggregates (r15):
    * `percentileDisc(x, p)` (smallest value at cumulative position p —
    * index ceil(p·n) of the sorted list, exact, no interpolation) and
    * `percentileCont(x, p)` (linear interpolation, rounded to 6)
    * through [[graft.api.CypherLite]]'s aggregate machinery over
    * customer balances. The oracle replays the sorted-list index rule
    * and quantile_cont verbatim. */
  val gB10Pctl: Q = (s, d) => {
    val (n, e) = cypherTables(s, d)
    graft.api.CypherLite.execute(n, e,
      "MATCH (c:CUSTOMER) RETURN percentileDisc(c.bal, 0.5) AS p50d, " +
        "percentileCont(c.bal, 0.5) AS p50c, " +
        "percentileDisc(c.bal, 0.9) AS p90d, " +
        "stDev(c.bal) AS sdev, stDevP(c.bal) AS sdevp")
  }

  val gB10PctlSql: String =
    s"""WITH ${GraphSql.nodesCte},
       |b AS (SELECT prop_num AS v FROM nodes WHERE label = 'CUSTOMER')
       |SELECT
       |  (list_sort(list(v)))[greatest(ceil(0.5 * count(*)), 1)::INT]
       |    AS p50d,
       |  round(quantile_cont(v, 0.5), 6) AS p50c,
       |  (list_sort(list(v)))[greatest(ceil(0.9 * count(*)), 1)::INT]
       |    AS p90d,
       |  round(stddev_samp(v), 6) AS sdev,
       |  round(stddev_pop(v), 6) AS sdevp
       |FROM b""".stripMargin

  /** g_b10_cart — un-anchored plain MATCH (r15, verdict task #3): the
    * comma cartesian `MATCH (a:NATION), (b:NATION)` Neo4j executes
    * with a warning, here under [[graft.api.CypherLite]]'s loud row
    * budget (both sides count in-plan; 25 × 25 at any SF — far below
    * the 2M budget). The WHERE's `a.name < b.name` is the canonical
    * pair-enumeration de-dup. */
  val gB10Cart: Q = (s, d) => {
    val (n, e) = cypherTables(s, d)
    graft.api.CypherLite.execute(n, e,
      "MATCH (a:NATION), (b:NATION) WHERE a.name < b.name " +
        "RETURN a.name AS a_name, b.name AS b_name")
  }

  val gB10CartSql: String =
    s"""WITH ${GraphSql.nodesCte}
       |SELECT a.name AS a_name, b.name AS b_name
       |FROM nodes a, nodes b
       |WHERE a.label = 'NATION' AND b.label = 'NATION'
       |  AND a.name < b.name""".stripMargin

  /** g_b10_union — Cypher `UNION` (distinct) across two branch
    * sub-queries: nations reached from customers vs from suppliers.
    * Each branch alone yields thousands of duplicate rows, so the
    * cross-branch dedup is genuinely load-bearing, not cosmetic. */
  val gB10Union: Q = (s, d) => {
    val (n, e) = cypherTables(s, d)
    graft.api.CypherLite.execute(n, e,
      "MATCH (c:CUSTOMER)-[:IN_NATION]->(n:NATION) RETURN n.name AS v " +
        "UNION " +
        "MATCH (sp:SUPPLIER)-[:IN_NATION]->(n:NATION) RETURN n.name AS v")
  }

  val gB10UnionSql: String =
    s"""WITH ${GraphSql.nodesCte}, ${GraphSql.edgesCte}
       |SELECT n.name AS v FROM edges e
       |JOIN nodes c ON e.src = c.full_name JOIN nodes n ON e.dst = n.full_name
       |WHERE e.rel_type = 'IN_NATION' AND c.label = 'CUSTOMER' AND n.label = 'NATION'
       |UNION
       |SELECT n.name FROM edges e
       |JOIN nodes sp ON e.src = sp.full_name JOIN nodes n ON e.dst = n.full_name
       |WHERE e.rel_type = 'IN_NATION' AND sp.label = 'SUPPLIER' AND n.label = 'NATION'""".stripMargin

  /** g_b10_unwind — the `$list` + `UNWIND` batch-lookup idiom through
    * the parameterized entry point: a parameter list of node keys (one
    * of them unmatched) drives point lookups, then a second clause
    * fans out to customers with an aggregate. Gates UNWIND row
    * multiplicity, bare-variable WHERE resolution against the unwound
    * column, and `$param` list substitution in one row. */
  val gB10Unwind: Q = (s, d) => {
    val (n, e) = cypherTables(s, d)
    graft.api.CypherLite.execute(n, e,
      "UNWIND $keys AS k " +
        "MATCH (n:NATION) WHERE n.full_name = k " +
        "MATCH (n)<-[:IN_NATION]-(c:CUSTOMER) " +
        "RETURN k, n.name AS nation, count(c) AS customers",
      Map("keys" -> Seq("nation.0", "nation.3", "nation.7", "nation.99")))
  }

  val gB10UnwindSql: String =
    """WITH sel AS (SELECT unnest(['nation.0', 'nation.3', 'nation.7', 'nation.99']) AS k)
      |SELECT s.k, n.n_name AS nation, count(*)::BIGINT AS customers
      |FROM sel s
      |JOIN nation n ON s.k = 'nation.' || n.n_nationkey
      |JOIN customer c ON c.c_nationkey = n.n_nationkey
      |GROUP BY 1, 2""".stripMargin

  /** g_b10_varlen — zero-length (`*0..1`, Cypher's bind-same-node) and
    * UNBOUNDED (`*`) variable-length hops in a PLAIN MATCH chain (not
    * shortestPath): every customer's containment walk up the hierarchy.
    * The unbounded hop runs the edge-uniqueness path fixpoint
    * ([[graft.api.CypherLite]] varLengthRelUnbounded) and must converge
    * in two levels on this tree; the zero-length leg binds the nation
    * itself alongside its region. */
  val gB10Varlen: Q = (s, d) => {
    val (n, e) = cypherTables(s, d)
    graft.api.CypherLite.execute(n, e,
      "MATCH (c:CUSTOMER)-[:IN_NATION*]->(n)-[:IN_REGION*0..1]->(t) " +
        "RETURN t.kind AS kind, count(*) AS n")
  }

  /** On the tree-shaped hierarchy each customer contributes exactly one
    * nation endpoint (zero-length leg) and one region endpoint (one
    * IN_REGION hop) — closed form, no recursion needed oracle-side. */
  val gB10VarlenSql: String =
    """SELECT 'NATION' AS kind, count(*)::BIGINT AS n FROM customer
      |UNION ALL SELECT 'REGION', count(*)::BIGINT FROM customer""".stripMargin

  /** g_b10_path — PATH VARIABLES in plain MATCH (r12): `p = (o:ORDER)-
    * [:…*3]->(x:REGION)` walks the 3-type alternation chain
    * order→customer→nation→region; `nodes(p)` / `relationships(p)` /
    * `length(p)` rewrite to the path-summary columns the chain builder
    * materializes (head/last/size exercise the arrays' CONTENT — the
    * full node/edge lists incl. per-edge rel types are spec-gated in
    * CypherLitePathSpec). Exactly one 3-hop path per order on the
    * layered graph, so the oracle is the closed-form star join. */
  val gB10Path: Q = (s, d) => {
    val (n, e) = cypherTables(s, d)
    graft.api.CypherLite.execute(n, e,
      "MATCH p = (o:ORDER)-[:PLACED_BY|IN_NATION|IN_REGION*3]->(x:REGION) " +
        "RETURN head(nodes(p)) AS first_node, last(nodes(p)) AS last_node, " +
        "size(relationships(p)) AS n_rels, length(p) AS len")
  }

  val gB10PathSql: String =
    """SELECT 'orders.' || o.o_orderkey AS first_node,
      |  'region.' || n.n_regionkey AS last_node,
      |  3::INT AS n_rels, 3::BIGINT AS len
      |FROM orders o
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey""".stripMargin

  /** g_b10_pathrev — r13 path-variable breadth under the oracle gate:
    * a REVERSED var-length hop (`<-[r:IN_NATION*1]-`, the shape that
    * raised through r12) with a named var-length relationship variable,
    * plus an OPTIONAL MATCH path variable that null-extends when the
    * nation is outside AMERICA (Neo4j: p IS NULL with its clause). */
  val gB10PathRev: Q = (s, d) => {
    val (n, e) = cypherTables(s, d)
    graft.api.CypherLite.execute(n, e,
      "MATCH p = (n:NATION)<-[r:IN_NATION*1]-(c:CUSTOMER) " +
        "OPTIONAL MATCH p2 = (n)-[:IN_REGION]->(g:REGION {name: 'AMERICA'}) " +
        "RETURN head(nodes(p)) AS nation, last(nodes(p)) AS customer, " +
        "length(p) AS len, size(r) AS nr, length(p2) AS am_len")
  }

  val gB10PathRevSql: String =
    """SELECT 'nation.' || c.c_nationkey AS nation,
      |  'customer.' || c.c_custkey AS customer,
      |  1::BIGINT AS len, 1::BIGINT AS nr,
      |  (CASE WHEN r.r_name = 'AMERICA' THEN 1 ELSE NULL END)::BIGINT AS am_len
      |FROM customer c
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |JOIN region r ON n.n_regionkey = r.r_regionkey""".stripMargin

  /** g_b10_distinct — `count(DISTINCT …)` under the oracle gate: a
    * region roll-up where the customer count dwarfs the distinct nation
    * count, so the dedup inside the aggregate is load-bearing (a plain
    * count would be thousands, the distinct count is ≤ 25). */
  val gB10Distinct: Q = (s, d) => {
    val (n, e) = cypherTables(s, d)
    graft.api.CypherLite.execute(n, e,
      "MATCH (c:CUSTOMER)-[:IN_NATION]->(n:NATION)-[:IN_REGION]->(r:REGION) " +
        "RETURN r.name AS region, count(DISTINCT n.name) AS nations, " +
        "count(c) AS customers")
  }

  val gB10DistinctSql: String =
    s"""WITH ${GraphSql.nodesCte}, ${GraphSql.edgesCte}
       |SELECT r.name AS region, count(DISTINCT n.name)::BIGINT AS nations,
       |  count(*)::BIGINT AS customers
       |FROM edges e1
       |JOIN nodes c ON e1.src = c.full_name
       |JOIN nodes n ON e1.dst = n.full_name
       |JOIN edges e2 ON e2.src = n.full_name AND e2.rel_type = 'IN_REGION'
       |JOIN nodes r ON e2.dst = r.full_name
       |WHERE e1.rel_type = 'IN_NATION' AND c.label = 'CUSTOMER'
       |  AND n.label = 'NATION' AND r.label = 'REGION'
       |GROUP BY r.name""".stripMargin

  /** g_b10_case — CASE expressions under the oracle gate: a simple-form
    * CASE on the node kind and a searched CASE banding the numeric prop
    * (string-typed in the graph model, cast by the comparison), both as
    * implicit grouping keys of a count. */
  val gB10Case: Q = (s, d) => {
    val (n, e) = cypherTables(s, d)
    graft.api.CypherLite.execute(n, e,
      "MATCH (m)-[:IN_NATION]->(n:NATION) " +
        "RETURN n.name AS nation, " +
        "CASE m.kind WHEN 'CUSTOMER' THEN 'cust' WHEN 'SUPPLIER' THEN 'supp' " +
        "ELSE 'other' END AS side, " +
        "CASE WHEN m.bal >= 5000 THEN 'hi' WHEN m.bal >= 0 THEN 'lo' " +
        "ELSE 'neg' END AS band, " +
        "count(m) AS members")
  }

  val gB10CaseSql: String =
    s"""WITH ${GraphSql.nodesCte}, ${GraphSql.edgesCte}
       |SELECT n.name AS nation,
       |  CASE m.label WHEN 'CUSTOMER' THEN 'cust' WHEN 'SUPPLIER' THEN 'supp'
       |    ELSE 'other' END AS side,
       |  CASE WHEN m.prop_num >= 5000 THEN 'hi' WHEN m.prop_num >= 0 THEN 'lo'
       |    ELSE 'neg' END AS band,
       |  count(*)::BIGINT AS members
       |FROM edges e
       |JOIN nodes m ON e.src = m.full_name
       |JOIN nodes n ON e.dst = n.full_name
       |WHERE e.rel_type = 'IN_NATION' AND n.label = 'NATION'
       |GROUP BY 1, 2, 3""".stripMargin

  /** g_b10_exists — the `EXISTS { MATCH … WHERE … }` subquery spelling
    * under the oracle gate: suppliers counted per nation, keeping only
    * nations whose region the inner WHERE names — the subquery
    * introduces its own local variable (r) and filters it before the
    * semi-join, the exact shape the bare-pattern gate can't exercise. */
  val gB10Exists: Q = (s, d) => {
    val (n, e) = cypherTables(s, d)
    graft.api.CypherLite.execute(n, e,
      "MATCH (sp:SUPPLIER)-[:IN_NATION]->(n:NATION) " +
        "WHERE EXISTS { MATCH (n)-[:IN_REGION]->(r) WHERE r.name = 'ASIA' } " +
        "RETURN n.name AS nation, count(sp) AS suppliers")
  }

  val gB10ExistsSql: String =
    s"""WITH ${GraphSql.nodesCte}, ${GraphSql.edgesCte}
       |SELECT n.name AS nation, count(*)::BIGINT AS suppliers
       |FROM edges e
       |JOIN nodes sp ON e.src = sp.full_name
       |JOIN nodes n ON e.dst = n.full_name
       |WHERE e.rel_type = 'IN_NATION' AND sp.label = 'SUPPLIER'
       |  AND n.label = 'NATION'
       |  AND EXISTS (SELECT 1 FROM edges e2 JOIN nodes r ON e2.dst = r.full_name
       |    WHERE e2.src = n.full_name AND e2.rel_type = 'IN_REGION'
       |      AND r.name = 'ASIA')
       |GROUP BY n.name""".stripMargin

  /** g_b10_patpred — pattern-existence predicates under the oracle
    * gate: customers of region-0 nations (positive predicate with an
    * anonymous prop-matched endpoint → semi-join) who never placed a
    * P-status order (`NOT (c)<-[:PLACED_BY]-({name: 'P'})` →
    * anti-join against the prop-filtered edge scan), counted per
    * nation. The anti-join removes ~98% of the semi-join's survivors —
    * both joins are load-bearing. */
  val gB10Patpred: Q = (s, d) => {
    val (n, e) = cypherTables(s, d)
    graft.api.CypherLite.execute(n, e,
      "MATCH (c:CUSTOMER)-[:IN_NATION]->(n:NATION) " +
        "WHERE (n)-[:IN_REGION]->({full_name: 'region.0'}) " +
        "AND NOT (c)<-[:PLACED_BY]-({name: 'P'}) " +
        "RETURN n.name AS nation, count(c) AS lapsed")
  }

  val gB10PatpredSql: String =
    s"""WITH ${GraphSql.nodesCte}, ${GraphSql.edgesCte}
       |SELECT n.name AS nation, count(*)::BIGINT AS lapsed
       |FROM edges e
       |JOIN nodes c ON e.src = c.full_name
       |JOIN nodes n ON e.dst = n.full_name
       |WHERE e.rel_type = 'IN_NATION' AND c.label = 'CUSTOMER'
       |  AND n.label = 'NATION'
       |  AND EXISTS (SELECT 1 FROM edges e2 WHERE e2.src = n.full_name
       |    AND e2.rel_type = 'IN_REGION' AND e2.dst = 'region.0')
       |  AND NOT EXISTS (SELECT 1 FROM edges e3
       |    JOIN nodes o ON e3.src = o.full_name
       |    WHERE e3.dst = c.full_name AND e3.rel_type = 'PLACED_BY'
       |      AND o.name = 'P')
       |GROUP BY n.name""".stripMargin

  /** g_b10_optpred — a PATTERN predicate inside an OPTIONAL MATCH
    * WHERE (r11d): the predicate semi-joins the OPTIONAL side before
    * the left join, so a customer without an F-status order
    * null-extends its nation instead of dropping it — count(c) then
    * reads 0 for such nations. Exercises the one Cypher shape the r10
    * verdict still listed as raising. */
  val gB10Optpred: Q = (s, d) => {
    val (n, e) = cypherTables(s, d)
    graft.api.CypherLite.execute(n, e,
      "MATCH (n:NATION) " +
        "OPTIONAL MATCH (n)<-[:IN_NATION]-(c:CUSTOMER) " +
        "WHERE (c)<-[:PLACED_BY]-({name: 'F'}) " +
        "RETURN n.name AS nation, count(c) AS filled")
  }

  val gB10OptpredSql: String =
    s"""WITH ${GraphSql.nodesCte}, ${GraphSql.edgesCte}
       |SELECT n.name AS nation, count(x.cust)::BIGINT AS filled
       |FROM nodes n LEFT JOIN (
       |  SELECT e.dst AS nat, c.full_name AS cust FROM edges e
       |  JOIN nodes c ON e.src = c.full_name
       |  WHERE e.rel_type = 'IN_NATION' AND c.label = 'CUSTOMER'
       |    AND EXISTS (SELECT 1 FROM edges e2
       |      JOIN nodes o ON e2.src = o.full_name
       |      WHERE e2.dst = c.full_name AND e2.rel_type = 'PLACED_BY'
       |        AND o.name = 'F')) x ON x.nat = n.full_name
       |WHERE n.label = 'NATION'
       |GROUP BY n.name""".stripMargin

  /** g_b10_allspp — the allShortestPaths PER-PATH arm (r17, verdict
    * task #1) under the oracle gate: the tail demands the node array
    * (`head(tail(nodes(p)))` reads the path's interior), so the
    * backward reconstruction runs — paths materialize only for
    * (region.0, CUSTOMER) pairs that qualify (the b-filter semi-join),
    * walked back through the predecessor levels. Each customer of
    * region 0's nations has exactly one 2-hop geodesic, so the oracle
    * is a two-table join. */
  val gB10AllspP: Q = (s, d) => {
    val (n, e) = cypherTables(s, d)
    graft.api.CypherLite.execute(n, e,
      "MATCH p = allShortestPaths((a {full_name: 'region.0'})" +
        "<-[:IN_NATION|IN_REGION*]-(b:CUSTOMER)) " +
        "RETURN b.full_name AS cust, head(tail(nodes(p))) AS mid, " +
        "length(p) AS d")
  }

  val gB10AllspPSql: String =
    """SELECT 'customer.' || c.c_custkey AS cust,
      |  'nation.' || c.c_nationkey AS mid, 2::BIGINT AS d
      |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      |WHERE n.n_regionkey = 0""".stripMargin

  /** g_b10_optcomma — OPTIONAL MATCH with COMMA patterns (r17, verdict
    * task #3): the comma subs join into one conjunction frame and the
    * driver left-joins it ONCE, so the null extension is atomic —
    * every region has nations, but only customer.1's region binds
    * (nation, cust); the other four rows read NULL for BOTH even
    * though their (n)-[:IN_REGION]->(r) half matches alone. */
  val gB10OptComma: Q = (s, d) => {
    val (n, e) = cypherTables(s, d)
    graft.api.CypherLite.execute(n, e,
      "MATCH (r:REGION) " +
        "OPTIONAL MATCH (n:NATION)-[:IN_REGION]->(r), " +
        "(c:CUSTOMER {full_name: 'customer.1'})-[:IN_NATION]->(n) " +
        "RETURN r.full_name AS region, n.full_name AS nation, " +
        "c.name AS cust")
  }

  val gB10OptCommaSql: String =
    s"""WITH ${GraphSql.nodesCte}, ${GraphSql.edgesCte}
       |SELECT r.full_name AS region, x.nation AS nation, x.cust AS cust
       |FROM nodes r LEFT JOIN (
       |  SELECT e1.dst AS region_fn, e1.src AS nation, c.name AS cust
       |  FROM edges e1
       |  JOIN edges e2 ON e2.rel_type = 'IN_NATION' AND e2.dst = e1.src
       |  JOIN nodes c ON e2.src = c.full_name
       |    AND c.full_name = 'customer.1'
       |  WHERE e1.rel_type = 'IN_REGION'
       |) x ON x.region_fn = r.full_name
       |WHERE r.label = 'REGION'""".stripMargin

  /** g_b10_callsub — `CALL { … }` subqueries (r17, verdict task #6):
    * two correlated pure-aggregate subs per region — each plans as its
    * own pipeline grouped by the imported key and LEFT-joins the
    * driver, with count backfilled to 0 (Neo4j: an aggregate subquery
    * returns exactly one row per input row). The second sub is empty
    * for four of the five regions, pinning the backfill. */
  val gB10CallSub: Q = (s, d) => {
    val (n, e) = cypherTables(s, d)
    graft.api.CypherLite.execute(n, e,
      "MATCH (r:REGION) " +
        "CALL { WITH r MATCH (n:NATION)-[:IN_REGION]->(r) " +
        "RETURN count(n) AS nations, min(n.name) AS first_nation } " +
        "CALL { WITH r MATCH (n:NATION {name: 'ALGERIA'})" +
        "-[:IN_REGION]->(r) RETURN count(n) AS algeria } " +
        "RETURN r.full_name AS region, nations, first_nation, algeria")
  }

  val gB10CallSubSql: String =
    s"""WITH ${GraphSql.nodesCte}, ${GraphSql.edgesCte}
       |SELECT r.full_name AS region,
       |  coalesce(x.nations, 0)::BIGINT AS nations,
       |  x.first_nation AS first_nation,
       |  coalesce(y.algeria, 0)::BIGINT AS algeria
       |FROM nodes r
       |LEFT JOIN (
       |  SELECT e.dst AS rk, count(*) AS nations, min(n.name) AS first_nation
       |  FROM edges e JOIN nodes n ON e.src = n.full_name
       |  WHERE e.rel_type = 'IN_REGION' AND n.label = 'NATION'
       |  GROUP BY e.dst) x ON x.rk = r.full_name
       |LEFT JOIN (
       |  SELECT e.dst AS rk, count(*) AS algeria
       |  FROM edges e JOIN nodes n ON e.src = n.full_name
       |  WHERE e.rel_type = 'IN_REGION' AND n.label = 'NATION'
       |    AND n.name = 'ALGERIA'
       |  GROUP BY e.dst) y ON y.rk = r.full_name
       |WHERE r.label = 'REGION'""".stripMargin

  /** g_b10_cntdist — DISTINCT-qualified aggregates (r18, verdict task
    * #1): `count(DISTINCT c.name)` dedups the entity property per
    * implicit group (customers with several orders count once),
    * `count(o)` keeps the raw multiplicity beside it, and
    * `avg(DISTINCT c.bal)` routes the expression-arg DISTINCT path
    * (sum_distinct/count_distinct ratio). The leading `RETURN
    * DISTINCT` alongside aggregation is Neo4j's accepted no-op — the
    * grouped result is already one row per nation. */
  val gB10CntDist: Q = (s, d) => {
    val (n, e) = cypherTables(s, d)
    graft.api.CypherLite.execute(n, e,
      "MATCH (o:ORDER)-[:PLACED_BY]->(c:CUSTOMER)-[:IN_NATION]->(n:NATION) " +
        "RETURN DISTINCT n.name AS nation, " +
        "count(DISTINCT c.name) AS actives, count(o) AS orders, " +
        "avg(DISTINCT c.bal) AS avgbal")
  }

  val gB10CntDistSql: String =
    """SELECT n.n_name AS nation,
      |  count(DISTINCT c.c_name)::BIGINT AS actives,
      |  count(*)::BIGINT AS orders,
      |  avg(DISTINCT c.c_acctbal) AS avgbal
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |GROUP BY n.n_name""".stripMargin

  /** g_b10_pator — a pattern predicate under OR (r18, verdict task
    * #3): the disjunction routes through the existence-FLAG plan (one
    * distinct-keyed left join per pattern leaf feeding a plain boolean
    * OR) instead of the semi/anti-join surgery a conjunction gets. The
    * second disjunct nests a NOT-pattern AND a numeric prop filter, so
    * flag negation and the mixed boolean tree are both load-bearing. */
  val gB10PatOr: Q = (s, d) => {
    val (n, e) = cypherTables(s, d)
    graft.api.CypherLite.execute(n, e,
      "MATCH (c:CUSTOMER)-[:IN_NATION]->(n:NATION) " +
        "WHERE (n)-[:IN_REGION]->({full_name: 'region.0'}) " +
        "OR (NOT (c)<-[:PLACED_BY]-({name: 'P'}) AND c.bal > 9000) " +
        "RETURN n.name AS nation, count(c) AS cnt")
  }

  val gB10PatOrSql: String =
    s"""WITH ${GraphSql.nodesCte}, ${GraphSql.edgesCte}
       |SELECT n.name AS nation, count(*)::BIGINT AS cnt
       |FROM edges e
       |JOIN nodes c ON e.src = c.full_name
       |JOIN nodes n ON e.dst = n.full_name
       |WHERE e.rel_type = 'IN_NATION' AND c.label = 'CUSTOMER'
       |  AND n.label = 'NATION'
       |  AND (EXISTS (SELECT 1 FROM edges e2 WHERE e2.src = n.full_name
       |      AND e2.rel_type = 'IN_REGION' AND e2.dst = 'region.0')
       |    OR (NOT EXISTS (SELECT 1 FROM edges e3
       |        JOIN nodes o ON e3.src = o.full_name
       |        WHERE e3.dst = c.full_name AND e3.rel_type = 'PLACED_BY'
       |          AND o.name = 'P')
       |      AND c.prop_num > 9000))
       |GROUP BY n.name""".stripMargin

  /** g_b10_callpipe — `CALL { … }` AFTER a WITH pipe (r18, verdict
    * task #2), Neo4j's primary composition idiom: the pipe aggregates
    * nations per region, then two correlated pure-aggregate subqueries
    * import the CARRIED `r` (the `__w_r` struct — the join spelling is
    * identical pre- and post-pipe) and left-join the piped frame. The
    * second sub is empty for four of five regions, pinning the 0
    * backfill at a pipe stage; `nations` crossing the boundary pins
    * the pipe scope carrying through the CALL attachment. */
  val gB10CallPipe: Q = (s, d) => {
    val (n, e) = cypherTables(s, d)
    graft.api.CypherLite.execute(n, e,
      "MATCH (n:NATION)-[:IN_REGION]->(r:REGION) " +
        "WITH r, count(n) AS nations " +
        "CALL { WITH r MATCH (c:CUSTOMER)-[:IN_NATION]->(n2:NATION)" +
        "-[:IN_REGION]->(r) WHERE c.bal > 5000 " +
        "RETURN count(c) AS rich, max(c.name) AS topc } " +
        "CALL { WITH r MATCH (n3:NATION {name: 'NATION_0'})" +
        "-[:IN_REGION]->(r) RETURN count(n3) AS zeroes } " +
        "RETURN r.full_name AS region, nations, rich, topc, zeroes")
  }

  val gB10CallPipeSql: String =
    s"""WITH ${GraphSql.nodesCte}, ${GraphSql.edgesCte}
       |SELECT r.full_name AS region, x.nations AS nations,
       |  coalesce(y.rich, 0)::BIGINT AS rich, y.topc AS topc,
       |  coalesce(z.zeroes, 0)::BIGINT AS zeroes
       |FROM nodes r
       |JOIN (SELECT e.dst AS rk, count(*)::BIGINT AS nations
       |  FROM edges e JOIN nodes n ON e.src = n.full_name
       |  WHERE e.rel_type = 'IN_REGION' AND n.label = 'NATION'
       |  GROUP BY e.dst) x ON x.rk = r.full_name
       |LEFT JOIN (SELECT e2.dst AS rk, count(*) AS rich,
       |    max(c.name) AS topc
       |  FROM edges e1
       |  JOIN nodes c ON e1.src = c.full_name AND c.label = 'CUSTOMER'
       |  JOIN edges e2 ON e2.src = e1.dst AND e2.rel_type = 'IN_REGION'
       |  WHERE e1.rel_type = 'IN_NATION' AND c.prop_num > 5000
       |  GROUP BY e2.dst) y ON y.rk = r.full_name
       |LEFT JOIN (SELECT e.dst AS rk, count(*) AS zeroes
       |  FROM edges e JOIN nodes n ON e.src = n.full_name
       |  WHERE e.rel_type = 'IN_REGION' AND n.name = 'NATION_0'
       |  GROUP BY e.dst) z ON z.rk = r.full_name
       |WHERE r.label = 'REGION'""".stripMargin

  /** g_b10_unwsp — UNWIND before shortestPath (r18, verdict task #4):
    * the unwound keys seed the multi-source BFS frontier directly
    * (mixed 1-hop and 2-hop anchors in one search), LeftSemi-pruned
    * against the node scan so the off-graph 'bogus.99' seed binds
    * nothing (the PlanShapeSpec-pinned shape). `x` in the tail reads
    * the path's start key. */
  val gB10UnwSp: Q = (s, d) => {
    val (n, e) = cypherTables(s, d)
    graft.api.CypherLite.execute(n, e,
      "UNWIND ['nation.0', 'nation.3', 'region.1', 'bogus.99'] AS x " +
        "MATCH p = shortestPath((a {full_name: x})" +
        "<-[:IN_NATION|IN_REGION*]-(b:SUPPLIER)) " +
        "RETURN x AS anchor, b.full_name AS supp, length(p) AS d")
  }

  val gB10UnwSpSql: String =
    """SELECT 'nation.' || s.s_nationkey AS anchor,
      |  'supplier.' || s.s_suppkey AS supp, 1::BIGINT AS d
      |FROM supplier s WHERE s.s_nationkey IN (0, 3)
      |UNION ALL
      |SELECT 'region.1', 'supplier.' || s.s_suppkey, 2::BIGINT
      |FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
      |WHERE n.n_regionkey = 1""".stripMargin

  /** q53 — HITS hubs & authorities over the containment hierarchy
    * ([[graft.enrich.Analytics.hits]]), 3 rounds: mutually-recursive
    * L1-normalized scores, decimal-routed sums + round-to-10 per stage
    * so the oracle unrolls every round bit-identically. */
  val q53Hits: Q = (s, d) =>
    graft.enrich.Analytics.hits(GraphTables.hierarchy(s, d), iterations = 3)

  lazy val q53HitsSql: String = {
    val dsum = (c: String) =>
      s"round(CAST(sum(CAST($c AS DECIMAL(38,10))) AS DOUBLE), 10)"
    def round10(x: String) = s"round($x, 10)"
    def authOf(i: Int) =
      s"""ar$i AS (SELECT t.v, coalesce(c.s, 0.0) AS a FROM hverts t LEFT JOIN (
         |  SELECT e.dst AS v, ${dsum("p.hub")} AS s
         |  FROM hier e JOIN hn${i - 1} p ON e.src = p.v GROUP BY e.dst) c ON t.v = c.v),
         |an$i AS MATERIALIZED (SELECT v, ${round10(s"a / (SELECT CAST(sum(CAST(a AS DECIMAL(38,10))) AS DOUBLE) FROM ar$i)")} AS auth FROM ar$i),
         |hr$i AS (SELECT t.v, coalesce(c.s, 0.0) AS h FROM hverts t LEFT JOIN (
         |  SELECT e.src AS v, ${dsum("p.auth")} AS s
         |  FROM hier e JOIN an$i p ON e.dst = p.v GROUP BY e.src) c ON t.v = c.v),
         |hn$i AS MATERIALIZED (SELECT v, ${round10(s"h / (SELECT CAST(sum(CAST(h AS DECIMAL(38,10))) AS DOUBLE) FROM hr$i)")} AS hub FROM hr$i)""".stripMargin
    s"""WITH ${GraphSql.hierarchyCte},
       |hverts AS MATERIALIZED (SELECT DISTINCT v FROM (SELECT src AS v FROM hier UNION ALL SELECT dst FROM hier)),
       |hn0 AS (SELECT v, 1.0 AS hub FROM hverts),
       |${(1 to 3).map(authOf).mkString(",\n")}
       |SELECT h.v, round(h.hub, 6) AS hub, round(a.auth, 6) AS auth
       |FROM hn3 h JOIN an3 a ON h.v = a.v""".stripMargin
  }

  /** The GraphX scale path of q53 — identical per-stage rounding and
    * normalization order; shares q53's oracle. */
  val q53HitsGx: Q = (s, d) =>
    graft.enrich.Analytics.hitsGraphX(s, GraphTables.hierarchy(s, d),
      iterations = 3)

  val gD4Closure: Q = (s, d) =>
    graft.enrich.Closure.transitiveClosure(GraphTables.hierarchy(s, d))

  val gD4ClosureSql: String =
    s"""WITH RECURSIVE ${GraphSql.hierarchyCte},
       |reach(src, dst) AS (
       |  SELECT src, dst FROM hier
       |  UNION
       |  SELECT r.src, h.dst FROM reach r JOIN hier h ON r.dst = h.src
       |)
       |SELECT src, dst FROM reach""".stripMargin

  /** g_c11_override — C11 override detection along the real Python MRO
    * ([[graft.enrich.Closure.overrides]] over [[graft.enrich.Closure
    * .c3Linearize]]'s DataFrame fixpoint; reference deep mode resolves
    * the same relation through jedi's `goto(follow_override=True)`,
    * indexer_visitor.py:125-157). Fixture: 25 independent DIAMONDS
    * synthesized in-plan from `nation` — per key k: `A_k(X_k)`,
    * `C_k(A_k, B_k)`, methods `run/go/fly` defined on a key-varied
    * subset (A_k defines `run` only for even k). The diamond's C3
    * order is the published constant `[C, A, X, B]` — depth-first
    * through the LEFT base before the right base, so `C.go` must
    * resolve to `X.go` (grandparent through A) over `B.go` (direct
    * base), the exact case nearest-by-depth gets wrong. The oracle
    * replays that documented linearization as a positions table and
    * takes each method's min-position same-named ancestor definition —
    * an independent spelling with no shared code path through the
    * fixpoint. */
  val gC11Override: Q = (s, d) => {
    val k = Tables.nation(s, d)
      .select(col("n_nationkey").cast("long").as("k"))
    def cls(p: String) = concat(lit("m."), lit(p), col("k"))
    def meth(p: String, m: String) = concat(cls(p), lit("." + m))
    val inherits = k.select(cls("A").as("src"), cls("X").as("dst"),
        lit(0).as("ord"))
      .unionByName(k.select(cls("C").as("src"), cls("A").as("dst"),
        lit(0).as("ord")))
      .unionByName(k.select(cls("C").as("src"), cls("B").as("dst"),
        lit(1).as("ord")))
    val defSpec = Seq("X" -> "run", "X" -> "go", "B" -> "run",
      "B" -> "go", "B" -> "fly", "C" -> "run", "C" -> "go", "C" -> "fly")
    val hasMethod = defSpec.map { case (c, m) =>
      k.select(cls(c).as("src"), meth(c, m).as("dst"))
    }.reduce(_ unionByName _)
      .unionByName(k.filter(col("k") % 2 === 0)
        .select(cls("A").as("src"), meth("A", "run").as("dst")))
    graft.enrich.Closure.overrides(inherits, hasMethod)
  }

  val gC11OverrideSql: String =
    """WITH k AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
      |defs AS (
      |  SELECT k.k, t.ck, t.m FROM k CROSS JOIN (VALUES
      |    ('X','run'),('X','go'),('B','run'),('B','go'),('B','fly'),
      |    ('C','run'),('C','go'),('C','fly')) AS t(ck, m)
      |  UNION ALL SELECT k, 'A', 'run' FROM k WHERE k % 2 = 0),
      |mro AS (SELECT * FROM (VALUES
      |  ('C','A',1),('C','X',2),('C','B',3),('A','X',1)) AS t(ck, anc, pos)),
      |cand AS (
      |  SELECT c.k, c.ck, c.m, r.anc, r.pos
      |  FROM defs c JOIN mro r ON c.ck = r.ck
      |  JOIN defs a ON a.k = c.k AND a.ck = r.anc AND a.m = c.m)
      |SELECT 'm.' || ck || k || '.' || m AS src,
      |  'm.' || arg_min(anc, pos) || k || '.' || m AS dst
      |FROM cand GROUP BY k, ck, m""".stripMargin

  /** g_c15_cycles — CIRCULAR-DEPENDENCY detection, the cross-pillar
    * pipeline every code-graph tool ships: per nation key a synthetic
    * 4-module package indexes DISTRIBUTEDLY (the C2 per-file fan-out:
    * [[graft.indexer.PyIndexer.indexFile]] inside a flatMap), its
    * cross-module call edges (resolved through the C8 import maps)
    * contract to the MODULE dependency graph, and
    * [[graft.enrich.Analytics.stronglyConnected]] finds the import
    * cycles — modules a→b→c→a are planted cyclic, d→a acyclic. The
    * oracle predicts the component structure in closed form (SCC label
    * = min member, the q61 convention). */
  val gC15Cycles: Q = (s, d) => {
    import s.implicits._
    val fedges = Tables.nation(s, d)
      .select(col("n_nationkey").cast("int").as("k")).as[Int]
      .flatMap { k =>
        val p = s"pkg$k"
        def module(m: String, imp: String, callee: String) =
          (s"$p/$m.py",
            s"import $p.$imp\n\ndef f$m():\n    return $p.$callee()\n")
        val files = Seq(
          module("a", "b", "b.fb"), module("b", "c", "c.fc"),
          module("c", "a", "a.fa"), module("d", "a", "a.fa"))
        files.flatMap { case (path, src) =>
          graft.indexer.PyIndexer.indexFile("c15", path, src).edges
            .filter(_.relType == graft.model.Rel.Call)
            .map(e => (e.src, e.dst))
        }
      }.toDF("fsrc", "fdst")
    val modEdges = fedges.select(
      regexp_replace(col("fsrc"), "\\.[^.]+$", "").as("src"),
      regexp_replace(col("fdst"), "\\.[^.]+$", "").as("dst"))
    val scc = graft.enrich.Analytics.stronglyConnected(modEdges)
    val w = Window.partitionBy("scc")
    scc.withColumn("in_cycle",
      (count(lit(1)).over(w) > 1).cast("int"))
  }

  val gC15CyclesSql: String =
    """WITH ks AS (SELECT n_nationkey::INT AS k FROM nation),
      |mods AS (SELECT k, unnest(['a', 'b', 'c', 'd']) AS m FROM ks)
      |SELECT 'pkg' || k || '.' || m AS v,
      |  CASE WHEN m IN ('a', 'b', 'c') THEN 'pkg' || k || '.a'
      |       ELSE 'pkg' || k || '.' || m END AS scc,
      |  (CASE WHEN m IN ('a', 'b', 'c') THEN 1 ELSE 0 END)::INT AS in_cycle
      |FROM mods""".stripMargin

  /** q60 — KATZ centrality over the containment hierarchy
    * ([[graft.enrich.Analytics.katz]]): 5 unrolled x ← 1 + 0.1·Aᵀx
    * rounds vs the same unrolled-CTE oracle discipline as PageRank. */
  val q60Katz: Q = (s, d) =>
    graft.enrich.Analytics.katz(GraphTables.hierarchy(s, d), iterations = 5)

  /** q60_gx — the GraphX twin, same math + round-10 → same oracle. */
  val q60KatzGx: Q = (s, d) =>
    graft.enrich.Analytics.katzGraphX(s, GraphTables.hierarchy(s, d),
      iterations = 5)

  val q60KatzSql: String = {
    def iter(i: Int): String =
      s"""k$i AS (SELECT t.v, round(1.0 + coalesce(c.s, 0), 10) AS x
         |  FROM verts t LEFT JOIN (
         |    SELECT e.dst AS v, round(sum(p.x) * 0.1, 10) AS s
         |    FROM hier e JOIN k${i - 1} p ON e.src = p.v
         |    GROUP BY e.dst) c ON t.v = c.v)""".stripMargin
    s"""WITH ${GraphSql.hierarchyCte},
       |verts AS (SELECT src AS v FROM hier UNION SELECT dst FROM hier),
       |k0 AS (SELECT v, 1.0 AS x FROM verts),
       |${(1 to 5).map(iter).mkString(",\n")}
       |SELECT v, round(x, 6) AS katz FROM k5""".stripMargin
  }

  /** q61 — STRONGLY connected components
    * ([[graft.enrich.Analytics.stronglyConnected]], the Orzan coloring
    * loop) over the cyclic ring fixture
    * ([[graft.store.GraphTables.sccRings]]): per-(nation, octet)
    * customer rings are the SCCs, one-way star bridges and order
    * pendants must NOT merge (bridged rings share ancestors; pendants
    * are singleton components). The oracle affords the quadratic
    * luxury the engine never does: full recursive-CTE reachability
    * closure, scc(u) = min v with u→*v ∧ v→*u (self included via the
    * closure seed). */
  val q61Scc: Q = (s, d) =>
    graft.enrich.Analytics.stronglyConnected(GraphTables.sccRings(s, d))

  /** q61_gx — the GraphX twin (Pregel SCC + component-min relabel),
    * same oracle. */
  val q61SccGx: Q = (s, d) =>
    graft.enrich.Analytics.stronglyConnectedGraphX(s, GraphTables.sccRings(s, d))

  /** q77_scc_inc — INCREMENTAL SCC
    * ([[graft.enrich.Analytics.stronglyConnectedIncremental]]): the
    * PERSISTED previous labels + condensation ([[GraphTables.sccPrev]] /
    * `sccPrevCond` — derived from the ring fixture minus a
    * deterministic 10% of edges) plus ONLY the new 10% delta; the job
    * BFS-bounds the affected region (fwd from new heads ∩ bwd from new
    * tails on the augmented condensation) and re-runs SCC on that tiny
    * subgraph — the old edge table is never read. Provably ≡
    * from-scratch (additions only coarsen; min-member labels compose),
    * so it SHARES q61's oracle verbatim — the q59/q66 incremental
    * discipline completing the set. */
  val q77SccInc: Q = (s, d) =>
    graft.enrich.Analytics.stronglyConnectedIncremental(
      GraphTables.sccDelta(s, d),
      GraphTables.sccPrev(s, d), GraphTables.sccPrevCond(s, d))

  /** q62 — the CONDENSATION DAG of the ring fixture
    * ([[graft.enrich.Analytics.condensationFrom]]): rings contract to
    * single nodes, surviving edges are exactly the one-way bridges and
    * the order→ring pendants. Labels come from the PERSISTED
    * `scclabels` derived table ([[graft.store.GraphTables.sccLabels]]
    * — derived once per corpus version, the ccprev discipline); the
    * oracle recomputes them from the closure. */
  val q62Condense: Q = (s, d) =>
    // r12: the condensation persists per corpus version (`scccond`, the
    // scclabels discipline) — this query IS the derived-table scan
    GraphTables.sccCond(s, d)

  val q62CondenseSql: String =
    s"""WITH RECURSIVE ${GraphSql.sccRingsCte},
       |verts AS (SELECT src AS v FROM scce UNION SELECT dst FROM scce),
       |reach(s, t) AS (SELECT v, v FROM verts
       |  UNION SELECT r.s, e.dst FROM reach r JOIN scce e ON r.t = e.src),
       |lab AS (SELECT a.s AS v, min(a.t) AS scc
       |  FROM reach a JOIN reach b ON a.s = b.t AND a.t = b.s
       |  GROUP BY a.s)
       |SELECT DISTINCT ls.scc AS src_scc, ld.scc AS dst_scc
       |FROM scce e JOIN lab ls ON e.src = ls.v JOIN lab ld ON e.dst = ld.v
       |WHERE ls.scc <> ld.scc""".stripMargin

  /** q63 — topological layers of the condensation
    * ([[graft.enrich.Analytics.condensationLayersFrom]] over the
    * persisted `scclabels` table): longest-path
    * stage number per SCC (orders → 0, nation-0 rings → 1, bridged
    * rings → 2 on the fixture). Oracle: the closure labels + 5
    * unrolled max-plus relaxation rounds (depth is 2). */
  val q63Topo: Q = (s, d) =>
    // r12: both inputs persisted (scclabels + scccond) — the relaxation
    // loop reads two parquet scans, never the base graph
    graft.enrich.Analytics.condensationLayersOver(GraphTables.sccCond(s, d),
      GraphTables.sccLabels(s, d))

  val q63TopoSql: String = {
    def relax(i: Int): String =
      s"""r$i AS MATERIALIZED (SELECT t.c, greatest(t.layer, coalesce(m.ml, 0)) AS layer
         |  FROM r${i - 1} t LEFT JOIN (
         |    SELECT ce.cd AS c, max(p.layer) + 1 AS ml
         |    FROM ce JOIN r${i - 1} p ON ce.cs = p.c GROUP BY ce.cd) m
         |  ON t.c = m.c)""".stripMargin
    s"""WITH RECURSIVE ${GraphSql.sccRingsCte},
       |verts AS (SELECT src AS v FROM scce UNION SELECT dst FROM scce),
       |reach(s, t) AS (SELECT v, v FROM verts
       |  UNION SELECT r.s, e.dst FROM reach r JOIN scce e ON r.t = e.src),
       |lab AS MATERIALIZED (SELECT a.s AS v, min(a.t) AS scc
       |  FROM reach a JOIN reach b ON a.s = b.t AND a.t = b.s
       |  GROUP BY a.s),
       |ce AS MATERIALIZED (SELECT DISTINCT ls.scc AS cs, ld.scc AS cd
       |  FROM scce e JOIN lab ls ON e.src = ls.v JOIN lab ld ON e.dst = ld.v
       |  WHERE ls.scc <> ld.scc),
       |r0 AS MATERIALIZED (SELECT DISTINCT scc AS c, 0::BIGINT AS layer FROM lab),
       |${(1 to 5).map(relax).mkString(",\n")}
       |SELECT c AS scc, layer FROM r5""".stripMargin
  }

  val q61SccSql: String =
    s"""WITH RECURSIVE ${GraphSql.sccRingsCte},
       |verts AS (SELECT src AS v FROM scce UNION SELECT dst FROM scce),
       |reach(s, t) AS (SELECT v, v FROM verts
       |  UNION SELECT r.s, e.dst FROM reach r JOIN scce e ON r.t = e.src)
       |SELECT a.s AS v, min(a.t) AS scc
       |FROM reach a JOIN reach b ON a.s = b.t AND a.t = b.s
       |GROUP BY a.s""".stripMargin

  /** Iterative analytics beyond the reference: 5-iteration PageRank over
    * the containment hierarchy — DataFrame fixpoint loop vs unrolled-CTE
    * oracle; per-iteration rounding makes both engines bit-identical. */
  val q10Pagerank: Q = (s, d) =>
    graft.enrich.Analytics.pageRank(GraphTables.hierarchy(s, d), iterations = 5)

  val q10PagerankSql: String = {
    def iter(i: Int): String =
      s"""pr$i AS (SELECT t.v, round(0.15/(SELECT n FROM nn) + 0.85*coalesce(c.s, 0), 10) AS pr
         |  FROM verts t LEFT JOIN (
         |    SELECT e.dst AS v, round(sum(p.pr / o.cnt), 10) AS s
         |    FROM hier e JOIN pr${i - 1} p ON e.src = p.v JOIN outdeg o ON e.src = o.src
         |    GROUP BY e.dst) c ON t.v = c.v)""".stripMargin
    s"""WITH ${GraphSql.hierarchyCte},
       |verts AS (SELECT src AS v FROM hier UNION SELECT dst FROM hier),
       |nn AS (SELECT count(*)::DOUBLE AS n FROM verts),
       |outdeg AS (SELECT src, count(*) AS cnt FROM hier GROUP BY src),
       |pr0 AS (SELECT v, round(1.0/(SELECT n FROM nn), 10) AS pr FROM verts),
       |${(1 to 5).map(iter).mkString(",\n")}
       |SELECT v, round(pr, 6) AS pagerank FROM pr5""".stripMargin
  }

  /** The GraphX scale path of q10 — same math, same per-iteration
    * rounding, gated by the IDENTICAL oracle SQL (the round-to-10
    * quantization makes summation order irrelevant across engines). */
  val q10PagerankGx: Q = (s, d) =>
    graft.enrich.Analytics.pageRankGraphX(s, GraphTables.hierarchy(s, d),
      iterations = 5)

  /** q66 — INCREMENTAL PageRank by warm start
    * ([[graft.enrich.Analytics.pageRankIncremental]]): previous-version
    * ranks (the persisted `prprev` derived table — PageRank over a
    * deterministic 90% of the hierarchy, selected by the PORTABLE
    * rolling hash) seed 2 damped rounds on the full edge set — vs the
    * from-scratch 5. Unlike q59's contraction (provably ≡ from-scratch),
    * a warm start's result DEPENDS on the seed, so the oracle replays
    * the previous run (5 unrolled rounds on the old edges) and then the
    * 2 warm rounds, bit-identically via the round-10 discipline. */
  val q66PrInc: Q = (s, d) =>
    graft.enrich.Analytics.pageRankIncremental(
      GraphTables.hierarchy(s, d), GraphTables.prPrev(s, d))

  lazy val q66PrIncSql: String = {
    val rh = "list_reduce(list_prepend(0::BIGINT, " +
      "list_transform(string_split(src || '|' || dst, ''), c -> ascii(c)::BIGINT)), " +
      "(a, c) -> (a * 31 + c) % 2147483647)"
    def iter(pre: String, i: Int, edges: String, outdeg: String,
        nn: String): String =
      s"""$pre$i AS MATERIALIZED (SELECT t.v, round(0.15/(SELECT n FROM $nn) + 0.85*coalesce(c.s, 0), 10) AS pr
         |  FROM ${pre}verts t LEFT JOIN (
         |    SELECT e.dst AS v, round(sum(p.pr / o.cnt), 10) AS s
         |    FROM $edges e JOIN $pre${i - 1} p ON e.src = p.v JOIN $outdeg o ON e.src = o.src
         |    GROUP BY e.dst) c ON t.v = c.v)""".stripMargin
    s"""WITH ${GraphSql.hierarchyCte},
       |old AS MATERIALIZED (SELECT src, dst FROM hier WHERE $rh % 10 <> 0),
       |overts AS (SELECT src AS v FROM old UNION SELECT dst FROM old),
       |onn AS (SELECT count(*)::DOUBLE AS n FROM overts),
       |ood AS (SELECT src, count(*) AS cnt FROM old GROUP BY src),
       |o0 AS (SELECT v, round(1.0/(SELECT n FROM onn), 10) AS pr FROM overts),
       |${(1 to 5).map(i => iter("o", i, "old", "ood", "onn")).mkString(",\n")},
       |prev AS MATERIALIZED (SELECT v, round(pr, 6) AS pagerank FROM o5),
       |wverts AS (SELECT src AS v FROM hier UNION SELECT dst FROM hier),
       |wnn AS (SELECT count(*)::DOUBLE AS n FROM wverts),
       |wod AS (SELECT src, count(*) AS cnt FROM hier GROUP BY src),
       |w0 AS (SELECT t.v, round(coalesce(p.pagerank, 1.0/(SELECT n FROM wnn)), 10) AS pr
       |  FROM wverts t LEFT JOIN prev p ON t.v = p.v),
       |${(1 to 2).map(i => iter("w", i, "hier", "wod", "wnn")).mkString(",\n")}
       |SELECT v, round(pr, 6) AS pagerank FROM w2""".stripMargin
  }

  /** Connected components (min-label propagation on the undirected
    * hierarchy). Oracle = 10 unrolled propagation steps: the graph
    * converges in ≤6 (its diameter), and the fixpoint is stable, so the
    * Spark until-no-change loop and the fixed unroll land identically. */
  val q11Cc: Q = (s, d) =>
    graft.enrich.Analytics.connectedComponents(GraphTables.hierarchy(s, d))

  /** q59 — INCREMENTAL connected components by CONTRACTION
    * ([[graft.enrich.Analytics.connectedComponentsIncremental]]): a
    * deterministic 90% of the hierarchy edges label first (the "previous
    * version", persisted as the fingerprinted `ccprev` derived table),
    * then the FULL edge set is mapped to those previous labels, only the
    * non-self label PAIRS are kept (the tiny component-level graph), CC
    * runs on that contracted graph, and vertices relabel through the
    * merge map — one edge double-join regardless of graph diameter.
    * Because a previous label is its old component's min vertex id and
    * the contracted CC takes min over merged label sets, the result
    * provably equals the from-scratch labeling, so the gate shares
    * q11's oracle verbatim. */
  val q59CcInc: Q = (s, d) =>
    graft.enrich.Analytics.connectedComponentsIncremental(
      GraphTables.hierarchy(s, d), GraphTables.ccPrev(s, d))

  /** One unrolled min-label propagation step, shared by every CC oracle.
    * MATERIALIZED: each step references its predecessor twice — an
    * inlined CTE chain would re-evaluate l0 2^n times. */
  private def ccIterSql(i: Int): String =
    s"""l$i AS MATERIALIZED (SELECT t.v, least(t.c, coalesce(m.mc, t.c)) AS c FROM l${i - 1} t
       |  LEFT JOIN (SELECT e.dst AS v, min(p.c) AS mc FROM und e JOIN l${i - 1} p ON e.src = p.v GROUP BY e.dst) m
       |  ON t.v = m.v)""".stripMargin

  val q11CcSql: String =
    s"""WITH ${GraphSql.hierarchyCte},
       |und AS MATERIALIZED (SELECT src, dst FROM hier UNION SELECT dst, src FROM hier),
       |verts AS (SELECT DISTINCT src AS v FROM und),
       |l0 AS MATERIALIZED (SELECT v, v AS c FROM verts),
       |${(1 to 10).map(ccIterSql).mkString(",\n")}
       |SELECT v, c AS component FROM l10""".stripMargin

  /** The GraphX scale path of q11 — pointer-jumping CC + min-name
    * mapping ≡ the converged min-label fixpoint; same oracle SQL. */
  val q11CcGx: Q = (s, d) =>
    graft.enrich.Analytics.connectedComponentsGraphX(s, GraphTables.hierarchy(s, d))

  /** q22 — unweighted BFS distances from region.0 over the REVERSED
    * containment hierarchy (region → nations → customers/suppliers →
    * orders). The oracle unrolls the same min-plus recurrence; iterations
    * on both sides exceed the graph depth, and the fixpoint is
    * stepping-invariant. */
  private val q22Iterations = 6

  /** Semantic dedup end-to-end: banded sign-LSH near-dup pairs (the
    * s_emb_neardup shape) → connected components → canonical keeper per
    * embedding (component-min vec_id; singletons keep themselves). The
    * oracle composes the pairs SQL with the unrolled CC recurrence,
    * exactly like d_dup_clusters does for MinHash. */
  val sEmbClusters: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val pairs = Similarity.embeddingNearDupPairs(emb, threshold = 0.3,
        numPlanes = 32, bands = 4, maxBucket = 4096)
      .select(col("a").as("src"), col("b").as("dst"))
    // the pair graph is tiny by construction (bucket-capped LSH
    // pairs), so the bounded driver union-find kernel (r13 — the q59
    // probe discipline, distributed fallback above the budget) replaces
    // rounds of fixpoint jobs; labels identical (class minimum). Eager
    // pin: the probe and the fallback both read the pairs.
    val cc = graft.enrich.Analytics
      .connectedComponents(pairs.pin(eager = true))
      .select(col("v").as("vec_id"), col("component").as("keeper"))
    emb.select(col("vec_id")).join(cc, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("keeper"), col("vec_id")).as("keeper"))
  }

  // lazy: sEmbNearDupSql is declared later in the file (strict-val init
  // order would interpolate "null" — the normSql lesson)
  lazy val sEmbClustersSql: String =
    s"""WITH pairs AS MATERIALIZED ($sEmbNearDupSql),
       |und AS MATERIALIZED (SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs),
       |verts AS (SELECT DISTINCT src AS v FROM und),
       |l0 AS MATERIALIZED (SELECT v, v AS c FROM verts),
       |${(1 to 21).map(ccIterSql).mkString(",\n")}
       |SELECT e.vec_id, coalesce(l.c, e.vec_id) AS keeper
       |FROM embeddings e LEFT JOIN l21 l ON e.vec_id = l.v""".stripMargin

  val q22Bfs: Q = (s, d) =>
    graft.enrich.Analytics.bfsDistances(
      GraphTables.hierarchy(s, d)
        .select(col("dst").as("src"), col("src").as("dst")),
      "region.0", iterations = q22Iterations)

  /** GraphX landmark-BFS variant — same hop counts, same oracle. */
  val q22BfsGx: Q = (s, d) =>
    graft.enrich.Analytics.bfsDistancesGraphX(s,
      GraphTables.hierarchy(s, d)
        .select(col("dst").as("src"), col("src").as("dst")),
      "region.0")

  private def bfsIterSql(i: Int): String =
    s"""l$i AS MATERIALIZED (SELECT v, min(d)::BIGINT AS d FROM (
       |  SELECT v, d FROM l${i - 1}
       |  UNION ALL SELECT e.dst AS v, p.d + 1 AS d FROM rev e JOIN l${i - 1} p ON e.src = p.v
       |) GROUP BY v)""".stripMargin

  val q22BfsSql: String =
    s"""WITH ${GraphSql.hierarchyCte},
       |rev AS MATERIALIZED (SELECT dst AS src, src AS dst FROM hier),
       |l0 AS MATERIALIZED (SELECT 'region.0' AS v, 0::BIGINT AS d),
       |${(1 to q22Iterations).map(bfsIterSql).mkString(",\n")}
       |SELECT v, d FROM l$q22Iterations""".stripMargin

  /** Salted skew join ≡ plain join (SkewOps.saltedJoin is a partitioning
    * rewrite, not a semantic one — the oracle replays the PLAIN join, so
    * a wrong salt/replication would hash-mismatch). */
  val q12SaltedJoin: Q = (s, d) => {
    val f = Tables.lineitem(s, d).select(
      col("l_partkey").as("partkey"),
      (col("l_orderkey") * 100 + col("l_linenumber")).as("rid"),
      col("l_quantity").cast("decimal(18,4)").as("qty"))
    val dim = Tables.part(s, d)
      .select(col("p_partkey").as("partkey"), col("p_name"))
    graft.ops.SkewOps.saltedJoin(f, dim, "partkey", "rid", buckets = 8)
      .groupBy(col("p_name"))
      .agg(sum(col("qty")).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))
  }

  val q12SaltedJoinSql: String =
    """SELECT p_name, CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty, count(*) AS n
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_name""".stripMargin

  /** As-of join, the scalable formulation: instead of a per-row range
    * join (quadratic per key), tag both event streams, sort ONCE per key,
    * and carry the last 'view' value forward with an ignore-nulls window
    * — each 'click' picks up the most recent prior-or-equal 'view' for
    * its user. One shuffle on user_id total; the classic union +
    * last_value(IGNORE NULLS) pattern. Tie-break (ts, event_id) is
    * replayed identically by the oracle (no native ASOF JOIN on the
    * DuckDB side either — same window, same ties). */
  val q13Asof: Q = (s, d) => {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .withColumn("last_view_value",
        last(when(col("event_type") === "view", col("value")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"),
        round(col("value"), 2).as("value"),
        round(col("last_view_value"), 2).as("last_view_value"))
  }

  val q13AsofSql: String =
    """SELECT event_id, user_id, round(value, 2) AS value,
      |  round(last_view_value, 2) AS last_view_value
      |FROM (
      |  SELECT event_id, user_id, event_type, value,
      |    last_value(CASE WHEN event_type = 'view' THEN value END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS last_view_value
      |  FROM events)
      |WHERE event_type = 'click'""".stripMargin

  /** KMV distinct-count sketch (Sketches.kmvDistinct) over customer
    * names. The BUILTIN HLL (`approx_count_distinct`) is not
    * oracle-replayable (engine-private hashes); KMV over the shared
    * rolling hash is — both engines keep the 64 smallest distinct
    * hashes and apply the identical estimator. q75_hll closes the gap
    * from the other side: a portable HLL whose registers the oracle
    * rebuilds. */
  val q14Kmv: Q = (s, d) =>
    graft.pipeline.Sketches.kmvDistinct(Tables.customer(s, d), col("c_name"), 64)

  val q14KmvSql: String = {
    val rollh = "list_reduce(list_prepend(0::BIGINT, list_transform(string_split(c_name, ''), c -> ascii(c)::BIGINT)), (a, c) -> (a * 31 + c) % 2147483647)"
    s"""WITH h AS (SELECT DISTINCT $rollh AS h FROM customer),
       |topk AS (SELECT h FROM h WHERE h > 0 ORDER BY h LIMIT 64)
       |SELECT CASE WHEN (SELECT count(*) FROM topk) < 64 THEN (SELECT count(*) FROM topk)::DOUBLE
       |       ELSE round(63.0 * 2147483647 / (SELECT max(h) FROM topk), 4) END AS est_distinct""".stripMargin
  }

  /** q75_hll — PORTABLE HyperLogLog over customer names
    * ([[graft.pipeline.Sketches.hllDistinct]]): the q14 KMV argument
    * applied to the other classic cardinality sketch — built from the
    * shared rolling hash so the oracle rebuilds every register (the
    * builtin `approx_count_distinct` can never cross this gate). Same
    * input column as q14 for estimator comparability. */
  val q75Hll: Q = (s, d) =>
    graft.pipeline.Sketches.hllDistinct(Tables.customer(s, d), col("c_name"))

  val q75HllSql: String = {
    val rollh = "list_reduce(list_prepend(0::BIGINT, list_transform(string_split(c_name, ''), c -> ascii(c)::BIGINT)), (a, c) -> (a * 31 + c) % 2147483647)"
    s"""WITH h AS (SELECT $rollh AS h0 FROM customer),
       |r AS (SELECT h0 % 16 AS bucket,
       |  ((h0 * 1103515245 + 12345) % 2147483647) AS w FROM h),
       |rho AS (SELECT bucket,
       |  max(CASE WHEN w = 0 THEN 32 ELSE 32 - length(bin(w)) END) AS rho_max
       |  FROM r GROUP BY 1),
       |regs AS (SELECT i AS bucket, coalesce(rho_max, 0) AS rho_max
       |  FROM range(0, 16) t(i) LEFT JOIN rho ON rho.bucket = i),
       |s AS (SELECT sum(1::BIGINT << (32 - rho_max)::INT) AS s_scaled,
       |  sum(CASE WHEN rho_max = 0 THEN 1 ELSE 0 END) AS zero_regs
       |  FROM regs)
       |SELECT 16::INT AS m, s_scaled::BIGINT AS s_scaled,
       |  zero_regs::INT AS zero_regs,
       |  round(CASE WHEN zero_regs > 0 AND
       |      (673 * 256 * 4294967296)::DOUBLE / (1000 * s_scaled) <= 40.0
       |    THEN 16.0 * ln(16.0 / zero_regs)
       |    ELSE (673 * 256 * 4294967296)::DOUBLE / (1000 * s_scaled) END, 4)
       |    AS est_hll
       |FROM s""".stripMargin
  }

  /** q76_hll_grouped — per-segment portable HLL
    * ([[graft.pipeline.Sketches.hllDistinctBy]]): one register set per
    * market segment; missing registers densified ALGEBRAICALLY
    * (S += (m−present)·2³²), never by a join. */
  val q76HllGrouped: Q = (s, d) =>
    graft.pipeline.Sketches.hllDistinctBy(Tables.customer(s, d),
        col("c_mktsegment"), col("c_name"))
      .withColumnRenamed("g", "segment")

  val q76HllGroupedSql: String = {
    val rollh = "list_reduce(list_prepend(0::BIGINT, list_transform(string_split(c_name, ''), c -> ascii(c)::BIGINT)), (a, c) -> (a * 31 + c) % 2147483647)"
    s"""WITH h AS (SELECT c_mktsegment AS g, $rollh AS h0 FROM customer),
       |r AS (SELECT g, h0 % 16 AS bucket,
       |  ((h0 * 1103515245 + 12345) % 2147483647) AS w FROM h),
       |rho AS (SELECT g, bucket,
       |  max(CASE WHEN w = 0 THEN 32 ELSE 32 - length(bin(w)) END) AS rho_max
       |  FROM r GROUP BY 1, 2),
       |s AS (SELECT g, sum(1::BIGINT << (32 - rho_max)::INT)
       |    + (16 - count(*)) * 4294967296 AS s_scaled,
       |    (16 - count(*))::INT AS zero_regs FROM rho GROUP BY g)
       |SELECT g AS segment, s_scaled::BIGINT AS s_scaled,
       |  round(CASE WHEN zero_regs > 0 AND
       |      (673 * 256 * 4294967296)::DOUBLE / (1000 * s_scaled) <= 40.0
       |    THEN 16.0 * ln(16.0 / zero_regs)
       |    ELSE (673 * 256 * 4294967296)::DOUBLE / (1000 * s_scaled) END, 4)
       |    AS est_hll
       |FROM s""".stripMargin
  }

  /** Grouped exact quantiles (median + p95 of quantity per returnflag):
    * Spark's `percentile` ≡ DuckDB's `quantile_cont` (linear
    * interpolation), rounded 4. The exact aggregate is the oracle-checked
    * path; at the 100 TB posture a deployment would switch to
    * `percentile_approx` (t-digest-style sketch, not oracle-replayable —
    * engine-specific internals, same reason q14 uses KMV over HLL). */
  val q15Quantile: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_quantity, 0.5)"), 4).as("p50"),
        round(expr("percentile(l_quantity, 0.95)"), 4).as("p95"),
        count(lit(1)).as("n"))

  val q15QuantileSql: String =
    """SELECT l_returnflag,
      |round(quantile_cont(l_quantity, 0.5), 4) AS p50,
      |round(quantile_cont(l_quantity, 0.95), 4) AS p95,
      |count(*) AS n
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** D5 — snapshot carry-forward (update_version.py:21-44): docs whose
    * source is NOT in the change list join the v2 snapshot. */
  val gD5Carry: Q = (s, d) => {
    val base = Tables.documents(s, d).select(col("doc_id"),
      col("source").as("file_path"), array(lit("v1")).as("task_ids"))
    GraphOps.carryForward(base, "v2", Seq("src0", "src1"))
      .select(col("doc_id"), array_join(col("task_ids"), ",").as("tasks"))
  }

  val gD5CarrySql: String =
    """SELECT doc_id, CASE WHEN source IN ('src0','src1') THEN 'v1' ELSE 'v1,v2' END AS tasks
      |FROM documents""".stripMargin

  /** B11 — result hydration: JSON pointer parse (graphDB.py:242 from_json
    * analog) over events.props. */
  val gB11Json: Q = (s, d) =>
    Tables.events(s, d).select(col("event_id"),
      get_json_object(col("props"), "$.k").as("k_val"))

  val gB11JsonSql: String =
    """SELECT event_id, json_extract_string(props, '$.k') AS k_val FROM events""".stripMargin

  /** B11 multi-pointer hydration, oracle-gated: every record embeds TWO
    * <CODE> pointers into two different synthesized files (one per
    * document; the second pointer targets the NEXT doc's file, so the
    * last record also exercises the missing-file→'' rule,
    * graphDB.py:216-217). processString must hydrate both in place and
    * fold each snippet longer than foldedLen per the reference's
    * multi-snippet rule (>1 pointer AND len>10 → strip()[:10] +
    * '...(code folded)', graphDB.py:249-252). The DuckDB oracle replays
    * the identical slice+fold+replace pipeline in SQL. */
  val gB11Multi: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val files = docs.select(concat(lit("f"), col("doc_id")).as("file_path"),
      regexp_replace(col("text"), " ", "\n").as("content"))
    val results = docs.select(col("doc_id"),
      concat(lit("A:<CODE>{\"S\":1,\"E\":2,\"F\":\"f"), col("doc_id"),
        lit("\"}</CODE> B:<CODE>{\"S\":2,\"E\":9999,\"F\":\"f"),
        col("doc_id") + 1, lit("\"}</CODE>")).as("ptr_str"))
    graft.hydrate.Hydrate.processString(results, files, "ptr_str",
        outCol = "code", foldedLen = 10)
      .select(col("doc_id"), col("code"))
  }

  val gB11MultiSql: String = {
    val ws = "' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)"
    def foldSql(sn: String) =
      s"CASE WHEN length($sn) > 10 THEN substring(trim($sn, $ws), 1, 10) || '...(code folded)' ELSE $sn END"
    """WITH files AS (SELECT 'f' || doc_id AS fp, replace(text, ' ', chr(10)) AS content FROM documents),
      |base AS (SELECT doc_id,
      |  'A:<CODE>{"S":1,"E":2,"F":"f' || doc_id || '"}</CODE> B:<CODE>{"S":2,"E":9999,"F":"f' || (doc_id+1) || '"}</CODE>' AS ptr_str
      |  FROM documents),
      |sn AS (SELECT b.doc_id, b.ptr_str,
      |  coalesce((SELECT array_to_string(list_slice(string_split(f.content, chr(10)), 1, 2), chr(10)) FROM files f WHERE f.fp = 'f' || b.doc_id), '') AS s1,
      |  coalesce((SELECT array_to_string(list_slice(string_split(f.content, chr(10)), 2, 9999), chr(10)) FROM files f WHERE f.fp = 'f' || (b.doc_id+1)), '') AS s2
      |  FROM base b)
      |SELECT doc_id,
      |  replace(replace(ptr_str,
      |    '<CODE>{"S":1,"E":2,"F":"f' || doc_id || '"}</CODE>', FOLD1),
      |    '<CODE>{"S":2,"E":9999,"F":"f' || (doc_id+1) || '"}</CODE>', FOLD2) AS code
      |FROM sn""".stripMargin
      .replace("FOLD1", foldSql("s1"))
      .replace("FOLD2", foldSql("s2"))
  }

  /** C14 — code-slice extraction (myClient.py:46-82): line-slice [2,4] of a
    * synthesized multi-line body, plus folding (graphDB.py:249-252). */
  val gC14Slice: Q = (s, d) => {
    val lines = split(regexp_replace(col("text"), " ", "\n"), "\n")
    val snippet = array_join(slice(lines, 2, 3), "\n")
    Tables.documents(s, d).select(col("doc_id"),
      snippet.as("snippet"),
      graft.hydrate.Hydrate.fold(snippet, 10).as("folded"))
  }

  val gC14SliceSql: String =
    """SELECT doc_id,
      |  array_to_string(list_slice(string_split(replace(text, ' ', chr(10)), chr(10)), 2, 4), chr(10)) AS snippet,
      |  CASE WHEN length(array_to_string(list_slice(string_split(replace(text, ' ', chr(10)), chr(10)), 2, 4), chr(10))) > 10
      |       THEN substring(array_to_string(list_slice(string_split(replace(text, ' ', chr(10)), chr(10)), 2, 4), chr(10)), 1, 10) || '...'
      |       ELSE array_to_string(list_slice(string_split(replace(text, ' ', chr(10)), chr(10)), 2, 4), chr(10)) END AS folded
      |FROM documents""".stripMargin

  // ---------------------------------------------------------------- relational
  private def dec(c: String) = col(c).cast("decimal(18,4)")

  /** Grouped aggregation (TPC-H Q1 shape) — exact decimal sums → double. */
  val q1Agg: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec("l_quantity")).cast("double").as("sum_qty"),
        sum(dec("l_extendedprice")).cast("double").as("sum_price"),
        sum(dec("l_extendedprice") * (lit(1).cast("decimal(18,4)") - dec("l_discount"))).cast("double").as("sum_disc_price"),
        count(lit(1)).as("n"))

  val q1AggSql: String =
    """SELECT l_returnflag, l_linestatus,
      |CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
      |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS sum_disc_price,
      |count(*) AS n
      |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** Multi-way broadcast join + aggregation: order volume per nation/region. */
  val q2JoinAgg: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    val r = Tables.region(s, d)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("n_name"), col("r_name"))
      .agg(sum(dec("o_totalprice")).cast("double").as("volume"),
        count(lit(1)).as("n_orders"))
  }

  val q2JoinAggSql: String =
    """SELECT n_name, r_name,
      |CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS volume, count(*) AS n_orders
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY n_name, r_name""".stripMargin

  /** Window function: per-customer order sequence number. */
  val q3Window: Q = (s, d) =>
    Tables.orders(s, d).select(col("o_custkey"), col("o_orderkey"),
      row_number().over(Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))).as("rn"))

  val q3WindowSql: String =
    """SELECT o_custkey, o_orderkey,
      |CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS INT) AS rn
      |FROM orders""".stripMargin

  /** Top-k with deterministic tie-break. */
  val q4TopK: Q = (s, d) =>
    Tables.orders(s, d)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)
      .select(col("o_orderkey"), col("o_totalprice"))

  val q4TopKSql: String =
    """SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin

  /** Set ops: BUILDING customers ∩ customers-with-F-orders ∖ customers-with-P-orders. */
  val q5SetOps: Q = (s, d) => {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    val building = c.filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("custkey"))
    val withF = o.filter(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("custkey")).distinct()
    val withP = o.filter(col("o_orderstatus") === "P")
      .select(col("o_custkey").as("custkey")).distinct()
    building.intersect(withF).except(withP)
  }

  val q5SetOpsSql: String =
    """SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |INTERSECT SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |EXCEPT SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'""".stripMargin

  /** Anti join: customers with no orders. */
  val q6Anti: Q = (s, d) => {
    val c = Tables.customer(s, d)
    // selective anti side (every customer has SOME order, so the plain
    // anti-join is vacuously empty — a weak oracle check)
    val o = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 150000)
      .select(col("o_custkey"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
  }

  val q6AntiSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |  AND o_orderpriority = '1-URGENT' AND o_totalprice > 150000)""".stripMargin

  /** Semi join: customers with at least one urgent order. */
  val q7Semi: Q = (s, d) => {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"))
  }

  val q7SemiSql: String =
    """SELECT c_custkey FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')""".stripMargin

  /** Tumbling-window aggregation over the event stream (batch view of the
    * Structured Streaming windowed agg; exact decimal sums). */
  val q8EventWindow: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))

  val q8EventWindowSql: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
      |count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Rollup (grouping sets): customer stats by segment with grand total. */
  val q9Rollup: Q = (s, d) =>
    Tables.customer(s, d)
      .rollup(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(dec("c_acctbal")).cast("double").as("sum_bal"))

  val q9RollupSql: String =
    """SELECT c_mktsegment, count(*) AS n,
      |CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
      |FROM customer GROUP BY ROLLUP (c_mktsegment)""".stripMargin

  /** CUBE over two dimensions — the grouping-sets family beyond q9's
    * ROLLUP (every subtotal combination in ONE pass: Spark expands the
    * grouping sets map-side, so it's still a single shuffle). */
  val q18Cube: Q = (s, d) =>
    Tables.lineitem(s, d)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(dec("l_quantity")).cast("double").as("sum_qty"))

  val q18CubeSql: String =
    """SELECT l_returnflag, l_linestatus, count(*)::BIGINT AS n,
      |CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin

  /** Explicit GROUPING SETS — the combination cube/rollup can't express:
    * per-flag and per-status subtotals in ONE scan (no grand total, no
    * pair-level rows). grouping() flags disambiguate a NULL that means
    * "aggregated away" from a NULL data value, per-column rather than as
    * a packed grouping_id so the oracle needs no bit-order assumption. */
  val q28Gsets: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping(col("l_returnflag")).cast("long").as("g_flag"),
        grouping(col("l_linestatus")).cast("long").as("g_status"),
        count(lit(1)).cast("long").as("n"),
        sum(dec("l_quantity")).cast("double").as("sum_qty"))

  val q28GsetsSql: String =
    """SELECT l_returnflag, l_linestatus,
      |GROUPING(l_returnflag)::BIGINT AS g_flag,
      |GROUPING(l_linestatus)::BIGINT AS g_status,
      |count(*)::BIGINT AS n,
      |CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""".stripMargin

  /** Correlated-subquery semantics, decorrelated: orders whose price
    * exceeds 1.5x their customer's average order price. The oracle keeps
    * the textbook correlated form; the Spark side is the shape a planner
    * decorrelates it into — one partial-agg groupBy + one equi-join,
    * which is also the 100-TB shape (no per-row subquery execution). The
    * 1.5x-average comparison is cross-multiplied (price*2n > 3*sum) so
    * everything stays in EXACT decimal arithmetic — no division, no
    * float drift at the threshold boundary. */
  val q29Corr: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val stats = o.groupBy("o_custkey")
      .agg(sum(dec("o_totalprice")).as("s"), count(lit(1)).as("n"))
    o.join(stats, "o_custkey")
      .filter(dec("o_totalprice") * col("n") * 2 > col("s") * 3)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
  }

  val q29CorrSql: String =
    """SELECT o.o_orderkey, o.o_custkey, o.o_totalprice FROM orders o
      |WHERE CAST(o.o_totalprice AS DECIMAL(18,4)) * 2 *
      |    (SELECT count(*) FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
      |  > 3 * (SELECT sum(CAST(o2.o_totalprice AS DECIMAL(18,4)))
      |         FROM orders o2 WHERE o2.o_custkey = o.o_custkey)""".stripMargin

  /** Column-statistics profiling (the ANALYZE-style pass a lakehouse
    * runs for optimizer stats and data-quality monitors): per string
    * column of `documents` — row/null/exact-distinct counts and
    * min/max/total lengths, ONE scan via a wide aggregate unpivoted
    * with stack(). At 100 TB the exact count_distinct columns switch to
    * the KMV sketch (q14_kmv) — exact here so the oracle replays it. */
  val tColstats: Q = (s, d) =>
    Tables.documents(s, d).agg(
      count(lit(1)).as("n"),
      sum(when(col("text").isNull, 1L).otherwise(0L)).as("t_nul"),
      count_distinct(col("text")).as("t_ndv"),
      min(length(col("text"))).cast("long").as("t_min"),
      max(length(col("text"))).cast("long").as("t_max"),
      sum(length(col("text")).cast("long")).as("t_tot"),
      sum(when(col("lang").isNull, 1L).otherwise(0L)).as("l_nul"),
      count_distinct(col("lang")).as("l_ndv"),
      min(length(col("lang"))).cast("long").as("l_min"),
      max(length(col("lang"))).cast("long").as("l_max"),
      sum(length(col("lang")).cast("long")).as("l_tot"),
      sum(when(col("source").isNull, 1L).otherwise(0L)).as("s_nul"),
      count_distinct(col("source")).as("s_ndv"),
      min(length(col("source"))).cast("long").as("s_min"),
      max(length(col("source"))).cast("long").as("s_max"),
      sum(length(col("source")).cast("long")).as("s_tot"))
    .selectExpr("""stack(3,
      'text',   n, t_nul, t_ndv, t_min, t_max, t_tot,
      'lang',   n, l_nul, l_ndv, l_min, l_max, l_tot,
      'source', n, s_nul, s_ndv, s_min, s_max, s_tot)
      AS (column_name, n_rows, n_null, n_distinct, min_len, max_len, total_len)""")

  val tColstatsSql: String =
    Seq("text", "lang", "source").map(c =>
      s"""SELECT '$c' AS column_name, count(*)::BIGINT AS n_rows,
         |sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
         |count(DISTINCT $c)::BIGINT AS n_distinct,
         |min(length($c))::BIGINT AS min_len, max(length($c))::BIGINT AS max_len,
         |sum(length($c))::BIGINT AS total_len FROM documents""".stripMargin)
      .mkString("\nUNION ALL\n")

  /** FULL OUTER join with aggregation: one side filtered to a segment so
    * BOTH null-extensions are exercised (order-less customers keep null
    * counts; orders of out-of-segment customers keep null names). */
  val q19FullOuter: Q = (s, d) => {
    val c = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"), col("c_name"))
    val o = Tables.orders(s, d).groupBy(col("o_custkey"))
      .agg(count(lit(1)).cast("long").as("n_orders"),
        sum(dec("o_totalprice")).cast("double").as("sum_price"))
    c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
        col("c_name"), col("n_orders"), col("sum_price"))
  }

  val q19FullOuterSql: String =
    """WITH c AS (SELECT c_custkey, c_name FROM customer WHERE c_mktsegment = 'BUILDING'),
      |o AS (SELECT o_custkey, count(*)::BIGINT AS n_orders,
      |      CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      |      FROM orders GROUP BY o_custkey)
      |SELECT coalesce(c_custkey, o_custkey) AS custkey, c_name, n_orders, sum_price
      |FROM c FULL OUTER JOIN o ON c_custkey = o_custkey""".stripMargin

  /** Ordered list aggregation: per-region sorted nation roster — the
    * collect/ordered-agg family (array_sort fixes the nondeterministic
    * collect_list order, making the result engine-portable). */
  val q23StrAgg: Q = (s, d) =>
    Tables.nation(s, d)
      .groupBy(col("n_regionkey"))
      .agg(array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"),
        count(lit(1)).cast("long").as("n"))

  val q23StrAggSql: String =
    """SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS nations,
      |count(*)::BIGINT AS n FROM nation GROUP BY n_regionkey""".stripMargin

  /** PIVOT with explicit values (no extra distinct-scan job): priority
    * counts per order status, one wide row per status. */
  val q20Pivot: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .pivot("o_orderpriority", Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW"))
      .agg(count(lit(1)))
      .select(col("o_orderstatus"),
        coalesce(col("`1-URGENT`"), lit(0)).cast("long").as("n_urgent"),
        coalesce(col("`2-HIGH`"), lit(0)).cast("long").as("n_high"),
        coalesce(col("`3-MEDIUM`"), lit(0)).cast("long").as("n_medium"),
        coalesce(col("`4-NOT SPECIFIED`"), lit(0)).cast("long").as("n_notspec"),
        coalesce(col("`5-LOW`"), lit(0)).cast("long").as("n_low"))

  val q20PivotSql: String =
    """SELECT o_orderstatus,
      |  (count(*) FILTER (WHERE o_orderpriority = '1-URGENT'))::BIGINT AS n_urgent,
      |  (count(*) FILTER (WHERE o_orderpriority = '2-HIGH'))::BIGINT AS n_high,
      |  (count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM'))::BIGINT AS n_medium,
      |  (count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED'))::BIGINT AS n_notspec,
      |  (count(*) FILTER (WHERE o_orderpriority = '5-LOW'))::BIGINT AS n_low
      |FROM orders GROUP BY o_orderstatus""".stripMargin

  /** RANGE-frame window (event-time frame, not row counts): per-customer
    * rolling 30-day order spend. The frame key is epoch DAYS so both
    * engines share integer range arithmetic; range frames include every
    * same-day tie independent of physical order, so the result is
    * deterministic without a tie-break column. */
  val q21RangeWindow: Q = (s, d) => {
    val days = datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
    val w = Window.partitionBy(col("o_custkey")).orderBy(days)
      .rangeBetween(-30, Window.currentRow)
    Tables.orders(s, d).select(col("o_custkey"), col("o_orderkey"),
      sum(dec("o_totalprice")).over(w).cast("double").as("spend_30d"))
  }

  val q21RangeWindowSql: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
      |    PARTITION BY o_custkey
      |    ORDER BY date_diff('day', TIMESTAMP '1970-01-01', o_orderdate)
      |    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE) AS spend_30d
      |FROM orders""".stripMargin

  /** Corpus vocabulary: top-50 tokens by total frequency (term ties
    * broken lexically) with doc frequencies — the vocab-seed / stopword
    * audit primitive. Selection is a distributed TakeOrdered (orderBy +
    * limit), never a one-reducer global window. */
  val tVocab: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term")
      .agg(count(lit(1)).cast("long").as("n"),
        count_distinct(col("doc_id")).cast("long").as("n_docs"))
      .orderBy(col("n").desc, col("term"))
      .limit(50)

  val tVocabSql: String =
    s"""SELECT t.term, count(*)::BIGINT AS n, count(DISTINCT t.doc_id)::BIGINT AS n_docs
       |FROM (SELECT doc_id, unnest(string_split($normSql, ' ')) AS term FROM documents) t
       |WHERE t.term <> '' GROUP BY t.term ORDER BY n DESC, t.term LIMIT 50""".stripMargin

  /** t_lexdiv — per-language lexical CONCENTRATION (Herfindahl index over
    * token frequencies): hhi = Σ (count_t / total)² — the diversity
    * screen that flags spammy/repetitive strata (high hhi = few tokens
    * dominate). Integer counts with one IEEE-exact double division at
    * the end — no summation-order hazard anywhere; two partial-agg
    * groupBys, no window. */
  val tLexDiv: Q = (s, d) => {
    val cnt = Tables.documents(s, d)
      .select(col("lang"), explode(TextFunctions.tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("lang"), col("term"))
      .agg(count(lit(1)).as("c"))
    cnt.groupBy(col("lang"))
      .agg(count(lit(1)).cast("long").as("vocab"),
        sum(col("c")).cast("long").as("total"),
        round(sum(col("c") * col("c")).cast("double")
          / (sum(col("c")).cast("double") * sum(col("c")).cast("double")), 6)
          .as("hhi"))
  }

  val tLexDivSql: String =
    s"""WITH cnt AS (SELECT t.lang, t.term, count(*) AS c
       |  FROM (SELECT lang, unnest(string_split($normSql, ' ')) AS term FROM documents) t
       |  WHERE t.term <> '' GROUP BY 1, 2)
       |SELECT lang, count(*)::BIGINT AS vocab, sum(c)::BIGINT AS total,
       |  round(sum(c*c)::DOUBLE / (sum(c)::DOUBLE * sum(c)::DOUBLE), 6) AS hhi
       |FROM cnt GROUP BY lang""".stripMargin

  /** t_pmi — top collocations by pointwise mutual information
    * ([[graft.pipeline.Corpus.pmiPairs]]): document-level co-occurrence
    * over the df ≥ 10% vocabulary, support ≥ 1% of docs, ln of an
    * exactly-computed rational rounded to 4 before the TakeOrdered. */
  val tPmi: Q = (s, d) => graft.pipeline.Corpus.pmiPairs(Tables.documents(s, d))

  val tPmiSql: String =
    s"""WITH tw AS (SELECT DISTINCT doc_id, t.term FROM
       |    (SELECT doc_id, unnest(string_split($normSql, ' ')) AS term
       |     FROM documents) t WHERE t.term <> ''),
       |n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
       |f AS (SELECT term, count(*)::BIGINT AS df FROM tw GROUP BY term
       |      HAVING count(*) * 100 >= (SELECT n_docs FROM n) * 10),
       |p AS (SELECT a.term AS t1, b.term AS t2, fa.df AS df1, fb.df AS df2,
       |        count(*)::BIGINT AS n_ab
       |      FROM tw a JOIN tw b ON a.doc_id = b.doc_id AND a.term < b.term
       |      JOIN f fa ON fa.term = a.term JOIN f fb ON fb.term = b.term
       |      GROUP BY 1, 2, 3, 4)
       |SELECT t1, t2, n_ab,
       |  round(ln((n_ab * n_docs)::DOUBLE / (df1 * df2)::DOUBLE), 4) AS pmi
       |FROM p, n WHERE n_ab * 100 >= n_docs * 1
       |ORDER BY pmi DESC, t1, t2 LIMIT 20""".stripMargin

  /** t_f2 — AMS tug-of-war SECOND-MOMENT sketch over the token stream
    * ([[graft.pipeline.Sketches.amsF2]], Alon-Matias-Szegedy 1996):
    * F₂ = Σ count(term)² — the token self-join size, the corpus
    * repetitiveness number a dedup planner reads in ONE narrow pass
    * with 9 integer counters instead of a corpus-wide groupBy. Signs
    * are the low bit of the CMS-style remix of the shared rolling
    * hash, so the oracle replays every counter exactly; row 0 carries
    * the median-of-z² estimate. */
  val tF2: Q = (s, d) =>
    graft.pipeline.Sketches.amsF2(
      Tables.documents(s, d)
        .select(explode(TextFunctions.tokens(col("text"))).as("term"))
        .filter(col("term") =!= ""),
      col("term"))

  val tF2Sql: String = {
    val rollh = "list_reduce(list_prepend(0::BIGINT, " +
      "list_transform(string_split(term, ''), c -> ascii(c)::BIGINT)), " +
      "(a, c) -> (a * 31 + c) % 2147483647)"
    val seeds = graft.pipeline.Sketches.AmsSeeds
      .map { case (j, a, b) => s"($j, ${a}::BIGINT, ${b}::BIGINT)" }
      .mkString(", ")
    s"""WITH toks AS (SELECT unnest(string_split($normSql, ' ')) AS term
       |  FROM documents),
       |t AS (SELECT $rollh AS rh FROM toks WHERE term <> ''),
       |z AS (SELECT j, sum(CASE WHEN ((rh * a + b) % 2147483647) % 2 = 0
       |    THEN 1 ELSE -1 END)::BIGINT AS z
       |  FROM t, (VALUES $seeds) AS s(j, a, b) GROUP BY j),
       |r AS (SELECT j::INT AS sketch_id, z, (z * z)::BIGINT AS z2 FROM z)
       |SELECT * FROM r
       |UNION ALL
       |SELECT 0::INT, m, m FROM
       |  (SELECT (list_sort(list(z2)))[5]::BIGINT AS m FROM r)""".stripMargin
  }

  /** st_f2 — the AMS F₂ counter bank MAINTAINED ON THE STREAM
    * ([[graft.streaming.Streams.amsF2Ingest]]): 9 longs of driver
    * state per batch, merged by addition — batch-split invariant by
    * integer commutativity, so the final readout IS the batch sketch
    * and the gate shares t_f2's oracle verbatim. */
  val stF2: Q = (s, d) => {
    import s.implicits._
    import graft.streaming.Streams
    val terms = Tables.documents(s, d)
      .select(explode(TextFunctions.tokens(col("text"))).as("term"))
      .filter(col("term") =!= "").as[String].collect().toSeq
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[String]
    val (q, bank) = Streams.amsF2Ingest(mem.toDF().toDF("term"))
    try {
      terms.grouped(terms.length / 4 + 1).foreach { chunk =>
        mem.addData(chunk: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    graft.pipeline.Sketches.amsF2Readout(bank())
      .toDF("sketch_id", "z", "z2")
  }

  /** p_kanon — k-anonymity over release metadata
    * ([[graft.pipeline.Corpus.kAnonymity]], Sweeney 2002): equivalence
    * classes of (lang, source, size octave) with the k ≥ 5 flag — the
    * pre-release governance gate; one bounded-key partial-agg groupBy,
    * exact integer decisions. */
  val pKanon: Q = (s, d) =>
    Corpus.kAnonymity(Tables.documents(s, d), k = 5)

  val pKanonSql: String =
    """SELECT lang, source,
      |  length(bin(greatest(n_chars, 1)))::INT AS len_oct,
      |  count(*)::BIGINT AS n,
      |  (CASE WHEN count(*) >= 5 THEN 1 ELSE 0 END)::INT AS k_anon
      |FROM documents GROUP BY 1, 2, 3""".stripMargin

  /** p_ldiv — ℓ-diversity over release metadata
    * ([[graft.pipeline.Corpus.lDiversity]], Machanavajjhala 2007): the
    * k-anonymity companion — each (lang, size-octave) equivalence
    * class must carry ≥ 3 distinct `source` values or the class is
    * homogeneity-attackable; one bounded-key partial-agg groupBy,
    * exact integer decisions. */
  val pLdiv: Q = (s, d) =>
    Corpus.lDiversity(Tables.documents(s, d), l = 3)

  val pLdivSql: String =
    """SELECT lang,
      |  length(bin(greatest(n_chars, 1)))::INT AS len_oct,
      |  count(*)::BIGINT AS n,
      |  count(DISTINCT source)::BIGINT AS n_sens,
      |  (CASE WHEN count(DISTINCT source) >= 3 THEN 1 ELSE 0 END)::INT
      |    AS l_div
      |FROM documents GROUP BY 1, 2""".stripMargin

  /** st_kanon / st_ldiv — the CONTINUOUS governance twins
    * ([[graft.streaming.Streams.streamingKAnonymity]] /
    * [[graft.streaming.Streams.streamingLDiversity]]): bounded-key
    * flatMapGroupsWithState counters (one long / one small source-set
    * per class); additive + set-union state is batch-boundary-
    * independent, so after replaying the documents table the LAST
    * emission per class hash-matches the batch screens — both gates
    * share the batch oracles verbatim. */
  val stKanon: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select(col("lang"), col("source"), col("n_chars"))
      .as[(String, String, Long)].collect()
      .sortBy(t => (t._1, t._2, t._3)).toSeq
    StreamReplay.replay(s, docs, "st_kanon", "update") { df =>
      graft.streaming.Streams.streamingKAnonymity(
        df.toDF("lang", "source", "n_chars")).toDF()
    }
      .groupBy("lang", "source", "len_oct")
      .agg(max(col("n")).as("n"),
        max_by(col("k_anon"), col("n")).as("k_anon"))
  }

  val stLdiv: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select(col("lang"), col("source"), col("n_chars"))
      .as[(String, String, Long)].collect()
      .sortBy(t => (t._1, t._2, t._3)).toSeq
    StreamReplay.replay(s, docs, "st_ldiv", "update") { df =>
      graft.streaming.Streams.streamingLDiversity(
        df.toDF("lang", "source", "n_chars")).toDF()
    }
      .groupBy("lang", "len_oct")
      .agg(max(col("n")).as("n"),
        max_by(col("n_sens"), col("n")).as("n_sens"),
        max_by(col("l_div"), col("n")).as("l_div"))
  }

  /** st_tclose — the STREAMING governance twin of [[pTclose]] (r16):
    * the class × source grid folds incrementally in a streaming
    * groupBy (update mode; latest update per key = max, counts are
    * monotone), and the stateless TVD finish replays the batch algebra
    * over the final snapshot — same oracle as p_tclose. */
  val stTclose: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select(col("lang"), col("source"), col("n_chars"))
      .as[(String, String, Long)].collect()
      .sortBy(t => (t._1, t._2, t._3)).toSeq
    val grid = StreamReplay.replay(s, docs, "st_tclose", "update") { df =>
      graft.streaming.Streams.streamingTClosenessGrid(
        df.toDF("lang", "source", "n_chars"))
    }
      .groupBy("lang", "len_oct", "source")
      .agg(max(col("c")).as("c"))
    Corpus.tClosenessFromGrid(grid, tPpm = 200000L)
  }

  /** p_tclose — t-closeness over release metadata
    * ([[graft.pipeline.Corpus.tCloseness]], Li 2007 — the governance
    * trio's third screen): per (lang, size-octave) class, the exact
    * integer total-variation distance between the class's `source`
    * distribution and the corpus-wide one, in ppm; release iff
    * ≤ 200000 (t = 0.2). The oracle replays the class × domain grid
    * and the HUGEINT deviation sum verbatim. */
  val pTclose: Q = (s, d) =>
    Corpus.tCloseness(Tables.documents(s, d), tPpm = 200000L)

  val pTcloseSql: String =
    """WITH base AS (SELECT lang, source,
      |    length(bin(greatest(n_chars, 1)))::INT AS len_oct
      |  FROM documents WHERE source IS NOT NULL),
      |cls AS (SELECT lang, len_oct, source, count(*)::BIGINT AS c
      |  FROM base GROUP BY 1, 2, 3),
      |gsrc AS (SELECT source, count(*)::BIGINT AS g FROM base GROUP BY 1),
      |tot AS (SELECT sum(g)::BIGINT AS gtot FROM gsrc),
      |cn AS (SELECT lang, len_oct, sum(c)::BIGINT AS n
      |  FROM cls GROUP BY 1, 2),
      |grid AS (SELECT cn.lang, cn.len_oct, cn.n,
      |    abs(coalesce(cls.c, 0)::HUGEINT * tot.gtot
      |        - gsrc.g::HUGEINT * cn.n) AS dev,
      |    cn.n::HUGEINT * tot.gtot AS nN
      |  FROM cn CROSS JOIN gsrc
      |  LEFT JOIN cls ON cls.lang = cn.lang AND cls.len_oct = cn.len_oct
      |    AND cls.source = gsrc.source
      |  CROSS JOIN tot)
      |SELECT lang, len_oct, max(n)::BIGINT AS n,
      |  ((sum(dev) * 500000) // max(nN))::BIGINT AS tvd_ppm,
      |  (CASE WHEN ((sum(dev) * 500000) // max(nN)) <= 200000
      |    THEN 1 ELSE 0 END)::INT AS t_close
      |FROM grid GROUP BY 1, 2""".stripMargin

  /** t_ppl — per-document bigram-LM negative log-likelihood
    * ([[graft.pipeline.Corpus.bigramNll]]): add-one-smoothed corpus
    * bigram model scoring each doc's token stream, per-bigram −ln P
    * rounded to 8 and folded in position order. */
  val tPpl: Q = (s, d) => graft.pipeline.Corpus.bigramNll(Tables.documents(s, d))

  val tPplSql: String =
    s"""WITH toks AS (SELECT doc_id, t.term AS w,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY ord) - 1 AS pos
       |  FROM (SELECT doc_id, unnest(string_split($normSql, ' ')) AS term,
       |        generate_subscripts(string_split($normSql, ' '), 1) AS ord
       |        FROM documents) t WHERE t.term <> ''),
       |pairs AS (SELECT a.doc_id, a.pos, a.w AS w1, b.w AS w2
       |  FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1),
       |big AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM pairs GROUP BY 1, 2),
       |uni AS (SELECT w1, count(*)::BIGINT AS c1 FROM pairs GROUP BY 1),
       |v AS (SELECT count(DISTINCT w)::BIGINT AS v FROM toks),
       |scored AS (SELECT p.doc_id, p.pos,
       |    round(-ln((coalesce(g.c12, 0) + 1)::DOUBLE /
       |      (u.c1 + (SELECT v FROM v))::DOUBLE), 8) AS nl
       |  FROM pairs p LEFT JOIN big g ON g.w1 = p.w1 AND g.w2 = p.w2
       |  JOIN uni u ON u.w1 = p.w1),
       |folded AS (SELECT doc_id, list(nl ORDER BY pos) AS ns FROM scored
       |  GROUP BY doc_id)
       |SELECT doc_id, len(ns)::BIGINT AS n_bigrams,
       |  round(list_reduce(list_prepend(0.0::DOUBLE, ns), (a, x) -> a + x)
       |    / len(ns), 4) AS nll
       |FROM folded""".stripMargin

  /** t_zipf — Zipf rank-frequency slope
    * ([[graft.pipeline.Corpus.zipfSlope]]): least-squares slope of
    * (ln r, ln f) over the top-30 terms; every ln rounds to 6 before
    * the rank-ordered sequential folds, so both engines sum identical
    * bits in identical order. */
  val tZipf: Q = (s, d) => graft.pipeline.Corpus.zipfSlope(Tables.documents(s, d))

  val tZipfSql: String =
    s"""WITH tf AS (SELECT t.term, count(*)::BIGINT AS n
       |  FROM (SELECT unnest(string_split($normSql, ' ')) AS term FROM documents) t
       |  WHERE t.term <> '' GROUP BY t.term),
       |ranked AS (SELECT r, round(ln(r), 6) AS x, round(ln(n), 6) AS y FROM (
       |  SELECT n, row_number() OVER (ORDER BY n DESC, term) AS r FROM tf)
       |  WHERE r <= 30),
       |pts AS (SELECT list(struct_pack(r := r, x := x, y := y) ORDER BY r) AS p
       |  FROM ranked)
       |SELECT len(p)::BIGINT AS n_terms,
       |  round(
       |    (len(p) * list_reduce(list_prepend(0.0, list_transform(p, e -> e.x * e.y)), (a, v) -> a + v)
       |      - list_reduce(list_prepend(0.0, list_transform(p, e -> e.x)), (a, v) -> a + v)
       |        * list_reduce(list_prepend(0.0, list_transform(p, e -> e.y)), (a, v) -> a + v))
       |    / (len(p) * list_reduce(list_prepend(0.0, list_transform(p, e -> e.x * e.x)), (a, v) -> a + v)
       |      - list_reduce(list_prepend(0.0, list_transform(p, e -> e.x)), (a, v) -> a + v)
       |        * list_reduce(list_prepend(0.0, list_transform(p, e -> e.x)), (a, v) -> a + v)), 4) AS slope
       |FROM pts""".stripMargin

  /** t_kl — per-source KL divergence from the corpus unigram
    * distribution ([[graft.pipeline.Corpus.sourceKl]]): add-one
    * smoothing over the shared vocab, per-term contributions rounded to
    * 8 before a term-ordered fold. */
  val tKl: Q = (s, d) => graft.pipeline.Corpus.sourceKl(Tables.documents(s, d))

  /** t_special — special-token contamination screen
    * ([[graft.pipeline.Corpus.specialTokenScreen]]): LLM control tokens
    * leaked into scraped text poison tokenization; the corpus is
    * augmented IN-PLAN (the t_gopher pattern) so planted ChatML /
    * SentencePiece / Llama markers decide rows both ways. Literal
    * substring counts, all-integer verdict, pure narrow map. */
  val tSpecial: Q = (s, d) => {
    val aug = Tables.documents(s, d).withColumn("text",
      concat(col("text"),
        when(col("doc_id") % 13 === 0, lit(" <|endoftext|>"))
          .when(col("doc_id") % 13 === 4,
            lit(" <|im_start|>user hello<|im_end|>"))
          .when(col("doc_id") % 13 === 7, lit(" [INST] hi [/INST] <s>"))
          .otherwise(lit(""))))
    Corpus.specialTokenScreen(aug)
  }

  val tSpecialSql: String = {
    def countsOf(toks: Seq[String]) = toks.map { t =>
      val esc = t.replace("'", "''")
      s"(length(t2) - length(replace(t2, '$esc', ''))) // ${t.length}"
    }.mkString(" + ")
    // r14: HTML-ambiguous <s>/</s> only count when an unambiguous
    // family co-occurs (Corpus.htmlAmbiguousTokens)
    val sure = countsOf(graft.pipeline.Corpus.specialTokens
      .filterNot(graft.pipeline.Corpus.htmlAmbiguousTokens))
    val ambig = countsOf(
      graft.pipeline.Corpus.htmlAmbiguousTokens.toSeq.sorted)
    s"""WITH aug AS (SELECT doc_id, text ||
       |    (CASE WHEN doc_id % 13 = 0 THEN ' <|endoftext|>'
       |      WHEN doc_id % 13 = 4 THEN ' <|im_start|>user hello<|im_end|>'
       |      WHEN doc_id % 13 = 7 THEN ' [INST] hi [/INST] <s>'
       |      ELSE '' END) AS t2
       |  FROM documents),
       |c AS (SELECT doc_id, ($sure)::BIGINT AS ns, ($ambig)::BIGINT AS na
       |  FROM aug)
       |SELECT doc_id,
       |  (ns + CASE WHEN ns > 0 THEN na ELSE 0 END)::BIGINT AS n_special,
       |  (CASE WHEN ns > 0 THEN 1 ELSE 0 END)::INT AS contaminated
       |FROM c""".stripMargin
  }

  /** t_html — HTML STRIPPING ([[graft.pipeline.Corpus.htmlStrip]]): the
    * first step of a web-scrape pipeline — script/style/comment blocks
    * drop with contents, tags become spaces, common entities decode
    * (&amp; last so double-escapes single-decode), whitespace
    * collapses; emits the cleaned text + tag/entity counts and the
    * kept-character ppm. The corpus is augmented IN-PLAN (the t_special
    * pattern) so markup-wrapped and markup-free rows decide both ways.
    * Pure narrow map, zero Exchange (plan-gated). */
  private def htmlAugmented(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).withColumn("text",
      when(col("doc_id") % 7 === 0, concat(
        lit("<html><head><title>t</title><style type=\"text/css\">p " +
          "{color: red}</style></head><body><!-- note --><p class=\"a\">"),
        col("text"),
        lit("</p><script>var x = 1 < 2 && true;</script>&amp;lt; " +
          "&nbsp;fin</body></html>")))
        .when(col("doc_id") % 7 === 3,
          concat(lit("plain &quot;quoted&quot; &amp; <b>bold</b> "),
            col("text")))
        .otherwise(col("text")))

  val tHtml: Q = (s, d) => Corpus.htmlStrip(htmlAugmented(s, d))

  /** st_html — the HTML stripper ON THE INGEST STREAM (r14): the
    * scrape-extraction step belongs at the front of the continuous
    * front door, BEFORE the quality/PII screen and the stateful dedup
    * stages; [[graft.pipeline.Corpus.htmlStrip]] is stateless Column
    * code, so the exact batch operator runs on a streaming frame
    * unchanged (the st_screen / st_bloom posture — zero state rows at
    * any corpus size) and the gate shares t_html's oracle verbatim. */
  val stHtml: Q = (s, d) => {
    import s.implicits._
    val docs = htmlAugmented(s, d).select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    StreamReplay.replay(s, docs, "st_html", "append") { df =>
      Corpus.htmlStrip(df.toDF("doc_id", "text"))
    }
  }

  lazy val tHtmlSql: String = {
    def sq(x: String) = x.replace("'", "''")
    val entityChain = graft.pipeline.Corpus.htmlEntities
      .foldLeft("ntg") { case (acc, (from, to)) =>
        s"replace($acc, '${sq(from)}', '${sq(to)}')" }
    val entityCount = graft.pipeline.Corpus.htmlEntities.map { case (t, _) =>
      s"(length(ntg) - length(replace(ntg, '${sq(t)}', ''))) // ${t.length}"
    }.mkString(" + ")
    s"""WITH aug AS (SELECT doc_id, CASE
       |    WHEN doc_id % 7 = 0 THEN '<html><head><title>t</title><style type="text/css">p {color: red}</style></head><body><!-- note --><p class="a">'
       |      || text || '</p><script>var x = 1 < 2 && true;</script>&amp;lt; &nbsp;fin</body></html>'
       |    WHEN doc_id % 7 = 3 THEN 'plain &quot;quoted&quot; &amp; <b>bold</b> ' || text
       |    ELSE text END AS t2
       |  FROM documents),
       |nb AS (SELECT doc_id, t2, regexp_replace(regexp_replace(regexp_replace(t2,
       |    '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
       |    '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
       |    '(?s)<!--.*?-->', ' ', 'g') AS nbk FROM aug),
       |nt AS (SELECT doc_id, t2,
       |    len(regexp_extract_all(nbk, '<[^>]*>'))::BIGINT AS n_tags,
       |    regexp_replace(nbk, '<[^>]*>', ' ', 'g') AS ntg FROM nb),
       |en AS (SELECT doc_id, t2, n_tags,
       |    ($entityCount)::BIGINT AS n_entities,
       |    $entityChain AS decd FROM nt),
       |cl AS (SELECT doc_id, t2, n_tags, n_entities,
       |    trim(regexp_replace(decd, '\\s+', ' ', 'g')) AS text_clean
       |  FROM en)
       |SELECT doc_id, text_clean, n_tags, n_entities,
       |  (1000000 * length(text_clean) // greatest(length(t2), 1))::BIGINT
       |    AS kept_ppm
       |FROM cl""".stripMargin
  }

  /** t_psi — per-source POPULATION STABILITY INDEX
    * ([[graft.pipeline.Corpus.psiDrift]]): drift of each source's
    * document-length distribution vs the whole corpus over integer
    * log2-octave buckets, Laplace-smoothed, term-rounded-8 then
    * bucket-ordered fold, PSI rounded 4 with the conventional ≥ 0.25
    * drifted verdict. */
  val tPsi: Q = (s, d) => Corpus.psiDrift(Tables.documents(s, d))

  val tPsiSql: String =
    """WITH b AS (SELECT source,
      |    length(bin(greatest(length(text), 1)::BIGINT)) AS bucket
      |  FROM documents),
      |sb AS (SELECT source, bucket, count(*)::BIGINT AS c FROM b GROUP BY 1, 2),
      |corpus AS (SELECT bucket, count(*)::BIGINT AS cb FROM b GROUP BY 1),
      |tot AS (SELECT count(*)::BIGINT AS nb, sum(cb)::BIGINT AS n FROM corpus),
      |srcs AS (SELECT source, sum(c)::BIGINT AS ns FROM sb GROUP BY 1),
      |grid AS (SELECT s.source, co.bucket,
      |    round((((coalesce(sb.c, 0) + 1)::DOUBLE / (s.ns + tot.nb)::DOUBLE)
      |        - ((co.cb + 1)::DOUBLE / (tot.n + tot.nb)::DOUBLE))
      |      * ln(((coalesce(sb.c, 0) + 1)::DOUBLE / (s.ns + tot.nb)::DOUBLE)
      |          / ((co.cb + 1)::DOUBLE / (tot.n + tot.nb)::DOUBLE)), 8) AS contrib
      |  FROM srcs s CROSS JOIN corpus co CROSS JOIN tot
      |  LEFT JOIN sb ON sb.source = s.source AND sb.bucket = co.bucket),
      |folded AS (SELECT source, list(contrib ORDER BY bucket) AS cs
      |  FROM grid GROUP BY source)
      |SELECT source,
      |  round(list_reduce(list_prepend(0.0, cs), (a, v) -> a + v), 4) AS psi,
      |  (CASE WHEN round(list_reduce(list_prepend(0.0, cs), (a, v) -> a + v), 4) >= 0.25
      |    THEN 1 ELSE 0 END)::INT AS drifted
      |FROM folded""".stripMargin

  val tKlSql: String =
    s"""WITH tok AS (SELECT source, t.term FROM
       |    (SELECT source, unnest(string_split($normSql, ' ')) AS term
       |     FROM documents) t WHERE t.term <> ''),
       |st AS (SELECT source, term, count(*)::BIGINT AS c FROM tok GROUP BY 1, 2),
       |corpus AS (SELECT term, count(*)::BIGINT AS ct FROM tok GROUP BY 1),
       |vn AS (SELECT count(*)::BIGINT AS v, sum(ct)::BIGINT AS n FROM corpus),
       |srcs AS (SELECT source, sum(c)::BIGINT AS ns FROM st GROUP BY 1),
       |grid AS (SELECT s.source, co.term,
       |    round(((coalesce(st.c, 0) + 1)::DOUBLE / (s.ns + vn.v)::DOUBLE)
       |      * ln(((coalesce(st.c, 0) + 1)::DOUBLE / (s.ns + vn.v)::DOUBLE)
       |           / ((co.ct + 1)::DOUBLE / (vn.n + vn.v)::DOUBLE)), 8)
       |      AS contrib
       |  FROM srcs s CROSS JOIN corpus co CROSS JOIN vn
       |  LEFT JOIN st ON st.source = s.source AND st.term = co.term),
       |folded AS (SELECT source, list(contrib ORDER BY term) AS cs FROM grid
       |  GROUP BY source)
       |SELECT source,
       |  round(list_reduce(list_prepend(0.0, cs), (a, v) -> a + v), 4) AS kl
       |FROM folded""".stripMargin

  /** Equal-width token-length histogram (10 buckets to the observed max)
    * — the length-distribution screen before packing/curation. Bucketing
    * is a broadcast of ONE max value + a narrow map; no global sort or
    * single-partition window anywhere. */
  val tLengthHist: Q = (s, d) => {
    val n = Tables.documents(s, d).select(col("doc_id"),
      TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
    val mx = n.agg(max(col("n_tokens")).as("mx"))
    n.crossJoin(broadcast(mx))
      .withColumn("bucket",
        least(col("n_tokens") * 10 / (col("mx") + 1), lit(9L)).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"))
  }

  val tLengthHistSql: String =
    s"""WITH n AS (SELECT doc_id, (CASE WHEN length($normSql) = 0 THEN 0
       |  ELSE len(string_split($normSql, ' ')) END)::BIGINT AS n_tokens FROM documents),
       |m AS (SELECT max(n_tokens) AS mx FROM n)
       |SELECT least(n_tokens * 10 // (mx + 1), 9)::BIGINT AS bucket,
       |  count(*)::BIGINT AS n_docs, min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens
       |FROM n, m GROUP BY 1""".stripMargin

  /** URL/domain statistics — the per-domain doc and occurrence counts a
    * web-corpus curation pass balances and blocklists on. The corpus text
    * is augmented with deterministic doc_id-derived URLs (the synthetic
    * docs contain none), then one extract-explode-aggregate. */
  val tDomains: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        concat(col("text"),
          lit(" see http://site"), pmod(col("doc_id"), lit(20)).cast("string"),
          lit(".example.com/p/"), col("doc_id").cast("string"),
          lit(" and https://mirror"), pmod(col("doc_id"), lit(7)).cast("string"),
          lit(".example.org/x")).as("text"))
      .select(col("doc_id"), explode(regexp_extract_all(col("text"),
        lit("https?://([A-Za-z0-9.-]+)"), lit(1))).as("domain"))
      .groupBy("domain")
      .agg(count_distinct(col("doc_id")).cast("long").as("n_docs"),
        count(lit(1)).cast("long").as("n_urls"))

  val tDomainsSql: String =
    """WITH aug AS (SELECT doc_id, text || ' see http://site' || (doc_id % 20) ||
      |  '.example.com/p/' || doc_id || ' and https://mirror' || (doc_id % 7) ||
      |  '.example.org/x' AS text FROM documents),
      |u AS (SELECT doc_id, unnest(regexp_extract_all(text, 'https?://([A-Za-z0-9.-]+)', 1)) AS domain FROM aug)
      |SELECT domain, count(DISTINCT doc_id)::BIGINT AS n_docs, count(*)::BIGINT AS n_urls
      |FROM u GROUP BY domain""".stripMargin

  // ---------------------------------------------------------------- text

  /** Token counting (whitespace tokenization of normalized text). */
  val tTokens: Q = (s, d) =>
    Tables.documents(s, d).select(col("doc_id"),
      TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))

  // lazy: referenced by query vals declared ABOVE this point in the file
  // (Scala strict vals initialize in declaration order — a strict val here
  // leaves earlier interpolations with the string "null")
  private lazy val normSql =
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"

  val tTokensSql: String =
    s"""SELECT doc_id, CASE WHEN length($normSql) = 0 THEN 0
       |ELSE len(string_split($normSql, ' ')) END::BIGINT AS n_tokens FROM documents""".stripMargin

  /** BPE-ish subword counting: alpha runs, digit runs, and single
    * punctuation marks each count as one token (the pre-tokenization regex
    * of byte-pair encoders) — identical regex in both engines. */
  val tBpeTokens: Q = (s, d) =>
    Tables.documents(s, d).select(col("doc_id"),
      size(expr("regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\\\s]', 0)"))
        .cast("long").as("n_subwords"))

  val tBpeTokensSql: String =
    """SELECT doc_id, len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))::BIGINT AS n_subwords
      |FROM documents""".stripMargin

  /** t_bpe_merges — BPE merge-training rounds
    * ([[graft.pipeline.Corpus.bpeMerges]], Sennrich 2016): 3 rounds of
    * most-frequent-adjacent-pair merging over the top-2000 word
    * vocabulary — the tokenizer-training primitive, fully relational
    * (lead-window pairs, argmax rule, islands-based greedy non-overlap
    * rewrite). The oracle replays every round verbatim. */
  val tBpeMerges: Q = (s, d) =>
    Corpus.bpeMerges(Tables.documents(s, d), rounds = 3,
      vocabCap = 2000, maxLen = 12)

  /** The BPE training WITH-body (vocab → symbol table → 3 rounds of
    * argmax + islands rewrite), shared by t_bpe_merges and the
    * t_bpe_fertility encoder. */
  private lazy val bpeTrainCtes: String = {
    def round_(k: Int): String =
      s"""p$k AS MATERIALIZED (SELECT word, cnt, pos, sym,
         |  lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt FROM s${k - 1}),
         |b$k AS MATERIALIZED (SELECT sym AS bx, nxt AS byy, sum(cnt)::BIGINT AS n
         |  FROM p$k WHERE nxt IS NOT NULL GROUP BY 1, 2
         |  ORDER BY n DESC, bx, byy LIMIT 1),
         |c$k AS (SELECT p.word, p.pos,
         |    row_number() OVER (PARTITION BY p.word ORDER BY p.pos) AS rn
         |  FROM p$k p, b$k b WHERE p.sym = b.bx AND p.nxt = b.byy),
         |m$k AS MATERIALIZED (SELECT word, pos FROM (
         |  SELECT word, pos, row_number() OVER (
         |    PARTITION BY word, pos - rn ORDER BY pos) AS o FROM c$k)
         |  WHERE o % 2 = 1),
         |s$k AS MATERIALIZED (SELECT word, cnt,
         |  row_number() OVER (PARTITION BY word ORDER BY opos)::BIGINT AS pos, sym
         |  FROM (SELECT p.word, p.cnt, p.pos AS opos,
         |    CASE WHEN m.pos IS NOT NULL THEN p.sym || p.nxt ELSE p.sym END AS sym
         |  FROM p$k p
         |  LEFT JOIN m$k m ON p.word = m.word AND p.pos = m.pos
         |  LEFT JOIN m$k md ON p.word = md.word AND p.pos = md.pos + 1
         |  WHERE md.pos IS NULL))""".stripMargin
    s"""w0 AS (SELECT term AS word, count(*) AS cnt FROM (
       |  SELECT unnest(string_split($normSql, ' ')) AS term FROM documents)
       |  WHERE term <> '' AND length(term) <= 12 GROUP BY 1),
       |vocab AS MATERIALIZED (SELECT word, cnt FROM w0
       |  ORDER BY cnt DESC, word LIMIT 2000),
       |s0 AS MATERIALIZED (SELECT word, cnt,
       |  unnest(range(1, length(word) + 1))::BIGINT AS pos,
       |  unnest(string_split(word, '')) AS sym FROM vocab),
       |${(1 to 3).map(round_).mkString(",\n")}""".stripMargin
  }

  val tBpeMergesSql: String =
    s"""WITH $bpeTrainCtes
       |SELECT 1::INT AS merge_round, bx AS lhs, byy AS rhs, n AS pair_count FROM b1
       |UNION ALL SELECT 2::INT, bx, byy, n FROM b2
       |UNION ALL SELECT 3::INT, bx, byy, n FROM b3""".stripMargin

  /** t_bpe_fertility — the learned merges APPLIED
    * ([[graft.pipeline.Corpus.bpeFertility]]): every distinct corpus
    * word rewrites through the 3 trained rules (training caps the pair
    * statistics at the head vocabulary; application is exact) and
    * per-language fertility = subwords per word — the post-training
    * twin of t_fertility. The oracle re-trains AND re-applies. */
  val tBpeFertility: Q = (s, d) =>
    Corpus.bpeFertility(Tables.documents(s, d), rounds = 3,
      vocabCap = 2000, maxLen = 12)

  val tBpeFertilitySql: String = {
    def apply_(k: Int): String =
      s"""pa$k AS MATERIALIZED (SELECT word, pos, sym,
         |  lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt FROM a${k - 1}),
         |ca$k AS (SELECT p.word, p.pos,
         |    row_number() OVER (PARTITION BY p.word ORDER BY p.pos) AS rn
         |  FROM pa$k p, b$k b WHERE p.sym = b.bx AND p.nxt = b.byy),
         |ma$k AS MATERIALIZED (SELECT word, pos FROM (
         |  SELECT word, pos, row_number() OVER (
         |    PARTITION BY word, pos - rn ORDER BY pos) AS o FROM ca$k)
         |  WHERE o % 2 = 1),
         |a$k AS MATERIALIZED (SELECT word,
         |  row_number() OVER (PARTITION BY word ORDER BY opos)::BIGINT AS pos, sym
         |  FROM (SELECT p.word, p.pos AS opos,
         |    CASE WHEN m.pos IS NOT NULL THEN p.sym || p.nxt ELSE p.sym END AS sym
         |  FROM pa$k p
         |  LEFT JOIN ma$k m ON p.word = m.word AND p.pos = m.pos
         |  LEFT JOIN ma$k md ON p.word = md.word AND p.pos = md.pos + 1
         |  WHERE md.pos IS NULL))""".stripMargin
    s"""WITH $bpeTrainCtes,
       |lw AS MATERIALIZED (SELECT lang, term AS word, count(*) AS cnt FROM (
       |  SELECT lang, unnest(string_split($normSql, ' ')) AS term FROM documents)
       |  WHERE term <> '' AND length(term) <= 12 GROUP BY 1, 2),
       |a0 AS MATERIALIZED (SELECT word,
       |  unnest(range(1, length(word) + 1))::BIGINT AS pos,
       |  unnest(string_split(word, '')) AS sym
       |  FROM (SELECT DISTINCT word FROM lw)),
       |${(1 to 3).map(apply_).mkString(",\n")},
       |sub AS (SELECT word, count(*) AS n_sub FROM a3 GROUP BY word)
       |SELECT lang, sum(cnt)::BIGINT AS n_words,
       |  sum(cnt * n_sub)::BIGINT AS n_subwords,
       |  round(sum(cnt * n_sub)::DOUBLE / sum(cnt)::DOUBLE, 4)
       |    AS subwords_per_word
       |FROM lw JOIN sub USING (word) GROUP BY lang""".stripMargin
  }

  /** t_wordpiece — WORDPIECE merge training
    * ([[graft.pipeline.Corpus.wordpieceMerges]], Schuster & Nakajima
    * 2012 — the BERT-family third tokenizer beside BPE and unigram-LM):
    * BPE's vocab/symbol-table/islands machinery, but each round's merge
    * maximizes the likelihood score count(ab)/(count(a)·count(b)) held
    * as exact integer parts-per-billion. The oracle replays every
    * round — unigram counts, pair counts, ppb argmax, islands rewrite —
    * verbatim. */
  val tWordpiece: Q = (s, d) =>
    Corpus.wordpieceMerges(Tables.documents(s, d), rounds = 3,
      vocabCap = 2000, maxLen = 12)

  private lazy val wpTrainCtes: String = {
    def round_(k: Int): String =
      s"""wp$k AS MATERIALIZED (SELECT word, cnt, pos, sym,
         |  lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt FROM ws${k - 1}),
         |wu$k AS MATERIALIZED (SELECT sym, sum(cnt)::BIGINT AS u
         |  FROM ws${k - 1} GROUP BY 1),
         |wb$k AS MATERIALIZED (SELECT bx, byy, n,
         |    ((n * 1000000000) // (a.u * b.u))::BIGINT AS score_ppb
         |  FROM (SELECT sym AS bx, nxt AS byy, sum(cnt)::BIGINT AS n
         |    FROM wp$k WHERE nxt IS NOT NULL GROUP BY 1, 2) pc
         |  JOIN wu$k a ON pc.bx = a.sym JOIN wu$k b ON pc.byy = b.sym
         |  ORDER BY score_ppb DESC, bx, byy LIMIT 1),
         |wc$k AS (SELECT p.word, p.pos,
         |    row_number() OVER (PARTITION BY p.word ORDER BY p.pos) AS rn
         |  FROM wp$k p, wb$k b WHERE p.sym = b.bx AND p.nxt = b.byy),
         |wm$k AS MATERIALIZED (SELECT word, pos FROM (
         |  SELECT word, pos, row_number() OVER (
         |    PARTITION BY word, pos - rn ORDER BY pos) AS o FROM wc$k)
         |  WHERE o % 2 = 1),
         |ws$k AS MATERIALIZED (SELECT word, cnt,
         |  row_number() OVER (PARTITION BY word ORDER BY opos)::BIGINT AS pos, sym
         |  FROM (SELECT p.word, p.cnt, p.pos AS opos,
         |    CASE WHEN m.pos IS NOT NULL THEN p.sym || p.nxt ELSE p.sym END AS sym
         |  FROM wp$k p
         |  LEFT JOIN wm$k m ON p.word = m.word AND p.pos = m.pos
         |  LEFT JOIN wm$k md ON p.word = md.word AND p.pos = md.pos + 1
         |  WHERE md.pos IS NULL))""".stripMargin
    s"""ww0 AS (SELECT term AS word, count(*) AS cnt FROM (
       |  SELECT unnest(string_split($normSql, ' ')) AS term FROM documents)
       |  WHERE term <> '' AND length(term) <= 12 GROUP BY 1),
       |wvocab AS MATERIALIZED (SELECT word, cnt FROM ww0
       |  ORDER BY cnt DESC, word LIMIT 2000),
       |ws0 AS MATERIALIZED (SELECT word, cnt,
       |  unnest(range(1, length(word) + 1))::BIGINT AS pos,
       |  unnest(string_split(word, '')) AS sym FROM wvocab),
       |${(1 to 3).map(round_).mkString(",\n")}""".stripMargin
  }

  val tWordpieceSql: String =
    s"""WITH $wpTrainCtes
       |SELECT 1::INT AS merge_round, bx AS lhs, byy AS rhs,
       |  n AS pair_count, score_ppb FROM wb1
       |UNION ALL SELECT 2::INT, bx, byy, n, score_ppb FROM wb2
       |UNION ALL SELECT 3::INT, bx, byy, n, score_ppb FROM wb3""".stripMargin

  /** t_unigram_lm — UNIGRAM-LM tokenizer training
    * ([[graft.pipeline.Corpus.unigramLm]], Kudo 2018 — SentencePiece's
    * unigram family, the sibling of t_bpe_merges): capped word vocab →
    * capped substring seed pieces → 2 EM rounds (integer micro-nat
    * Viterbi E-step, Laplace-smoothed M-step) → prune to 64 + chars.
    * The oracle unrolls the word cap, the seed cap, and per round the
    * 8-position max-plus DP tables, the backtrace, the expected counts,
    * and the re-scoring — all integer except the r6-ln score map. */
  val tUnigramLm: Q = (s, d) =>
    Corpus.unigramLm(Tables.documents(s, d), emRounds = 2,
      vocabCap = 2000, maxLen = 8, maxPiece = 4, seedCap = 200,
      vocabSize = 64)

  /** The unigram-LM TRAINING WITH-body (word cap → seed cap → per-round
    * DP/backtrace/recount → `ranked` with the prune rank), shared by
    * t_unigram_lm and the t_unigram_fertility application oracle. */
  private lazy val unigramTrainCtes: String = {
    val maxLen = 8; val maxPiece = 4; val emRounds = 2
    // one DP round: weights table w{r-1} → best-segmentation tables
    // u{r}d1..8 → flattened (word, i, l) → backtrace u{r}t1..8 →
    // expected counts uc{r} → (non-final) re-scored weights w{r}
    def dpRound(r: Int): String = {
      val prevW = s"uw${r - 1}"
      def dI(i: Int): String = {
        val arms = (1 to math.min(maxPiece, i)).map { l =>
          s"""SELECT p.word, p.cnt, p.n, p.sc + w.lw AS sc, $l AS l
             |      FROM u${r}d${i - l} p JOIN $prevW w
             |        ON w.piece = substring(p.word, ${i - l + 1}, $l)
             |      WHERE p.n >= $i""".stripMargin
        }.mkString("\n      UNION ALL ")
        s"""u${r}d$i AS MATERIALIZED (
           |  SELECT word, cnt, n, sc, l FROM (
           |    SELECT word, cnt, n, sc, l, row_number() OVER (
           |      PARTITION BY word ORDER BY sc DESC, l DESC) AS rk
           |    FROM ($arms)) WHERE rk = 1)""".stripMargin
      }
      def tK(k: Int): String =
        s"""u${r}t$k AS MATERIALIZED (
           |  SELECT t.word, t.cnt, t.i - d.l AS i,
           |    substring(t.word, t.i - d.l + 1, d.l) AS piece
           |  FROM u${r}t${k - 1} t JOIN u${r}dd d
           |    ON d.word = t.word AND d.i = t.i
           |  WHERE t.i > 0)""".stripMargin
      val dds = (1 to maxLen)
        .map(i => s"SELECT word, $i AS i, l FROM u${r}d$i")
        .mkString(" UNION ALL ")
      val emits = (1 to maxLen)
        .map(k => s"SELECT piece, cnt FROM u${r}t$k")
        .mkString(" UNION ALL ")
      val reWeight = if (r == emRounds) "" else
        s""",
           |utot$r AS (SELECT sum(c)::BIGINT AS t FROM uc$r),
           |uw$r AS MATERIALIZED (SELECT s.piece,
           |  round(round(ln((coalesce(c.c, 0) + 1)::DOUBLE / (t.t + np.np)),
           |    6) * 1000000)::BIGINT AS lw
           |  FROM useeds s LEFT JOIN uc$r c USING (piece)
           |  CROSS JOIN utot$r t CROSS JOIN unp np)""".stripMargin
      s"""u${r}d0 AS MATERIALIZED (SELECT word, cnt, length(word) AS n,
         |  0::BIGINT AS sc, 0 AS l FROM uwords),
         |${(1 to maxLen).map(dI).mkString(",\n")},
         |u${r}dd AS MATERIALIZED ($dds),
         |u${r}t0 AS (SELECT word, cnt, length(word) AS i FROM uwords),
         |${(1 to maxLen).map(tK).mkString(",\n")},
         |uc$r AS MATERIALIZED (SELECT piece, sum(cnt)::BIGINT AS c
         |  FROM ($emits) GROUP BY piece)$reWeight""".stripMargin
    }
    s"""uwords AS MATERIALIZED (
       |  SELECT word, count(*)::BIGINT AS cnt FROM (
       |    SELECT unnest(string_split($normSql, ' ')) AS word FROM documents)
       |  WHERE word <> '' AND length(word) <= $maxLen
       |  GROUP BY word ORDER BY cnt DESC, word LIMIT 2000),
       |usubs AS MATERIALIZED (
       |  SELECT piece, sum(cnt)::BIGINT AS scnt FROM (
       |    SELECT w.cnt, substring(w.word, i.i::INT, l.l::INT) AS piece
       |    FROM uwords w, range(1, ${maxLen + 1}) i(i),
       |      range(1, ${maxPiece + 1}) l(l)
       |    WHERE i.i + l.l - 1 <= length(w.word))
       |  GROUP BY piece),
       |useeds AS MATERIALIZED (
       |  SELECT piece, scnt FROM usubs WHERE length(piece) = 1
       |  UNION ALL
       |  SELECT piece, scnt FROM (
       |    SELECT piece, scnt FROM usubs WHERE length(piece) > 1
       |    ORDER BY scnt DESC, piece LIMIT 200)),
       |unp AS (SELECT count(*)::BIGINT AS np FROM useeds),
       |utot0 AS (SELECT sum(scnt)::BIGINT AS t FROM useeds),
       |uw0 AS MATERIALIZED (SELECT piece,
       |  round(round(ln(scnt::DOUBLE / t), 6) * 1000000)::BIGINT AS lw
       |  FROM useeds, utot0),
       |${(1 to emRounds).map(dpRound).mkString(",\n")},
       |ranked AS MATERIALIZED (
       |  SELECT s.piece, s.scnt, coalesce(c.c, 0)::BIGINT AS cc,
       |    row_number() OVER (ORDER BY coalesce(c.c, 0) DESC, s.piece) AS rk
       |  FROM useeds s LEFT JOIN uc$emRounds c USING (piece))""".stripMargin
  }

  lazy val tUnigramLmSql: String =
    s"""WITH $unigramTrainCtes
       |SELECT piece, scnt AS seed_cnt, cc AS em_cnt,
       |  (CASE WHEN length(piece) = 1 OR rk <= 64 THEN 1 ELSE 0 END)::INT
       |    AS kept
       |FROM ranked""".stripMargin

  /** t_unigram_fertility — the trained-and-pruned unigram model APPLIED
    * ([[graft.pipeline.Corpus.unigramFertility]], the application twin
    * of t_unigram_lm exactly as t_bpe_fertility twins t_bpe_merges):
    * every distinct length-capped corpus word Viterbi-segments under
    * the kept set's renormalized micro-nat scores (out-of-vocab single
    * chars price as UNK), per-language fertility = pieces per word.
    * The oracle re-trains and replays the application DP verbatim. */
  val tUnigramFertility: Q = (s, d) =>
    Corpus.unigramFertility(Tables.documents(s, d), emRounds = 2,
      vocabCap = 2000, maxLen = 8, maxPiece = 4, seedCap = 200,
      vocabSize = 64)

  lazy val tUnigramFertilitySql: String = {
    val maxLen = 8; val maxPiece = 4
    def aI(i: Int): String = {
      val arms = (1 to math.min(maxPiece, i)).map { l =>
        if (l == 1)
          s"""SELECT p.word, p.n, p.sc + coalesce(w.lw, u.lw) AS sc, 1 AS l
             |      FROM ua${i - 1} p CROSS JOIN uunk u LEFT JOIN uas w
             |        ON w.piece = substring(p.word, $i, 1)
             |      WHERE p.n >= $i""".stripMargin
        else
          s"""SELECT p.word, p.n, p.sc + w.lw AS sc, $l AS l
             |      FROM ua${i - l} p JOIN uas w
             |        ON w.piece = substring(p.word, ${i - l + 1}, $l)
             |      WHERE p.n >= $i""".stripMargin
      }.mkString("\n      UNION ALL ")
      s"""ua$i AS MATERIALIZED (
         |  SELECT word, n, sc, l FROM (
         |    SELECT word, n, sc, l, row_number() OVER (
         |      PARTITION BY word ORDER BY sc DESC, l DESC) AS rk
         |    FROM ($arms)) WHERE rk = 1)""".stripMargin
    }
    def tK(k: Int): String =
      s"""uat$k AS MATERIALIZED (
         |  SELECT t.word, t.i - d.l AS i
         |  FROM uat${k - 1} t JOIN uadd d ON d.word = t.word AND d.i = t.i
         |  WHERE t.i > 0)""".stripMargin
    val dds = (1 to maxLen)
      .map(i => s"SELECT word, $i AS i, l FROM ua$i")
      .mkString(" UNION ALL ")
    val emits = (1 to maxLen)
      .map(k => s"SELECT word FROM uat$k").mkString(" UNION ALL ")
    s"""WITH $unigramTrainCtes,
       |ulw AS MATERIALIZED (SELECT lang, word, count(*)::BIGINT AS cnt FROM (
       |  SELECT lang, unnest(string_split($normSql, ' ')) AS word
       |  FROM documents)
       |  WHERE word <> '' AND length(word) <= $maxLen GROUP BY 1, 2),
       |uavw AS MATERIALIZED (SELECT word, length(word) AS n
       |  FROM (SELECT DISTINCT word FROM ulw)),
       |ukept AS MATERIALIZED (SELECT piece FROM ranked
       |  WHERE length(piece) = 1 OR rk <= 64),
       |uwn AS ((SELECT (SELECT sum(c) FROM uc2)::BIGINT AS t,
       |  (SELECT count(*) FROM ukept)::BIGINT AS kn)),
       |uas AS MATERIALIZED (SELECT k.piece,
       |  round(round(ln((coalesce(c.c, 0) + 1)::DOUBLE / (w.t + w.kn)),
       |    6) * 1000000)::BIGINT AS lw
       |  FROM ukept k LEFT JOIN uc2 c USING (piece) CROSS JOIN uwn w),
       |uunk AS (SELECT round(round(ln(1::DOUBLE / (t + kn)), 6)
       |  * 1000000)::BIGINT AS lw FROM uwn),
       |ua0 AS MATERIALIZED (SELECT word, n, 0::BIGINT AS sc, 0 AS l
       |  FROM uavw),
       |${(1 to maxLen).map(aI).mkString(",\n")},
       |uadd AS MATERIALIZED ($dds),
       |uat0 AS (SELECT word, n AS i FROM uavw),
       |${(1 to maxLen).map(tK).mkString(",\n")},
       |unsub AS MATERIALIZED (SELECT word, count(*)::BIGINT AS n_pieces
       |  FROM ($emits) GROUP BY word)
       |SELECT lang, sum(cnt)::BIGINT AS n_words,
       |  sum(cnt * n_pieces)::BIGINT AS n_pieces,
       |  round(sum(cnt * n_pieces)::DOUBLE / sum(cnt)::DOUBLE, 4)
       |    AS pieces_per_word
       |FROM ulw JOIN unsub USING (word) GROUP BY lang""".stripMargin
  }

  /** Quality scoring: alpha ratio, stopword ratio, mean token length,
    * composite score — all rounded for cross-engine equality. */
  /** t_readability — Flesch reading-ease over the documents table
    * ([[TextFunctions.fleschEase]], with its component counts exposed so
    * the gate pins the full derivation): the classic readability screen
    * a corpus-quality pipeline runs next to the Gopher-style ratios. */
  val tReadability: Q = (s, d) =>
    Tables.documents(s, d).select(col("doc_id"),
      greatest(TextFunctions.tokenCount(col("text")), lit(1))
        .cast("long").as("n_words"),
      greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1))
        .cast("long").as("n_sents"),
      TextFunctions.fleschEase(col("text")).as("flesch"))

  lazy val tReadabilitySql: String = {
    val nTok = s"CASE WHEN length($normSql) = 0 THEN 0 ELSE len(string_split($normSql, ' ')) END"
    s"""SELECT doc_id,
       |  greatest($nTok, 1)::BIGINT AS n_words,
       |  greatest(len(regexp_extract_all(text, '[.!?]+')), 1)::BIGINT AS n_sents,
       |  round(206.835
       |    - 1.015 * greatest($nTok, 1)::DOUBLE / greatest(len(regexp_extract_all(text, '[.!?]+')), 1)::DOUBLE
       |    - 84.6 * greatest(len(regexp_extract_all($normSql, '[aeiouy]+')), greatest($nTok, 1))::DOUBLE
       |        / greatest($nTok, 1)::DOUBLE, 4) + 0.0 AS flesch
       |FROM documents""".stripMargin
  }

  /** p_interleave — stride-scheduled deterministic training order
    * ([[graft.pipeline.Corpus.interleave]]): en weight 4, zh weight 2,
    * others 1 (L = 4 → strides 1/2/4); the Spark side computes each
    * document's global position in CLOSED FORM (broadcast per-source
    * counts — no corpus-wide window), the oracle replays it as a plain
    * global row_number, proving them identical. */
  val pInterleave: Q = (s, d) =>
    graft.pipeline.Corpus.interleave(Tables.documents(s, d),
      Map("en" -> 4, "zh" -> 2))

  val pInterleaveSql: String =
    """WITH k AS (SELECT doc_id, lang,
      |    (row_number() OVER (PARTITION BY lang ORDER BY doc_id) - 1)::BIGINT AS k,
      |    (CASE lang WHEN 'en' THEN 1 WHEN 'zh' THEN 2 ELSE 4 END)::BIGINT AS st
      |  FROM documents)
      |SELECT doc_id, lang, k,
      |  row_number() OVER (ORDER BY (k + 1) * st, lang, k)::BIGINT AS pos
      |FROM k""".stripMargin

  /** p_repeat — fractional-epoch repeat expansion
    * ([[graft.pipeline.Corpus.epochRepeat]]): per-source weights
    * 0.3–2.5 epochs derived from the source index (wppm =
    * 300000 + (idx mod 5)·550000); every doc appears ⌊w⌋ times plus one
    * hash-gated extra, epochs enumerated 0..copies−1. Zero-shuffle
    * narrow explode; the oracle replays the LCG gate and range
    * expansion. */
  val pRepeat: Q = (s, d) =>
    Corpus.epochRepeat(Tables.documents(s, d),
      expr("300000 + (CAST(substring(source, 4) AS INT) % 5) * 550000"))

  val pRepeatSql: String =
    """WITH w AS (SELECT doc_id, source,
      |    (300000 + (substr(source, 4)::INT % 5) * 550000)::BIGINT AS wppm,
      |    (doc_id * 1103515245 + 12345) % 2147483647 % 1000000 AS h
      |  FROM documents)
      |SELECT doc_id, source,
      |  unnest(range(0, wppm // 1000000
      |    + CASE WHEN h < wppm % 1000000 THEN 1 ELSE 0 END))::BIGINT AS epoch
      |FROM w""".stripMargin

  /** p_checks — declarative data-quality gate
    * ([[graft.pipeline.Checks.qualityChecks]]): 8 rules over documents
    * and events in one wide aggregate per table; the corpus is built to
    * decide both ways (uniqueness/completeness/consistency pass,
    * min-length/value-range/type-set fail). */
  val pChecks: Q = (s, d) =>
    graft.pipeline.Checks.qualityChecks(Tables.documents(s, d),
      Tables.events(s, d))

  val pChecksSql: String =
    """WITH d AS (SELECT count(*)::BIGINT AS n,
      |    count(DISTINCT doc_id)::BIGINT AS ids,
      |    sum(CASE WHEN text IS NOT NULL AND length(text) > 0 THEN 1 ELSE 0 END)::BIGINT AS complete,
      |    sum(CASE WHEN n_chars = length(text) THEN 1 ELSE 0 END)::BIGINT AS consistent,
      |    sum(CASE WHEN lang IN ('en','de','es','fr','zh') THEN 1 ELSE 0 END)::BIGINT AS langok,
      |    sum(CASE WHEN length(text) >= 100 THEN 1 ELSE 0 END)::BIGINT AS len100
      |  FROM documents),
      |e AS (SELECT count(*)::BIGINT AS n,
      |    count(DISTINCT event_id)::BIGINT AS ids,
      |    sum(CASE WHEN value >= 0 AND value <= 100 THEN 1 ELSE 0 END)::BIGINT AS vrange,
      |    sum(CASE WHEN event_type IN ('view','click','signup','purchase') THEN 1 ELSE 0 END)::BIGINT AS typeok
      |  FROM events),
      |rows AS (
      |  SELECT 'documents' AS tbl, 'doc_id_unique' AS check_name, ids AS ok, n FROM d
      |  UNION ALL SELECT 'documents', 'text_complete', complete, n FROM d
      |  UNION ALL SELECT 'documents', 'n_chars_consistent', consistent, n FROM d
      |  UNION ALL SELECT 'documents', 'lang_accepted', langok, n FROM d
      |  UNION ALL SELECT 'documents', 'text_min_len_100', len100, n FROM d
      |  UNION ALL SELECT 'events', 'event_id_unique', ids, n FROM e
      |  UNION ALL SELECT 'events', 'value_in_range', vrange, n FROM e
      |  UNION ALL SELECT 'events', 'type_accepted', typeok, n FROM e)
      |SELECT tbl, check_name, ((1000000 * ok) // n)::BIGINT AS metric_ppm,
      |  (CASE WHEN ok = n THEN 1 ELSE 0 END)::INT AS passed
      |FROM rows""".stripMargin

  /** t_luhn — checksum-validated card PII
    * ([[graft.pipeline.Corpus.piiCards]]). Card-shaped numbers are
    * synthesized IN-PLAN with a computed Luhn CHECK DIGIT, so the
    * valid/invalid split is decided by real checksum arithmetic on
    * id-varying numbers: `% 9 == 2` docs carry a VALID 16-digit card
    * (base from doc_id, check digit closing the mod-10 sum), `% 9 == 5`
    * docs the SAME base with the check digit off by one (candidate,
    * fails validation), `% 9 == 7` docs a 12-digit run (too short to
    * even be a candidate). */
  val tLuhn: Q = (s, d) => {
    val id = col("doc_id")
    val base = lpad((id * 7919L % 1000000000000000L).cast("string"), 15, "0")
    // Luhn sum of the 15 base digits as positions 1..15 of a 16-digit
    // number: left-position j has right-position 16-j, doubled when odd
    // — i.e. when j is odd
    val sum15 = aggregate(sequence(lit(1), lit(15)), lit(0L), (acc, j) => {
      val dg = base.substr(j, lit(1)).cast("long")
      val dbl = dg * 2 - when(dg > 4, 9L).otherwise(0L)
      acc + when(j % 2 === 1, dbl).otherwise(dg)
    })
    val check = (lit(10L) - sum15 % 10) % 10
    val aug = concat(col("text"),
      when(id % 9 === 2, concat(lit(" pay "), base, check.cast("string")))
        .when(id % 9 === 5,
          concat(lit(" ref "), base, ((check + 1) % 10).cast("string")))
        .when(id % 9 === 7, lit(" order 123456789012 closed"))
        .otherwise(lit("")))
    graft.pipeline.Corpus.piiCards(
      Tables.documents(s, d).select(id, aug.as("text")))
  }

  lazy val tLuhnSql: String = {
    val luhn = (c: String) =>
      s"""list_sum(list_transform(range(1, length($c) + 1), i ->
         |  CASE WHEN (length($c) - i) % 2 = 1
         |       THEN 2 * substr($c, i::INT, 1)::BIGINT
         |            - CASE WHEN substr($c, i::INT, 1)::BIGINT > 4 THEN 9 ELSE 0 END
         |       ELSE substr($c, i::INT, 1)::BIGINT END)) % 10 = 0""".stripMargin
    s"""WITH b AS (SELECT doc_id, text,
       |    lpad((doc_id * 7919 % 1000000000000000)::VARCHAR, 15, '0') AS base
       |  FROM documents),
       |ck AS (SELECT doc_id, text, base,
       |    (10 - list_sum(list_transform(range(1, 16), j ->
       |      CASE WHEN j % 2 = 1
       |           THEN 2 * substr(base, j::INT, 1)::BIGINT
       |                - CASE WHEN substr(base, j::INT, 1)::BIGINT > 4 THEN 9 ELSE 0 END
       |           ELSE substr(base, j::INT, 1)::BIGINT END)) % 10) % 10 AS c
       |  FROM b),
       |aug AS (SELECT doc_id, text || CASE
       |    WHEN doc_id % 9 = 2 THEN ' pay ' || base || c::VARCHAR
       |    WHEN doc_id % 9 = 5 THEN ' ref ' || base || ((c + 1) % 10)::VARCHAR
       |    WHEN doc_id % 9 = 7 THEN ' order 123456789012 closed'
       |    ELSE '' END AS text FROM ck),
       |x AS (SELECT doc_id, text,
       |    regexp_extract_all(text, '\\b\\d{13,19}\\b') AS cands
       |  FROM aug),
       |v AS (SELECT doc_id, text, cands,
       |    list_filter(cands, c -> ${luhn("c")}) AS valid
       |  FROM x)
       |SELECT doc_id, len(cands)::BIGINT AS n_candidates,
       |  len(valid)::BIGINT AS n_valid,
       |  list_reduce(list_prepend(text, valid),
       |    (t, c) -> replace(t, c, '<CARD>')) AS redacted
       |FROM v""".stripMargin
  }

  /** t_fertility — per-language TOKENIZER FERTILITY (subword tokens per
    * whitespace word — the standard multilingual tokenizer-quality
    * metric; high fertility = the tokenizer fragments that language):
    * BPE-ish subword counts ([[tBpeTokens]]'s pre-tokenization regex)
    * over normalized word counts, aggregated per language. Integer sums
    * (one partial-agg groupBy on the bounded lang key), one rounded
    * division at the end. */
  val tFertility: Q = (s, d) =>
    Tables.documents(s, d).select(col("lang"),
        TextFunctions.tokenCount(col("text")).cast("long").as("w"),
        size(expr("regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\\\s]', 0)"))
          .cast("long").as("sw"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("n_words"),
        sum(col("sw")).as("n_subwords"),
        round(sum(col("sw")).cast("double") /
          greatest(sum(col("w")), lit(1L)), 4).as("fertility"))

  lazy val tFertilitySql: String =
    s"""WITH t AS (SELECT lang,
       |    (CASE WHEN length($normSql) = 0 THEN 0
       |     ELSE len(string_split($normSql, ' ')) END)::BIGINT AS w,
       |    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::BIGINT AS sw
       |  FROM documents)
       |SELECT lang, count(*)::BIGINT AS n_docs, sum(w)::BIGINT AS n_words,
       |  sum(sw)::BIGINT AS n_subwords,
       |  round(sum(sw)::DOUBLE / greatest(sum(w), 1), 4) AS fertility
       |FROM t GROUP BY lang""".stripMargin

  /** t_entropy — [[graft.pipeline.Corpus.tokenEntropy]]: per-document
    * Shannon entropy of the token distribution, in the factored
    * integer-argument form `log2(n) − (Σ c·log2 c)/n`. */
  val tEntropy: Q = (s, d) =>
    graft.pipeline.Corpus.tokenEntropy(Tables.documents(s, d))

  lazy val tEntropySql: String =
    s"""WITH tok AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS tok
       |  FROM documents),
       |c AS (SELECT doc_id, tok, count(*)::BIGINT AS c
       |  FROM tok WHERE len(tok) > 0 GROUP BY 1, 2)
       |SELECT doc_id, sum(c)::BIGINT AS n_tokens, count(*)::BIGINT AS n_types,
       |  round(log2(sum(c)::DOUBLE)
       |    - sum(c::DOUBLE * log2(c::DOUBLE)) / sum(c)::DOUBLE, 4) + 0.0 AS entropy
       |FROM c GROUP BY doc_id""".stripMargin

  /** d_url_dedup — [[graft.pipeline.Corpus.dedupByUrl]]: URL
    * canonicalization + recrawl collapse. URLs are synthesized IN-PLAN
    * (the sources are bare tokens) with deliberate variant noise —
    * mixed-case schemes, `www.` vs bare host, tracking queries,
    * trailing slashes — so the canonicalizer's every rule is what
    * makes variants collide; (source, doc_id%40) collisions make
    * n_dups > 1 rows real. */
  val dUrlDedup: Q = (s, d) => {
    val aug = Tables.documents(s, d).withColumn("url",
      concat(
        when(col("doc_id") % 2 === 0, lit("https://WWW."))
          .otherwise(lit("HTTP://")),
        col("source"), lit(".example.com/Page/"),
        (col("doc_id") % 40).cast("string"),
        when(col("doc_id") % 3 === 0, lit("?utm_source=x&ref=y"))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit("/")).otherwise(lit(""))))
    Corpus.dedupByUrl(aug, col("url"))
  }

  val dUrlDedupSql: String =
    """WITH aug AS (SELECT doc_id,
      |    (CASE WHEN doc_id % 2 = 0 THEN 'https://WWW.' ELSE 'HTTP://' END)
      |    || source || '.example.com/Page/' || (doc_id % 40)
      |    || (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=x&ref=y' ELSE '' END)
      |    || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END) AS url
      |  FROM documents),
      |c0 AS (SELECT doc_id,
      |    regexp_replace(regexp_replace(url, '(?i)^[a-z][a-z0-9+.-]*://', ''),
      |      '(?i)^(www\.)+', '') AS nw FROM aug),
      |c1 AS (SELECT doc_id, split_part(nw, '/', 1) AS host,
      |    substr(nw, length(split_part(nw, '/', 1)) + 1) AS rest FROM c0),
      |c2 AS (SELECT doc_id, lower(host) ||
      |    regexp_replace(regexp_replace(rest, '[?#].*$', ''), '/+$', '')
      |    AS canonical_url FROM c1)
      |SELECT canonical_url, min(doc_id) AS doc_id, count(*)::BIGINT AS n_dups
      |FROM c2 GROUP BY canonical_url""".stripMargin

  /** t_code — [[graft.pipeline.Corpus.codeScreen]], the StarCoder-style
    * code-data screen. The corpus is single-line prose, so documents
    * are augmented IN-PLAN (the t_gopher pattern) to make every rule
    * decide both ways: every 5th doc gains a 1200-char minified line
    * (max-line drop), every 5th+1 splits into one word per line (short
    * lines, keep), every 5th+2 becomes a symbol blob (alnum-fraction
    * drop); the rest screen on their natural geometry (long one-liners
    * fail the mean-line rule). */
  val tCode: Q = (s, d) => {
    val id = col("doc_id")
    val aug = when(id % 5 === 0,
        concat(col("text"), lit("\n"), repeat(lit("x"), 1200)))
      .when(id % 5 === 1, regexp_replace(col("text"), " ", "\n"))
      .when(id % 5 === 2, repeat(lit("@#$%^&*()!~ "), 40))
      .otherwise(col("text"))
    graft.pipeline.Corpus.codeScreen(
      Tables.documents(s, d).select(id, aug.as("text")))
  }

  val tCodeSql: String =
    """WITH aug AS (SELECT doc_id, CASE
      |    WHEN doc_id % 5 = 0 THEN text || chr(10) || repeat('x', 1200)
      |    WHEN doc_id % 5 = 1 THEN replace(text, ' ', chr(10))
      |    WHEN doc_id % 5 = 2 THEN repeat('@#$%^&*()!~ ', 40)
      |    ELSE text END AS text FROM documents),
      |r AS (SELECT doc_id,
      |    len(string_split(text, chr(10)))::BIGINT AS n_lines,
      |    list_max(list_transform(string_split(text, chr(10)), x -> length(x)))::BIGINT AS max_line_len,
      |    list_sum(list_transform(string_split(text, chr(10)), x -> length(x)))::BIGINT AS tot,
      |    length(text)::BIGINT AS nchars,
      |    length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))::BIGINT AS alnum
      |  FROM aug)
      |SELECT doc_id, n_lines, max_line_len,
      |  round(tot::DOUBLE / greatest(n_lines, 1), 4) AS avg_line_len,
      |  round(alnum::DOUBLE / greatest(nchars, 1), 4) AS alnum_frac,
      |  (CASE WHEN max_line_len <= 1000 AND tot <= 100 * n_lines
      |        AND 4 * alnum >= nchars THEN 1 ELSE 0 END)::INT AS keep
      |FROM r""".stripMargin

  /** t_c4 — [[graft.pipeline.Corpus.c4Clean]], the C4 line-level
    * cleaning recipe. The corpus is single-line unpunctuated prose, so
    * documents are augmented IN-PLAN (the t_gopher pattern) to make
    * every rule decide both ways: `doc_id % 3 == 0` gives the base line
    * a terminal period (line kept, 1 sentence); `% 7` appends in turn a
    * too-short line, a `{`-bearing line (page drop), a "Lorem Ipsum"
    * line (page drop), a "Javascript" line (line drop), a 3-sentence
    * paragraph (page keep), and a 2-sentence paragraph — the last
    * reaching the ≥3-sentence page bar only when the base line also
    * kept its period, pinning the exactly-at-3 boundary on real rows. */
  val tC4: Q = (s, d) => {
    val id = col("doc_id")
    val aug = concat(
      col("text"),
      when(id % 3 === 0, lit(".")).otherwise(lit("")),
      when(id % 7 === 0, lit("\nA short line."))
        .when(id % 7 === 1, lit("\nfunction f() { return 1; }"))
        .when(id % 7 === 2, lit("\nLorem Ipsum dolor sit amet for padding here."))
        .when(id % 7 === 3, lit("\nPlease enable Javascript to view the content here."))
        .when(id % 7 === 4, lit("\nA good first sentence is right here. A good second sentence follows it now. And here is the third one!"))
        .when(id % 7 === 5, lit("\nAnother complete sentence appears right here today! And one more full sentence lands right here too."))
        .otherwise(lit("")))
    Corpus.c4Clean(Tables.documents(s, d).select(id, aug.as("text")))
  }

  lazy val tC4Sql: String =
    s"""WITH aug AS (SELECT doc_id, text
       |    || CASE WHEN doc_id % 3 = 0 THEN '.' ELSE '' END
       |    || CASE
       |    WHEN doc_id % 7 = 0 THEN chr(10) || 'A short line.'
       |    WHEN doc_id % 7 = 1 THEN chr(10) || 'function f() { return 1; }'
       |    WHEN doc_id % 7 = 2 THEN chr(10) || 'Lorem Ipsum dolor sit amet for padding here.'
       |    WHEN doc_id % 7 = 3 THEN chr(10) || 'Please enable Javascript to view the content here.'
       |    WHEN doc_id % 7 = 4 THEN chr(10) || 'A good first sentence is right here. A good second sentence follows it now. And here is the third one!'
       |    WHEN doc_id % 7 = 5 THEN chr(10) || 'Another complete sentence appears right here today! And one more full sentence lands right here too.'
       |    ELSE '' END AS text FROM documents),
       |t AS (SELECT doc_id,
       |    string_split(text, chr(10)) AS lns,
       |    list_filter(string_split(text, chr(10)), l ->
       |      right(trim(l), 1) IN ('.', '!', '?', '"', '”')
       |      AND len(list_filter(regexp_split_to_array(trim(l), '\\s+'), w -> len(w) > 0)) >= 5
       |      AND NOT contains(lower(l), 'javascript')) AS kept,
       |    (contains(lower(text), 'lorem ipsum') OR contains(text, '{')) AS page_bad
       |  FROM aug),
       |c AS (SELECT doc_id, len(lns)::BIGINT AS n_lines,
       |    len(kept)::BIGINT AS n_kept_lines,
       |    coalesce(array_to_string(kept, chr(10)), '') AS clean, page_bad
       |  FROM t)
       |SELECT doc_id, n_lines, n_kept_lines,
       |  len(regexp_extract_all(clean, '[.!?]'))::BIGINT AS n_sentences,
       |  length(clean)::BIGINT AS clean_len,
       |  CASE WHEN len(regexp_extract_all(clean, '[.!?]')) >= 3 AND NOT page_bad
       |       THEN clean ELSE '' END AS clean_text,
       |  (CASE WHEN len(regexp_extract_all(clean, '[.!?]')) >= 3 AND NOT page_bad
       |        THEN 1 ELSE 0 END)::INT AS keep
       |FROM c""".stripMargin

  /** t_mojibake — [[graft.pipeline.Corpus.mojibakeScreen]]: the
    * encoding-damage inventory. The synthetic corpus is clean ASCII, so
    * damage is injected IN-PLAN (the t_c4 pattern): `% 3` appends
    * double-UTF-8 `Ã©` runs, `% 4` appends CP1252-mangled `â€™` runs,
    * `% 5` appends U+FFFD replacement characters — so every marker
    * class and the integer-ppm quarantine threshold decide real rows
    * both ways. The oracle spells the counts as substring-replace
    * length deltas (an independent spelling of regexp_count). */
  val tMojibake: Q = (s, d) => {
    val aug = concat(col("text"),
      expr("repeat('Ã©', CAST(doc_id % 3 AS INT))"),
      expr("repeat('â€™', CAST(doc_id % 4 AS INT))"),
      expr("repeat('�', CAST(doc_id % 5 AS INT))"))
    Corpus.mojibakeScreen(
      Tables.documents(s, d).select(col("doc_id"), aug.as("text")),
      col("text"))
  }

  lazy val tMojibakeSql: String =
    """WITH aug AS (SELECT doc_id, text
      |    || repeat('Ã©', (doc_id % 3)::INT)
      |    || repeat('â€™', (doc_id % 4)::INT)
      |    || repeat(chr(65533), (doc_id % 5)::INT) AS t FROM documents),
      |c AS (SELECT doc_id,
      |    (length(t) - length(replace(t, chr(65533), '')))::BIGINT AS n_fffd,
      |    (length(t) - length(replace(t, 'Ã', '')))::BIGINT AS n_double_utf8,
      |    ((length(t) - length(replace(t, 'â€', ''))) // 2)::BIGINT AS n_cp1252,
      |    length(t)::BIGINT AS len
      |  FROM aug)
      |SELECT doc_id, n_fffd, n_double_utf8, n_cp1252,
      |  (1000000 * (4 * n_fffd + 2 * n_double_utf8 + 3 * n_cp1252)
      |     // greatest(len, 1))::BIGINT AS moji_ppm,
      |  CASE WHEN 1000000 * (4 * n_fffd + 2 * n_double_utf8 + 3 * n_cp1252)
      |     // greatest(len, 1) > 2000
      |       THEN 'quarantine' ELSE 'clean' END AS verdict
      |FROM c""".stripMargin

  /** t_rake — RAKE keyword extraction
    * ([[graft.pipeline.Corpus.rakeKeywords]]): corpus-global top-20
    * candidate phrases (stopword/punctuation islands, ≤4 words) by
    * degree/frequency word scores in exact integer milli-units. The
    * oracle replays islands via pos − row_number and zip-unnests token
    * positions. */
  val tRake: Q = (s, d) =>
    Corpus.rakeKeywords(Tables.documents(s, d),
      Seq("a", "the", "of", "and", "in", "to", "is"), k = 20)

  lazy val tRakeSql: String =
    """WITH base AS (SELECT doc_id,
      |    string_split(regexp_replace(lower(text), '[^a-z]+', ' ', 'g'), ' ') AS t
      |  FROM documents),
      |toks AS (SELECT doc_id, unnest(range(1, len(t) + 1))::INT AS pos,
      |    unnest(t) AS w FROM base),
      |ns AS (SELECT doc_id, pos, w,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
      |  FROM toks WHERE w <> ''
      |    AND w NOT IN ('a', 'the', 'of', 'and', 'in', 'to', 'is')),
      |phr AS MATERIALIZED (SELECT doc_id, pos - rn AS run,
      |    string_agg(w, ' ' ORDER BY pos) AS phrase, count(*) AS plen
      |  FROM ns GROUP BY doc_id, pos - rn HAVING count(*) <= 4),
      |pw AS MATERIALIZED (SELECT phrase, plen,
      |    unnest(string_split(phrase, ' ')) AS w FROM phr),
      |ws AS (SELECT w, 1000 * sum(plen) // count(*) AS wscore
      |  FROM pw GROUP BY w),
      |tot AS (SELECT p.phrase, sum(ws.wscore) AS tot
      |  FROM pw p JOIN ws USING (w) GROUP BY 1),
      |cnt AS (SELECT phrase, count(*) AS n_occurrences FROM phr GROUP BY 1)
      |SELECT c.phrase, c.n_occurrences::BIGINT AS n_occurrences,
      |  (t.tot // c.n_occurrences)::BIGINT AS score_milli,
      |  row_number() OVER (ORDER BY t.tot // c.n_occurrences DESC,
      |    c.phrase ASC)::INT AS rank
      |FROM cnt c JOIN tot t USING (phrase)
      |QUALIFY rank <= 20""".stripMargin

  /** t_blocklist — domain blocklist screen
    * ([[graft.pipeline.Corpus.domainBlocklist]]): URLs synthesized
    * IN-PLAN (the d_url_dedup pattern) with mixed-case schemes/labels,
    * 0-2 subdomain levels and two TLD families; the blocklist blocks
    * one whole TLD family by SUFFIX (`ads.net`) and one exact source
    * host (`src3.example.com`), plus a never-matching entry. Closed-
    * form oracle predicts every verdict. */
  val tBlocklist: Q = (s, d) => {
    val id = col("doc_id")
    val aug = Tables.documents(s, d).withColumn("url",
      concat(lit("HTTPS://"),
        when(id % 3 === 0, lit("")).when(id % 3 === 1, lit("SUB."))
          .otherwise(lit("deep.Sub.")),
        col("source"),
        when(id % 4 === 0, lit(".ads.net")).otherwise(lit(".example.com")),
        lit("/p/"), id.cast("string")))
    Corpus.domainBlocklist(aug, col("url"),
      Seq("ads.net", "src3.example.com", "tracker.io"))
  }

  val tBlocklistSql: String =
    """SELECT doc_id,
      |  lower((CASE doc_id % 3 WHEN 0 THEN '' WHEN 1 THEN 'SUB.'
      |         ELSE 'deep.Sub.' END)
      |    || source
      |    || CASE WHEN doc_id % 4 = 0 THEN '.ads.net'
      |            ELSE '.example.com' END) AS host,
      |  CASE WHEN doc_id % 4 = 0 THEN 'ads.net'
      |       WHEN source = 'src3' THEN 'src3.example.com' END AS blocked_by,
      |  (CASE WHEN doc_id % 4 = 0 OR source = 'src3' THEN 0
      |        ELSE 1 END)::INT AS keep
      |FROM documents""".stripMargin

  /** t_gopher — [[graft.pipeline.Corpus.gopherScreen]], the published
    * Gopher rule screen. The corpus is single-line, so some documents
    * are augmented IN-PLAN (the st_screen/m_headers pattern: real
    * kernel, synthesized payload, closed-form oracle) with bullet
    * lists, an at-the-0.9-boundary bullet page, and a `#`-symbol tail —
    * making every rule family (words, mean length, symbols, bullets,
    * ellipses, alpha words, stop words) decide real rows both ways. */
  val tGopher: Q = (s, d) => {
    // the synthetic vocabulary holds only ONE Gopher stop word ("the"),
    // so even doc_ids get two more appended — the ≥2-distinct-stops rule
    // then decides rows both ways instead of rejecting everything
    val aug = Tables.documents(s, d).withColumn("text",
      concat(col("text"),
        when(col("doc_id") % 11 === 1, lit(" # # # # # # # #"))
          .when(col("doc_id") % 5 === 0,
            lit("\n- item one\n- item two\nmore text..."))
          .when(col("doc_id") % 5 === 3,
            lit(Seq.fill(9)("\n- b").mkString))
          .otherwise(lit("")),
        when(col("doc_id") % 2 === 0, lit(" and that")).otherwise(lit(""))))
    Corpus.gopherScreen(aug)
  }

  lazy val tGopherSql: String = {
    val stops = TextFunctions.gopherStopwords
      .map(w => s"(CASE WHEN list_contains(ntoks, '$w') THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH aug AS (SELECT doc_id, text || CASE
       |    WHEN doc_id % 11 = 1 THEN ' # # # # # # # #'
       |    WHEN doc_id % 5 = 0 THEN chr(10) || '- item one' || chr(10) || '- item two' || chr(10) || 'more text...'
       |    WHEN doc_id % 5 = 3 THEN repeat(chr(10) || '- b', 9)
       |    ELSE '' END
       |    || CASE WHEN doc_id % 2 = 0 THEN ' and that' ELSE '' END AS text FROM documents),
       |t AS (SELECT doc_id,
       |    list_filter(regexp_split_to_array(text, '\\s+'), x -> len(x) > 0) AS toks,
       |    list_filter(regexp_split_to_array(text, chr(10)), x -> len(trim(x)) > 0) AS lns,
       |    len(regexp_extract_all(text, '#|\\.\\.\\.')) AS n_sym,
       |    string_split($normSql, ' ') AS ntoks
       |  FROM aug),
       |s AS (SELECT doc_id,
       |    len(toks)::BIGINT AS n_words,
       |    coalesce(list_sum(list_transform(toks, x -> strlen(x))), 0)::BIGINT AS tot_len,
       |    n_sym::BIGINT AS n_sym,
       |    len(lns)::BIGINT AS n_lines,
       |    len(list_filter(lns, x -> substr(trim(x), 1, 1) IN ('-', '*', '•')))::BIGINT AS n_bullet,
       |    len(list_filter(lns, x -> ends_with(trim(x), '...') OR ends_with(trim(x), '…')))::BIGINT AS n_ellip,
       |    len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))::BIGINT AS n_alpha,
       |    ($stops)::BIGINT AS n_stops
       |  FROM t)
       |SELECT doc_id, n_words,
       |  round(tot_len::DOUBLE / greatest(n_words, 1), 4) AS mean_word_len,
       |  round(n_sym::DOUBLE / greatest(n_words, 1), 4) AS symbol_ratio,
       |  round(n_bullet::DOUBLE / greatest(n_lines, 1), 4) AS bullet_frac,
       |  round(n_ellip::DOUBLE / greatest(n_lines, 1), 4) AS ellipsis_frac,
       |  round(n_alpha::DOUBLE / greatest(n_words, 1), 4) AS alpha_word_frac,
       |  n_stop_hits, keep FROM (
       |  SELECT *, n_stops AS n_stop_hits,
       |    (CASE WHEN n_words >= 50 AND n_words <= 100000
       |      AND tot_len >= 3 * n_words AND tot_len <= 10 * n_words
       |      AND 10 * n_sym <= n_words
       |      AND 10 * n_bullet <= 9 * n_lines
       |      AND 10 * n_ellip <= 3 * n_lines
       |      AND 5 * n_alpha >= 4 * n_words
       |      AND n_stops >= 2 THEN 1 ELSE 0 END)::INT AS keep
       |  FROM s)""".stripMargin
  }

  val tQuality: Q = (s, d) =>
    Tables.documents(s, d).select(col("doc_id"),
      TextFunctions.alphaRatio(col("text")).as("alpha_ratio"),
      TextFunctions.stopwordRatio(col("text")).as("stop_ratio"),
      TextFunctions.meanTokenLen(col("text")).as("mean_tok_len"),
      TextFunctions.qualityScore(col("text")).as("quality"))

  /** quality-score expression, DuckDB side (shared by t_quality and the
    * composed p_clean_corpus) — the integer-exact composite mirroring
    * TextFunctions.qualityScore. */
  private lazy val qualityExprSql: String = {
    val toks = s"string_split($normSql, ' ')"
    val stopList = TextFunctions.stopwords.map(w => s"'$w'").mkString("[", ",", "]")
    val nTok = s"CASE WHEN length($normSql) = 0 THEN 0 ELSE len($toks) END"
    val aN = "(length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')))::BIGINT"
    val lN = "greatest(length(text), 1)::BIGINT"
    val tN = s"greatest($nTok, 1)::BIGINT"
    val sN = s"len(list_filter($toks, t -> list_contains($stopList, t)))::BIGINT"
    val lbNum = "(CASE WHEN length(text) BETWEEN 100 AND 5000 THEN 1 WHEN length(text) < 100 THEN length(text) ELSE 1 END)::BIGINT"
    val lbDen = "(CASE WHEN length(text) BETWEEN 100 AND 5000 THEN 1 WHEN length(text) < 100 THEN 100 ELSE 2 END)::BIGINT"
    s"""round((5 * $aN * $tN * $lbDen + 3 * $lbNum * $lN * $tN + 2 * ($tN - $sN) * $lN * $lbDen)::DOUBLE
       |      / (10 * $lN * $tN * $lbDen)::DOUBLE, 4)""".stripMargin
  }

  val tQualitySql: String = {
    val toks = s"string_split($normSql, ' ')"
    val stopList = TextFunctions.stopwords.map(w => s"'$w'").mkString("[", ",", "]")
    val alpha = s"round((length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')))::DOUBLE / greatest(length(text), 1), 4)"
    val stopR = s"round(len(list_filter($toks, t -> list_contains($stopList, t)))::DOUBLE / greatest(len($toks), 1), 4)"
    val nTok = s"CASE WHEN length($normSql) = 0 THEN 0 ELSE len($toks) END"
    val meanL = s"round(list_sum(list_transform($toks, t -> length(t)))::DOUBLE / greatest($nTok, 1), 4)"
    s"""SELECT doc_id, $alpha AS alpha_ratio, $stopR AS stop_ratio, $meanL AS mean_tok_len,
       |$qualityExprSql AS quality
       |FROM documents""".stripMargin
  }

  /** t_quality_train — IN-ENGINE quality-classifier training
    * ([[graft.pipeline.Corpus.trainQualityClassifier]]): 3 batch-GD
    * rounds on the round-4 quality features with hard-sigmoid margins
    * (no exp — engines disagree at the last ulp; the clip surrogate is
    * pure +,×), round-6 gradient terms DECIMAL-summed, HALF_UP-6 weight
    * updates. The oracle unrolls all three rounds. */
  val tQualityTrain: Q = (s, d) =>
    Corpus.trainQualityClassifier(Tables.documents(s, d), rounds = 3)

  val tQualityTrainSql: String = {
    val toks = s"string_split($normSql, ' ')"
    val stopList =
      TextFunctions.stopwords.map(w => s"'$w'").mkString("[", ",", "]")
    val alpha = "round((length(text) - length(regexp_replace(text, " +
      "'[a-zA-Z]', '', 'g')))::DOUBLE / greatest(length(text), 1), 4)"
    val stopR = s"round(len(list_filter($toks, t -> list_contains(" +
      s"$stopList, t)))::DOUBLE / greatest(len($toks), 1), 4)"
    val x3 = "round(least(length(text), 2000)::DOUBLE / 2000, 4)"
    val y = s"(CASE WHEN $qualityExprSql >= 0.5 THEN 1 ELSE 0 END)::DOUBLE"
    def iter(k: Int): String =
      s"""g$k AS (SELECT
         |  sum(round(err, 6)::DECIMAL(28,6)) AS g0,
         |  sum(round(err * x1, 6)::DECIMAL(28,6)) AS g1,
         |  sum(round(err * x2, 6)::DECIMAL(28,6)) AS g2,
         |  sum(round(err * x3, 6)::DECIMAL(28,6)) AS g3
         |  FROM (SELECT x1, x2, x3,
         |    greatest(0.0::DOUBLE, least(1.0::DOUBLE,
         |      0.25::DOUBLE * round(w.a + w.b * x1 + w.c * x2 + w.d * x3, 6)
         |      + 0.5::DOUBLE)) - y AS err
         |  FROM feats, w${k - 1} w)),
         |w$k AS (SELECT
         |  round(w.a - 1.0::DOUBLE * g.g0::DOUBLE / (SELECT n FROM nn), 6) AS a,
         |  round(w.b - 1.0::DOUBLE * g.g1::DOUBLE / (SELECT n FROM nn), 6) AS b,
         |  round(w.c - 1.0::DOUBLE * g.g2::DOUBLE / (SELECT n FROM nn), 6) AS c,
         |  round(w.d - 1.0::DOUBLE * g.g3::DOUBLE / (SELECT n FROM nn), 6) AS d
         |  FROM w${k - 1} w, g$k g)""".stripMargin
    s"""WITH feats AS MATERIALIZED (SELECT
       |  $alpha AS x1, $stopR AS x2, $x3 AS x3, $y AS y FROM documents),
       |nn AS (SELECT count(*)::DOUBLE AS n FROM feats),
       |w0 AS (SELECT 0.0::DOUBLE AS a, 0.0::DOUBLE AS b,
       |  0.0::DOUBLE AS c, 0.0::DOUBLE AS d),
       |${(1 to 3).map(iter).mkString(",\n")}
       |SELECT 0::INT AS feature, (a + 0.0) AS weight FROM w3
       |UNION ALL SELECT 1::INT, (b + 0.0) FROM w3
       |UNION ALL SELECT 2::INT, (c + 0.0) FROM w3
       |UNION ALL SELECT 3::INT, (d + 0.0) FROM w3""".stripMargin
  }

  /** The composed cleaning pipeline in ONE declared query — the shape a
    * training-data run actually executes: quality-gate → exact dedup
    * (first-seen keeper per normalized fingerprint) → per-keeper token
    * stats. One filter + one shuffle (the dedup groupBy) + one keeper
    * join; the oracle replays the identical composition. */
  val pCleanCorpus: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val kept = docs
      .filter(TextFunctions.qualityScore(col("text")) >= 0.5)
      .withColumn("fp", md5(TextFunctions.normalize(col("text"))))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("dup_count"))
    kept.join(docs, "doc_id")
      .select(col("doc_id"), col("dup_count"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
  }

  val pCleanCorpusSql: String =
    s"""WITH scored AS (SELECT doc_id, text FROM documents WHERE $qualityExprSql >= 0.5),
       |kept AS (SELECT md5($normSql) AS fp, min(doc_id) AS doc_id, count(*) AS dup_count
       |         FROM scored GROUP BY 1)
       |SELECT k.doc_id, k.dup_count,
       |  (CASE WHEN length($normSql) = 0 THEN 0 ELSE len(string_split($normSql, ' ')) END)::BIGINT AS n_tokens
       |FROM kept k JOIN documents USING (doc_id)""".stripMargin

  /** Language-ID heuristic: marker-set scoring with fixed tie order. */
  val tLangId: Q = (s, d) =>
    Tables.documents(s, d).select(col("doc_id"),
      TextFunctions.langIdGuess(col("text")).as("lang_guess"))

  val tLangIdSql: String = {
    val toks = s"string_split($normSql, ' ')"
    // greatest(struct(score, prio, lang)) ≡ SQL: pick max by (score, prio)
    val scored = TextFunctions.langMarkers.zipWithIndex.map { case ((lang, ms), idx) =>
      val lst = ms.map(m => s"'$m'").mkString("[", ",", "]")
      val prio = TextFunctions.langMarkers.size - idx
      s"(len(list_filter($toks, t -> list_contains($lst, t))), $prio, '$lang')"
    }.mkString(", ")
    val allMarkers = TextFunctions.langMarkers.flatMap(_._2).map(m => s"'$m'").mkString("[", ",", "]")
    s"""SELECT doc_id, CASE WHEN len(list_filter($toks, t -> list_contains($allMarkers, t))) = 0 THEN 'unknown'
       |ELSE (SELECT g[3] FROM (SELECT unnest([$scored]) AS g) ORDER BY g[1]::INT DESC, g[2]::INT DESC LIMIT 1) END AS lang_guess
       |FROM documents""".stripMargin
  }

  /** Document fingerprinting: md5 of normalized text + 63-bit rolling hash. */
  val tFingerprint: Q = (s, d) =>
    Tables.documents(s, d).select(col("doc_id"),
      TextFunctions.fingerprintMd5(col("text")).as("fp_md5"),
      TextFunctions.rollingHash(TextFunctions.normalize(col("text"))).as("fp_roll"))

  val tFingerprintSql: String =
    s"""SELECT doc_id, md5($normSql) AS fp_md5,
       |list_reduce(list_prepend(0::BIGINT, list_transform(string_split($normSql, ''), c -> ascii(c)::BIGINT)),
       |            (a, c) -> (a * 31 + c) % 2147483647) AS fp_roll
       |FROM documents""".stripMargin

  // ---------------------------------------------------------------- dedup

  /** d_cdc — content-defined chunking dedup
    * ([[graft.pipeline.Dedup.cdcChunks]], window=8, modulus=64): hash-
    * derived chunk boundaries, chunk-fingerprint dedup stats per doc.
    * The oracle replays the identical boundary rule with DuckDB list
    * HOFs — the rolling hash, residue class, chunk slicing and
    * fingerprints are the same spelling in both engines. */
  val dCdc: Q = (s, d) =>
    Dedup.cdcChunks(Tables.documents(s, d))

  lazy val dCdcSql: String = {
    def rollh(c: String) = "list_reduce(list_prepend(0::BIGINT, " +
      s"list_transform(string_split($c, ''), ch -> ascii(ch)::BIGINT)), " +
      "(a, ch) -> (a * 31 + ch) % 2147483647)"
    s"""WITH base AS (SELECT doc_id, text, length(text)::INT AS len
       |  FROM documents WHERE length(text) > 0),
       |bnd AS (SELECT doc_id, text, len,
       |    CASE WHEN len >= 8 THEN list_filter(range(8, len + 1),
       |      p -> ${rollh("substring(text, p::INT - 7, 8)")} % 64 = 0)
       |    ELSE []::BIGINT[] END AS bs
       |  FROM base),
       |ends AS (SELECT doc_id, text,
       |    CASE WHEN list_contains(bs, len::BIGINT) THEN bs
       |         ELSE list_append(bs, len::BIGINT) END AS es
       |  FROM bnd),
       |ch AS (SELECT doc_id, unnest(list_transform(range(1, len(es) + 1),
       |    i -> ${rollh("substring(text, (CASE WHEN i = 1 THEN 0 ELSE es[i::INT - 1] END)::INT + 1, (es[i::INT] - CASE WHEN i = 1 THEN 0 ELSE es[i::INT - 1] END)::INT)")})) AS fp
       |  FROM ends),
       |dup AS (SELECT fp FROM ch GROUP BY fp
       |  HAVING count(DISTINCT doc_id) >= 2)
       |SELECT c.doc_id, count(*)::BIGINT AS n_chunks,
       |  sum(CASE WHEN d.fp IS NULL THEN 0 ELSE 1 END)::BIGINT AS n_dup_chunks,
       |  round(sum(CASE WHEN d.fp IS NULL THEN 0 ELSE 1 END)::DOUBLE / count(*), 4) AS dup_chunk_frac
       |FROM ch c LEFT JOIN dup d USING (fp) GROUP BY c.doc_id""".stripMargin
  }

  /** Exact dedup groups by content fingerprint. */
  val dExact: Q = (s, d) =>
    Dedup.exact(Tables.documents(s, d))

  val dExactSql: String =
    s"""SELECT md5($normSql) AS fp, min(doc_id) AS keeper_id, count(*) AS dup_count
       |FROM documents GROUP BY 1""".stripMargin

  /** d_priority_dedup — source-priority dedup
    * ([[graft.pipeline.Dedup.priorityDedup]]): among exact duplicates
    * the copy from the most trusted source wins (numeric source suffix
    * as the trust order here), doc_id breaks ties — the "keep the
    * highest-quality copy" rule real curation runs instead of min-id.
    * Oracle uses the two-level min-priority-then-min-id pick. */
  val dPriorityDedup: Q = (s, d) =>
    graft.pipeline.Dedup.priorityDedup(Tables.documents(s, d),
      expr("cast(substring(source, 4) as int)"))

  val dPriorityDedupSql: String =
    s"""WITH f AS (SELECT doc_id, source, CAST(substr(source, 4) AS INT) AS pri,
       |  md5($normSql) AS fp FROM documents),
       |mp AS (SELECT fp, min(pri) AS mpri FROM f GROUP BY fp),
       |k AS (SELECT f.fp, min(f.doc_id) AS keeper_id FROM f
       |  JOIN mp ON f.fp = mp.fp AND f.pri = mp.mpri GROUP BY f.fp),
       |n AS (SELECT fp, count(*) AS n_copies FROM f GROUP BY fp)
       |SELECT k.fp, k.keeper_id, f2.source AS keeper_source, n.n_copies
       |FROM k JOIN f f2 ON f2.fp = k.fp AND f2.doc_id = k.keeper_id
       |JOIN n ON n.fp = k.fp""".stripMargin

  /** n-gram Jaccard near-dup pairs via shingle inverted index. */
  val dNgramJaccard: Q = (s, d) =>
    Dedup.ngramJaccardPairs(Tables.documents(s, d), k = 5, threshold = 0.2)

  private def shingleHashesSqlK(k: Int): String = {
    val toks = s"string_split($normSql, ' ')"
    val nt = s"len($toks)"
    val shingle = s"list_distinct(CASE WHEN $nt < $k THEN [array_to_string($toks, ' ')] " +
      s"ELSE list_transform(range(1, $nt - ${k - 2}), i -> array_to_string(list_slice($toks, i, i + ${k - 1}), ' ')) END)"
    s"list_distinct(list_transform($shingle, s -> list_reduce(list_prepend(0::BIGINT, " +
      s"list_transform(string_split(s, ''), c -> ascii(c)::BIGINT)), (a, c) -> (a * 31 + c) % 2147483647)))"
  }

  private val shingleHashesSql: String = shingleHashesSqlK(5)

  val dNgramJaccardSql: String =
    s"""WITH sh AS (SELECT doc_id, $shingleHashesSql AS hashes FROM documents),
       |sizes AS (SELECT doc_id, len(hashes)::BIGINT AS n FROM sh),
       |inv AS (SELECT doc_id, unnest(hashes) AS h FROM sh),
       |rare AS (SELECT h FROM inv GROUP BY h HAVING count(*) BETWEEN 2 AND 1000),
       |invr AS (SELECT i.doc_id, i.h FROM inv i JOIN rare r ON i.h = r.h),
       |common AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*)::BIGINT AS inter
       |           FROM invr x JOIN invr y ON x.h = y.h AND x.doc_id < y.doc_id GROUP BY 1, 2)
       |SELECT a, b, round(inter::DOUBLE / (sa.n + sb.n - inter), 4) AS jaccard
       |FROM common JOIN sizes sa ON common.a = sa.doc_id JOIN sizes sb ON common.b = sb.doc_id
       |WHERE round(inter::DOUBLE / (sa.n + sb.n - inter), 4) >= 0.2""".stripMargin

  /** d_containment — asymmetric containment dedup
    * ([[graft.pipeline.Dedup.containmentPairs]]): every `% 13 == 4`
    * document's text becomes the first 90 chars of its predecessor's —
    * an EMBEDDED document whose Jaccard against the original is low
    * (the size gap shrinks the union ratio) but whose containment is
    * 1.0; the gate also demonstrates the negative (the planted pairs
    * would NOT clear a same-threshold Jaccard rule). */
  val dContainment: Q = (s, d) => {
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val prevTxt = base.select((col("doc_id") + 1).as("doc_id"),
      col("text").as("prev_text"))
    val aug = base.join(prevTxt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("doc_id") % 13 === 4 && col("prev_text").isNotNull,
          substring(col("prev_text"), 1, 90)).otherwise(col("text"))
          .as("text"))
    Dedup.containmentPairs(aug, k = 5, threshold = 0.9)
  }

  val dContainmentSql: String =
    s"""WITH aug AS (SELECT b.doc_id,
       |    CASE WHEN b.doc_id % 13 = 4 AND p.text IS NOT NULL
       |         THEN substr(p.text, 1, 90) ELSE b.text END AS text
       |  FROM documents b LEFT JOIN documents p ON p.doc_id = b.doc_id - 1),
       |sh AS (SELECT doc_id, $shingleHashesSql AS hashes FROM aug),
       |sizes AS (SELECT doc_id, len(hashes)::BIGINT AS n FROM sh),
       |inv AS (SELECT doc_id, unnest(hashes) AS h FROM sh),
       |rare AS (SELECT h FROM inv GROUP BY h HAVING count(*) BETWEEN 2 AND 1000),
       |invr AS (SELECT i.doc_id, i.h FROM inv i JOIN rare r ON i.h = r.h),
       |common AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*)::BIGINT AS inter
       |           FROM invr x JOIN invr y ON x.h = y.h AND x.doc_id < y.doc_id GROUP BY 1, 2)
       |SELECT a, b, round(inter::DOUBLE / least(sa.n, sb.n), 4) AS containment,
       |  CASE WHEN sa.n <= sb.n THEN a ELSE b END AS contained
       |FROM common JOIN sizes sa ON common.a = sa.doc_id JOIN sizes sb ON common.b = sb.doc_id
       |WHERE round(inter::DOUBLE / least(sa.n, sb.n), 4) >= 0.9""".stripMargin

  /** d_fuzzy_join — cross-table fuzzy entity matching
    * ([[graft.pipeline.Dedup.fuzzyJoin]]): odd doc_ids are the query
    * table, even doc_ids the catalog; each query links to its best
    * catalog match by 5-gram Jaccard ≥ 0.2 (the record-linkage shape —
    * same inverted-index spine as d_ngram_jaccard, A×B instead of
    * self-join, combined-posting-list hub cap, deterministic per-query
    * best pick). */
  val dFuzzyJoin: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    Dedup.fuzzyJoin(docs.filter(col("doc_id") % 2 === 1),
      docs.filter(col("doc_id") % 2 === 0), k = 5, threshold = 0.2)
  }

  val dFuzzyJoinSql: String =
    s"""WITH allsh AS MATERIALIZED (SELECT doc_id, $shingleHashesSql AS hashes FROM documents),
       |q AS (SELECT * FROM allsh WHERE doc_id % 2 = 1),
       |c AS (SELECT * FROM allsh WHERE doc_id % 2 = 0),
       |qsz AS (SELECT doc_id AS query_id, len(hashes)::BIGINT AS nq FROM q),
       |csz AS (SELECT doc_id AS match_id, len(hashes)::BIGINT AS nc FROM c),
       |qinv AS MATERIALIZED (SELECT doc_id AS query_id, unnest(hashes) AS h FROM q),
       |cinv AS MATERIALIZED (SELECT doc_id AS match_id, unnest(hashes) AS h FROM c),
       |rare AS (SELECT h FROM (SELECT h FROM qinv UNION ALL SELECT h FROM cinv)
       |         GROUP BY h HAVING count(*) <= 1000),
       |common AS (SELECT x.query_id, y.match_id, count(*)::BIGINT AS inter
       |           FROM qinv x JOIN rare r ON x.h = r.h JOIN cinv y ON x.h = y.h
       |           GROUP BY 1, 2),
       |scored AS (SELECT query_id, match_id,
       |             round(inter::DOUBLE / (qsz.nq + csz.nc - inter), 4) AS jaccard
       |           FROM common JOIN qsz USING (query_id) JOIN csz USING (match_id))
       |SELECT query_id, match_id, jaccard FROM (
       |  SELECT query_id, match_id, jaccard,
       |    row_number() OVER (PARTITION BY query_id ORDER BY jaccard DESC, match_id) AS rk
       |  FROM scored WHERE jaccard >= 0.2) WHERE rk = 1""".stripMargin

  /** MinHash-LSH near-dup pairs: 16 hashes, 4 bands × 4 rows, est ≥ 0.25. */
  val dMinhashLsh: Q = (s, d) =>
    Dedup.minhashLshPairs(Tables.documents(s, d), k = 5, numHashes = 16,
      bands = 4, threshold = 0.25)

  val dMinhashLshSql: String =
    s"""WITH sh AS (SELECT doc_id, $shingleHashesSql AS hashes FROM documents),
       |sig AS (SELECT doc_id, list_transform(range(1, 17), i ->
       |        list_min(list_transform(hashes, h -> (h * (2*i+1) + 104729*i) % 2147483647))) AS sig FROM sh),
       |banded AS (SELECT doc_id, sig, unnest(list_transform(range(0, 4), b ->
       |        {'band': b, 'bucket': array_to_string(list_slice(sig, b*4+1, b*4+4), '_')})) AS u FROM sig),
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, x.sig AS siga, y.sig AS sigb
       |         FROM banded x JOIN banded y ON x.u.band = y.u.band AND x.u.bucket = y.u.bucket AND x.doc_id < y.doc_id)
       |SELECT a, b, round(len(list_filter(range(1,17), i -> siga[i] = sigb[i]))::DOUBLE / 16, 4) AS est_jaccard
       |FROM cand
       |WHERE round(len(list_filter(range(1,17), i -> siga[i] = sigb[i]))::DOUBLE / 16, 4) >= 0.25""".stripMargin

  /** d_minhash_inc — INCREMENTAL near-dup screening
    * ([[graft.pipeline.Dedup.minhashIncremental]]): the odd-doc_id half
    * plays the arriving batch against the even-half base (the
    * d_incremental split), colliding through shared (band, bucket) LSH
    * keys only — per-ingest cost O(batch·bands + collisions), never
    * batch × base. Output: every batch doc with its base near-dup
    * count and the kept flag. */
  val dMinhashInc: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    Dedup.minhashIncremental(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1),
      k = 5, numHashes = 16, bands = 4, threshold = 0.25)
  }

  val dMinhashIncSql: String =
    s"""WITH sh AS (SELECT doc_id, $shingleHashesSql AS hashes FROM documents),
       |sig AS (SELECT doc_id, list_transform(range(1, 17), i ->
       |        list_min(list_transform(hashes, h -> (h * (2*i+1) + 104729*i) % 2147483647))) AS sig FROM sh),
       |banded AS (SELECT doc_id, sig, unnest(list_transform(range(0, 4), b ->
       |        {'band': b, 'bucket': array_to_string(list_slice(sig, b*4+1, b*4+4), '_')})) AS u FROM sig),
       |hits AS (SELECT x.doc_id, count(DISTINCT y.doc_id)::BIGINT AS n_base_hits
       |  FROM banded x JOIN banded y
       |    ON x.u.band = y.u.band AND x.u.bucket = y.u.bucket
       |   AND x.doc_id % 2 = 1 AND y.doc_id % 2 = 0
       |  WHERE round(len(list_filter(range(1,17), i -> x.sig[i] = y.sig[i]))::DOUBLE / 16, 4) >= 0.25
       |  GROUP BY x.doc_id)
       |SELECT d.doc_id, coalesce(h.n_base_hits, 0) AS n_base_hits,
       |  (CASE WHEN h.doc_id IS NULL THEN 1 ELSE 0 END)::INT AS kept
       |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
       |WHERE d.doc_id % 2 = 1""".stripMargin

  /** Dup-cluster formation: MinHash-LSH pairs → undirected min-label
    * propagation → canonical keeper per doc. The oracle nests the
    * d_minhash_lsh SQL as the pairs CTE and unrolls 20 MATERIALIZED
    * propagation steps — matching connectedComponents' maxIter, so even a
    * hypothetically-unconverged state is identical step-for-step. */
  val dDupClusters: Q = (s, d) =>
    Dedup.dupClusters(Tables.documents(s, d), k = 5, numHashes = 16,
      bands = 4, threshold = 0.25)

  // 21 unrolled hops: the Spark loop (maxIter=20, three hops per
  // materialization) executes AT MOST 21 hops before its bound, and
  // min-label state after exactly N hops is stepping-invariant — so the
  // two sides agree even on a pathological >20-diameter pair chain that
  // never converges within the bound
  val dDupClustersSql: String =
    s"""WITH pairs AS MATERIALIZED ($dMinhashLshSql),
       |und AS MATERIALIZED (SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs),
       |verts AS (SELECT DISTINCT src AS v FROM und),
       |l0 AS MATERIALIZED (SELECT v, v AS c FROM verts),
       |${(1 to 21).map(ccIterSql).mkString(",\n")}
       |SELECT d.doc_id, coalesce(l.c, d.doc_id) AS keeper
       |FROM documents d LEFT JOIN l21 l ON d.doc_id = l.v""".stripMargin

  /** d_softdedup — SOFT dedup weights
    * ([[graft.pipeline.Dedup.softDedupWeights]]): every doc keeps a
    * 1/cluster-size ppm weight instead of being dropped, so each
    * near-dup cluster contributes one document's worth of expected
    * training mass. The oracle nests the full d_dup_clusters chain and
    * adds the size join. */
  val dSoftdedup: Q = (s, d) =>
    Dedup.softDedupWeights(Tables.documents(s, d), k = 5, numHashes = 16,
      bands = 4, threshold = 0.25)

  lazy val dSoftdedupSql: String =
    s"""WITH cl AS MATERIALIZED ($dDupClustersSql),
       |sz AS (SELECT keeper, count(*) AS cluster_size FROM cl GROUP BY 1)
       |SELECT cl.doc_id, cl.keeper, cluster_size::BIGINT AS cluster_size,
       |  (1000000 // cluster_size)::BIGINT AS weight_ppm
       |FROM cl JOIN sz USING (keeper)""".stripMargin

  /** SimHash near-dup pairs: 62-bit signature (two 31-bit rolling-hash
    * streams), 4×16-bit bands, Hamming ≤ 6. */
  val dSimhash: Q = (s, d) =>
    Dedup.simhashPairs(Tables.documents(s, d), maxHamming = 6)

  private val tokHashesSql: String = {
    val toks = s"string_split($normSql, ' ')"
    s"list_transform($toks, t -> list_reduce(list_prepend(0::BIGINT, " +
      s"list_transform(string_split(t, ''), c -> ascii(c)::BIGINT)), (a, c) -> (a * 31 + c) % 2147483647))"
  }

  val dSimhashSql: String =
    s"""WITH th AS (SELECT doc_id, $tokHashesSql AS h1 FROM documents),
       |th2 AS (SELECT doc_id, h1, list_transform(h1, h -> (h * 1000003 + 8191) % 2147483647) AS h2 FROM th),
       |sig AS (SELECT doc_id,
       |  (list_sum(list_transform(range(0,31), j -> CASE WHEN
       |     list_sum(list_transform(h1, h -> CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END)) > 0
       |     THEN (1::BIGINT << j) ELSE 0::BIGINT END))
       |   + list_sum(list_transform(range(0,31), j -> CASE WHEN
       |     list_sum(list_transform(h2, h -> CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END)) > 0
       |     THEN (1::BIGINT << (j+31)) ELSE 0::BIGINT END)))::BIGINT AS sig FROM th2),
       |banded AS (SELECT doc_id, sig, unnest(list_transform(range(0,4), b ->
       |    {'band': b, 'bucket': (sig >> (b*16)) & 65535})) AS u FROM sig),
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, x.sig AS siga, y.sig AS sigb
       |         FROM banded x JOIN banded y ON x.u.band = y.u.band AND x.u.bucket = y.u.bucket AND x.doc_id < y.doc_id)
       |SELECT a, b, bit_count(xor(siga, sigb))::BIGINT AS hamming FROM cand
       |WHERE bit_count(xor(siga, sigb)) <= 6""".stripMargin

  // ---------------------------------------------------------------- similarity

  /** Brute-force cosine top-10 for query vectors 0–4. */
  val sCosineTopK: Q = (s, d) =>
    Similarity.bruteForceTopK(Tables.embeddings(s, d), Seq(0L, 1L, 2L, 3L, 4L), 10)

  private val cosSql =
    """round(
      |  list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)), (a, x) -> a + x)
      |  / (sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE)), (a, x) -> a + x))
      |   * sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)), (a, x) -> a + x))), 4)""".stripMargin

  /** Cosine over the first `dims` entries of two list columns, DuckDB
    * side — sequential left-to-right accumulation, the kernel's order. */
  private def listCosSql(a: String, b: String, dims: Int): String =
    s"""round(
       |  list_reduce(list_prepend(0.0, list_transform(range(1, ${dims + 1}), i -> $a[i]::DOUBLE * $b[i]::DOUBLE)), (acc, x) -> acc + x)
       |  / (sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, ${dims + 1}), i -> $a[i]::DOUBLE * $a[i]::DOUBLE)), (acc, x) -> acc + x))
       |   * sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, ${dims + 1}), i -> $b[i]::DOUBLE * $b[i]::DOUBLE)), (acc, x) -> acc + x))), 4)""".stripMargin

  /** s_mrl_ann — Matryoshka two-stage ANN
    * ([[graft.pipeline.Similarity.mrlTopK]]): 32-dim prefix shortlist
    * (top-100) then exact 64-dim re-rank — the dimension-reduction
    * funnel alongside the IVF/LSH/PQ families. Both stages replay
    * exactly (round-4 sims, vec_id tie-breaks). */
  val sMrlAnn: Q = (s, d) =>
    Similarity.mrlTopK(Tables.embeddings(s, d), Seq(0L, 1L, 2L, 3L, 4L), 10)

  lazy val sMrlAnnSql: String = {
    val c32 = listCosSql("q.qv", "c.embedding", 32)
    val c64 = listCosSql("s.qv", "s.embedding", 64)
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)),
       |coarse AS (SELECT q.query_id, c.vec_id, c.embedding, q.qv, $c32 AS csim
       |  FROM embeddings c JOIN q ON c.vec_id <> q.query_id),
       |short AS (SELECT query_id, vec_id, embedding, qv FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY csim DESC, vec_id) AS crank
       |  FROM coarse) WHERE crank <= 100)
       |SELECT s.query_id, s.vec_id, $c64 AS sim,
       |  CAST(row_number() OVER (PARTITION BY s.query_id ORDER BY $c64 DESC, s.vec_id) AS INT) AS rank
       |FROM short s
       |QUALIFY rank <= 10""".stripMargin
  }

  /** s_mmr — maximal-marginal-relevance diverse top-10 for query 0
    * ([[graft.pipeline.Similarity.mmrTopK]]): greedy
    * `0.7·sim(q,d) − 0.3·max sim(d, selected)` over the brute top-50
    * candidate set, round-6 scores, vec_id tie-break. The oracle
    * unrolls the 10 selection rounds. */
  val sMmr: Q = (s, d) =>
    Similarity.mmrTopK(Tables.embeddings(s, d), queryId = 0L)

  private def mmrRoundSql(i: Int): String =
    s"""m$i AS MATERIALIZED (SELECT c.vec_id,
       |    round(0.7 * c.simq - 0.3 * (SELECT max(p.ps) FROM pb p
       |      JOIN sel${i - 1} s ON p.a = c.vec_id AND p.b = s.vec_id), 6)
       |      AS score
       |  FROM cand c
       |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${i - 1})),
       |w$i AS MATERIALIZED (SELECT vec_id, score, $i AS rank FROM m$i
       |  ORDER BY score DESC, vec_id LIMIT 1),
       |sel$i AS MATERIALIZED (SELECT vec_id FROM sel${i - 1}
       |  UNION ALL SELECT vec_id FROM w$i)""".stripMargin

  lazy val sMmrSql: String = {
    val cq = listCosSql("q.qv", "c.embedding", 64)
    val cp = listCosSql("x.embedding", "y.embedding", 64)
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |cand AS MATERIALIZED (SELECT vec_id, simq, embedding FROM (
       |  SELECT c.vec_id, $cq AS simq, c.embedding,
       |    row_number() OVER (ORDER BY $cq DESC, c.vec_id) AS rn
       |  FROM embeddings c, q WHERE c.vec_id <> 0) WHERE rn <= 50),
       |pair AS MATERIALIZED (SELECT x.vec_id AS a, y.vec_id AS b, $cp AS ps
       |  FROM cand x JOIN cand y ON x.vec_id < y.vec_id),
       |pb AS (SELECT a, b, ps FROM pair UNION ALL SELECT b, a, ps FROM pair),
       |w1 AS MATERIALIZED (SELECT vec_id, round(0.7 * simq - 0.3 * 0.0, 6)
       |    AS score, 1 AS rank FROM cand ORDER BY score DESC, vec_id LIMIT 1),
       |sel1 AS MATERIALIZED (SELECT vec_id FROM w1),
       |${(2 to 10).map(mmrRoundSql).mkString(",\n")}
       |SELECT vec_id, score, rank::INT AS rank FROM (
       |  ${(1 to 10).map(i => s"SELECT * FROM w$i").mkString(" UNION ALL ")})""".stripMargin
  }

  val sCosineTopKSql: String =
    s"""SELECT q.vec_id AS query_id, c.vec_id, $cosSql AS sim,
       |CAST(row_number() OVER (PARTITION BY q.vec_id ORDER BY $cosSql DESC, c.vec_id) AS INT) AS rank
       |FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
       |WHERE q.vec_id IN (0, 1, 2, 3, 4)
       |QUALIFY rank <= 10""".stripMargin

  /** Sign-LSH signature expression, DuckDB side (must mirror
    * Similarity.lshSignature / SignLshSig.planeComponent exactly:
    * per-plane sequential double accumulation over j). The embedding dim
    * is interpolated from the kernel's own hard invariant
    * ([[org.apache.spark.sql.graft.SignLshSig.Dim]]) so the two sides
    * cannot silently diverge. */
  private val lshDim = org.apache.spark.sql.graft.SignLshSig.Dim
  private def lshSigSql(numPlanes: Int): String =
    s"""list_sum(list_transform(range(0,$numPlanes), i -> CASE WHEN
       |  list_reduce(list_prepend(0.0, list_transform(range(0,$lshDim), j ->
       |    embedding[j+1]::DOUBLE * ((((i*$lshDim+j)*2654435761) % 1000003)::DOUBLE / 1000003.0 - 0.5))), (a,x) -> a+x) > 0
       |  THEN (1::BIGINT << i) ELSE 0::BIGINT END))::BIGINT""".stripMargin

  /** Banded (vec_id, embedding, band, bucket) CTE body, DuckDB side (must
    * mirror Similarity.bandedBuckets: bucket = bits [band*rows, band*rows+rows)
    * of the signature). */
  private def bandedCteSql(numPlanes: Int, bands: Int): String = {
    val rows = numPlanes / bands
    s"""hashed AS (SELECT vec_id, embedding, ${lshSigSql(numPlanes)} AS sig FROM embeddings),
       |banded AS (SELECT vec_id, embedding, u.band AS band, u.bucket AS bucket FROM (
       |  SELECT vec_id, embedding, unnest(list_transform(range(0,$bands), b ->
       |    {'band': b, 'bucket': (sig >> (b*$rows)) % ${1L << rows}})) AS u FROM hashed))""".stripMargin
  }

  /** Banded-LSH ANN top-10 for query vectors 0–4: 16 planes, 4 bands of 4
    * bits, candidates = union over bands (recall < 1 by design — the
    * oracle replays the identical banding, so results still match). */
  val sLshAnn: Q = (s, d) =>
    Similarity.lshTopK(Tables.embeddings(s, d), Seq(0L, 1L, 2L, 3L, 4L), 10,
      numPlanes = 16, bands = 4)

  val sLshAnnSql: String =
    s"""WITH ${bandedCteSql(16, 4)},
       |cand AS (SELECT DISTINCT q.vec_id AS query_id, q.embedding AS qv, c.vec_id, c.embedding AS cv
       |         FROM banded q JOIN banded c ON q.band = c.band AND q.bucket = c.bucket AND c.vec_id <> q.vec_id
       |         WHERE q.vec_id IN (0, 1, 2, 3, 4))
       |SELECT query_id, vec_id, ${cosOf("qv", "cv")} AS sim,
       |CAST(row_number() OVER (PARTITION BY query_id ORDER BY ${cosOf("qv", "cv")} DESC, vec_id) AS INT) AS rank
       |FROM cand
       |QUALIFY rank <= 10""".stripMargin

  /** Cosine between two aliased list columns, DuckDB side (mirrors
    * Similarity.cosine / CosineSim exactly; 64-dim). The trailing
    * `+ 0.0` IEEE-normalizes `-0.0` (a tiny negative cosine rounded to
    * zero keeps its sign in DuckDB's round; Spark's BigDecimal-backed
    * round always yields `+0.0`) so both engines emit identical bytes. */
  /** s_pca_top — dominant principal component of the embedding corpus
    * ([[graft.pipeline.Similarity.dominantComponent]], Mu & Viswanath
    * 2018): 4 matrix-free power-iteration rounds, mean-centered,
    * decimal-routed accumulations, round-6 quantization at every float
    * boundary — the ABTT / PCA-whitening primitive that never builds
    * the d×d covariance. The oracle unrolls all four rounds. */
  val sPcaTop: Q = (s, d) =>
    Similarity.dominantComponent(Tables.embeddings(s, d), iterations = 4)

  val sPcaTopSql: String = {
    def dot(cExpr: String, wRef: String): String =
      "round(list_reduce(list_prepend(0.0, list_transform(range(1, 65), " +
        s"i -> $cExpr * $wRef[i])), (a, b) -> a + b), 6)"
    val cent = "(e.embedding[i]::DOUBLE - mu.m[i])"
    def iter(k: Int): String =
      s"""s$k AS MATERIALIZED (SELECT e.vec_id,
         |  ${dot(cent, s"w${k - 1}.w")} AS s
         |  FROM embeddings e, muarr mu, w${k - 1}),
         |y$k AS MATERIALIZED (SELECT dim,
         |  sum(round(s.s * (e.embedding[dim]::DOUBLE - mu.m[dim]), 6)
         |    ::DECIMAL(28,6)) AS y
         |  FROM embeddings e JOIN s$k s USING (vec_id), muarr mu,
         |    (SELECT unnest(range(1, 65)) AS dim) dims
         |  GROUP BY dim),
         |mx$k AS (SELECT max(abs(y)) AS m FROM y$k),
         |w$k AS MATERIALIZED (SELECT array_agg(
         |    round(y::DOUBLE / (SELECT m FROM mx$k)::DOUBLE, 6)
         |    ORDER BY dim) AS w FROM y$k)""".stripMargin
    s"""WITH mu0 AS (SELECT dim,
       |  round(CAST(sum(CAST(x AS DECIMAL(28,10))) AS DOUBLE) / count(*), 6)
       |    AS mu
       |  FROM (SELECT unnest(range(0, 64)) AS dim,
       |    unnest(list_transform(embedding, v -> v::DOUBLE)) AS x
       |    FROM embeddings) GROUP BY dim),
       |muarr AS MATERIALIZED (SELECT array_agg(mu ORDER BY dim) AS m FROM mu0),
       |w0 AS (SELECT list_transform(range(0, 64), i -> 0.125::DOUBLE) AS w),
       |${(1 to 4).map(iter).mkString(",\n")}
       |SELECT (dim - 1)::INT AS dim, (w[dim] + 0.0) AS w
       |FROM w4, (SELECT unnest(range(1, 65)) AS dim) dims""".stripMargin
  }

  private def cosOf(a: String, b: String): String =
    s"""(round(
       |  list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> $a[i]::DOUBLE * $b[i]::DOUBLE)), (x, y) -> x + y)
       |  / (sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> $a[i]::DOUBLE * $a[i]::DOUBLE)), (x, y) -> x + y))
       |   * sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> $b[i]::DOUBLE * $b[i]::DOUBLE)), (x, y) -> x + y))), 4) + 0.0)""".stripMargin

  /** Rolling hash of vec_id::VARCHAR, DuckDB side — the
    * [[graft.pipeline.Similarity.centroidSeeds]] selection key: the
    * nlist ids with the lowest hash (ties → lowest id) are the quantizer
    * seeds, so |centroids| is CONSTANT in corpus size. */
  private val rollhVecId: String =
    "list_reduce(list_prepend(0::BIGINT, list_transform(string_split(vec_id::VARCHAR, ''), ch -> ascii(ch)::BIGINT)), (h, ch) -> (h * 31 + ch) % 2147483647)"

  /** `cents` CTE body: the fixed-`nlist` centroid seed set. */
  private def centsSql(nlist: Int): String =
    s"(SELECT vec_id AS cid, embedding AS cv FROM embeddings ORDER BY $rollhVecId, vec_id LIMIT $nlist)"

  /** [[centsSql]] over the PREVIOUS corpus (minus the 2% delta) — the
    * incremental-refresh gates pin the quantizer derivation to the
    * corpus the persisted model was trained on (r13). */
  private def centsPrevSql(nlist: Int): String =
    s"(SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id % ${GraphTables.annDeltaMod} <> 0 ORDER BY $rollhVecId, vec_id LIMIT $nlist)"

  /** IVF-style ANN: deterministic fixed-count coarse centroids
    * (centroidSeeds nlist=16), nprobe=8, top-10 for query vectors 0–4.
    * r12: reads the PERSISTED centroid table + cell-clustered index
    * ([[GraphTables.ivfCents16]]/`ivfIndex16`, built once per corpus
    * version) — the oracle replays the derivation inline (its luxury at
    * test scale); the live assignment pass is still gated by s_semdedup
    * / s_knn_graph, which call `assignCells` directly. */
  val sIvfAnn: Q = (s, d) =>
    Similarity.ivfTopKIndexed(GraphTables.ivfIndex16(s, d),
      GraphTables.ivfCents16(s, d), Tables.embeddings(s, d),
      Seq(0L, 1L, 2L, 3L, 4L), 10, nprobe = 8)

  private def ivfAnnSqlWith(cents: String): String =
    s"""WITH cents AS $cents,
       |assigned AS (SELECT vec_id, embedding, cid FROM (
       |  SELECT e.vec_id, e.embedding, c.cid,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosOf("e.embedding", "c.cv")} DESC, c.cid) AS crank
       |  FROM embeddings e CROSS JOIN cents c) WHERE crank = 1),
       |probes AS (SELECT query_id, qv, cid FROM (
       |  SELECT qq.vec_id AS query_id, qq.embedding AS qv, c.cid,
       |    row_number() OVER (PARTITION BY qq.vec_id ORDER BY ${cosOf("qq.embedding", "c.cv")} DESC, c.cid) AS prank
       |  FROM embeddings qq CROSS JOIN cents c WHERE qq.vec_id IN (0,1,2,3,4)) WHERE prank <= 8)
       |SELECT query_id, vec_id, sim,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INT) AS rank
       |FROM (SELECT p.query_id, a.vec_id, ${cosOf("p.qv", "a.embedding")} AS sim
       |      FROM assigned a JOIN probes p ON a.cid = p.cid WHERE a.vec_id <> p.query_id)
       |QUALIFY rank <= 10""".stripMargin

  val sIvfAnnSql: String = ivfAnnSqlWith(centsSql(16))

  /** s_ivf_inc — INCREMENTAL IVF index refresh + search (r13, verdict
    * task #4): the persisted previous-corpus index/centroids
    * ([[GraphTables.ivfIndexPrev]]/`ivfCentsPrev`) absorb only the 2%
    * arriving delta via [[graft.pipeline.Similarity.ivfIndexRefresh]]
    * (anti-join + O(|delta|·nlist) assignment), then the same top-10
    * search as s_ivf_ann runs over the refreshed index. Because cell
    * assignment is per-vector deterministic, refresh ≡ assigning the
    * WHOLE corpus to the previous centroids — the oracle replays
    * exactly that, with the centroid derivation pinned to the previous
    * corpus. */
  val sIvfInc: Q = (s, d) =>
    Similarity.ivfTopKIndexed(
      Similarity.ivfIndexRefresh(GraphTables.ivfIndexPrev(s, d),
        Tables.embeddings(s, d), GraphTables.ivfCentsPrev(s, d)),
      GraphTables.ivfCentsPrev(s, d), Tables.embeddings(s, d),
      Seq(0L, 1L, 2L, 3L, 4L), 10, nprobe = 8)

  val sIvfIncSql: String = ivfAnnSqlWith(centsPrevSql(16))

  /** Embedding near-duplicate pairs: 32 planes, 4 bands of 8 bits,
    * candidates = union over band-buckets, hub buckets (>4096) dropped,
    * cosine ≥ 0.3 verification. */
  val sEmbNearDup: Q = (s, d) =>
    Similarity.embeddingNearDupPairs(Tables.embeddings(s, d), threshold = 0.3,
      numPlanes = 32, bands = 4, maxBucket = 4096)

  val sEmbNearDupSql: String =
    s"""WITH ${bandedCteSql(32, 4)},
       |ok AS (SELECT band, bucket FROM banded GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND 4096),
       |bandedok AS (SELECT bb.vec_id, bb.embedding, bb.band, bb.bucket
       |             FROM banded bb JOIN ok oo ON bb.band = oo.band AND bb.bucket = oo.bucket),
       |cand AS (SELECT DISTINCT x.vec_id AS a, x.embedding AS ea, y.vec_id AS b, y.embedding AS eb
       |         FROM bandedok x JOIN bandedok y ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id < y.vec_id)
       |SELECT a, b, ${cosOf("ea", "eb")} AS sim FROM cand
       |WHERE ${cosOf("ea", "eb")} >= 0.3""".stripMargin

  /** s_semdedup — SemDeDup semantic deduplication
    * ([[graft.pipeline.Similarity.semDedup]], Abbas et al. 2023):
    * cluster with the fixed-count coarse quantizer (nlist=16), drop any
    * vector with a lower-id cluster-mate at cosine ≥ 0.35; every vector
    * reported with its cell and keep flag. */
  val sSemDedup: Q = (s, d) =>
    Similarity.semDedup(Tables.embeddings(s, d), tau = 0.35, nlist = 16,
      maxCell = 4096)

  val sSemDedupSql: String =
    s"""WITH cents AS ${centsSql(16)},
       |asg AS (SELECT e.vec_id, e.embedding, c.cid,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosOf("e.embedding", "c.cv")} DESC, c.cid) AS crank
       |  FROM embeddings e, cents c),
       |a1 AS (SELECT vec_id, embedding, cid FROM asg WHERE crank = 1),
       |ok AS (SELECT cid FROM a1 GROUP BY 1 HAVING count(*) BETWEEN 2 AND 4096),
       |incell AS (SELECT a1.* FROM a1 JOIN ok USING (cid)),
       |dups AS (SELECT DISTINCT y.vec_id
       |  FROM incell x JOIN incell y ON x.cid = y.cid AND x.vec_id < y.vec_id
       |  WHERE ${cosOf("x.embedding", "y.embedding")} >= 0.35)
       |SELECT a1.vec_id, a1.cid,
       |  (CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END)::INT AS keep
       |FROM a1 LEFT JOIN dups d ON a1.vec_id = d.vec_id""".stripMargin

  /** s_knn_graph — cell-restricted mutual k-NN graph
    * ([[graft.pipeline.Similarity.knnGraph]]): IVF cell assignment
    * (nlist=16), per-vector top-3 cell-mates by rounded cosine, edge
    * kept only when mutual, canonical src < dst. */
  val sKnnGraph: Q = (s, d) =>
    Similarity.knnGraph(Tables.embeddings(s, d), k = 3, nlist = 16,
      maxCell = 4096)

  /** s_knn_inc — INCREMENTAL mutual k-NN graph refresh
    * ([[graft.pipeline.Similarity.knnGraphRefresh]]): only the cells
    * the 2% delta lands in recompute; every untouched cell splices its
    * edges from the persisted previous graph
    * ([[graft.store.GraphTables.knnGraphPrev]]). Per-cell independence
    * under pinned centroids makes the refresh provably ≡ the
    * whole-corpus build, so the oracle is the full derivation against
    * the previous centroids. */
  val sKnnInc: Q = (s, d) =>
    Similarity.knnGraphRefresh(GraphTables.knnGraphPrev(s, d),
      Tables.embeddings(s, d), GraphTables.ivfCentsPrev(s, d),
      col("vec_id") % GraphTables.annDeltaMod === 0,
      k = 3, maxCell = 4096)

  private def knnGraphSqlWith(cents: String): String =
    s"""WITH cents AS $cents,
       |asg AS (SELECT e.vec_id, e.embedding, c.cid,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosOf("e.embedding", "c.cv")} DESC, c.cid) AS crank
       |  FROM embeddings e, cents c),
       |a1 AS (SELECT vec_id, embedding, cid FROM asg WHERE crank = 1),
       |ok AS (SELECT cid FROM a1 GROUP BY 1 HAVING count(*) BETWEEN 2 AND 4096),
       |incell AS (SELECT a1.* FROM a1 JOIN ok USING (cid)),
       |ranked AS (SELECT a, b, sim FROM (
       |  SELECT x.vec_id AS a, y.vec_id AS b,
       |      ${cosOf("x.embedding", "y.embedding")} AS sim,
       |      row_number() OVER (PARTITION BY x.vec_id
       |        ORDER BY ${cosOf("x.embedding", "y.embedding")} DESC, y.vec_id) AS rnk
       |  FROM incell x JOIN incell y ON x.cid = y.cid AND x.vec_id <> y.vec_id)
       |  WHERE rnk <= 3)
       |SELECT p.a AS src, p.b AS dst, p.sim AS sim
       |FROM ranked p JOIN ranked q ON p.a = q.b AND p.b = q.a
       |WHERE p.a < p.b""".stripMargin

  val sKnnGraphSql: String = knnGraphSqlWith(centsSql(16))
  val sKnnIncSql: String = knnGraphSqlWith(centsPrevSql(16))

  /** s_graph_ann — graph-based ANN
    * ([[graft.pipeline.Similarity.graphAnnTopK]]): greedy beam search
    * (beam 8, 3 hops) over the mutual 5-NN graph from the min-id entry
    * vertex — the HNSW base-layer pattern; the oracle unrolls the
    * identical expansion hop by hop. */
  val sGraphAnn: Q = (s, d) =>
    Similarity.graphAnnTopK(Tables.embeddings(s, d),
      Seq(0L, 1L, 2L, 3L, 4L), k = 10, knnK = 5, beam = 8, hops = 3,
      nlist = 16, prebuilt = Some(GraphTables.knnGraph5(s, d)))

  lazy val sGraphAnnSql: String = {
    def hop(i: Int): String =
      s"""c$i AS MATERIALIZED (SELECT DISTINCT f.query_id, u.n AS v
         |  FROM f${i - 1} f JOIN und u ON u.v = f.v
         |  ANTI JOIN v${i - 1} vis ON vis.query_id = f.query_id AND vis.v = u.n),
         |cs$i AS MATERIALIZED (SELECT c.query_id, c.v, ${cosOf("q.qv", "em.embedding")} AS sim
         |  FROM c$i c JOIN embeddings em ON em.vec_id = c.v
         |  JOIN qs q ON q.query_id = c.query_id),
         |v$i AS MATERIALIZED (SELECT * FROM v${i - 1} UNION ALL SELECT * FROM cs$i),
         |f$i AS MATERIALIZED (SELECT query_id, v, sim FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, v) AS rn
         |  FROM (SELECT * FROM f${i - 1} UNION ALL SELECT * FROM cs$i)) WHERE rn <= 8)""".stripMargin
    s"""WITH cents AS ${centsSql(16)},
       |asg AS (SELECT e.vec_id, e.embedding, c.cid,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosOf("e.embedding", "c.cv")} DESC, c.cid) AS crank
       |  FROM embeddings e, cents c),
       |a1 AS (SELECT vec_id, embedding, cid FROM asg WHERE crank = 1),
       |ok AS (SELECT cid FROM a1 GROUP BY 1 HAVING count(*) BETWEEN 2 AND 4096),
       |incell AS (SELECT a1.* FROM a1 JOIN ok USING (cid)),
       |rnk AS (SELECT a, b, sim FROM (
       |  SELECT x.vec_id AS a, y.vec_id AS b,
       |      ${cosOf("x.embedding", "y.embedding")} AS sim,
       |      row_number() OVER (PARTITION BY x.vec_id
       |        ORDER BY ${cosOf("x.embedding", "y.embedding")} DESC, y.vec_id) AS r
       |  FROM incell x JOIN incell y ON x.cid = y.cid AND x.vec_id <> y.vec_id)
       |  WHERE r <= 5),
       |mut AS (SELECT p.a AS src, p.b AS dst FROM rnk p JOIN rnk q
       |        ON p.a = q.b AND p.b = q.a WHERE p.a < p.b),
       |und AS MATERIALIZED (SELECT src AS v, dst AS n FROM mut
       |  UNION ALL SELECT dst, src FROM mut),
       |qcell AS (SELECT vec_id AS query_id, cid FROM incell
       |  WHERE vec_id IN (0, 1, 2, 3, 4)),
       |emin AS (SELECT cid, min(vec_id) AS ev FROM incell GROUP BY cid),
       |qs AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
       |  WHERE vec_id IN (0, 1, 2, 3, 4)),
       |v0 AS MATERIALIZED (SELECT q.query_id, m.ev AS v, ${cosOf("q.qv", "em.embedding")} AS sim
       |  FROM qcell c JOIN emin m USING (cid) JOIN qs q ON q.query_id = c.query_id
       |  JOIN embeddings em ON em.vec_id = m.ev),
       |f0 AS (SELECT * FROM v0),
       |${(1 to 3).map(hop).mkString(",\n")}
       |SELECT query_id, v AS vec_id, sim, rank FROM (
       |  SELECT query_id, v, sim,
       |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, v)::INT AS rank
       |  FROM v3 WHERE v <> query_id) WHERE rank <= 10""".stripMargin
  }

  // ----------------------------------------------------- corpus preparation

  /** Gap-based sessionization (30-min gap) of the event stream — batch
    * twin of the streaming session windows. */
  val q16Sessions: Q = (s, d) =>
    graft.pipeline.Sessions.sessionize(Tables.events(s, d), gapSeconds = 1800)

  val q16SessionsSql: String =
    """WITH e AS (SELECT user_id, event_id, ts, value,
      |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |         OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
      |       THEN 1 ELSE 0 END AS new_sess
      |  FROM events),
      |s AS (SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |        ROWS UNBOUNDED PRECEDING) AS session_idx FROM e)
      |SELECT user_id, session_idx::BIGINT AS session_idx, count(*)::BIGINT AS n_events,
      |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS start_ts,
      |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS end_ts,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM s GROUP BY user_id, session_idx""".stripMargin

  /** e_funnel — strict-order conversion funnel
    * ([[graft.pipeline.Sessions.funnel]]) over the events table:
    * view → click → signup → purchase, each step's first occurrence
    * strictly after the user's previous-step completion and within an
    * 8-hour conversion window of it (unwindowed, this corpus converts
    * everyone — the window is what makes each stage's drop-off real:
    * 150 → 26 → 5 → 1 at sf0.01). */
  val eFunnel: Q = (s, d) =>
    graft.pipeline.Sessions.funnel(Tables.events(s, d),
      Seq("view", "click", "signup", "purchase"),
      maxGapSeconds = Some(8L * 3600))

  val eFunnelSql: String =
    """WITH s1 AS (SELECT user_id, min(epoch_us(ts)) AS t FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t FROM events e
      |  JOIN s1 p ON e.user_id = p.user_id
      |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > p.t AND epoch_us(e.ts) <= p.t + 28800000000 GROUP BY e.user_id),
      |s3 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t FROM events e
      |  JOIN s2 p ON e.user_id = p.user_id
      |  WHERE e.event_type = 'signup' AND epoch_us(e.ts) > p.t AND epoch_us(e.ts) <= p.t + 28800000000 GROUP BY e.user_id),
      |s4 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t FROM events e
      |  JOIN s3 p ON e.user_id = p.user_id
      |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > p.t AND epoch_us(e.ts) <= p.t + 28800000000 GROUP BY e.user_id),
      |c AS (SELECT 1 AS step, 'view' AS event_type, count(*) AS users FROM s1
      |  UNION ALL SELECT 2, 'click', count(*) FROM s2
      |  UNION ALL SELECT 3, 'signup', count(*) FROM s3
      |  UNION ALL SELECT 4, 'purchase', count(*) FROM s4)
      |SELECT step::INT AS step, event_type, users::BIGINT AS users,
      |  round(users::DOUBLE / (SELECT users FROM c WHERE step = 1), 6) AS conversion
      |FROM c""".stripMargin

  /** e_retention — weekly cohort retention
    * ([[graft.pipeline.Sessions.retention]]) of HIGH-VALUE purchasers
    * (value > 90 — the full corpus has every user active every week, so
    * the qualifying-activity filter is what makes the cohort curves
    * real: graded drop-off across 5 cohorts at sf0.01). */
  val eRetention: Q = (s, d) =>
    graft.pipeline.Sessions.retention(Tables.events(s, d),
      col("event_type") === "purchase" && col("value") > 90)

  val eRetentionSql: String =
    """WITH ew AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
      |  FROM events WHERE event_type = 'purchase' AND value > 90),
      |co AS (SELECT user_id, min(wk) AS cohort FROM ew GROUP BY user_id),
      |act AS (SELECT c.cohort,
      |    (date_diff('day', c.cohort, e.wk) // 7)::INT AS week_offset,
      |    count(*) AS users
      |  FROM ew e JOIN co c USING (user_id) GROUP BY 1, 2),
      |sz AS (SELECT cohort, users AS cohort_size FROM act WHERE week_offset = 0)
      |SELECT strftime(a.cohort, '%Y-%m-%d') AS cohort, a.week_offset,
      |  a.users::BIGINT AS users,
      |  round(a.users::DOUBLE / s.cohort_size, 6) AS rate
      |FROM act a JOIN sz s USING (cohort)""".stripMargin

  /** e_ltv — cohort lifetime-value curve
    * ([[graft.pipeline.Sessions.cohortLtv]]): per (first-purchase-week
    * cohort, week offset), that week's revenue and cumulative revenue
    * per cohort user; DECIMAL revenue sums, float only at display. */
  val eLtv: Q = (s, d) =>
    graft.pipeline.Sessions.cohortLtv(Tables.events(s, d),
      col("event_type") === "purchase")

  val eLtvSql: String =
    """WITH p AS (SELECT user_id, date_trunc('week', ts) AS wk,
      |    CAST(value AS DECIMAL(18,6)) AS v
      |  FROM events WHERE event_type = 'purchase'),
      |co AS (SELECT user_id, min(wk) AS cohort FROM p GROUP BY 1),
      |a AS (SELECT c.cohort,
      |    (date_diff('day', c.cohort, p.wk) // 7)::INT AS week_offset,
      |    sum(p.v) AS rev
      |  FROM p JOIN co c USING (user_id) GROUP BY 1, 2),
      |sz AS (SELECT c.cohort, count(DISTINCT p.user_id) AS cohort_size
      |  FROM p JOIN co c USING (user_id) WHERE p.wk = c.cohort GROUP BY 1)
      |SELECT strftime(a.cohort, '%Y-%m-%d') AS cohort, a.week_offset,
      |  round(a.rev::DOUBLE, 4) AS revenue,
      |  round((sum(a.rev) OVER (PARTITION BY a.cohort
      |      ORDER BY a.week_offset))::DOUBLE / s.cohort_size, 6) AS ltv_per_user
      |FROM a JOIN sz s ON a.cohort = s.cohort""".stripMargin

  /** e_spike — trailing-baseline daily volume anomalies
    * ([[graft.pipeline.Sessions.dailySpikes]]): each (event_type, day)
    * count vs the mean of its previous 7 full days, spike at >1.2×
    * (integer decision; 10 of 115 rows flag at sf0.01). */
  val eSpike: Q = (s, d) =>
    graft.pipeline.Sessions.dailySpikes(Tables.events(s, d))

  val eSpikeSql: String =
    """WITH daily AS (SELECT event_type, date_trunc('day', ts) AS day,
      |    count(*) AS n FROM events GROUP BY 1, 2),
      |w AS (SELECT *,
      |    sum(n) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS trail,
      |    count(n) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS trail_days
      |  FROM daily)
      |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n::BIGINT AS n,
      |  round(n::DOUBLE * trail_days / trail, 6) AS ratio,
      |  (CASE WHEN 100 * n * trail_days > 120 * trail THEN 1 ELSE 0 END)::INT AS spike
      |FROM w WHERE trail_days = 7""".stripMargin

  /** e_cusum — CUSUM drift monitor over daily volumes
    * ([[graft.pipeline.Sessions.cusum]], Page 1954): the sequential
    * change-point chart S_d = max(0, S_{d-1} + (x_d − ref − k)) in
    * its window closed form S_d = P_d − min(0, min_prefix P) over
    * exact BIGINT milli-units; ref calibrated per type as
    * (1000·Σn) div days, k = ref div 20, alarm at S > ref. The
    * streaming twin `st_cusum` shares this oracle verbatim. */
  val eCusum: Q = (s, d) =>
    graft.pipeline.Sessions.cusum(Tables.events(s, d))

  val eCusumSql: String =
    """WITH daily AS (SELECT event_type, date_trunc('day', ts) AS day,
      |    count(*)::BIGINT AS n FROM events GROUP BY 1, 2),
      |cal AS (SELECT event_type,
      |    ((1000 * sum(n)) // count(*))::BIGINT AS ref
      |  FROM daily GROUP BY 1),
      |j AS (SELECT d.event_type, d.day, d.n, c.ref,
      |    d.n * 1000 - c.ref - c.ref // 20 AS inc
      |  FROM daily d JOIN cal c USING (event_type)),
      |w AS (SELECT *,
      |    sum(inc) OVER (PARTITION BY event_type ORDER BY day) AS p
      |  FROM j),
      |m AS (SELECT *, least(0, min(p) OVER (PARTITION BY event_type
      |    ORDER BY day)) AS mp FROM w)
      |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n,
      |  (p - mp)::BIGINT AS s_milli,
      |  (CASE WHEN p - mp > ref THEN 1 ELSE 0 END)::INT AS alarm
      |FROM m""".stripMargin

  /** e_seasonality — day-of-week volume seasonality per event type
    * ([[graft.pipeline.Sessions.weekdaySeasonality]]): integer-ppm
    * index vs a uniform week, weekday from epoch-day arithmetic
    * ((days+3) mod 7, 0=Monday) so no engine weekday-convention skew. */
  val eSeasonality: Q = (s, d) =>
    graft.pipeline.Sessions.weekdaySeasonality(Tables.events(s, d))

  val eSeasonalitySql: String =
    """WITH d AS (SELECT event_type,
      |    ((date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) + 3) % 7)::INT AS dow
      |  FROM events),
      |c AS (SELECT event_type, dow, count(*) AS n FROM d GROUP BY 1, 2),
      |t AS (SELECT event_type, sum(n) AS total FROM c GROUP BY 1)
      |SELECT c.event_type, c.dow, n::BIGINT AS n,
      |  (1000000 * 7 * n // total)::BIGINT AS index_ppm
      |FROM c JOIN t USING (event_type)""".stripMargin

  /** e_lag — signup→purchase conversion-lag distribution
    * ([[graft.pipeline.Sessions.conversionLag]]): first purchase at or
    * after the first signup, whole-day buckets, cumulative conversion
    * as integer ppm — the funnel-latency curve. */
  /** e_km — Kaplan-Meier time-to-conversion table
    * ([[graft.pipeline.Sessions.kaplanMeier]]): per observed duration,
    * the at-risk count, conversions, and integer-ppm hazard — the
    * survival-analysis ingredients (never-converters censored at the
    * horizon) with every gated number exact integer arithmetic (the
    * consumer's cumulative product is the one float fold, deliberately
    * outside the gate). */
  val eKm: Q = (s, d) =>
    graft.pipeline.Sessions.kaplanMeier(Tables.events(s, d), "purchase")

  val eKmSql: String =
    """WITH per AS (SELECT user_id,
      |  min(epoch_us(ts)) // 86400000000 AS fd,
      |  min(CASE WHEN event_type = 'purchase'
      |    THEN epoch_us(ts) // 86400000000 END) AS cd FROM events GROUP BY 1),
      |mx AS (SELECT max(epoch_us(ts)) // 86400000000 AS hz FROM events),
      |lt AS (SELECT coalesce(cd, (SELECT hz FROM mx)) - fd AS t,
      |  (CASE WHEN cd IS NOT NULL THEN 1 ELSE 0 END) AS churned
      |  FROM per),
      |byt AS (SELECT t, count(*) AS n_t, sum(churned) AS d_t
      |  FROM lt GROUP BY t),
      |cum AS (SELECT t, n_t, d_t, sum(n_t) OVER (ORDER BY t DESC
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_risk
      |  FROM byt)
      |SELECT t::BIGINT AS t_days, n_risk::BIGINT AS n_risk,
      |  d_t::BIGINT AS d_conv, ((1000000 * d_t) // n_risk)::BIGINT AS hazard_ppm
      |FROM cum WHERE d_t > 0""".stripMargin

  val eLag: Q = (s, d) =>
    graft.pipeline.Sessions.conversionLag(Tables.events(s, d),
      "signup", "purchase")

  val eLagSql: String =
    """WITH f AS (SELECT user_id, min(epoch_us(ts)) AS t0 FROM events
      |  WHERE event_type = 'signup' GROUP BY 1),
      |l AS (SELECT f.user_id, min(epoch_us(e.ts) - t0) AS lag_us
      |  FROM f JOIN events e USING (user_id)
      |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= t0
      |  GROUP BY 1),
      |h AS (SELECT lag_us // 86400000000 AS lag_days, count(*) AS users
      |  FROM l GROUP BY 1),
      |tot AS (SELECT count(*) AS n FROM f)
      |SELECT lag_days::BIGINT AS lag_days, users::BIGINT AS users,
      |  (1000000 * sum(users) OVER (ORDER BY lag_days) // n)::BIGINT AS cum_ppm
      |FROM h, tot""".stripMargin

  /** e_stickiness — DAU/WAU engagement
    * ([[graft.pipeline.Sessions.stickiness]]): per active day, distinct
    * users that day over distinct users in the trailing 7 days, via
    * coverage explosion of the deduped (user, day) table — a sliding
    * distinct-count with no corpus-wide window. */
  val eStickiness: Q = (s, d) =>
    graft.pipeline.Sessions.stickiness(Tables.events(s, d))

  val eStickinessSql: String =
    """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |dau AS (SELECT day, count(*)::BIGINT AS dau FROM ud GROUP BY day),
      |wau AS (SELECT day, count(*)::BIGINT AS wau FROM (
      |    SELECT DISTINCT user_id, day + j::INT AS day
      |    FROM ud, range(0, 7) t(j)) GROUP BY day)
      |SELECT strftime(d.day, '%Y-%m-%d') AS day, d.dau, w.wau,
      |  round(d.dau::DOUBLE / w.wau, 6) AS stickiness
      |FROM dau d JOIN wau w USING (day)""".stripMargin

  /** e_power — the L28 power-user histogram
    * ([[graft.pipeline.Sessions.powerHistogram]]): users bucketed by
    * distinct active days in the trailing 28 anchored at the corpus's
    * last active day (broadcast 1-row max, no wall clock); integer-ppm
    * shares. */
  val ePower: Q = (s, d) =>
    graft.pipeline.Sessions.powerHistogram(Tables.events(s, d))

  val ePowerSql: String =
    """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |a AS (SELECT max(day) AS anchor FROM ud),
      |act AS (SELECT user_id, count(*)::BIGINT AS days_active FROM ud, a
      |        WHERE date_diff('day', day, anchor) < 28 GROUP BY user_id),
      |t AS (SELECT count(*)::BIGINT AS n_total FROM act)
      |SELECT days_active, count(*)::BIGINT AS n_users,
      |  ((1000000 * count(*)) // (SELECT n_total FROM t))::BIGINT AS share_ppm
      |FROM act GROUP BY days_active""".stripMargin

  /** p_shard — size-balanced serpentine shard assignment
    * ([[graft.ops.Layout.shardAssign]]): docs size-DESC dealt onto 8
    * shards boustrophedon-wise; the oracle replays it as a plain global
    * row_number, proving the decomposed (bucket-cumulative +
    * intra-bucket) rank exact. */
  val pShard: Q = (s, d) =>
    graft.ops.Layout.shardAssign(Tables.documents(s, d), shards = 8)

  val pShardSql: String =
    """WITH r AS (SELECT doc_id,
      |    row_number() OVER (ORDER BY n_chars DESC, doc_id) - 1 AS rk
      |  FROM documents)
      |SELECT doc_id,
      |  (CASE WHEN (rk // 8) % 2 = 0 THEN rk % 8 ELSE 7 - rk % 8 END)::INT AS shard
      |FROM r""".stripMargin

  /** p_manifest — deterministic shard manifests
    * ([[graft.ops.Layout.shardManifest]]): per shard the doc count,
    * total chars, an order-independent rolling-hash checksum and the
    * id range — the integrity artifact shipped next to training
    * shards. The oracle nests the serpentine assignment. */
  val pManifest: Q = (s, d) =>
    graft.ops.Layout.shardManifest(Tables.documents(s, d), shards = 8)

  lazy val pManifestSql: String =
    s"""WITH asg AS ($pShardSql),
       |c AS (SELECT doc_id, n_chars, $rollhNorm AS h FROM documents)
       |SELECT a.shard, count(*)::BIGINT AS n_docs,
       |  sum(c.n_chars)::BIGINT AS total_chars,
       |  sum(c.h)::BIGINT AS hash_sum,
       |  min(c.doc_id) AS min_doc, max(c.doc_id) AS max_doc
       |FROM asg a JOIN c ON a.doc_id = c.doc_id
       |GROUP BY a.shard""".stripMargin

  /** e_basket — market-basket association rules over order baskets
    * ([[graft.pipeline.Sessions.basketRules]]): both directed rules per
    * co-purchased pair, integer-ppm support, round-6 confidence/lift,
    * top-25 by rounded lift. */
  val eBasket: Q = (s, d) =>
    graft.pipeline.Sessions.basketRules(
      Tables.lineitem(s, d).select(col("l_orderkey").as("basket_id"),
        col("l_partkey").cast("long").as("item")))

  val eBasketSql: String =
    """WITH b AS (SELECT DISTINCT l_orderkey AS basket_id,
      |    l_partkey::BIGINT AS item FROM lineitem),
      |n AS (SELECT count(DISTINCT basket_id)::BIGINT AS n_baskets FROM b),
      |ia AS (SELECT item, count(*)::BIGINT AS ni FROM b GROUP BY item),
      |p AS (SELECT x.item AS a, y.item AS b_, count(*)::BIGINT AS nab
      |  FROM b x JOIN b y ON x.basket_id = y.basket_id AND x.item < y.item
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |r AS (SELECT a AS antecedent, b_ AS consequent, nab FROM p
      |  UNION ALL SELECT b_, a, nab FROM p)
      |SELECT r.antecedent, r.consequent, r.nab AS n_ab,
      |  ((1000000 * r.nab) // n.n_baskets)::BIGINT AS support_ppm,
      |  round(r.nab::DOUBLE / na.ni::DOUBLE, 6) AS confidence,
      |  round((r.nab * n.n_baskets)::DOUBLE / (na.ni * nc.ni)::DOUBLE, 6) AS lift
      |FROM r
      |JOIN ia na ON na.item = r.antecedent
      |JOIN ia nc ON nc.item = r.consequent
      |CROSS JOIN n
      |ORDER BY lift DESC, antecedent, consequent LIMIT 25""".stripMargin

  /** e_holt — Holt level+trend one-step forecast of daily volume
    * ([[graft.pipeline.Sessions.holtForecast]]): α = β = 1/2
    * recurrence folded in day order with identical IEEE ops both
    * engines, rounded on output only. */
  val eHolt: Q = (s, d) =>
    graft.pipeline.Sessions.holtForecast(Tables.events(s, d))

  // NOTE: a list_reduce spelling is NOT usable here — DuckDB 1.0's
  // list_reduce aliases the accumulator buffer from the second
  // iteration on, so a multi-field struct fold where one field reads
  // another observes partially-written state (verified empirically:
  // `(a, x) -> struct(l := a.l + x.l, b := a.l)` returns b = NEW l
  // from step 2). The recursive CTE has pure per-step semantics.
  val eHoltSql: String =
    """WITH RECURSIVE daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
      |    count(*)::BIGINT AS n FROM events GROUP BY 1, 2),
      |d AS (SELECT event_type, n,
      |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
      |  FROM daily),
      |h AS (
      |  SELECT event_type, 1::BIGINT AS t, n::DOUBLE AS l, 0.0::DOUBLE AS b
      |  FROM d WHERE rn = 1
      |  UNION ALL
      |  SELECT d.event_type, h.t + 1,
      |    0.5 * d.n::DOUBLE + 0.5 * (h.l + h.b),
      |    0.5 * ((0.5 * d.n::DOUBLE + 0.5 * (h.l + h.b)) - h.l) + 0.5 * h.b
      |  FROM h JOIN d ON d.event_type = h.event_type AND d.rn = h.t + 1)
      |SELECT event_type, t AS days, round(l, 6) AS level,
      |  round(b, 6) AS trend, round(l + b, 6) AS forecast
      |FROM h
      |QUALIFY t = max(t) OVER (PARTITION BY event_type)""".stripMargin

  /** e_ewma — exponentially-weighted daily volume anomalies
    * ([[graft.pipeline.Sessions.ewmaSpikes]]): α=1/2 EWMA baseline over
    * the previous 7 days with EXACT dyadic integer weights (trail is a
    * BIGINT — no cross-engine float pow drift), spike at >1.5×
    * baseline, decided in integers. */
  val eEwma: Q = (s, d) =>
    graft.pipeline.Sessions.ewmaSpikes(Tables.events(s, d))

  val eEwmaSql: String =
    """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
      |    count(*)::BIGINT AS n FROM events GROUP BY 1, 2),
      |trail AS (SELECT event_type, day + j::INT AS day,
      |    sum(n * (1::BIGINT << (7 - j)))::BIGINT AS trail,
      |    count(*)::BIGINT AS trail_days
      |  FROM daily, range(1, 8) t(j) GROUP BY 1, 2
      |  HAVING count(*) = 7)
      |SELECT d.event_type, strftime(d.day, '%Y-%m-%d') AS day, d.n,
      |  round(t.trail::DOUBLE / 127, 6) AS baseline,
      |  round(d.n::DOUBLE * 127 / t.trail, 6) AS ratio,
      |  (CASE WHEN 100 * d.n * 127 > 150 * t.trail THEN 1 ELSE 0 END)::INT AS spike
      |FROM daily d JOIN trail t USING (event_type, day)""".stripMargin

  /** e_attribution — multi-touch attribution
    * ([[graft.pipeline.Sessions.attribution]]): purchases credited to
    * the user's view/click touches inside a 7-day lookback under
    * first-touch, last-touch, and linear (integer micro-credit) models
    * at once. */
  val eAttribution: Q = (s, d) =>
    graft.pipeline.Sessions.attribution(Tables.events(s, d),
      col("event_type") === "purchase",
      col("event_type").isin("view", "click"))

  val eAttributionSql: String =
    """WITH conv AS (SELECT user_id, epoch_us(ts) AS cus, event_id AS cid
      |  FROM events WHERE event_type = 'purchase'),
      |tch AS (SELECT user_id, event_type AS channel, epoch_us(ts) AS tus,
      |    event_id AS tid
      |  FROM events WHERE event_type IN ('view', 'click')),
      |j AS (SELECT c.user_id, c.cid, t.channel, t.tus, t.tid,
      |    count(*) OVER (PARTITION BY c.user_id, c.cid) AS n,
      |    min((t.tus, t.tid)) OVER (PARTITION BY c.user_id, c.cid) AS f,
      |    max((t.tus, t.tid)) OVER (PARTITION BY c.user_id, c.cid) AS l
      |  FROM conv c JOIN tch t ON c.user_id = t.user_id
      |  WHERE t.tus < c.cus AND t.tus >= c.cus - 604800000000)
      |SELECT channel, count(*)::BIGINT AS n_touches,
      |  sum(CASE WHEN (tus, tid) = f THEN 1 ELSE 0 END)::BIGINT AS first_touch,
      |  sum(CASE WHEN (tus, tid) = l THEN 1 ELSE 0 END)::BIGINT AS last_touch,
      |  sum(1000000 // n)::BIGINT AS linear_ppm
      |FROM j GROUP BY channel""".stripMargin

  /** e_rfm — RFM quintile segmentation
    * ([[graft.pipeline.Sessions.rfm]]): recency (days vs the corpus's
    * last purchase) / frequency / whole-dollar monetary per user,
    * scored 1–5 by the integer rule `(5·c_lt) div n + 1` (tie groups
    * never split), fixed CASE segment labels. The oracle computes
    * `c_lt` as `rank() − 1` — the same strict-smaller count. */
  val eRfm: Q = (s, d) =>
    graft.pipeline.Sessions.rfm(Tables.events(s, d),
      col("event_type") === "purchase")

  val eRfmSql: String =
    """WITH per AS (SELECT user_id, max(epoch_us(ts)) AS last_us,
      |    count(*)::BIGINT AS freq,
      |    (sum(CAST(value AS DECIMAL(18,2))) * 100)::BIGINT AS cents
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |mx AS (SELECT max(last_us) AS max_us FROM per),
      |base AS (SELECT user_id,
      |    ((max_us - last_us) // 86400000000)::BIGINT AS rec_days,
      |    freq, (cents // 100)::BIGINT AS money,
      |    -((max_us - last_us) // 86400000000) AS rm
      |  FROM per CROSS JOIN mx),
      |scored AS (SELECT user_id, rec_days, freq, money,
      |    ((5 * (rank() OVER (ORDER BY rm) - 1)) // count(*) OVER ())::INT + 1 AS r_score,
      |    ((5 * (rank() OVER (ORDER BY freq) - 1)) // count(*) OVER ())::INT + 1 AS f_score,
      |    ((5 * (rank() OVER (ORDER BY money) - 1)) // count(*) OVER ())::INT + 1 AS m_score
      |  FROM base)
      |SELECT user_id, rec_days, freq, money, r_score, f_score, m_score,
      |  CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champion'
      |       WHEN r_score >= 4 AND f_score <= 2 THEN 'new'
      |       WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
      |       WHEN r_score <= 2 AND m_score <= 2 THEN 'hibernating'
      |       ELSE 'regular' END AS segment
      |FROM scored""".stripMargin

  /** e_lifecycle — weekly growth accounting
    * ([[graft.pipeline.Sessions.lifecycle]]): per week, new / retained /
    * resurrected user counts plus churned (active previous week, absent
    * this week, bounded at the last active week) — the Δactive = new +
    * resurrected − churned identity. */
  val eLifecycle: Q = (s, d) =>
    graft.pipeline.Sessions.lifecycle(Tables.events(s, d))

  val eLifecycleSql: String =
    """WITH uw AS (SELECT DISTINCT user_id,
      |    (date_diff('day', DATE '1970-01-05', date_trunc('week', ts)) // 7)::INT AS wk
      |  FROM events),
      |f AS (SELECT user_id, min(wk) AS first_wk FROM uw GROUP BY 1),
      |st AS (SELECT u.user_id, u.wk,
      |    CASE WHEN u.wk = f.first_wk THEN 'new'
      |         WHEN p.user_id IS NOT NULL THEN 'retained'
      |         ELSE 'resurrected' END AS status
      |  FROM uw u JOIN f USING (user_id)
      |  LEFT JOIN uw p ON p.user_id = u.user_id AND p.wk = u.wk - 1),
      |counts AS (SELECT wk,
      |    sum(CASE WHEN status = 'new' THEN 1 ELSE 0 END)::BIGINT AS n_new,
      |    sum(CASE WHEN status = 'retained' THEN 1 ELSE 0 END)::BIGINT AS n_retained,
      |    sum(CASE WHEN status = 'resurrected' THEN 1 ELSE 0 END)::BIGINT AS n_resurrected
      |  FROM st GROUP BY 1),
      |mw AS (SELECT max(wk) AS max_wk FROM uw),
      |churn AS (SELECT a.wk + 1 AS wk, count(*)::BIGINT AS n_churned
      |  FROM uw a LEFT JOIN uw b ON a.user_id = b.user_id AND b.wk = a.wk + 1
      |  CROSS JOIN mw
      |  WHERE b.user_id IS NULL AND a.wk + 1 <= mw.max_wk GROUP BY 1)
      |SELECT coalesce(c.wk, h.wk)::INT AS wk,
      |  coalesce(c.n_new, 0)::BIGINT AS n_new,
      |  coalesce(c.n_retained, 0)::BIGINT AS n_retained,
      |  coalesce(c.n_resurrected, 0)::BIGINT AS n_resurrected,
      |  coalesce(h.n_churned, 0)::BIGINT AS n_churned
      |FROM counts c FULL OUTER JOIN churn h ON c.wk = h.wk""".stripMargin

  /** e_markov — first-order event-type transition matrix
    * ([[graft.pipeline.Sessions.markovTransitions]]): consecutive-pair
    * counts per user (ties broken on event_id), terminal events feeding
    * a synthetic "(end)" state, probabilities row-normalized over the
    * tiny pair table. */
  val eMarkov: Q = (s, d) =>
    graft.pipeline.Sessions.markovTransitions(Tables.events(s, d))

  val eMarkovSql: String =
    """WITH pairs AS (SELECT event_type AS prev_type,
      |    coalesce(lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id),
      |             '(end)') AS next_type
      |  FROM events),
      |c AS (SELECT prev_type, next_type, count(*)::BIGINT AS n
      |  FROM pairs GROUP BY 1, 2)
      |SELECT prev_type, next_type, n,
      |  round(n::DOUBLE / sum(n) OVER (PARTITION BY prev_type), 6) AS p
      |FROM c""".stripMargin

  /** e_cuped — CUPED variance reduction
    * ([[graft.pipeline.Sessions.cupedAdjust]], Deng et al. 2013): the
    * pre-period covariate (per-user value mass before the corpus's
    * timestamp-midpoint cutoff) adjusts the experiment metric,
    * reporting θ, raw and adjusted per-variant means, and the exact
    * cov²/(varX·varY) variance-reduction fraction — all moments
    * DECIMAL-routed, the cutoff a replay-stable integer midpoint. */
  val eCuped: Q = (s, d) =>
    graft.pipeline.Sessions.cupedAdjust(Tables.events(s, d),
      col("user_id") % 2 === 1)

  val eCupedSql: String =
    """WITH span AS (SELECT min(epoch_us(ts))::BIGINT AS lo,
      |    max(epoch_us(ts))::BIGINT AS hi FROM events),
      |u AS (SELECT user_id,
      |    round(CAST(sum(CAST(CASE WHEN epoch_us(ts) < (lo + hi) // 2
      |      THEN value ELSE 0.0::DOUBLE END AS DECIMAL(38,10))) AS DOUBLE), 4) AS x,
      |    round(CAST(sum(CAST(CASE WHEN epoch_us(ts) >= (lo + hi) // 2
      |      THEN value ELSE 0.0::DOUBLE END AS DECIMAL(38,10))) AS DOUBLE), 4) AS y,
      |    (user_id % 2)::BIGINT AS vb
      |  FROM events CROSS JOIN span GROUP BY user_id),
      |g AS (SELECT count(*)::BIGINT AS n,
      |    sum(CASE WHEN vb = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
      |    sum(CASE WHEN vb = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b,
      |    CAST(sum(CAST(x AS DECIMAL(38,10))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(y AS DECIMAL(38,10))) AS DOUBLE) AS sy,
      |    CAST(sum(CAST(x * x AS DECIMAL(38,10))) AS DOUBLE) AS sxx,
      |    CAST(sum(CAST(y * y AS DECIMAL(38,10))) AS DOUBLE) AS syy,
      |    CAST(sum(CAST(x * y AS DECIMAL(38,10))) AS DOUBLE) AS sxy,
      |    CAST(sum(CAST(CASE WHEN vb = 0 THEN x ELSE 0.0::DOUBLE END AS DECIMAL(38,10))) AS DOUBLE) AS sxa,
      |    CAST(sum(CAST(CASE WHEN vb = 1 THEN x ELSE 0.0::DOUBLE END AS DECIMAL(38,10))) AS DOUBLE) AS sxb,
      |    CAST(sum(CAST(CASE WHEN vb = 0 THEN y ELSE 0.0::DOUBLE END AS DECIMAL(38,10))) AS DOUBLE) AS sya,
      |    CAST(sum(CAST(CASE WHEN vb = 1 THEN y ELSE 0.0::DOUBLE END AS DECIMAL(38,10))) AS DOUBLE) AS syb
      |  FROM u)
      |SELECT n_a, n_b,
      |  round((sxy - sx * sy / n) / (sxx - sx * sx / n), 6) + 0.0 AS theta,
      |  round(sya / n_a, 6) + 0.0 AS mean_y_a,
      |  round(syb / n_b, 6) + 0.0 AS mean_y_b,
      |  round((sya - (round((sxy - sx * sy / n) / (sxx - sx * sx / n), 6) + 0.0)
      |    * (sxa - n_a * (sx / n))) / n_a, 6) + 0.0 AS mean_adj_a,
      |  round((syb - (round((sxy - sx * sy / n) / (sxx - sx * sx / n), 6) + 0.0)
      |    * (sxb - n_b * (sx / n))) / n_b, 6) + 0.0 AS mean_adj_b,
      |  round((sxy - sx * sy / n) * (sxy - sx * sy / n)
      |    / ((sxx - sx * sx / n) * (syy - sy * sy / n)), 6) + 0.0 AS var_reduction
      |FROM g""".stripMargin

  /** e_srm — sample-ratio-mismatch guardrail
    * ([[graft.pipeline.Sessions.srmCheck]], Fabijan et al. KDD 2019):
    * a DELIBERATELY skewed assignment (user_id % 10 == 0 as variant B
    * against a designed 50/50) so the chi-square fires and the gate
    * pins both the statistic and the raised flag; the mismatch
    * decision compares the ROUNDED chi2 to 3.841459. */
  val eSrm: Q = (s, d) =>
    graft.pipeline.Sessions.srmCheck(Tables.events(s, d),
      col("user_id") % 10 === 0)

  val eSrmSql: String =
    """WITH u AS (SELECT user_id,
      |    max(CASE WHEN user_id % 10 = 0 THEN 1 ELSE 0 END)::BIGINT AS vb
      |  FROM events GROUP BY user_id),
      |a AS (SELECT
      |    sum(CASE WHEN vb = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
      |    sum(CASE WHEN vb = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b
      |  FROM u),
      |c AS (SELECT *,
      |    (n_a + n_b)::DOUBLE * 0.5 AS eb,
      |    (n_a + n_b)::DOUBLE - (n_a + n_b)::DOUBLE * 0.5 AS ea
      |  FROM a),
      |z AS (SELECT *,
      |    round((n_a::DOUBLE - ea) * (n_a::DOUBLE - ea) / ea
      |      + (n_b::DOUBLE - eb) * (n_b::DOUBLE - eb) / eb, 6) + 0.0 AS c2
      |  FROM c)
      |SELECT n_a, n_b, round(eb, 6) + 0.0 AS expected_b, c2 AS chi2,
      |  (CASE WHEN c2 > 3.841459 THEN 1 ELSE 0 END)::INT AS srm
      |FROM z""".stripMargin

  /** e_did — difference-in-differences
    * ([[graft.pipeline.Sessions.diffInDiff]], Card & Krueger 1994's
    * two-period two-group form): treated = odd user_id, pre/post split
    * on the corpus's integer µs-midpoint (the e_cuped cutoff), balanced
    * panel (every user contributes 0 where inactive); the DiD estimate
    * rounds ONCE from the unrounded group means. */
  val eDid: Q = (s, d) =>
    graft.pipeline.Sessions.diffInDiff(Tables.events(s, d),
      col("user_id") % 2 === 1)

  val eDidSql: String =
    """WITH span AS (SELECT min(epoch_us(ts))::BIGINT AS lo,
      |    max(epoch_us(ts))::BIGINT AS hi FROM events),
      |u AS (SELECT user_id,
      |    round(CAST(sum(CAST(CASE WHEN epoch_us(ts) < (lo + hi) // 2
      |      THEN value ELSE 0.0::DOUBLE END AS DECIMAL(38,10))) AS DOUBLE), 4) AS x,
      |    round(CAST(sum(CAST(CASE WHEN epoch_us(ts) >= (lo + hi) // 2
      |      THEN value ELSE 0.0::DOUBLE END AS DECIMAL(38,10))) AS DOUBLE), 4) AS y,
      |    (user_id % 2)::BIGINT AS vb
      |  FROM events CROSS JOIN span GROUP BY user_id),
      |g AS (SELECT
      |    sum(CASE WHEN vb = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
      |    sum(CASE WHEN vb = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b,
      |    CAST(sum(CAST(CASE WHEN vb = 0 THEN x ELSE 0.0::DOUBLE END AS DECIMAL(38,10))) AS DOUBLE) AS sxa,
      |    CAST(sum(CAST(CASE WHEN vb = 1 THEN x ELSE 0.0::DOUBLE END AS DECIMAL(38,10))) AS DOUBLE) AS sxb,
      |    CAST(sum(CAST(CASE WHEN vb = 0 THEN y ELSE 0.0::DOUBLE END AS DECIMAL(38,10))) AS DOUBLE) AS sya,
      |    CAST(sum(CAST(CASE WHEN vb = 1 THEN y ELSE 0.0::DOUBLE END AS DECIMAL(38,10))) AS DOUBLE) AS syb
      |  FROM u)
      |SELECT n_a, n_b,
      |  round(sxa / n_a, 6) + 0.0 AS mean_pre_a,
      |  round(sya / n_a, 6) + 0.0 AS mean_post_a,
      |  round(sxb / n_b, 6) + 0.0 AS mean_pre_b,
      |  round(syb / n_b, 6) + 0.0 AS mean_post_b,
      |  round((syb / n_b - sxb / n_b) - (sya / n_a - sxa / n_a), 6) + 0.0 AS did
      |FROM g""".stripMargin

  /** e_ab_test — two-proportion z-test
    * ([[graft.pipeline.Sessions.abTest]]): variant B = odd user_id,
    * conversion = a >90-value purchase; pooled z with the significance
    * flag decided on the ROUNDED statistic. */
  val eAbTest: Q = (s, d) =>
    graft.pipeline.Sessions.abTest(Tables.events(s, d),
      col("user_id") % 2 === 1,
      col("event_type") === "purchase" && col("value") > 90)

  val eAbTestSql: String =
    """WITH u AS (SELECT user_id,
      |    max(CASE WHEN event_type = 'purchase' AND value > 90 THEN 1 ELSE 0 END)::BIGINT AS conv,
      |    (user_id % 2)::BIGINT AS vb
      |  FROM events GROUP BY user_id),
      |a AS (SELECT
      |    sum(CASE WHEN vb = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
      |    sum(CASE WHEN vb = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b,
      |    sum(CASE WHEN vb = 0 THEN conv ELSE 0 END)::BIGINT AS conv_a,
      |    sum(CASE WHEN vb = 1 THEN conv ELSE 0 END)::BIGINT AS conv_b
      |  FROM u),
      |z AS (SELECT *,
      |    round((conv_a::DOUBLE / n_a - conv_b::DOUBLE / n_b)
      |      / sqrt(((conv_a + conv_b)::DOUBLE / (n_a + n_b))
      |        * (1.0 - (conv_a + conv_b)::DOUBLE / (n_a + n_b))
      |        * (1.0 / n_a + 1.0 / n_b)), 6) + 0.0 AS zz
      |  FROM a)
      |SELECT n_a, n_b, conv_a, conv_b,
      |  round(conv_a::DOUBLE / n_a, 6) AS rate_a,
      |  round(conv_b::DOUBLE / n_b, 6) AS rate_b,
      |  zz AS z,
      |  (CASE WHEN abs(zz) > 1.959964 THEN 1 ELSE 0 END)::INT AS significant
      |FROM z""".stripMargin

  /** e_msprt — always-valid sequential test
    * ([[graft.pipeline.Sessions.msprt]], Johari et al. KDD 2017): the
    * mixture-SPRT log likelihood ratio over e_ab_test's exact counts
    * (variant B = odd user_id, conversion = >90-value purchase,
    * τ = 0.01 effect prior); emitted in LOG form (overflow-free), the
    * decision on the ROUNDED statistic vs ln(1/α); a rounded 6-decimal
    * statistic sits ≥ 2.7e-7 from the irrational threshold, so a ulp of
    * cross-libm ln() disagreement can never flip the flag. */
  val eMsprt: Q = (s, d) =>
    graft.pipeline.Sessions.msprt(Tables.events(s, d),
      col("user_id") % 2 === 1,
      col("event_type") === "purchase" && col("value") > 90)

  val eMsprtSql: String =
    """WITH u AS (SELECT user_id,
      |    max(CASE WHEN event_type = 'purchase' AND value > 90 THEN 1 ELSE 0 END)::BIGINT AS conv,
      |    (user_id % 2)::BIGINT AS vb
      |  FROM events GROUP BY user_id),
      |a AS (SELECT
      |    sum(CASE WHEN vb = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
      |    sum(CASE WHEN vb = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b,
      |    sum(CASE WHEN vb = 0 THEN conv ELSE 0 END)::BIGINT AS conv_a,
      |    sum(CASE WHEN vb = 1 THEN conv ELSE 0 END)::BIGINT AS conv_b
      |  FROM u),
      |m AS (SELECT *,
      |    (conv_a + conv_b)::DOUBLE / (n_a + n_b) AS pp,
      |    conv_b::DOUBLE / n_b - conv_a::DOUBLE / n_a AS eff
      |  FROM a),
      |v AS (SELECT *,
      |    pp * (1.0 - pp) * (1.0 / n_a + 1.0 / n_b) AS vv
      |  FROM m),
      |l AS (SELECT *,
      |    0.5 * ln(vv / (vv + 0.0001))
      |      + eff * eff * 0.0001 / (2.0 * vv * (vv + 0.0001)) AS ll
      |  FROM v)
      |SELECT n_a, n_b, conv_a, conv_b,
      |  round(eff, 6) + 0.0 AS effect,
      |  (CASE WHEN vv > 0 THEN round(ll, 6) ELSE 0.0 END) + 0.0 AS log_lambda,
      |  (CASE WHEN vv > 0 THEN round(least(1.0, exp(-ll)), 6) ELSE 1.0 END) + 0.0 AS p_always,
      |  (CASE WHEN vv > 0 AND round(ll, 6) >= ln(1.0 / 0.05)
      |    THEN 1 ELSE 0 END)::INT AS significant
      |FROM l""".stripMargin

  /** e_qte — quantile treatment effect
    * ([[graft.pipeline.Sessions.quantileTreatmentEffect]]): per-variant
    * p50/p90 of the per-user value mass on the st_ddsketch integer
    * log-bucket kernel, QTE = est_b − est_a in exact milli-units; the
    * oracle replays bucketing, the cum-count pick, and the midpoint
    * decode bucket-for-bucket. */
  val eQte: Q = (s, d) =>
    graft.pipeline.Sessions.quantileTreatmentEffect(Tables.events(s, d),
      col("user_id") % 2 === 1)

  val eQteSql: String =
    """WITH u AS (SELECT user_id,
      |    round(CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE), 4) AS y,
      |    (user_id % 2)::BIGINT AS vb
      |  FROM events GROUP BY user_id),
      |lvs AS (SELECT vb, greatest(floor(y * 1000), 0)::BIGINT AS lv FROM u),
      |ids AS (SELECT vb, CASE WHEN lv <= 63 THEN lv
      |    ELSE (length(bin(lv)) - 6)::BIGINT * 64 + (lv >> (length(bin(lv)) - 6)) END AS b
      |  FROM lvs),
      |cnt AS (SELECT vb, b, count(*)::BIGINT AS c FROM ids GROUP BY 1, 2),
      |n AS (SELECT vb, sum(c)::BIGINT AS n FROM cnt GROUP BY 1),
      |cum AS (SELECT vb, b,
      |    sum(c) OVER (PARTITION BY vb ORDER BY b)::BIGINT AS cum FROM cnt),
      |qs(q) AS (VALUES (50), (90)),
      |sel AS (SELECT c.vb, q.q::INT AS q, min(c.b) AS b
      |  FROM cum c JOIN n ON n.vb = c.vb CROSS JOIN qs q
      |  WHERE 100 * c.cum >= q.q * n.n
      |  GROUP BY c.vb, q.q),
      |est AS (SELECT vb, q,
      |  (CASE WHEN b <= 63 THEN b
      |    ELSE ((b % 64) * (1::BIGINT << (b // 64))
      |      + ((b % 64 + 1) * (1::BIGINT << (b // 64)) - 1)) // 2 END)::BIGINT
      |    AS est FROM sel)
      |SELECT q,
      |  max(CASE WHEN vb = 0 THEN est END)::BIGINT AS est_a_milli,
      |  max(CASE WHEN vb = 1 THEN est END)::BIGINT AS est_b_milli,
      |  (max(CASE WHEN vb = 1 THEN est END)
      |    - max(CASE WHEN vb = 0 THEN est END))::BIGINT AS qte_milli
      |FROM est GROUP BY q""".stripMargin

  /** e_paths — top 3-step event paths
    * ([[graft.pipeline.Sessions.topPaths]]): per-user consecutive
    * event-type trigrams in (ts, event_id) order, counted corpus-wide,
    * top 10 (ties → path) — the user-flow table behind a Sankey. */
  val ePaths: Q = (s, d) =>
    graft.pipeline.Sessions.topPaths(Tables.events(s, d))

  val ePathsSql: String =
    """WITH seq AS (SELECT user_id, event_type,
      |    lead(event_type, 1) OVER win AS e2,
      |    lead(event_type, 2) OVER win AS e3
      |  FROM events
      |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |paths AS (SELECT event_type || ' > ' || e2 || ' > ' || e3 AS path
      |  FROM seq WHERE e3 IS NOT NULL)
      |SELECT path, count(*)::BIGINT AS n,
      |  CAST(row_number() OVER (ORDER BY count(*) DESC, path) AS INT) AS rank
      |FROM paths GROUP BY path
      |QUALIFY rank <= 10""".stripMargin

  /** p_budget_fill — water-filling token-budget allocation
    * ([[graft.pipeline.Corpus.budgetFill]]): 80% of total tokens
    * spread over languages by sqrt-flattened weight, capping at
    * availability and redistributing the surplus (3 real cap rounds at
    * sf0.01 — small languages exhaust first under the flattening, so
    * the cascade is genuinely exercised; round 4 is the idempotent
    * no-op both sides unroll). */
  val pBudgetFill: Q = (s, d) => {
    val avail = Tables.documents(s, d)
      .select(col("lang").as("stratum"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n"))
      .groupBy("stratum").agg(sum(col("n")).as("avail"))
    Corpus.budgetFill(avail)
  }

  lazy val pBudgetFillSql: String = {
    def share(prev: String, a: String) =
      s"((((SELECT budget FROM b) - (SELECT coalesce(sum(CASE WHEN capped THEN alloc ELSE 0 END), 0) FROM $prev)) * $a.w) // " +
        s"greatest((SELECT coalesce(sum(CASE WHEN NOT capped THEN w ELSE 0 END), 0) FROM $prev), 1))"
    def roundOf(i: Int) = {
      val prev = s"r${i - 1}"
      s"""r$i AS MATERIALIZED (SELECT s.stratum, s.avail, s.w,
         |  s.capped OR ${share(prev, "s")} >= s.avail AS capped,
         |  CASE WHEN NOT s.capped AND ${share(prev, "s")} >= s.avail
         |    THEN s.avail ELSE s.alloc END AS alloc
         |  FROM $prev s)""".stripMargin
    }
    val nTok = s"CASE WHEN length($normSql) = 0 THEN 0 ELSE len(string_split($normSql, ' ')) END"
    s"""WITH avail AS (SELECT lang AS stratum, sum($nTok)::BIGINT AS avail
       |  FROM documents GROUP BY 1),
       |base AS (SELECT stratum, avail,
       |  CASE WHEN (w0 + 1) * (w0 + 1) <= avail THEN w0 + 1
       |    WHEN w0 * w0 > avail THEN w0 - 1 ELSE w0 END AS w
       |  FROM (SELECT *, floor(sqrt(avail::DOUBLE))::BIGINT AS w0 FROM avail)),
       |b AS (SELECT (sum(avail) * 8) // 10 AS budget FROM base),
       |r0 AS (SELECT stratum, avail, w, false AS capped, 0::BIGINT AS alloc FROM base),
       |${(1 to 4).map(roundOf).mkString(",\n")}
       |SELECT f.stratum, f.avail,
       |  (CASE WHEN f.capped THEN f.alloc ELSE least(${share("r4", "f")}, f.avail) END)::BIGINT AS alloc,
       |  f.capped::INT AS capped
       |FROM r4 f""".stripMargin
  }

  /** Train/test decontamination: 4-gram overlap of every corpus doc
    * against the benchmark slice (doc_id % 50 = 0). */
  val dContam: Q = (s, d) =>
    Corpus.contamination(Tables.documents(s, d), col("doc_id") % 50 === 0, k = 4)

  val dContamSql: String =
    s"""WITH sh AS (SELECT doc_id, ${shingleHashesSqlK(4)} AS hashes FROM documents),
       |benchh AS (SELECT DISTINCT unnest(hashes) AS h FROM sh WHERE doc_id % 50 = 0),
       |inv AS (SELECT doc_id, unnest(hashes) AS h FROM sh WHERE doc_id % 50 <> 0)
       |SELECT i.doc_id, count(*)::BIGINT AS n_shared
       |FROM inv i JOIN benchh b ON i.h = b.h GROUP BY i.doc_id""".stripMargin

  /** The WHOLE training-data prep in ONE declared query — the composition
    * a real run executes end-to-end: drop the benchmark slice → quality
    * gate → exact-dedup keeper → n-gram decontamination (any 4-shingle
    * overlap with the benchmark drops the doc) → deterministic stratified
    * sample by language → per-doc token counts. Three shuffles total
    * (dedup groupBy, contamination join, keeper re-join); the sample and
    * both filters are narrow. */
  val pTrainMix: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val bench = col("doc_id") % 50 === 0
    val keepers = docs
      .filter(!bench)
      .filter(TextFunctions.qualityScore(col("text")) >= 0.5)
      .withColumn("fp", md5(TextFunctions.normalize(col("text"))))
      .groupBy("fp").agg(min(col("doc_id")).as("doc_id"))
      .join(docs, "doc_id")
    val contaminated = Corpus.contamination(docs, bench, k = 4)
      .select("doc_id")
    val clean = keepers.join(contaminated, Seq("doc_id"), "left_anti")
    Corpus.stratifiedSample(clean, col("doc_id"), col("lang"),
        Map("en" -> 50, "zh" -> 30), defaultPct = 20)
      .select(col("doc_id"), col("lang"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
  }

  lazy val pTrainMixSql: String =
    s"""WITH nb AS (SELECT * FROM documents WHERE doc_id % 50 <> 0),
       |q AS (SELECT doc_id FROM nb WHERE $qualityExprSql >= 0.5),
       |k AS (SELECT md5($normSql) AS fp, min(d.doc_id) AS doc_id
       |      FROM q JOIN documents d USING (doc_id) GROUP BY 1),
       |sh AS (SELECT doc_id, ${shingleHashesSqlK(4)} AS hashes FROM documents),
       |benchh AS (SELECT DISTINCT unnest(hashes) AS h FROM sh WHERE doc_id % 50 = 0),
       |cont AS (SELECT DISTINCT i.doc_id FROM
       |         (SELECT doc_id, unnest(hashes) AS h FROM sh WHERE doc_id % 50 <> 0) i
       |         JOIN benchh b ON i.h = b.h),
       |clean AS (SELECT d.doc_id, d.lang, d.text FROM k JOIN documents d USING (doc_id)
       |          ANTI JOIN cont USING (doc_id))
       |SELECT doc_id, lang,
       |  (CASE WHEN length($normSql) = 0 THEN 0 ELSE len(string_split($normSql, ' ')) END)::BIGINT AS n_tokens
       |FROM clean
       |WHERE list_reduce(list_prepend(0::BIGINT,
       |        list_transform(string_split(doc_id::VARCHAR, ''), c -> ascii(c)::BIGINT)),
       |        (a, c) -> (a * 31 + c) % 2147483647) % 100
       |      < CASE WHEN lang = 'en' THEN 50 WHEN lang = 'zh' THEN 30 ELSE 20 END""".stripMargin

  /** Duplicated-span fraction per doc ([[Dedup.duplicatedSpanStats]],
    * k=8): the partial-overlap screen — whole-doc dedup misses a doc
    * that merely CONTAINS a big copied block. */
  val dSpanFrac: Q = (s, d) =>
    Dedup.duplicatedSpanStats(Tables.documents(s, d), k = 8)

  /** ExactSubstr-style span removal ([[Dedup.removeDuplicatedSpans]],
    * k=8): duplicated windows keep their first corpus occurrence, later
    * copies are cut token-by-token; reassembled docs hash-compared. */
  val dSpanRemoval: Q = (s, d) =>
    Dedup.removeDuplicatedSpans(Tables.documents(s, d), k = 8)
      .select(col("doc_id"), col("n_tokens"), col("n_removed"),
        md5(col("clean_text")).as("clean_md5"))

  lazy val dSpanRemovalSql: String = {
    val toks = s"string_split($normSql, ' ')"
    val rh = "list_reduce(list_prepend(0::BIGINT, " +
      "list_transform(string_split(sh, ''), c -> ascii(c)::BIGINT)), " +
      "(a, c) -> (a * 31 + c) % 2147483647)"
    s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
       |occ0 AS (SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS i FROM t),
       |occ AS (SELECT doc_id, (i - 1)::INT AS pos, $rh AS h FROM
       |  (SELECT doc_id, i, array_to_string(toks[i : i + 7], ' ') AS sh FROM occ0)),
       |dup AS (SELECT h, min(struct_pack(d := doc_id, p := pos)) AS fo
       |        FROM occ GROUP BY h HAVING count(*) >= 2),
       |drops AS (SELECT o.doc_id, o.pos AS p, o.pos + 8 AS e FROM occ o
       |          JOIN dup d ON o.h = d.h
       |          WHERE NOT (d.fo.d = o.doc_id AND d.fo.p = o.pos)),
       |tok AS (SELECT doc_id, (generate_subscripts(toks, 1) - 1)::INT AS p,
       |        unnest(toks) AS tok FROM t),
       |u AS (SELECT doc_id, p, e, 0 AS is_tok, NULL AS tok FROM drops
       |      UNION ALL SELECT doc_id, p, NULL, 1, tok FROM tok),
       |cov AS (SELECT doc_id, p, is_tok, tok, max(e) OVER (
       |          PARTITION BY doc_id ORDER BY p, is_tok
       |          ROWS UNBOUNDED PRECEDING) AS cv FROM u),
       |kept AS (SELECT doc_id, p, tok, (cv IS NULL OR cv <= p) AS keep
       |         FROM cov WHERE is_tok = 1)
       |SELECT doc_id, count(*)::BIGINT AS n_tokens,
       |  sum(CASE WHEN keep THEN 0 ELSE 1 END)::BIGINT AS n_removed,
       |  md5(coalesce(string_agg(tok, ' ' ORDER BY p) FILTER (WHERE keep), '')) AS clean_md5
       |FROM kept GROUP BY doc_id""".stripMargin
  }

  lazy val dSpanFracSql: String =
    s"""WITH sh AS (SELECT doc_id, ${shingleHashesSqlK(8)} AS hashes FROM documents),
       |inv AS (SELECT doc_id, unnest(hashes) AS h FROM sh),
       |dup AS (SELECT h FROM inv GROUP BY h HAVING count(*) >= 2),
       |nd AS (SELECT doc_id, count(*)::BIGINT AS n_dup FROM inv JOIN dup USING (h) GROUP BY doc_id)
       |SELECT s.doc_id, len(s.hashes)::BIGINT AS n_shingles,
       |  coalesce(n.n_dup, 0)::BIGINT AS n_dup,
       |  round(coalesce(n.n_dup, 0)::DOUBLE / len(s.hashes), 4) AS dup_frac
       |FROM sh s LEFT JOIN nd n USING (doc_id)""".stripMargin

  /** Top-3 tf-idf terms per document. */
  val tTfidf: Q = (s, d) =>
    Corpus.tfIdfTopTerms(Tables.documents(s, d), n = 3)

  val tTfidfSql: String =
    s"""WITH toks AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS term FROM documents),
       |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks WHERE term <> '' GROUP BY 1, 2),
       |idf AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
       |n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
       |scored AS (SELECT doc_id, term, round(tf * ln(n_docs / df), 4) AS score
       |           FROM tf JOIN idf USING (term), n),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk FROM scored)
       |SELECT doc_id, term, score, rk::BIGINT AS rk FROM ranked WHERE rk <= 3""".stripMargin

  /** Deterministic per-language stratified sample over the shared rolling
    * hash (en 50%, zh 30%, rest 20%). */
  val pSampleStrat: Q = (s, d) =>
    Corpus.stratifiedSample(Tables.documents(s, d), col("doc_id"), col("lang"),
        Map("en" -> 50, "zh" -> 30), defaultPct = 20)
      .select(col("doc_id"), col("lang"), col("source"))

  val pSampleStratSql: String =
    """SELECT doc_id, lang, source FROM documents
      |WHERE list_reduce(list_prepend(0::BIGINT,
      |        list_transform(string_split(doc_id::VARCHAR, ''), c -> ascii(c)::BIGINT)),
      |        (a, c) -> (a * 31 + c) % 2147483647) % 100
      |      < CASE WHEN lang = 'en' THEN 50 WHEN lang = 'zh' THEN 30 ELSE 20 END""".stripMargin

  /** Gopher-style repetition screens per document. */
  val tRepetition: Q = (s, d) =>
    Corpus.repetitionStats(Tables.documents(s, d))

  val tRepetitionSql: String = {
    val toks = s"string_split($normSql, ' ')"
    s"""WITH toks AS (SELECT doc_id, $toks AS t FROM documents),
       |base AS (SELECT doc_id, len(t)::BIGINT AS n_tokens, len(list_distinct(t))::BIGINT AS n_distinct FROM toks),
       |bi AS (SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
       |       FROM toks WHERE len(t) >= 2),
       |top AS (SELECT doc_id, max(c)::BIGINT AS top_bg, sum(c)::BIGINT AS n_bg
       |        FROM (SELECT doc_id, bg, count(*) AS c FROM bi GROUP BY 1, 2) GROUP BY 1)
       |SELECT b.doc_id, round(1 - n_distinct::DOUBLE / n_tokens, 4) AS dup_word_frac,
       |  coalesce(round(top_bg::DOUBLE / n_bg, 4), 0.0) AS top_bigram_frac
       |FROM base b LEFT JOIN top USING (doc_id)""".stripMargin
  }

  /** t_ngram_rep — top n-gram repetition screens, n ∈ {2,3,4}
    * ([[graft.pipeline.Corpus.topNgramFracs]], the remaining Gopher
    * A1.1 repetition rows): per-doc fraction of CHARACTERS contained
    * within the most frequent n-gram's occurrences (r14 — the statistic
    * the published 0.20/0.18/0.16 thresholds are defined over), exact
    * integer ppm over the normalized token stream, deciding integerly. */
  val tNgramRep: Q = (s, d) =>
    Corpus.topNgramFracs(Tables.documents(s, d))

  val tNgramRepSql: String = {
    val toks = s"string_split($normSql, ' ')"
    def gramCte(n: Int) =
      s"""g$n AS (SELECT doc_id, $n AS n,
         |  unnest(list_transform(range(1, len(t) - ${n - 2}),
         |    i -> ${(0 until n).map(k => s"t[i+$k]").mkString(" || ' ' || ")})) AS gram
         |  FROM toks WHERE len(t) >= $n)""".stripMargin
    s"""WITH toks AS (SELECT doc_id, $toks AS t FROM documents),
       |${(2 to 4).map(gramCte).mkString(",\n")},
       |allg AS (SELECT * FROM g2 UNION ALL SELECT * FROM g3 UNION ALL SELECT * FROM g4),
       |cnt AS (SELECT doc_id, n, gram, count(*)::BIGINT AS c FROM allg GROUP BY 1, 2, 3),
       |mx AS (SELECT doc_id, n, max(c)::BIGINT AS mc FROM cnt GROUP BY 1, 2),
       |top AS (SELECT c.doc_id, c.n, m.mc,
       |    max(length(c.gram))::BIGINT AS gl
       |  FROM cnt c JOIN mx m ON m.doc_id = c.doc_id AND m.n = c.n
       |    AND c.c = m.mc
       |  GROUP BY 1, 2, 3),
       |dl AS (SELECT doc_id, length(array_to_string(t, ' '))::BIGINT AS dl
       |  FROM toks),
       |wide AS (SELECT t.doc_id,
       |    max(CASE WHEN n = 2 THEN 1000000 * mc * gl // dl END) AS p2,
       |    max(CASE WHEN n = 3 THEN 1000000 * mc * gl // dl END) AS p3,
       |    max(CASE WHEN n = 4 THEN 1000000 * mc * gl // dl END) AS p4
       |  FROM top t JOIN dl ON dl.doc_id = t.doc_id GROUP BY 1)
       |SELECT d.doc_id,
       |  coalesce(w.p2, 0)::BIGINT AS top2_ppm,
       |  coalesce(w.p3, 0)::BIGINT AS top3_ppm,
       |  coalesce(w.p4, 0)::BIGINT AS top4_ppm,
       |  (CASE WHEN coalesce(w.p2, 0) <= 200000 AND coalesce(w.p3, 0) <= 180000
       |     AND coalesce(w.p4, 0) <= 160000 THEN 1 ELSE 0 END)::INT AS keep
       |FROM documents d LEFT JOIN wide w ON w.doc_id = d.doc_id""".stripMargin
  }

  /** t_dupline — duplicate-line repetition screens
    * ([[graft.pipeline.Corpus.dupLineStats]], Gopher A1.1 rows 1/3):
    * the corpus text is single-line, so the gate synthesizes line
    * structure IN-PLAN — every 2 normalized tokens become one line
    * (the ~30-word vocabulary makes 2-token lines collide naturally,
    * so both ppm columns are non-degenerate) — and the oracle rebuilds
    * the identical lines with list_slice. Repeat lines and their
    * characters as exact integer ppm, keep at the published 0.30/0.20
    * thresholds. */
  val tDupline: Q = (s, d) => {
    val lined = Tables.documents(s, d)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("t"))
      .select(col("doc_id"), array_join(expr(
        "transform(sequence(0, (size(t) - 1) div 2), " +
          "g -> array_join(slice(t, g * 2 + 1, 2), ' '))"), "\n")
        .as("text"))
    Corpus.dupLineStats(lined)
  }

  val tDuplineSql: String = {
    val toks = s"string_split($normSql, ' ')"
    s"""WITH toks AS (SELECT doc_id, $toks AS t FROM documents),
       |lines AS (SELECT doc_id,
       |    unnest(list_transform(range(0, (len(t) - 1) // 2 + 1),
       |      g -> array_to_string(list_slice(t, g * 2 + 1, g * 2 + 2), ' '))) AS line
       |  FROM toks),
       |pl AS (SELECT doc_id, line, count(*)::BIGINT AS c,
       |    length(line)::BIGINT AS l FROM lines GROUP BY 1, 2),
       |pd AS (SELECT doc_id, sum(c)::BIGINT AS n_lines,
       |    sum(c - 1)::BIGINT AS dup_lines,
       |    sum(c * l)::BIGINT AS tot_chars,
       |    sum((c - 1) * l)::BIGINT AS dup_chars
       |  FROM pl GROUP BY 1),
       |pp AS (SELECT doc_id,
       |    coalesce(1000000 * dup_lines // n_lines, 0)::BIGINT AS dup_line_ppm,
       |    coalesce(CASE WHEN tot_chars > 0
       |      THEN 1000000 * dup_chars // tot_chars END, 0)::BIGINT AS dup_char_ppm
       |  FROM pd)
       |SELECT d.doc_id,
       |  coalesce(p.dup_line_ppm, 0)::BIGINT AS dup_line_ppm,
       |  coalesce(p.dup_char_ppm, 0)::BIGINT AS dup_char_ppm,
       |  (CASE WHEN coalesce(p.dup_line_ppm, 0) <= 300000
       |     AND coalesce(p.dup_char_ppm, 0) <= 200000
       |   THEN 1 ELSE 0 END)::INT AS keep
       |FROM documents d LEFT JOIN pp p ON p.doc_id = d.doc_id""".stripMargin
  }

  /** t_dupgram — duplicated 5..10-gram character fractions
    * ([[graft.pipeline.Corpus.dupNgramFracs]], Gopher A1.1 rows 6–10 —
    * the long-range copy-paste screens beside t_ngram_rep's top-gram
    * rows 3–5): characters carried by n-grams occurring more than once,
    * integer ppm against the shared normalized denominator; keep when
    * every n passes its published threshold. The word-soup corpus has
    * no natural repeated 5-grams (an all-zero gate would be
    * degenerate), so every doc_id%3==0 document gets its own first 12
    * tokens APPENDED in-plan — a planted copy-paste span the screens
    * must price at every n; the oracle replays the append. */
  val tDupgram: Q = (s, d) => {
    val t0 = TextFunctions.tokens(col("text"))
    val planted = Tables.documents(s, d)
      .select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" "),
            array_join(slice(t0, 1, 12), " ")))
          .otherwise(col("text")).as("text"))
    Corpus.dupNgramFracs(planted)
  }

  val tDupgramSql: String = {
    def gramCte(n: Int) =
      s"""g$n AS (SELECT doc_id, $n AS n,
         |  unnest(list_transform(range(1, len(t) - ${n - 2}),
         |    i -> ${(0 until n).map(k => s"t[i+$k]").mkString(" || ' ' || ")})) AS gram
         |  FROM toks WHERE len(t) >= $n)""".stripMargin
    val thresholds = Map(5 -> 150000L, 6 -> 140000L, 7 -> 130000L,
      8 -> 120000L, 9 -> 110000L, 10 -> 100000L)
    s"""WITH base AS (SELECT doc_id, $normSql AS nt FROM documents),
       |toks AS (SELECT doc_id, string_split(
       |    CASE WHEN doc_id % 3 = 0 AND length(nt) > 0
       |      THEN nt || ' ' || array_to_string(
       |        list_slice(string_split(nt, ' '), 1, 12), ' ')
       |      ELSE nt END, ' ') AS t FROM base),
       |${(5 to 10).map(gramCte).mkString(",\n")},
       |allg AS (${(5 to 10).map(n => s"SELECT * FROM g$n").mkString(" UNION ALL ")}),
       |cnt AS (SELECT doc_id, n, gram, count(*)::BIGINT AS c
       |  FROM allg GROUP BY 1, 2, 3),
       |dup AS (SELECT doc_id, n, sum(c * length(gram))::BIGINT AS dc
       |  FROM cnt WHERE c >= 2 GROUP BY 1, 2),
       |dl AS (SELECT doc_id, length(array_to_string(t, ' '))::BIGINT AS dl
       |  FROM toks),
       |wide AS (SELECT u.doc_id,
       |${(5 to 10).map(n =>
           s"    max(CASE WHEN n = $n THEN 1000000 * dc // dl END) AS p$n")
          .mkString(",\n")}
       |  FROM dup u JOIN dl ON dl.doc_id = u.doc_id GROUP BY 1)
       |SELECT d.doc_id,
       |${(5 to 10).map(n =>
           s"  coalesce(w.p$n, 0)::BIGINT AS dup${n}_ppm").mkString(",\n")},
       |  (CASE WHEN ${(5 to 10).map(n =>
            s"coalesce(w.p$n, 0) <= ${thresholds(n)}").mkString(" AND ")}
       |   THEN 1 ELSE 0 END)::INT AS keep
       |FROM documents d LEFT JOIN wide w ON w.doc_id = d.doc_id""".stripMargin
  }

  /** Corpus curation: keep the top-5 documents per language by quality
    * score (the "best N per stratum" selection step of corpus mixing). */
  val pBestPerLang: Q = (s, d) => {
    val w = Window.partitionBy("lang").orderBy(col("quality").desc, col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        TextFunctions.qualityScore(col("text")).as("quality"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 5)
  }

  val pBestPerLangSql: String =
    s"""WITH scored AS (SELECT doc_id, lang, $qualityExprSql AS quality FROM documents),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS rk FROM scored)
       |SELECT doc_id, lang, quality, rk::BIGINT AS rk FROM ranked WHERE rk <= 5""".stripMargin

  /** Per-label mean embedding in long format — the centroid-UPDATE step
    * of distributed k-means (the assignment step is `s_ivf_ann`'s
    * shape); together they make one Lloyd iteration. Decimal-routed sums
    * so the cross-row reduction is order-independent. */
  val sCentroids: Q = (s, d) =>
    Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim").cast("long").as("dim"))
      .agg(round(
        sum(col("v").cast("double").cast("decimal(25,10)")).cast("double")
          / count(lit(1)), 4).as("mean_v"))

  val sCentroidsSql: String =
    """SELECT label, dim, round(CAST(sum(CAST(v AS DECIMAL(25,10))) AS DOUBLE) / count(*), 4) + 0.0 AS mean_v
      |FROM (SELECT label, unnest(range(0, 64)) AS dim, unnest(embedding)::DOUBLE AS v FROM embeddings)
      |GROUP BY label, dim""".stripMargin

  /** Token-budget chunking: assign docs (in doc_id order) to ~2048-token
    * training chunks by running total. Partitioned by a doc_id shard so
    * the window never funnels the corpus through one reducer — chunk ids
    * are (shard, within-shard) composites, and chunk boundaries simply
    * don't cross shards (exactly how a real packing job is sharded). */
  val pPackChunks: Q = (s, d) => {
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, d)
      .select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
        (col("doc_id") / 1000).cast("long").as("shard"))
      .withColumn("cum", sum("n_tokens").over(w))
      .withColumn("chunk_id",
        // shard stride 2^32: within-shard chunk counts can never reach it
        // (2^32 chunks × 2048 tokens ≫ any 1000-doc shard), and the Long
        // id space then holds 2^31 shards ≈ 2×10^12 docs — beyond the
        // 100 TB envelope (a 2^40 stride overflowed at ~8.4B docs)
        (col("shard") * lit(1L << 32) + expr("(cum - n_tokens) div 2048"))
          .cast("long"))
      .select("doc_id", "n_tokens", "chunk_id")
  }

  val pPackChunksSql: String =
    s"""WITH t AS (SELECT doc_id,
       |  (CASE WHEN length($normSql) = 0 THEN 0 ELSE len(string_split($normSql, ' ')) END)::BIGINT AS n_tokens,
       |  doc_id // 1000 AS shard FROM documents),
       |c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM t)
       |SELECT doc_id, n_tokens, (shard * 4294967296 + (cum - n_tokens) // 2048)::BIGINT AS chunk_id FROM c""".stripMargin

  /** PII redaction ([[Corpus.piiRedact]]). The corpus text is augmented
    * with deterministic per-doc PII (email + IP + phone derived from
    * doc_id) so the scrub is exercised on every row — the synthetic
    * documents contain none of their own. Hash-compared on the redacted
    * text, so both engines must match the exact replacement spans. */
  val tPiiRedact: Q = (s, d) =>
    Corpus.piiRedact(
      Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"),
          lit(" Contact user"), col("doc_id").cast("string"),
          lit("@example.com or 10.0."),
          pmod(col("doc_id"), lit(256)).cast("string"),
          lit(".7, tel 555-123-4567.")).as("text")),
      col("text"))
    .select(col("doc_id"), col("n_emails"), col("n_ips"), col("n_phones"),
      md5(col("redacted")).as("redacted_md5"))

  val tPiiRedactSql: String = {
    val (e, i, p) = (Corpus.emailRe, Corpus.ipv4Re, Corpus.phoneRe)
    s"""WITH aug AS (SELECT doc_id, text || ' Contact user' || doc_id ||
       |  '@example.com or 10.0.' || (doc_id % 256) || '.7, tel 555-123-4567.' AS text FROM documents),
       |r1 AS (SELECT doc_id, text, regexp_replace(text, '$e', '<EMAIL>', 'g') AS t1 FROM aug),
       |r2 AS (SELECT doc_id, text, t1, regexp_replace(t1, '$i', '<IP>', 'g') AS t2 FROM r1)
       |SELECT doc_id,
       |  len(regexp_extract_all(text, '$e'))::BIGINT AS n_emails,
       |  len(regexp_extract_all(t1, '$i'))::BIGINT AS n_ips,
       |  len(regexp_extract_all(t2, '$p'))::BIGINT AS n_phones,
       |  md5(regexp_replace(t2, '$p', '<PHONE>', 'g')) AS redacted_md5
       |FROM r2""".stripMargin
  }

  /** Cross-document boilerplate-line removal ([[Corpus.stripBoilerplate]]
    * with minDocs=2): lines shared by ≥2 docs drop everywhere, docs are
    * reassembled in line order, hash-compared. */
  val dBoilerplate: Q = (s, d) =>
    Corpus.stripBoilerplate(Tables.documents(s, d), minDocs = 2)
      .select(col("doc_id"), col("n_kept"), col("n_removed"),
        md5(col("clean_text")).as("clean_md5"))

  val dBoilerplateSql: String =
    """WITH l AS (SELECT doc_id, generate_subscripts(sl, 1) AS pos, unnest(sl) AS line
      |  FROM (SELECT doc_id, string_split(text, chr(10)) AS sl FROM documents)),
      |b AS (SELECT line FROM l WHERE trim(line) <> '' GROUP BY line HAVING count(DISTINCT doc_id) >= 2),
      |f AS (SELECT l.doc_id, l.pos, l.line, b.line IS NOT NULL AS is_b FROM l LEFT JOIN b ON l.line = b.line)
      |SELECT doc_id,
      |  (count(*) FILTER (WHERE NOT is_b))::BIGINT AS n_kept,
      |  (count(*) FILTER (WHERE is_b))::BIGINT AS n_removed,
      |  md5(string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE NOT is_b)) AS clean_md5
      |FROM f GROUP BY doc_id HAVING (count(*) FILTER (WHERE NOT is_b)) >= 1""".stripMargin

  /** Runtime-filter pruned semi-join ([[graft.ops.RuntimeFilters]]): fact
    * rows are dropped by a bloom filter over the filtered dimension keys
    * BEFORE the shuffle, then the exact semi-join removes false positives
    * — so the oracle is the plain semi-join, which the result must equal
    * bit-for-bit regardless of bloom sizing. */
  val q17BloomSemi: Q = (s, d) =>
    graft.ops.RuntimeFilters.bloomPrunedSemiJoin(
      Tables.lineitem(s, d), col("l_orderkey"),
      Tables.orders(s, d).filter(col("o_totalprice") > 150000), col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))

  val q17BloomSemiSql: String =
    """SELECT l_returnflag, count(*)::BIGINT AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 150000)
      |GROUP BY l_returnflag""".stripMargin

  // ------------------------------------------------------------- round 6

  /** Co-purchase graph for triangle counting: parts appearing together
    * in ≥2 distinct orders, as canonical a<b pairs. One self-join on
    * l_orderkey (within-order pairs only — never cross-catalog) plus a
    * count aggregation; at scale the per-order fan-out is bounded by
    * order size, not corpus size. */
  /** Canonical (src<dst) co-purchase pairs — a parquet scan of the
    * persisted derived table ([[GraphTables.coPurchase]]), not a
    * per-query lineitem self-join. */
  private def coPurchaseEdges(s: SparkSession, d: String): DataFrame =
    GraphTables.coPurchase(s, d).select(col("src"), col("dst"))

  /** q80_densest — DENSEST-SUBGRAPH peeling profile over the
    * co-purchase graph ([[graft.enrich.Analytics.densestSubgraph]],
    * Charikar 2000 greedy via Bahmani et al. 2012's parallel rounds):
    * each round removes every vertex with deg·|V|·10 ≤ 2·|E|·11 — the
    * (1+ε) ε = 1/10 threshold whose handshake bound guarantees
    * geometric vertex shrink (r14; exact integers); the best-density
    * survivor set is a 2(1+ε)-approx densest subgraph. The oracle
    * unrolls all 24 round CTEs (the ε-slack converges FASTER than the
    * old exact-average peel, which took ≤ 11 at sf0.1); rows only for
    * non-empty rounds; best picked by exact-rational density (IEEE
    * division of exact integers, earliest-round tie-break). */
  val q80Densest: Q = (s, d) =>
    graft.enrich.Analytics.densestSubgraph(
      GraphTables.coPurchase(s, d).select(col("src"), col("dst")))

  val q80DensestSql: String = {
    def roundSql(r: Int): String =
      s"""d$r AS (SELECT src AS v, count(*)::BIGINT AS deg FROM u${r - 1} GROUP BY 1),
         |v$r AS MATERIALIZED (SELECT vv.v FROM v${r - 1} vv
         |  LEFT JOIN d$r d ON d.v = vv.v CROSS JOIN s${r - 1} s
         |  WHERE coalesce(d.deg, 0) * s.nv * 10 > 2 * s.ne * 11),
         |u$r AS MATERIALIZED (SELECT u.src, u.dst FROM u${r - 1} u
         |  JOIN v$r x ON u.src = x.v JOIN v$r y ON u.dst = y.v),
         |s$r AS MATERIALIZED (SELECT $r AS round,
         |  (SELECT count(*) FROM v$r)::BIGINT AS nv,
         |  (SELECT count(*) FROM u$r)::BIGINT // 2 AS ne)""".stripMargin
    val rounds = (1 to 24).map(roundSql).mkString(",\n")
    val union = (0 to 24).map(r => s"SELECT * FROM s$r").mkString(" UNION ALL ")
    s"""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |e AS MATERIALIZED (SELECT a.l_partkey::BIGINT AS a, b.l_partkey::BIGINT AS b
       |  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
       |    AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |u0 AS MATERIALIZED (SELECT a AS src, b AS dst FROM e
       |  UNION ALL SELECT b, a FROM e),
       |v0 AS MATERIALIZED (SELECT DISTINCT src AS v FROM u0),
       |s0 AS MATERIALIZED (SELECT 0 AS round,
       |  (SELECT count(*) FROM v0)::BIGINT AS nv,
       |  (SELECT count(*) FROM u0)::BIGINT // 2 AS ne),
       |$rounds,
       |st AS MATERIALIZED ($union),
       |best AS (SELECT round FROM st WHERE nv > 0
       |  ORDER BY ne::DOUBLE / nv DESC, round ASC LIMIT 1)
       |SELECT s.round::INT AS round, s.nv AS n_vertices, s.ne AS n_edges,
       |  (1000 * s.ne // s.nv)::BIGINT AS density_milli,
       |  (CASE WHEN s.round = b.round THEN 1 ELSE 0 END)::INT AS best
       |FROM st s CROSS JOIN best b WHERE s.nv > 0""".stripMargin
  }

  /** Per-vertex triangle counts over the co-purchase graph
    * ([[graft.enrich.Analytics.triangleCounts]], degree-ordered
    * orientation). The oracle replays a plain id-ordered 3-way join —
    * valid because the triangle set is orientation-invariant. */
  val q24Triangles: Q = (s, d) =>
    graft.enrich.Analytics.triangleCounts(coPurchaseEdges(s, d))

  /** GraphX TriangleCount variant — same edges, same per-vertex counts,
    * same oracle. */
  val q24TrianglesGx: Q = (s, d) =>
    graft.enrich.Analytics.triangleCountsGraphX(s, coPurchaseEdges(s, d))

  /** q64 — deterministic random walks over the co-purchase graph
    * ([[graft.enrich.Analytics.deterministicWalks]]): 2 walks × 4 steps
    * from every vertex, next hop = argmin of a keyed integer hash — the
    * DeepWalk/node2vec corpus generator, retry-stable and
    * oracle-replayable. The oracle unrolls the 4 steps, reproducing the
    * exact (hash, neighbor) argmin per (start, walk). */
  val q64Walks: Q = (s, d) =>
    graft.enrich.Analytics.deterministicWalks(coPurchaseEdges(s, d),
      walks = 2, steps = 4)

  private def walkStepSql(i: Int): String =
    s"""s$i AS MATERIALIZED (SELECT start_id, walk, node FROM (
       |  SELECT f.start_id, f.walk, u.dst AS node,
       |    row_number() OVER (PARTITION BY f.start_id, f.walk ORDER BY
       |      (u.src::BIGINT * 1000003 + f.walk::BIGINT * 8191
       |       + $i * 131071 + u.dst::BIGINT * 31) % 2147483647, u.dst) AS rn
       |  FROM s${i - 1} f JOIN und u ON u.src = f.node) WHERE rn = 1)""".stripMargin

  lazy val q64WalksSql: String =
    s"""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |e AS (SELECT a.l_partkey AS a, b.l_partkey AS b FROM op a JOIN op b
       |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |      GROUP BY 1, 2 HAVING count(*) >= 2),
       |und AS MATERIALIZED (SELECT a AS src, b AS dst FROM e UNION SELECT b, a FROM e),
       |s0 AS (SELECT v AS start_id, j AS walk, v AS node FROM
       |  (SELECT DISTINCT src AS v FROM und), range(0, 2) t(j)),
       |${(1 to 4).map(walkStepSql).mkString(",\n")}
       |SELECT start_id::BIGINT AS start_id, walk::BIGINT AS walk,
       |  i::BIGINT AS step, node::BIGINT AS node FROM (
       |  SELECT start_id, walk, 0 AS i, node FROM s0
       |  UNION ALL SELECT start_id, walk, 1, node FROM s1
       |  UNION ALL SELECT start_id, walk, 2, node FROM s2
       |  UNION ALL SELECT start_id, walk, 3, node FROM s3
       |  UNION ALL SELECT start_id, walk, 4, node FROM s4)""".stripMargin

  /** q65 — greedy maximal matching on the co-purchase graph
    * ([[graft.enrich.Analytics.maximalMatching]]): per round an edge
    * matches iff its (h, src, dst) priority is the minimum at BOTH
    * endpoints; matched vertices drop; repeat to fixpoint. The oracle
    * unrolls 15 rounds (converged rounds no-op). */
  val q65Matching: Q = (s, d) =>
    graft.enrich.Analytics.maximalMatching(coPurchaseEdges(s, d))

  private def matchRoundSql(i: Int): String =
    s"""mv$i AS MATERIALIZED (SELECT v, min(k) AS mv FROM (
       |  SELECT src AS v, (h, src, dst) AS k FROM r${i - 1}
       |  UNION ALL SELECT dst, (h, src, dst) FROM r${i - 1}) GROUP BY v),
       |m$i AS MATERIALIZED (SELECT e.src, e.dst FROM r${i - 1} e
       |  JOIN mv$i a ON a.v = e.src AND a.mv = (e.h, e.src, e.dst)
       |  JOIN mv$i b ON b.v = e.dst AND b.mv = (e.h, e.src, e.dst)),
       |r$i AS MATERIALIZED (SELECT e.* FROM r${i - 1} e
       |  ANTI JOIN (SELECT src AS v FROM m$i UNION ALL SELECT dst FROM m$i) x ON e.src = x.v
       |  ANTI JOIN (SELECT src AS v FROM m$i UNION ALL SELECT dst FROM m$i) y ON e.dst = y.v)""".stripMargin

  lazy val q65MatchingSql: String =
    s"""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |e AS (SELECT a.l_partkey AS a, b.l_partkey AS b FROM op a JOIN op b
       |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |      GROUP BY 1, 2 HAVING count(*) >= 2),
       |r0 AS MATERIALIZED (SELECT a::BIGINT AS src, b::BIGINT AS dst,
       |    ((a::BIGINT * 999983 + b::BIGINT * 2654435761) % 1000003)
       |      * ((a::BIGINT * 999983 + b::BIGINT * 2654435761) % 1000003)
       |      % 2147483647 AS h
       |  FROM e),
       |${(1 to 15).map(matchRoundSql).mkString(",\n")}
       |${(1 to 15).map(i => s"SELECT src, dst FROM m$i").mkString("\nUNION ALL ")}""".stripMargin

  /** q71 — 2-approximate minimum vertex cover on the co-purchase graph
    * ([[graft.enrich.Analytics.vertexCover2Approx]], Gavril): the
    * distinct endpoints of q65's deterministic maximal matching; shares
    * its 15-round unrolled machinery. */
  val q71Vc: Q = (s, d) =>
    graft.enrich.Analytics.vertexCover2Approx(coPurchaseEdges(s, d))

  lazy val q71VcSql: String =
    s"""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |e AS (SELECT a.l_partkey AS a, b.l_partkey AS b FROM op a JOIN op b
       |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |      GROUP BY 1, 2 HAVING count(*) >= 2),
       |r0 AS MATERIALIZED (SELECT a::BIGINT AS src, b::BIGINT AS dst,
       |    ((a::BIGINT * 999983 + b::BIGINT * 2654435761) % 1000003)
       |      * ((a::BIGINT * 999983 + b::BIGINT * 2654435761) % 1000003)
       |      % 2147483647 AS h
       |  FROM e),
       |${(1 to 15).map(matchRoundSql).mkString(",\n")}
       |SELECT DISTINCT v FROM (
       |  ${(1 to 15).map(i =>
             s"SELECT src AS v FROM m$i UNION ALL SELECT dst FROM m$i")
           .mkString("\n  UNION ALL ")})""".stripMargin

  /** q67 — deterministic maximal independent set on the co-purchase
    * graph ([[graft.enrich.Analytics.maximalIndependentSet]], Luby
    * priorities): per round a vertex wins iff its (hash, id) key beats
    * every remaining neighbor's; winners + neighborhoods drop. The
    * oracle unrolls 15 rounds (converged rounds no-op). */
  val q67Mis: Q = (s, d) =>
    graft.enrich.Analytics.maximalIndependentSet(coPurchaseEdges(s, d))

  /** GraphX twin — same priorities and rounds, same oracle. */
  val q67MisGx: Q = (s, d) =>
    graft.enrich.Analytics.maximalIndependentSetGraphX(s, coPurchaseEdges(s, d))

  private def misRoundSql(i: Int): String =
    s"""nk$i AS MATERIALIZED (SELECT u.dst AS v, min((k.h, k.v)) AS nk
       |  FROM u${i - 1} u JOIN v${i - 1} k ON k.v = u.src GROUP BY u.dst),
       |w$i AS MATERIALIZED (SELECT k.v FROM v${i - 1} k
       |  LEFT JOIN nk$i n ON n.v = k.v
       |  WHERE n.v IS NULL OR (k.h, k.v) < n.nk),
       |d$i AS MATERIALIZED (SELECT v FROM w$i
       |  UNION SELECT u.dst FROM u${i - 1} u JOIN w$i w ON u.src = w.v),
       |v$i AS MATERIALIZED (SELECT k.* FROM v${i - 1} k
       |  ANTI JOIN d$i d ON k.v = d.v),
       |u$i AS MATERIALIZED (SELECT u.* FROM u${i - 1} u
       |  JOIN v$i a ON a.v = u.src JOIN v$i b ON b.v = u.dst)""".stripMargin

  lazy val q67MisSql: String =
    s"""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |e AS (SELECT a.l_partkey AS a, b.l_partkey AS b FROM op a JOIN op b
       |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |      GROUP BY 1, 2 HAVING count(*) >= 2),
       |u0 AS MATERIALIZED (SELECT a::BIGINT AS src, b::BIGINT AS dst FROM e
       |      UNION SELECT b::BIGINT, a::BIGINT FROM e),
       |v0 AS MATERIALIZED (SELECT v,
       |    ((v * 999983 + 2654435761) % 1000003)
       |      * ((v * 999983 + 2654435761) % 1000003) % 2147483647 AS h
       |  FROM (SELECT DISTINCT src AS v FROM u0)),
       |${(1 to 15).map(misRoundSql).mkString(",\n")}
       |${(1 to 15).map(i => s"SELECT v FROM w$i").mkString("\nUNION ALL ")}""".stripMargin

  /** q68 — Jones-Plassmann greedy coloring of the co-purchase graph
    * ([[graft.enrich.Analytics.jpColoring]]): per round, local-max
    * priority vertices take the smallest color absent from their
    * colored neighborhoods. The oracle unrolls 18 rounds (sf0.01 needs
    * 13, sf0.1 needs 5). */
  val q68Coloring: Q = (s, d) =>
    graft.enrich.Analytics.jpColoring(coPurchaseEdges(s, d))

  private def jpRoundSql(i: Int): String =
    s"""nk$i AS MATERIALIZED (SELECT u.dst AS v, max((k.h, k.v)) AS nk
       |  FROM u0 u JOIN uc${i - 1} k ON k.v = u.src GROUP BY u.dst),
       |w$i AS MATERIALIZED (SELECT k.v FROM uc${i - 1} k
       |  LEFT JOIN nk$i n ON n.v = k.v
       |  WHERE n.v IS NULL OR (k.h, k.v) > n.nk),
       |ncol$i AS MATERIALIZED (SELECT DISTINCT u.src AS v, c.color
       |  FROM u0 u JOIN w$i w ON u.src = w.v
       |  JOIN col${i - 1} c ON c.v = u.dst),
       |newc$i AS MATERIALIZED (SELECT cd.v, min(cd.color)::INT AS color
       |  FROM (SELECT w.v, unnest(range(0, d.deg + 1))::INT AS color
       |        FROM w$i w JOIN deg d ON d.v = w.v) cd
       |  ANTI JOIN ncol$i x ON x.v = cd.v AND x.color = cd.color
       |  GROUP BY cd.v),
       |col$i AS MATERIALIZED (SELECT v, color FROM col${i - 1}
       |  UNION ALL SELECT v, color FROM newc$i),
       |uc$i AS MATERIALIZED (SELECT k.* FROM uc${i - 1} k
       |  ANTI JOIN w$i w ON w.v = k.v)""".stripMargin

  lazy val q68ColoringSql: String =
    s"""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |e AS (SELECT a.l_partkey AS a, b.l_partkey AS b FROM op a JOIN op b
       |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |      GROUP BY 1, 2 HAVING count(*) >= 2),
       |u0 AS MATERIALIZED (SELECT a::BIGINT AS src, b::BIGINT AS dst FROM e
       |      UNION SELECT b::BIGINT, a::BIGINT FROM e),
       |deg AS MATERIALIZED (SELECT src AS v, count(*)::BIGINT AS deg
       |  FROM u0 GROUP BY src),
       |uc0 AS MATERIALIZED (SELECT v,
       |    ((v * 999983 + 2654435761) % 1000003)
       |      * ((v * 999983 + 2654435761) % 1000003) % 2147483647 AS h
       |  FROM (SELECT DISTINCT src AS v FROM u0)),
       |col0 AS (SELECT 0::BIGINT AS v, 0::INT AS color WHERE 1 = 0),
       |${(1 to 18).map(jpRoundSql).mkString(",\n")}
       |SELECT v, color FROM col18""".stripMargin

  /** q70 — full coreness decomposition of the co-purchase graph
    * ([[graft.enrich.Analytics.coreness]], Montresor et al. h-index
    * iteration). The oracle unrolls 26 rounds (sf0.01 converges in
    * 10, sf0.001's dense little graph in 21); converged rounds no-op. */
  val q70Coreness: Q = (s, d) =>
    graft.enrich.Analytics.coreness(coPurchaseEdges(s, d))

  private def corenessRoundSql(i: Int): String =
    s"""h$i AS MATERIALIZED (SELECT v, max(least(rn, e)) AS h FROM (
       |  SELECT u.dst AS v, x.est AS e,
       |    row_number() OVER (PARTITION BY u.dst ORDER BY x.est DESC) AS rn
       |  FROM und u JOIN est${i - 1} x ON x.v = u.src) GROUP BY v),
       |est$i AS MATERIALIZED (SELECT e.v, least(e.est, h.h) AS est
       |  FROM est${i - 1} e JOIN h$i h ON h.v = e.v)""".stripMargin

  lazy val q70CorenessSql: String =
    s"""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |e AS (SELECT a.l_partkey AS a, b.l_partkey AS b FROM op a JOIN op b
       |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |      GROUP BY 1, 2 HAVING count(*) >= 2),
       |und AS MATERIALIZED (SELECT a::BIGINT AS src, b::BIGINT AS dst FROM e
       |      UNION SELECT b::BIGINT, a::BIGINT FROM e),
       |est0 AS MATERIALIZED (SELECT src AS v, count(*)::BIGINT AS est
       |  FROM und GROUP BY src),
       |${(1 to 26).map(corenessRoundSql).mkString(",\n")}
       |SELECT v, est::BIGINT AS coreness FROM est26""".stripMargin

  /** q69 — Boruvka minimum spanning forest of the weighted co-purchase
    * graph ([[graft.enrich.Analytics.boruvkaMsf]]): per round every
    * component takes its min (weight, src, dst)-keyed outgoing edge;
    * merges propagate on the component graph. The oracle unrolls 6
    * rounds × 12 merge hops (sf0.01 needs 4 × ≤7). */
  val q69Msf: Q = (s, d) =>
    graft.enrich.Analytics.boruvkaMsf(
      GraphTables.coPurchase(s, d)
        .select(col("src"), col("dst"), col("w").as("weight")))

  private def msfPropSql(r: Int, j: Int): String =
    s"""l${r}_$j AS MATERIALIZED (SELECT l.c,
       |    CASE WHEN p.nl IS NULL OR l.lbl <= p.nl THEN l.lbl ELSE p.nl END AS lbl
       |  FROM l${r}_${j - 1} l LEFT JOIN (
       |    SELECT m.b AS c, min(x.lbl) AS nl FROM mg$r m
       |    JOIN l${r}_${j - 1} x ON x.c = m.a GROUP BY m.b) p ON p.c = l.c)""".stripMargin

  private def msfRoundSql(r: Int, hops: Int): String =
    s"""ec$r AS MATERIALIZED (SELECT e.src, e.dst, e.w, ca.comp AS ca, cb.comp AS cb
       |  FROM e0 e JOIN cmp${r - 1} ca ON ca.v = e.src
       |  JOIN cmp${r - 1} cb ON cb.v = e.dst WHERE ca.comp <> cb.comp),
       |best$r AS MATERIALIZED (SELECT c, min((w, src, dst)) AS k FROM (
       |    SELECT ca AS c, w, src, dst FROM ec$r
       |    UNION ALL SELECT cb, w, src, dst FROM ec$r) GROUP BY c),
       |bestE$r AS MATERIALIZED (SELECT b.c, e.src, e.dst, e.w,
       |    CASE WHEN e.ca = b.c THEN e.cb ELSE e.ca END AS oc
       |  FROM best$r b JOIN ec$r e ON (e.w, e.src, e.dst) = b.k),
       |sel$r AS MATERIALIZED (SELECT DISTINCT src, dst, w FROM bestE$r),
       |mg$r AS MATERIALIZED (SELECT c AS a, oc AS b FROM bestE$r
       |  UNION SELECT oc, c FROM bestE$r),
       |l${r}_0 AS MATERIALIZED (SELECT DISTINCT a AS c, a AS lbl FROM mg$r),
       |${(1 to hops).map(j => msfPropSql(r, j)).mkString(",\n")},
       |cmp$r AS MATERIALIZED (SELECT c.v, coalesce(l.lbl, c.comp) AS comp
       |  FROM cmp${r - 1} c LEFT JOIN l${r}_$hops l ON l.c = c.comp)""".stripMargin

  lazy val q69MsfSql: String =
    s"""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |e0 AS MATERIALIZED (SELECT a.l_partkey::BIGINT AS src,
       |    b.l_partkey::BIGINT AS dst, count(*)::BIGINT AS w
       |  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
       |    AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |cmp0 AS MATERIALIZED (SELECT v, v AS comp FROM (
       |  SELECT src AS v FROM e0 UNION SELECT dst FROM e0)),
       |${(1 to 6).map(r => msfRoundSql(r, 12)).mkString(",\n")}
       |${(1 to 6).map(r => s"SELECT src, dst, w AS weight FROM sel$r")
           .mkString("\nUNION ALL ")}""".stripMargin

  /** q55 — per-EDGE triangle support on the co-purchase graph
    * ([[graft.enrich.Analytics.edgeSupport]]): the k-truss building
    * block. Same oriented-wedge kernel as q24; the oracle explodes the
    * id-ordered triangle set into its three canonical edges. */
  val q55Esupport: Q = (s, d) =>
    graft.enrich.Analytics.edgeSupport(coPurchaseEdges(s, d))

  val q55EsupportSql: String =
    """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS (SELECT a.l_partkey AS a, b.l_partkey AS b FROM op a JOIN op b
      |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |      GROUP BY 1, 2 HAVING count(*) >= 2),
      |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM e e1
      |        JOIN e e2 ON e2.a = e1.b
      |        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
      |SELECT src, dst, count(*)::BIGINT AS support FROM (
      |  SELECT x AS src, y AS dst FROM tri UNION ALL SELECT y, z FROM tri
      |  UNION ALL SELECT x, z FROM tri)
      |GROUP BY src, dst""".stripMargin

  /** q73 — SCAN structural similarity per co-purchase edge
    * ([[graft.enrich.Analytics.scanSimilarity]]): closed-neighborhood
    * overlap (support + 2) over √ of the closed-degree product — the
    * SCAN clustering edge weight. Oracle replays the triangle explode +
    * degree join with the identical float spelling. */
  val q73Scan: Q = (s, d) =>
    graft.enrich.Analytics.scanSimilarity(coPurchaseEdges(s, d))

  val q73ScanSql: String =
    """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS (SELECT a.l_partkey AS a, b.l_partkey AS b FROM op a JOIN op b
      |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |      GROUP BY 1, 2 HAVING count(*) >= 2),
      |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM e e1
      |        JOIN e e2 ON e2.a = e1.b
      |        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      |sup AS (SELECT src, dst, count(*) AS support FROM (
      |  SELECT x AS src, y AS dst FROM tri UNION ALL SELECT y, z FROM tri
      |  UNION ALL SELECT x, z FROM tri) GROUP BY src, dst),
      |und AS MATERIALIZED (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e),
      |deg AS (SELECT src AS v, count(*) AS deg FROM und GROUP BY 1)
      |SELECT e.a AS src, e.b AS dst,
      |  (coalesce(s.support, 0) + 2)::BIGINT AS common,
      |  round((coalesce(s.support, 0) + 2)::DOUBLE
      |    / sqrt(((da.deg + 1) * (db.deg + 1))::DOUBLE), 6) + 0.0 AS sim
      |FROM e LEFT JOIN sup s ON s.src = e.a AND s.dst = e.b
      |JOIN deg da ON e.a = da.v JOIN deg db ON e.b = db.v""".stripMargin

  /** q74 — average-neighbor-degree curve k_nn(k) on the co-purchase
    * graph ([[graft.enrich.Analytics.neighborDegreeCurve]]): q49's
    * assortativity unrolled into the full degree-mixing profile,
    * all-integer ppm. */
  val q74Knn: Q = (s, d) =>
    graft.enrich.Analytics.neighborDegreeCurve(coPurchaseEdges(s, d))

  val q74KnnSql: String =
    """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS (SELECT a.l_partkey AS a, b.l_partkey AS b FROM op a JOIN op b
      |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |      GROUP BY 1, 2 HAVING count(*) >= 2),
      |und AS MATERIALIZED (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e),
      |deg AS MATERIALIZED (SELECT src AS v, count(*) AS deg FROM und GROUP BY 1),
      |sn AS (SELECT u.src, sum(dn.deg) AS sumnb FROM und u
      |  JOIN deg dn ON u.dst = dn.v GROUP BY 1),
      |annd AS (SELECT d.deg AS k, 1000000 * sn.sumnb // d.deg AS annd_ppm
      |  FROM deg d JOIN sn ON d.v = sn.src)
      |SELECT k::BIGINT AS k, count(*)::BIGINT AS n_nodes,
      |  (sum(annd_ppm) // count(*))::BIGINT AS knn_ppm
      |FROM annd GROUP BY k""".stripMargin

  /** q56 — 3-truss of the co-purchase graph
    * ([[graft.enrich.Analytics.kTruss]]). For k = 3 the iterative peel
    * provably converges in ONE effective round at ANY scale (an edge
    * survives iff it closes ≥ 1 triangle, and a surviving triangle keeps
    * all three of its edges alive), so the oracle's closed form —
    * distinct triangle edges — is exact; the multi-round cascade is
    * spec-gated on a crafted graph (AnalyticsSpec). */
  val q56Ktruss: Q = (s, d) =>
    graft.enrich.Analytics.kTruss(coPurchaseEdges(s, d), k = 3)

  val q56KtrussSql: String =
    """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS (SELECT a.l_partkey AS a, b.l_partkey AS b FROM op a JOIN op b
      |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |      GROUP BY 1, 2 HAVING count(*) >= 2),
      |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM e e1
      |        JOIN e e2 ON e2.a = e1.b
      |        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
      |SELECT DISTINCT src, dst FROM (
      |  SELECT x AS src, y AS dst FROM tri UNION ALL SELECT y, z FROM tri
      |  UNION ALL SELECT x, z FROM tri)""".stripMargin

  /** q57 — eigenvector centrality on the symmetrized co-purchase graph
    * ([[graft.enrich.Analytics.eigenvector]], max-norm power
    * iteration): the influence pillar between PageRank (damped random
    * walk) and HITS (bipartite mutual recursion). 3 rounds, each
    * decimal-summed + round-10 normalized by the exact max, so the
    * oracle unrolls bit-identically; the GraphX twin shares it. */
  val q57Eigen: Q = (s, d) => {
    val e0 = coPurchaseEdges(s, d)
    graft.enrich.Analytics.eigenvector(e0.unionByName(
      e0.select(col("dst").as("src"), col("src").as("dst"))), iterations = 3)
  }

  val q57EigenGx: Q = (s, d) => {
    val e0 = coPurchaseEdges(s, d)
    graft.enrich.Analytics.eigenvectorGraphX(s, e0.unionByName(
      e0.select(col("dst").as("src"), col("src").as("dst"))), iterations = 3)
  }

  lazy val q57EigenSql: String = {
    def roundOf(i: Int) =
      s"""r$i AS (SELECT t.v, coalesce(c.s, 0.0) AS s FROM everts t LEFT JOIN (
         |  SELECT e.dst AS v, round(CAST(sum(CAST(p.score AS DECIMAL(38,10))) AS DOUBLE), 10) AS s
         |  FROM se e JOIN x${i - 1} p ON e.src = p.v GROUP BY e.dst) c ON t.v = c.v),
         |x$i AS MATERIALIZED (SELECT v, CASE WHEN (SELECT max(s) FROM r$i) > 0
         |  THEN round(s / (SELECT max(s) FROM r$i), 10) ELSE 0.0 END AS score FROM r$i)""".stripMargin
    s"""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |e0 AS (SELECT a.l_partkey AS src, b.l_partkey AS dst FROM op a JOIN op b
       |       ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |       GROUP BY 1, 2 HAVING count(*) >= 2),
       |se AS MATERIALIZED (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
       |everts AS MATERIALIZED (SELECT DISTINCT src AS v FROM se),
       |x0 AS (SELECT v, 1.0 AS score FROM everts),
       |${(1 to 3).map(roundOf).mkString(",\n")}
       |SELECT v, round(score, 6) AS score FROM x3""".stripMargin
  }

  /** q58 — Newman modularity of the LPA communities on the co-purchase
    * graph ([[graft.enrich.Analytics.modularity]]): the community
    * QUALITY score, consuming q33's assignment. All aggregates are
    * exact integer counts; the only floating point is one fixed-shape
    * scalar expression, spelled identically in the oracle. */
  val q58Modularity: Q = (s, d) => {
    val e = coPurchaseEdges(s, d)
    graft.enrich.Analytics.modularity(e,
      graft.enrich.Analytics.labelPropagation(e, iterations = 4))
  }

  lazy val q58ModularitySql: String =
    s"""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |ce AS (SELECT a.l_partkey AS a, b.l_partkey AS b FROM op a JOIN op b
       |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |      GROUP BY 1, 2 HAVING count(*) >= 2),
       |und AS MATERIALIZED (SELECT a AS src, b AS dst FROM ce UNION SELECT b, a FROM ce),
       |l0 AS MATERIALIZED (SELECT DISTINCT src AS v, src AS c FROM und),
       |${(1 to 4).map(lpaIterSql).mkString(",\n")},
       |lab AS MATERIALIZED (SELECT v, c AS community FROM l4),
       |s1t AS (SELECT count(*) AS s1 FROM ce e
       |  JOIN lab la ON e.a = la.v JOIN lab lb ON e.b = lb.v
       |  WHERE la.community = lb.community),
       |degt AS (SELECT v, count(*) AS deg FROM
       |  (SELECT a AS v FROM ce UNION ALL SELECT b FROM ce) GROUP BY v),
       |s2t AS (SELECT sum(d_c * d_c) AS s2 FROM
       |  (SELECT l.community, sum(d.deg) AS d_c FROM lab l
       |   JOIN degt d ON l.v = d.v GROUP BY 1)),
       |mt AS (SELECT count(*) AS m FROM ce)
       |SELECT m::BIGINT AS m, round((4.0 * m * s1 - s2) / (4.0 * m * m), 6) + 0.0 AS q
       |FROM s1t, s2t, mt""".stripMargin

  val q24TrianglesSql: String =
    """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS (SELECT a.l_partkey AS a, b.l_partkey AS b FROM op a JOIN op b
      |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |      GROUP BY 1, 2 HAVING count(*) >= 2),
      |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM e e1
      |        JOIN e e2 ON e2.a = e1.b
      |        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
      |SELECT v, count(*)::BIGINT AS n_tri FROM (
      |  SELECT x AS v FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
      |GROUP BY v""".stripMargin

  /** q48 — local clustering coefficient over the co-purchase graph:
    * c(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) for deg ≥ 2 — how close each
    * vertex's neighborhood is to a clique, THE standard per-vertex
    * community-density measure and the natural consumer of
    * [[graft.enrich.Analytics.triangleCounts]] (one degree groupBy + one
    * left join on top of the oriented wedge closure). Integer numerator/
    * denominator, ratio rounded to 6 — exactly replayable. */
  val q48Clustering: Q = (s, d) => {
    val e = coPurchaseEdges(s, d)
    val deg = e.select(col("src").as("v"))
      .unionByName(e.select(col("dst").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val tri = graft.enrich.Analytics.triangleCounts(e)
    deg.join(tri, Seq("v"), "left")
      .filter(col("deg") >= 2)
      .select(col("v"),
        round(coalesce(col("n_tri"), lit(0L)) * lit(2.0)
          / (col("deg") * (col("deg") - 1)), 6).as("coeff"),
        col("deg"))
  }

  val q48ClusteringSql: String =
    """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS (SELECT a.l_partkey AS a, b.l_partkey AS b FROM op a JOIN op b
      |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |      GROUP BY 1, 2 HAVING count(*) >= 2),
      |deg AS (SELECT v, count(*)::BIGINT AS deg FROM (
      |  SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY v),
      |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM e e1
      |        JOIN e e2 ON e2.a = e1.b
      |        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      |tc AS (SELECT v, count(*)::BIGINT AS n_tri FROM (
      |  SELECT x AS v FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
      |GROUP BY v)
      |SELECT d.v, round(coalesce(t.n_tri, 0) * 2.0 / (d.deg * (d.deg - 1)), 6) AS coeff, d.deg
      |FROM deg d LEFT JOIN tc t ON d.v = t.v WHERE d.deg >= 2""".stripMargin

  /** p_pack_split — token-budget SPLITTING of over-long documents: a doc
    * of n tokens becomes ceil(n/B) pieces of at most B tokens (the last
    * piece takes the remainder) — what a real context-window packer does
    * BEFORE bin-packing pieces into chunks (p_pack_chunks handles the
    * packing; this handles the docs that don't fit at all). One narrow
    * map + an explode, integer arithmetic end to end. */
  val pPackSplit: Q = (s, d) => {
    val b = 64L
    Tables.documents(s, d)
      .select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tok"))
      .filter(col("n_tok") > 0)
      .select(col("doc_id"), col("n_tok"),
        explode(sequence(lit(0L),
          floor((col("n_tok") - 1) / b).cast("long"))).as("piece"))
      .select(col("doc_id"), col("piece").cast("long").as("piece"),
        least(lit(b), col("n_tok") - col("piece") * b).cast("long")
          .as("piece_tokens"))
  }

  val pPackSplitSql: String =
    s"""WITH t AS (SELECT doc_id, (CASE WHEN length($normSql) = 0 THEN 0
       |  ELSE len(string_split($normSql, ' ')) END)::BIGINT AS n_tok FROM documents),
       |pieces AS (SELECT doc_id, n_tok, unnest(range(0, (n_tok + 63) // 64)) AS piece
       |  FROM t WHERE n_tok > 0)
       |SELECT doc_id, piece::BIGINT AS piece,
       |  least(64, n_tok - piece * 64)::BIGINT AS piece_tokens
       |FROM pieces""".stripMargin

  /** q52 — HYBRID retrieval: Okapi BM25 over the keyword index fused
    * with cosine vector search by Reciprocal Rank Fusion (rrf =
    * Σ 1/(60+rank)) — the standard two-tower retrieval shape (sparse
    * lexical + dense semantic, fused without score calibration). BM25
    * candidates are bounded by the QUERY terms' postings (never the
    * corpus), the vector side is the brute-force baseline, and both
    * top-20 lists fuse into a top-10. Per-(doc, term) BM25 contributions
    * round to 10 before the (≤3-term) sum rounds to 4 — the PageRank
    * summation discipline; RRF adds ≤2 exact rationals. */
  val q52Hybrid: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val qterms = Seq("hash", "join", "scan")
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("len"))
    val stats = dl.agg(count(lit(1)).as("n"), sum(col("len")).as("total"))
    val tf = toks.filter(col("term").isin(qterms: _*))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfr = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val sc = tf.join(dl, "doc_id").crossJoin(broadcast(stats))
      .join(broadcast(dfr), "term")
      .select(col("doc_id"),
        round(log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
          * (col("tf") * 2.2)
          / (col("tf") + lit(1.2) * (lit(0.25)
            + lit(0.75) * col("len") * col("n") / col("total"))),
          10).as("s"))
    val bm = sc.groupBy(col("doc_id")).agg(round(sum(col("s")), 4).as("bm25"))
    // candidate sets are query-bounded, so the global ranking windows
    // stay small regardless of corpus size
    val bt = bm.withColumn("rank",
        row_number().over(Window.orderBy(col("bm25").desc, col("doc_id"))))
      .filter(col("rank") <= 20).select(col("doc_id"), col("rank"))
    val emb = Tables.embeddings(s, d)
    val qv = emb.filter(col("vec_id") === 0L).select(col("embedding").as("qv"))
    val vt = emb.crossJoin(broadcast(qv)).filter(col("vec_id") =!= 0L)
      .select(col("vec_id").as("doc_id"),
        Similarity.cosine(col("qv"), col("embedding")).as("sim"))
      .withColumn("rank",
        row_number().over(Window.orderBy(col("sim").desc, col("doc_id"))))
      .filter(col("rank") <= 20).select(col("doc_id"), col("rank"))
    bt.unionByName(vt)
      .groupBy(col("doc_id"))
      .agg(round(sum(lit(1.0) / (col("rank") + 60)), 6).as("rrf"),
        count(lit(1)).as("n_lists"))
      .withColumn("rank",
        row_number().over(Window.orderBy(col("rrf").desc, col("doc_id"))))
      .filter(col("rank") <= 10)
  }

  lazy val q52HybridSql: String =
    s"""WITH tk AS (SELECT doc_id, t.term FROM (SELECT doc_id, unnest(string_split($normSql, ' ')) AS term FROM documents) t WHERE t.term <> ''),
       |dl AS MATERIALIZED (SELECT doc_id, count(*) AS len FROM tk GROUP BY 1),
       |st AS (SELECT count(*) AS n, sum(len) AS total FROM dl),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tk WHERE term IN ('hash', 'join', 'scan') GROUP BY 1, 2),
       |dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |sc AS (SELECT tf.doc_id,
       |  round(ln((st.n - dfr.df + 0.5) / (dfr.df + 0.5) + 1.0) * (tf.tf * 2.2)
       |    / (tf.tf + 1.2 * (0.25 + 0.75 * dl.len * st.n / st.total)), 10) AS s
       |  FROM tf JOIN dl USING (doc_id) CROSS JOIN st JOIN dfr USING (term)),
       |bm AS (SELECT doc_id, round(sum(s), 4) AS bm25 FROM sc GROUP BY 1),
       |bt AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank FROM bm QUALIFY rank <= 20),
       |qv AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
       |vs AS (SELECT c.vec_id AS doc_id, ${cosOf("c.embedding", "qv.embedding")} AS sim FROM embeddings c, qv WHERE c.vec_id <> 0),
       |vt AS (SELECT doc_id, row_number() OVER (ORDER BY sim DESC, doc_id) AS rank FROM vs QUALIFY rank <= 20),
       |u AS (SELECT doc_id, rank FROM bt UNION ALL SELECT doc_id, rank FROM vt),
       |agg AS (SELECT doc_id, round(sum(1.0 / (rank + 60)), 6) AS rrf, count(*) AS n_lists
       |  FROM u GROUP BY doc_id)
       |SELECT doc_id, rrf, n_lists,
       |  CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INT) AS rank
       |FROM agg QUALIFY rank <= 10""".stripMargin

  /** q51 — LINK PREDICTION by common-neighbor Jaccard over the
    * co-purchase graph: for non-adjacent pairs sharing neighbors,
    * jaccard = |N(a)∩N(b)| / |N(a)∪N(b)| — the classic recommendation
    * primitive. Scale posture: candidates come ONLY from wedges through
    * centers with degree ≤ 64 (the hub cap of the inverted-index dedup
    * family — one hot hub can never go quadratic; documented recall
    * trade), existing edges are anti-joined out, and the ratio is
    * integer/integer rounded 6 before the threshold. */
  val q51LinkPred: Q = (s, d) => {
    val e = coPurchaseEdges(s, d)
    val und = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      .pin(eager = false)
    val deg = und.groupBy(col("src").as("v")).agg(count(lit(1)).as("deg"))
    val okCenter = deg.filter(col("deg") <= 64).select(col("v"))
    val xe = und.join(okCenter.withColumnRenamed("v", "dst"), "dst")
    val ye = und.join(okCenter.withColumnRenamed("v", "src"), "src")
    val wed = xe.as("x").join(ye.as("y"),
        col("x.dst") === col("y.src") && col("x.src") < col("y.dst"))
      .groupBy(col("x.src").as("a"), col("y.dst").as("b"))
      .agg(count(lit(1)).as("inter"))
    wed
      .join(und.select(col("src").as("a"), col("dst").as("b")),
        Seq("a", "b"), "left_anti")
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
      .select(col("a"), col("b"), col("inter"),
        round(col("inter").cast("double")
          / (col("da") + col("db") - col("inter")), 6).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
  }

  val q51LinkPredSql: String =
    """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS (SELECT a.l_partkey AS a, b.l_partkey AS b FROM op a JOIN op b
      |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |      GROUP BY 1, 2 HAVING count(*) >= 2),
      |und AS MATERIALIZED (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e),
      |deg AS MATERIALIZED (SELECT src AS v, count(*) AS deg FROM und GROUP BY src),
      |ok AS (SELECT v FROM deg WHERE deg <= 64),
      |wed AS MATERIALIZED (SELECT x.src AS a, y.dst AS b, count(*) AS inter
      |  FROM und x JOIN ok ON x.dst = ok.v
      |  JOIN und y ON y.src = x.dst AND x.src < y.dst
      |  GROUP BY 1, 2),
      |cand AS (SELECT w.a, w.b, w.inter FROM wed w
      |  WHERE NOT EXISTS (SELECT 1 FROM und u WHERE u.src = w.a AND u.dst = w.b))
      |SELECT c.a, c.b, c.inter,
      |  round(c.inter::DOUBLE / (da.deg + db.deg - c.inter), 6) AS jaccard
      |FROM cand c JOIN deg da ON c.a = da.v JOIN deg db ON c.b = db.v
      |WHERE round(c.inter::DOUBLE / (da.deg + db.deg - c.inter), 6) >= 0.5""".stripMargin

  /** q50 — per-landmark REACHABILITY profile over the containment
    * hierarchy: descendants and max depth from every region, computed by
    * the fused multi-landmark BFS. The oracle is deliberately a
    * DIFFERENT spelling — the closed-form relational counts (nations,
    * customers+suppliers, orders per region) — so the iterative frontier
    * loop is checked against an independent derivation, not a replay of
    * itself. */
  val q50Reach: Q = (s, d) => {
    val rev = GraphTables.hierarchy(s, d)
      .select(col("dst").as("src"), col("src").as("dst"))
    graft.enrich.Analytics.bfsDistancesLandmarksGraphX(s, rev,
        (0 to 4).map(i => s"region.$i"))
      .filter(col("d") > 0)
      .groupBy(col("s"))
      .agg(count(lit(1)).as("n_reachable"), max(col("d")).as("max_depth"))
  }

  val q50ReachSql: String =
    """WITH cn AS (SELECT n_regionkey AS r, count(*) AS c FROM nation GROUP BY 1),
      |cc AS (SELECT n.n_regionkey AS r, count(*) AS c FROM customer
      |  JOIN nation n ON c_nationkey = n.n_nationkey GROUP BY 1),
      |cs AS (SELECT n.n_regionkey AS r, count(*) AS c FROM supplier
      |  JOIN nation n ON s_nationkey = n.n_nationkey GROUP BY 1),
      |co AS (SELECT n.n_regionkey AS r, count(*) AS c FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation n ON c_nationkey = n.n_nationkey GROUP BY 1)
      |SELECT 'region.' || r_regionkey AS s,
      |  (coalesce(cn.c,0) + coalesce(cc.c,0) + coalesce(cs.c,0) + coalesce(co.c,0))::BIGINT AS n_reachable,
      |  (CASE WHEN coalesce(co.c,0) > 0 THEN 3
      |        WHEN coalesce(cc.c,0) + coalesce(cs.c,0) > 0 THEN 2
      |        WHEN coalesce(cn.c,0) > 0 THEN 1 ELSE 0 END)::BIGINT AS max_depth
      |FROM region
      |LEFT JOIN cn ON cn.r = r_regionkey
      |LEFT JOIN cc ON cc.r = r_regionkey
      |LEFT JOIN cs ON cs.r = r_regionkey
      |LEFT JOIN co ON co.r = r_regionkey
      |WHERE coalesce(cn.c,0) + coalesce(cc.c,0) + coalesce(cs.c,0) + coalesce(co.c,0) > 0""".stripMargin

  /** q49 — degree ASSORTATIVITY of the co-purchase graph: the Pearson
    * correlation of endpoint degrees over the undirected edge list — do
    * hubs connect to hubs (r>0) or to the periphery (r<0)? The one-number
    * graph-topology profile (social nets assort, co-occurrence graphs
    * usually disassort). All sums are exact integers (the q29 corr
    * discipline); the only doubles are the final IEEE-exact
    * multiply/divide/sqrt, rounded 6. At a 100× scale the integer sums
    * route through DECIMAL — same spelling, wider type. */
  val q49Assort: Q = (s, d) => {
    val e = coPurchaseEdges(s, d)
    val und = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
    val deg = und.groupBy(col("src").as("v")).agg(count(lit(1)).as("deg"))
    und
      .join(deg.select(col("v").as("src"), col("deg").as("dx")), "src")
      .join(deg.select(col("v").as("dst"), col("deg").as("dy")), "dst")
      .agg(count(lit(1)).as("m"),
        sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
        sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dy") * col("dy")).as("syy"))
      .select(
        round((col("m") * col("sxy") - col("sx") * col("sy")).cast("double")
          / (sqrt((col("m") * col("sxx") - col("sx") * col("sx")).cast("double"))
            * sqrt((col("m") * col("syy") - col("sy") * col("sy")).cast("double"))),
          6).as("assortativity"),
        col("m").cast("long").as("m"))
  }

  val q49AssortSql: String =
    """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS (SELECT a.l_partkey AS a, b.l_partkey AS b FROM op a JOIN op b
      |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |      GROUP BY 1, 2 HAVING count(*) >= 2),
      |und AS MATERIALIZED (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e),
      |deg AS (SELECT src AS v, count(*) AS deg FROM und GROUP BY src),
      |p AS (SELECT dx.deg AS dx, dy.deg AS dy FROM und u
      |  JOIN deg dx ON u.src = dx.v JOIN deg dy ON u.dst = dy.v),
      |sums AS (SELECT count(*) AS m, sum(dx) AS sx, sum(dy) AS sy,
      |  sum(dx*dy) AS sxy, sum(dx*dx) AS sxx, sum(dy*dy) AS syy FROM p)
      |SELECT round((m*sxy - sx*sy)::DOUBLE
      |  / (sqrt((m*sxx - sx*sx)::DOUBLE) * sqrt((m*syy - sy*sy)::DOUBLE)), 6) + 0.0 AS assortativity,
      |  m::BIGINT AS m
      |FROM sums""".stripMargin

  /** q72 — RICH-CLUB coefficient of the co-purchase graph: for degree
    * thresholds k ∈ {1,2,4,8,16,32}, φ(k) = 2·E_k / (N_k·(N_k−1)) where
    * N_k = nodes with degree > k and E_k = edges whose BOTH endpoints
    * exceed k — do hubs form a densely-wired club? Scale shape: one
    * degree aggregation, one edge↔degree double join to get each edge's
    * MIN endpoint degree, then everything collapses to two tiny
    * histograms (distinct degrees) against a 6-row broadcast threshold
    * list — E_k/N_k are suffix sums, so adding thresholds never re-scans
    * edges. φ is emitted as exact integer ppm (floor), so no float
    * crosses the gate. */
  val q72Richclub: Q = (s, d) =>
    graft.enrich.Analytics.richClub(coPurchaseEdges(s, d),
      Seq(1L, 2L, 4L, 8L, 16L, 32L))

  val q72RichclubSql: String =
    """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS (SELECT a.l_partkey AS a, b.l_partkey AS b FROM op a JOIN op b
      |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |      GROUP BY 1, 2 HAVING count(*) >= 2),
      |und AS MATERIALIZED (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e),
      |deg AS MATERIALIZED (SELECT src AS v, count(*) AS deg FROM und GROUP BY src),
      |em AS (SELECT least(da.deg, db.deg) AS md FROM e
      |  JOIN deg da ON e.a = da.v JOIN deg db ON e.b = db.v),
      |ks AS (SELECT unnest([1, 2, 4, 8, 16, 32]) AS k),
      |nk AS (SELECT k, sum(1) AS nk FROM ks JOIN deg ON deg.deg > k GROUP BY k),
      |ek AS (SELECT k, sum(1) AS ek FROM ks JOIN em ON em.md > k GROUP BY k)
      |SELECT nk.k::BIGINT AS k, nk.nk::BIGINT AS nk,
      |  coalesce(ek.ek, 0)::BIGINT AS ek,
      |  (2000000 * coalesce(ek.ek, 0) // (nk.nk * (nk.nk - 1)))::BIGINT AS phi_ppm
      |FROM nk LEFT JOIN ek ON nk.k = ek.k
      |WHERE nk.nk >= 2""".stripMargin

  /** Histogram-based approximate quantiles — the deterministic 100 TB
    * switch for q15's exact percentile: two scans (min/max/count, then
    * 1000 equal-width bin counts — both partial-agg friendly), estimate =
    * upper edge of the first bin whose running count reaches ceil(q*n).
    * The 1000-row cumulative window is a fixed-size frame, never a
    * data-sized single reducer. Binning and edges use the IDENTICAL
    * float expression in both engines, so the result is bit-equal —
    * unlike a t-digest/GK sketch, whose merge order is
    * nondeterministic. */
  val q31HistQuantile: Q = (s, d) => {
    val o = Tables.orders(s, d).select(col("o_totalprice").as("v"))
    val mm = o.agg(min("v").as("lo"), max("v").as("hi"),
      count(lit(1)).as("n"))
    val hist = o.crossJoin(broadcast(mm))
      .select(least(floor((col("v") - col("lo")) / (col("hi") - col("lo")) * 1000)
        .cast("long"), lit(999L)).as("bin"), col("lo"), col("hi"), col("n"))
      .groupBy("bin", "lo", "hi", "n").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum("c").over(Window.orderBy("bin")))
    val qs = o.sparkSession.range(1)
      .select(explode(array(lit(0.5), lit(0.9), lit(0.99))).as("q"))
    hist.crossJoin(qs)
      .filter(col("cum") >= ceil(col("q") * col("n")))
      .groupBy("q")
      .agg(min(col("bin")).as("bin"),
        min(col("lo") + (col("bin") + 1) * (col("hi") - col("lo")) / 1000).as("est"))
  }

  val q31HistQuantileSql: String =
    """WITH v AS (SELECT o_totalprice AS v FROM orders),
      |mm AS (SELECT min(v) AS lo, max(v) AS hi, count(*) AS n FROM v),
      |b AS (SELECT least(floor((v - lo) / (hi - lo) * 1000)::BIGINT, 999) AS bin,
      |        lo, hi, n FROM v, mm),
      |h AS (SELECT bin, lo, hi, n, count(*) AS c FROM b GROUP BY 1, 2, 3, 4),
      |cum AS (SELECT bin, lo, hi, n, sum(c) OVER (ORDER BY bin) AS cum FROM h),
      |qs AS (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS q)
      |SELECT q, min(bin)::BIGINT AS bin,
      |  min(lo + (bin + 1) * (hi - lo) / 1000) AS est
      |FROM cum, qs WHERE cum >= ceil(q * n) GROUP BY q""".stripMargin

  /** 3-core of the co-purchase graph ([[graft.enrich.Analytics.kCore]]):
    * vertices surviving iterated degree-<3 deletion, with core degrees.
    * The oracle unrolls the identical prune round 14 times — the sf0.01
    * graph reaches its fixpoint in 11 (measured), and extra rounds on a
    * converged edge set are no-ops, so both sides land on the same
    * fixpoint. */
  val q30Kcore: Q = (s, d) =>
    graft.enrich.Analytics.kCore(coPurchaseEdges(s, d), k = 3)

  /** The GraphX scale path of q30 — iterated subgraph pruning to the
    * same unique fixpoint; shares q30's oracle. */
  val q30KcoreGx: Q = (s, d) =>
    graft.enrich.Analytics.kCoreGraphX(s, coPurchaseEdges(s, d), k = 3)

  private def kcoreIterSql(i: Int): String =
    s"""k$i AS MATERIALIZED (SELECT src FROM e${i - 1} GROUP BY src HAVING count(*) >= 3),
       |e$i AS MATERIALIZED (SELECT e.src, e.dst FROM e${i - 1} e
       |  JOIN k$i a ON e.src = a.src JOIN k$i b ON e.dst = b.src)""".stripMargin

  val q30KcoreSql: String =
    s"""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |ce AS (SELECT a.l_partkey AS a, b.l_partkey AS b FROM op a JOIN op b
       |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |      GROUP BY 1, 2 HAVING count(*) >= 2),
       |e0 AS MATERIALIZED (SELECT a AS src, b AS dst FROM ce UNION ALL SELECT b, a FROM ce),
       |${(1 to 14).map(kcoreIterSql).mkString(",\n")}
       |SELECT src AS v, count(*)::BIGINT AS deg FROM e14 GROUP BY src""".stripMargin

  /** Window navigation functions (lag, lead, first_value, last_value) —
    * per-user inter-event gaps, telescoped value deltas, and first/last
    * event types, all riding ONE window sort (one shuffle on user_id),
    * then folded to per-user rows. Gaps are exact integer microseconds;
    * value deltas go through DECIMAL — no float accumulation anywhere
    * before the final rounded division. */
  val q25Lag: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.events(s, d)
      .select(col("user_id"),
        (unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w)).as("gap_us"),
        (lead(col("value").cast("decimal(18,2)"), 1).over(w)
          - col("value").cast("decimal(18,2)")).as("delta_next"),
        first(col("event_type")).over(w).as("first_type"),
        last(col("event_type")).over(wAll).as("last_type"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("gap_us")).cast("double") / lit(1000000.0) / count(col("gap_us")), 4)
          .as("avg_gap_s"),
        max(col("gap_us")).as("max_gap_us"),
        sum(col("delta_next")).cast("double").as("sum_next_delta"),
        max(col("first_type")).as("first_type"),
        max(col("last_type")).as("last_type"))
      .filter(col("n_events") >= 2)
  }

  val q25LagSql: String =
    """WITH w AS (SELECT user_id,
      |  epoch_us(ts) - lag(epoch_us(ts)) OVER win AS gap_us,
      |  lead(CAST(value AS DECIMAL(18,2))) OVER win - CAST(value AS DECIMAL(18,2)) AS delta_next,
      |  first_value(event_type) OVER win AS first_type,
      |  last_value(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_type
      |  FROM events
      |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT user_id, count(*)::BIGINT AS n_events,
      |  round(sum(gap_us)::DOUBLE / 1000000.0 / count(gap_us), 4) AS avg_gap_s,
      |  max(gap_us)::BIGINT AS max_gap_us,
      |  CAST(sum(delta_next) AS DOUBLE) AS sum_next_delta,
      |  max(first_type) AS first_type, max(last_type) AS last_type
      |FROM w GROUP BY user_id HAVING count(*) >= 2""".stripMargin

  /** Ranking-function family beyond row_number: ntile deciles,
    * percent_rank, and cume_dist over per-segment customer spend. The
    * window partitions by market segment — never a global one-reducer
    * sort — and orders by (spend DESC, custkey), a unique key, so bucket
    * edges and rank fractions are engine-deterministic. Spend stays
    * DECIMAL through the aggregation. */
  val q26Ranks: Q = (s, d) => {
    val spend = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("spend"))
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("spend").desc, col("o_custkey"))
    spend.join(Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"), col("o_custkey").as("custkey"),
        col("spend").cast("double").as("spend"),
        ntile(10).over(w).cast("long").as("decile"),
        round(percent_rank().over(w), 6).as("pr"),
        round(cume_dist().over(w), 6).as("cd"))
  }

  val q26RanksSql: String =
    """WITH spend AS (SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
      |  FROM orders GROUP BY o_custkey)
      |SELECT c_mktsegment AS segment, o_custkey AS custkey, CAST(spend AS DOUBLE) AS spend,
      |  ntile(10) OVER win::BIGINT AS decile,
      |  round(percent_rank() OVER win, 6) AS pr,
      |  round(cume_dist() OVER win, 6) AS cd
      |FROM spend JOIN customer ON o_custkey = c_custkey
      |WINDOW win AS (PARTITION BY c_mktsegment ORDER BY spend DESC, o_custkey)""".stripMargin

  /** Scalar-quantized (SQ8) ANN with full-precision re-rank
    * ([[Similarity.sqTopK]]): int8 codes, exact-integer shortlist
    * ranking, cosine re-rank of the shortlist. */
  val sSqAnn: Q = (s, d) =>
    Similarity.sqTopK(Tables.embeddings(s, d), Seq(0L, 1L, 2L, 3L, 4L), 10,
      shortlist = 30)

  val sSqAnnSql: String =
    s"""WITH mx AS (SELECT max(list_max(list_transform(embedding, x -> abs(x::DOUBLE)))) AS m FROM embeddings),
       |q8 AS (SELECT vec_id, list_transform(embedding,
       |         x -> round(x::DOUBLE * 127 / m, 0)::BIGINT) AS q8 FROM embeddings, mx),
       |qq AS (SELECT vec_id AS query_id, q8 AS qq8 FROM q8 WHERE vec_id IN (0, 1, 2, 3, 4)),
       |short AS (SELECT query_id, vec_id FROM (
       |  SELECT qq.query_id, c.vec_id,
       |    row_number() OVER (PARTITION BY qq.query_id
       |      ORDER BY list_sum(list_transform(range(1, 65), i -> qq.qq8[i] * c.q8[i])) DESC,
       |               c.vec_id) AS srank
       |  FROM q8 c CROSS JOIN qq WHERE c.vec_id <> qq.query_id) WHERE srank <= 30)
       |SELECT query_id, vec_id, sim,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INT) AS rank
       |FROM (SELECT s.query_id, s.vec_id, ${cosOf("q.embedding", "c.embedding")} AS sim
       |      FROM short s JOIN embeddings c ON s.vec_id = c.vec_id
       |      JOIN embeddings q ON s.query_id = q.vec_id)
       |QUALIFY rank <= 10""".stripMargin

  /** s_bq_ann — binary-quantized ANN
    * ([[graft.pipeline.Similarity.bqTopK]]): sign-bit packing to ONE
    * 64-bit word per vector, XOR+popcount Hamming shortlist (integer
    * ops, un-flippable), exact-cosine re-rank of the shortlist only;
    * the oracle replays pack, Hamming rank, and re-rank. */
  val sBqAnn: Q = (s, d) =>
    Similarity.bqTopK(Tables.embeddings(s, d), Seq(0L, 1L, 2L, 3L, 4L), 10,
      shortlist = 50)

  val sBqAnnSql: String =
    s"""WITH b AS (SELECT vec_id,
       |    list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 64),
       |      i -> CASE WHEN embedding[i + 1] > 0.0
       |        THEN (CASE WHEN i = 63 THEN -9223372036854775807 - 1
       |              ELSE (1::BIGINT << i) END)
       |        ELSE 0::BIGINT END)),
       |      (a, v) -> a | v) AS bits FROM embeddings),
       |qq AS (SELECT vec_id AS query_id, bits AS qbits FROM b
       |  WHERE vec_id IN (0, 1, 2, 3, 4)),
       |short AS (SELECT query_id, vec_id FROM (
       |  SELECT qq.query_id, c.vec_id,
       |    row_number() OVER (PARTITION BY qq.query_id
       |      ORDER BY bit_count(xor(qq.qbits, c.bits)), c.vec_id) AS srank
       |  FROM b c CROSS JOIN qq WHERE c.vec_id <> qq.query_id)
       |  WHERE srank <= 50)
       |SELECT query_id, vec_id, sim,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INT) AS rank
       |FROM (SELECT s.query_id, s.vec_id, ${cosOf("q.embedding", "c.embedding")} AS sim
       |      FROM short s JOIN embeddings c ON s.vec_id = c.vec_id
       |      JOIN embeddings q ON s.query_id = q.vec_id)
       |QUALIFY rank <= 10""".stripMargin

  /** Temperature-flattened language mix ([[Corpus.temperatureMix]],
    * T=2): per-language keep rates derived in-plan from corpus counts. */
  val pTempMix: Q = (s, d) =>
    Corpus.temperatureMix(Tables.documents(s, d), col("doc_id"), "lang")
      .select(col("doc_id"), col("lang"), col("pct"))

  val pTempMixSql: String =
    """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
      |r AS (SELECT lang, floor(100 * sqrt(n::DOUBLE / (SELECT max(n) FROM c)))::BIGINT AS pct FROM c)
      |SELECT d.doc_id, d.lang, r.pct FROM documents d JOIN r ON d.lang = r.lang
      |WHERE list_reduce(list_prepend(0::BIGINT,
      |        list_transform(string_split(d.doc_id::VARCHAR, ''), ch -> ascii(ch)::BIGINT)),
      |        (a, ch) -> (a * 31 + ch) % 2147483647) % 100 < r.pct""".stripMargin

  /** Bigram LM quality score ([[Corpus.lmQualityScore]]): the
    * perplexity-filter signal (avg transition probability + OOV bigram
    * rate, both in integer ppm) against a model trained on the
    * doc_id%5=0 reference slice. */
  val tLmScore: Q = (s, d) =>
    Corpus.lmQualityScore(Tables.documents(s, d), col("doc_id") % 5 === 0)

  /** The bigram-LM scoring CTE chain (… → `scored(doc_id, cb, p_ppm)`,
    * one row per non-ref bigram), shared by the per-doc score gate and
    * the AUC calibration gate. */
  private lazy val lmScoredCte: String =
    s"""t AS (SELECT doc_id, doc_id % 5 = 0 AS is_ref,
       |            string_split($normSql, ' ') AS toks FROM documents),
       |pairs AS (SELECT doc_id, is_ref,
       |            unnest(toks[1:len(toks)-1]) AS w1,
       |            unnest(toks[2:len(toks)]) AS w2 FROM t),
       |bgc AS (SELECT w1, w2, count(*)::BIGINT AS cb FROM pairs WHERE is_ref GROUP BY w1, w2),
       |ug AS (SELECT w1, count(*)::BIGINT AS cu FROM pairs WHERE is_ref GROUP BY w1),
       |model AS (SELECT b.w1, b.w2, b.cb, u.cu FROM bgc b JOIN ug u ON b.w1 = u.w1),
       |scored AS (SELECT p.doc_id, m.cb,
       |    coalesce((m.cb * 2000000 + m.cu) // (2 * m.cu), 0) AS p_ppm
       |  FROM pairs p LEFT JOIN model m ON p.w1 = m.w1 AND p.w2 = m.w2
       |  WHERE NOT p.is_ref)""".stripMargin

  val tLmScoreSql: String =
    s"""WITH $lmScoredCte
       |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
       |  ((sum(CASE WHEN cb IS NULL THEN 1 ELSE 0 END) * 2000000 + count(*)) // (2 * count(*)))::BIGINT AS oov_ppm,
       |  ((sum(p_ppm) * 2 + count(*)) // (2 * count(*)))::BIGINT AS avg_p_ppm
       |FROM scored GROUP BY doc_id""".stripMargin

  /** t_auc — exact ROC-AUC calibration of the bigram-LM quality score
    * ([[graft.pipeline.Corpus.aucExact]]): does `avg_p_ppm` separate
    * the src0/src1 target slice? Tie-aware rank-sum identity over
    * GROUPED score counts (integer numerator, one rounded division) —
    * never a corpus-wide rank. */
  val tAuc: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val scored = graft.pipeline.Corpus
      .lmQualityScore(docs, col("doc_id") % 5 === 0)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
    graft.pipeline.Corpus.aucExact(scored, col("avg_p_ppm"),
      col("source").isin("src0", "src1"))
  }

  /** t_ccnet — CCNet head/middle/tail perplexity bucketing
    * ([[graft.pipeline.Corpus.ccnetBuckets]]): per language, integer
    * tercile thresholds over the bigram-LM score; whole tie groups land
    * in one bucket. */
  val tCcnet: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val scored = graft.pipeline.Corpus
      .lmQualityScore(docs, col("doc_id") % 5 === 0)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
    graft.pipeline.Corpus.ccnetBuckets(scored, col("lang"),
      col("avg_p_ppm"))
  }

  val tCcnetSql: String =
    s"""WITH $lmScoredCte,
       |lm AS (SELECT doc_id,
       |    ((sum(p_ppm) * 2 + count(*)) // (2 * count(*)))::BIGINT AS s
       |  FROM scored GROUP BY doc_id),
       |dd AS (SELECT l.doc_id, d.lang, l.s FROM lm l JOIN documents d USING (doc_id)),
       |g AS (SELECT lang, s, count(*)::BIGINT AS c FROM dd GROUP BY 1, 2),
       |b AS (SELECT lang, s,
       |    coalesce(sum(c) OVER (PARTITION BY lang ORDER BY s DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS clt,
       |    sum(c) OVER (PARTITION BY lang) AS n
       |  FROM g)
       |SELECT dd.doc_id, dd.lang, dd.s AS score,
       |  CASE WHEN b.clt * 3 < b.n THEN 'head'
       |       WHEN b.clt * 3 < 2 * b.n THEN 'middle'
       |       ELSE 'tail' END AS bucket
       |FROM dd JOIN b USING (lang, s)""".stripMargin

  val tAucSql: String =
    s"""WITH $lmScoredCte,
       |lm AS (SELECT doc_id,
       |    ((sum(p_ppm) * 2 + count(*)) // (2 * count(*)))::BIGINT AS s
       |  FROM scored GROUP BY doc_id),
       |lab AS (SELECT l.s,
       |    CASE WHEN d.source IN ('src0', 'src1') THEN 1 ELSE 0 END AS pos
       |  FROM lm l JOIN documents d USING (doc_id)),
       |g AS (SELECT s, sum(pos)::BIGINT AS p, sum(1 - pos)::BIGINT AS n
       |  FROM lab GROUP BY s),
       |c AS (SELECT *, coalesce(sum(n) OVER (ORDER BY s
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumn
       |  FROM g)
       |SELECT sum(p)::BIGINT AS n_pos, sum(n)::BIGINT AS n_neg,
       |  round(sum(p * (2 * cumn + n))::DOUBLE / (2.0 * sum(p) * sum(n)), 6) AS auc
       |FROM c""".stripMargin

  /** Corpus-wide first-occurrence line dedup ([[Corpus.dedupLines]],
    * minLen=30), reassembled docs hash-compared. */
  val dLineDedup: Q = (s, d) =>
    Corpus.dedupLines(Tables.documents(s, d), minLen = 30)
      .select(col("doc_id"), col("n_kept"), col("n_removed"),
        md5(col("clean_text")).as("clean_md5"))

  val dLineDedupSql: String =
    """WITH l AS (SELECT doc_id, generate_subscripts(sl, 1) AS pos, unnest(sl) AS line
      |  FROM (SELECT doc_id, string_split(text, chr(10)) AS sl FROM documents)),
      |f AS (SELECT line, min(struct_pack(d := doc_id, p := pos)) AS fo
      |      FROM l WHERE len(line) >= 30 GROUP BY line),
      |m AS (SELECT l.doc_id, l.pos, l.line,
      |        f.fo IS NOT NULL AND NOT (f.fo.d = l.doc_id AND f.fo.p = l.pos) AS dropped
      |      FROM l LEFT JOIN f ON l.line = f.line)
      |SELECT doc_id,
      |  (count(*) FILTER (WHERE NOT dropped))::BIGINT AS n_kept,
      |  (count(*) FILTER (WHERE dropped))::BIGINT AS n_removed,
      |  md5(string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE NOT dropped)) AS clean_md5
      |FROM m GROUP BY doc_id""".stripMargin

  /** D5 companion — snapshot diff ([[GraphOps.snapshotDiff]]): v1 = all
    * docs; v2 = carried (unchanged sources) + re-indexed replacements
    * (changed docs return under new ids, as a re-index would mint). The
    * diff classifies every node as carried/removed/added from its
    * set-valued task membership — a narrow map, no join. */
  val gD5Diff: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val changed = col("source").isin("src0", "src1")
    val base = docs.select(col("doc_id"),
      when(changed, array(lit("v1")))
        .otherwise(array(lit("v1"), lit("v2"))).as("task_ids"))
    val reindexed = docs.filter(changed)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        array(lit("v2")).as("task_ids"))
    GraphOps.snapshotDiff(base.unionByName(reindexed), "v1", "v2")
      .select(col("doc_id"), col("diff_status"))
  }

  val gD5DiffSql: String =
    """SELECT doc_id, CASE WHEN source IN ('src0','src1') THEN 'removed'
      |  ELSE 'carried' END AS diff_status FROM documents
      |UNION ALL
      |SELECT doc_id + 1000000, 'added' FROM documents WHERE source IN ('src0','src1')""".stripMargin

  /** Grouped KMV sketch ([[graft.pipeline.Sketches.kmvDistinctBy]]):
    * distinct users per event type, k=64 — the grouped form of q14. */
  val q14KmvGrouped: Q = (s, d) =>
    graft.pipeline.Sketches.kmvDistinctBy(Tables.events(s, d),
      col("event_type"), col("user_id").cast("string"), 64)
      .withColumnRenamed("grp", "event_type")

  val q14KmvGroupedSql: String = {
    val rollh = "list_reduce(list_prepend(0::BIGINT, list_transform(string_split(user_id::VARCHAR, ''), c -> ascii(c)::BIGINT)), (a, c) -> (a * 31 + c) % 2147483647)"
    s"""WITH h AS (SELECT DISTINCT event_type, $rollh AS h FROM events),
       |r AS (SELECT event_type, h, row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
       |      FROM h WHERE h > 0)
       |SELECT event_type,
       |  CASE WHEN count(*) < 64 THEN count(*)::DOUBLE
       |       ELSE round(63.0 * 2147483647 / max(h), 4) END AS est_distinct
       |FROM r WHERE rk <= 64 GROUP BY event_type""".stripMargin
  }

  /** Banded range join ([[graft.ops.RangeJoins.slidingCount]]): views per
    * user in the 5 minutes before each click. The oracle replays the
    * PLAIN inequality join — the banding is a partitioning rewrite, so a
    * wrong band width or fan-out would hash-mismatch. */
  val q27RangeJoin: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("key"), col("event_id").as("id"),
        unix_micros(col("ts")).as("ts_us"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("key"), unix_micros(col("ts")).as("ts_us"))
    graft.ops.RangeJoins.slidingCount(clicks, views, windowSec = 300)
      .select(col("id").as("event_id"), col("key").as("user_id"),
        col("n").as("n_views"))
  }

  val q27RangeJoinSql: String =
    """SELECT c.event_id, c.user_id, count(v.user_id)::BIGINT AS n_views
      |FROM events c LEFT JOIN events v
      |  ON v.event_type = 'view' AND v.user_id = c.user_id
      |  AND epoch_us(v.ts) BETWEEN epoch_us(c.ts) - 300000000 AND epoch_us(c.ts)
      |WHERE c.event_type = 'click'
      |GROUP BY c.event_id, c.user_id""".stripMargin

  /** q32 — personalized PageRank over the containment hierarchy with the
    * region roots as the teleport set
    * ([[graft.enrich.Analytics.personalizedPageRank]]): "closeness to the
    * seeds" ranking, the graph-retrieval primitive. Same oracle shape as
    * q10 — per-iteration round-to-10 makes summation order irrelevant —
    * with the reset/init mass restricted to the source set. */
  val q32Ppr: Q = (s, d) => {
    val hier = GraphTables.hierarchy(s, d)
    val srcs = hier.select(col("src").as("v"))
      .union(hier.select(col("dst").as("v"))).distinct()
      .filter(col("v").startsWith("region."))
    graft.enrich.Analytics.personalizedPageRank(hier, srcs, iterations = 5)
  }

  val q32PprSql: String = {
    def iter(i: Int): String =
      s"""p$i AS MATERIALIZED (SELECT t.v, round(CASE WHEN t.is_src = 1 THEN 0.15/(SELECT n FROM ns) ELSE 0 END
         |    + 0.85*coalesce(c.s, 0), 10) AS pr
         |  FROM sverts t LEFT JOIN (
         |    SELECT e.dst AS v, round(sum(p.pr / o.cnt), 10) AS s
         |    FROM hier e JOIN p${i - 1} p ON e.src = p.v JOIN outdeg o ON e.src = o.src
         |    GROUP BY e.dst) c ON t.v = c.v)""".stripMargin
    s"""WITH ${GraphSql.hierarchyCte},
       |verts AS (SELECT src AS v FROM hier UNION SELECT dst FROM hier),
       |sverts AS MATERIALIZED (SELECT v, CASE WHEN v LIKE 'region.%' THEN 1 ELSE 0 END AS is_src FROM verts),
       |ns AS (SELECT sum(is_src)::DOUBLE AS n FROM sverts),
       |outdeg AS (SELECT src, count(*) AS cnt FROM hier GROUP BY src),
       |p0 AS (SELECT v, CASE WHEN is_src = 1 THEN round(1.0/(SELECT n FROM ns), 10) ELSE 0.0 END AS pr FROM sverts),
       |${(1 to 5).map(iter).mkString(",\n")}
       |SELECT v, round(pr, 6) AS ppr FROM p5""".stripMargin
  }

  /** The GraphX scale path of q32 — same source-restricted teleport
    * math, same per-iteration rounding, gated by the IDENTICAL oracle
    * SQL (the q10/q10_gx pattern). */
  val q32PprGx: Q = (s, d) => {
    val hier = GraphTables.hierarchy(s, d)
    val srcs = hier.select(col("src").as("v"))
      .union(hier.select(col("dst").as("v"))).distinct()
      .filter(col("v").startsWith("region."))
    graft.enrich.Analytics.personalizedPageRankGraphX(s, hier, srcs,
      iterations = 5)
  }

  /** q33 — label-propagation communities over the co-purchase graph
    * ([[graft.enrich.Analytics.labelPropagation]]): 4 synchronous
    * modal-label rounds with the deterministic (max count, min label)
    * tie-break. The oracle unrolls the identical rounds; the pick is the
    * two-level max-count-then-min-label so both engines agree exactly. */
  val q33Labelprop: Q = (s, d) =>
    graft.enrich.Analytics.labelPropagation(coPurchaseEdges(s, d), iterations = 4)

  /** The GraphX scale path of q33 — synchronous aggregateMessages rounds
    * with the identical (max count, min label) tie-break, so it shares
    * q33's unrolled oracle (the graphx.lib Pregel variant does NOT match
    * and is deliberately not used). */
  val q33LabelpropGx: Q = (s, d) =>
    graft.enrich.Analytics.labelPropagationGraphX(s, coPurchaseEdges(s, d),
      iterations = 4)

  /** q47 — bounded-hop weighted shortest paths over the weighted
    * co-purchase graph ([[graft.enrich.Analytics.weightedShortestPaths]]):
    * min-plus relaxation from the smallest vertex id, 6 rounds, exact
    * integer distances; the oracle unrolls the same recurrence. The hop
    * bound makes the operator replayable AND is the product semantics a
    * cluster runs (distance within k hops). */
  val q47Wsp: Q = (s, d) => {
    // materialize the co-purchase graph ONCE: the seed scan below and the
    // relaxation loop otherwise each re-run the self-join construction
    val e = coPurchaseEdgesW(s, d).pin(eager = false)
    // the seed is data-derived but a bounded scalar: min vertex id
    val src = e.agg(min(col("src"))).first().getLong(0)
    graft.enrich.Analytics.weightedShortestPaths(e, src, rounds = 6)
  }

  val q47WspSql: String = {
    def iter(i: Int): String =
      s"""d$i AS MATERIALIZED (SELECT v, min(dist) AS dist FROM (
         |  SELECT v, dist FROM d${i - 1}
         |  UNION ALL
         |  SELECT e.dst AS v, p.dist + e.w AS dist
         |  FROM wund e JOIN d${i - 1} p ON e.src = p.v) GROUP BY v)""".stripMargin
    s"""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |ce AS (SELECT a.l_partkey AS a, b.l_partkey AS b, count(*)::BIGINT AS w FROM op a JOIN op b
       |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |      GROUP BY 1, 2 HAVING count(*) >= 2),
       |wund AS MATERIALIZED (SELECT a AS src, b AS dst, w FROM ce UNION ALL SELECT b, a, w FROM ce),
       |d0 AS MATERIALIZED (SELECT min(src) AS v, 0::BIGINT AS dist FROM wund),
       |${(1 to 6).map(iter).mkString(",\n")}
       |SELECT v, dist FROM d6""".stripMargin
  }

  private def lpaIterSql(i: Int): String =
    s"""c$i AS MATERIALIZED (SELECT e.src AS v, p.c, count(*) AS cnt
       |  FROM und e JOIN l${i - 1} p ON e.dst = p.v GROUP BY 1, 2),
       |l$i AS MATERIALIZED (SELECT c.v, min(c.c) AS c FROM c$i c
       |  JOIN (SELECT v, max(cnt) AS mc FROM c$i GROUP BY v) m
       |  ON c.v = m.v AND c.cnt = m.mc GROUP BY c.v)""".stripMargin

  val q33LabelpropSql: String =
    s"""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |ce AS (SELECT a.l_partkey AS a, b.l_partkey AS b FROM op a JOIN op b
       |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |      GROUP BY 1, 2 HAVING count(*) >= 2),
       |und AS MATERIALIZED (SELECT a AS src, b AS dst FROM ce UNION SELECT b, a FROM ce),
       |l0 AS MATERIALIZED (SELECT DISTINCT src AS v, src AS c FROM und),
       |${(1 to 4).map(lpaIterSql).mkString(",\n")}
       |SELECT v, c AS community FROM l4""".stripMargin

  /** t_cms_topk — count-min-sketch heavy hitters over the document
    * vocabulary ([[graft.pipeline.Sketches.cmsTopK]]): a fixed 3×1024
    * sketch (one partial-agg groupBy regardless of corpus size),
    * candidate estimate = min of its 3 bucket counts (the CM upper
    * bound, est ≥ true count — property-tested), top-20 by (est, term).
    * The oracle replays the identical rolling-hash row functions and
    * sketch — a sketch built on engine-specific hashes never could be. */
  val tCmsTopk: Q = (s, d) =>
    graft.pipeline.Sketches.cmsTopK(Tables.documents(s, d),
      graft.functions.TextFunctions.tokens(col("text")), width = 1024, k = 20)

  val tCmsTopkSql: String = {
    val rollh = "list_reduce(list_prepend(0::BIGINT, list_transform(string_split(term, ''), c -> ascii(c)::BIGINT)), (a, c) -> (a * 31 + c) % 2147483647)"
    s"""WITH occ AS MATERIALIZED (
       |  SELECT term, $rollh AS rh
       |  FROM (SELECT unnest(string_split($normSql, ' ')) AS term FROM documents)
       |  WHERE term <> ''),
       |seeds(seed, a, b) AS (VALUES (1, 1::BIGINT, 0::BIGINT), (2, 7919::BIGINT, 17::BIGINT), (3, 104729::BIGINT, 89::BIGINT)),
       |occ3 AS MATERIALIZED (SELECT o.term, s.seed, ((o.rh * s.a + s.b) % 2147483647) % 1024 AS bucket
       |  FROM occ o CROSS JOIN seeds s),
       |sk AS (SELECT seed, bucket, count(*) AS cnt FROM occ3 GROUP BY 1, 2),
       |cand AS (SELECT DISTINCT term, seed, bucket FROM occ3)
       |SELECT c.term, min(s.cnt)::BIGINT AS est
       |FROM cand c JOIN sk s ON c.seed = s.seed AND c.bucket = s.bucket
       |GROUP BY c.term ORDER BY est DESC, c.term LIMIT 20""".stripMargin
  }

  /** q41 — calendar aggregation (the date-function checklist row):
    * orders bucketed by year/quarter/month plus a day-of-week profile —
    * `year`/`quarter`/`month`/`dayofweek` are identical integer
    * functions in both engines (dow normalized to ISO 1=Monday..7).
    * Decimal revenue sums; pure narrow date math before one groupBy. */
  val q41Calendar: Q = (s, d) =>
    Tables.orders(s, d)
      .select(year(col("o_orderdate")).cast("long").as("yr"),
        quarter(col("o_orderdate")).cast("long").as("qtr"),
        month(col("o_orderdate")).cast("long").as("mon"),
        // Spark dayofweek: 1=Sunday..7=Saturday -> ISO 1=Monday..7=Sunday
        (pmod(dayofweek(col("o_orderdate")) + lit(5), lit(7)) + 1)
          .cast("long").as("iso_dow"),
        dec("o_totalprice").as("price"))
      .groupBy("yr", "qtr", "mon", "iso_dow")
      .agg(count(lit(1)).as("n"),
        sum(col("price")).cast("double").as("revenue"))

  val q41CalendarSql: String =
    """SELECT year(o_orderdate)::BIGINT AS yr, quarter(o_orderdate)::BIGINT AS qtr,
      |  month(o_orderdate)::BIGINT AS mon, isodow(o_orderdate)::BIGINT AS iso_dow,
      |  count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM orders GROUP BY 1, 2, 3, 4""".stripMargin

  /** q39 — HOPPING (sliding) window aggregation over the event stream:
    * 10-minute windows advancing every 5 — each event lands in exactly
    * two windows (the overlap factor), the standard smoothed-trend view.
    * Spark's window(ts, size, slide) generates the per-event window set;
    * the oracle unnests the two candidate starts and filters by
    * containment — bag-identical. Decimal sums; exact µs boundaries. */
  val q39Hopping: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(dec("value")).cast("double").as("total_value"))
      .select(unix_micros(col("window.start")).as("ws_us"),
        col("event_type"), col("n"), round(col("total_value"), 4).as("total_value"))

  val q39HoppingSql: String =
    """WITH ev AS (SELECT event_type, value, epoch_us(ts) AS us FROM events),
      |cand AS (SELECT event_type, value, us,
      |           unnest([us // 300000000 * 300000000,
      |                   us // 300000000 * 300000000 - 300000000]) AS ws_us
      |         FROM ev)
      |SELECT ws_us, event_type, count(*) AS n,
      |  round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS total_value
      |FROM cand WHERE us >= ws_us AND us < ws_us + 600000000
      |GROUP BY ws_us, event_type""".stripMargin

  /** q40 — percent-of-total WITHOUT the single-partition window: the
    * naive spelling (`sum() OVER ()`) funnels every row through one
    * reducer; the scale-safe plan aggregates per group, then joins the
    * 1-row grand total back as a broadcast. Share computed as an exact
    * decimal ratio rounded to 6. */
  val q40Share: Q = (s, d) => {
    val per = Tables.orders(s, d)
      .join(Tables.customer(s, d),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(s, d), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(dec("o_totalprice")).as("revenue"))
    val total = per.agg(sum(col("revenue")).as("grand"))
    per.crossJoin(broadcast(total))
      .select(col("n_name"),
        col("revenue").cast("double").as("revenue"),
        round(col("revenue").cast("double") / col("grand").cast("double"), 6)
          .as("share"))
  }

  val q40ShareSql: String =
    """WITH per AS (SELECT n_name, sum(CAST(o_totalprice AS DECIMAL(18,4))) AS revenue
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY n_name),
      |t AS (SELECT sum(revenue) AS grand FROM per)
      |SELECT n_name, CAST(revenue AS DOUBLE) AS revenue,
      |  round(CAST(revenue AS DOUBLE) / CAST(grand AS DOUBLE), 6) AS share
      |FROM per, t""".stripMargin

  /** t_winsor — winsorized statistics (outlier clipping before
    * aggregation, the robust-stats pass of data cleaning): per group,
    * values clip to the group's [p05, p95] band, then mean/min/max of
    * the clipped column. Two scans (quantile bounds, then a broadcast
    * bounds join + clipped aggregate); clipped values round to 4 BEFORE
    * the decimal-routed sum, so the mean is summation-order-proof. */
  val tWinsor: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_quantity").cast("double").as("qty"))
    val bounds = li.groupBy("l_returnflag").agg(
      round(expr("percentile(qty, 0.05)"), 4).as("lo"),
      round(expr("percentile(qty, 0.95)"), 4).as("hi"))
    li.join(broadcast(bounds), "l_returnflag")
      .withColumn("clipped",
        round(least(greatest(col("qty"), col("lo")), col("hi")), 4)
          .cast("decimal(18,4)"))
      .groupBy("l_returnflag")
      .agg(
        round(sum(col("clipped")).cast("double") / count(lit(1)), 4)
          .as("wmean"),
        min(col("clipped")).cast("double").as("wmin"),
        max(col("clipped")).cast("double").as("wmax"))
  }

  val tWinsorSql: String =
    """WITH b AS (SELECT l_returnflag,
      |  round(quantile_cont(l_quantity::DOUBLE, 0.05), 4) AS lo,
      |  round(quantile_cont(l_quantity::DOUBLE, 0.95), 4) AS hi
      |  FROM lineitem GROUP BY l_returnflag),
      |c AS (SELECT l.l_returnflag,
      |  CAST(round(least(greatest(l.l_quantity::DOUBLE, b.lo), b.hi), 4) AS DECIMAL(18,4)) AS clipped
      |  FROM lineitem l JOIN b ON l.l_returnflag = b.l_returnflag)
      |SELECT l_returnflag,
      |  round(CAST(sum(clipped) AS DOUBLE) / count(*), 4) AS wmean,
      |  CAST(min(clipped) AS DOUBLE) AS wmin,
      |  CAST(max(clipped) AS DOUBLE) AS wmax
      |FROM c GROUP BY l_returnflag""".stripMargin

  /** p_group_sample — fixed-size per-stratum sample (k docs per
    * language): rank by the portable rolling hash within each stratum,
    * keep the first k — the balanced-subset extraction that complements
    * p_sample_strat's rate-based sampling. Deterministic, retry-stable,
    * no RNG; one window shuffle on the stratum key. */
  val pGroupSample: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d).select(col("doc_id"),
      graft.functions.TextFunctions.langIdGuess(col("text")).as("lang"),
      graft.functions.TextFunctions.rollingHash(concat(col("doc_id").cast("string"),
        lit(":"), col("text"))).as("h"))
    val w = Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))
    docs.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 5)
      .select(col("doc_id"), col("lang"), col("rk"))
  }

  val pGroupSampleSql: String = {
    val rollh = "list_reduce(list_prepend(0::BIGINT, list_transform(string_split(doc_id || ':' || text, ''), c -> ascii(c)::BIGINT)), (a, c) -> (a * 31 + c) % 2147483647)"
    s"""WITH lab AS (SELECT doc_id, lang_guess AS lang FROM ($tLangIdSql)),
       |h AS (SELECT d.doc_id, l.lang, $rollh AS h FROM documents d JOIN lab l USING (doc_id))
       |SELECT doc_id, lang, rk FROM (
       |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang ORDER BY h, doc_id)::BIGINT AS rk
       |  FROM h) WHERE rk <= 5""".stripMargin
  }

  /** p_split_assign — deterministic hash-stable train/val/test split
    * ([[graft.pipeline.Corpus.splitAssign]]): a doc's split follows its
    * id across re-runs, incremental ingests, and engines (the oracle
    * recomputes membership from scratch and must land on identical
    * buckets). 90/5/5 over the documents table. */
  val pSplitAssign: Q = (s, d) =>
    graft.pipeline.Corpus.splitAssign(
        Tables.documents(s, d).select(col("doc_id")), col("doc_id"))
      .select(col("doc_id"), col("bucket"), col("split"))

  val pSplitAssignSql: String = {
    val rollh = "list_reduce(list_prepend(0::BIGINT, list_transform(string_split(doc_id::VARCHAR, ''), c -> ascii(c)::BIGINT)), (a, c) -> (a * 31 + c) % 2147483647)"
    s"""SELECT doc_id, bucket,
       |  CASE WHEN bucket < 900 THEN 'train'
       |       WHEN bucket < 950 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM (SELECT doc_id, $rollh % 1000 AS bucket FROM documents)""".stripMargin
  }

  /** q38 — null-safe join and null-aware grouping: order priorities are
    * nulled out for one class (via nullif), then joined back to a small
    * dimension with NULL-SAFE equality (Spark `<=>` ≡ SQL IS NOT
    * DISTINCT FROM — the join where NULL matches NULL, which a plain
    * equi-join silently drops) and grouped with the null group kept.
    * The operator-checklist row for three-valued-logic handling. */
  val q38NullJoin: Q = (s, d) => {
    val o = Tables.orders(s, d).select(col("o_orderkey"),
      nullif(col("o_orderpriority"), lit("3-MEDIUM")).as("prio"))
    val dim = Tables.orders(s, d)
      .select(nullif(col("o_orderpriority"), lit("3-MEDIUM")).as("prio"))
      .distinct()
      .withColumn("prio_label", coalesce(col("prio"), lit("UNSPECIFIED")))
    o.join(dim, o("prio") <=> dim("prio"))
      .groupBy(col("prio_label"))
      .agg(count(lit(1)).as("n"))
  }

  val q38NullJoinSql: String =
    """WITH o AS (SELECT o_orderkey, nullif(o_orderpriority, '3-MEDIUM') AS prio FROM orders),
      |dim AS (SELECT prio, coalesce(prio, 'UNSPECIFIED') AS prio_label
      |        FROM (SELECT DISTINCT nullif(o_orderpriority, '3-MEDIUM') AS prio FROM orders))
      |SELECT d.prio_label, count(*) AS n
      |FROM o JOIN dim d ON o.prio IS NOT DISTINCT FROM d.prio
      |GROUP BY d.prio_label""".stripMargin

  /** q36 — conversion-funnel analysis over the event stream: per user,
    * the furthest ORDERED stage reached in view → click → purchase,
    * each stage within 24 h after the previous stage's first occurrence
    * (the windowed sequential-pattern shape of product analytics),
    * summarized as users per stage. Exact integer microseconds; three
    * conditional min-aggregations + left joins, all keyed on user_id. */
  val q36Funnel: Q = (s, d) => {
    val ev = Tables.events(s, d).select(col("user_id"),
      col("event_type"), unix_micros(col("ts")).as("us"))
    val t1 = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("us").as("t1"))
    val winUs = 86400L * 1000000L // each stage converts within 24 h
    val t2 = ev.filter(col("event_type") === "click")
      .join(t1, "user_id")
      .filter(col("us") > col("t1") && col("us") <= col("t1") + winUs)
      .groupBy("user_id").agg(min("us").as("t2"))
    val t3 = ev.filter(col("event_type") === "purchase")
      .join(t2, "user_id")
      .filter(col("us") > col("t2") && col("us") <= col("t2") + winUs)
      .groupBy("user_id").agg(min("us").as("t3"))
    ev.select("user_id").distinct()
      .join(t1, Seq("user_id"), "left").join(t2, Seq("user_id"), "left")
      .join(t3, Seq("user_id"), "left")
      .select(
        when(col("t3").isNotNull, 3).when(col("t2").isNotNull, 2)
          .when(col("t1").isNotNull, 1).otherwise(0).cast("long").as("stage"))
      .groupBy("stage").agg(count(lit(1)).cast("long").as("n_users"))
  }

  val q36FunnelSql: String =
    """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |f1 AS (SELECT user_id, min(us) AS t1 FROM ev WHERE event_type = 'view' GROUP BY user_id),
      |f2 AS (SELECT e.user_id, min(e.us) AS t2 FROM ev e JOIN f1 ON e.user_id = f1.user_id
      |       WHERE e.event_type = 'click' AND e.us > f1.t1 AND e.us <= f1.t1 + 86400000000 GROUP BY e.user_id),
      |f3 AS (SELECT e.user_id, min(e.us) AS t3 FROM ev e JOIN f2 ON e.user_id = f2.user_id
      |       WHERE e.event_type = 'purchase' AND e.us > f2.t2 AND e.us <= f2.t2 + 86400000000 GROUP BY e.user_id)
      |SELECT stage, count(*)::BIGINT AS n_users FROM (
      |  SELECT CASE WHEN f3.t3 IS NOT NULL THEN 3 WHEN f2.t2 IS NOT NULL THEN 2
      |              WHEN f1.t1 IS NOT NULL THEN 1 ELSE 0 END::BIGINT AS stage
      |  FROM (SELECT DISTINCT user_id FROM ev) u
      |  LEFT JOIN f1 USING (user_id) LEFT JOIN f2 USING (user_id) LEFT JOIN f3 USING (user_id))
      |GROUP BY stage""".stripMargin

  /** Weighted co-purchase edges, undirected: (src, dst, w = number of
    * shared orders), both directions. */
  private def coPurchaseEdgesW(s: SparkSession, d: String): DataFrame = {
    val e = GraphTables.coPurchase(s, d)
    e.select(col("src"), col("dst"), col("w"))
      .unionByName(e.select(col("dst").as("src"), col("src").as("dst"), col("w")))
  }

  /** q37 — weighted PageRank over the undirected co-purchase graph
    * ([[graft.enrich.Analytics.pageRankWeighted]]): rank splits over
    * out-edges proportionally to the co-purchase count. Same unrolled
    * round-to-10 oracle discipline as q10. */
  val q37Wpr: Q = (s, d) =>
    graft.enrich.Analytics.pageRankWeighted(coPurchaseEdgesW(s, d),
      iterations = 5)

  /** The GraphX scale path of q37 — weight-proportional aggregateMessages
    * with the same per-iteration round-to-10; shares q37's oracle. */
  val q37WprGx: Q = (s, d) =>
    graft.enrich.Analytics.pageRankWeightedGraphX(s, coPurchaseEdgesW(s, d),
      iterations = 5)

  val q37WprSql: String = {
    def iter(i: Int): String =
      s"""wp$i AS MATERIALIZED (SELECT t.v, round(0.15/(SELECT n FROM wnn) + 0.85*coalesce(c.s, 0), 10) AS pr
         |  FROM wverts t LEFT JOIN (
         |    SELECT e.dst AS v, round(sum(p.pr * e.w / o.wsum), 10) AS s
         |    FROM wund e JOIN wp${i - 1} p ON e.src = p.v JOIN wdeg o ON e.src = o.src
         |    GROUP BY e.dst) c ON t.v = c.v)""".stripMargin
    s"""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |ce AS (SELECT a.l_partkey AS a, b.l_partkey AS b, count(*)::BIGINT AS w FROM op a JOIN op b
       |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |      GROUP BY 1, 2 HAVING count(*) >= 2),
       |wund AS MATERIALIZED (SELECT a AS src, b AS dst, w FROM ce UNION ALL SELECT b, a, w FROM ce),
       |wverts AS (SELECT DISTINCT src AS v FROM wund),
       |wnn AS (SELECT count(*)::DOUBLE AS n FROM wverts),
       |wdeg AS (SELECT src, sum(w) AS wsum FROM wund GROUP BY src),
       |wp0 AS (SELECT v, round(1.0/(SELECT n FROM wnn), 10) AS pr FROM wverts),
       |${(1 to 5).map(iter).mkString(",\n")}
       |SELECT v, round(pr, 6) AS pagerank FROM wp5""".stripMargin
  }

  /** q35 — MULTIPLE distinct aggregates + a plain aggregate in one
    * GROUP BY (distinct part and supplier counts next to a decimal sum):
    * the classic planner stress that Spark executes via the Expand
    * operator — each input row fans out once per distinct-column group,
    * then a two-level aggregation dedups and merges. Scale note: the
    * expand multiplies shuffled rows by (#distinct specs + 1); when that
    * bites at 100 TB the sketch path (q14_kmv_grouped) replaces the
    * exact distincts. */
  val q35MultiDistinct: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        count_distinct(col("l_partkey")).cast("long").as("nd_parts"),
        count_distinct(col("l_suppkey")).cast("long").as("nd_supps"),
        sum(dec("l_quantity")).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))

  val q35MultiDistinctSql: String =
    """SELECT l_returnflag,
      |count(DISTINCT l_partkey)::BIGINT AS nd_parts,
      |count(DISTINCT l_suppkey)::BIGINT AS nd_supps,
      |CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      |count(*) AS n
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** q34 — single-source shortest-path COUNTS from region.0 over the
    * reversed hierarchy ([[graft.enrich.Analytics.shortestPathCounts]]):
    * the σ of Brandes' betweenness forward pass, exact integers. The
    * oracle unrolls the identical Bellman-Ford-style recompute
    * (min-distance then sum-of-σ two-level pick per round). */
  val q34SpCounts: Q = (s, d) =>
    graft.enrich.Analytics.shortestPathCounts(
      GraphTables.hierarchy(s, d)
        .select(col("dst").as("src"), col("src").as("dst")),
      "region.0", iterations = q22Iterations)

  private def spIterSql(i: Int): String =
    s"""spc$i AS MATERIALIZED (SELECT e.dst AS v, p.d + 1 AS d, p.sig
       |  FROM rev e JOIN sp${i - 1} p ON e.src = p.v WHERE e.dst <> 'region.0'),
       |sp$i AS MATERIALIZED (SELECT 'region.0' AS v, 0::BIGINT AS d, 1::BIGINT AS sig
       |  UNION ALL
       |  SELECT c.v, c.d, sum(c.sig)::BIGINT AS sig FROM spc$i c
       |  JOIN (SELECT v, min(d) AS md FROM spc$i GROUP BY v) m ON c.v = m.v AND c.d = m.md
       |  GROUP BY c.v, c.d)""".stripMargin

  val q34SpCountsSql: String =
    s"""WITH ${GraphSql.hierarchyCte},
       |rev AS MATERIALIZED (SELECT dst AS src, src AS dst FROM hier),
       |sp0 AS MATERIALIZED (SELECT 'region.0' AS v, 0::BIGINT AS d, 1::BIGINT AS sig),
       |${(1 to q22Iterations).map(spIterSql).mkString(",\n")}
       |SELECT v, d, sig FROM sp$q22Iterations""".stripMargin

  /** q45 — median absolute deviation per group (the robust dispersion
    * companion to t_winsor's robust location): MAD = median(|x − median|),
    * two quantile aggregations with a broadcast medians join between
    * them. Exact interpolated percentiles (the q15 discipline), rounded
    * 4 at each float boundary. */
  val q45Mad: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_quantity").cast("double").as("qty"))
    val med = li.groupBy("l_returnflag")
      .agg(round(expr("percentile(qty, 0.5)"), 4).as("med"))
    li.join(broadcast(med), "l_returnflag")
      .withColumn("dev", abs(col("qty") - col("med")))
      .groupBy("l_returnflag")
      .agg(round(expr("percentile(dev, 0.5)"), 4).as("mad"),
        count(lit(1)).as("n"))
  }

  val q45MadSql: String =
    """WITH m AS (SELECT l_returnflag, round(quantile_cont(l_quantity::DOUBLE, 0.5), 4) AS med
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l.l_returnflag, round(quantile_cont(abs(l.l_quantity::DOUBLE - m.med), 0.5), 4) AS mad,
      |  count(*) AS n
      |FROM lineitem l JOIN m ON l.l_returnflag = m.l_returnflag
      |GROUP BY l.l_returnflag""".stripMargin

  /** q44 — landmark HARMONIC closeness: Σ over landmarks of 1/d(l, v) —
    * the standard scalable approximation of closeness centrality (exact
    * closeness needs all-pairs; landmark BFS needs |L| frontier loops,
    * each the q22 shape). Per-landmark reciprocals round to 10 then sum
    * through DECIMAL, so the 3-term float sum has no order hazard.
    * Completes the centrality family: degree (implicit), PageRank (q10/
    * q32/q37), betweenness (q42), closeness (here). */
  /** q78_anf — HyperANF neighborhood function
    * ([[graft.enrich.Analytics.anf]], Boldi-Rosa-Vigna 2011): per-vertex
    * out-reachability BALL SIZES at radius h = 0..3 over the containment
    * hierarchy, each ball an m=16 PORTABLE HLL register set (O(m) state
    * per vertex where exact reachability is quadratic — the 100 TB
    * spelling of "how connected is this graph"); registers max-merge
    * along edges per round, estimates take the r12 linear-counting
    * correction (tiny balls are HLL's bias zone), per-vertex round-4
    * estimates sum through DECIMAL. The oracle replays every register,
    * every correction branch, and the sum bit-for-bit. */
  val q78Anf: Q = (s, d) =>
    graft.enrich.Analytics.anf(GraphTables.hierarchy(s, d), rounds = 3)

  /** The HyperANF WITH-body (registers → 3 merge rounds → per-round
    * estimates), shared by q78_anf and q79_effdiam. */
  private lazy val anfCtes: String = {
    val rollh = "list_reduce(list_prepend(0::BIGINT, list_transform(" +
      "string_split(v, ''), c -> ascii(c)::BIGINT)), " +
      "(a, c) -> (a * 31 + c) % 2147483647)"
    def est(k: Int): String =
      s"""e$k AS (SELECT v,
         |  sum(1::BIGINT << (32 - rho)::INT) + (16 - count(*)) * 4294967296 AS s_scaled,
         |  (16 - count(*))::INT AS zero_regs FROM r$k GROUP BY v),
         |n$k AS (SELECT $k::INT AS h, round(sum(
         |  round(CASE WHEN zero_regs > 0 AND
         |      (673 * 256 * 4294967296)::DOUBLE / (1000 * s_scaled) <= 40.0
         |    THEN 16.0 * ln(16.0 / zero_regs)
         |    ELSE (673 * 256 * 4294967296)::DOUBLE / (1000 * s_scaled) END, 4)
         |  ::DECIMAL(28,4))::DOUBLE, 4) AS nf FROM e$k)""".stripMargin
    def round_(k: Int): String =
      s"""r$k AS MATERIALIZED (SELECT v, bucket, max(rho) AS rho FROM (
         |  SELECT v, bucket, rho FROM r${k - 1}
         |  UNION ALL
         |  SELECT e.src AS v, r.bucket, r.rho
         |  FROM hier e JOIN r${k - 1} r ON e.dst = r.v) GROUP BY 1, 2)""".stripMargin
    s"""WITH ${GraphSql.hierarchyCte},
       |verts AS (SELECT src AS v FROM hier UNION SELECT dst FROM hier),
       |hh AS (SELECT v, $rollh AS h0 FROM verts),
       |r0 AS MATERIALIZED (SELECT v, (h0 % 16)::INT AS bucket,
       |  (CASE WHEN w = 0 THEN 32 ELSE 32 - length(bin(w)) END)::INT AS rho
       |  FROM (SELECT v, h0, (h0 * 1103515245 + 12345) % 2147483647 AS w FROM hh)),
       |${(1 to 3).map(round_).mkString(",\n")},
       |${(0 to 3).map(est).mkString(",\n")},
       |nfall AS (SELECT h, nf FROM n0 UNION ALL SELECT h, nf FROM n1
       |  UNION ALL SELECT h, nf FROM n2 UNION ALL SELECT h, nf FROM n3)""".stripMargin
  }

  val q78AnfSql: String =
    s"""$anfCtes
       |SELECT h, nf FROM nfall""".stripMargin

  /** q79_effdiam — EFFECTIVE DIAMETER from the ANF curve
    * ([[graft.enrich.Analytics.anf]] composed): the smallest radius h
    * whose neighborhood function reaches 90% of the max-radius value —
    * HyperANF's headline statistic (Boldi-Rosa-Vigna report exactly
    * this). One broadcast of the 1-row nf(max) against the 4-row curve. */
  val q79Effdiam: Q = (s, d) => {
    val nf = graft.enrich.Analytics.anf(GraphTables.hierarchy(s, d),
      rounds = 3).pin(eager = false)
    val mx = nf.filter(col("h") === 3).select(col("nf").as("nf3"))
    nf.crossJoin(broadcast(mx))
      .filter(col("nf") >= lit(0.9) * col("nf3"))
      .orderBy("h").limit(1)
      .select(col("h").cast("int").as("eff_diameter"),
        round(col("nf") / col("nf3"), 4).as("coverage"))
  }

  val q79EffdiamSql: String =
    s"""$anfCtes,
       |mx AS (SELECT nf AS nf3 FROM nfall WHERE h = 3)
       |SELECT h::INT AS eff_diameter,
       |  round(nf / (SELECT nf3 FROM mx), 4) AS coverage
       |FROM nfall WHERE nf >= 0.9::DOUBLE * (SELECT nf3 FROM mx)
       |ORDER BY h LIMIT 1""".stripMargin

  val q44Harmonic: Q = (s, d) => {
    val rev = GraphTables.hierarchy(s, d)
      .select(col("dst").as("src"), col("src").as("dst"))
    // FUSED landmark BFS (the q46 pattern): one keyed pass for all three
    // landmarks instead of three sequential frontier loops — the min
    // recurrence per landmark is the oracle's spelling unchanged
    graft.enrich.Analytics.bfsDistancesLandmarks(rev,
        Seq("region.0", "region.1", "nation.0"), iterations = q22Iterations)
      .filter(col("d") > 0)
      .select(col("v"),
        round(lit(1.0) / col("d"), 10).cast("decimal(20,10)").as("h"))
      .groupBy("v")
      .agg(round(sum(col("h")).cast("double"), 4).as("harmonic"))
  }

  /** The GraphX scale path of q44 — one fused multi-landmark BFS with
    * fixed-width array vertex state feeding the same reciprocal-sum
    * spelling; shares q44's
    * oracle (hop counts equal the unrolled recurrence at fixpoint). */
  val q44HarmonicGx: Q = (s, d) => {
    val rev = GraphTables.hierarchy(s, d)
      .select(col("dst").as("src"), col("src").as("dst"))
    graft.enrich.Analytics.bfsDistancesLandmarksGraphX(s, rev,
        Seq("region.0", "region.1", "nation.0"))
      .filter(col("d") > 0)
      .select(col("v"),
        round(lit(1.0) / col("d"), 10).cast("decimal(20,10)").as("h"))
      .groupBy("v")
      .agg(round(sum(col("h")).cast("double"), 4).as("harmonic"))
  }

  val q44HarmonicSql: String = {
    val n = q22Iterations
    def chain(pfx: String, src: String): String = {
      def it(i: Int) =
        s"""$pfx$i AS MATERIALIZED (SELECT v, min(d)::BIGINT AS d FROM (
           |  SELECT v, d FROM $pfx${i - 1}
           |  UNION ALL SELECT e.dst AS v, p.d + 1 AS d FROM rev e JOIN $pfx${i - 1} p ON e.src = p.v
           |) GROUP BY v)""".stripMargin
      s"""${pfx}0 AS MATERIALIZED (SELECT '$src' AS v, 0::BIGINT AS d),
         |${(1 to n).map(it).mkString(",\n")}""".stripMargin
    }
    s"""WITH ${GraphSql.hierarchyCte},
       |rev AS MATERIALIZED (SELECT dst AS src, src AS dst FROM hier),
       |${chain("la", "region.0")},
       |${chain("lb", "region.1")},
       |${chain("lc", "nation.0")},
       |hs AS (SELECT v, CAST(round(1.0 / d, 10) AS DECIMAL(20,10)) AS h FROM la$n WHERE d > 0
       |  UNION ALL SELECT v, CAST(round(1.0 / d, 10) AS DECIMAL(20,10)) FROM lb$n WHERE d > 0
       |  UNION ALL SELECT v, CAST(round(1.0 / d, 10) AS DECIMAL(20,10)) FROM lc$n WHERE d > 0)
       |SELECT v, round(CAST(sum(h) AS DOUBLE), 4) AS harmonic FROM hs GROUP BY v""".stripMargin
  }

  /** q54 — distance distribution from a landmark set (the
    * effective-diameter profile): hop-count histogram + CDF over the
    * fused multi-landmark BFS ([[graft.enrich.Analytics
    * .bfsDistancesLandmarks]] — one frontier pass carries ALL landmarks
    * in its state key). At 100 TB this is THE cheap way to profile a
    * graph's reach: landmark sampling bounds work to |landmarks| BFS
    * passes fused into one, and the histogram is O(diameter) rows. The
    * CDF window orders ≤diameter rows — never a wide reducer. */
  val q54DistDist: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val rev = GraphTables.hierarchy(s, d)
      .select(col("dst").as("src"), col("src").as("dst"))
    val dist = graft.enrich.Analytics.bfsDistancesLandmarks(rev,
      Seq("region.0", "region.1", "nation.0"), iterations = q22Iterations)
      .filter(col("d") > 0)
      .groupBy(col("d")).agg(count(lit(1)).as("n_pairs"))
    val w = Window.orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dist
      .withColumn("cdf", round(sum(col("n_pairs")).over(w) /
        sum(col("n_pairs")).over(Window.partitionBy()), 6))
      .select(col("d"), col("n_pairs"), col("cdf"))
  }

  lazy val q54DistDistSql: String = {
    val n = q22Iterations
    def chain(pfx: String, src: String): String = {
      def it(i: Int) =
        s"""$pfx$i AS MATERIALIZED (SELECT v, min(d)::BIGINT AS d FROM (
           |  SELECT v, d FROM $pfx${i - 1}
           |  UNION ALL SELECT e.dst AS v, p.d + 1 AS d FROM rev e JOIN $pfx${i - 1} p ON e.src = p.v
           |) GROUP BY v)""".stripMargin
      s"""${pfx}0 AS MATERIALIZED (SELECT '$src' AS v, 0::BIGINT AS d),
         |${(1 to n).map(it).mkString(",\n")}""".stripMargin
    }
    s"""WITH ${GraphSql.hierarchyCte},
       |rev AS MATERIALIZED (SELECT dst AS src, src AS dst FROM hier),
       |${chain("da", "region.0")},
       |${chain("db", "region.1")},
       |${chain("dc", "nation.0")},
       |alld AS (SELECT d FROM da$n WHERE d > 0
       |  UNION ALL SELECT d FROM db$n WHERE d > 0
       |  UNION ALL SELECT d FROM dc$n WHERE d > 0),
       |hist AS (SELECT d, count(*)::BIGINT AS n_pairs FROM alld GROUP BY d)
       |SELECT d, n_pairs,
       |  round(sum(n_pairs) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
       |    / (SELECT sum(n_pairs) FROM hist), 6) AS cdf
       |FROM hist""".stripMargin
  }

  /** q43 — KMV sketch SET ALGEBRA (the theta-sketch pattern): estimate
    * the union and intersection cardinalities of two user sets (clickers
    * vs purchasers) from their k-minimum-value sketches alone — merge =
    * k smallest of the union, ρ = sketch-overlap fraction, est_inter =
    * ρ · est_union. The scale story: each side's sketch is O(k) state
    * built in one pass (the q14 shape); the set operation then touches
    * ONLY sketches, never the raw sets — this is how distinct-overlap
    * questions get answered across 100 TB partitions. Deterministic and
    * replayable because both engines hash identically (the KMV-over-HLL
    * rationale, applied to set ops). */
  val q43KmvIntersect: Q = (s, d) => {
    val ev = Tables.events(s, d)
    def sketch(t: String) = graft.pipeline.Sketches.kmvSketch(
      ev.filter(col("event_type") === t), col("user_id").cast("string"), 64)
    val ka = sketch("click")
    val kb = sketch("purchase")
    val un = ka.unionByName(kb).distinct().orderBy(col("h")).limit(64)
    val st = un.agg(max("h").as("kth"), count(lit(1)).as("n"))
    val ni = un.join(ka, "h").join(kb, "h").agg(count(lit(1)).as("ni"))
    st.crossJoin(ni)
      .select(
        when(col("n") < 64, col("n").cast("double"))
          .otherwise(round(lit(63.0) * graft.pipeline.Sketches.P / col("kth"), 4))
          .as("est_union"),
        col("n"), col("ni"))
      .select(col("est_union"),
        round(col("ni") * col("est_union") / col("n"), 4).as("est_inter"))
  }

  val q43KmvIntersectSql: String = {
    val rollh = "list_reduce(list_prepend(0::BIGINT, list_transform(string_split(user_id::VARCHAR, ''), c -> ascii(c)::BIGINT)), (a, c) -> (a * 31 + c) % 2147483647)"
    s"""WITH ka AS MATERIALIZED (SELECT h FROM (SELECT DISTINCT $rollh AS h FROM events WHERE event_type = 'click')
       |      WHERE h > 0 ORDER BY h LIMIT 64),
       |kb AS MATERIALIZED (SELECT h FROM (SELECT DISTINCT $rollh AS h FROM events WHERE event_type = 'purchase')
       |      WHERE h > 0 ORDER BY h LIMIT 64),
       |un AS MATERIALIZED (SELECT DISTINCT h FROM (SELECT h FROM ka UNION ALL SELECT h FROM kb) ORDER BY h LIMIT 64),
       |st AS (SELECT max(h) AS kth, count(*) AS n FROM un),
       |ni AS (SELECT count(*) AS ni FROM un JOIN ka USING (h) JOIN kb USING (h)),
       |eu AS (SELECT CASE WHEN st.n < 64 THEN st.n::DOUBLE
       |              ELSE round(63.0 * 2147483647 / st.kth, 4) END AS est_union,
       |              st.n AS n, ni.ni AS ni FROM st, ni)
       |SELECT est_union, round(ni * est_union / n, 4) AS est_inter FROM eu""".stripMargin
  }

  /** q42 — single-source Brandes betweenness dependencies from region.0
    * ([[graft.enrich.Analytics.betweennessFromSource]]): the forward
    * σ/distance pass is q34's chain; the backward pass unrolls
    * depth levels of δ(v) = Σ (σv/σw)(1+δw) over the BFS-DAG edges,
    * round-to-10 per level. The oracle replays both passes. */
  val q42Betweenness: Q = (s, d) =>
    graft.enrich.Analytics.betweennessFromSource(
      GraphTables.hierarchy(s, d)
        .select(col("dst").as("src"), col("src").as("dst")),
      "region.0", depth = q22Iterations)

  val q42BetweennessSql: String = {
    val n = q22Iterations
    def back(lvl: Int): String = {
      val prev = if (lvl == n - 1) "bt_init" else s"bt${lvl + 1}"
      s"""bc$lvl AS MATERIALIZED (SELECT e.src AS v, round(sum(su.sig::DOUBLE / sw.sig * (1 + sw.delta)), 10) AS c
         |  FROM rev e JOIN $prev sw ON e.dst = sw.v AND sw.d = ${lvl + 1}
         |  JOIN sp$n su ON e.src = su.v AND su.d = $lvl
         |  GROUP BY e.src),
         |bt$lvl AS MATERIALIZED (SELECT b.v, b.d, b.sig,
         |  CASE WHEN b.d = $lvl THEN coalesce(c.c, 0.0) ELSE b.delta END AS delta
         |  FROM $prev b LEFT JOIN bc$lvl c ON b.v = c.v)""".stripMargin
    }
    s"""WITH ${GraphSql.hierarchyCte},
       |rev AS MATERIALIZED (SELECT dst AS src, src AS dst FROM hier),
       |sp0 AS MATERIALIZED (SELECT 'region.0' AS v, 0::BIGINT AS d, 1::BIGINT AS sig),
       |${(1 to n).map(spIterSql).mkString(",\n")},
       |bt_init AS (SELECT v, d, sig, 0.0 AS delta FROM sp$n),
       |${(n - 1 to 0 by -1).map(back).mkString(",\n")}
       |SELECT v, d, round(delta, 6) AS betweenness FROM bt0""".stripMargin
  }

  /** q46 — betweenness centrality over a LANDMARK set
    * ([[graft.enrich.Analytics.betweennessLandmarks]]): q42's complete
    * single-source Brandes (forward σ/d chain + backward δ pass) run per
    * landmark region and summed — the SURVEY "per-landmark parallel
    * runs" estimator. The oracle replays all three source chains under
    * prefixed CTE names and sums the per-source roundings. */
  val q46Btw: Q = (s, d) =>
    graft.enrich.Analytics.betweennessLandmarks(
      GraphTables.hierarchy(s, d)
        .select(col("dst").as("src"), col("src").as("dst")),
      Seq("region.0", "region.1", "region.2"), depth = q22Iterations)

  /** The GraphX scale path of q46
    * ([[graft.enrich.Analytics.betweennessLandmarksGraphX]]): fused
    * forward σ/d + backward δ Brandes with fixed-width per-landmark
    * array state — identical per-level roundings, so it shares q46's
    * oracle (the _gx twin discipline). */
  val q46BtwGx: Q = (s, d) =>
    graft.enrich.Analytics.betweennessLandmarksGraphX(s,
      GraphTables.hierarchy(s, d)
        .select(col("dst").as("src"), col("src").as("dst")),
      Seq("region.0", "region.1", "region.2"), depth = q22Iterations)

  /** The per-landmark Brandes forward/backward CTE chain (shared by
    * q46's vertex readout and q81's edge readout): each landmark pfx
    * ends in `${pfx}bt0` = the full (v, d, sig, delta) state. */
  private def brandesChainsSql(
      landmarks: Seq[(String, String)]): String = {
    val n = q22Iterations
    def spIter(pfx: String, source: String)(i: Int): String =
      s"""${pfx}spc$i AS MATERIALIZED (SELECT e.dst AS v, p.d + 1 AS d, p.sig
         |  FROM rev e JOIN ${pfx}sp${i - 1} p ON e.src = p.v WHERE e.dst <> '$source'),
         |${pfx}sp$i AS MATERIALIZED (SELECT '$source' AS v, 0::BIGINT AS d, 1::BIGINT AS sig
         |  UNION ALL
         |  SELECT c.v, c.d, sum(c.sig)::BIGINT AS sig FROM ${pfx}spc$i c
         |  JOIN (SELECT v, min(d) AS md FROM ${pfx}spc$i GROUP BY v) m ON c.v = m.v AND c.d = m.md
         |  GROUP BY c.v, c.d)""".stripMargin
    def back(pfx: String)(lvl: Int): String = {
      val prev = if (lvl == n - 1) s"${pfx}bt_init" else s"${pfx}bt${lvl + 1}"
      s"""${pfx}bc$lvl AS MATERIALIZED (SELECT e.src AS v, round(sum(su.sig::DOUBLE / sw.sig * (1 + sw.delta)), 10) AS c
         |  FROM rev e JOIN $prev sw ON e.dst = sw.v AND sw.d = ${lvl + 1}
         |  JOIN ${pfx}sp$n su ON e.src = su.v AND su.d = $lvl
         |  GROUP BY e.src),
         |${pfx}bt$lvl AS MATERIALIZED (SELECT b.v, b.d, b.sig,
         |  CASE WHEN b.d = $lvl THEN coalesce(c.c, 0.0) ELSE b.delta END AS delta
         |  FROM $prev b LEFT JOIN ${pfx}bc$lvl c ON b.v = c.v)""".stripMargin
    }
    def chain(pfx: String, source: String): String =
      s"""${(1 to n).map(spIter(pfx, source)).mkString(",\n")},
         |${pfx}bt_init AS (SELECT v, d, sig, 0.0 AS delta FROM ${pfx}sp$n),
         |${(n - 1 to 0 by -1).map(back(pfx)).mkString(",\n")}""".stripMargin
    landmarks.map { case (pfx, src) =>
      s"""${pfx}sp0 AS MATERIALIZED (SELECT '$src' AS v, 0::BIGINT AS d, 1::BIGINT AS sig),
         |${chain(pfx, src)}""".stripMargin
    }.mkString(",\n")
  }

  private val btwLandmarks =
    Seq("l0" -> "region.0", "l1" -> "region.1", "l2" -> "region.2")

  val q46BtwSql: String = {
    val union = btwLandmarks.map { case (pfx, src) =>
      s"SELECT v, round(delta, 6) AS b FROM ${pfx}bt0 WHERE v <> '$src'" }
      .mkString(" UNION ALL ")
    s"""WITH ${GraphSql.hierarchyCte},
       |rev AS MATERIALIZED (SELECT dst AS src, src AS dst FROM hier),
       |${brandesChainsSql(btwLandmarks)}
       |SELECT v, round(sum(b), 6) AS betweenness FROM ($union) GROUP BY v""".stripMargin
  }

  /** q81_ebtw — EDGE betweenness over the q46 landmark set
    * ([[graft.enrich.Analytics.edgeBetweennessLandmarks]], Girvan &
    * Newman 2002): per landmark, a DAG edge u→w (d_w = d_u + 1)
    * carries σ_u/σ_w·(1+δ_w) — one extra edge ⋈ state join over the
    * shared Brandes passes; the oracle reuses q46's per-landmark
    * chains and reads the edge terms off each final state. */
  val q81Ebtw: Q = (s, d) =>
    graft.enrich.Analytics.edgeBetweennessLandmarks(
      GraphTables.hierarchy(s, d)
        .select(col("dst").as("src"), col("src").as("dst")),
      Seq("region.0", "region.1", "region.2"), depth = q22Iterations)

  val q81EbtwSql: String = {
    val union = btwLandmarks.map { case (pfx, _) =>
      s"""SELECT e.src, e.dst,
         |  round(su.sig::DOUBLE / sw.sig * (1 + sw.delta), 10) AS c
         |FROM rev e
         |JOIN ${pfx}bt0 su ON e.src = su.v
         |JOIN ${pfx}bt0 sw ON e.dst = sw.v AND sw.d = su.d + 1""".stripMargin }
      .mkString("\nUNION ALL\n")
    s"""WITH ${GraphSql.hierarchyCte},
       |rev AS MATERIALIZED (SELECT dst AS src, src AS dst FROM hier),
       |${brandesChainsSql(btwLandmarks)}
       |SELECT src, dst, round(sum(c), 6) AS ebtw
       |FROM ($union) GROUP BY src, dst""".stripMargin
  }

  /** t_token_vote — the fastText-style curation classifier
    * ([[graft.pipeline.Corpus.tokenVoteClassifier]]): even doc_ids train
    * a per-token modal-label model from the langid weak labeler, odd
    * doc_ids are classified by majority token vote. Both argmaxes are
    * the deterministic two-level (max count, min label) pick on each
    * side. */
  val tTokenVote: Q = (s, d) =>
    graft.pipeline.Corpus.tokenVoteClassifier(Tables.documents(s, d),
      col("doc_id") % 2 === 0)

  val tTokenVoteSql: String =
    s"""WITH lab AS MATERIALIZED (SELECT doc_id, lang_guess AS lang FROM ($tLangIdSql)),
       |toks AS MATERIALIZED (SELECT doc_id, unnest(string_split($normSql, ' ')) AS term FROM documents),
       |model AS MATERIALIZED (SELECT t.term, l.lang, count(*) AS cnt FROM toks t JOIN lab l USING (doc_id)
       |  WHERE t.doc_id % 2 = 0 AND t.term <> '' GROUP BY t.term, l.lang),
       |vote AS (SELECT m.term, min(m.lang) AS vlang FROM model m
       |  JOIN (SELECT term, max(cnt) AS mc FROM model GROUP BY term) x ON m.term = x.term AND m.cnt = x.mc
       |  GROUP BY m.term),
       |scored AS (SELECT t.doc_id, v.vlang, count(*) AS n FROM toks t JOIN vote v ON t.term = v.term
       |  WHERE t.doc_id % 2 = 1 AND t.term <> '' GROUP BY t.doc_id, v.vlang)
       |SELECT s.doc_id, min(s.vlang) AS pred_lang FROM scored s
       |JOIN (SELECT doc_id, max(n) AS mn FROM scored GROUP BY doc_id) y ON s.doc_id = y.doc_id AND s.n = y.mn
       |GROUP BY s.doc_id""".stripMargin

  /** s_kmeans — full Lloyd k-means training, 2 iterations
    * ([[graft.pipeline.Similarity.kMeansCentroids]]): deterministic
    * fixed-count seeds (centroidSeeds nlist=8 — k is constant in corpus
    * size), rounded-cosine assignment (ties → lowest
    * cid), decimal-exact dim-wise mean update. The oracle replays both
    * iterations — assignment, mean, re-assignment, mean — bit-identically
    * thanks to the round-to-4 quantization at every float boundary. */
  /** s_ivfpq_ann — IVF-PQ composed ANN top-10 for query vectors 0–4
    * ([[graft.pipeline.Similarity.ivfPqTopK]]): IVF cells prune the
    * candidate space (8 probes), PQ-ADC ranks the survivors (4×16
    * codebooks), exact cosine re-ranks the shortlist — the FAISS IVFPQ
    * layout as one declarative plan. The oracle replays the whole
    * composition, so the gate is algorithmic equality, not recall. */
  val sIvfPqAnn: Q = (s, d) =>
    // r12: all four model artifacts persisted (index, centroids, books,
    // codes); the search does only query-bounded work
    Similarity.ivfPqTopKIndexed(GraphTables.ivfIndex16(s, d),
      GraphTables.ivfCents16(s, d), GraphTables.pqEnc4x16(s, d),
      GraphTables.pqBooks4x16(s, d), Tables.embeddings(s, d),
      Seq(0L, 1L, 2L, 3L, 4L), 10, nprobe = 8, m = 4, subDim = 16,
      shortlist = 60)

  lazy val sIvfPqAnnSql: String = {
    def rdotOf(a: String, b: String, dim: Int): String =
      s"round(list_reduce(list_prepend(0.0, list_transform(range(1, ${dim + 1}), i -> $a[i] * $b[i])), (x, y) -> x + y), 4)"
    val normSqlE = "sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)), (a, y) -> a + y))"
    s"""WITH cents AS ${centsSql(16)},
       |assigned AS MATERIALIZED (SELECT vec_id, cid FROM (
       |  SELECT e.vec_id, c.cid,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosOf("e.embedding", "c.cv")} DESC, c.cid) AS crank
       |  FROM embeddings e CROSS JOIN cents c) WHERE crank = 1),
       |probes AS (SELECT query_id, cid FROM (
       |  SELECT qq.vec_id AS query_id, c.cid,
       |    row_number() OVER (PARTITION BY qq.vec_id ORDER BY ${cosOf("qq.embedding", "c.cv")} DESC, c.cid) AS prank
       |  FROM embeddings qq CROSS JOIN cents c WHERE qq.vec_id IN (0,1,2,3,4)) WHERE prank <= 8),
       |cand AS (SELECT p.query_id, a.vec_id
       |  FROM assigned a JOIN probes p ON a.cid = p.cid WHERE a.vec_id <> p.query_id),
       |subs AS MATERIALIZED (
       |  SELECT vec_id, ss.sub AS sub,
       |    list_transform(list_slice(embedding, ss.sub*16 + 1, ss.sub*16 + 16), x -> round(x::DOUBLE / $normSqlE, 4)) AS sv
       |  FROM embeddings CROSS JOIN (SELECT unnest(range(0, 4)) AS sub) ss),
       |sids AS (SELECT vec_id FROM embeddings ORDER BY $rollhVecId, vec_id LIMIT 16),
       |seeds AS (SELECT sub, s.vec_id AS cid, sv AS cv FROM subs s JOIN sids USING (vec_id)),
       |a1 AS MATERIALIZED (SELECT sub, vec_id, sv, cid FROM (
       |  SELECT s.sub, s.vec_id, s.sv, c.cid,
       |    row_number() OVER (PARTITION BY s.sub, s.vec_id ORDER BY ${rdotOf("s.sv", "c.cv", 16)} DESC, c.cid) AS rk
       |  FROM subs s JOIN seeds c ON s.sub = c.sub) WHERE rk = 1),
       |m1 AS (SELECT sub, cid, dim, round(CAST(sum(CAST(v AS DECIMAL(25,10))) AS DOUBLE) / count(*), 4) AS mv
       |  FROM (SELECT sub, cid, unnest(range(0, 16)) AS dim, unnest(sv) AS v FROM a1) GROUP BY 1, 2, 3),
       |books AS MATERIALIZED (SELECT sub, cid, array_agg(mv ORDER BY dim) AS cv FROM m1 GROUP BY 1, 2),
       |enc AS MATERIALIZED (SELECT sub, vec_id, cid AS code FROM (
       |  SELECT s.sub, s.vec_id, c.cid,
       |    row_number() OVER (PARTITION BY s.sub, s.vec_id ORDER BY ${rdotOf("s.sv", "c.cv", 16)} DESC, c.cid) AS rk
       |  FROM subs s JOIN books c ON s.sub = c.sub) WHERE rk = 1),
       |lut AS (SELECT q.sub, q.vec_id AS query_id, c.cid AS code, ${rdotOf("q.sv", "c.cv", 16)} AS part
       |  FROM subs q JOIN books c ON q.sub = c.sub WHERE q.vec_id IN (0, 1, 2, 3, 4)),
       |short AS (SELECT query_id, vec_id FROM (
       |  SELECT cd.query_id, cd.vec_id, round(sum(l.part), 4) AS adc,
       |    row_number() OVER (PARTITION BY cd.query_id ORDER BY round(sum(l.part), 4) DESC, cd.vec_id) AS srank
       |  FROM cand cd JOIN enc e ON e.vec_id = cd.vec_id
       |    JOIN lut l ON e.sub = l.sub AND e.code = l.code AND l.query_id = cd.query_id
       |  GROUP BY cd.query_id, cd.vec_id) WHERE srank <= 60)
       |SELECT s.query_id, s.vec_id, ${cosOf("q.embedding", "c.embedding")} AS sim,
       |  CAST(row_number() OVER (PARTITION BY s.query_id ORDER BY ${cosOf("q.embedding", "c.embedding")} DESC, s.vec_id) AS INT) AS rank
       |FROM short s JOIN embeddings q ON q.vec_id = s.query_id
       |  JOIN embeddings c ON c.vec_id = s.vec_id
       |QUALIFY rank <= 10""".stripMargin
  }

  /** s_pq_ann — product-quantized ANN top-10 for query vectors 0–4
    * ([[graft.pipeline.Similarity.pqTopK]]): 4 subspaces × 16 dims,
    * codebooks seeded by the fixed-count centroidSeeds rule (ksub=16
    * entries per book, constant in corpus size) and refined by one
    * decimal-exact
    * Lloyd round, rounded-dot ADC shortlist, exact cosine re-rank. The
    * oracle replays training, encoding, the LUT sum, and the re-rank. */
  val sPqAnn: Q = (s, d) =>
    // r12: persisted codebooks + code table; only the query LUT and the
    // ADC sum run per search (pqTopK still trains live in SimilaritySpec)
    Similarity.pqTopKIndexed(Tables.embeddings(s, d),
      GraphTables.pqEnc4x16(s, d), GraphTables.pqBooks4x16(s, d),
      Seq(0L, 1L, 2L, 3L, 4L), 10, m = 4, subDim = 16, shortlist = 100)

  private def pqAnnSqlWith(trainWhere: String): String = {
    def rdotOf(a: String, b: String, dim: Int): String =
      s"round(list_reduce(list_prepend(0.0, list_transform(range(1, ${dim + 1}), i -> $a[i] * $b[i])), (x, y) -> x + y), 4)"
    val normSqlE = "sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)), (a, y) -> a + y))"
    s"""WITH subs AS MATERIALIZED (
       |  SELECT vec_id, ss.sub AS sub,
       |    list_transform(list_slice(embedding, ss.sub*16 + 1, ss.sub*16 + 16), x -> round(x::DOUBLE / $normSqlE, 4)) AS sv
       |  FROM embeddings CROSS JOIN (SELECT unnest(range(0, 4)) AS sub) ss),
       |sids AS (SELECT vec_id FROM embeddings $trainWhere ORDER BY $rollhVecId, vec_id LIMIT 16),
       |seeds AS (SELECT sub, s.vec_id AS cid, sv AS cv FROM subs s JOIN sids USING (vec_id)),
       |a1 AS MATERIALIZED (SELECT sub, vec_id, sv, cid FROM (
       |  SELECT s.sub, s.vec_id, s.sv, c.cid,
       |    row_number() OVER (PARTITION BY s.sub, s.vec_id ORDER BY ${rdotOf("s.sv", "c.cv", 16)} DESC, c.cid) AS rk
       |  FROM subs s JOIN seeds c ON s.sub = c.sub ${if (trainWhere.isEmpty) "" else trainWhere.replace("vec_id", "s.vec_id")}) WHERE rk = 1),
       |m1 AS (SELECT sub, cid, dim, round(CAST(sum(CAST(v AS DECIMAL(25,10))) AS DOUBLE) / count(*), 4) AS mv
       |  FROM (SELECT sub, cid, unnest(range(0, 16)) AS dim, unnest(sv) AS v FROM a1) GROUP BY 1, 2, 3),
       |books AS MATERIALIZED (SELECT sub, cid, array_agg(mv ORDER BY dim) AS cv FROM m1 GROUP BY 1, 2),
       |enc AS MATERIALIZED (SELECT sub, vec_id, cid AS code FROM (
       |  SELECT s.sub, s.vec_id, c.cid,
       |    row_number() OVER (PARTITION BY s.sub, s.vec_id ORDER BY ${rdotOf("s.sv", "c.cv", 16)} DESC, c.cid) AS rk
       |  FROM subs s JOIN books c ON s.sub = c.sub) WHERE rk = 1),
       |lut AS (SELECT q.sub, q.vec_id AS query_id, c.cid AS code, ${rdotOf("q.sv", "c.cv", 16)} AS part
       |  FROM subs q JOIN books c ON q.sub = c.sub WHERE q.vec_id IN (0, 1, 2, 3, 4)),
       |short AS (SELECT query_id, vec_id FROM (
       |  SELECT l.query_id, e.vec_id, round(sum(l.part), 4) AS adc,
       |    row_number() OVER (PARTITION BY l.query_id ORDER BY round(sum(l.part), 4) DESC, e.vec_id) AS srank
       |  FROM enc e JOIN lut l ON e.sub = l.sub AND e.code = l.code
       |  WHERE e.vec_id <> l.query_id
       |  GROUP BY l.query_id, e.vec_id) WHERE srank <= 100)
       |SELECT s.query_id, s.vec_id, ${cosOf("q.embedding", "c.embedding")} AS sim,
       |  CAST(row_number() OVER (PARTITION BY s.query_id ORDER BY ${cosOf("q.embedding", "c.embedding")} DESC, s.vec_id) AS INT) AS rank
       |FROM short s JOIN embeddings q ON q.vec_id = s.query_id
       |  JOIN embeddings c ON c.vec_id = s.vec_id
       |QUALIFY rank <= 10""".stripMargin
  }

  val sPqAnnSql: String = pqAnnSqlWith("")

  /** s_pq_inc — INCREMENTAL PQ code refresh + ADC search (r13): the
    * persisted previous-corpus books/codes ([[GraphTables.pqBooksPrev]]/
    * `pqEncPrev`) absorb only the 2% delta via
    * [[graft.pipeline.Similarity.pqEncodeRefresh]] (anti-join +
    * broadcast-probe encode of the arriving vectors), then the same
    * ADC shortlist + exact re-rank as s_pq_ann. Refresh ≡ encoding the
    * whole corpus against the previous books (per-vector
    * deterministic); the oracle replays that, with TRAINING pinned to
    * the previous corpus. */
  val sPqInc: Q = (s, d) =>
    Similarity.pqTopKIndexed(Tables.embeddings(s, d),
      Similarity.pqEncodeRefresh(GraphTables.pqEncPrev(s, d),
        Tables.embeddings(s, d), GraphTables.pqBooksPrev(s, d)),
      GraphTables.pqBooksPrev(s, d),
      Seq(0L, 1L, 2L, 3L, 4L), 10, m = 4, subDim = 16, shortlist = 100)

  val sPqIncSql: String =
    pqAnnSqlWith(s"WHERE vec_id % ${GraphTables.annDeltaMod} <> 0")

  /** s_kcenter — Gonzalez farthest-first k-center diversity selection
    * ([[graft.pipeline.Similarity.kCenterSelect]]): seed = min vec_id,
    * then 7 rounds of "pick the point least similar to its nearest
    * chosen center" (round-4 cosine, vec_id tie-break). The oracle
    * replays every round as a chained MATERIALIZED CTE (the s_mmr
    * discipline — un-materialized multi-reference CTEs re-inline
    * exponentially in DuckDB). */
  val sKcenter: Q = (s, d) =>
    Similarity.kCenterSelect(Tables.embeddings(s, d), k = 8)

  val sKcenterSql: String = {
    val rounds = (1 until 8).map { i =>
      s"""ms$i AS MATERIALIZED (SELECT e.vec_id, max(${cosOf("e.embedding", "c.embedding")}) AS s
         |  FROM embeddings e, cen${i - 1} cn, embeddings c
         |  WHERE c.vec_id = cn.vec_id
         |    AND e.vec_id NOT IN (SELECT vec_id FROM cen${i - 1})
         |  GROUP BY e.vec_id),
         |p$i AS (SELECT $i AS r, vec_id, s FROM ms$i
         |  ORDER BY s ASC, vec_id ASC LIMIT 1),
         |cen$i AS MATERIALIZED (SELECT vec_id FROM cen${i - 1}
         |  UNION ALL SELECT vec_id FROM p$i)""".stripMargin
    }.mkString(",\n")
    val union = (1 until 8)
      .map(i => s"SELECT r, vec_id, s FROM p$i").mkString("\nUNION ALL ")
    s"""WITH p0 AS (SELECT 0 AS r, min(vec_id) AS vec_id,
       |    NULL::DOUBLE AS s FROM embeddings),
       |cen0 AS MATERIALIZED (SELECT vec_id FROM p0),
       |$rounds
       |SELECT r::INT AS sel_round, vec_id, s AS max_sim
       |FROM (SELECT r, vec_id, s FROM p0
       |UNION ALL $union)""".stripMargin
  }

  /** s_kmeanspar — k-means|| scalable initialization
    * ([[graft.pipeline.Similarity.kmeansParInit]], Bahmani et al. 2012):
    * 2 oversampling rounds at l=8 from the deterministic 1-seed (LCG
    * coin vs l·d²/φ, φ a decimal sum), cell-count weights, then a
    * deterministic weighted greedy k-center picks the final 8. The
    * oracle unrolls both sampling rounds and all 7 greedy picks as
    * chained MATERIALIZED CTEs. */
  val sKmeansPar: Q = (s, d) =>
    Similarity.kmeansParInit(Tables.embeddings(s, d), k = 8, l = 8,
      rounds = 2)

  val sKmeansParSql: String = {
    def d2Of(cand: String, out: String, pout: String) =
      s"""$out AS MATERIALIZED (SELECT e.vec_id,
         |    1 - max(${cosOf("e.embedding", "c.embedding")}) AS d2
         |  FROM embeddings e CROSS JOIN embeddings c
         |  WHERE c.vec_id IN (SELECT cid FROM $cand)
         |  GROUP BY e.vec_id),
         |$pout AS MATERIALIZED (SELECT round(CAST(sum(CAST(d2 AS DECIMAL(25,10))) AS DOUBLE), 4) AS phi FROM $out)""".stripMargin
    def sampleRound(r: Int, prev: String, dT: String, pT: String, out: String) =
      s"""$out AS MATERIALIZED (SELECT cid FROM $prev UNION
         |  SELECT d.vec_id FROM $dT d, $pT p
         |  WHERE (((d.vec_id * 1103515245 + ${12345L * r}) % 2147483647) % 1000000)::DOUBLE * p.phi
         |    < 8000000.0 * d.d2)""".stripMargin
    val greedy = (1 until 8).map { i =>
      s"""g$i AS MATERIALIZED (SELECT w.cid, $i AS r FROM wt w
         |  WHERE w.cid NOT IN (SELECT cid FROM ch${i - 1})
         |  ORDER BY w.w * (1 - (SELECT max(s.s) FROM s
         |    WHERE s.ca = w.cid AND s.cb IN (SELECT cid FROM ch${i - 1}))) DESC,
         |    w.cid ASC LIMIT 1),
         |ch$i AS MATERIALIZED (SELECT cid, r FROM ch${i - 1} UNION ALL SELECT cid, r FROM g$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH c0 AS MATERIALIZED (SELECT vec_id AS cid FROM embeddings ORDER BY $rollhVecId, vec_id LIMIT 1),
       |${d2Of("c0", "d1", "p1")},
       |${sampleRound(1, "c0", "d1", "p1", "c1")},
       |${d2Of("c1", "d2_", "p2")},
       |${sampleRound(2, "c1", "d2_", "p2", "c2")},
       |asg AS MATERIALIZED (SELECT vec_id, cid FROM (
       |  SELECT e.vec_id, c.vec_id AS cid,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cosOf("e.embedding", "c.embedding")} DESC, c.vec_id) AS rk
       |  FROM embeddings e CROSS JOIN embeddings c
       |  WHERE c.vec_id IN (SELECT cid FROM c2)) WHERE rk = 1),
       |wt AS MATERIALIZED (SELECT c2.cid, coalesce(n.cnt, 0)::BIGINT AS w
       |  FROM c2 LEFT JOIN (SELECT cid, count(*)::BIGINT AS cnt FROM asg GROUP BY 1) n
       |  ON n.cid = c2.cid),
       |s AS MATERIALIZED (SELECT a.vec_id AS ca, b.vec_id AS cb,
       |    ${cosOf("a.embedding", "b.embedding")} AS s
       |  FROM embeddings a CROSS JOIN embeddings b
       |  WHERE a.vec_id IN (SELECT cid FROM c2) AND b.vec_id IN (SELECT cid FROM c2)),
       |ch0 AS MATERIALIZED (SELECT cid, 0 AS r FROM wt ORDER BY w DESC, cid ASC LIMIT 1),
       |$greedy
       |SELECT w.cid, w.w, coalesce(ch.r, -1)::INT AS sel_round
       |FROM wt w LEFT JOIN ch7 ch ON ch.cid = w.cid""".stripMargin
  }

  val sKmeans: Q = (s, d) =>
    Similarity.kMeansCentroids(Tables.embeddings(s, d),
      nlist = 8, iterations = 2)

  val sKmeansSql: String = {
    def assign(ci: String, out: String) =
      s"""$out AS MATERIALIZED (SELECT cid, embedding FROM (
         |  SELECT e.embedding, c.cid,
         |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosOf("e.embedding", "c.cv")} DESC, c.cid) AS rk
         |  FROM embeddings e CROSS JOIN $ci c) WHERE rk = 1)""".stripMargin
    // `round(…) + 0.0` forces any `-0.0` (tiny negative component mean,
    // sign preserved by DuckDB's round but not Spark's) to `+0.0`.
    def meanOf(ai: String, out: String) =
      s"""$out AS MATERIALIZED (SELECT cid, dim, round(CAST(sum(CAST(v AS DECIMAL(25,10))) AS DOUBLE) / count(*), 4) + 0.0 AS mean_v
         |FROM (SELECT cid, unnest(range(0, 64)) AS dim, unnest(embedding)::DOUBLE AS v FROM $ai) GROUP BY cid, dim)""".stripMargin
    s"""WITH c0 AS (SELECT vec_id AS cid, list_transform(embedding, x -> round(x::DOUBLE, 4)) AS cv FROM embeddings ORDER BY $rollhVecId, vec_id LIMIT 8),
       |${assign("c0", "a1")},
       |${meanOf("a1", "m1")},
       |c1 AS (SELECT cid, array_agg(mean_v ORDER BY dim) AS cv FROM m1 GROUP BY cid),
       |${assign("c1", "a2")},
       |${meanOf("a2", "m2")}
       |SELECT cid, dim::BIGINT AS dim, mean_v FROM m2""".stripMargin
  }

  /** p_dsir — DSIR-style importance-resampling selection
    * ([[graft.pipeline.Corpus.dsirSelect]]): hashed unigram+bigram
    * bag-of-words models of the target slice (sources src0/src1) vs
    * the raw corpus, Laplace-smoothed log-ratio per bucket, per-doc
    * weight = Σ n_b·ratio_b through DECIMAL, top-50 by weight. The
    * oracle replays the identical rolling-hash bucketing and
    * fixed-point fold; its final rounded weight appends `+ 0.0` (the
    * zero-sign invariant — weights are signed). */
  val pDsir: Q = (s, d) =>
    graft.pipeline.Corpus.dsirSelect(Tables.documents(s, d),
      col("source").isin("src0", "src1"))

  private def rollhOf(c: String) = "list_reduce(list_prepend(0::BIGINT, " +
    s"list_transform(string_split($c, ''), ch -> ascii(ch)::BIGINT)), " +
    "(a, ch) -> (a * 31 + ch) % 2147483647)"

  /** The DSIR weight CTE chain (… → `wt(doc_id, weight)`), shared by
    * the ranking and the Gumbel-sampling gates. */
  private lazy val dsirWeightsCte: String =
    s"""tk AS (SELECT doc_id, source,
       |    CASE WHEN length($normSql) = 0 THEN []::VARCHAR[]
       |         ELSE string_split($normSql, ' ') END AS ts FROM documents),
       |feats AS (
       |  SELECT doc_id, source, unnest(ts) AS f FROM tk
       |  UNION ALL
       |  SELECT doc_id, source, unnest(list_transform(range(1, len(ts)),
       |    i -> ts[i] || chr(1) || ts[i + 1])) AS f FROM tk),
       |fb AS (SELECT doc_id, source, ${rollhOf("f")} % 64 AS b FROM feats
       |  WHERE length(f) > 0),
       |docb AS (SELECT doc_id, b, count(*)::DECIMAL(12,0) AS n
       |  FROM fb GROUP BY 1, 2),
       |srcb AS (SELECT b, count(*) AS cs,
       |    sum(CASE WHEN source IN ('src0', 'src1') THEN 1 ELSE 0 END) AS ct
       |  FROM fb GROUP BY b),
       |tots AS (SELECT sum(cs) AS ts, sum(ct) AS tt FROM srcb),
       |ratio AS (SELECT b,
       |    CAST(round(ln((ct + 1)::DOUBLE / (tt + 64))
       |      - ln((cs + 1)::DOUBLE / (ts + 64)), 6) AS DECIMAL(18,6)) AS r
       |  FROM srcb, tots),
       |wt AS (SELECT doc_id,
       |    round(CAST(sum(n * r) AS DOUBLE), 4) + 0.0 AS weight
       |  FROM docb JOIN ratio USING (b) GROUP BY doc_id)""".stripMargin

  lazy val pDsirSql: String =
    s"""WITH $dsirWeightsCte
       |SELECT doc_id, weight,
       |  CAST(row_number() OVER (ORDER BY weight DESC, doc_id) AS INT) AS rank
       |FROM wt
       |QUALIFY rank <= 50""".stripMargin

  /** p_dsir_sample — GUMBEL-TOP-K sampling over the DSIR weights
    * ([[graft.pipeline.Corpus.gumbelTopK]]): deterministic
    * hash-uniform u per doc, Gumbel noise −ln(−ln(u)), key =
    * weight + g, top-50 — the without-replacement ∝exp(weight)
    * sampling DSIR ships, seeded so every engine draws the SAME
    * sample. */
  val pDsirSample: Q = (s, d) =>
    graft.pipeline.Corpus.gumbelTopK(
      graft.pipeline.Corpus.dsirWeights(Tables.documents(s, d),
        col("source").isin("src0", "src1")))

  lazy val pDsirSampleSql: String =
    s"""WITH $dsirWeightsCte,
       |keyed AS (SELECT doc_id,
       |    round(weight + (-ln(-ln(
       |      (${rollhOf("'gum:' || doc_id")} + 1)::DOUBLE / 2147483648.0
       |    ))), 6) + 0.0 AS key
       |  FROM wt)
       |SELECT doc_id, key,
       |  CAST(row_number() OVER (ORDER BY key DESC, doc_id) AS INT) AS rank
       |FROM keyed
       |QUALIFY rank <= 50""".stripMargin

  /** t_sweep — quality-threshold calibration sweep
    * ([[graft.pipeline.Corpus.thresholdSweep]]): per candidate cutoff
    * i/10, the doc and token mass surviving `quality >= cutoff` — the
    * table a pipeline reads before choosing its filter threshold. One
    * histogram pass + a 10-row reverse cumulative window. */
  val tSweep: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    graft.pipeline.Corpus.thresholdSweep(docs,
      graft.functions.TextFunctions.qualityScore(col("text")),
      graft.functions.TextFunctions.tokenCount(col("text")))
  }

  lazy val tSweepSql: String = {
    val nTok = s"CASE WHEN length($normSql) = 0 THEN 0 ELSE len(string_split($normSql, ' ')) END"
    s"""WITH scored AS (SELECT least(greatest(CAST(floor($qualityExprSql * 10) AS INT), 0), 9) AS bin,
       |    $nTok::BIGINT AS w FROM documents),
       |hist AS (SELECT a.bin, count(s.bin)::BIGINT AS n,
       |    coalesce(sum(s.w), 0)::BIGINT AS tok
       |  FROM (SELECT unnest(range(0, 10))::INT AS bin) a
       |  LEFT JOIN scored s ON s.bin = a.bin GROUP BY a.bin),
       |tot AS (SELECT sum(n) AS tn, greatest(sum(tok), 1) AS ttok FROM hist),
       |cum AS (SELECT bin,
       |    sum(n) OVER (ORDER BY bin DESC) AS n_kept,
       |    sum(tok) OVER (ORDER BY bin DESC) AS tokens_kept
       |  FROM hist)
       |SELECT round(bin::DOUBLE / 10, 2) AS threshold,
       |  n_kept::BIGINT AS n_kept,
       |  round(n_kept::DOUBLE / greatest(tn, 1), 6) AS frac_kept,
       |  tokens_kept::BIGINT AS tokens_kept,
       |  round(tokens_kept::DOUBLE / ttok, 6) AS token_frac
       |FROM cum, tot""".stripMargin
  }

  /** d_incremental — continuous-ingestion dedup
    * ([[graft.pipeline.Dedup.incremental]]): the odd-doc_id half plays
    * the arriving batch, the even half the already-ingested base; one
    * fingerprint anti-join screens the batch against the base, then the
    * within-batch exact-dedup groupBy. */
  val dIncremental: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    graft.pipeline.Dedup.incremental(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1))
  }

  val dIncrementalSql: String =
    s"""WITH fp AS (SELECT doc_id, md5($normSql) AS fp FROM documents),
       |batch AS (SELECT doc_id, fp FROM fp WHERE doc_id % 2 = 1)
       |SELECT b.fp, min(b.doc_id) AS keeper_id, count(*) AS batch_dups
       |FROM batch b
       |WHERE NOT EXISTS (SELECT 1 FROM fp WHERE doc_id % 2 = 0 AND fp.fp = b.fp)
       |GROUP BY b.fp""".stripMargin

  /** d_bloom — Bloom-gated incremental dedup
    * ([[graft.pipeline.Dedup.bloomDedup]]): base = even doc_ids collapse
    * to a replayable 4096-bit k=2 filter; odd-doc_id batch docs carry
    * both the Bloom verdict and the exact one. The oracle rebuilds the
    * filter bit-for-bit (the rolling hash is engine-portable). */
  val dBloom: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    Dedup.bloomDedup(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1))
  }

  /** d_bloom_screen — the SCREEN-ONLY Bloom path, the shape production
    * runs per ingest batch ([[graft.pipeline.Dedup.bloomScreen]]): probe
    * the PERSISTED bit-set derived table ([[GraphTables.bloomBits4096]],
    * built once per corpus version) with two broadcast joins — the batch
    * never shuffles and the base is never touched (PlanShapeSpec pins
    * zero hash Exchange). The oracle rebuilds the same filter from the
    * base (its luxury at test scale). */
  val dBloomScreen: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    Dedup.bloomScreen(GraphTables.bloomBits4096(s, d),
        docs.filter(col("doc_id") % 2 === 1))
      .select(col("doc_id"), col("maybe_dup"))
  }

  private lazy val rollhNorm: String = rollhOf(s"($normSql)")

  lazy val dBloomSql: String =
    s"""WITH fp AS (SELECT doc_id, $rollhNorm AS h FROM documents),
       |base AS MATERIALIZED (SELECT h FROM fp WHERE doc_id % 2 = 0),
       |bits AS MATERIALIZED (SELECT DISTINCT bit FROM (
       |  SELECT h % 4096 AS bit FROM base
       |  UNION ALL
       |  SELECT ((h * 1103515245 + 12345) % 2147483647) % 4096 FROM base)),
       |b AS (SELECT doc_id, h, h % 4096 AS b1,
       |    ((h * 1103515245 + 12345) % 2147483647) % 4096 AS b2
       |  FROM fp WHERE doc_id % 2 = 1)
       |SELECT doc_id,
       |  (CASE WHEN EXISTS (SELECT 1 FROM bits WHERE bit = b.b1)
       |         AND EXISTS (SELECT 1 FROM bits WHERE bit = b.b2)
       |        THEN 1 ELSE 0 END)::INT AS maybe_dup,
       |  (CASE WHEN EXISTS (SELECT 1 FROM base WHERE base.h = b.h)
       |        THEN 1 ELSE 0 END)::INT AS true_dup
       |FROM b""".stripMargin

  lazy val dBloomScreenSql: String =
    s"""WITH fp AS (SELECT doc_id, $rollhNorm AS h FROM documents),
       |base AS MATERIALIZED (SELECT h FROM fp WHERE doc_id % 2 = 0),
       |bits AS MATERIALIZED (SELECT DISTINCT bit FROM (
       |  SELECT h % 4096 AS bit FROM base
       |  UNION ALL
       |  SELECT ((h * 1103515245 + 12345) % 2147483647) % 4096 FROM base)),
       |b AS (SELECT doc_id, h % 4096 AS b1,
       |    ((h * 1103515245 + 12345) % 2147483647) % 4096 AS b2
       |  FROM fp WHERE doc_id % 2 = 1)
       |SELECT doc_id,
       |  (CASE WHEN EXISTS (SELECT 1 FROM bits WHERE bit = b.b1)
       |         AND EXISTS (SELECT 1 FROM bits WHERE bit = b.b2)
       |        THEN 1 ELSE 0 END)::INT AS maybe_dup
       |FROM b""".stripMargin

  /** p_zorder — Z-order clustering key over (n_chars, lang)
    * ([[graft.ops.Layout]]): 8-bit equal-width length buckets interleaved
    * with 8-bit language-hash buckets into a 16-bit Morton key — the
    * multi-dimensional layout key a 100 TB corpus is range-partitioned
    * and sorted by so BOTH `lang =` and `n_chars BETWEEN` predicates
    * prune row groups. Integer arithmetic end to end; the oracle replays
    * the interleave bit by bit. */
  val pZorder: Q = (s, d) => {
    import graft.ops.Layout
    val a = Layout.intBucket(col("n_chars"), width = 64, bits = 8)
    val b = TextFunctions.rollingHash(col("lang")) % 256
    Tables.documents(s, d)
      .select(col("doc_id"), Layout.zorderKey(a, b, bits = 8).as("zkey"))
  }

  val pZorderSql: String = {
    val rollh = "list_reduce(list_prepend(0::BIGINT, list_transform(" +
      "string_split(lang, ''), c -> ascii(c)::BIGINT)), " +
      "(a, c) -> (a * 31 + c) % 2147483647)"
    s"""WITH k AS (SELECT doc_id,
       |  least(255, n_chars // 64) AS a, $rollh % 256 AS b FROM documents)
       |SELECT doc_id, list_sum(list_transform(range(0, 8), i ->
       |  (((a >> i) & 1) << (2*i)) + (((b >> i) & 1) << (2*i + 1))))::BIGINT AS zkey
       |FROM k""".stripMargin
  }

  /** p_hilbert — HILBERT clustering key over the same (n_chars, lang)
    * buckets as p_zorder ([[graft.ops.Layout.hilbertKey]]): consecutive
    * keys are grid-adjacent, so key ranges cover compact 2-D regions —
    * tighter row-group pruning than Morton for the same sort. The
    * oracle replays the rotate/reflect walk as a RECURSIVE CTE (the
    * e_holt discipline — DuckDB's list_reduce aliases multi-field
    * struct accumulators, so the non-commutative fold must recurse). */
  val pHilbert: Q = (s, d) => {
    import graft.ops.Layout
    val a = Layout.intBucket(col("n_chars"), width = 64, bits = 8)
    val b = TextFunctions.rollingHash(col("lang")) % 256
    Tables.documents(s, d)
      .select(col("doc_id"), Layout.hilbertKey(a, b, bits = 8).as("hkey"))
  }

  val pHilbertSql: String = {
    val rollh = "list_reduce(list_prepend(0::BIGINT, list_transform(" +
      "string_split(lang, ''), c -> ascii(c)::BIGINT)), " +
      "(a, c) -> (a * 31 + c) % 2147483647)"
    s"""WITH RECURSIVE k AS (SELECT doc_id,
       |  least(255, n_chars // 64)::BIGINT AS x, ($rollh % 256)::BIGINT AS y
       |  FROM documents),
       |h AS (
       |  SELECT doc_id, x, y, 0::BIGINT AS d, 128::BIGINT AS s FROM k
       |  UNION ALL
       |  SELECT doc_id,
       |    CASE WHEN (y & s) = 0 THEN
       |      (CASE WHEN (x & s) > 0 THEN 255 - y ELSE y END) ELSE x END,
       |    CASE WHEN (y & s) = 0 THEN
       |      (CASE WHEN (x & s) > 0 THEN 255 - x ELSE x END) ELSE y END,
       |    d + s * s * xor(CASE WHEN (x & s) > 0 THEN 3 ELSE 0 END,
       |                    CASE WHEN (y & s) > 0 THEN 1 ELSE 0 END),
       |    s // 2
       |  FROM h WHERE s > 0)
       |SELECT doc_id, d AS hkey FROM h WHERE s = 0""".stripMargin
  }

  // ------------------------------------------------------- multimodal gate

  /** m_headers — the multimodal header-parsing pillar under the oracle
    * gate. Deterministic synthetic payloads are assembled IN-PLAN from
    * integer columns (codegen'd `concat`/`unhex`/`lpad` over binary
    * literals — a spelling independent of the byte-loop parsers, so an
    * endianness or offset bug on either side mismatches the arithmetic
    * oracle): doc_id%3 routes each document to a 24-byte PNG
    * signature+IHDR, a 44-byte WAV RIFF/fmt/data header chain, or a
    * 13-byte JPEG SOI+SOF0+EOI. [[graft.multimodal.Multimodal]] then
    * sniffs the container ([[Multimodal.sniffFormat]]) and walks the
    * headers ([[Multimodal.withHeaderMeta]]/[[Multimodal.withAudioMeta]]);
    * the DuckDB oracle predicts every parsed field arithmetically from
    * doc_id. Narrow maps only — no shuffle, scale-free. */
  /** The synthetic PNG/WAV/JPEG payload column shared by the multimodal
    * gates: doc_id%3 routes the format, every field is doc_id
    * arithmetic, and the build spelling (hex/unhex/concat) is
    * independent of the byte-walk parsers. */
  private def syntheticMediaPayload(id: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val w = (id % 1920 + 16).cast("int")
    val h = (id % 1080 + 16).cast("int")
    val ch = (id % 2 + 1).cast("int")
    val rate = (id % 5 * 8000 + 8000).cast("int")
    val secs = id % 30 + 1
    def be32(c: org.apache.spark.sql.Column) =
      unhex(lpad(hex(c.cast("long")), 8, "0"))
    def be16(c: org.apache.spark.sql.Column) =
      unhex(lpad(hex(c.cast("long")), 4, "0"))
    def le32(c: org.apache.spark.sql.Column) = {
      val hx = lpad(hex(c.cast("long")), 8, "0")
      unhex(concat(substring(hx, 7, 2), substring(hx, 5, 2),
        substring(hx, 3, 2), substring(hx, 1, 2)))
    }
    def le16(c: org.apache.spark.sql.Column) = {
      val hx = lpad(hex(c.cast("long")), 4, "0")
      unhex(concat(substring(hx, 3, 2), substring(hx, 1, 2)))
    }
    def b(bytes: Int*) = lit(bytes.map(_.toByte).toArray)
    val png = concat(b(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a),
      be32(lit(13)), lit("IHDR".getBytes), be32(w), be32(h))
    val byteRate = rate.cast("long") * ch.cast("long") * lit(2L) // 16-bit PCM
    val dataLen = byteRate * secs
    val wav = concat(lit("RIFF".getBytes), le32(dataLen + 36),
      lit("WAVE".getBytes), lit("fmt ".getBytes), le32(lit(16)),
      le16(lit(1)), le16(ch), le32(rate), le32(byteRate),
      le16(ch * 2), le16(lit(16)),
      lit("data".getBytes), le32(dataLen))
    val jpeg = concat(b(0xff, 0xd8), b(0xff, 0xc0), be16(lit(11)), b(0x08),
      be16(h), be16(w), b(0xff, 0xd9))
    when(id % 3 === 0, png).when(id % 3 === 1, wav).otherwise(jpeg)
  }

  /** m_phash — perceptual-hash near-dup image pairs
    * ([[graft.multimodal.Multimodal.phashNearDup]]). Payloads are
    * 72-byte grayscale grids synthesized IN-PLAN (the decode stub's
    * output shape — real kernel, synthesized pixels, closed-form
    * oracle): base grids are per-id pseudo-random (unrelated pairs land
    * at Hamming ≈ 32, far above the gate), every `% 10 == 1` doc copies
    * its predecessor's grid with ONE pixel nudged (+2 — Hamming ≤ 2,
    * the planted near-dup), every `% 10 == 5` doc uses an alternate
    * formula (a hard negative), and every `% 17 == 3` payload truncates
    * to 10 bytes (NULL hash, the corrupt contract). The oracle rebuilds
    * the pixels arithmetically and takes the PLAIN all-pairs Hamming ≤
    * 3 — exact, because 4-band LSH has full recall at that threshold
    * (pigeonhole). */
  val mPhash: Q = (s, d) => {
    val id = col("doc_id")
    // quadratic scramble: a LINEAR pixel formula leaves adjacent-pixel
    // deltas constant, so unrelated grids share wrap-phase bit patterns
    // (thousands of sub-threshold pairs) — squaring mod a large prime
    // makes adjacent comparisons pseudo-random (unrelated Hamming ≈ 32).
    // The grid builds through ONE transform lambda over the 72 pixel
    // indices — a 72-wide concat of these CASE trees was a codegen bomb
    // (14.7s at sf0.1; this spelling benches 0.4s)
    def pixNormal(base: org.apache.spark.sql.Column,
        n: org.apache.spark.sql.Column) = {
      val h1 = (base * 999983L + n * 2654435761L) % 1000003L
      ((h1 * h1) % 1000003L) % 251L
    }
    def pixAlt(n: org.apache.spark.sql.Column) = {
      val h2 = (id * 104729L + n * 7919L) % 1000003L
      ((h2 * h2) % 1000003L) % 251L
    }
    def pix(n: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(id % 10 === 5, pixAlt(n))
        .when(id % 10 === 1 && n === 40,
          (pixNormal(id - 1, n) + 2L) % 251L)
        .when(id % 10 === 1, pixNormal(id - 1, n))
        .otherwise(pixNormal(id, n))
    val grid = unhex(array_join(
      transform(sequence(lit(0L), lit(71L)),
        n => lpad(hex(pix(n)), 2, "0")), ""))
    val payload = when(id % 17 === 3, substring(grid, 1, 10)).otherwise(grid)
    // r18: the synthetic grid depends only on doc_id, so spread the
    // narrow id scan BEFORE the 72-pixel generation + dHash kernel —
    // otherwise both run on the single scan partition (guide §2.5/§2.6)
    graft.multimodal.Multimodal.phashNearDup(
      graft.ops.Par.spread(Tables.documents(s, d).select(id))
        .select(id, payload.as("payload")))
  }

  val mPhashSql: String =
    """WITH px AS (SELECT doc_id,
      |    list_transform(range(0, 72), n ->
      |      CASE WHEN doc_id % 10 = 5 THEN (((doc_id * 104729 + n * 7919) % 1000003) * ((doc_id * 104729 + n * 7919) % 1000003) % 1000003) % 251
      |           WHEN doc_id % 10 = 1 AND n = 40 THEN ((((doc_id - 1) * 999983 + n * 2654435761) % 1000003) * (((doc_id - 1) * 999983 + n * 2654435761) % 1000003) % 1000003 % 251 + 2) % 251
      |           WHEN doc_id % 10 = 1 THEN (((doc_id - 1) * 999983 + n * 2654435761) % 1000003) * (((doc_id - 1) * 999983 + n * 2654435761) % 1000003) % 1000003 % 251
      |           ELSE ((doc_id * 999983 + n * 2654435761) % 1000003) * ((doc_id * 999983 + n * 2654435761) % 1000003) % 1000003 % 251 END) AS p
      |  FROM documents WHERE doc_id % 17 <> 3),
      |h AS (SELECT doc_id, list_sum(list_transform(range(0, 64), b ->
      |    CASE WHEN p[(b // 8) * 9 + (b % 8) + 1] < p[(b // 8) * 9 + (b % 8) + 2]
      |         THEN (CASE WHEN b = 63 THEN -9223372036854775807 - 1
      |               ELSE (1::BIGINT << b) END) ELSE 0 END))::BIGINT AS h
      |  FROM px)
      |SELECT x.doc_id AS a, y.doc_id AS b,
      |  bit_count(xor(x.h, y.h))::INT AS hamming
      |FROM h x JOIN h y ON x.doc_id < y.doc_id
      |WHERE bit_count(xor(x.h, y.h)) <= 3""".stripMargin

  /** m_tiff — the TIFF IFD walk under the oracle gate, same
    * build-vs-parse independence as [[mHeaders]]: per doc_id parity the
    * in-plan payload is a LITTLE-endian file with SHORT dimension
    * entries or a BIG-endian file with LONG entries — both byte orders
    * and both value encodings of the ImageWidth/ImageLength tags
    * (256/257), plus a decoy tag (259) the walk must skip. Dims reuse
    * the mHeaders arithmetic so the oracle stays closed-form. */
  val mTiff: Q = (s, d) => {
    import graft.multimodal.Multimodal
    val id = col("doc_id")
    val w = (id % 1920 + 16).cast("int")
    val h = (id % 1080 + 16).cast("int")
    def b(bytes: Int*) = lit(bytes.map(_.toByte).toArray)
    def be32(c: org.apache.spark.sql.Column) =
      unhex(lpad(hex(c.cast("long")), 8, "0"))
    def be16(c: org.apache.spark.sql.Column) =
      unhex(lpad(hex(c.cast("long")), 4, "0"))
    def le32(c: org.apache.spark.sql.Column) = {
      val hx = lpad(hex(c.cast("long")), 8, "0")
      unhex(concat(substring(hx, 7, 2), substring(hx, 5, 2),
        substring(hx, 3, 2), substring(hx, 1, 2)))
    }
    def le16(c: org.apache.spark.sql.Column) = {
      val hx = lpad(hex(c.cast("long")), 4, "0")
      unhex(concat(substring(hx, 3, 2), substring(hx, 1, 2)))
    }
    // LE: II*\0, IFD@8, 3 entries of (tag, type=SHORT, count=1, value+pad)
    val leEntry = (tag: Int, v: org.apache.spark.sql.Column) =>
      concat(le16(lit(tag)), le16(lit(3)), le32(lit(1)), le16(v), le16(lit(0)))
    val tiffLe = concat(b('I', 'I', 0x2a, 0x00), le32(lit(8)), le16(lit(3)),
      leEntry(256, w), leEntry(257, h), leEntry(259, lit(1)), le32(lit(0)))
    // BE: MM\0*, IFD@8, LONG-typed values (full 4 bytes)
    val beEntry = (tag: Int, v: org.apache.spark.sql.Column) =>
      concat(be16(lit(tag)), be16(lit(4)), be32(lit(1)), be32(v))
    val tiffBe = concat(b('M', 'M', 0x00, 0x2a), be32(lit(8)), be16(lit(3)),
      beEntry(256, w), beEntry(257, h), beEntry(259, lit(1)), be32(lit(0)))
    // every 7th payload truncates to 6 bytes (magic survives, the IFD
    // offset doesn't): sniff still says tiff, the walk degrades to
    // unknown/dimensionless — the m_corrupt discipline for this format
    val full = when(id % 2 === 0, tiffLe).otherwise(tiffBe)
    val media = Tables.documents(s, d).select(id)
      .withColumn("payload",
        when(id % 7 === 0, substring(full, 1, 6)).otherwise(full))
    Multimodal.withHeaderMeta(media).select(id,
      Multimodal.sniffFormat(col("payload")).as("format"),
      col("header_meta.format").as("hformat"),
      col("header_meta.width").as("width"),
      col("header_meta.height").as("height"))
  }

  val mTiffSql: String =
    """SELECT doc_id, 'tiff' AS format,
      |  CASE WHEN doc_id % 7 = 0 THEN 'unknown' ELSE 'tiff' END AS hformat,
      |  CASE WHEN doc_id % 7 <> 0 THEN CAST(doc_id % 1920 + 16 AS INTEGER) END AS width,
      |  CASE WHEN doc_id % 7 <> 0 THEN CAST(doc_id % 1080 + 16 AS INTEGER) END AS height
      |FROM documents""".stripMargin

  /** m_exif — EXIF orientation + capture timestamp through the APP1
    * walk ([[graft.multimodal.Multimodal.withExifMeta]]). Payloads are
    * real JPEG marker chains built IN-PLAN: APP0/JFIF first (the walk
    * must skip it), then per doc_id parity a little- or big-endian Exif
    * APP1 whose embedded TIFF carries Orientation (SHORT, tag 274) and
    * DateTime (20-byte ASCII at a value OFFSET, tag 306), then SOF0 +
    * EOI. Every `% 5 == 2` doc has no APP1 (nulls) and every `% 7 == 0`
    * truncates mid-APP1 (nulls, the m_corrupt discipline). Both tag
    * values derive arithmetically from doc_id, so the oracle is
    * closed-form — build vs parse independence. */
  val mExif: Q = (s, d) => {
    import graft.multimodal.Multimodal
    val id = col("doc_id")
    def b(bytes: Int*) = lit(bytes.map(_.toByte).toArray)
    def be32(c: org.apache.spark.sql.Column) =
      unhex(lpad(hex(c.cast("long")), 8, "0"))
    def be16(c: org.apache.spark.sql.Column) =
      unhex(lpad(hex(c.cast("long")), 4, "0"))
    def le32(c: org.apache.spark.sql.Column) = {
      val hx = lpad(hex(c.cast("long")), 8, "0")
      unhex(concat(substring(hx, 7, 2), substring(hx, 5, 2),
        substring(hx, 3, 2), substring(hx, 1, 2)))
    }
    def le16(c: org.apache.spark.sql.Column) = {
      val hx = lpad(hex(c.cast("long")), 4, "0")
      unhex(concat(substring(hx, 3, 2), substring(hx, 1, 2)))
    }
    val orient = (id % 8 + 1).cast("int")
    val dt = concat(
      lpad((id % 26 + 2000).cast("string"), 4, "0"), lit(":"),
      lpad((id % 12 + 1).cast("string"), 2, "0"), lit(":"),
      lpad((id % 28 + 1).cast("string"), 2, "0"), lit(" "),
      lpad((id % 24).cast("string"), 2, "0"), lit(":"),
      lpad((id * 7 % 60).cast("string"), 2, "0"), lit(":"),
      lpad((id * 13 % 60).cast("string"), 2, "0"))
    // TIFF block: header(8) + count(2) + 2×entry(12) + next-IFD(4) = 38,
    // then the 20-byte ASCII DateTime at offset 38 → 58 bytes total;
    // APP1 length = 2 (len field) + 6 (Exif\0\0) + 58 = 66
    val tiffLe = concat(b('I', 'I', 0x2a, 0x00), le32(lit(8)), le16(lit(2)),
      le16(lit(274)), le16(lit(3)), le32(lit(1)), le16(orient), le16(lit(0)),
      le16(lit(306)), le16(lit(2)), le32(lit(20)), le32(lit(38)),
      le32(lit(0)), dt.cast("binary"), b(0))
    val tiffBe = concat(b('M', 'M', 0x00, 0x2a), be32(lit(8)), be16(lit(2)),
      be16(lit(274)), be16(lit(3)), be32(lit(1)), be16(orient), be16(lit(0)),
      be16(lit(306)), be16(lit(2)), be32(lit(20)), be32(lit(38)),
      be32(lit(0)), dt.cast("binary"), b(0))
    val app0 = concat(b(0xff, 0xe0), be16(lit(16)),
      lit("JFIF".getBytes), b(0, 1, 1, 0), be16(lit(1)), be16(lit(1)), b(0, 0))
    val app1 = concat(b(0xff, 0xe1), be16(lit(66)),
      lit("Exif".getBytes), b(0, 0),
      when(id % 2 === 0, tiffLe).otherwise(tiffBe))
    val sof = concat(b(0xff, 0xc0), be16(lit(11)), b(0x08),
      be16(lit(32)), be16(lit(32)), b(0xff, 0xd9))
    val withExif = concat(b(0xff, 0xd8), app0, app1, sof)
    val plain = concat(b(0xff, 0xd8), app0, sof)
    val payload = when(id % 7 === 0, substring(withExif, 1, 24))
      .when(id % 5 === 2, plain).otherwise(withExif)
    val media = Tables.documents(s, d).select(id)
      .withColumn("payload", payload)
    Multimodal.withExifMeta(media).select(id,
      col("exif_meta.orientation").as("orientation"),
      col("exif_meta.captured_at").as("captured_at"))
  }

  val mExifSql: String =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 7 = 0 OR doc_id % 5 = 2 THEN NULL
      |       ELSE CAST(doc_id % 8 + 1 AS INTEGER) END AS orientation,
      |  CASE WHEN doc_id % 7 = 0 OR doc_id % 5 = 2 THEN NULL ELSE
      |    lpad(CAST(doc_id % 26 + 2000 AS VARCHAR), 4, '0') || ':' ||
      |    lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') || ':' ||
      |    lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || ' ' ||
      |    lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0') || ':' ||
      |    lpad(CAST(doc_id * 7 % 60 AS VARCHAR), 2, '0') || ':' ||
      |    lpad(CAST(doc_id * 13 % 60 AS VARCHAR), 2, '0')
      |  END AS captured_at
      |FROM documents""".stripMargin

  /** m_avi — AVI main-header parse
    * ([[graft.multimodal.Multimodal.withAviMeta]]): real RIFF/`AVI `
    * files built IN-PLAN — a decoy `JUNK` chunk precedes the
    * LIST/hdrl/avih (the walk must skip it, honoring even-padding);
    * every `% 5 == 2` payload is a RIFF/WAVE (wrong form type) and
    * every `% 7 == 0` truncates mid-header. Closed-form oracle. */
  val mAvi: Q = (s, d) => {
    import graft.multimodal.Multimodal
    val id = col("doc_id")
    def b(bytes: Int*) = lit(bytes.map(_.toByte).toArray)
    def le32(c: org.apache.spark.sql.Column) = {
      val hx = lpad(hex(c.cast("long")), 8, "0")
      unhex(concat(substring(hx, 7, 2), substring(hx, 5, 2),
        substring(hx, 3, 2), substring(hx, 1, 2)))
    }
    val w = (id % 1920 + 16).cast("int")
    val h = (id % 1080 + 16).cast("int")
    val frames = id % 900 + 1
    val usf = (id % 3 + 1) * 20000  // 50/25/16.6 fps
    // JUNK decoy with an ODD length (9) — the walk must pad to even
    val junk = concat(lit("JUNK".getBytes), le32(lit(9)),
      b(1, 2, 3, 4, 5, 6, 7, 8, 9, 0))
    val avih = concat(lit("avih".getBytes), le32(lit(56)),
      le32(usf), le32(lit(0)), le32(lit(0)), le32(lit(0x10)),
      le32(frames), le32(lit(0)), le32(lit(2)), le32(lit(0)),
      le32(w), le32(h),
      le32(lit(0)), le32(lit(0)), le32(lit(0)), le32(lit(0)))
    val hdrl = concat(lit("LIST".getBytes), le32(lit(4 + 64)),
      lit("hdrl".getBytes), avih)
    val avi = concat(lit("RIFF".getBytes), le32(lit(4 + 18 + 76)),
      lit("AVI ".getBytes), junk, hdrl)
    val wav = concat(lit("RIFF".getBytes), le32(lit(4)),
      lit("WAVE".getBytes))
    val payload = when(id % 5 === 2, wav)
      .when(id % 7 === 0, substring(avi, 1, 40)).otherwise(avi)
    val media = Tables.documents(s, d).select(id)
      .withColumn("payload", payload)
    Multimodal.withAviMeta(media).select(id,
      col("avi_meta.format").as("format"),
      col("avi_meta.width").as("width"),
      col("avi_meta.height").as("height"),
      col("avi_meta.total_frames").as("total_frames"),
      col("avi_meta.duration_ms").as("duration_ms"))
  }

  val mAviSql: String =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 5 = 2 OR doc_id % 7 = 0 THEN 'not_avi'
      |       ELSE 'avi' END AS format,
      |  CASE WHEN doc_id % 5 <> 2 AND doc_id % 7 <> 0
      |       THEN CAST(doc_id % 1920 + 16 AS INTEGER) END AS width,
      |  CASE WHEN doc_id % 5 <> 2 AND doc_id % 7 <> 0
      |       THEN CAST(doc_id % 1080 + 16 AS INTEGER) END AS height,
      |  CASE WHEN doc_id % 5 <> 2 AND doc_id % 7 <> 0
      |       THEN CAST(doc_id % 900 + 1 AS BIGINT) END AS total_frames,
      |  CASE WHEN doc_id % 5 <> 2 AND doc_id % 7 <> 0
      |       THEN CAST((doc_id % 900 + 1) * ((doc_id % 3 + 1) * 20000) // 1000 AS BIGINT)
      |  END AS duration_ms
      |FROM documents""".stripMargin

  /** m_mkv — Matroska/WebM EBML walk
    * ([[graft.multimodal.Multimodal.withMkvMeta]]): real EBML payloads
    * built IN-PLAN — varint IDs/sizes, a Void decoy inside the head, an
    * UNKNOWN-size Segment (0xFF) whose Info sits behind a SeekHead
    * decoy; every `% 5 == 2` payload is RIFF/WAVE, every `% 7 == 0`
    * truncates mid-head, and every `% 11 == 3` Segment carries no Info
    * (format kept, null timestamp scale). Closed-form oracle. */
  val mMkv: Q = (s, d) => {
    import graft.multimodal.Multimodal
    val id = col("doc_id")
    def b(bytes: Int*) = lit(bytes.map(_.toByte).toArray)
    val ver = unhex(lpad(hex((id % 4 + 1).cast("long")), 2, "0"))
    val ts3 = unhex(lpad(hex(((id % 4 + 1) * 500000).cast("long")), 6, "0"))
    def head(dt: String) = {
      val L = dt.length
      concat(b(0x1A, 0x45, 0xDF, 0xA3), b(0x80 | (15 + L)),
        b(0x42, 0x86, 0x81, 0x01),         // EBMLVersion = 1
        b(0xEC, 0x82, 0x00, 0x00),         // Void decoy
        b(0x42, 0x82, 0x80 | L), lit(dt.getBytes("US-ASCII")),
        b(0x42, 0x87, 0x81), ver)          // DocTypeVersion
    }
    val seekHead = b(0x11, 0x4D, 0x9B, 0x74, 0x84, 1, 2, 3, 4)
    val info = concat(
      b(0x15, 0x49, 0xA9, 0x66, 0x87, 0x2A, 0xD7, 0xB1, 0x83), ts3)
    val segStart = b(0x18, 0x53, 0x80, 0x67, 0xFF) // unknown size
    val seg = when(id % 11 === 3, concat(segStart, seekHead))
      .otherwise(concat(segStart, seekHead, info))
    val mkv = concat(
      when(id % 3 === 1, head("webm")).otherwise(head("matroska")), seg)
    val riff = concat(lit("RIFF".getBytes), b(4, 0, 0, 0),
      lit("WAVE".getBytes))
    val payload = when(id % 5 === 2, riff)
      .when(id % 7 === 0, substring(mkv, 1, 10)).otherwise(mkv)
    val media = Tables.documents(s, d).select(id)
      .withColumn("payload", payload)
    Multimodal.withMkvMeta(media).select(id,
      col("mkv_meta.format").as("format"),
      col("mkv_meta.doc_type_version").as("doc_type_version"),
      col("mkv_meta.timestamp_scale").as("timestamp_scale"))
  }

  val mMkvSql: String =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 5 = 2 OR doc_id % 7 = 0 THEN 'not_mkv'
      |       WHEN doc_id % 3 = 1 THEN 'webm' ELSE 'mkv' END AS format,
      |  CASE WHEN doc_id % 5 <> 2 AND doc_id % 7 <> 0
      |       THEN CAST(doc_id % 4 + 1 AS INTEGER) END AS doc_type_version,
      |  CASE WHEN doc_id % 5 <> 2 AND doc_id % 7 <> 0 AND doc_id % 11 <> 3
      |       THEN CAST((doc_id % 4 + 1) * 500000 AS BIGINT)
      |  END AS timestamp_scale
      |FROM documents""".stripMargin

  /** m_gzip — gzip member-header walk
    * ([[graft.multimodal.Multimodal.withGzipMeta]]): real RFC 1952
    * members built IN-PLAN with every FLG combination present in the
    * corpus — FEXTRA (`% 3 == 0`), FNAME (`% 2 == 0`), FCOMMENT
    * (`% 9 == 1`), FHCRC (`% 4 == 1`) — so the walk must skip each
    * optional field correctly to find the trailer ISIZE; `% 5 == 2`
    * payloads are zlib (wrong magic) and `% 7 == 0` truncate before the
    * trailer. Closed-form oracle. */
  val mGzip: Q = (s, d) => {
    import graft.multimodal.Multimodal
    val id = col("doc_id")
    def b(bytes: Int*) = lit(bytes.map(_.toByte).toArray)
    def le32(c: org.apache.spark.sql.Column) = {
      val hx = lpad(hex(c.cast("long")), 8, "0")
      unhex(concat(substring(hx, 7, 2), substring(hx, 5, 2),
        substring(hx, 3, 2), substring(hx, 1, 2)))
    }
    val none = lit(Array.empty[Byte])
    val flg = when(id % 3 === 0, 4).otherwise(0) +
      when(id % 2 === 0, 8).otherwise(0) +
      when(id % 9 === 1, 16).otherwise(0) +
      when(id % 4 === 1, 2).otherwise(0)
    val header = concat(b(0x1f, 0x8b, 8),
      unhex(lpad(hex(flg.cast("long")), 2, "0")),
      le32(id * 60), b(0),
      unhex(lpad(hex((id % 13).cast("long")), 2, "0")))
    val fextra = when(id % 3 === 0, b(4, 0, 9, 9, 9, 9)).otherwise(none)
    val fname = when(id % 2 === 0,
      concat(lit("f".getBytes), encode(id.cast("string"), "UTF-8"),
        lit(".txt".getBytes), b(0))).otherwise(none)
    val fcomment = when(id % 9 === 1,
      concat(lit("crawl".getBytes), b(0))).otherwise(none)
    val fhcrc = when(id % 4 === 1, b(0x12, 0x34)).otherwise(none)
    val gz = concat(header, fextra, fname, fcomment, fhcrc,
      b(1, 2, 3, 4, 5),                 // deflate body (never read)
      b(0xAA, 0xBB, 0xCC, 0xDD),        // CRC32
      le32(id % 100000))                // ISIZE
    val zlib = b(0x78, 0x9c, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12,
      13, 14, 15, 16, 17, 18)
    val payload = when(id % 5 === 2, zlib)
      .when(id % 7 === 0, substring(gz, 1, 12)).otherwise(gz)
    val media = Tables.documents(s, d).select(id)
      .withColumn("payload", payload)
    Multimodal.withGzipMeta(media).select(id,
      col("gzip_meta.format").as("format"),
      col("gzip_meta.mtime").as("mtime"),
      col("gzip_meta.os").as("os"),
      col("gzip_meta.fname").as("fname"),
      col("gzip_meta.isize").as("isize"))
  }

  val mGzipSql: String =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 5 = 2 OR doc_id % 7 = 0 THEN 'not_gzip'
      |       ELSE 'gzip' END AS format,
      |  CASE WHEN doc_id % 5 <> 2 AND doc_id % 7 <> 0
      |       THEN CAST(doc_id * 60 AS BIGINT) END AS mtime,
      |  CASE WHEN doc_id % 5 <> 2 AND doc_id % 7 <> 0
      |       THEN CAST(doc_id % 13 AS INTEGER) END AS os,
      |  CASE WHEN doc_id % 5 <> 2 AND doc_id % 7 <> 0 AND doc_id % 2 = 0
      |       THEN 'f' || doc_id || '.txt' END AS fname,
      |  CASE WHEN doc_id % 5 <> 2 AND doc_id % 7 <> 0
      |       THEN CAST(doc_id % 100000 AS BIGINT) END AS isize
      |FROM documents""".stripMargin

  /** m_wav_rms — PCM sample statistics
    * ([[graft.multimodal.Multimodal.withWavStats]]): real 16-bit mono
    * WAVs built IN-PLAN with `doc_id % 32 + 1` alternating ±a samples
    * (a = doc_id % 30000) — the kernel must actually READ the sample
    * bytes, not just headers; peak = a, sumsq = n·a², rms = a, all in
    * closed form. `% 5 == 2` payloads are AVI, `% 7 == 0` declare a
    * data length past the payload (truncation), `% 11 == 3` are stereo
    * — each must degrade. */
  val mWavRms: Q = (s, d) => {
    import graft.multimodal.Multimodal
    val id = col("doc_id")
    def b(bytes: Int*) = lit(bytes.map(_.toByte).toArray)
    def le32(c: org.apache.spark.sql.Column) = {
      val hx = lpad(hex(c.cast("long")), 8, "0")
      unhex(concat(substring(hx, 7, 2), substring(hx, 5, 2),
        substring(hx, 3, 2), substring(hx, 1, 2)))
    }
    def le16(c: org.apache.spark.sql.Column) = {
      val hx = lpad(hex(c.cast("long")), 4, "0")
      unhex(concat(substring(hx, 3, 2), substring(hx, 1, 2)))
    }
    val none = lit(Array.empty[Byte])
    val a = id % 30000
    val n = (id % 32 + 1).cast("int")
    val pos = le16(a)
    val neg = le16((lit(65536) - a) % 65536) // two's-complement of -a
    val samples = concat((0 until 32).map(k =>
      when(lit(k) < n, if (k % 2 == 0) pos else neg).otherwise(none)): _*)
    def fmtChunk(channels: Int) = concat(lit("fmt ".getBytes), le32(lit(16)),
      le16(lit(1)), le16(lit(channels)), le32(lit(8000)), le32(lit(16000)),
      le16(lit(2)), le16(lit(16)))
    val dataChunk = concat(lit("data".getBytes), le32(n * 2), samples)
    def wav(channels: Int, data: org.apache.spark.sql.Column) =
      concat(lit("RIFF".getBytes), le32(lit(36) + n * 2),
        lit("WAVE".getBytes), fmtChunk(channels), data)
    val truncated = concat(lit("data".getBytes), le32(lit(64)), b(1, 2, 3, 4))
    val avi = concat(lit("RIFF".getBytes), le32(lit(4)), lit("AVI ".getBytes))
    val payload = when(id % 5 === 2, avi)
      .when(id % 7 === 0, wav(1, truncated))
      .when(id % 11 === 3, wav(2, dataChunk))
      .otherwise(wav(1, dataChunk))
    val media = Tables.documents(s, d).select(id)
      .withColumn("payload", payload)
    Multimodal.withWavStats(media).select(id,
      col("wav_stats.format").as("format"),
      col("wav_stats.n_samples").as("n_samples"),
      col("wav_stats.peak").as("peak"),
      col("wav_stats.sumsq").as("sumsq"),
      col("wav_stats.rms").as("rms"))
  }

  val mWavRmsSql: String =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 5 = 2 OR doc_id % 7 = 0 OR doc_id % 11 = 3
      |       THEN 'not_wav' ELSE 'wav' END AS format,
      |  CASE WHEN doc_id % 5 <> 2 AND doc_id % 7 <> 0 AND doc_id % 11 <> 3
      |       THEN CAST(doc_id % 32 + 1 AS BIGINT) END AS n_samples,
      |  CASE WHEN doc_id % 5 <> 2 AND doc_id % 7 <> 0 AND doc_id % 11 <> 3
      |       THEN CAST(doc_id % 30000 AS INTEGER) END AS peak,
      |  CASE WHEN doc_id % 5 <> 2 AND doc_id % 7 <> 0 AND doc_id % 11 <> 3
      |       THEN CAST((doc_id % 32 + 1) * (doc_id % 30000) * (doc_id % 30000) AS BIGINT)
      |  END AS sumsq,
      |  CASE WHEN doc_id % 5 <> 2 AND doc_id % 7 <> 0 AND doc_id % 11 <> 3
      |       THEN round(sqrt(CAST((doc_id % 32 + 1) * (doc_id % 30000) * (doc_id % 30000) AS BIGINT)::DOUBLE
      |         / (doc_id % 32 + 1)), 4) + 0.0
      |  END AS rms
      |FROM documents""".stripMargin

  /** m_zip — ZIP EOCD inventory
    * ([[graft.multimodal.Multimodal.withZipMeta]]): real archives built
    * IN-PLAN with `% 4 + 1` entries (35-byte local headers, 48-byte
    * central entries); `% 11 == 3` archives carry a TRAILING COMMENT so
    * the EOCD must be found by the backward scan, `% 5 == 2` payloads
    * are gzip, `% 7 == 0` truncate the tail. Closed-form oracle. */
  val mZip: Q = (s, d) => {
    import graft.multimodal.Multimodal
    val id = col("doc_id")
    def b(bytes: Int*) = lit(bytes.map(_.toByte).toArray)
    def le32(c: org.apache.spark.sql.Column) = {
      val hx = lpad(hex(c.cast("long")), 8, "0")
      unhex(concat(substring(hx, 7, 2), substring(hx, 5, 2),
        substring(hx, 3, 2), substring(hx, 1, 2)))
    }
    def le16(c: org.apache.spark.sql.Column) = {
      val hx = lpad(hex(c.cast("long")), 4, "0")
      unhex(concat(substring(hx, 3, 2), substring(hx, 1, 2)))
    }
    val none = lit(Array.empty[Byte])
    val n = (id % 4 + 1).cast("int")
    def lfh(k: Int) = concat(b(0x50, 0x4b, 0x03, 0x04),
      lit(Array.fill(22)(0.toByte)), le16(lit(2)), le16(lit(0)),
      lit(s"f$k".getBytes), b(7, 7, 7))
    def cde(k: Int) = concat(b(0x50, 0x4b, 0x01, 0x02),
      lit(Array.fill(24)(0.toByte)), le16(lit(2)),
      lit(Array.fill(16)(0.toByte)), lit(s"f$k".getBytes))
    val locals = concat((0 until 4).map(k =>
      when(lit(k) < n, lfh(k)).otherwise(none)): _*)
    val cd = concat((0 until 4).map(k =>
      when(lit(k) < n, cde(k)).otherwise(none)): _*)
    val comment = when(id % 11 === 3, lit("trailing comment".getBytes))
      .otherwise(none)
    val eocd = concat(b(0x50, 0x4b, 0x05, 0x06), b(0, 0, 0, 0),
      le16(n), le16(n), le32(n * 48), le32(n * 35),
      le16(when(id % 11 === 3, 16).otherwise(0)), comment)
    val zip = concat(locals, cd, eocd)
    val gz = concat(b(0x1f, 0x8b, 8, 0), lit(Array.fill(20)(1.toByte)))
    val payload = when(id % 5 === 2, gz)
      .when(id % 7 === 0, substring(zip, 1, 30)).otherwise(zip)
    val media = Tables.documents(s, d).select(id)
      .withColumn("payload", payload)
    Multimodal.withZipMeta(media).select(id,
      col("zip_meta.format").as("format"),
      col("zip_meta.n_entries").as("n_entries"),
      col("zip_meta.cd_size").as("cd_size"),
      col("zip_meta.cd_offset").as("cd_offset"),
      col("zip_meta.first_name").as("first_name"))
  }

  val mZipSql: String =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 5 = 2 OR doc_id % 7 = 0 THEN 'not_zip'
      |       ELSE 'zip' END AS format,
      |  CASE WHEN doc_id % 5 <> 2 AND doc_id % 7 <> 0
      |       THEN CAST(doc_id % 4 + 1 AS INTEGER) END AS n_entries,
      |  CASE WHEN doc_id % 5 <> 2 AND doc_id % 7 <> 0
      |       THEN CAST((doc_id % 4 + 1) * 48 AS BIGINT) END AS cd_size,
      |  CASE WHEN doc_id % 5 <> 2 AND doc_id % 7 <> 0
      |       THEN CAST((doc_id % 4 + 1) * 35 AS BIGINT) END AS cd_offset,
      |  CASE WHEN doc_id % 5 <> 2 AND doc_id % 7 <> 0
      |       THEN 'f0' END AS first_name
      |FROM documents""".stripMargin

  /** m_ogg — Ogg/Vorbis identification-header parse
    * ([[graft.multimodal.Multimodal.withOggMeta]]): real BOS pages with
    * LE-64 granule positions and a segment-table-addressed first packet
    * built IN-PLAN; every `% 5 == 2` page carries a COMMENT header as
    * its first packet (type 3 — must degrade, the walk checks the
    * packet type, not just the magic) and every `% 7 == 0` payload
    * truncates mid-packet. Closed-form oracle. */
  val mOgg: Q = (s, d) => {
    import graft.multimodal.Multimodal
    val id = col("doc_id")
    def b(bytes: Int*) = lit(bytes.map(_.toByte).toArray)
    def le32(c: org.apache.spark.sql.Column) = {
      val hx = lpad(hex(c.cast("long")), 8, "0")
      unhex(concat(substring(hx, 7, 2), substring(hx, 5, 2),
        substring(hx, 3, 2), substring(hx, 1, 2)))
    }
    val ch = (id % 8 + 1).cast("int")
    val rate = (id % 5 * 8000 + 8000).cast("int")
    val granule = id * 441
    def packet(ptype: Int) = concat(b(ptype), lit("vorbis".getBytes),
      le32(lit(0)), unhex(lpad(hex(ch.cast("long")), 2, "0")), le32(rate))
    val page = (ptype: Int) => concat(lit("OggS".getBytes), b(0, 0x02),
      le32(granule), le32(lit(0)), // granule low half, high half 0
      le32(id % 100000), le32(lit(0)), le32(lit(0)),
      b(1, 16), packet(ptype))
    val full = when(id % 5 === 2, page(3)).otherwise(page(1))
    val media = Tables.documents(s, d).select(id)
      .withColumn("payload",
        when(id % 7 === 0, substring(full, 1, 20)).otherwise(full))
    Multimodal.withOggMeta(media).select(id,
      col("ogg_meta.format").as("format"),
      col("ogg_meta.channels").as("channels"),
      col("ogg_meta.sample_rate").as("sample_rate"),
      col("ogg_meta.granule").as("granule"))
  }

  val mOggSql: String =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 7 = 0 OR doc_id % 5 = 2 THEN 'not_ogg'
      |       ELSE 'ogg' END AS format,
      |  CASE WHEN doc_id % 7 <> 0 AND doc_id % 5 <> 2
      |       THEN CAST(doc_id % 8 + 1 AS INTEGER) END AS channels,
      |  CASE WHEN doc_id % 7 <> 0 AND doc_id % 5 <> 2
      |       THEN CAST(doc_id % 5 * 8000 + 8000 AS INTEGER) END AS sample_rate,
      |  CASE WHEN doc_id % 7 <> 0 AND doc_id % 5 <> 2
      |       THEN CAST(doc_id * 441 AS BIGINT) END AS granule
      |FROM documents""".stripMargin

  val mHeaders: Q = (s, d) => {
    import graft.multimodal.Multimodal
    val id = col("doc_id")
    val media = Tables.documents(s, d).select(id)
      .withColumn("payload", syntheticMediaPayload(id))
    val parsed = Multimodal.withAudioMeta(Multimodal.withHeaderMeta(media))
    parsed.select(id,
      Multimodal.sniffFormat(col("payload")).as("format"),
      col("header_meta.width").as("width"),
      col("header_meta.height").as("height"),
      col("audio_meta.channels").as("channels"),
      col("audio_meta.sample_rate").as("sample_rate"),
      col("audio_meta.duration_ms").as("duration_ms"))
  }

  val mHeadersSql: String =
    """SELECT doc_id,
      |  CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'wav' ELSE 'jpeg' END AS format,
      |  CASE WHEN doc_id % 3 <> 1 THEN CAST(doc_id % 1920 + 16 AS INTEGER) END AS width,
      |  CASE WHEN doc_id % 3 <> 1 THEN CAST(doc_id % 1080 + 16 AS INTEGER) END AS height,
      |  CASE WHEN doc_id % 3 = 1 THEN CAST(doc_id % 2 + 1 AS INTEGER) END AS channels,
      |  CASE WHEN doc_id % 3 = 1 THEN CAST(doc_id % 5 * 8000 + 8000 AS INTEGER) END AS sample_rate,
      |  CASE WHEN doc_id % 3 = 1 THEN CAST((doc_id % 30 + 1) * 1000 AS BIGINT) END AS duration_ms
      |FROM documents""".stripMargin

  /** m_pdf — PDF structural metadata under the oracle gate
    * ([[graft.multimodal.Multimodal.withPdfMeta]]): synthetic PDFs
    * assembled IN-PLAN (version and page count pure doc_id arithmetic,
    * page count read from the page-tree root's `/Count` — the spec's
    * own source), every doc_id%4==0 row routed to a PNG payload (must
    * sniff png / null PDF fields), and every doc_id%7==3 PDF truncated
    * before its `%%EOF` (the truncated-download quarantine: version and
    * pages still parse, the trailer check fails). Narrow codegen'd
    * string/regexp maps, zero shuffle. */
  val mPdf: Q = (s, d) => {
    import graft.multimodal.Multimodal
    val id = col("doc_id")
    val body = concat(
      lit("%PDF-1."), (id % 8).cast("string"), lit("\n"),
      lit("1 0 obj <</Type /Pages /Kids [] /Count "),
      (id % 20 + 1).cast("string"), lit(">> endobj\n"),
      lit("trailer <</Root 1 0 R>>\nstartxref\n0\n"))
    val pdf = when(id % 7 === 3, body)
      .otherwise(concat(body, lit("%%EOF")))
    val media = Tables.documents(s, d).select(id)
      .withColumn("payload",
        when(id % 4 === 0, syntheticMediaPayload(lit(0L)))
          .otherwise(pdf.cast("binary")))
    Multimodal.withPdfMeta(media).select(id,
      Multimodal.sniffFormat(col("payload")).as("format"),
      col("is_pdf"), col("pdf_version"), col("pdf_pages"),
      col("pdf_eof_ok"))
  }

  val mPdfSql: String =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 4 = 0 THEN 'png' ELSE 'pdf' END AS format,
      |  doc_id % 4 <> 0 AS is_pdf,
      |  CASE WHEN doc_id % 4 <> 0 THEN '1.' || (doc_id % 8) END AS pdf_version,
      |  CASE WHEN doc_id % 4 <> 0 THEN CAST(doc_id % 20 + 1 AS INTEGER) END AS pdf_pages,
      |  doc_id % 4 <> 0 AND doc_id % 7 <> 3 AS pdf_eof_ok
      |FROM documents""".stripMargin

  /** m_srt — SRT subtitle metadata under the oracle gate
    * ([[graft.multimodal.Multimodal.withSrtMeta]]): files with
    * doc_id%5+1 cues are assembled IN-PLAN (each cue j spans
    * [3j s, 3j+2.5 s] — 2500 ms, so cued_ms = 2500·cues in closed
    * form), every doc_id%4==0 row is plain prose (must not parse), and
    * every doc_id%9==2 file swaps the arrow for a malformed one (the
    * timing regexp matches no cue — n_cues 0 while is_srt still sees
    * the leading index/timing shape fail → not srt). */
  val mSrt: Q = (s, d) => {
    import graft.multimodal.Multimodal
    val id = col("doc_id")
    val cues = (id % 5 + 1).cast("int")
    def two(c: org.apache.spark.sql.Column) =
      lpad(c.cast("string"), 2, "0")
    val arrow = when(id % 9 === 2, lit(" ==> ")).otherwise(lit(" --> "))
    val body = array_join(transform(sequence(lit(0), cues - 1), j =>
      concat((j + 1).cast("string"), lit("\n"),
        lit("00:00:"), two(j * 3), lit(",000"), arrow,
        lit("00:00:"), two(j * 3 + 2), lit(",500\n"),
        lit("subtitle line "), j.cast("string"), lit("\n"))), "\n")
    val media = Tables.documents(s, d).select(id)
      .withColumn("payload",
        when(id % 4 === 0, lit("plain prose, no cues here"))
          .otherwise(body).cast("binary"))
    Multimodal.withSrtMeta(media)
      .select(id, col("is_srt"), col("n_cues"), col("cued_ms"))
  }

  val mSrtSql: String =
    """SELECT doc_id,
      |  (doc_id % 4 <> 0 AND doc_id % 9 <> 2) AS is_srt,
      |  (CASE WHEN doc_id % 4 <> 0 AND doc_id % 9 <> 2
      |    THEN doc_id % 5 + 1 ELSE 0 END)::INT AS n_cues,
      |  (CASE WHEN doc_id % 4 <> 0 AND doc_id % 9 <> 2
      |    THEN (doc_id % 5 + 1) * 2500 ELSE 0 END)::BIGINT AS cued_ms
      |FROM documents""".stripMargin

  /** m_tar — TAR archive walk under the oracle gate
    * ([[graft.multimodal.Multimodal.withTarMeta]]): real USTAR archives
    * assembled by [[graft.multimodal.Multimodal.buildUstar]] (valid
    * checksums, zero-block terminator) with doc_id%3+1 members of size
    * doc_id%600 + 7j + 5; every doc_id%4==0 row is prose (must say
    * not_tar), every doc_id%9==2 archive loses its terminator and its
    * last 100 bytes (an interrupted download: the cut member's header
    * is intact and checksum-verified, but its payload span runs past
    * the buffer → truncated=true and only the complete members count).
    * The oracle predicts members and payload bytes in closed form:
    * k complete members carry k·(base+5) + 7·k(k−1)/2 bytes. Per-row
    * narrow byte walk (UDF justified — no builtin hops octal-sized
    * 512-byte blocks), zero Exchange. */
  val mTar: Q = (s, d) => {
    import graft.multimodal.Multimodal
    val build = udf { (id: Long) =>
      if (id % 4 == 0) "plain prose, not an archive".getBytes("US-ASCII")
      else {
        val n = (id % 3 + 1).toInt
        val entries = (0 until n).map(j =>
          (s"d$id/f$j.txt", id % 600 + 7L * j + 5L))
        val full = Multimodal.buildUstar(entries)
        if (id % 9 == 2) full.dropRight(1024 + 100) else full
      }
    }
    val media = Tables.documents(s, d).select(col("doc_id"))
      .withColumn("payload", build(col("doc_id")))
    Multimodal.withTarMeta(media).select(col("doc_id"),
      col("tar_meta.is_tar").as("is_tar"),
      col("tar_meta.n_entries").as("n_entries"),
      col("tar_meta.payload_bytes").as("payload_bytes"),
      col("tar_meta.checksum_ok").as("checksum_ok"),
      col("tar_meta.truncated").as("truncated"))
  }

  val mTarSql: String =
    """WITH b AS (SELECT doc_id,
      |    (doc_id % 3 + 1)::INT AS n, (doc_id % 600)::BIGINT AS base,
      |    (doc_id % 4 = 0) AS prose,
      |    (doc_id % 4 <> 0 AND doc_id % 9 = 2) AS trunc
      |  FROM documents),
      |m AS (SELECT *,
      |    (CASE WHEN prose THEN 0 WHEN trunc THEN n - 1 ELSE n END)::INT AS k
      |  FROM b)
      |SELECT doc_id, NOT prose AS is_tar, k AS n_entries,
      |  (k * (base + 5) + 7 * k * (k - 1) / 2)::BIGINT AS payload_bytes,
      |  NOT prose AS checksum_ok, trunc AS truncated
      |FROM m""".stripMargin

  /** m_warc — WARC record walk under the oracle gate
    * ([[graft.multimodal.Multimodal.withWarcMeta]]): assembled archives
    * of 1–4 records (mixed `response`/`request` types, varying
    * content lengths, version 1.0/1.1 by doc), every 11th doc declaring
    * MORE content than it carries (the interrupted-download case — only
    * fully contained records count, `truncated` flags), every 4th doc
    * plain prose (not WARC). The oracle predicts records, response
    * count, and content bytes in closed form over a generate_series
    * unroll of the generator's arithmetic. */
  val mWarc: Q = (s, d) => {
    import graft.multimodal.Multimodal
    val build = udf { (id: Long) =>
      if (id % 4 == 0) "plain prose, not an archive".getBytes("US-ASCII")
      else {
        val n = (id % 4 + 1).toInt
        val sb = new StringBuilder
        (1 to n).foreach { i =>
          val typ = if ((id + i) % 3 == 0) "request" else "response"
          val len = (id + 7L * i) % 50 + 1
          val declared = if (id % 11 == 5 && i == n) len + 10 else len
          sb.append(s"WARC/1.${id % 2}\r\nWARC-Type: $typ\r\n")
            .append(s"WARC-Record-ID: <urn:uuid:$id-$i>\r\n")
            .append(s"Content-Length: $declared\r\n\r\n")
            .append("x" * len.toInt).append("\r\n\r\n")
        }
        sb.toString.getBytes("US-ASCII")
      }
    }
    val media = Tables.documents(s, d).select(col("doc_id"))
      .withColumn("payload", build(col("doc_id")))
    Multimodal.withWarcMeta(media).select(col("doc_id"),
      col("warc_meta.is_warc").as("is_warc"),
      col("warc_meta.warc_version").as("warc_version"),
      col("warc_meta.n_records").as("n_records"),
      col("warc_meta.n_responses").as("n_responses"),
      col("warc_meta.content_bytes").as("content_bytes"),
      col("warc_meta.truncated").as("truncated"))
  }

  val mWarcSql: String =
    """WITH d AS (SELECT doc_id, (doc_id % 4 + 1)::INT AS n,
      |    (doc_id % 4 = 0) AS prose, (doc_id % 11 = 5) AS tr
      |  FROM documents),
      |r AS (SELECT d.doc_id, d.n, d.tr, i.i AS i,
      |    (d.doc_id + 7 * i.i) % 50 + 1 AS len,
      |    CASE WHEN (d.doc_id + i.i) % 3 <> 0 THEN 1 ELSE 0 END AS resp,
      |    (NOT d.tr OR i.i < d.n) AS kept
      |  FROM d, generate_series(1, 4) AS i(i) WHERE i.i <= d.n),
      |a AS (SELECT doc_id,
      |    sum(CASE WHEN kept THEN 1 ELSE 0 END)::INT AS recs,
      |    sum(CASE WHEN kept THEN resp ELSE 0 END)::INT AS resps,
      |    sum(CASE WHEN kept THEN len ELSE 0 END)::BIGINT AS bytes
      |  FROM r GROUP BY 1)
      |SELECT d.doc_id, NOT d.prose AS is_warc,
      |  CASE WHEN NOT d.prose THEN '1.' || (d.doc_id % 2)::VARCHAR END
      |    AS warc_version,
      |  (CASE WHEN d.prose THEN 0 ELSE a.recs END)::INT AS n_records,
      |  (CASE WHEN d.prose THEN 0 ELSE a.resps END)::INT AS n_responses,
      |  (CASE WHEN d.prose THEN 0 ELSE a.bytes END)::BIGINT
      |    AS content_bytes,
      |  (NOT d.prose AND d.tr) AS truncated
      |FROM d JOIN a USING (doc_id)""".stripMargin

  /** p_warc_ingest — the COMPOSED web-ingest front door
    * ([[graft.multimodal.Multimodal.warcResponses]] →
    * [[graft.pipeline.Corpus.htmlStrip]]): WARC archives walk to their
    * `response` records, each page's HTML content extracts (UTF-8),
    * and the batch HTML stripper runs downstream — the first two
    * stages of a Common-Crawl-shaped pipeline as ONE gated plan
    * (request records and non-WARC payloads contribute no rows; the
    * script block inside a page carries a bare `<` that tag-stripping
    * alone would mangle — block removal ordering is load-bearing).
    * Keys are doc_id·10 + record index; the oracle predicts every
    * extracted page and its stripped form in closed form. */
  /** The p_warc_ingest / st_warc fixture archive for one doc — shared
    * by the batch UDF and the streaming replay's driver-side rows. */
  private def warcFixturePayload(id: Long): Array[Byte] =
    if (id % 4 == 0) "plain text, not an archive".getBytes("US-ASCII")
    else {
      val n = (id % 3 + 1).toInt
      val sb = new StringBuilder
      (1 to n).foreach { i =>
        val isResp = (id + i) % 2 == 1
        val typ = if (isResp) "response" else "request"
        val body =
          if (isResp) s"<html><body><p>w$id x$i &amp; more</p>" +
            "<script>var j = 1 < 2;</script> tail</body></html>"
          else s"q=$i"
        sb.append(s"WARC/1.0\r\nWARC-Type: $typ\r\n" +
          s"Content-Length: ${body.length}\r\n\r\n$body\r\n\r\n")
      }
      sb.toString.getBytes("US-ASCII")
    }

  /** The WARC→extract→strip pipeline body, shared batch/stream. */
  private def warcIngestPipe(media: DataFrame): DataFrame = {
    import graft.multimodal.Multimodal
    Corpus.htmlStrip(Multimodal.warcResponses(media).select(
      (col("doc_id") * 10 + col("rec_idx")).as("doc_id"),
      col("content").as("text")))
  }

  val pWarcIngest: Q = (s, d) => {
    val build = udf(warcFixturePayload _)
    warcIngestPipe(Tables.documents(s, d).select(col("doc_id"))
      .withColumn("payload", build(col("doc_id"))))
  }

  /** st_warc — the web-ingest front door ON THE STREAM (r14b): WARC
    * extraction and HTML stripping are stateless (a per-row byte walk
    * + Column code), so the exact batch pipeline runs on a streaming
    * frame unchanged — the st_html / st_bloom posture, now covering
    * the archive-container stage too; gate shares p_warc_ingest's
    * closed-form oracle verbatim. */
  val stWarc: Q = (s, d) => {
    import s.implicits._
    val rows = Tables.documents(s, d).select(col("doc_id")).as[Long]
      .collect().sorted.toSeq.map(id => (id, warcFixturePayload(id)))
    StreamReplay.replay(s, rows, "st_warc", "append") { df =>
      warcIngestPipe(df.toDF("doc_id", "payload"))
    }
  }

  val pWarcIngestSql: String =
    """WITH d AS (SELECT doc_id, (doc_id % 3 + 1)::INT AS n
      |  FROM documents WHERE doc_id % 4 <> 0),
      |r AS (SELECT d.doc_id, i.i AS i
      |  FROM d, generate_series(1, 4) AS i(i)
      |  WHERE i.i <= d.n AND (d.doc_id + i.i) % 2 = 1),
      |h AS (SELECT doc_id * 10 + i AS k,
      |    '<html><body><p>w' || doc_id || ' x' || i ||
      |    ' &amp; more</p><script>var j = 1 < 2;</script> tail</body></html>' AS t2,
      |    'w' || doc_id || ' x' || i || ' & more tail' AS clean
      |  FROM r)
      |SELECT k AS doc_id, clean AS text_clean, 6::BIGINT AS n_tags,
      |  1::BIGINT AS n_entities,
      |  (1000000 * length(clean) // length(t2))::BIGINT AS kept_ppm
      |FROM h""".stripMargin

  /** m_corrupt — TRUNCATION TOLERANCE under the oracle gate: every 5th
    * document's payload is cut to its first 10 bytes (mid-header), and
    * the sniffers/walkers must DEGRADE deterministically — never throw,
    * never fabricate: a truncated PNG keeps its magic (sniff 'png') but
    * yields no header dims; a truncated WAV still opens as RIFF but its
    * form type is gone (sniff falls back to 'riff', the audio walk says
    * 'not_wav'); a truncated JPEG finds its SOF marker but the frame
    * fields run past the buffer, so dims stay null with no exception.
    * The oracle predicts every degradation in closed form — this is the
    * corrupt-input contract of the multimodal pillar as a driver-checked
    * gate, not a comment. */
  val mCorrupt: Q = (s, d) => {
    import graft.multimodal.Multimodal
    val id = col("doc_id")
    val full = syntheticMediaPayload(id)
    val media = Tables.documents(s, d).select(id)
      .withColumn("payload",
        when(id % 5 === 0, substring(full, 1, 10)).otherwise(full))
    val parsed = Multimodal.withAudioMeta(Multimodal.withHeaderMeta(media))
    parsed.select(id,
      Multimodal.sniffFormat(col("payload")).as("sniffed"),
      col("header_meta.format").as("hformat"),
      col("audio_meta.format").as("aformat"),
      col("header_meta.width").as("width"),
      col("audio_meta.channels").as("channels"))
  }

  val mCorruptSql: String =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 3 = 0 THEN 'png'
      |       WHEN doc_id % 3 = 1 THEN (CASE WHEN doc_id % 5 = 0 THEN 'riff' ELSE 'wav' END)
      |       ELSE 'jpeg' END AS sniffed,
      |  CASE WHEN doc_id % 3 = 0 THEN (CASE WHEN doc_id % 5 = 0 THEN 'unknown' ELSE 'png' END)
      |       WHEN doc_id % 3 = 1 THEN 'unknown'
      |       ELSE 'jpeg' END AS hformat,
      |  CASE WHEN doc_id % 3 = 1 AND doc_id % 5 <> 0 THEN 'wav' ELSE 'not_wav' END AS aformat,
      |  CASE WHEN doc_id % 3 <> 1 AND doc_id % 5 <> 0 THEN CAST(doc_id % 1920 + 16 AS INTEGER) END AS width,
      |  CASE WHEN doc_id % 3 = 1 AND doc_id % 5 <> 0 THEN CAST(doc_id % 2 + 1 AS INTEGER) END AS channels
      |FROM documents""".stripMargin

  /** m_video — the MP4/ISO-BMFF box walk under the oracle gate, same
    * build-vs-parse independence as [[mHeaders]]: an in-plan synthetic
    * `ftyp` + `moov(mvhd)` chain per document, with doc_id parity
    * selecting the mvhd VERSION (even → v0 with u32 duration, odd → v1
    * with u64 duration — the truncation-guard path a review fix just
    * touched). timescale and duration are doc_id arithmetic; the oracle
    * predicts duration_ms = duration·1000/timescale exactly (duration is
    * a multiple of timescale by construction). */
  val mVideo: Q = (s, d) => {
    import graft.multimodal.Multimodal
    val id = col("doc_id")
    val timescale = (id % 5 + 1) * lit(1000L)
    val secs = id % 60 + 1
    val dur = timescale * secs
    def be32(c: org.apache.spark.sql.Column) =
      unhex(lpad(hex(c.cast("long")), 8, "0"))
    def be64(c: org.apache.spark.sql.Column) =
      unhex(lpad(hex(c.cast("long")), 16, "0"))
    def b(bytes: Int*) = lit(bytes.map(_.toByte).toArray)
    val ftyp = concat(be32(lit(16)), lit("ftyp".getBytes),
      lit("isom".getBytes), be32(lit(512)))
    // mvhd v0: size 8+4+8+4+4 = no — header(8) + version/flags(4) +
    // ctime/mtime(8) + timescale(4) + duration(4) = 28 bytes total
    val mvhdV0 = concat(be32(lit(28)), lit("mvhd".getBytes),
      be32(lit(0)), be32(lit(0)), be32(lit(0)), be32(timescale), be32(dur))
    // mvhd v1: header(8) + version/flags(4) + ctime/mtime(16) +
    // timescale(4) + duration(8) = 40 bytes total
    val mvhdV1 = concat(be32(lit(40)), lit("mvhd".getBytes),
      b(0x01, 0, 0, 0), be64(lit(0)), be64(lit(0)), be32(timescale), be64(dur))
    val mvhd = when(id % 2 === 0, mvhdV0).otherwise(mvhdV1)
    val moov = concat(be32(length(mvhd) + 8), lit("moov".getBytes), mvhd)
    val media = Tables.documents(s, d).select(id)
      .withColumn("payload", concat(ftyp, moov))
    Multimodal.withVideoMeta(media).select(id,
      col("video_meta.format").as("format"),
      col("video_meta.major_brand").as("major_brand"),
      col("video_meta.timescale").as("timescale"),
      col("video_meta.duration_ms").as("duration_ms"))
  }

  val mVideoSql: String =
    """SELECT doc_id, 'mp4' AS format, 'isom' AS major_brand,
      |  CAST((doc_id % 5 + 1) * 1000 AS BIGINT) AS timescale,
      |  CAST((doc_id % 60 + 1) * 1000 AS BIGINT) AS duration_ms
      |FROM documents""".stripMargin

  /** m_flac — FLAC STREAMINFO parsing
    * ([[graft.multimodal.Multimodal.withFlacMeta]]) under the oracle
    * gate (the m_headers discipline: in-plan synthetic payloads built
    * by an independent bit-packing spelling, closed-form prediction):
    * the 64-bit packed rate/channels/bps/samples tail round-trips
    * through the parser's bit unpacking; every 7th payload is
    * TRUNCATED mid-magic and must degrade to `not_flac` with nulls. */
  val mFlac: Q = (s, d) => {
    import graft.multimodal.Multimodal
    val id = col("doc_id")
    val rate = (id % 5 * 8000 + 8000).cast("long")
    val ch = (id % 2 + 1).cast("long")
    val secs = (id % 30 + 1).cast("long")
    val samples = secs * rate
    // 20 bits rate | 3 bits channels-1 | 5 bits bps-1 (16) | 36 bits samples
    val packed = shiftleft(rate, 44) + shiftleft(ch - 1, 41) +
      shiftleft(lit(15L), 36) + samples
    def be64(c: org.apache.spark.sql.Column) = unhex(lpad(hex(c), 16, "0"))
    val full = concat(lit("fLaC".getBytes),
      unhex(lit("80000022")), // last-block flag | STREAMINFO, len 34
      unhex(lit("10001000")), // min/max blocksize 4096
      unhex(lit("000000000000")), // min/max framesize unknown
      be64(packed),
      unhex(lit("00" * 16))) // MD5 placeholder
    val media = Tables.documents(s, d).select(id)
      .withColumn("payload0", full)
      .withColumn("payload",
        when(id % 7 === 0, expr("substring(payload0, 1, 6)"))
          .otherwise(col("payload0")))
    Multimodal.withFlacMeta(media).select(id,
      col("flac_meta.format").as("format"),
      col("flac_meta.channels").as("channels"),
      col("flac_meta.sample_rate").as("sample_rate"),
      col("flac_meta.bits_per_sample").as("bits_per_sample"),
      col("flac_meta.total_samples").as("total_samples"),
      col("flac_meta.duration_ms").as("duration_ms"))
  }

  val mFlacSql: String =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 7 = 0 THEN 'not_flac' ELSE 'flac' END AS format,
      |  CASE WHEN doc_id % 7 = 0 THEN NULL ELSE (doc_id % 2 + 1)::INT END AS channels,
      |  CASE WHEN doc_id % 7 = 0 THEN NULL ELSE (doc_id % 5 * 8000 + 8000)::INT END AS sample_rate,
      |  CASE WHEN doc_id % 7 = 0 THEN NULL ELSE 16::INT END AS bits_per_sample,
      |  CASE WHEN doc_id % 7 = 0 THEN NULL
      |    ELSE ((doc_id % 30 + 1) * (doc_id % 5 * 8000 + 8000))::BIGINT END AS total_samples,
      |  CASE WHEN doc_id % 7 = 0 THEN NULL
      |    ELSE ((doc_id % 30 + 1) * 1000)::BIGINT END AS duration_ms
      |FROM documents""".stripMargin

  /** m_mp3 — ID3v2 + MPEG frame-header parsing
    * ([[graft.multimodal.Multimodal.withMp3Meta]]) under the oracle
    * gate (the m_headers discipline): in-plan synthetic payloads — an
    * ID3v2.3 header whose SYNCSAFE size (doc_id%10) the parser must
    * skip, zero tag padding built by an independent spelling
    * (substring of a constant zero run), then an MPEG-1 Layer III
    * frame header exercising all 14 bitrate indices, 3 sample rates
    * and 4 channel modes; every 7th payload TRUNCATED mid-tag must
    * degrade to `not_mp3` with nulls. */
  val mMp3: Q = (s, d) => {
    import graft.multimodal.Multimodal
    val id = col("doc_id")
    val tagSize = id % 10
    def byte(c: org.apache.spark.sql.Column) = unhex(lpad(hex(c), 2, "0"))
    val b2 = (id % 14 + 1) * 16 + (id % 3) * 4 // brIdx<<4 | srIdx<<2
    val b3 = (id % 4) * 64 // channel mode<<6
    val full = concat(lit("ID3".getBytes), unhex(lit("030000")),
      unhex(lit("000000")), byte(tagSize), // syncsafe size < 128
      expr("substring(x'00000000000000000000', 1, doc_id % 10)"),
      unhex(lit("FFFB")), byte(b2), byte(b3))
    val media = Tables.documents(s, d).select(id)
      .withColumn("payload",
        when(id % 7 === 0, substring(full, 1, 6)).otherwise(full))
    Multimodal.withMp3Meta(media).select(id,
      col("mp3_meta.format").as("format"),
      col("mp3_meta.id3_version").as("id3_version"),
      col("mp3_meta.tag_size").as("tag_size"),
      col("mp3_meta.mpeg_version").as("mpeg_version"),
      col("mp3_meta.layer").as("layer"),
      col("mp3_meta.bitrate_kbps").as("bitrate_kbps"),
      col("mp3_meta.sample_rate").as("sample_rate"),
      col("mp3_meta.channel_mode").as("channel_mode"))
  }

  val mMp3Sql: String =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 7 = 0 THEN 'not_mp3' ELSE 'mp3' END AS format,
      |  CASE WHEN doc_id % 7 = 0 THEN NULL ELSE 3::INT END AS id3_version,
      |  CASE WHEN doc_id % 7 = 0 THEN NULL ELSE (doc_id % 10)::INT END AS tag_size,
      |  CASE WHEN doc_id % 7 = 0 THEN NULL ELSE '1' END AS mpeg_version,
      |  CASE WHEN doc_id % 7 = 0 THEN NULL ELSE 3::INT END AS layer,
      |  CASE WHEN doc_id % 7 = 0 THEN NULL
      |    ELSE ([32,40,48,56,64,80,96,112,128,160,192,224,256,320])[(doc_id % 14)::INT + 1]::INT END AS bitrate_kbps,
      |  CASE WHEN doc_id % 7 = 0 THEN NULL
      |    ELSE ([44100,48000,32000])[(doc_id % 3)::INT + 1]::INT END AS sample_rate,
      |  CASE WHEN doc_id % 7 = 0 THEN NULL
      |    ELSE (['stereo','joint_stereo','dual_channel','mono'])[(doc_id % 4)::INT + 1] END AS channel_mode
      |FROM documents""".stripMargin

  /** p_media_mix — the CROSS-PILLAR composition: a multimodal ingest
    * screen (drop payloads whose header parse failed — the m_corrupt
    * degradation becomes a FILTER) joined with the text-quality gate
    * over the side text, in one declared query — what a multimodal
    * training-data prep run actually does before any decode. All narrow
    * maps + one filter; the oracle composes the closed-form media
    * predictions with the standard quality spelling. */
  val pMediaMix: Q = (s, d) => {
    import graft.multimodal.Multimodal
    val id = col("doc_id")
    val full = syntheticMediaPayload(id)
    val media = Tables.documents(s, d).select(id, col("text"))
      .withColumn("payload",
        when(id % 5 === 0, substring(full, 1, 10)).otherwise(full))
    Multimodal.withAudioMeta(Multimodal.withHeaderMeta(media))
      .filter(col("header_meta.width").isNotNull ||
        col("audio_meta.sample_rate").isNotNull)
      .withColumn("quality", TextFunctions.qualityScore(col("text")))
      .filter(col("quality") >= 0.2)
      .select(id,
        Multimodal.sniffFormat(col("payload")).as("format"),
        coalesce(col("header_meta.width"), col("audio_meta.sample_rate"))
          .as("dim"),
        round(col("quality"), 4).as("quality"))
  }

  lazy val pMediaMixSql: String =
    s"""WITH q AS (SELECT doc_id, text, $qualityExprSql AS quality FROM documents)
       |SELECT doc_id,
       |  CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'wav' ELSE 'jpeg' END AS format,
       |  CASE WHEN doc_id % 3 = 1 THEN CAST(doc_id % 5 * 8000 + 8000 AS INTEGER)
       |       ELSE CAST(doc_id % 1920 + 16 AS INTEGER) END AS dim,
       |  round(quality, 4) AS quality
       |FROM q
       |WHERE doc_id % 5 <> 0 AND quality >= 0.2""".stripMargin

  // -------------------------------------------------------- streaming gate

  private val stSinkSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** st_window — the streaming pillar under the oracle gate: the events
    * table replayed through [[graft.streaming.Streams.streamingKmvDistinct]]
    * as three event-time-ordered micro-batches (MemoryStream), so the
    * per-window KMV state genuinely MERGES across batches; the DuckDB
    * oracle computes the same per-window estimate with the batch KMV
    * spelling (q14's min-k construction, windowed). Stream ≡ batch is the
    * design invariant (state re-estimates through the same
    * [[graft.pipeline.Sketches.kmvSpec]]); the KMV estimate is monotone
    * non-decreasing as hashes accumulate, so max-per-window selects each
    * window's final (fully-merged) emit. Windows are 7-day tumbling,
    * emitted as epoch micros (the q39 trick). */
  /** Event-time-ordered replay rows for the st_* gates: nothing ever
    * arrives behind the watermark, so no row is late-dropped and
    * stream ≡ batch holds. (Collected at the driver BY DESIGN — see
    * [[StreamReplay]]'s harness contract.) */
  private def eventsOrdered(s: SparkSession, d: String)
      : Seq[graft.streaming.Streams.Event] = {
    import s.implicits._
    Tables.events(s, d)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .as[graft.streaming.Streams.Event].collect()
      .sortBy(e => (e.ts.getTime, e.event_id)).toSeq
  }

  /** st_funnel — the streaming conversion funnel
    * ([[graft.streaming.Streams.streamingFunnel]]) through the
    * micro-batch replay: per-user flatMapGroupsWithState step machine,
    * events arriving in event-time order across 6 batches — so step
    * completions SPAN batches (a user's view lands batches before the
    * click that advances them) and the monotone state must carry. The
    * oracle is the batch funnel chain emitting each user's completion
    * times. */
  val stFunnel: Q = (s, d) => {
    import s.implicits._
    import graft.streaming.Streams
    StreamReplay.replay(s, eventsOrdered(s, d), "st_funnel", "append",
      batches = 6) {
      df => Streams.streamingFunnel(df.as[Streams.Event],
        Seq("view", "click", "signup", "purchase")).toDF()
    }
  }

  val stFunnelSql: String =
    """WITH s1 AS (SELECT user_id, min(epoch_us(ts)) AS t FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t FROM events e
      |  JOIN s1 p ON e.user_id = p.user_id
      |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > p.t GROUP BY e.user_id),
      |s3 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t FROM events e
      |  JOIN s2 p ON e.user_id = p.user_id
      |  WHERE e.event_type = 'signup' AND epoch_us(e.ts) > p.t GROUP BY e.user_id),
      |s4 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t FROM events e
      |  JOIN s3 p ON e.user_id = p.user_id
      |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > p.t GROUP BY e.user_id)
      |SELECT user_id, 1::INT AS step, 'view' AS event_type, t AS us FROM s1
      |UNION ALL SELECT user_id, 2, 'click', t FROM s2
      |UNION ALL SELECT user_id, 3, 'signup', t FROM s3
      |UNION ALL SELECT user_id, 4, 'purchase', t FROM s4""".stripMargin

  /** st_retention — streaming cohort emission
    * ([[graft.streaming.Streams.streamingCohorts]]): per-user
    * (cohort, seen-weeks bitmask) state over the high-value-purchase
    * stream, batch-aggregated from the emitted (user, offset) pairs to
    * the SAME cohort table the batch operator produces — so the gate
    * shares e_retention's oracle verbatim. */
  val stRetention: Q = (s, d) => {
    import s.implicits._
    import graft.streaming.Streams
    val evs = eventsOrdered(s, d)
      .filter(e => e.event_type == "purchase" && e.value > 90)
    val sink = StreamReplay.replay(s, evs, "st_retention", "append",
      batches = 6) {
      df => {
        import s.implicits._
        Streams.streamingCohorts(df.as[Streams.Event]).toDF()
      }
    }
    // week-0 size via a cohort window, not a sink self-join (the memory
    // sink's attributes conflict when joined to themselves)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("cohort_us")
    sink.groupBy(col("cohort_us"), col("week_offset"))
      .agg(count(lit(1)).as("users"))
      .withColumn("cohort_size",
        max(when(col("week_offset") === 0, col("users"))).over(w))
      .select(
        date_format(timestamp_micros(col("cohort_us")), "yyyy-MM-dd")
          .as("cohort"),
        col("week_offset"), col("users"),
        round(col("users").cast("double") / col("cohort_size"), 6).as("rate"))
  }

  /** st_markov — streaming event-type transitions
    * ([[graft.streaming.Streams.streamingTransitions]]): per-user
    * last-event state across 6 micro-batches (transitions SPAN
    * batches), emitted pairs batch-aggregated into the same matrix as
    * e_markov MINUS the "(end)" rows — a stream never ends, so the
    * oracle drops terminal transitions rather than inventing them. */
  val stMarkov: Q = (s, d) => {
    import s.implicits._
    val sink = StreamReplay.replay(s, eventsOrdered(s, d), "st_markov",
      "append", batches = 6) {
      df => graft.streaming.Streams
        .streamingTransitions(df.as[graft.streaming.Streams.Event]).toDF()
    }
    sink.groupBy(col("prev_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("prev_type"), col("next_type"), col("n"),
        round(col("n").cast("double") / sum(col("n"))
          .over(Window.partitionBy("prev_type")), 6).as("p"))
  }

  val stMarkovSql: String =
    """WITH pairs AS (SELECT event_type AS prev_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      |  FROM events),
      |c AS (SELECT prev_type, next_type, count(*)::BIGINT AS n
      |  FROM pairs WHERE next_type IS NOT NULL GROUP BY 1, 2)
      |SELECT prev_type, next_type, n,
      |  round(n::DOUBLE / sum(n) OVER (PARTITION BY prev_type), 6) AS p
      |FROM c""".stripMargin

  val stWindow: Q = (s, d) => {
    import s.implicits._
    StreamReplay.replay(s, eventsOrdered(s, d), "st_window", "update") {
      df => graft.streaming.Streams.streamingKmvDistinct(df,
        col("user_id").cast("string"), 64, "7 days", "10 minutes").toDF()
    }
      .select(unix_micros(col("window_start")).as("ws_us"),
        col("est_distinct"))
      .groupBy(col("ws_us"))
      .agg(max(col("est_distinct")).as("est_distinct"))
  }

  /** st_join — the watermarked stream-stream INTERVAL join under the
    * oracle gate ([[graft.streaming.Streams.intervalJoin]]): view events
    * paired with same-user click events within 24 hours, both sides
    * replayed as event-time-ordered micro-batches so join state builds
    * and matches across batch boundaries; the oracle is the equivalent
    * batch self-join with the same time-range predicate. Inner-join
    * matches emit as soon as both rows arrive (append mode holds nothing
    * back), so the memory sink holds exactly the batch answer. */
  // two-source stream-stream join: the one st_* gate the single-stream
  // StreamReplay.replay can't drive (both sides must advance per batch)
  val stJoin: Q = (s, d) => {
    import s.implicits._
    import graft.streaming.Streams
    val evs = eventsOrdered(s, d)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val left = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Streams.Event]
    val right = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Streams.Event]
    val joined = Streams.intervalJoin(
      left.toDF().filter(col("event_type") === "view"),
      right.toDF().filter(col("event_type") === "click"),
      watermark = "10 minutes", rangeSeconds = 86400L)
    val name = s"st_join_out_${stSinkSeq.incrementAndGet()}"
    val q = joined.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      evs.grouped(math.max(1, evs.length / 3 + 1)).foreach { chunk =>
        left.addData(chunk.toSeq: _*)
        right.addData(chunk.toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    s.table(name).select(col("user_id"),
      col("left_id"), col("right_id"),
      unix_micros(col("left_ts")).as("l_us"),
      unix_micros(col("right_ts")).as("r_us"))
  }

  val stJoinSql: String =
    """SELECT l.user_id, l.event_id AS left_id, r.event_id AS right_id,
      |  epoch_us(l.ts) AS l_us, epoch_us(r.ts) AS r_us
      |FROM events l JOIN events r ON l.user_id = r.user_id
      |WHERE l.event_type = 'view' AND r.event_type = 'click'
      |  AND epoch_us(r.ts) >= epoch_us(l.ts)
      |  AND epoch_us(r.ts) <= epoch_us(l.ts) + 86400000000""".stripMargin

  /** st_session — NATIVE `session_window` sessionization under the
    * oracle gate ([[graft.streaming.Streams.sessionizeEventTime]]):
    * events replayed in event-time order as micro-batches; append mode
    * emits each session exactly once when the watermark passes its
    * close, so a far-future SENTINEL event (filtered from the output,
    * absent from the oracle) advances the global watermark past every
    * real session's close and flushes the tail. The oracle is the batch
    * gap-split (q16's spelling) with session_window's boundary rule —
    * a gap of EXACTLY the session gap starts a new session (windows are
    * [start, last+gap)) — and end = last event + gap. */
  val stSession: Q = (s, d) => {
    import s.implicits._
    import graft.streaming.Streams
    val evs = eventsOrdered(s, d)
    val maxTs = evs.map(_.ts.getTime).max
    StreamReplay.replay(s, evs, "st_session", "append",
      tail = Seq(Streams.Event(-1L,
        new java.sql.Timestamp(maxTs + 4L * 3600 * 1000), -1L,
        "sentinel", 0.0))) {
      df => Streams.sessionizeEventTime(df,
        gap = "30 minutes", watermarkDelay = "10 minutes")
    }
      .filter(col("user_id") =!= -1L)
      .select(col("user_id"),
        unix_micros(col("session_start")).as("ss_us"),
        unix_micros(col("session_end")).as("se_us"),
        col("events"),
        round(col("total_value"), 4).as("total_value"))
  }

  val stSessionSql: String =
    """WITH e AS (SELECT user_id, event_id, ts, value,
      |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |         OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) >= 1800000000
      |       THEN 1 ELSE 0 END AS new_sess
      |  FROM events),
      |s AS (SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |        ROWS UNBOUNDED PRECEDING) AS si FROM e)
      |SELECT user_id, min(epoch_us(ts)) AS ss_us,
      |  max(epoch_us(ts)) + 1800000000 AS se_us,
      |  count(*)::BIGINT AS events,
      |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 4) AS total_value
      |FROM s GROUP BY user_id, si""".stripMargin

  /** st_ingest — the foreachBatch GRAPH-INGEST write path under the
    * oracle gate ([[graft.streaming.Streams.graphIngest]]): every
    * customer becomes a 3-phase symbol-event chain (a `none` reference
    * stub with a placeholder prop → the real CLASS definition with a
    * second prop → a prop-only update), and the THREE PHASES ARRIVE AS
    * THREE SEPARATE MICRO-BATCHES, so last-write-wins, `none`→kind
    * promotion, and key-wise prop overwrite must all hold ACROSS the
    * per-batch snapshot upserts (the A1/A2/A3 cross-batch claim). The
    * final snapshot is read back and compared to the oracle's closed-form
    * prediction of the merge outcome — pure arithmetic over `customer`,
    * because the semantics resolve deterministically. */
  val stIngest: Q = (s, d) => {
    import s.implicits._
    import graft.model.{Kind, SymbolEvent}
    import graft.streaming.Streams
    val custs = Tables.customer(s, d)
      .select(col("c_custkey").cast("long"), col("c_name"),
        col("c_nationkey").cast("long"))
      .as[(Long, String, Long)].collect().sortBy(_._1)
    def ev(key: Long, name: String, nat: Long, phase: Int): SymbolEvent =
      phase match {
        case 0 => SymbolEvent(key * 3 + 1, "t1", Kind.None_, s"cust.$key",
          s"ref$key", None, None, None, None, Map("seen" -> "ref"))
        case 1 => SymbolEvent(key * 3 + 2, "t1", Kind.Class, s"cust.$key",
          name, None, None, None, None, Map("nat" -> nat.toString))
        case _ => SymbolEvent(key * 3 + 3, "t1", Kind.None_, s"cust.$key",
          name, None, None, None, None, Map("seen" -> "upd"))
      }
    val dir = java.nio.file.Files.createTempDirectory("graft-st-ingest").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[SymbolEvent]
    val q = Streams.graphIngest(mem.toDS(), dir)
    try {
      (0 to 2).foreach { phase =>
        mem.addData(custs.map { case (k, n, nat) => ev(k, n, nat, phase) }: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val out = graft.store.Snapshot.read(s, dir).nodes
      .select(col("full_name"), col("kind"), col("name"),
        element_at(col("props"), "seen").as("seen"),
        element_at(col("props"), "nat").as("nat"))
      .pin(eager = true)
    // the snapshot is fully materialized above, so the per-invocation
    // temp tree can go now instead of accumulating across Verify runs
    deleteRecursively(new java.io.File(dir))
    out
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  val stIngestSql: String =
    """SELECT 'cust.' || c_custkey AS full_name, 'CLASS' AS kind,
      |  c_name AS name, 'upd' AS seen, c_nationkey::VARCHAR AS nat
      |FROM customer""".stripMargin

  /** st_screen — the stateless streaming corpus screen under the oracle
    * gate ([[graft.streaming.Streams.streamingCorpusScreen]]): the same
    * PII-augmented documents as t_pii_redact flow through the screen
    * (scrub + quality gate) as three micro-batches. Stateless Column
    * expressions run verbatim in both modes, so the memory sink holds
    * exactly the batch answer; the oracle composes t_pii's redaction
    * chain with the quality spelling and gate. */
  val stScreen: Q = (s, d) => {
    import s.implicits._
    import graft.streaming.Streams
    val docs = Tables.documents(s, d)
      .select(col("doc_id"),
        concat(col("text"),
          lit(" Contact user"), col("doc_id").cast("string"),
          lit("@example.com or 10.0."),
          pmod(col("doc_id"), lit(256)).cast("string"),
          lit(".7, tel 555-123-4567.")).as("text"))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    StreamReplay.replay(s, docs, "st_screen", "append") {
      df => Streams.streamingCorpusScreen(
        df.toDF("doc_id", "text"), minQuality = 0.2)
    }
      .select(col("doc_id"), round(col("quality"), 4).as("quality"),
        col("n_emails"), col("n_ips"), col("n_phones"),
        md5(col("redacted")).as("redacted_md5"))
  }

  /** st_dedup — [[graft.streaming.Streams.streamingExactDedup]] through
    * the micro-batch replay harness: documents stream in doc_id order
    * (synthetic event time = epoch + doc_id MILLIseconds, so even a
    * 1M-doc corpus spans ~17 min — comfortably inside the 1 h watermark
    * at any verify scale, and the second pass can never arrive behind
    * the watermark and be dropped as late data instead of deduped) and
    * the query must emit EXACTLY one row per distinct text. The gate projects the
    * fingerprint only: which duplicate survives inside a micro-batch is
    * engine-scheduling dependent (dropDuplicates keeps an arbitrary
    * first), but the emitted fingerprint SET is not. */
  /** st_neardup — streaming MinHash-LSH near-dup screening
    * ([[graft.streaming.Streams.streamingNearDup]]): the corpus streams
    * once in doc_id order across 6 micro-batches; per-(band, bucket)
    * state accumulates and every arriving doc screens against it. The
    * post-sink DISTINCT (a pair can collide in several bands)
    * reproduces the batch d_minhash_lsh pair set row-for-row — the two
    * share one oracle. */
  val stNearDup: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    StreamReplay.replay(s, docs, "st_neardup", "append", batches = 6) {
      df => graft.streaming.Streams.streamingNearDup(
        df.toDF("doc_id", "text"), k = 5, numHashes = 16, bands = 4,
        threshold = 0.25).toDF()
    }.distinct()
  }

  /** st_neardup_inc — the PRODUCTION streaming near-dup screen
    * ([[graft.streaming.Streams.streamingNearDupScreen]]): the odd-half
    * corpus streams in 3 micro-batches against the PERSISTED even-half
    * banded-signature table ([[GraphTables.lshBase16x4]]) via a
    * STATELESS stream-static join — zero state rows at any corpus size
    * (StreamsSpec pins `stateOperators` empty), the bound the unbounded
    * st_neardup twin documents away. Batch-split invariant by
    * construction (no cross-row state), so the oracle is the plain
    * batch×base SQL join. */
  val stNearDupInc: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"))
      .filter(col("doc_id") % 2 === 1)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    val base = GraphTables.lshBase16x4(s, d)
    StreamReplay.replay(s, docs, "st_neardup_inc", "append", batches = 3) {
      df => graft.streaming.Streams.streamingNearDupScreen(
        df.toDF("doc_id", "text"), base, k = 5, numHashes = 16, bands = 4,
        threshold = 0.25)
    }.distinct()
  }

  val stNearDupIncSql: String =
    s"""WITH sh AS (SELECT doc_id, $shingleHashesSql AS hashes FROM documents),
       |sig AS (SELECT doc_id, list_transform(range(1, 17), i ->
       |        list_min(list_transform(hashes, h -> (h * (2*i+1) + 104729*i) % 2147483647))) AS sig FROM sh),
       |banded AS (SELECT doc_id, sig, unnest(list_transform(range(0, 4), b ->
       |        {'band': b, 'bucket': array_to_string(list_slice(sig, b*4+1, b*4+4), '_')})) AS u FROM sig)
       |SELECT DISTINCT x.doc_id AS doc_id, y.doc_id AS base_id,
       |  round(len(list_filter(range(1,17), i -> x.sig[i] = y.sig[i]))::DOUBLE / 16, 4) AS est_jaccard
       |FROM banded x JOIN banded y
       |  ON x.u.band = y.u.band AND x.u.bucket = y.u.bucket
       | AND x.doc_id % 2 = 1 AND y.doc_id % 2 = 0
       |WHERE round(len(list_filter(range(1,17), i -> x.sig[i] = y.sig[i]))::DOUBLE / 16, 4) >= 0.25""".stripMargin

  /** st_bloom — the Bloom ingest screen AS A STREAM: production runs
    * [[graft.pipeline.Dedup.bloomScreen]] on the arriving batch stream,
    * and because the screen is a narrow select + two broadcast probes of
    * the PERSISTED bit set ([[GraphTables.bloomBits4096]]), it runs on a
    * streaming DataFrame unchanged — stream-static joins, STATELESS
    * (the st_neardup_inc posture). Batch-split invariant by
    * construction; shares d_bloom_screen's oracle verbatim. */
  val stBloom: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"))
      .filter(col("doc_id") % 2 === 1)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    val bits = GraphTables.bloomBits4096(s, d)
    StreamReplay.replay(s, docs, "st_bloom", "append", batches = 3) {
      df => Dedup.bloomScreen(bits, df.toDF("doc_id", "text"))
        .select(col("doc_id"), col("maybe_dup"))
    }
  }

  /** st_bloom_refresh — CONTINUOUS Bloom-base maintenance
    * ([[graft.streaming.Streams.bloomRefreshIngest]], closing the
    * st_bloom loop): the odd-doc stream screens each micro-batch
    * against the CURRENT set (persisted even-doc base + earlier
    * batches) then ORs its own bits in via foreachBatch. Bit-OR is
    * additive/idempotent, so the final maintained set is batch-split
    * invariant and provably ≡ bloomBits over base ∪ stream — the
    * oracle rebuilds exactly that from the shared rolling hash. */
  val stBloomRefresh: Q = (s, d) => {
    import s.implicits._
    import graft.streaming.Streams
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"))
      .filter(col("doc_id") % 2 === 1)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    val bits0 = GraphTables.bloomBits4096(s, d).select(col("bit"))
      .as[Long].collect().toSet
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val (q, getBits, _) = Streams.bloomRefreshIngest(
      mem.toDF().toDF("doc_id", "text"), bits0)
    try {
      docs.grouped(docs.length / 3 + 1).foreach { chunk =>
        mem.addData(chunk: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    getBits().toSeq.sorted.toDF("bit")
      .withColumn("present", lit(1))
  }

  lazy val stBloomRefreshSql: String =
    s"""WITH fp AS (SELECT doc_id, $rollhNorm AS h FROM documents),
       |bits AS (SELECT DISTINCT bit FROM (
       |  SELECT h % 4096 AS bit FROM fp
       |  UNION ALL
       |  SELECT ((h * 1103515245 + 12345) % 2147483647) % 4096 FROM fp))
       |SELECT bit::BIGINT AS bit, 1::INT AS present FROM bits""".stripMargin

  val stDedup: Q = (s, d) => {
    import s.implicits._
    import graft.streaming.Streams
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    // the corpus streams through TWICE: the second pass arrives in
    // later micro-batches and must be dropped row-for-row against the
    // first pass's state — the cross-batch dedup path the gate exists
    // for (the synthetic corpus itself has no exact duplicates)
    StreamReplay.replay(s, docs ++ docs, "st_dedup", "append",
      batches = 6) {
      df => Streams.streamingExactDedup(
        df.toDF("doc_id", "text")
          .withColumn("ts",
            timestamp_millis(lit(1700000000000L) + col("doc_id"))),
        watermark = "1 hour")
    }
      .select(col("fingerprint"))
  }

  val stDedupSql: String =
    "SELECT DISTINCT md5(text) AS fingerprint FROM documents"

  lazy val stScreenSql: String = {
    val (e, i, p) = (Corpus.emailRe, Corpus.ipv4Re, Corpus.phoneRe)
    s"""WITH aug AS (SELECT doc_id, text || ' Contact user' || doc_id ||
       |  '@example.com or 10.0.' || (doc_id % 256) || '.7, tel 555-123-4567.' AS text FROM documents),
       |r1 AS (SELECT doc_id, text, regexp_replace(text, '$e', '<EMAIL>', 'g') AS t1 FROM aug),
       |r2 AS (SELECT doc_id, text, t1, regexp_replace(t1, '$i', '<IP>', 'g') AS t2 FROM r1),
       |scr AS (SELECT doc_id,
       |  $qualityExprSql AS quality,
       |  len(regexp_extract_all(text, '$e'))::BIGINT AS n_emails,
       |  len(regexp_extract_all(t1, '$i'))::BIGINT AS n_ips,
       |  len(regexp_extract_all(t2, '$p'))::BIGINT AS n_phones,
       |  md5(regexp_replace(t2, '$p', '<PHONE>', 'g')) AS redacted_md5
       |FROM r2)
       |SELECT doc_id, round(quality, 4) AS quality, n_emails, n_ips, n_phones, redacted_md5
       |FROM scr WHERE quality >= 0.2""".stripMargin
  }

  /** st_cms — per-window COUNT-MIN state under the oracle gate
    * ([[graft.streaming.Streams.streamingCmsEstimates]]): event-type
    * counts per 7-day window maintained as additive CMS cells across
    * ordered micro-batches; estimates only grow as cells add, so
    * max-per-(window, term) selects each window's final emit. The
    * oracle rebuilds the same fixed-seed sketch per window in SQL and
    * reads the same min-over-rows estimates. */
  /** st_ewma — STREAMING day-close anomaly alerts
    * ([[graft.streaming.Streams.streamingEwma]]): per event_type, a
    * day's (count, dyadic EWMA baseline, spike) row emits the moment
    * the next day's first event arrives; the replay's per-type
    * far-future sentinel batch closes the final real day (the
    * sentinel's own day never closes). Shares e_ewma's oracle —
    * stream ≡ batch row for row. */
  val stEwma: Q = (s, d) => {
    import s.implicits._
    import graft.streaming.Streams
    val evs = eventsOrdered(s, d)
    val sentinelTs = new java.sql.Timestamp(
      evs.iterator.map(_.ts.getTime).max + 3L * 86400000L)
    val tail = evs.iterator.map(_.event_type).toSeq.distinct.sorted
      .zipWithIndex.map { case (et, i) =>
        Streams.Event(Long.MaxValue - i, sentinelTs, -1L, et, 0.0) }
    StreamReplay.replay(s, evs, "st_ewma", "append", batches = 6,
      tail = tail) {
      df => Streams.streamingEwma(df.as[Streams.Event]).toDF()
    }
      .select(col("event_type"),
        date_format(timestamp_micros(col("day_us")), "yyyy-MM-dd").as("day"),
        col("n"), col("baseline"), col("ratio"), col("spike"))
  }

  /** st_hll — STREAMING portable HLL per 7-day window
    * ([[graft.streaming.Streams.streamingHllDistinct]]): register-max
    * state (O(m) regardless of stream length), estimates grow
    * monotonically so the final per window is the max emit; the oracle
    * rebuilds every window's registers in SQL. */
  val stHll: Q = (s, d) => {
    import s.implicits._
    StreamReplay.replay(s, eventsOrdered(s, d), "st_hll", "update") {
      df => graft.streaming.Streams.streamingHllDistinct(df,
        col("user_id").cast("string"), "7 days", "10 minutes").toDF()
    }
      .select(unix_micros(col("window_start")).as("ws_us"),
        col("s_scaled"), col("est_hll"))
      .groupBy(col("ws_us"))
      // most-converged emit per window: s_scaled strictly shrinks as
      // registers grow, while est is NOT monotone across the r12
      // linear-counting crossover — min_by, not max(est)
      .agg(min(col("s_scaled")).as("s_scaled"),
        min_by(col("est_hll"), col("s_scaled")).as("est_hll"))
  }

  val stHllSql: String = {
    val rollh = "list_reduce(list_prepend(0::BIGINT, list_transform(" +
      "string_split(user_id::VARCHAR, ''), c -> ascii(c)::BIGINT)), " +
      "(a, c) -> (a * 31 + c) % 2147483647)"
    s"""WITH ev AS (SELECT epoch_us(ts) // 604800000000 * 604800000000 AS ws_us,
       |  $rollh AS h0 FROM events),
       |r AS (SELECT ws_us, h0 % 16 AS bucket,
       |  ((h0 * 1103515245 + 12345) % 2147483647) AS w FROM ev),
       |rho AS (SELECT ws_us, bucket,
       |  max(CASE WHEN w = 0 THEN 32 ELSE 32 - length(bin(w)) END) AS rho_max
       |  FROM r GROUP BY 1, 2),
       |s AS (SELECT ws_us, sum(1::BIGINT << (32 - rho_max)::INT)
       |    + (16 - count(*)) * 4294967296 AS s_scaled,
       |    (16 - count(*))::INT AS zero_regs FROM rho GROUP BY ws_us)
       |SELECT ws_us, s_scaled::BIGINT AS s_scaled,
       |  round(CASE WHEN zero_regs > 0 AND
       |      (673 * 256 * 4294967296)::DOUBLE / (1000 * s_scaled) <= 40.0
       |    THEN 16.0 * ln(16.0 / zero_regs)
       |    ELSE (673 * 256 * 4294967296)::DOUBLE / (1000 * s_scaled) END, 4)
       |    AS est_hll
       |FROM s""".stripMargin
  }

  /** st_record — STREAMING all-time record-day alerts
    * ([[graft.streaming.Streams.streamingRecords]]): a row per closed
    * day that strictly beats every previous closed day of its type;
    * O(1) integer state per type. The oracle is the batch window-max
    * spelling — stream ≡ batch on exact integer compares. */
  val stRecord: Q = (s, d) => {
    import s.implicits._
    import graft.streaming.Streams
    val evs = eventsOrdered(s, d)
    val sentinelTs = new java.sql.Timestamp(
      evs.iterator.map(_.ts.getTime).max + 3L * 86400000L)
    val tail = evs.iterator.map(_.event_type).toSeq.distinct.sorted
      .zipWithIndex.map { case (et, i) =>
        Streams.Event(Long.MaxValue - i, sentinelTs, -1L, et, 0.0) }
    StreamReplay.replay(s, evs, "st_record", "append", batches = 6,
      tail = tail) {
      df => Streams.streamingRecords(df.as[Streams.Event]).toDF()
    }
      .select(col("event_type"),
        date_format(timestamp_micros(col("day_us")), "yyyy-MM-dd").as("day"),
        col("n"), col("prev_record"))
  }

  val stRecordSql: String =
    """WITH daily AS (SELECT event_type, date_trunc('day', ts) AS day,
      |    count(*) AS n FROM events GROUP BY 1, 2),
      |w AS (SELECT *, coalesce(max(n) OVER (PARTITION BY event_type
      |    ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |    0) AS prev_record FROM daily)
      |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n::BIGINT AS n,
      |  prev_record::BIGINT AS prev_record
      |FROM w WHERE n > prev_record""".stripMargin

  /** st_cusum — STREAMING CUSUM drift monitor
    * ([[graft.streaming.Streams.streamingCusum]]): a chart row per
    * closed day per type; ref is the same exact-integer calibration
    * the batch twin derives in-plan, computed here driver-side from
    * the replay fixture (the deployed chart's pre-computed parameter).
    * Four-long state per type; stream ≡ batch on exact BIGINT
    * milli-units, so this shares e_cusum's oracle verbatim. */
  val stCusum: Q = (s, d) => {
    import s.implicits._
    import graft.streaming.Streams
    val evs = eventsOrdered(s, d)
    val dayMs = 86400000L
    val refMilli = evs.groupBy(_.event_type).map { case (et, es) =>
      val days = es.iterator.map(_.ts.getTime / dayMs).toSet.size
      et -> 1000L * es.size / days
    }
    val sentinelTs = new java.sql.Timestamp(
      evs.iterator.map(_.ts.getTime).max + 3L * 86400000L)
    val tail = evs.iterator.map(_.event_type).toSeq.distinct.sorted
      .zipWithIndex.map { case (et, i) =>
        Streams.Event(Long.MaxValue - i, sentinelTs, -1L, et, 0.0) }
    StreamReplay.replay(s, evs, "st_cusum", "append", batches = 6,
      tail = tail) {
      df => Streams.streamingCusum(df.as[Streams.Event], refMilli).toDF()
    }
      .select(col("event_type"),
        date_format(timestamp_micros(col("day_us")), "yyyy-MM-dd").as("day"),
        col("n"), col("s_milli"), col("alarm"))
  }

  /** st_lag — STREAMING conversion lag
    * ([[graft.streaming.Streams.streamingConversionLag]]): each user's
    * whole-day signup→purchase lag emits exactly once at conversion
    * time. Oracle = e_lag's per-user lag CTE (stream ≡ batch on
    * integer µs compares). */
  val stLag: Q = (s, d) => {
    import s.implicits._
    import graft.streaming.Streams
    StreamReplay.replay(s, eventsOrdered(s, d), "st_lag", "append",
      batches = 6) {
      df => Streams.streamingConversionLag(df.as[Streams.Event],
        "signup", "purchase").toDF()
    }.select(col("user_id"), col("lag_days"))
  }

  /** st_msprt — the always-valid monitor fed LIVE
    * ([[graft.streaming.Streams.streamingConversions]] →
    * [[graft.pipeline.Sessions.msprt]]'s fold): per-user
    * exposure/conversion state on the stream (≤2 emissions per user,
    * exactly-once across batches), the post-sink readout aggregates
    * max(conv) per user into counts and replays e_msprt's exact logΛ
    * arithmetic — the gate SHARES e_msprt's oracle verbatim. */
  val stMsprt: Q = (s, d) => {
    import s.implicits._
    import graft.streaming.Streams
    val panel = StreamReplay.replay(s, eventsOrdered(s, d), "st_msprt",
      "update", batches = 6) {
      df => Streams.streamingConversions(df.as[Streams.Event],
        uid => uid % 2, "purchase", minValue = 90.0).toDF()
    }
      .groupBy("user_id")
      .agg(max(col("vb")).as("vb"), max(col("conv")).cast("long").as("conv"))
    val agg = panel.agg(
      sum(when(col("vb") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("vb") === 1, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("vb") === 0, col("conv")).otherwise(0L)).as("conv_a"),
      sum(when(col("vb") === 1, col("conv")).otherwise(0L)).as("conv_b"))
    val pa = col("conv_a").cast("double") / col("n_a")
    val pb = col("conv_b").cast("double") / col("n_b")
    val pp = (col("conv_a") + col("conv_b")).cast("double") /
      (col("n_a") + col("n_b"))
    val v = pp * (lit(1.0) - pp) *
      (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))
    val eff = pb - pa
    val t2 = lit(0.0001)
    val logLamRaw = lit(0.5) * log(v / (v + t2)) +
      eff * eff * t2 / (lit(2.0) * v * (v + t2))
    val logLam = when(v > 0.0, round(logLamRaw, 6)).otherwise(0.0)
    val pAlways = when(v > 0.0,
      round(least(lit(1.0), exp(-logLamRaw)), 6)).otherwise(1.0)
    agg.select(col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
      (round(eff, 6) + 0.0).as("effect"),
      (logLam + 0.0).as("log_lambda"),
      (pAlways + 0.0).as("p_always"),
      when(logLam >= math.log(20.0), 1).otherwise(0).cast("int")
        .as("significant"))
  }

  val stLagSql: String =
    """WITH f AS (SELECT user_id, min(epoch_us(ts)) AS t0 FROM events
      |  WHERE event_type = 'signup' GROUP BY 1),
      |l AS (SELECT f.user_id, min(epoch_us(e.ts) - t0) AS lag_us
      |  FROM f JOIN events e USING (user_id)
      |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= t0
      |  GROUP BY 1)
      |SELECT user_id, (lag_us // 86400000000)::BIGINT AS lag_days
      |FROM l""".stripMargin

  /** st_holt — STREAMING day-close Holt forecasts
    * ([[graft.streaming.Streams.streamingHolt]]): each real day's
    * (level, trend, next-day forecast) emits when the next day's first
    * event arrives; the replay's per-type far-future sentinel closes
    * the final real day. The oracle emits the recursive CTE's EVERY
    * per-day prefix state — stream ≡ batch prefix-for-prefix. */
  val stHolt: Q = (s, d) => {
    import s.implicits._
    import graft.streaming.Streams
    val evs = eventsOrdered(s, d)
    val sentinelTs = new java.sql.Timestamp(
      evs.iterator.map(_.ts.getTime).max + 3L * 86400000L)
    val tail = evs.iterator.map(_.event_type).toSeq.distinct.sorted
      .zipWithIndex.map { case (et, i) =>
        Streams.Event(Long.MaxValue - i, sentinelTs, -1L, et, 0.0) }
    StreamReplay.replay(s, evs, "st_holt", "append", batches = 6,
      tail = tail) {
      df => Streams.streamingHolt(df.as[Streams.Event]).toDF()
    }
      .select(col("event_type"),
        date_format(timestamp_micros(col("day_us")), "yyyy-MM-dd")
          .as("day"),
        col("days"), col("level"), col("trend"), col("forecast"))
  }

  val stHoltSql: String =
    """WITH RECURSIVE daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
      |    count(*)::BIGINT AS n FROM events GROUP BY 1, 2),
      |d AS (SELECT event_type, day, n,
      |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
      |  FROM daily),
      |h AS (
      |  SELECT event_type, day, 1::INT AS t, n::DOUBLE AS l, 0.0::DOUBLE AS b
      |  FROM d WHERE rn = 1
      |  UNION ALL
      |  SELECT d.event_type, d.day, h.t + 1,
      |    0.5 * d.n::DOUBLE + 0.5 * (h.l + h.b),
      |    0.5 * ((0.5 * d.n::DOUBLE + 0.5 * (h.l + h.b)) - h.l) + 0.5 * h.b
      |  FROM h JOIN d ON d.event_type = h.event_type AND d.rn = h.t + 1)
      |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, t AS days,
      |  round(l, 6) AS level, round(b, 6) AS trend,
      |  round(l + b, 6) AS forecast
      |FROM h""".stripMargin

  val stCms: Q = (s, d) => {
    import s.implicits._
    StreamReplay.replay(s, eventsOrdered(s, d), "st_cms", "update") {
      df => graft.streaming.Streams.streamingCmsEstimates(df,
        col("event_type"),
        candidates = Seq("click", "error", "purchase", "signup", "view"),
        width = 1024, window = "7 days", watermark = "10 minutes").toDF()
    }
      .select(unix_micros(col("window_start")).as("ws_us"), col("term"),
        col("est"))
      .groupBy(col("ws_us"), col("term"))
      .agg(max(col("est")).as("est"))
  }

  /** st_quantile — per-window streaming WHOLE-UNIT QUANTILES
    * ([[graft.streaming.Streams.streamingQuantiles]], r14: a readout
    * shape over the st_ddsketch log-bucket kernel — the r13 verdict's
    * task #2): DDSketch-style integer log buckets per 7-day window,
    * merged additively across ordered micro-batches; p50/p90/p99 read
    * as the smallest bucket whose cumulative count reaches
    * ceil(q·n/100), the bucket midpoint decodes with shifts, and the
    * emit clamps est_milli/1000 to the [0,bins) whole-unit output
    * domain. Each emit carries the running n (strictly growing per
    * fired batch), so max_by(est, n) selects the converged estimate;
    * the oracle replays buckets, pick, decode, and clamp verbatim. */
  val stQuantile: Q = (s, d) => {
    import s.implicits._
    StreamReplay.replay(s, eventsOrdered(s, d), "st_quantile", "update") {
      df => graft.streaming.Streams.streamingQuantiles(df).toDF()
    }
      .groupBy(unix_micros(col("window_start")).as("ws_us"), col("q"))
      .agg(max_by(col("est_bin"), col("n")).as("est_bin"),
        max(col("n")).as("n"))
  }

  val stQuantileSql: String =
    """WITH ev AS (SELECT epoch_us(ts) // 604800000000 * 604800000000 AS ws_us,
      |    greatest(floor(value * 1000), 0)::BIGINT AS lv FROM events),
      |ids AS (SELECT ws_us, CASE WHEN lv <= 63 THEN lv
      |    ELSE (length(bin(lv)) - 6)::BIGINT * 64 + (lv >> (length(bin(lv)) - 6)) END AS b
      |  FROM ev),
      |b AS (SELECT ws_us, b, count(*)::BIGINT AS c FROM ids GROUP BY 1, 2),
      |n AS (SELECT ws_us, sum(c)::BIGINT AS n FROM b GROUP BY 1),
      |cum AS (SELECT ws_us, b,
      |    sum(c) OVER (PARTITION BY ws_us ORDER BY b)::BIGINT AS cum FROM b),
      |qs(q) AS (VALUES (50), (90), (99)),
      |sel AS (SELECT c.ws_us, q.q::INT AS q, min(c.b) AS b, min(n.n)::BIGINT AS n
      |  FROM cum c JOIN n ON n.ws_us = c.ws_us CROSS JOIN qs q
      |  WHERE 100 * c.cum >= q.q * n.n
      |  GROUP BY c.ws_us, q.q)
      |SELECT ws_us, q,
      |  least((CASE WHEN b <= 63 THEN b
      |    ELSE ((b % 64) * (1::BIGINT << (b // 64))
      |      + ((b % 64 + 1) * (1::BIGINT << (b // 64)) - 1)) // 2 END) // 1000,
      |    100)::INT AS est_bin, n
      |FROM sel""".stripMargin

  /** st_ddsketch — per-window streaming LOG-BUCKET quantiles
    * ([[graft.streaming.Streams.streamingLogQuantiles]], r12 verdict
    * task #6's mergeable-quantile upgrade): integer milli-units bucket
    * by (MSB octave, top 6 mantissa bits) — DDSketch/HDR-histogram
    * log buckets with pure-integer boundaries, ≤3% relative error at
    * any magnitude, no upper clamp. Counts merge by addition across
    * ordered micro-batches; p50/p90/p99 read integerly and the bucket
    * midpoint decodes with shifts. max_by(est, n) selects the
    * converged emit (n strictly grows per fired batch); the oracle
    * rebuilds bucket ids, counts, quantile pick, and decode verbatim. */
  val stDdsketch: Q = (s, d) => {
    import s.implicits._
    StreamReplay.replay(s, eventsOrdered(s, d), "st_ddsketch", "update") {
      df => graft.streaming.Streams.streamingLogQuantiles(df).toDF()
    }
      .groupBy(unix_micros(col("window_start")).as("ws_us"), col("q"))
      .agg(max_by(col("est_milli"), col("n")).as("est_milli"),
        max(col("n")).as("n"))
  }

  val stDdsketchSql: String =
    """WITH ev AS (SELECT epoch_us(ts) // 604800000000 * 604800000000 AS ws_us,
      |    greatest(floor(value * 1000), 0)::BIGINT AS lv FROM events),
      |ids AS (SELECT ws_us, CASE WHEN lv <= 63 THEN lv
      |    ELSE (length(bin(lv)) - 6)::BIGINT * 64 + (lv >> (length(bin(lv)) - 6)) END AS b
      |  FROM ev),
      |b AS (SELECT ws_us, b, count(*)::BIGINT AS c FROM ids GROUP BY 1, 2),
      |n AS (SELECT ws_us, sum(c)::BIGINT AS n FROM b GROUP BY 1),
      |cum AS (SELECT ws_us, b,
      |    sum(c) OVER (PARTITION BY ws_us ORDER BY b)::BIGINT AS cum FROM b),
      |qs(q) AS (VALUES (50), (90), (99)),
      |sel AS (SELECT c.ws_us, q.q::INT AS q, min(c.b) AS b, min(n.n)::BIGINT AS n
      |  FROM cum c JOIN n ON n.ws_us = c.ws_us CROSS JOIN qs q
      |  WHERE 100 * c.cum >= q.q * n.n
      |  GROUP BY c.ws_us, q.q)
      |SELECT ws_us, q,
      |  (CASE WHEN b <= 63 THEN b
      |    ELSE ((b % 64) * (1::BIGINT << (b // 64))
      |      + ((b % 64 + 1) * (1::BIGINT << (b // 64)) - 1)) // 2 END)::BIGINT
      |    AS est_milli, n
      |FROM sel""".stripMargin

  /** st_psi — streaming PSI drift alarm per 7-day window
    * ([[graft.streaming.Streams.streamingPsiDrift]]): the window's
    * value distribution (st_ddsketch's integer log2-octave buckets,
    * additive state) scores a Population Stability Index against the
    * all-time reference distribution (collected once, ≤64 rows); the
    * readout replays t_psi's arithmetic — Laplace over the reference
    * bucket set, round-8 terms folded in bucket order, round 4. */
  val stPsi: Q = (s, d) => {
    import s.implicits._
    val ref = Tables.events(s, d)
      .select(greatest(floor(col("value") * 1000), lit(0L)).as("lv"))
      .select(when(col("lv") <= 63L, col("lv"))
        .otherwise((length(bin(col("lv"))) - 6).cast("long") * 64L +
          expr("shiftright(lv, length(bin(lv)) - 6)")).as("b"))
      .groupBy("b").agg(count(lit(1)).as("c"))
      .as[(Long, Long)].collect().toMap
    StreamReplay.replay(s, eventsOrdered(s, d), "st_psi", "update") {
      df => graft.streaming.Streams.streamingPsiDrift(df, ref).toDF()
    }
      .groupBy(unix_micros(col("window_start")).as("ws_us"))
      .agg(max_by(col("psi"), col("n")).as("psi"), max(col("n")).as("n"))
  }

  val stPsiSql: String =
    """WITH ev AS (SELECT epoch_us(ts) // 604800000000 * 604800000000 AS ws_us,
      |    (CASE WHEN lv <= 63 THEN lv
      |     ELSE (length(bin(lv)) - 6)::BIGINT * 64 + (lv >> (length(bin(lv)) - 6)) END) AS b
      |  FROM (SELECT ts, greatest(floor(value * 1000), 0)::BIGINT AS lv FROM events)),
      |wb AS (SELECT ws_us, b, count(*)::BIGINT AS c FROM ev GROUP BY 1, 2),
      |ref AS (SELECT b, count(*)::BIGINT AS rc FROM ev GROUP BY 1),
      |rt AS (SELECT sum(rc)::BIGINT AS rtot, count(*)::BIGINT AS nb FROM ref),
      |wn AS (SELECT ws_us, sum(c)::BIGINT AS n FROM wb GROUP BY 1),
      |grid AS (SELECT w.ws_us, r.b,
      |    round((((coalesce(wb.c, 0) + 1)::DOUBLE / (w.n + rt.nb)::DOUBLE)
      |        - ((r.rc + 1)::DOUBLE / (rt.rtot + rt.nb)::DOUBLE))
      |      * ln(((coalesce(wb.c, 0) + 1)::DOUBLE / (w.n + rt.nb)::DOUBLE)
      |          / ((r.rc + 1)::DOUBLE / (rt.rtot + rt.nb)::DOUBLE)), 8) AS contrib
      |  FROM wn w CROSS JOIN ref r CROSS JOIN rt
      |  LEFT JOIN wb ON wb.ws_us = w.ws_us AND wb.b = r.b),
      |folded AS (SELECT ws_us, list(contrib ORDER BY b) AS cs FROM grid GROUP BY ws_us)
      |SELECT f.ws_us,
      |  round(list_reduce(list_prepend(0.0, cs), (a, v) -> a + v), 4) AS psi,
      |  w.n
      |FROM folded f JOIN wn w ON w.ws_us = f.ws_us""".stripMargin

  /** st_srm — streaming sample-ratio-mismatch alarm per 7-day window
    * ([[graft.streaming.Streams.streamingSrm]]): exposure counts by
    * variant (the e_srm deliberately-skewed user_id%10 split against a
    * designed 50/50) held as TWO LONGS of additive state per open
    * window; the chi-square readout replays the batch operator's IEEE
    * expression, rounds 6, and flags on the rounded statistic.
    * max_by(·, n_a+n_b) selects each window's converged emit (counts
    * strictly grow per fired batch); the oracle recomputes the window
    * counts and the statistic verbatim. */
  val stSrm: Q = (s, d) => {
    import s.implicits._
    StreamReplay.replay(s, eventsOrdered(s, d), "st_srm", "update") {
      df => graft.streaming.Streams.streamingSrm(df,
        col("user_id") % 10 === 0).toDF()
    }
      .groupBy(unix_micros(col("window_start")).as("ws_us"))
      .agg(max_by(col("n_a"), col("n_a") + col("n_b")).as("n_a"),
        max_by(col("n_b"), col("n_a") + col("n_b")).as("n_b"),
        max_by(col("chi2"), col("n_a") + col("n_b")).as("chi2"),
        max_by(col("srm"), col("n_a") + col("n_b")).as("srm"))
  }

  val stSrmSql: String =
    """WITH ev AS (SELECT epoch_us(ts) // 604800000000 * 604800000000 AS ws_us,
      |    CASE WHEN user_id % 10 = 0 THEN 1 ELSE 0 END AS vb FROM events),
      |a AS (SELECT ws_us,
      |    sum(CASE WHEN vb = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
      |    sum(CASE WHEN vb = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b
      |  FROM ev GROUP BY 1),
      |c AS (SELECT *, (n_a + n_b)::DOUBLE * 0.5 AS eb,
      |    (n_a + n_b)::DOUBLE - (n_a + n_b)::DOUBLE * 0.5 AS ea FROM a),
      |z AS (SELECT *, round((n_a::DOUBLE - ea) * (n_a::DOUBLE - ea) / ea
      |    + (n_b::DOUBLE - eb) * (n_b::DOUBLE - eb) / eb, 6) + 0.0 AS c2
      |  FROM c)
      |SELECT ws_us, n_a, n_b, c2 AS chi2,
      |  (CASE WHEN c2 > 3.841459 THEN 1 ELSE 0 END)::INT AS srm
      |FROM z""".stripMargin

  lazy val stCmsSql: String = {
    def rollh(c: String) = "list_reduce(list_prepend(0::BIGINT, " +
      s"list_transform(string_split($c, ''), ch -> ascii(ch)::BIGINT)), " +
      "(a, ch) -> (a * 31 + ch) % 2147483647)"
    s"""WITH occ AS (SELECT epoch_us(ts) // 604800000000 * 604800000000 AS ws_us,
       |  event_type AS term FROM events),
       |seeds(seed, a, b) AS (VALUES (1, 1::BIGINT, 0::BIGINT), (2, 7919::BIGINT, 17::BIGINT), (3, 104729::BIGINT, 89::BIGINT)),
       |th AS MATERIALIZED (SELECT ws_us, term, ${rollh("term")} AS rh FROM occ),
       |cells AS MATERIALIZED (SELECT ws_us, s.seed,
       |  ((rh * s.a + s.b) % 2147483647) % 1024 AS bucket, count(*) AS cnt
       |  FROM th CROSS JOIN seeds s GROUP BY 1, 2, 3),
       |cand(term) AS (VALUES ('click'), ('error'), ('purchase'), ('signup'), ('view')),
       |q AS (SELECT w.ws_us, c.term, ${rollh("c.term")} AS rh
       |  FROM (SELECT DISTINCT ws_us FROM occ) w CROSS JOIN cand c)
       |SELECT q.ws_us, q.term, min(coalesce(cl.cnt, 0))::BIGINT AS est
       |FROM q CROSS JOIN seeds s
       |LEFT JOIN cells cl ON cl.ws_us = q.ws_us AND cl.seed = s.seed
       |  AND cl.bucket = ((q.rh * s.a + s.b) % 2147483647) % 1024
       |GROUP BY q.ws_us, q.term""".stripMargin
  }

  val stWindowSql: String = {
    val rollh = "list_reduce(list_prepend(0::BIGINT, list_transform(" +
      "string_split(user_id::VARCHAR, ''), c -> ascii(c)::BIGINT)), " +
      "(a, c) -> (a * 31 + c) % 2147483647)"
    s"""WITH ev AS (SELECT epoch_us(ts) // 604800000000 * 604800000000 AS ws_us,
       |  $rollh AS h FROM events),
       |hs AS (SELECT DISTINCT ws_us, h FROM ev WHERE h > 0),
       |topk AS (SELECT ws_us, h,
       |  row_number() OVER (PARTITION BY ws_us ORDER BY h) AS rn FROM hs),
       |k AS (SELECT ws_us, count(*) AS n, max(h) AS mx
       |  FROM topk WHERE rn <= 64 GROUP BY ws_us)
       |SELECT ws_us, CASE WHEN n < 64 THEN n::DOUBLE
       |  ELSE round(63.0 * 2147483647 / mx, 4) END AS est_distinct
       |FROM k""".stripMargin
  }

  // ---------------------------------------------------------------- catalog

  val queries: Map[String, Q] = Map(
    "g_b1_point" -> gB1Point,
    "g_b2_label_prop" -> gB2LabelProp,
    "g_b3_expand_filtered" -> gB3ExpandFiltered,
    "g_b4_expand_all" -> gB4ExpandAll,
    "g_b5_expand_type" -> gB5ExpandType,
    "g_b6_projection" -> gB6Projection,
    "g_b7_exists" -> gB7Exists,
    "g_b8_scan" -> gB8Scan,
    "g_b9_label_pick" -> gB9LabelPick,
    "g_a1_merge_lww" -> gA1MergeLww,
    "g_a2_promote" -> gA2Promote,
    "g_a3_update" -> gA3Update,
    "g_a4_edge_dedup" -> gA4EdgeDedup,
    "g_a5_detach" -> gA5Detach,
    "g_a7_strip" -> gA7Strip,
    "g_a9_locals" -> gA9Locals,
    "g_d4_closure" -> gD4Closure,
    "g_c11_override" -> gC11Override,
    "p_dsir" -> pDsir,
    "p_dsir_sample" -> pDsirSample,
    "t_sweep" -> tSweep,
    "g_d5_carry" -> gD5Carry,
    "g_b11_json" -> gB11Json,
    "g_b11_multi" -> gB11Multi,
    "g_c14_slice" -> gC14Slice,
    "g_c15_cycles" -> gC15Cycles,
    "q1_agg" -> q1Agg,
    "q2_join_agg" -> q2JoinAgg,
    "q3_window" -> q3Window,
    "q4_topk" -> q4TopK,
    "q5_setops" -> q5SetOps,
    "q6_anti" -> q6Anti,
    "q7_semi" -> q7Semi,
    "q8_event_window" -> q8EventWindow,
    "q9_rollup" -> q9Rollup,
    "q10_pagerank" -> q10Pagerank,
    "q60_katz" -> q60Katz,
    "q61_scc" -> q61Scc,
    "q61_scc_gx" -> q61SccGx,
    "q77_scc_inc" -> q77SccInc,
    "q62_condense" -> q62Condense,
    "q63_topo" -> q63Topo,
    "q64_walks" -> q64Walks,
    "q65_matching" -> q65Matching,
    "q67_mis" -> q67Mis,
    "q67_mis_gx" -> q67MisGx,
    "q71_vc" -> q71Vc,
    "q68_coloring" -> q68Coloring,
    "q69_msf" -> q69Msf,
    "q70_coreness" -> q70Coreness,
    "q60_katz_gx" -> q60KatzGx,
    "q10_pagerank_gx" -> q10PagerankGx,
    "q11_cc" -> q11Cc,
    "q59_cc_inc" -> q59CcInc,
    "q66_pr_inc" -> q66PrInc,
    "q11_cc_gx" -> q11CcGx,
    "q12_salted_join" -> q12SaltedJoin,
    "q13_asof" -> q13Asof,
    "q14_kmv" -> q14Kmv,
    "q75_hll" -> q75Hll,
    "q76_hll_grouped" -> q76HllGrouped,
    "st_hll" -> stHll,
    "q15_quantile" -> q15Quantile,
    "t_tokens" -> tTokens,
    "t_bpe_tokens" -> tBpeTokens,
    "t_bpe_merges" -> tBpeMerges,
    "t_wordpiece" -> tWordpiece,
    "t_unigram_lm" -> tUnigramLm,
    "t_unigram_fertility" -> tUnigramFertility,
    "t_quality_train" -> tQualityTrain,
    "t_bpe_fertility" -> tBpeFertility,
    "t_quality" -> tQuality,
    "p_clean_corpus" -> pCleanCorpus,
    "t_langid" -> tLangId,
    "t_fingerprint" -> tFingerprint,
    "d_exact" -> dExact,
    "d_cdc" -> dCdc,
    "d_ngram_jaccard" -> dNgramJaccard,
    "d_containment" -> dContainment,
    "d_minhash_lsh" -> dMinhashLsh,
    "d_minhash_inc" -> dMinhashInc,
    "d_fuzzy_join" -> dFuzzyJoin,
    "d_dup_clusters" -> dDupClusters,
    "d_softdedup" -> dSoftdedup,
    "d_bloom" -> dBloom,
    "d_bloom_screen" -> dBloomScreen,
    "d_simhash" -> dSimhash,
    "s_cosine_topk" -> sCosineTopK,
    "s_mmr" -> sMmr,
    "s_lsh_ann" -> sLshAnn,
    "s_ivf_ann" -> sIvfAnn,
    "s_ivf_inc" -> sIvfInc,
    "s_pq_inc" -> sPqInc,
    "s_pca_top" -> sPcaTop,
    "s_emb_neardup" -> sEmbNearDup,
    "s_semdedup" -> sSemDedup,
    "s_knn_graph" -> sKnnGraph,
    "s_knn_inc" -> sKnnInc,
    "s_graph_ann" -> sGraphAnn,
    "q16_sessions" -> q16Sessions,
    "e_funnel" -> eFunnel,
    "e_retention" -> eRetention,
    "e_spike" -> eSpike,
    "e_cusum" -> eCusum,
    "st_cusum" -> stCusum,
    "e_seasonality" -> eSeasonality,
    "e_lag" -> eLag,
    "e_km" -> eKm,
    "e_ltv" -> eLtv,
    "e_ewma" -> eEwma,
    "e_stickiness" -> eStickiness,
    "e_power" -> ePower,
    "e_basket" -> eBasket,
    "e_holt" -> eHolt,
    "p_shard" -> pShard,
    "p_manifest" -> pManifest,
    "e_ab_test" -> eAbTest,
    "e_cuped" -> eCuped,
    "e_srm" -> eSrm,
    "e_did" -> eDid,
    "e_msprt" -> eMsprt,
    "e_qte" -> eQte,
    "e_markov" -> eMarkov,
    "e_lifecycle" -> eLifecycle,
    "e_rfm" -> eRfm,
    "e_attribution" -> eAttribution,
    "e_paths" -> ePaths,
    "m_flac" -> mFlac,
    "m_mp3" -> mMp3,
    "m_phash" -> mPhash,
    "p_budget_fill" -> pBudgetFill,
    "d_contam" -> dContam,
    "t_tfidf" -> tTfidf,
    "p_sample_strat" -> pSampleStrat,
    "t_repetition" -> tRepetition,
    "p_best_per_lang" -> pBestPerLang,
    "s_centroids" -> sCentroids,
    "p_pack_chunks" -> pPackChunks,
    "t_pii_redact" -> tPiiRedact,
    "d_boilerplate" -> dBoilerplate,
    "q17_bloom_semi" -> q17BloomSemi,
    "q18_cube" -> q18Cube,
    "q19_full_outer" -> q19FullOuter,
    "t_domains" -> tDomains,
    "q20_pivot" -> q20Pivot,
    "q21_range_window" -> q21RangeWindow,
    "t_vocab" -> tVocab,
    "t_f2" -> tF2,
    "st_f2" -> stF2,
    "p_kanon" -> pKanon,
    "p_ldiv" -> pLdiv,
    "p_tclose" -> pTclose,
    "st_kanon" -> stKanon,
    "st_ldiv" -> stLdiv,
    "st_tclose" -> stTclose,
    "t_lexdiv" -> tLexDiv,
    "t_pmi" -> tPmi,
    "t_zipf" -> tZipf,
    "t_kl" -> tKl,
    "t_psi" -> tPsi,
    "t_special" -> tSpecial,
    "t_html" -> tHtml,
    "st_html" -> stHtml,
    "t_ngram_rep" -> tNgramRep,
    "t_dupline" -> tDupline,
    "t_dupgram" -> tDupgram,
    "t_ppl" -> tPpl,
    "t_entropy" -> tEntropy,
    "t_fertility" -> tFertility,
    "t_luhn" -> tLuhn,
    "t_length_hist" -> tLengthHist,
    "q22_bfs" -> q22Bfs,
    "q22_bfs_gx" -> q22BfsGx,
    "s_emb_clusters" -> sEmbClusters,
    "p_train_mix" -> pTrainMix,
    "d_span_frac" -> dSpanFrac,
    "q23_stragg" -> q23StrAgg,
    "q24_triangles" -> q24Triangles,
    "q80_densest" -> q80Densest,
    "q55_esupport" -> q55Esupport,
    "q73_scan" -> q73Scan,
    "q74_knn" -> q74Knn,
    "q56_ktruss" -> q56Ktruss,
    "q57_eigen" -> q57Eigen,
    "q57_eigen_gx" -> q57EigenGx,
    "q58_modularity" -> q58Modularity,
    "q24_triangles_gx" -> q24TrianglesGx,
    "q25_lag" -> q25Lag,
    "q26_ranks" -> q26Ranks,
    "s_sq_ann" -> sSqAnn,
    "s_bq_ann" -> sBqAnn,
    "p_temp_mix" -> pTempMix,
    "d_line_dedup" -> dLineDedup,
    "d_url_dedup" -> dUrlDedup,
    "g_d5_diff" -> gD5Diff,
    "q14_kmv_grouped" -> q14KmvGrouped,
    "q27_range_join" -> q27RangeJoin,
    "t_lm_score" -> tLmScore,
    "t_auc" -> tAuc,
    "t_ccnet" -> tCcnet,
    "q28_gsets" -> q28Gsets,
    "q29_corr" -> q29Corr,
    "t_colstats" -> tColstats,
    "q30_kcore" -> q30Kcore,
    "q30_kcore_gx" -> q30KcoreGx,
    "q31_hist_quantile" -> q31HistQuantile,
    "d_span_removal" -> dSpanRemoval,
    "q32_ppr" -> q32Ppr,
    "q32_ppr_gx" -> q32PprGx,
    "q33_labelprop" -> q33Labelprop,
    "q33_labelprop_gx" -> q33LabelpropGx,
    "q47_wsp" -> q47Wsp,
    "q48_clustering" -> q48Clustering,
    "q49_assort" -> q49Assort,
    "q72_richclub" -> q72Richclub,
    "q50_reach" -> q50Reach,
    "q51_linkpred" -> q51LinkPred,
    "q52_hybrid" -> q52Hybrid,
    "p_pack_split" -> pPackSplit,
    "p_split_assign" -> pSplitAssign,
    "p_interleave" -> pInterleave,
    "p_repeat" -> pRepeat,
    "p_checks" -> pChecks,
    "d_priority_dedup" -> dPriorityDedup,
    "g_b10_cypher" -> gB10Cypher,
    "g_b10_write" -> gB10Write,
    "g_b10_write_edge" -> gB10WriteEdge,
    "g_b10_cart" -> gB10Cart,
    "g_b10_undir" -> gB10Undir,
    "g_b10_undirvar" -> gB10UndirVar,
    "g_b10_range" -> gB10Range,
    "g_b10_pcount" -> gB10Pcount,
    "g_b10_regroup" -> gB10Regroup,
    "g_b10_pctl" -> gB10Pctl,
    "g_b10_spath" -> gB10Spath,
    "g_b10_cycle" -> gB10Cycle,
    "g_b10_union" -> gB10Union,
    "g_b10_unwind" -> gB10Unwind,
    "g_b10_varlen" -> gB10Varlen,
    "g_b10_path" -> gB10Path,
    "g_b10_pathrev" -> gB10PathRev,
    "g_b10_spathp" -> gB10SpathP,
    "g_b10_allsp" -> gB10Allsp,
    "g_b10_distinct" -> gB10Distinct,
    "g_b10_case" -> gB10Case,
    "g_b10_patpred" -> gB10Patpred,
    "g_b10_optpred" -> gB10Optpred,
    "g_b10_optcomma" -> gB10OptComma,
    "g_b10_allspp" -> gB10AllspP,
    "g_b10_callsub" -> gB10CallSub,
    "g_b10_cntdist" -> gB10CntDist,
    "g_b10_pator" -> gB10PatOr,
    "g_b10_callpipe" -> gB10CallPipe,
    "g_b10_unwsp" -> gB10UnwSp,
    "g_b10_exists" -> gB10Exists,
    "t_cms_topk" -> tCmsTopk,
    "d_incremental" -> dIncremental,
    "s_kmeans" -> sKmeans,
    "s_kmeanspar" -> sKmeansPar,
    "s_kcenter" -> sKcenter,
    "s_pq_ann" -> sPqAnn,
    "s_ivfpq_ann" -> sIvfPqAnn,
    "s_mrl_ann" -> sMrlAnn,
    "q34_sp_counts" -> q34SpCounts,
    "q42_betweenness" -> q42Betweenness,
    "q43_kmv_intersect" -> q43KmvIntersect,
    "q44_harmonic" -> q44Harmonic,
    "q78_anf" -> q78Anf,
    "q79_effdiam" -> q79Effdiam,
    "q44_harmonic_gx" -> q44HarmonicGx,
    "q45_mad" -> q45Mad,
    "q35_multi_distinct" -> q35MultiDistinct,
    "t_winsor" -> tWinsor,
    "q39_hopping" -> q39Hopping,
    "q41_calendar" -> q41Calendar,
    "q40_share" -> q40Share,
    "p_group_sample" -> pGroupSample,
    "q38_null_join" -> q38NullJoin,
    "q36_funnel" -> q36Funnel,
    "q37_wpr" -> q37Wpr,
    "q37_wpr_gx" -> q37WprGx,
    "t_token_vote" -> tTokenVote,
    "m_headers" -> mHeaders,
    "m_pdf" -> mPdf,
    "m_srt" -> mSrt,
    "m_tar" -> mTar,
    "m_warc" -> mWarc,
    "p_warc_ingest" -> pWarcIngest,
    "st_warc" -> stWarc,
    "m_tiff" -> mTiff,
    "m_exif" -> mExif,
    "m_ogg" -> mOgg,
    "m_avi" -> mAvi,
    "m_mkv" -> mMkv,
    "m_gzip" -> mGzip,
    "m_wav_rms" -> mWavRms,
    "m_zip" -> mZip,
    "m_video" -> mVideo,
    "m_corrupt" -> mCorrupt,
    "p_media_mix" -> pMediaMix,
    "p_zorder" -> pZorder,
    "p_hilbert" -> pHilbert,
    "st_window" -> stWindow,
    "st_join" -> stJoin,
    "st_session" -> stSession,
    "st_ingest" -> stIngest,
    "st_screen" -> stScreen,
    "st_dedup" -> stDedup,
    "st_neardup" -> stNearDup,
    "st_neardup_inc" -> stNearDupInc,
    "st_bloom" -> stBloom,
    "st_funnel" -> stFunnel,
    "st_retention" -> stRetention,
    "st_markov" -> stMarkov,
    "st_cms" -> stCms,
    "st_quantile" -> stQuantile,
    "st_ddsketch" -> stDdsketch,
    "st_psi" -> stPsi,
    "st_srm" -> stSrm,
    "st_msprt" -> stMsprt,
    "st_bloom_refresh" -> stBloomRefresh,
    "st_holt" -> stHolt,
    "st_record" -> stRecord,
    "st_lag" -> stLag,
    "st_ewma" -> stEwma,
    "q46_btw" -> q46Btw,
    "q81_ebtw" -> q81Ebtw,
    "q46_btw_gx" -> q46BtwGx,
    "q53_hits" -> q53Hits,
    "t_readability" -> tReadability,
    "t_gopher" -> tGopher,
    "t_code" -> tCode,
    "t_c4" -> tC4,
    "t_mojibake" -> tMojibake,
    "t_rake" -> tRake,
    "t_blocklist" -> tBlocklist,
    "q53_hits_gx" -> q53HitsGx,
    "q54_distdist" -> q54DistDist,
  )

  val oracleSql: Map[String, String] = Map(
    "g_b1_point" -> gB1PointSql,
    "g_b2_label_prop" -> gB2LabelPropSql,
    "g_b3_expand_filtered" -> gB3ExpandFilteredSql,
    "g_b4_expand_all" -> gB4ExpandAllSql,
    "g_b5_expand_type" -> gB5ExpandTypeSql,
    "g_b6_projection" -> gB6ProjectionSql,
    "g_b7_exists" -> gB7ExistsSql,
    "g_b8_scan" -> gB8ScanSql,
    "g_b9_label_pick" -> gB9LabelPickSql,
    "g_a1_merge_lww" -> gA1MergeLwwSql,
    "g_a2_promote" -> gA2PromoteSql,
    "g_a3_update" -> gA3UpdateSql,
    "g_a4_edge_dedup" -> gA4EdgeDedupSql,
    "g_a5_detach" -> gA5DetachSql,
    "g_a7_strip" -> gA7StripSql,
    "g_a9_locals" -> gA9LocalsSql,
    "g_d4_closure" -> gD4ClosureSql,
    "g_c11_override" -> gC11OverrideSql,
    "p_dsir" -> pDsirSql,
    "p_dsir_sample" -> pDsirSampleSql,
    "t_sweep" -> tSweepSql,
    "g_d5_carry" -> gD5CarrySql,
    "g_b11_json" -> gB11JsonSql,
    "g_b11_multi" -> gB11MultiSql,
    "g_c14_slice" -> gC14SliceSql,
    "g_c15_cycles" -> gC15CyclesSql,
    "q1_agg" -> q1AggSql,
    "q2_join_agg" -> q2JoinAggSql,
    "q3_window" -> q3WindowSql,
    "q4_topk" -> q4TopKSql,
    "q5_setops" -> q5SetOpsSql,
    "q6_anti" -> q6AntiSql,
    "q7_semi" -> q7SemiSql,
    "q8_event_window" -> q8EventWindowSql,
    "q9_rollup" -> q9RollupSql,
    "q10_pagerank" -> q10PagerankSql,
    "q60_katz" -> q60KatzSql,
    "q61_scc" -> q61SccSql,
    "q61_scc_gx" -> q61SccSql,
    "q77_scc_inc" -> q61SccSql,
    "q62_condense" -> q62CondenseSql,
    "q63_topo" -> q63TopoSql,
    "q64_walks" -> q64WalksSql,
    "q65_matching" -> q65MatchingSql,
    "q67_mis" -> q67MisSql,
    "q67_mis_gx" -> q67MisSql,
    "q71_vc" -> q71VcSql,
    "q68_coloring" -> q68ColoringSql,
    "q69_msf" -> q69MsfSql,
    "q70_coreness" -> q70CorenessSql,
    "q60_katz_gx" -> q60KatzSql,
    "q10_pagerank_gx" -> q10PagerankSql,
    "q11_cc" -> q11CcSql,
    "q59_cc_inc" -> q11CcSql,
    "q66_pr_inc" -> q66PrIncSql,
    "q11_cc_gx" -> q11CcSql,
    "q12_salted_join" -> q12SaltedJoinSql,
    "q13_asof" -> q13AsofSql,
    "q14_kmv" -> q14KmvSql,
    "q75_hll" -> q75HllSql,
    "q76_hll_grouped" -> q76HllGroupedSql,
    "st_hll" -> stHllSql,
    "q15_quantile" -> q15QuantileSql,
    "t_tokens" -> tTokensSql,
    "t_bpe_tokens" -> tBpeTokensSql,
    "t_bpe_merges" -> tBpeMergesSql,
    "t_wordpiece" -> tWordpieceSql,
    "t_unigram_lm" -> tUnigramLmSql,
    "t_unigram_fertility" -> tUnigramFertilitySql,
    "t_quality_train" -> tQualityTrainSql,
    "t_bpe_fertility" -> tBpeFertilitySql,
    "t_quality" -> tQualitySql,
    "p_clean_corpus" -> pCleanCorpusSql,
    "t_langid" -> tLangIdSql,
    "t_fingerprint" -> tFingerprintSql,
    "d_exact" -> dExactSql,
    "d_cdc" -> dCdcSql,
    "d_ngram_jaccard" -> dNgramJaccardSql,
    "d_containment" -> dContainmentSql,
    "d_minhash_lsh" -> dMinhashLshSql,
    "d_minhash_inc" -> dMinhashIncSql,
    "d_fuzzy_join" -> dFuzzyJoinSql,
    "d_dup_clusters" -> dDupClustersSql,
    "d_softdedup" -> dSoftdedupSql,
    "d_bloom" -> dBloomSql,
    "d_bloom_screen" -> dBloomScreenSql,
    "d_simhash" -> dSimhashSql,
    "s_cosine_topk" -> sCosineTopKSql,
    "s_mmr" -> sMmrSql,
    "s_lsh_ann" -> sLshAnnSql,
    "s_ivf_ann" -> sIvfAnnSql,
    "s_ivf_inc" -> sIvfIncSql,
    "s_pq_inc" -> sPqIncSql,
    "s_pca_top" -> sPcaTopSql,
    "s_emb_neardup" -> sEmbNearDupSql,
    "s_semdedup" -> sSemDedupSql,
    "s_knn_graph" -> sKnnGraphSql,
    "s_knn_inc" -> sKnnIncSql,
    "s_graph_ann" -> sGraphAnnSql,
    "q16_sessions" -> q16SessionsSql,
    "e_funnel" -> eFunnelSql,
    "e_retention" -> eRetentionSql,
    "e_spike" -> eSpikeSql,
    "e_cusum" -> eCusumSql,
    "st_cusum" -> eCusumSql,
    "e_seasonality" -> eSeasonalitySql,
    "e_lag" -> eLagSql,
    "e_km" -> eKmSql,
    "e_ltv" -> eLtvSql,
    "e_ewma" -> eEwmaSql,
    "e_stickiness" -> eStickinessSql,
    "e_power" -> ePowerSql,
    "e_basket" -> eBasketSql,
    "e_holt" -> eHoltSql,
    "p_shard" -> pShardSql,
    "p_manifest" -> pManifestSql,
    "e_ab_test" -> eAbTestSql,
    "e_cuped" -> eCupedSql,
    "e_srm" -> eSrmSql,
    "e_did" -> eDidSql,
    "e_msprt" -> eMsprtSql,
    "e_qte" -> eQteSql,
    "e_markov" -> eMarkovSql,
    "e_lifecycle" -> eLifecycleSql,
    "e_rfm" -> eRfmSql,
    "e_attribution" -> eAttributionSql,
    "e_paths" -> ePathsSql,
    "m_flac" -> mFlacSql,
    "m_mp3" -> mMp3Sql,
    "m_phash" -> mPhashSql,
    "p_budget_fill" -> pBudgetFillSql,
    "d_contam" -> dContamSql,
    "t_tfidf" -> tTfidfSql,
    "p_sample_strat" -> pSampleStratSql,
    "t_repetition" -> tRepetitionSql,
    "p_best_per_lang" -> pBestPerLangSql,
    "s_centroids" -> sCentroidsSql,
    "p_pack_chunks" -> pPackChunksSql,
    "t_pii_redact" -> tPiiRedactSql,
    "d_boilerplate" -> dBoilerplateSql,
    "q17_bloom_semi" -> q17BloomSemiSql,
    "q18_cube" -> q18CubeSql,
    "q19_full_outer" -> q19FullOuterSql,
    "t_domains" -> tDomainsSql,
    "q20_pivot" -> q20PivotSql,
    "q21_range_window" -> q21RangeWindowSql,
    "t_vocab" -> tVocabSql,
    "t_f2" -> tF2Sql,
    "st_f2" -> tF2Sql,
    "p_kanon" -> pKanonSql,
    "p_ldiv" -> pLdivSql,
    "p_tclose" -> pTcloseSql,
    "st_kanon" -> pKanonSql,
    "st_ldiv" -> pLdivSql,
    "st_tclose" -> pTcloseSql,
    "t_lexdiv" -> tLexDivSql,
    "t_pmi" -> tPmiSql,
    "t_zipf" -> tZipfSql,
    "t_kl" -> tKlSql,
    "t_psi" -> tPsiSql,
    "t_special" -> tSpecialSql,
    "t_html" -> tHtmlSql,
    "st_html" -> tHtmlSql,
    "t_ngram_rep" -> tNgramRepSql,
    "t_dupline" -> tDuplineSql,
    "t_dupgram" -> tDupgramSql,
    "t_ppl" -> tPplSql,
    "t_entropy" -> tEntropySql,
    "t_fertility" -> tFertilitySql,
    "t_luhn" -> tLuhnSql,
    "t_length_hist" -> tLengthHistSql,
    "q22_bfs" -> q22BfsSql,
    "q22_bfs_gx" -> q22BfsSql,
    "s_emb_clusters" -> sEmbClustersSql,
    "p_train_mix" -> pTrainMixSql,
    "d_span_frac" -> dSpanFracSql,
    "q23_stragg" -> q23StrAggSql,
    "q24_triangles" -> q24TrianglesSql,
    "q80_densest" -> q80DensestSql,
    "q55_esupport" -> q55EsupportSql,
    "q73_scan" -> q73ScanSql,
    "q74_knn" -> q74KnnSql,
    "q56_ktruss" -> q56KtrussSql,
    "q57_eigen" -> q57EigenSql,
    "q57_eigen_gx" -> q57EigenSql,
    "q58_modularity" -> q58ModularitySql,
    "q24_triangles_gx" -> q24TrianglesSql,
    "q25_lag" -> q25LagSql,
    "q26_ranks" -> q26RanksSql,
    "s_sq_ann" -> sSqAnnSql,
    "s_bq_ann" -> sBqAnnSql,
    "p_temp_mix" -> pTempMixSql,
    "d_line_dedup" -> dLineDedupSql,
    "d_url_dedup" -> dUrlDedupSql,
    "g_d5_diff" -> gD5DiffSql,
    "q14_kmv_grouped" -> q14KmvGroupedSql,
    "q27_range_join" -> q27RangeJoinSql,
    "t_lm_score" -> tLmScoreSql,
    "t_auc" -> tAucSql,
    "t_ccnet" -> tCcnetSql,
    "q28_gsets" -> q28GsetsSql,
    "q29_corr" -> q29CorrSql,
    "t_colstats" -> tColstatsSql,
    "q30_kcore" -> q30KcoreSql,
    "q30_kcore_gx" -> q30KcoreSql,
    "q31_hist_quantile" -> q31HistQuantileSql,
    "d_span_removal" -> dSpanRemovalSql,
    "q32_ppr" -> q32PprSql,
    "q32_ppr_gx" -> q32PprSql,
    "q33_labelprop" -> q33LabelpropSql,
    "q33_labelprop_gx" -> q33LabelpropSql,
    "q47_wsp" -> q47WspSql,
    "q48_clustering" -> q48ClusteringSql,
    "q49_assort" -> q49AssortSql,
    "q72_richclub" -> q72RichclubSql,
    "q50_reach" -> q50ReachSql,
    "q51_linkpred" -> q51LinkPredSql,
    "q52_hybrid" -> q52HybridSql,
    "p_pack_split" -> pPackSplitSql,
    "p_split_assign" -> pSplitAssignSql,
    "p_interleave" -> pInterleaveSql,
    "p_repeat" -> pRepeatSql,
    "p_checks" -> pChecksSql,
    "d_priority_dedup" -> dPriorityDedupSql,
    "g_b10_cypher" -> gB10CypherSql,
    "g_b10_union" -> gB10UnionSql,
    "g_b10_unwind" -> gB10UnwindSql,
    "g_b10_varlen" -> gB10VarlenSql,
    "g_b10_path" -> gB10PathSql,
    "g_b10_pathrev" -> gB10PathRevSql,
    "g_b10_spathp" -> gB10SpathPSql,
    "g_b10_allsp" -> gB10SpathSql,
    "g_b10_distinct" -> gB10DistinctSql,
    "g_b10_case" -> gB10CaseSql,
    "g_b10_patpred" -> gB10PatpredSql,
    "g_b10_optpred" -> gB10OptpredSql,
    "g_b10_optcomma" -> gB10OptCommaSql,
    "g_b10_allspp" -> gB10AllspPSql,
    "g_b10_callsub" -> gB10CallSubSql,
    "g_b10_cntdist" -> gB10CntDistSql,
    "g_b10_pator" -> gB10PatOrSql,
    "g_b10_callpipe" -> gB10CallPipeSql,
    "g_b10_unwsp" -> gB10UnwSpSql,
    "g_b10_exists" -> gB10ExistsSql,
    "g_b10_write" -> gB10WriteSql,
    "g_b10_write_edge" -> gB10WriteEdgeSql,
    "g_b10_cart" -> gB10CartSql,
    "g_b10_undir" -> gB10UndirSql,
    "g_b10_undirvar" -> gB10UndirVarSql,
    "g_b10_range" -> gB10RangeSql,
    "g_b10_pcount" -> gB10PcountSql,
    "g_b10_regroup" -> gB10RegroupSql,
    "g_b10_pctl" -> gB10PctlSql,
    "g_b10_spath" -> gB10SpathSql,
    "g_b10_cycle" -> gB10CycleSql,
    "t_cms_topk" -> tCmsTopkSql,
    "d_incremental" -> dIncrementalSql,
    "s_kmeans" -> sKmeansSql,
    "s_kmeanspar" -> sKmeansParSql,
    "s_kcenter" -> sKcenterSql,
    "s_pq_ann" -> sPqAnnSql,
    "s_ivfpq_ann" -> sIvfPqAnnSql,
    "s_mrl_ann" -> sMrlAnnSql,
    "q34_sp_counts" -> q34SpCountsSql,
    "q42_betweenness" -> q42BetweennessSql,
    "q43_kmv_intersect" -> q43KmvIntersectSql,
    "q44_harmonic" -> q44HarmonicSql,
    "q78_anf" -> q78AnfSql,
    "q79_effdiam" -> q79EffdiamSql,
    "q44_harmonic_gx" -> q44HarmonicSql,
    "q45_mad" -> q45MadSql,
    "q35_multi_distinct" -> q35MultiDistinctSql,
    "t_winsor" -> tWinsorSql,
    "q39_hopping" -> q39HoppingSql,
    "q41_calendar" -> q41CalendarSql,
    "q40_share" -> q40ShareSql,
    "p_group_sample" -> pGroupSampleSql,
    "q38_null_join" -> q38NullJoinSql,
    "q36_funnel" -> q36FunnelSql,
    "q37_wpr" -> q37WprSql,
    "q37_wpr_gx" -> q37WprSql,
    "t_token_vote" -> tTokenVoteSql,
    "m_headers" -> mHeadersSql,
    "m_pdf" -> mPdfSql,
    "m_srt" -> mSrtSql,
    "m_tar" -> mTarSql,
    "m_warc" -> mWarcSql,
    "p_warc_ingest" -> pWarcIngestSql,
    "st_warc" -> pWarcIngestSql,
    "m_tiff" -> mTiffSql,
    "m_exif" -> mExifSql,
    "m_ogg" -> mOggSql,
    "m_avi" -> mAviSql,
    "m_mkv" -> mMkvSql,
    "m_gzip" -> mGzipSql,
    "m_wav_rms" -> mWavRmsSql,
    "m_zip" -> mZipSql,
    "m_video" -> mVideoSql,
    "m_corrupt" -> mCorruptSql,
    "p_media_mix" -> pMediaMixSql,
    "p_zorder" -> pZorderSql,
    "p_hilbert" -> pHilbertSql,
    "st_window" -> stWindowSql,
    "st_join" -> stJoinSql,
    "st_session" -> stSessionSql,
    "st_ingest" -> stIngestSql,
    "st_screen" -> stScreenSql,
    "st_dedup" -> stDedupSql,
    "st_neardup" -> dMinhashLshSql,
    "st_neardup_inc" -> stNearDupIncSql,
    "st_bloom" -> dBloomScreenSql,
    "st_funnel" -> stFunnelSql,
    "st_retention" -> eRetentionSql,
    "st_markov" -> stMarkovSql,
    "st_cms" -> stCmsSql,
    "st_quantile" -> stQuantileSql,
    "st_ddsketch" -> stDdsketchSql,
    "st_psi" -> stPsiSql,
    "st_srm" -> stSrmSql,
    "st_msprt" -> eMsprtSql,
    "st_bloom_refresh" -> stBloomRefreshSql,
    "st_holt" -> stHoltSql,
    "st_record" -> stRecordSql,
    "st_lag" -> stLagSql,
    "st_ewma" -> eEwmaSql,
    "q46_btw" -> q46BtwSql,
    "q81_ebtw" -> q81EbtwSql,
    "q46_btw_gx" -> q46BtwSql,
    "q53_hits" -> q53HitsSql,
    "t_readability" -> tReadabilitySql,
    "t_gopher" -> tGopherSql,
    "t_code" -> tCodeSql,
    "t_c4" -> tC4Sql,
    "t_mojibake" -> tMojibakeSql,
    "t_rake" -> tRakeSql,
    "t_blocklist" -> tBlocklistSql,
    "q53_hits_gx" -> q53HitsSql,
    "q54_distdist" -> q54DistDistSql,
  )
}
