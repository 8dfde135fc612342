package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.QueryCatalog

/** Plan-shape gates: the scale properties the operators are DESIGNED
  * around, asserted on the actual physical plans so a refactor that
  * silently breaks pushdown / pruning / broadcast / join choice fails a
  * spec instead of surfacing as a 100x regression on a real cluster.
  * (Wall-clock benches can't catch these at test scale — a lost
  * broadcast or pruned column costs nothing on 60k rows.) */
class PlanShapeSpec extends AnyFunSuite {
  import TestSpark.spark

  private val sf = "/root/testdata/sf0.001"

  private def executed(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // materialize so AQE settles on the final plan
    df.queryExecution.executedPlan.toString
  }

  /** All file scans in the executed plan, descending through AQE stages
    * (plan.toString truncates scan metadata past 100 chars, so schema
    * assertions must read the nodes, not the rendering). */
  private def fileScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      fileScans(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      fileScans(q.plan)
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
      fileScans(r.child)
    case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(fileScans)
  }

  test("filters push down to the parquet scan (g_b2 label+prop lookup)") {
    val plan = executed(QueryCatalog.gB2LabelProp(spark, sf))
    assert(plan.contains("PushedFilters: ["),
      s"expected parquet pushdown markers; plan:\n$plan")
    // the label-equality predicate must reach the scan, not sit in a
    // post-scan Filter only
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*EqualTo\\(label.*"),
      s"label = 'x' should push to the scan; plan:\n$plan")
  }

  test("anchored var-length expansion seeds the composition (r16): " +
      "a LeftSemi prune appears in the plan; unfiltered heads skip it") {
    // anchored: the undirected 2-hop from REGION must carry the
    // first-leg LeftSemi — without it the plan enumerates every 2-path
    // in the graph and joins the anchor afterwards (the scale killer
    // the seeding exists to prevent)
    val anchored = executed(QueryCatalog.gB10UndirVar(spark, sf))
    assert(anchored.contains("LeftSemi"),
      s"anchored var-length must seed via LeftSemi; plan:\n$anchored")
    // unfiltered head: `(a)-[*1..2]->(b)` has no anchor to seed from —
    // the prune (seed = every vertex) must NOT appear
    val (n, e) = QueryCatalog.cypherTables(spark, sf)
    val un = graft.api.CypherLite.execute(n, e,
      "MATCH (a)-[:IN_NATION*1..2]->(b) RETURN count(*) AS c")
    un.collect()
    assert(!un.queryExecution.executedPlan.toString.contains("LeftSemi"),
      "an unfiltered head must not pay the seed semi-join")
  }

  test("r17 verdict task #2: a REVERSED anchored var-length expands " +
      "seeded too — the flipped-scan expansion carries the LeftSemi " +
      "prune; g_b10_pathrev's gate shape is unchanged") {
    // dst-anchored reversed hop: NATION is the bound side; without the
    // flipped-scan seeding this enumerates every 1..2-path and joins
    // the anchor afterwards — the r16 scale-killer, mirrored
    val (n, e) = QueryCatalog.cypherTables(spark, sf)
    val rev = graft.api.CypherLite.execute(n, e,
      "MATCH (x:NATION {name: 'nation 7'})<-[:IN_NATION*1..2]-(c) " +
        "RETURN count(*) AS c")
    rev.collect()
    assert(rev.queryExecution.executedPlan.toString.contains("LeftSemi"),
      "a reversed anchored var-length must seed via LeftSemi")
    // a filtered RIGHT endpoint prunes the last composition leg even
    // with an unfiltered head (the r17 dst-target)
    val tgt = graft.api.CypherLite.execute(n, e,
      "MATCH (a)-[:IN_NATION*1..2]->(b:NATION) RETURN count(*) AS c")
    tgt.collect()
    assert(tgt.queryExecution.executedPlan.toString.contains("LeftSemi"),
      "a filtered right endpoint must prune the last leg via LeftSemi")
  }

  test("r17 verdict task #1: endpoint/length-only path reads skip " +
      "reconstruction — g_b10_spathp's plan carries no path arrays") {
    // head(nodes(p)) / last(nodes(p)) / size(relationships(p)) rewrite
    // to the BFS frame's own columns; the backtracking loop (its __bn
    // node-array column) must not appear in the plan at all — that loop
    // is maxD extra join+checkpoint rounds the tail never demanded
    val df = QueryCatalog.gB10SpathP(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("__bn") && !plan.contains("__pnodes"),
      s"endpoint-only tail must not build path arrays; plan:\n" +
        plan.take(2000))
    // a tail that DOES read the arrays still reconstructs (and the
    // allShortestPaths per-path arm walks BACKWARD from qualifying
    // endpoints only — its partials are bounded by the demanded output,
    // so the row cap is unreachable on any fixture whose result fits)
    val (n, e) = QueryCatalog.cypherTables(spark, sf)
    val full = graft.api.CypherLite.execute(n, e,
      "MATCH p = allShortestPaths((a:REGION {full_name: 'region.0'})" +
        "<-[:IN_NATION|IN_REGION*]-(b:CUSTOMER)) " +
        "RETURN nodes(p) AS ns, length(p) AS d")
    val rows = full.collect()
    assert(rows.nonEmpty && rows.forall(r =>
      r.getSeq[String](0).length == 3 && r.getLong(1) == 2L),
      "customer→nation→region paths are length 2 with 3 nodes")
  }

  test("r18 verdict task #4: an UNWIND-seeded shortestPath carries the " +
      "seed LeftSemi prune — off-graph seeds never enter the BFS") {
    // the unwound keys seed the frontier directly; the semi join
    // against the node scan is what keeps a bogus seed (or a
    // label-mismatched one) from riding every BFS round. The frontier
    // localCheckpoints eagerly, so the seed join cannot appear in the
    // FINAL plan — the executor records the seed frame's own optimized
    // plan for exactly this pin.
    graft.api.CypherLite.lastSpathSeedPlan = ""
    val rows = QueryCatalog.gB10UnwSp(spark, sf).collect()
    val plan = graft.api.CypherLite.lastSpathSeedPlan
    assert(plan.contains("LeftSemi"),
      s"UNWIND seeds must prune via LeftSemi; seed plan:\n$plan")
    // and the off-graph seed really bound nothing
    assert(rows.nonEmpty &&
      !rows.exists(_.getString(0) == "bogus.99"),
      "the bogus seed must not reach the output")
  }

  test("column pruning: q1 aggregation reads only the five columns it uses") {
    val df = QueryCatalog.q1Agg(spark, sf)
    df.collect()
    val scans = fileScans(df.queryExecution.executedPlan)
    assert(scans.nonEmpty, "expected a parquet scan in the q1 plan")
    val cols = scans.flatMap(_.requiredSchema.fieldNames).toSet
    assert(cols.subsetOf(Set("l_returnflag", "l_linestatus", "l_quantity",
        "l_extendedprice", "l_discount")),
      s"q1 must not read extra lineitem columns; scan read: $cols")
  }

  test("small dimension side broadcasts (q2 join-agg)") {
    val plan = executed(QueryCatalog.q2JoinAgg(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"nation/region side should broadcast; plan:\n$plan")
  }

  test("no nested-loop or cartesian joins in the dedup/contamination paths") {
    for ((name, q) <- Seq(
        "d_contam" -> QueryCatalog.dContam,
        "d_ngram_jaccard" -> QueryCatalog.dNgramJaccard,
        "d_minhash_lsh" -> QueryCatalog.dMinhashLsh)) {
      val plan = executed(q(spark, sf))
      assert(!plan.contains("CartesianProduct"),
        s"$name must never plan a cartesian product; plan:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name must never plan a nested-loop join; plan:\n$plan")
    }
  }

  test("whole-stage codegen covers the q1 aggregation pipeline") {
    val plan = executed(QueryCatalog.q1Agg(spark, sf))
    // tree rendering marks codegen stages with "*(id)" prefixes
    assert(plan.contains("*("),
      s"hot aggregation path fell out of codegen; plan:\n$plan")
  }

  test("CMS candidate-lookup joins against the tiny sketch via broadcast") {
    val plan = executed(QueryCatalog.tCmsTopk(spark, sf))
    // the sketch side is a fixed depth×width table — if this ever plans
    // as a shuffled join the sketch's whole point (scale-free side) is
    // lost
    assert(plan.contains("BroadcastHashJoin"),
      s"sketch join must broadcast; plan:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"CMS path must stay equi-join only; plan:\n$plan")
  }

  test("incremental dedup anti-join shuffles on fp (base side never broadcasts)") {
    val plan = executed(QueryCatalog.dIncremental(spark, sf))
    // the base corpus is unbounded at scale: the anti-join must be a
    // shuffle-partitioned hash/merge join keyed on fp, not a broadcast
    // of the base fingerprint set (AQE may still broadcast at this tiny
    // test SF — accept either hash strategy but never nested-loop)
    assert(plan.contains("Join LeftAnti") || plan.contains("LeftAnti"),
      s"expected an anti-join; plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"anti-join must stay an equi hash join; plan:\n$plan")
  }

  test("g_b5 expand-by-type pins its shape: pushed edge filters, equi hash join") {
    // the r6 bench flagged a 2x swing on this query; the cause was the
    // derived-cache one-time resolve migrating between queries (now paid
    // in Bench warm-up), but this gate pins the join shape so a REAL
    // plan regression can never hide behind run variance again
    val df = QueryCatalog.gB5ExpandType(spark, sf)
    df.collect()
    val scans = fileScans(df.queryExecution.executedPlan)
    val pushed = scans.flatMap(_.metadata.get("PushedFilters"))
    assert(pushed.exists(_.contains("EqualTo(rel_type")),
      s"rel_type filter must reach the edges scan; pushed: $pushed")
    assert(pushed.exists(_.contains("EqualTo(dst")),
      s"dst filter must reach the edges scan; pushed: $pushed")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"expand-by-type must stay an equi hash join; plan:\n$plan")
  }

  test("m_headers is a pure narrow map: zero exchanges, scale-free") {
    // payload build + header parse are per-row; a shuffle appearing here
    // would mean the multimodal path stopped being embarrassingly
    // parallel
    val df = QueryCatalog.mHeaders(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"m_headers must not shuffle; plan:\n$plan")
  }

  test("p_zorder is a pure narrow map: zero exchanges") {
    // the layout KEY must never cost a shuffle to compute — it exists to
    // be attached during an already-planned write
    val df = QueryCatalog.pZorder(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"p_zorder must not shuffle; plan:\n$plan")
  }

  test("p_hilbert is a pure narrow map inside whole-stage codegen") {
    val df = QueryCatalog.pHilbert(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"p_hilbert must not shuffle; plan:\n$plan")
    assert(plan.contains("*(1) Project"),
      s"the Hilbert kernel must stay inside whole-stage codegen " +
        s"(the `*(n)` marker); plan:\n$plan")
  }

  test("q35 multi-distinct plans the Expand two-level aggregation") {
    val plan = executed(QueryCatalog.q35MultiDistinct(spark, sf))
    assert(plan.contains("Expand"),
      s"multiple distinct aggs should rewrite via Expand; plan:\n$plan")
  }

  test("co-purchase queries scan the persisted derived table, never the " +
      "lineitem self-join") {
    // the co-purchase graph is derived ONCE per corpus version
    // (GraphTables.coPurchase) — a plan that re-reads lineitem here means
    // the most expensive derivation in the catalog silently became a
    // per-query cost again (~11 queries pay it)
    val df = QueryCatalog.q48Clustering(spark, sf)
    df.collect()
    val scans = fileScans(df.queryExecution.executedPlan)
      .map(_.relation.location.rootPaths.mkString(","))
    assert(scans.nonEmpty)
    assert(!scans.exists(_.contains("lineitem")),
      s"q48 must read the materialized co-purchase table, scans:\n${scans.mkString("\n")}")
    assert(scans.exists(_.contains("copurchase")),
      s"expected a copurchase derived-table scan, scans:\n${scans.mkString("\n")}")
  }

  test("t_gopher is a pure narrow map: zero exchanges, scale-free") {
    val plan = executed(QueryCatalog.tGopher(spark, sf))
    assert(!plan.contains("Exchange"),
      s"gopherScreen must not shuffle; plan:\n$plan")
  }

  test("p_repeat + t_mojibake are pure narrow maps: zero exchanges") {
    // epoch expansion is a bounded explode and the mojibake screen a
    // regexp_count projection — either one shuffling would mean a
    // per-row op silently grew a corpus-wide exchange
    val plan1 = executed(QueryCatalog.pRepeat(spark, sf))
    assert(!plan1.contains("Exchange"),
      s"epochRepeat must not shuffle; plan:\n$plan1")
    val plan2 = executed(QueryCatalog.tMojibake(spark, sf))
    assert(!plan2.contains("Exchange"),
      s"mojibakeScreen must not shuffle; plan:\n$plan2")
  }

  test("d_bloom probes broadcast; q72 thresholds broadcast, no cartesian") {
    // the Bloom bit set exists to be BROADCAST — a shuffled bit-set join
    // would defeat the whole design (the base must never reshuffle)
    val plan1 = executed(QueryCatalog.dBloom(spark, sf))
    assert(plan1.contains("BroadcastHashJoin"),
      s"the bit-set probes must broadcast; plan:\n$plan1")
    // the 6-row threshold list joins the degree histograms broadcast —
    // nested-loop is fine (range predicate), cartesian of histograms OK,
    // but the EDGE table must never cross-join anything
    val plan2 = executed(QueryCatalog.q72Richclub(spark, sf))
    assert(plan2.contains("BroadcastNestedLoopJoin") ||
      plan2.contains("BroadcastHashJoin"),
      s"threshold joins must broadcast; plan:\n$plan2")
  }

  test("g_b10_patpred plans the semi/anti joins, no cartesian product") {
    val plan = executed(QueryCatalog.gB10Patpred(spark, sf))
    assert(plan.contains("LeftSemi"),
      s"positive pattern predicate must be a semi-join; plan:\n$plan")
    assert(plan.contains("LeftAnti"),
      s"NOT pattern predicate must be an anti-join; plan:\n$plan")
    assert(!plan.contains("Cartesian") && !plan.contains("BroadcastNestedLoop"),
      s"pattern predicates must stay equi-joins; plan:\n$plan")
  }

  test("incremental CC's previous labels are a PERSISTED parquet scan") {
    // the incremental-CC gate's whole point: prev labels come from the
    // fingerprinted ccprev derived table (production stores the last
    // run's labels); re-running the old-graph CC in-query would
    // double-count the very work incrementality avoids. The q59 plan
    // itself hides file scans behind its localCheckpoint boundary, so
    // the gate asserts the TABLE's provenance: resolving it twice must
    // plan a ccprev parquet scan, never a CC loop.
    val prev = graft.store.GraphTables.ccPrev(spark, sf)
    val scans = fileScans(prev.queryExecution.executedPlan)
      .map(_.relation.location.rootPaths.mkString(","))
    assert(scans.nonEmpty && scans.forall(_.contains("ccprev")),
      s"ccPrev must be a materialized parquet scan, scans:\n${scans.mkString("\n")}")
  }

  test("q62/q63's SCC labels are a PERSISTED parquet scan") {
    // the condensation/layer consumers must read the scclabels derived
    // table (one labeling per corpus version), never re-run the
    // coloring loop in-query — the ccprev discipline
    val labels = graft.store.GraphTables.sccLabels(spark, sf)
    val scans = fileScans(labels.queryExecution.executedPlan)
      .map(_.relation.location.rootPaths.mkString(","))
    assert(scans.nonEmpty && scans.forall(_.contains("scclabels")),
      s"sccLabels must be a materialized parquet scan, scans:\n${scans.mkString("\n")}")
    // r12: the condensation itself persists too — q62 IS this scan and
    // q63's relaxation reads it instead of re-deriving the ring windows
    val cond = graft.store.GraphTables.sccCond(spark, sf)
    val cscans = fileScans(cond.queryExecution.executedPlan)
      .map(_.relation.location.rootPaths.mkString(","))
    assert(cscans.nonEmpty && cscans.forall(_.contains("scccond")),
      s"sccCond must be a materialized parquet scan, scans:\n${cscans.mkString("\n")}")
  }

  test("q77_scc_inc: all three inputs are PERSISTED parquet scans " +
      "(labels, condensation, delta batch — the old edge table is " +
      "never read)") {
    for ((table, df) <- Seq(
        "sccprev50" -> graft.store.GraphTables.sccPrev(spark, sf),
        "sccprevcond50" -> graft.store.GraphTables.sccPrevCond(spark, sf),
        "sccdelta50" -> graft.store.GraphTables.sccDelta(spark, sf))) {
      val scans = fileScans(df.queryExecution.executedPlan)
        .map(_.relation.location.rootPaths.mkString(","))
      assert(scans.nonEmpty && scans.forall(_.contains(table)),
        s"$table must be a materialized parquet scan; scans:\n${scans.mkString("\n")}")
    }
  }

  test("m_tiff is a pure narrow map: zero exchanges, scale-free") {
    val plan = executed(QueryCatalog.mTiff(spark, sf))
    assert(!plan.contains("Exchange"),
      s"the TIFF build+parse must not shuffle; plan:\n$plan")
  }

  test("p_dsir: the bucket-model joins broadcast, never cartesian") {
    val plan = executed(QueryCatalog.pDsir(spark, sf))
    // the ratio table (≤64 rows) must hash-join broadcast against the
    // per-doc bucket counts, and the totals ride a broadcast-nested-loop
    // 1-row cross join — an actual cartesian would be corpus × corpus
    assert(plan.contains("BroadcastHashJoin"),
      s"the ratio join must broadcast; plan:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"no real cartesian allowed; plan:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be TakeOrderedAndProject, not a global sort; plan:\n$plan")
  }

  test("t_zipf / t_rake: top-k is TakeOrderedAndProject, never a " +
      "full-table single-partition rank window") {
    // r12 verdict weak #1: the rank spelling must be orderBy().limit(k)
    // so the global ordering cost is per-partition top-k + a k-bounded
    // driver merge; the row_number window then only ever sees ≤k rows.
    for ((name, df) <- Seq(
        "t_zipf" -> QueryCatalog.tZipf(spark, sf),
        "t_rake" -> QueryCatalog.tRake(spark, sf))) {
      val plan = executed(df)
      assert(plan.contains("TakeOrderedAndProject"),
        s"$name top-k must be TakeOrderedAndProject; plan:\n$plan")
      // no corpus-sized single-partition exchange feeding the window:
      // every SinglePartition exchange must sit ABOVE the TakeOrdered
      // (i.e. the window input is the ≤k-row limit output)
      val takeIdx = plan.indexOf("TakeOrderedAndProject")
      val spIdx = plan.indexOf("Exchange SinglePartition")
      assert(spIdx == -1 || spIdx < takeIdx,
        s"$name: single-partition exchange below the top-k; plan:\n$plan")
    }
  }

  test("t_sweep: one corpus shuffle into a bins-sized window") {
    val plan = executed(QueryCatalog.tSweep(spark, sf))
    // the histogram groupBy is the only corpus-sized exchange; the
    // cumulative window then runs over bins rows (single partition BY
    // DESIGN — 10 rows), so no corpus-sized global sort appears
    val exchanges = "Exchange hashpartitioning".r
      .findAllIn(plan).size
    assert(exchanges <= 3, // doc-histogram partials + axis join sides
      s"t_sweep must not multiply corpus-sized shuffles; plan:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"totals must broadcast; plan:\n$plan")
  }

  test("e_paths: one user_id shuffle, top-n via TakeOrderedAndProject") {
    val plan = executed(QueryCatalog.ePaths(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-n must be TakeOrderedAndProject; plan:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"),
      s"no join blowups in a window+count plan:\n$plan")
  }

  test("t_code is a pure narrow map: zero exchanges, scale-free") {
    val plan = executed(QueryCatalog.tCode(spark, sf))
    assert(!plan.contains("Exchange"),
      s"code screen must not shuffle; plan:\n$plan")
  }

  test("d_cdc: the one-pass kernel is in the plan, not the HOF spelling") {
    val plan = executed(QueryCatalog.dCdc(spark, sf))
    // the O(len) codegen'd kernel must be what runs — a refactor back
    // to transform/filter HOFs was a measured 195x regression at sf0.1
    assert(plan.contains("graft_cdc_chunk_hashes"),
      s"expected the CdcChunkHashes kernel; plan:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"stats join must be an equi join; plan:\n$plan")
  }

  test("s_semdedup: centroids broadcast; the only self-join is within-cell") {
    val plan = executed(QueryCatalog.sSemDedup(spark, sf))
    // the 16-centroid assignment must ride a broadcast-nested-loop (a
    // constant-size side), never a real cartesian; the within-cell pair
    // join is an equi join on cid
    assert(!plan.contains("CartesianProduct"),
      s"no real cartesian allowed; plan:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
      s"within-cell pairing must be an equi join on cid; plan:\n$plan")
  }

  test("t_auc: the rank-free AUC never sorts the corpus globally") {
    val plan = executed(QueryCatalog.tAuc(spark, sf))
    // the cumulative window must run on the grouped distinct-score
    // aggregate — the plan's Window sits above a HashAggregate, and no
    // corpus-sized global Sort+Window pairing on raw doc rows exists
    assert(plan.contains("Window"), s"expected the grouped window:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"no join blowups; plan:\n$plan")
  }

  test("p_interleave: positions come from broadcast counts, NO global window") {
    val plan = executed(QueryCatalog.pInterleave(spark, sf))
    // the only Window is the per-source rank (partitioned by lang); the
    // global total-order position must NOT be a corpus-wide window —
    // every row_number spec in the plan carries the lang partition
    // column ahead of its sort key
    val winLines = plan.split("\n").filter(_.contains("row_number()"))
    assert(winLines.nonEmpty &&
      winLines.forall(_.contains("windowspecdefinition(lang#")),
      s"every row_number must be lang-partitioned; plan:\n$plan")
    assert(plan.contains("BroadcastExchange") ||
      plan.contains("BroadcastNestedLoop"),
      s"per-source counts must broadcast; plan:\n$plan")
    // the fan-out join against the tiny counts table is a broadcast
    // nested-loop cross (bounded x|sources|), never a shuffled cartesian
    assert(!plan.contains("CartesianProduct"),
      s"no shuffled cartesian; plan:\n$plan")
  }

  test("m_phash: banded equi self-join, kernel in-plan, no cartesian") {
    val plan = executed(QueryCatalog.mPhash(spark, sf))
    assert(plan.contains("graft_dhash64"),
      s"the native dHash kernel must be in the plan; plan:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"),
      s"band candidates must pair via equi join; plan:\n$plan")
  }

  test("r13 s_ivf_inc / s_pq_inc: the refresh reads the PERSISTED " +
      "previous-version artifacts and anti-joins, never retrains") {
    for ((table, df) <- Seq(
        "ivfcentsprev" -> graft.store.GraphTables.ivfCentsPrev(spark, sf),
        "ivfindexprev" -> graft.store.GraphTables.ivfIndexPrev(spark, sf),
        "pqbooksprev" -> graft.store.GraphTables.pqBooksPrev(spark, sf),
        "pqencprev" -> graft.store.GraphTables.pqEncPrev(spark, sf))) {
      val scans = fileScans(df.queryExecution.executedPlan)
        .map(_.relation.location.rootPaths.mkString(","))
      assert(scans.nonEmpty && scans.forall(_.contains(table)),
        s"$table must be a materialized parquet scan; scans:\n${scans.mkString("\n")}")
    }
    val df = QueryCatalog.sIvfInc(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val scans = fileScans(df.queryExecution.executedPlan)
      .map(_.relation.location.rootPaths.mkString(","))
    assert(scans.exists(_.contains("ivfindexprev")) &&
        scans.exists(_.contains("ivfcentsprev")),
      s"s_ivf_inc must read the persisted prev model; scans:\n${scans.mkString("\n")}")
    // the delta is carved out by an anti-join against the prev index —
    // the refresh's only corpus-vs-model contact
    assert(plan.contains("LeftAnti"),
      s"refresh must anti-join out already-indexed vectors; plan:\n$plan")
  }

  test("r13 m_pdf / m_srt / t_special: pure narrow maps — zero exchanges") {
    for ((name, df) <- Seq("m_pdf" -> QueryCatalog.mPdf(spark, sf),
        "m_srt" -> QueryCatalog.mSrt(spark, sf),
        "t_special" -> QueryCatalog.tSpecial(spark, sf),
        "t_html" -> QueryCatalog.tHtml(spark, sf))) {
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"$name must be a narrow map; plan:\n$plan")
    }
  }

  test("r14 m_tar: a pure narrow byte walk — zero exchanges") {
    val df = QueryCatalog.mTar(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"m_tar must be a narrow map; plan:\n$plan")
  }

  test("r14 e_srm / e_did / e_msprt: one user_id shuffle then a 1-row " +
      "fold — no corpus re-exchange") {
    for ((name, df) <- Seq("e_srm" -> QueryCatalog.eSrm(spark, sf),
        "e_did" -> QueryCatalog.eDid(spark, sf),
        "e_msprt" -> QueryCatalog.eMsprt(spark, sf))) {
      df.collect()
      // final plan only — AQE prints the initial plan below it
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      // ≤2: the user_id partial→final aggregate pair (e_did's broadcast
      // span join adds only a BroadcastExchange, not a hash shuffle);
      // the terminal 1-row fold is a SinglePartition exchange
      assert(exchanges <= 2,
        s"$name must shuffle the corpus once (user_id); plan:\n$plan")
      assert(!plan.contains("CartesianProduct"),
        s"$name span join must broadcast; plan:\n$plan")
    }
  }

  test("r14 t_dupline / t_dupgram: partial-agg-friendly (doc, key) " +
      "counts — the c>=2 / repeat filters never force a second " +
      "corpus-wide exchange beyond the keyed aggregates") {
    for ((name, df, cap) <- Seq(
        ("t_dupline", QueryCatalog.tDupline(spark, sf), 4),
        ("t_dupgram", QueryCatalog.tDupgram(spark, sf), 5))) {
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges <= cap,
        s"$name exchange count $exchanges exceeds $cap; plan:\n$plan")
      assert(plan.contains("partial_count") || plan.contains("partial"),
        s"$name counts must partial-aggregate; plan:\n$plan")
    }
  }

  test("r14 s_kmeanspar: candidate pull-back is a broadcast semi-join, " +
      "not a literal IN list") {
    val e = graft.store.Tables.embeddings(spark, sf)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"))
    val df = graft.pipeline.Similarity.candSemiJoin(e, Seq(1L, 2L, 3L))
    df.collect()
    val plan = executed(df)
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"candidate ids must probe as a broadcast semi-join; plan:\n$plan")
    assert(!plan.contains("vec_id#") || !plan.contains(" IN ("),
      s"no literal IN predicate over candidate ids; plan:\n$plan")
  }

  test("r13 t_psi: the sources × octaves grid broadcasts — no " +
      "cartesian, no corpus-sized shuffle multiplication") {
    val plan0 = executed(QueryCatalog.tPsi(spark, sf))
    assert(!plan0.contains("CartesianProduct"),
      s"the bounded grids must broadcast; plan:\n$plan0")
    // count the FINAL plan only (AQE renders the initial plan below it,
    // doubling every node in the string)
    val plan = plan0.split("== Initial Plan ==").head
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 5,
      s"t_psi must not multiply corpus shuffles; plan:\n$plan0")
  }

  test("q66_pr_inc: previous ranks are a PERSISTED parquet scan") {
    val df = QueryCatalog.q66PrInc(spark, sf)
    df.collect()
    val scans = fileScans(df.queryExecution.executedPlan)
      .map(_.relation.location.rootPaths.mkString(","))
    assert(scans.exists(_.contains("prprev")),
      s"warm-start seeds must come from the persisted prprev table; scans:\n${scans.mkString("\n")}")
  }

  test("s_graph_ann: the kNN graph is a PERSISTED parquet scan") {
    // the search plan hides its scans behind the beam loop's
    // localCheckpoint boundaries (the q59 situation), so the gate
    // asserts the TABLE's provenance: resolving the graph must plan a
    // knngraph5 parquet scan, never the per-cell self-join builder
    val g = graft.store.GraphTables.knnGraph5(spark, sf)
    val scans = fileScans(g.queryExecution.executedPlan)
      .map(_.relation.location.rootPaths.mkString(","))
    assert(scans.nonEmpty && scans.forall(_.contains("knngraph5")),
      s"knnGraph5 must be a materialized parquet scan; scans:\n${scans.mkString("\n")}")
  }

  test("s_pq_ann / s_ivfpq_ann: the ANN model artifacts are PERSISTED " +
      "parquet scans (training/encoding never re-run per search)") {
    // the knngraph5 argument: resolving each artifact must plan a scan
    // of its derived table, never the trainer/encoder
    for ((table, df) <- Seq(
        "ivfcents" -> graft.store.GraphTables.ivfCents16(spark, sf),
        "ivfindex" -> graft.store.GraphTables.ivfIndex16(spark, sf),
        "pqbooks" -> graft.store.GraphTables.pqBooks4x16(spark, sf),
        "pqenc" -> graft.store.GraphTables.pqEnc4x16(spark, sf))) {
      val scans = fileScans(df.queryExecution.executedPlan)
        .map(_.relation.location.rootPaths.mkString(","))
      assert(scans.nonEmpty && scans.forall(_.contains(table)),
        s"$table must be a materialized parquet scan; scans:\n${scans.mkString("\n")}")
    }
    // and the search plans consume them: every scan in s_pq_ann is the
    // corpus, the codes, or the books — no re-derivation subplans
    val df = QueryCatalog.sPqAnn(spark, sf)
    df.collect()
    val scans = fileScans(df.queryExecution.executedPlan)
      .map(_.relation.location.rootPaths.mkString(","))
    assert(scans.exists(_.contains("pqenc")) &&
        scans.exists(_.contains("pqbooks")),
      s"s_pq_ann must read the persisted model; scans:\n${scans.mkString("\n")}")
  }

  test("d_bloom_screen: persisted bit-set scan + broadcast probes, zero " +
      "hash Exchange (the base is never touched per batch)") {
    val df = QueryCatalog.dBloomScreen(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"the per-batch screen must not shuffle anything; plan:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"the bit set must broadcast; plan:\n$plan")
    val scans = fileScans(df.queryExecution.executedPlan)
      .map(_.relation.location.rootPaths.mkString(","))
    assert(scans.exists(_.contains("bloombits")),
      s"the filter must come from the persisted bloombits derived table, " +
        s"not a base aggregation; scans:\n${scans.mkString("\n")}")
    assert(scans.count(_.contains("documents")) === 1,
      s"only the batch side may scan documents; scans:\n${scans.mkString("\n")}")
  }

  test("p_shard: rank windows stay size-partitioned, buckets broadcast") {
    val plan = executed(QueryCatalog.pShard(spark, sf))
    // the scale argument: NO corpus-wide single-partition row_number —
    // every row_number carries the n_chars partition column; the only
    // ordered-unpartitioned window is the cumulative sum over the tiny
    // size-bucket table
    val winLines = plan.split("\n").filter(_.contains("row_number()"))
    assert(winLines.nonEmpty &&
      winLines.forall(_.contains("windowspecdefinition(n_chars#")),
      s"every row_number must be n_chars-partitioned; plan:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"the bucket-cumulative table must broadcast; plan:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"plan:\n$plan")
  }

  test("p_checks: one wide aggregate per table, no joins, no windows") {
    val df = QueryCatalog.pChecks(spark, sf)
    df.collect()
    assert(fileScans(df.queryExecution.executedPlan).size === 2,
      "exactly one scan per checked table")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Window"),
      s"rules must be columns of the same aggregate, not passes; plan:\n$plan")
  }

  test("t_pmi: frequent vocab gates the pair join; no cartesian pairs") {
    val plan = executed(QueryCatalog.tPmi(spark, sf))
    // pairs come from an equi join on doc_id over df-gated terms — a
    // cartesian pair enumeration would be the all-pairs blowup
    assert(!plan.contains("CartesianProduct"), s"plan:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"the frequent-term table must broadcast; plan:\n$plan")
  }

  test("q70_coreness: the h-index rank window stays vertex-partitioned") {
    // the loop's localCheckpoints hide round plans from the final scan
    // (the s_graph_ann situation), so gate the exposed round body — the
    // exact DataFrame the loop iterates
    import TestSpark.spark.implicits._
    val und = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
      .toDF("src", "dst")
    val est = Seq((1L, 1L), (2L, 2L), (3L, 1L)).toDF("v", "est")
    val round = graft.enrich.Analytics.corenessRound(und, est)
    val plan = executed(round)
    val winLines = plan.split("\n").filter(_.contains("row_number()"))
    assert(winLines.nonEmpty &&
      winLines.forall(l => l.contains("windowspecdefinition(v#") ||
        l.contains("windowspecdefinition(dst#")),
      s"the rank window must be vertex-partitioned, never " +
        s"single-partition; plan:\n$plan")
  }

  test("s_mmr: candidate matrix joins broadcast, kernel in-plan") {
    val df = QueryCatalog.sMmr(spark, sf)
    // the distributed stages (shortlist + pair matrix) run inside
    // mmrTopK's collects; gate the RESOLVED shortlist plan instead
    val shortlist = graft.pipeline.Similarity.bruteForceTopK(
      graft.store.Tables.embeddings(spark, sf), Seq(0L), 50)
    val plan = executed(shortlist)
    assert(plan.contains("graft_cosine") || plan.contains("CosineSim") ||
      plan.contains("cosinesim"),
      s"the codegen'd cosine kernel must be in the plan; plan:\n$plan")
    assert(plan.contains("BroadcastExchange") ||
      plan.contains("BroadcastNestedLoop"),
      s"the query side must broadcast; plan:\n$plan")
    // and the driver-side selection is bounded: k rows out
    assert(df.count() === 10)
  }

  test("e_stickiness: coverage explosion happens AFTER the (user, day) dedup") {
    val df = QueryCatalog.eStickiness(spark, sf)
    val analyzed = df.queryExecution.optimizedPlan.toString
    // the Generate (explode) must consume the deduped activity table,
    // not the raw event stream: optimizer keeps an Aggregate (distinct)
    // below the Generate
    val genIdx = analyzed.indexOf("Generate explode")
    assert(genIdx >= 0, s"expected an explode in:\n$analyzed")
    assert(analyzed.indexOf("Aggregate", genIdx) >= 0,
      s"explode must sit above the (user, day) dedup aggregate:\n$analyzed")
    val plan = executed(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"),
      s"day join must be an equi join; plan:\n$plan")
  }

  test("r14b e_cusum: one (type, day) count shuffle, calibration " +
      "broadcast back, windows on the bounded day series") {
    val df = QueryCatalog.eCusum(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"),
      s"the 5-row calibration must broadcast; plan:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no sort-merge join on a 5-row calibration; plan:\n$plan")
    // the CORPUS shuffles exactly once — the partial-agg (type, day)
    // count straight off the file scan; every other exchange
    // (calibration aggregate pair + the window's per-type repartition)
    // moves the bounded ≤ types·days table
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 4,
      s"one corpus shuffle + bounded-table passes; plan:\n$plan")
    assert(plan.contains("partial_count"),
      s"the corpus pass must partial-aggregate off the scan; plan:\n$plan")
  }

  test("r14b m_warc / p_warc_ingest: narrow byte walks — the composed " +
      "ingest adds zero exchanges end-to-end") {
    for ((name, df) <- Seq("m_warc" -> QueryCatalog.mWarc(spark, sf),
        "p_warc_ingest" -> QueryCatalog.pWarcIngest(spark, sf))) {
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"$name must be a narrow walk; plan:\n$plan")
    }
  }

  test("r14b s_knn_inc: the previous graph is a PERSISTED parquet " +
      "scan; untouched cells splice via an anti-join on the broadcast " +
      "affected set") {
    val df = QueryCatalog.queries("s_knn_inc")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("knngraphprev"),
      s"prev graph must come from the persisted artifact; plan:\n$plan")
    assert(plan.contains("LeftAnti"),
      s"untouched cells must anti-join out the affected set; plan:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"no cartesian in the refresh; plan:\n$plan")
  }

  test("r14b p_kanon: one bounded-key partial-agg groupBy, no joins") {
    val df = QueryCatalog.queries("p_kanon")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 1,
      s"one partial-agg exchange only; plan:\n$plan")
    assert(!plan.contains("Join"), s"no joins; plan:\n$plan")
    assert(plan.contains("partial_count"),
      s"the scan must partial-aggregate; plan:\n$plan")
  }

  test("r15 p_ldiv: one bounded-key partial-agg groupBy, no joins") {
    val df = QueryCatalog.queries("p_ldiv")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // count_distinct plans as a two-phase aggregate over the same key
    // exchange family — but never a join, and never a per-doc shuffle
    // beyond the bounded class/source keys
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 2,
      s"bounded-key exchanges only; plan:\n$plan")
    assert(!plan.contains("Join"), s"no joins; plan:\n$plan")
  }

  test("r15 p_tclose: global/total tables broadcast into the bounded " +
      "grid — no shuffled join, no unbounded cartesian") {
    val df = QueryCatalog.queries("p_tclose")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("SortMergeJoin"),
      s"the class x source grid joins must broadcast; plan:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"the global tables must broadcast; plan:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"never a real cartesian; plan:\n$plan")
  }

  test("r14b t_wordpiece: the per-round unigram score table broadcasts " +
      "into the pair join — never a shuffled join on symbols") {
    val df = QueryCatalog.tWordpiece(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      s"unigram score joins must broadcast; plan:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"no cartesian anywhere in training; plan:\n$plan")
  }

  private def fixtureRepo =
    getClass.getClassLoader.getResource("fixture_repo").getPath

  // merged by the Spark shuffles, so enrich takes its distributed arm at
  // any budget
  private def fixtureIndexed = {
    import graft.indexer.IndexPipeline
    IngestArms.indexFiles(IngestArms.Distributed)(
      IndexPipeline.readRepo(spark, fixtureRepo), "t1")
  }

  test("enrich's edge frame reads its pinned join tail: no Join left " +
      "for each snapshot table to re-run") {
    val edges =
      graft.indexer.IndexPipeline.enrich(fixtureIndexed, "t1").edges
    val plan = edges.queryExecution.optimizedPlan
    assert(plan.collect { case j: org.apache.spark.sql.catalyst.plans
        .logical.Join => j }.isEmpty,
      s"enrich edges must not carry a join; plan:\n$plan")
  }

  test("enrich follows the merge's arm") {
    import JobRecorder.{jobs, recorded}
    import graft.indexer.IndexPipeline
    def enrichJobs(ix: IndexPipeline.Indexed) =
      jobs(recorded(spark)(IndexPipeline.enrich(ix, "t1"))._2)
    val onDriver = IngestArms.indexFiles(IngestArms.Driver)(
      IndexPipeline.readRepo(spark, fixtureRepo), "t1")
    assert(onDriver.onDriver.isDefined)
    assert(enrichJobs(onDriver) === 0)
    // the merged tables fit the default budget, but the shuffled merge
    // sends enrich to its Spark joins: more jobs than a probe per table
    val shuffled = fixtureIndexed
    assert(shuffled.onDriver.isEmpty)
    assert(enrichJobs(shuffled) > 3)
  }

  test("indexFiles' arm decision counts symbol, edge and import events, " +
      "not locations") {
    import graft.indexer.{IndexPipeline, PyIndexer}
    val files = IndexPipeline.readRepo(spark, fixtureRepo).collect().toSeq
    val ctx = PyIndexer.corpusContext(
      files.map(f => PyIndexer.moduleBindings(f.path, f.content)))
    val parsed = files.map(f =>
      PyIndexer.indexFileSafe("t1", f.path, f.content, Some(ctx)))
    val merged = parsed.map(e =>
      e.symbols.size + e.edges.size + e.imports.size).sum
    assert(parsed.map(_.locations.size).sum > 0)
    def onDriver(budget: Int) = IngestArms.indexFiles(
        IngestArms.Arm(s"budget $budget", budget))(
        IndexPipeline.readRepo(spark, fixtureRepo), "t1")
      .onDriver.isDefined
    assert(onDriver(merged), s"$merged events fit a budget of $merged")
    assert(!onDriver(merged - 1))
  }

  test("indexRepo within the row budget runs at most 8 jobs") {
    import JobRecorder.{jobs, recorded}
    def jobsOn(arm: IngestArms.Arm) = {
      val dir = java.nio.file.Files.createTempDirectory("graft-ingest-jobs")
      try IngestArms.under(arm)(jobs(recorded(spark)(
        graft.api.GraphDatabase.open(spark, s"$dir/db")
          .indexRepo(fixtureRepo, "t1"))._2))
      finally scala.reflect.io.Directory(dir.toFile).deleteRecursively()
    }
    // the pre-scan 3 (the tree's rebalancing shuffle, its cache, the
    // collect), the bounded event collect 2 (the parse into the pin,
    // the collect), the snapshot write 3 (a job per table)
    val bound = 8
    assert(jobsOn(IngestArms.Driver) <= bound)
    assert(jobsOn(IngestArms.Distributed) > bound)
  }

  test("a held snapshot serves a point read with no job, and a node-only " +
      "persisted commit runs at most 2 jobs (more at threshold 0)") {
    import JobRecorder.{jobs, recorded}
    def jobsOn(arm: IngestArms.Arm): (Int, Int) = {
      val dir = java.nio.file.Files.createTempDirectory("graft-serve-jobs")
      try IngestArms.under(arm) {
        val db = graft.api.GraphDatabase.open(spark, s"$dir/db")
        db.indexRepo(fixtureRepo, "t1")
        db.nodes; db.edges // the version's first reads decide residency
        val point = jobs(recorded(spark)(db.executeQuery(
          "MATCH (n {full_name: 'main'}) RETURN n.kind AS kind").collect())._2)
        db.executeQuery("MERGE (n:t1 {full_name: 'main'}) SET n.tag = 'x'")
        (point, jobs(recorded(spark)(db.commit())._2))
      } finally scala.reflect.io.Directory(dir.toFile).deleteRecursively()
    }
    // the commit: the bounded collect of the merged nodes, whose plan
    // over single-partition held leaves has no exchange, and the nodes'
    // write; edges and locations are linked
    val (point, commit) = jobsOn(IngestArms.Driver)
    assert(point === 0)
    assert(commit <= 2)
    val (pointStored, commitStored) = jobsOn(IngestArms.Distributed)
    assert(pointStored > 0)
    assert(commitStored > commit)
  }

  test("a held snapshot serves expand, *1..3 and shortestPath with no " +
      "job (more at threshold 0)") {
    import JobRecorder.{jobs, recorded}
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-fold-jobs")
    try {
      val db = graft.api.GraphDatabase.open(spark, s"$dir/db")
      db.indexRepo(fixtureRepo, "t1")
      // the version's first reads decide residency: held at the default
      // budget
      val calls = db.edges.filter(col("rel_type") === "CALL")
        .select("src", "dst").collect().map(r => (r.getString(0), r.getString(1)))
      db.nodes
      assert(calls.nonEmpty)
      val (src, dst) = calls.minBy(_.toString)
      val shapes = ServeShapes.reads(src, dst, src).filterNot(_._1 == "point")
      def run(cy: String) = recorded(spark)(
        db.executeQuery(cy).collect().map(_.toString).sorted.toSeq)
      for ((kind, cy) <- shapes) withClue(s"$kind: ") {
        val (folded, evs) = run(cy)
        assert(folded.nonEmpty)
        assert(jobs(evs) === 0)
        val (spark0, evs0) = IngestArms.under(IngestArms.Distributed)(run(cy))
        assert(jobs(evs0) > 0)
        assert(spark0 === folded)
      }
    } finally scala.reflect.io.Directory(dir.toFile).deleteRecursively()
  }
}
