package graft.enrich

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Bounded
import graft.ops.Pin._

/** Iterative graph analytics on the edge-list representation — the
  * "beyond-parity" analytics layer over the same graph tables the B and D
  * group operators use.
  *
  * Engine-portability note: every iteration rounds to 10 decimals so the
  * DuckDB oracle (which sums in a different order) lands on identical
  * doubles — float addition is non-associative, and without the rounding
  * the 1-ulp drift compounds across iterations.
  */
object Analytics {

  /** PageRank with fixed iteration count over edges(src, dst). Damping
    * 0.85, uniform init 1/N, dangling mass ignored (nodes with no
    * out-edges contribute nothing — the simple formulation, identical on
    * the oracle side). Returns (v, pagerank) rounded to 6. */
  /** STRONGLY connected components by TRIM + the distributed COLORING
    * algorithm (Orzan; the FW-BW-Trim family's many-pivots-per-round
    * member): first [[sccTrim]] peels the acyclic periphery (each
    * peeled vertex a singleton SCC — most of the gate fixture), then
    * per round, (1) MIN-ANCESTOR coloring — propagate the minimum id
    * FORWARD along edges to fixpoint, so every vertex is colored by the
    * smallest id that reaches it; (2) each color ROOT r (a vertex that
    * is its own color — no smaller ancestor) anchors one SCC: exactly
    * the vertices that reach r BACK through their own color class
    * (mutual reachability with r, since r already reaches its whole
    * class forward); (3) extracted vertices leave, and the next round
    * runs on the remainder. Every root's SCC extracts in parallel, so
    * driver rounds = depth of the condensation restricted to color
    * minima (2 on the gate fixture BY CONSTRUCTION — [[
    * graft.store.GraphTables.sccRings]]), and each inner fixpoint walks
    * at most the SCC diameter + feed-in path (≤9 there). Labels are the
    * MIN member id (string order) — a root is its own smallest ancestor,
    * hence its component's minimum — matching both the GraphX twin's
    * relabeling and the oracle's closure `min`.
    *
    * Scale shape: every step is an equi join of the (shrinking) vertex
    * state against the edge set plus a min/distinct groupBy — no
    * all-pairs reachability is ever materialized (the transitive-closure
    * spelling is the ORACLE's luxury, quadratic in component fan-out).
    * Until-no-change loops with localCheckpoint lineage hygiene, the
    * [[bfsDistances]] discipline. */
  /** TRIM (the "Trim" of FW-BW-Trim): iteratively peel vertices with no
    * remaining in-edges or no remaining out-edges — none can sit on a
    * cycle, so each is its own singleton SCC. A peeled layer exposes
    * the next (a chain trims end-in); on DAG periphery (the order
    * pendants of the gate fixture — ~90% of its vertices) this removes
    * most of the graph BEFORE any fixpoint work.
    *
    * @return (peeled singletons as (v, c=v), remaining edges,
    *         remaining vertices) */
  private def sccTrim(edges0: DataFrame)
      : (Option[DataFrame], DataFrame, DataFrame) = {
    // r15 (verdict task #6): the DELTA-driven peel, minus its redundant
    // state. Three spellings were measured head-to-head on the gate
    // fixture at sf0.1 (q61_scc min-of-3, same harness): the r14 loop
    // (peel/rem/e all checkpointed per layer + isEmpty probe) 5.7s; a
    // static-edge-table degree-fixpoint 7.3s; a per-layer-shrinking
    // alive-set fixpoint 8.9s - joins against the WHOLE alive set lose
    // to anti-joins against the small per-layer delta, so the delta
    // shape stays. What goes: the algebra rem_{k+1} = core_k (core =
    // srcs(e) INTERSECT dsts(e) is a subset of rem, and exactly the
    // survivors), so the per-layer peel checkpoint, the rem anti-join
    // checkpoint, and the isEmpty probe all collapse - one core
    // checkpoint + one count + one edge rebuild per layer, with the
    // peel delta folded lazily into the edge anti-joins and the peeled
    // singleton set derived ONCE at the end as all \ rem.
    // r19 (guide §1/§2, the job-count pass): every pin is LAZY and the
    // layer's count() is the ONE job that materializes the layer's core
    // AND the previous layer's edge rebuild AND decides the fixpoint —
    // the eager-checkpoint spelling paid 3 scheduler round-trips per
    // layer for the same work (Profile: q61_scc 41 jobs -> ~14).
    var e = edges0
    val all = e.select(col("src").as("v"))
      .union(e.select(col("dst").as("v"))).distinct()
      .pin(eager = false)
    var rem = all
    var nRem = rem.count()
    var done = nRem == 0
    while (!done) {
      val core = e.select(col("src").as("v")).distinct()
        .join(e.select(col("dst").as("v")).distinct(), Seq("v"))
        .pin(eager = false)
      val nCore = core.count()
      if (nCore == nRem) done = true
      else {
        // the layer's delta, folded lazily into the edge rebuild (both
        // inputs are checkpointed; the delta is small - broadcast anti)
        val peel = rem.join(core, Seq("v"), "left_anti")
        // eager: the next core-count job reads e along TWO branches
        // (src- and dst-distinct) — a lazy pin would compute the
        // rebuild twice concurrently before the blocks land
        e = e.join(peel.withColumnRenamed("v", "src"), Seq("src"),
            "left_anti")
          .join(peel.withColumnRenamed("v", "dst"), Seq("dst"),
            "left_anti")
          .pin(eager = true)
        rem = core
        nRem = nCore
      }
    }
    val peelSet = all.join(rem, Seq("v"), "left_anti")
      .pin(eager = false)
    val peeled =
      if (peelSet.count() == 0) None
      else Some(peelSet.select(col("v"), col("v").as("c")))
    (peeled, e, rem)
  }
  /** Fixpoint steps batched between change checks — the [[ccFrom]]-style
    * amortization: convergence detection costs a join+count, so probing
    * every step nearly doubles the job count for a loop that runs a
    * known-small number of steps. */
  private val sccStepBatch = 3

  /** Scale-adaptive GraphX partition count (guide §2.2/§2.6, r19 —
    * the verdict's task-count pass): the _gx twins inherited 32-way
    * vertex/edge partitioning from `spark.sql.shuffle.partitions`
    * regardless of graph size, so every Pregel superstep ran ~32 tiny
    * tasks per stage and EdgePartition2D replicated each vertex to
    * 2·√32 ≈ 11 partitions — Profile measured 400-700 tasks and 30-50 s
    * of task time per twin on graphs of a few hundred thousand edges.
    * Sizing partitions from the EDGE COUNT (≈50k edges per partition,
    * floored at 1, capped at the session's default parallelism) keeps
    * tasks per stage ≈ data/grain locally and ≈ core count at cluster
    * scale — derived from input size, never a constant. */
  private def gxParts(spark: SparkSession, nEdges: Long,
      targetPerPart: Long = 50000L): Int = {
    val p = spark.sparkContext.defaultParallelism.toLong
    val bySize = (nEdges + targetPerPart - 1) / targetPerPart
    // floor: iterative twins still want a few concurrent tasks per
    // superstep even on small graphs (q10_pagerank_gx lost 0.6 s at 3
    // partitions); 8 is far below any cluster's default parallelism
    math.max(1L, math.min(p, math.max(bySize, math.min(p, 8L)))).toInt
  }

  def stronglyConnected(edges: DataFrame,
      localThreshold: Int = Bounded.Session): DataFrame = {
    // r13: the q77 probe discipline applied to the WHOLE operator — a
    // graph under the probe threshold skips the distributed trim AND
    // the coloring loop entirely: the driver-local Tarjan kernel labels
    // everything in one pass (min-member labels, exactly what the loop
    // converges to; duplicate edge rows are harmless to Tarjan, so the
    // probe reads the RAW edges — r19: a partial executeTake scan, never
    // the distinct+repartition+pin the fallback needs). At cluster scale
    // the probe misses and the trim + Orzan loop below (with a post-trim
    // core probe) carry the work. String-keyed graphs only (the kernel's
    // key type) — others take the loop unconditionally.
    val spark = edges.sparkSession
    localEdges(edges, localThreshold)
      .foreach(arr => return tarjanFrame(spark, arr))
    // eager: sccTrim's first layer reads e0 along the src- and
    // dst-distinct branches of one job — lazy duplicated the distinct
    val e0 = edges.select(col("src"), col("dst")).distinct()
      .repartition(col("src")).pin(eager = true)
    val (trimmed, eTrim, remTrim) = sccTrim(e0)
    // post-trim probe: the acyclic periphery is gone, so the surviving
    // cyclic core may fit the kernel even when the full graph did not
    localEdges(eTrim, localThreshold).foreach { arr =>
      val core = tarjanFrame(spark, arr)
      return trimmed.fold(core)(t =>
        t.select(col("v"), col("c").as("scc")).unionByName(core))
    }
    var e = eTrim
    var rem = remTrim
    var result: Option[DataFrame] = trimmed
    // r19 job-count pass: pins are lazy, every probe count doubles as the
    // round's materialization job (1 action/step instead of 2-3)
    var nRem = rem.count()
    while (nRem > 0) {
      // (1) min-ancestor coloring to fixpoint (init eager: the first
      // batch job reads it along the prop AND union branches)
      var colr = rem.select(col("v"), col("v").as("c"))
        .pin(eager = true)
      var changed = 1L
      while (changed > 0) {
        var next = colr
        for (_ <- 1 to sccStepBatch) {
          val prop = e.join(next, e("src") === next("v"))
            .select(e("dst").as("v"), next("c"))
          next = next.union(prop).groupBy("v").agg(min("c").as("c"))
        }
        val upd = next.pin(eager = false)
        changed = upd.as("n")
          .join(colr.select(col("v"), col("c").as("oc")), "v")
          .filter(col("c") =!= col("oc")).count()
        colr = upd
      }
      // (2) backward containment within the color class
      val colored = colr.select(col("v"), col("c").as("vc"))
        .pin(eager = false)
      var mark = colr.filter(col("v") === col("c"))
        .pin(eager = false)
      var nMark = mark.count()
      changed = 1L
      while (changed > 0) {
        var next = mark
        for (_ <- 1 to sccStepBatch) {
          val back = e.join(next, e("dst") === next("v"))
            .select(e("src").as("v"), next("c"))
            .join(colored, "v")
            .filter(col("c") === col("vc")).select("v", "c")
          next = next.union(back).distinct()
        }
        val upd = next.pin(eager = false)
        val nUpd = upd.count()
        changed = nUpd - nMark
        mark = upd
        nMark = nUpd
      }
      result = Some(result.fold(mark)(_.union(mark)))
      // (3) peel the settled vertices out of the remainder
      val done = mark.select("v")
      rem = rem.join(done, Seq("v"), "left_anti").pin(eager = false)
      e = e.join(done.withColumnRenamed("v", "src"), Seq("src"), "left_anti")
        .join(done.withColumnRenamed("v", "dst"), Seq("dst"), "left_anti")
        .pin(eager = false)
      nRem = rem.count()
    }
    result.fold(rem.select(col("v"), col("v").as("scc")))(
      _.select(col("v"), col("c").as("scc")))
  }

  /** Frontier BFS reachability: every node reachable from `seeds`
    * (inclusive) along `edges` (src → dst). Per round only the FRONTIER
    * (newly reached nodes) joins the edge table; rounds = reachable
    * depth. */
  private def reachFrom(edges: DataFrame, seeds: DataFrame,
      hopBatch: Int = 8): DataFrame = {
    // precondition: `edges` pre-partitioned on src and checkpointed (the
    // undirectedView discipline) — rounds shuffle only the frontier.
    // `hopBatch` hops per materialization (the sccStepBatch
    // amortization, sized to the fixture's ring diameter): convergence
    // probing costs a job, so on cycle-heavy regions plain one-hop BFS
    // would run cycle-length rounds of fixed job overhead
    // r19 job-count pass: lazy pins, the batch's count() is its ONE job
    // (materialize + fixpoint probe fused, the bfsDistances discipline)
    var reached = seeds.select(col("v")).distinct()
      .pin(eager = true)
    var frontier = reached
    var going = true
    while (going) {
      var f = frontier
      var acc = f
      for (h <- 1 to hopBatch) {
        // dedupe every 4th hop only: each distinct is a shuffle, and on
        // the bounded-degree condensation the un-deduped frontier grows
        // slower than the per-hop shuffle cost it would save
        f = edges.join(f.withColumnRenamed("v", "src"), Seq("src"))
          .select(col("dst").as("v"))
        if (h % 4 == 0) f = f.distinct()
        acc = acc.union(f)
      }
      val next = acc.distinct()
        .join(reached, Seq("v"), "left_anti")
        .pin(eager = false)
      if (next.count() == 0) going = false
      else {
        reached = reached.union(next).pin(eager = false)
        frontier = next
      }
    }
    reached
  }

  /** The string-keyed (src, dst) edge list when it fits the session
    * budget ([[Bounded.take]]; `k` is only ever a kept `localThreshold`
    * override) — the input of the driver kernels. Other key types take
    * the distributed arm. */
  private def localEdges(edges: DataFrame,
      k: Int = Bounded.Session): Option[Array[(String, String)]] = {
    val e = edges.select(col("src"), col("dst"))
    if (e.schema.head.dataType != org.apache.spark.sql.types.StringType)
      None
    else Bounded.take(e, k)(r => (r.getString(0), r.getString(1)))
  }

  /** Driver-Tarjan SCC labels (v, scc) for every endpoint of `pairs`:
    * the min member of its class, itself when the class is trivial. */
  private def tarjanFrame(spark: SparkSession,
      pairs: Array[(String, String)]): DataFrame = {
    import spark.implicits._
    val m = tarjanNontrivial(pairs)
    pairs.iterator.flatMap(p => Iterator(p._1, p._2)).toSet
      .toSeq.sorted.map(v => (v, m.getOrElse(v, v))).toDF("v", "scc")
  }

  /** Iterative Tarjan over a driver-local edge list — the kernel of the
    * incremental-SCC local path (the c3 discipline: a bounded probe
    * collects the delta-sized affected subgraph; anything bigger takes
    * the distributed fallback). Returns (member → min-member label) for
    * NON-TRIVIAL classes only — singletons keep their previous label via
    * the caller's coalesce. Explicit stack, no recursion. */
  private[enrich] def tarjanNontrivial(
      edgeList: Array[(String, String)]): Map[String, String] = {
    val adj = scala.collection.mutable.HashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[String]]
    val nodes = scala.collection.mutable.LinkedHashSet.empty[String]
    edgeList.foreach { case (s, t) =>
      adj.getOrElseUpdate(s, scala.collection.mutable.ArrayBuffer.empty) += t
      nodes += s; nodes += t
    }
    val index = scala.collection.mutable.HashMap.empty[String, Int]
    val low = scala.collection.mutable.HashMap.empty[String, Int]
    val onStack = scala.collection.mutable.HashSet.empty[String]
    val stack = scala.collection.mutable.ArrayDeque.empty[String]
    var counter = 0
    val out = scala.collection.mutable.HashMap.empty[String, String]
    val empty = scala.collection.mutable.ArrayBuffer.empty[String]
    for (root <- nodes if !index.contains(root)) {
      // work stack of (node, next-child cursor)
      val work = scala.collection.mutable.ArrayDeque((root, 0))
      while (work.nonEmpty) {
        val (v, ci) = work.removeLast()
        if (ci == 0) {
          index(v) = counter; low(v) = counter; counter += 1
          stack.append(v); onStack += v
        }
        val kids = adj.getOrElse(v, empty)
        var i = ci
        var descended = false
        while (i < kids.length && !descended) {
          val w = kids(i)
          if (!index.contains(w)) {
            work.append((v, i + 1)); work.append((w, 0)); descended = true
          } else {
            if (onStack(w)) low(v) = math.min(low(v), index(w))
            i += 1
          }
        }
        if (!descended && i >= kids.length) {
          if (low(v) == index(v)) {
            val comp = scala.collection.mutable.ArrayBuffer.empty[String]
            var done = false
            while (!done) {
              val w = stack.removeLast(); onStack -= w; comp += w
              done = w == v
            }
            if (comp.length > 1) {
              val label = comp.min
              comp.foreach(m => out(m) = label)
            }
          }
          if (work.nonEmpty) {
            val (p, _) = work.last
            low(p) = math.min(low(p), low(v))
          }
        }
      }
    }
    out.toMap
  }

  /** INCREMENTAL SCC over PERSISTED artifacts — the q59 contraction
    * discipline applied to strong connectivity, completed with an
    * AFFECTED-REGION cut (a plain contraction re-run was measurably
    * SLOWER than from-scratch on the ring fixture: the old condensation
    * keeps every pendant edge, so the re-run re-trimmed the same DAG
    * mass it was supposed to skip). Inputs are what a deployment
    * actually stores per corpus version: the previous labels (`prev`:
    * (v, scc), min-member names) and the previous CONDENSATION
    * (`prevCond`: (src_scc, dst_scc)) — the incremental job reads those
    * two derived tables plus the NEW edges only and NEVER touches the
    * old edge table.
    *
    * Correctness: additions only coarsen strong connectivity, so the
    * previous partition refines the new one and quotienting is lossless;
    * the quotient graph is exactly `prevCond ∪ (new edges mapped to
    * previous labels)`. Any nontrivial SCC of that graph must use a new
    * pair (the condensation alone is a DAG), hence lies entirely inside
    * `fwd(new heads) ∩ bwd(new tails)` — the affected region — so
    * running [[stronglyConnected]] on the region-induced subgraph finds
    * every merge class, INCLUDING merges that route through untouched
    * middle components (AnalyticsSpec pins that case). Min-member labels
    * compose (min over a merged class of min-members = global min), so
    * the result provably EQUALS from-scratch and the gate shares q61's
    * oracle verbatim.
    *
    * Scale shape: mapping new edges to labels = two equi-joins of the
    * (small) delta against the label table; two frontier BFS passes with
    * rounds = condensation depth; SCC only on the (tiny) affected
    * subgraph; one broadcast-sized relabel join over the label table. */
  def stronglyConnectedIncremental(newEdges: DataFrame, prev: DataFrame,
      prevCond: DataFrame): DataFrame = {
    val spark = newEdges.sparkSession
    val e = newEdges.select(col("src"), col("dst"))
    val prevL = prev.select(col("v"), col("scc"))
    // the delta in label space. The label table is corpus-sized, so it
    // must never shuffle for a small batch: ONE narrow scan with a
    // broadcast SEMI-probe of the delta endpoints extracts the ≤2·|delta|
    // labels actually needed; the batch then broadcast-joins that tiny
    // subset. Endpoints the previous run never saw self-label.
    val ends = e.select(col("src").as("v"))
      .union(e.select(col("dst").as("v"))).distinct()
      .pin(eager = false)
    val lab = prevL.join(broadcast(ends), Seq("v"))
      .pin(eager = false)
    val newPairs = e
      .join(broadcast(lab.select(col("v").as("src"), col("scc").as("_cs"))),
        Seq("src"), "left")
      .join(broadcast(lab.select(col("v").as("dst"), col("scc").as("_cd"))),
        Seq("dst"), "left")
      .select(coalesce(col("_cs"), col("src")).as("src"),
        coalesce(col("_cd"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .pin(eager = false)
    // relabel: previous vertices keep or remap (one label-table scan +
    // broadcast join); vertices only the new edges introduce self-seed
    // then remap (ends \ lab — tiny vs tiny)
    def relabel(merged: DataFrame): DataFrame = {
      val allV = prevL.select(col("v"), col("scc").as("c"))
        .unionByName(ends
          .join(lab.select(col("v")), Seq("v"), "left_anti")
          .select(col("v"), col("v").as("c")))
      allV
        .join(broadcast(merged), Seq("c"), "left")
        .select(col("v"), coalesce(col("_m"), col("c")).as("scc"))
    }
    val aug = prevCond
      .select(col("src_scc").as("src"), col("dst_scc").as("dst"))
      .unionByName(newPairs)
      .repartition(col("src"))
      .pin(eager = false)
    // r19: probe the AUGMENTED quotient graph itself first (the c3
    // discipline one level up): its nontrivial SCCs ARE the merge
    // classes (prevCond alone is a DAG, so every nontrivial class
    // contains a new pair whole — the same argument that justifies the
    // fwd bound below), so when aug fits the driver kernel the two
    // distributed BFS passes buy nothing a one-pass local Tarjan
    // doesn't give. At scale the condensation is corpus-sized, the
    // probe misses, and the BFS-bounded region path carries the work.
    localEdges(aug).foreach { arr =>
      import spark.implicits._
      return relabel(tarjanNontrivial(arr).toSeq.toDF("c", "_m"))
    }
    // forward reach from the new heads bounds every possible merge: a
    // nontrivial SCC of aug must contain a new pair (the condensation
    // alone is a DAG), so all its nodes are forward-reachable from some
    // new head — the fwd-induced subgraph contains every merge class
    // whole, and is delta-bounded, NOT corpus-bounded (acyclic
    // in-feeders like pendant sources are never forward-reached)
    val fwd = reachFrom(aug, newPairs.select(col("dst").as("v")))
    val subF = aug
      .join(fwd.withColumnRenamed("v", "src"), Seq("src"))
      .join(fwd.withColumnRenamed("v", "dst"), Seq("dst"))
      .select(col("src"), col("dst"))
    // merge classes: driver-local Tarjan when the affected subgraph is
    // delta-sized (the c3 kernel discipline — bounded probe, distributed
    // fallback above the threshold, identical labels either way)
    val merged: DataFrame = localEdges(subF) match {
      case Some(arr) =>
        import spark.implicits._
        tarjanNontrivial(arr).toSeq.toDF("c", "_m")
      case None =>
        // distributed: shrink further with a backward pass confined to
        // the fwd-induced subgraph (cycle nodes lie on both sides), then
        // run the full coloring SCC on the region-induced subgraph
        val augR = subF
          .select(col("dst").as("src"), col("src").as("dst"))
          .repartition(col("src"))
          .pin(eager = false)
        val region = reachFrom(augR,
          newPairs.select(col("src").as("v")).join(fwd, Seq("v")))
        val sub = subF
          .join(region.withColumnRenamed("v", "src"), Seq("src"))
          .join(region.withColumnRenamed("v", "dst"), Seq("dst"))
          .select(col("src"), col("dst"))
        stronglyConnected(sub)
          .select(col("v").as("c"), col("scc").as("_m"))
    }
    relabel(merged)
  }

  /** CONDENSATION of a directed graph: contract every SCC
    * ([[stronglyConnected]]) to one node and keep the distinct
    * non-self label pairs — the DAG downstream cycle-aware processing
    * actually consumes (topological stages, cycle-free reachability).
    * One edge double-join against the label table + a distinct — the
    * [[connectedComponentsIncremental]] contraction shape. */
  def condensation(edges: DataFrame): DataFrame =
    condensationFrom(edges, stronglyConnected(edges))

  /** [[condensation]] over ALREADY-DERIVED labels (the persisted
    * `scclabels` table at scale — labels derive once per corpus
    * version, consumers scan parquet). */
  def condensationFrom(edges: DataFrame, scc0: DataFrame): DataFrame = {
    val scc = scc0
    edges.select(col("src"), col("dst"))
      .join(scc.withColumnRenamed("v", "src")
        .withColumnRenamed("scc", "csrc"), "src")
      .join(scc.withColumnRenamed("v", "dst")
        .withColumnRenamed("scc", "cdst"), "dst")
      .filter(col("csrc") =!= col("cdst"))
      .select(col("csrc").as("src_scc"), col("cdst").as("dst_scc"))
      .distinct()
  }

  /** Topological LAYERS of the condensation DAG: layer(C) = longest
    * path (in condensed edges) into component C — the stage number a
    * cycle-aware scheduler runs C at (stage 0 components have no
    * cross-SCC dependencies). SCC labels come from
    * [[stronglyConnected]] once; the condensed edge set is one edge
    * double-join + distinct; then max-plus relaxation to fixpoint —
    * rounds = condensation depth (2 on the gate fixture BY
    * CONSTRUCTION), each one equi join + max groupBy on the (tiny)
    * component table. Every component reports, including isolated
    * ones (layer 0). The oracle unrolls the identical recurrence. */
  def condensationLayers(edges: DataFrame): DataFrame =
    condensationLayersFrom(edges, stronglyConnected(edges))

  /** [[condensationLayersFrom]] over an ALREADY-DERIVED condensation —
    * the r12 deployment shape: labels AND condensation persist per
    * corpus version (`scclabels`/`scccond`), so the relaxation loop
    * reads two parquet scans and touches the base graph zero times. */
  def condensationLayersOver(condEdges: DataFrame,
      scc0: DataFrame): DataFrame = {
    // r19: both inputs are bounded probes (condensation edges + DISTINCT
    // labels — never the corpus-sized vertex table), so at gate scale the
    // max-plus fixpoint runs as one driver pass of exact longs; at 100 TB
    // either probe misses and the relaxation loop below carries the work.
    val spark = condEdges.sparkSession
    localEdges(condEdges.select(col("src_scc").as("src"),
        col("dst_scc").as("dst"))).foreach { ceArr =>
      Bounded.take(scc0.select(col("scc")).distinct())(
          _.getString(0)).foreach { labs =>
        import spark.implicits._
        val layer = scala.collection.mutable.HashMap.empty[String, Long]
        labs.foreach(l => layer(l) = 0L)
        var changed = true
        while (changed) {
          changed = false
          val upd = scala.collection.mutable.HashMap.empty[String, Long]
          for ((cs, cd) <- ceArr; l <- layer.get(cs)) {
            val c = l + 1
            if (c > upd.getOrElse(cd, Long.MinValue)) upd(cd) = c
          }
          for ((c, v) <- upd)
            if (v > layer.getOrElse(c, Long.MinValue)) {
              layer(c) = v; changed = true
            }
        }
        return layer.toSeq.toDF("scc", "layer")
      }
    }
    layersLoop(
      condEdges.select(col("src_scc").as("cs"), col("dst_scc").as("cd"))
        .pin(eager = false),
      scc0.pin(eager = false))
  }

  /** [[condensationLayers]] over already-derived labels — see
    * [[condensationFrom]]. */
  def condensationLayersFrom(edges: DataFrame, scc0: DataFrame): DataFrame = {
    val scc = scc0.pin(eager = false)
    val ce = edges.select(col("src"), col("dst"))
      .join(scc.withColumnRenamed("v", "src")
        .withColumnRenamed("scc", "cs"), "src")
      .join(scc.withColumnRenamed("v", "dst")
        .withColumnRenamed("scc", "cd"), "dst")
      .filter(col("cs") =!= col("cd"))
      .select(col("cs"), col("cd")).distinct()
      .pin(eager = false)
    layersLoop(ce, scc)
  }

  private def layersLoop(ce: DataFrame, scc: DataFrame): DataFrame = {
    // r19 job-count pass: the round's change-probe count is also the job
    // that materializes the round's (lazily pinned) relaxation — and the
    // first round's job pulls the pinned ce/scc inputs with it
    var layers = scc.select(col("scc").as("c")).distinct()
      .select(col("c"), lit(0L).as("layer")).pin(eager = true)
    var changed = 1L
    while (changed > 0) {
      val relax = ce.join(layers, ce("cs") === layers("c"))
        .select(col("cd").as("c"), (col("layer") + 1).as("layer"))
      val upd = layers.union(relax).groupBy("c")
        .agg(max("layer").as("layer")).pin(eager = false)
      changed = upd.as("n")
        .join(layers.select(col("c"), col("layer").as("ol")), "c")
        .filter(col("layer") =!= col("ol")).count()
      layers = upd
    }
    layers.select(col("c").as("scc"), col("layer"))
  }

  /** The GraphX scale path of [[stronglyConnected]]:
    * `graphx.lib.StronglyConnectedComponents` over xxhash64 vertex ids,
    * relabeled to the component-min NAME (the [[connectedComponentsGraphX]]
    * convention) so all three spellings — coloring loop, Pregel, oracle
    * closure — agree on the min-member label. */
  def stronglyConnectedGraphX(spark: SparkSession, edges: DataFrame,
      numIter: Int = 12): DataFrame = {
    import org.apache.spark.graphx.{Edge, Graph}
    import spark.implicits._
    // r19: the DF path's PRE-trim probe, ported (the c3 discipline —
    // bounded probe, distributed fallback): when the WHOLE graph fits
    // the driver kernel, the distributed trim's per-layer distinct/join
    // rounds (~25 AQE stage round-trips on the gate fixture) buy
    // nothing a one-pass local Tarjan doesn't already give. The probe
    // reads the RAW edges (a partial executeTake scan — duplicates are
    // harmless to Tarjan), so the distinct+repartition+pin below is
    // only ever built for the distributed arm. At cluster scale
    // limit(k+1) pulls at most k+1 rows, the probe misses, and trim +
    // Pregel carry the work; a session budget of 0 forces the Pregel
    // arm.
    localEdges(edges)
      .foreach(arr => return tarjanFrame(spark, arr))
    // the same TRIM pre-pass as the DataFrame path: the DAG periphery
    // (most of the fixture) never enters Pregel at all
    // eager: sccTrim's first layer reads e0 along the src- and
    // dst-distinct branches of one job — lazy duplicated the distinct
    val e0 = edges.select(col("src"), col("dst")).distinct()
      .repartition(col("src")).pin(eager = true)
    val (trimmed, core, _) = sccTrim(e0)
    if (core.isEmpty)
      return trimmed.map(_.select(col("v"), col("c").as("scc")))
        .getOrElse(e0.sparkSession.emptyDataFrame
          .select(lit("").as("v"), lit("").as("scc")).limit(0))
    // r16 (verdict task #3): the DF path's POST-TRIM driver-Tarjan core
    // probe, ported — after the periphery peel the surviving cyclic core
    // is usually tiny, and Pregel's per-superstep job overhead dwarfs a
    // one-pass local Tarjan on it. At cluster scale the probe misses
    // (limit(k+1) pulls at most k+1 rows, never the graph) and Pregel
    // carries the work; a session budget of 0 forces the Pregel arm.
    localEdges(core).foreach { arr =>
      val coreLabeled = tarjanFrame(spark, arr)
      return trimmed.fold(coreLabeled)(t =>
        t.select(col("v"), col("c").as("scc")).unionByName(coreLabeled))
    }
    val keyed = core.select(
      xxhash64(col("src")).as("sid"), col("src"),
      xxhash64(col("dst")).as("did"), col("dst")).cache()
    val names = keyed.select(col("sid").as("id"), col("src").as("name"))
      .union(keyed.select(col("did"), col("dst"))).distinct()
    val nP = gxParts(spark, keyed.count())
    val g = Graph(
      names.as[(Long, String)].rdd.coalesce(nP)
        .map { case (id, _) => (id, ()) },
      keyed.select(col("sid"), col("did")).as[(Long, Long)].rdd
        .coalesce(nP).map { case (s, d) => Edge(s, d, ()) })
    val comp = g.stronglyConnectedComponents(numIter)
      .vertices.toDF("id", "comp")
    val pregel = comp.join(names, "id")
      .select(col("name").as("v"), col("comp"))
      .withColumn("scc", min(col("v")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("comp"))))
      .select(col("v"), col("scc"))
    trimmed.fold(pregel)(t =>
      t.select(col("v"), col("c").as("scc")).union(pregel))
  }

  /** KATZ centrality, `iterations` unrolled rounds of x ← β + α·Aᵀx
    * (β = 1, α = 0.1): every walk into a node counts, geometrically
    * damped by length — the prestige measure PageRank normalizes away.
    * Same posture as [[pageRank]]: edges checkpointed hash-partitioned
    * on the iteration join key once, only the score side shuffles per
    * round, per-iteration round-10 quantizes summation order so the
    * unrolled-CTE oracle lands bit-identical. */
  def katz(edges: DataFrame, iterations: Int = 5,
      alpha: Double = 0.1): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
      .repartition(col("src")).pin(eager = true)
    val verts = e.select(col("src").as("v"))
      .union(e.select(col("dst").as("v"))).distinct()
      .repartition(col("v")).pin(eager = true)
    var x = verts.withColumn("x", lit(1.0))
    for (i <- 1 to iterations) {
      val contrib = e.join(x.withColumnRenamed("v", "src"), "src")
        .groupBy(col("dst").as("v"))
        .agg(round(sum(col("x")) * alpha, 10).as("s"))
      x = verts.join(contrib, Seq("v"), "left")
        .select(col("v"),
          round(lit(1.0) + coalesce(col("s"), lit(0.0)), 10).as("x"))
      if (i % 8 == 0 && i < iterations) x = x.pin(eager = false)
    }
    x.select(col("v"), round(col("x"), 6).as("katz"))
  }

  /** HyperANF (Boldi, Rosa & Vigna, WWW 2011) — the approximate
    * NEIGHBORHOOD FUNCTION: per vertex v and radius h, |B_h(v)| = how
    * many vertices v reaches within h hops, kept as an m=16 PORTABLE
    * HLL register set (the [[graft.pipeline.Sketches]] machinery: the
    * shared rolling hash, ρ = 32 − len(bin(w)), registers max-merge) —
    * so the per-vertex state is O(m) REGARDLESS of ball size, the whole
    * point at 100 TB where exact reachability sets are quadratic. Per
    * round one edges⋈registers equi-join + a partial-agg max groupBy on
    * (v, bucket) — max-merge is associative/idempotent, so map-side
    * combine does most of the work and duplicate propagation is
    * harmless. Estimates apply the r12 small-n LINEAR-COUNTING
    * correction (balls of a few vertices are the common case at small
    * h — exactly HLL's bias zone); per-vertex round-4 estimates sum
    * through DECIMAL (order-independent), so the oracle replays every
    * register and every estimate bit-for-bit. Returns one row per
    * radius: (h, nf = Σ_v |B_h(v)| estimate, reached_frac vs h=rounds).
    * N(h)'s growth curve is the effective-diameter instrument. */
  def anf(edges: DataFrame, rounds: Int, m: Int = 16): DataFrame = {
    require(m == 16, "alpha is pinned for m = 16 (0.673)")
    require(rounds >= 1 && rounds <= 12, s"anf rounds $rounds out of budget")
    localEdges(edges).foreach { arr =>
      val spark = edges.sparkSession
      import spark.implicits._
      return anfLocal(arr, rounds, m).toDF("h", "nf")
    }
    val P = 2147483647L
    // r19: lazy pins — all `rounds` register merges and the final
    // estimate union execute as ONE job (q78_anf Profile: 19 jobs -> ~8)
    val e = edges.select(col("src"), col("dst")).distinct()
      .repartition(col("dst")).pin(eager = false)
    val verts = e.select(col("src").as("v"))
      .union(e.select(col("dst").as("v"))).distinct()
    val h0 = graft.functions.TextFunctions.rollingHash(col("v"))
    var regs = verts
      .select(col("v"), (h0 % m).cast("int").as("bucket"),
        ((h0 * 1103515245L + 12345L) % P).as("w"))
      .select(col("v"), col("bucket"),
        when(col("w") === 0, 32)
          .otherwise(lit(32) - length(bin(col("w")))).cast("int").as("rho"))
      .repartition(col("v")).pin(eager = true)
    // registers are SPARSE (absent bucket = empty); densify
    // algebraically at estimate time, the hllDistinctBy discipline
    def nfAt(r: DataFrame, h: Int): DataFrame = {
      val raw = lit(673L * m * m * 4294967296L).cast("double") /
        (lit(1000L) * col("s_scaled"))
      r.groupBy("v").agg(
          expr("sum(shiftleft(CAST(1 AS BIGINT), 32 - rho))").as("sp"),
          count(lit(1)).as("nb"))
        .select(
          (col("sp") + (lit(m.toLong) - col("nb")) * lit(4294967296L))
            .cast("long").as("s_scaled"),
          (lit(m) - col("nb")).cast("int").as("zero_regs"))
        .select(round(when(col("zero_regs") > 0 && raw <= lit(2.5 * m),
            lit(m.toDouble) * log(lit(m.toDouble) / col("zero_regs")))
          .otherwise(raw), 4).as("est"))
        .agg(sum(col("est").cast("decimal(28,4)")).as("nfd"))
        .select(lit(h).as("h"), round(col("nfd").cast("double"), 4).as("nf"))
    }
    val out = scala.collection.mutable.ArrayBuffer(nfAt(regs, 0))
    for (h <- 1 to rounds) {
      val prop = e.join(regs.withColumnRenamed("v", "dst"), Seq("dst"))
        .select(col("src").as("v"), col("bucket"), col("rho"))
      // eager: each round's registers feed the next round's join, the
      // union, AND nfAt's estimate — three concurrent branches of the
      // final job if left lazy (measured as duplicated register merges)
      regs = regs.unionByName(prop)
        .groupBy("v", "bucket").agg(max("rho").as("rho"))
        .pin(eager = true)
      out += nfAt(regs, h)
    }
    out.reduce(_ unionByName _)
  }

  /** Driver-local HyperANF kernel — the [[anf]] register/estimate math
    * on a collected edge list, value-identical by construction: the same
    * [[org.apache.spark.sql.graft.RollingHash]] seeds the same (bucket,
    * rho) registers (rho from the binary length of w, 0 = empty slot =
    * the sparse spelling's densified 2^32 term), max-merge along
    * DISTINCT edges is exact, and each radius' estimate replays the
    * exact arithmetic: s_scaled in longs, raw as the same double
    * division, the linear-counting branch, round-4 per vertex, the sum
    * through a scale-4 BigDecimal (the DECIMAL(28,4) route), round-4
    * again. Returns (h, nf) for h = 0..rounds. */
  private[enrich] def anfLocal(edgeList: Array[(String, String)],
      rounds: Int, m: Int): Seq[(Int, Double)] = {
    val P = 2147483647L
    def r4(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    val e = edgeList.distinct
    val verts = scala.collection.mutable.LinkedHashSet.empty[String]
    e.foreach { case (s, d) => verts += s; verts += d }
    var regs = scala.collection.mutable.HashMap.empty[String, Array[Int]]
    for (v <- verts) {
      val h0 = org.apache.spark.sql.graft.RollingHash.hash(v)
      val w = (h0 * 1103515245L + 12345L) % P
      val rho =
        if (w == 0) 32
        else 32 - (64 - java.lang.Long.numberOfLeadingZeros(w))
      val a = new Array[Int](m)
      a((h0 % m).toInt) = rho
      regs(v) = a
    }
    val adjOut = scala.collection.mutable.HashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[String]]
    e.foreach { case (s, d) =>
      adjOut.getOrElseUpdate(s,
        scala.collection.mutable.ArrayBuffer.empty) += d
    }
    val emptyA = scala.collection.mutable.ArrayBuffer.empty[String]
    def estimate(h: Int): (Int, Double) = {
      var sum = java.math.BigDecimal.ZERO.setScale(4)
      for (v <- verts) {
        var sScaled = 0L
        var zero = 0
        regs(v).foreach { r =>
          sScaled += 1L << (32 - r)
          if (r == 0) zero += 1
        }
        val raw = (673L * m * m * 4294967296L).toDouble / (1000L * sScaled)
        val est =
          if (zero > 0 && raw <= 2.5 * m)
            m.toDouble * math.log(m.toDouble / zero)
          else raw
        sum = sum.add(java.math.BigDecimal.valueOf(est)
          .setScale(4, java.math.RoundingMode.HALF_UP))
      }
      (h, r4(sum.doubleValue))
    }
    val out = scala.collection.mutable.ArrayBuffer(estimate(0))
    for (h <- 1 to rounds) {
      val nxt = scala.collection.mutable.HashMap.empty[String, Array[Int]]
      for (v <- verts) {
        val a = regs(v).clone()
        for (d <- adjOut.getOrElse(v, emptyA)) {
          val b = regs(d)
          var i = 0
          while (i < m) { if (b(i) > a(i)) a(i) = b(i); i += 1 }
        }
        nxt(v) = a
      }
      regs = nxt
      out += estimate(h)
    }
    out.toSeq
  }

  def pageRank(edges: DataFrame, iterations: Int = 5,
      warmStart: Option[DataFrame] = None): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    // static per-edge state (dst, out-degree share denominator) joined ONCE
    // and checkpointed hash-partitioned on the iteration join key — each
    // iteration shuffles only the rank side, never re-scans the source
    val e2 = e.join(e.groupBy(col("src")).agg(count(lit(1)).as("cnt")), "src")
      .repartition(col("src")).pin(eager = false)
    val verts = e.select(col("src").as("v"))
      .union(e.select(col("dst").as("v"))).distinct()
      .repartition(col("v")).pin(eager = false)
    val n = verts.count().toDouble
    // warm start (the incremental path): previous ranks seed where
    // present, new/unknown vertices at the uniform 1/n — one shared
    // iteration body so the two paths can never desynchronize
    var pr = warmStart match {
      case Some(prev) =>
        verts.join(prev.select(col("v"), col("pagerank")), Seq("v"), "left")
          .select(col("v"),
            round(coalesce(col("pagerank"), lit(1.0 / n)), 10).as("pr"))
      case None => verts.withColumn("pr", round(lit(1.0 / n), 10))
    }
    for (i <- 1 to iterations) {
      val contrib = e2.join(pr.withColumnRenamed("v", "src"), "src")
        .groupBy(col("dst").as("v"))
        .agg(round(sum(col("pr") / col("cnt")), 10).as("s"))
      pr = verts.join(contrib, Seq("v"), "left")
        .select(col("v"),
          round(lit(0.15 / n) + lit(0.85) * coalesce(col("s"), lit(0.0)), 10).as("pr"))
      // checkpoint every 8th iteration, not every one: lineage depth stays
      // bounded (planning time can't explode on long runs) while short
      // runs — the default 5 iterations included — pipeline ALL rounds in
      // one job with no eager materialization (measured 2.4× faster than
      // a mid-loop checkpoint at sf0.1: each eager checkpoint costs more
      // than the extra plan depth until ~8 chained iterations)
      if (i % 8 == 0 && i < iterations) pr = pr.pin(eager = false)
    }
    pr.select(col("v"), round(col("pr"), 6).as("pagerank"))
  }

  /** INCREMENTAL PageRank by WARM START — the production posture for a
    * slowly-changing graph: ranks from the previous corpus version (a
    * persisted derived table, [[graft.store.GraphTables.prPrev]]) seed
    * the iteration on the CURRENT edge set, and a small fixed number of
    * damped rounds re-converges the delta — 2 rounds here versus the
    * from-scratch 5, the classic ~60% iteration saving that GROWS with
    * the cold-start round count at scale. Vertices new to this version
    * (or absent from prev) start at the uniform 1/n. Same per-iteration
    * round-10 discipline as [[pageRank]], so the oracle replays the
    * previous ranks AND the warm rounds bit-identically. */
  def pageRankIncremental(edges: DataFrame, prev: DataFrame,
      iterations: Int = 2): DataFrame =
    pageRank(edges, iterations, warmStart = Some(prev))

  /** The 100-TB-cluster path for PageRank: GraphX aggregateMessages with
    * the SAME math as [[pageRank]] — uniform 1/N init, damping 0.85,
    * dangling mass ignored, and the same per-iteration round-to-10
    * (which quantizes away summation-order differences — the property
    * that already makes the DataFrame loop bit-identical to the DuckDB
    * oracle), so this variant is oracle-gated by the identical SQL.
    *
    * Why it exists: the DataFrame loop's per-iteration `localCheckpoint`
    * pins unreplicated blocks — one lost executor kills the job on a real
    * cluster (round-3 verdict). GraphX keeps iteration state in resilient
    * RDDs with lineage, and its join strategy reuses the graph's
    * partitioning across iterations instead of re-shuffling the rank
    * table each round. String keys are hashed to Long vertex ids (as
    * Closure.transitiveClosureGraphX does). */
  def pageRankGraphX(spark: SparkSession, edges: DataFrame,
      iterations: Int = 5): DataFrame = {
    import org.apache.spark.graphx._
    import spark.implicits._
    def r10(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(10, java.math.RoundingMode.HALF_UP).doubleValue()
    val keyed = edges.select(
      xxhash64(col("src")).as("sid"), col("src"),
      xxhash64(col("dst")).as("did"), col("dst")).cache()
    val names = keyed.select(col("sid").as("id"), col("src").as("name"))
      .union(keyed.select(col("did"), col("dst"))).distinct().cache()
    val n = names.count().toDouble
    // one graph object carries BOTH the static per-vertex state (out-
    // degree) and the iterated rank: every round is then a single
    // outerJoinVertices against an aggregateMessages output built on the
    // SAME vertex index (the fast leftZipJoin path — iterating separate
    // VertexRDDs through leftJoin was the "different indexes is slow"
    // warning), with the replaced graph unpersisted as soon as its
    // successor materializes. EdgePartition2D bounds each vertex's
    // replication to 2√P partitions — the layout that matters at
    // cluster scale and costs nothing here.
    val g = Graph.fromEdges(
      keyed.select(col("sid"), col("did")).as[(Long, Long)].rdd
        .map { case (s, d) => Edge(s, d, ()) }, ())
      .partitionBy(PartitionStrategy.EdgePartition2D)
    val reset = 0.15 / n
    var rankGraph = g.outerJoinVertices(g.outDegrees)((_, _, d) =>
      d.getOrElse(0)).mapVertices((_, d) => (r10(1.0 / n), d)).cache()
    for (_ <- 1 to iterations) {
      val contribs = rankGraph.aggregateMessages[Double](
        ctx => ctx.sendToDst(ctx.srcAttr._1 / ctx.srcAttr._2.toDouble),
        _ + _).mapValues(r10 _)
      val prev = rankGraph
      rankGraph = rankGraph.outerJoinVertices(contribs)((_, attr, c) =>
        (r10(reset + 0.85 * c.getOrElse(0.0)), attr._2)).cache()
      rankGraph.vertices.count()
      prev.unpersist(blocking = false)
    }
    rankGraph.vertices.mapValues((_, a) => a._1).toDF("id", "pr")
      .join(names, "id")
      .select(col("name").as("v"), round(col("pr"), 6).as("pagerank"))
  }

  /** GraphX twin of [[katz]] — the [[pageRankGraphX]] posture (one graph
    * object, aggregateMessages per round, EdgePartition2D) with Katz's
    * x ← 1 + α·Aᵀx update and the same per-iteration round-10, so it
    * shares the identical unrolled-CTE oracle. */
  def katzGraphX(spark: SparkSession, edges: DataFrame,
      iterations: Int = 5, alpha: Double = 0.1): DataFrame = {
    import org.apache.spark.graphx._
    import spark.implicits._
    def r10(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(10, java.math.RoundingMode.HALF_UP).doubleValue()
    val keyed = edges.select(
      xxhash64(col("src")).as("sid"), col("src"),
      xxhash64(col("dst")).as("did"), col("dst")).cache()
    val names = keyed.select(col("sid").as("id"), col("src").as("name"))
      .union(keyed.select(col("did"), col("dst"))).distinct().cache()
    val g = Graph.fromEdges(
      keyed.select(col("sid"), col("did")).as[(Long, Long)].rdd
        .map { case (s, d) => Edge(s, d, ()) }, ())
      .partitionBy(PartitionStrategy.EdgePartition2D)
    var xg = g.mapVertices((_, _) => 1.0).cache()
    for (_ <- 1 to iterations) {
      val contribs = xg.aggregateMessages[Double](
        ctx => ctx.sendToDst(ctx.srcAttr), _ + _)
        .mapValues(v => r10(v * alpha))
      val prev = xg
      xg = xg.outerJoinVertices(contribs)((_, _, c) =>
        r10(1.0 + c.getOrElse(0.0))).cache()
      xg.vertices.count()
      prev.unpersist(blocking = false)
    }
    xg.vertices.toDF("id", "x")
      .join(names, "id")
      .select(col("name").as("v"), round(col("x"), 6).as("katz"))
  }

  /** GraphX scale path for [[pageRankWeighted]] — the [[pageRankGraphX]]
    * posture (resilient RDD state, partition-reusing joins) with
    * weight-proportional contribution splitting: per-edge share =
    * pr·w/Σw(src), per-iteration round-to-10 quantizing away
    * summation-order differences, so it shares q37's oracle SQL. */
  def pageRankWeightedGraphX(spark: SparkSession, edges: DataFrame,
      iterations: Int = 5): DataFrame = {
    import org.apache.spark.graphx._
    import spark.implicits._
    def r10(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(10, java.math.RoundingMode.HALF_UP).doubleValue()
    // the weighted graphs here are Long-keyed (co-purchase partkeys) —
    // vertex ids are the keys themselves, no hash indirection needed.
    // Same one-graph shape as [[pageRankGraphX]]: the vertex attr carries
    // (rank, Σw) so each round is ONE aggregateMessages + ONE
    // outerJoinVertices on the same vertex index (leftZipJoin path — the
    // old double-join iterated through the slow different-indexes join),
    // with the superseded graph unpersisted once its successor is live.
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"),
      col("w").cast("long"))
    val g = Graph.fromEdges(
      e.as[(Long, Long, Long)].rdd.map { case (s, d, w) => Edge(s, d, w) },
      ()).partitionBy(PartitionStrategy.EdgePartition2D)
    // every vertex of this undirected-union graph appears in the edge
    // list, so fromEdges' vertex set IS the oracle's wverts
    val n = g.numVertices.toDouble
    // out-weight denominators (the wsum static state of the DF loop)
    val wsum = g.aggregateMessages[Long](ctx => ctx.sendToSrc(ctx.attr), _ + _)
    val reset = 0.15 / n
    var rankGraph = g.outerJoinVertices(wsum)((_, _, ws) => ws.getOrElse(0L))
      .mapVertices((_, ws) => (r10(1.0 / n), ws)).cache()
    for (_ <- 1 to iterations) {
      val contribs = rankGraph.aggregateMessages[Double](
        ctx => ctx.sendToDst(
          ctx.srcAttr._1 * ctx.attr / ctx.srcAttr._2.toDouble),
        _ + _).mapValues(r10 _)
      val prev = rankGraph
      rankGraph = rankGraph.outerJoinVertices(contribs)((_, attr, c) =>
        (r10(reset + 0.85 * c.getOrElse(0.0)), attr._2)).cache()
      rankGraph.vertices.count()
      prev.unpersist(blocking = false)
    }
    rankGraph.vertices.mapValues((_, a) => a._1).toDF("v", "pr")
      .select(col("v"), round(col("pr"), 6).as("pagerank"))
  }

  /** GraphX scale path for [[connectedComponents]]: GraphX's pointer-
    * jumping CC finds the component PARTITION (converging in O(log n)
    * supersteps vs the label loop's O(diameter)), then one aggregation
    * maps each component to its min ORIGINAL name — which is exactly the
    * converged min-label fixpoint, so this variant shares q11's oracle.
    * (Only equal when the DataFrame loop also converges within its
    * maxIter — true for any graph with diameter ≤ 20.) */
  def connectedComponentsGraphX(spark: SparkSession, edges: DataFrame,
      localThreshold: Int = Bounded.Session): DataFrame = {
    import org.apache.spark.graphx.{Edge, Graph}
    import spark.implicits._
    // the DF arm's bounded probe, ported (the stronglyConnectedGraphX
    // r19 shape): min-label union-find IS the Pregel + component-min
    // relabel fixpoint; Pregel carries the work when the probe misses
    localUnionFind(edges, localThreshold).foreach(return _)
    val keyed = edges.select(
      xxhash64(col("src")).as("sid"), col("src"),
      xxhash64(col("dst")).as("did"), col("dst")).cache()
    val names = keyed.select(col("sid").as("id"), col("src").as("name"))
      .union(keyed.select(col("did"), col("dst"))).distinct()
    val g = Graph(
      names.as[(Long, String)].rdd.map { case (id, _) => (id, ()) },
      keyed.select(col("sid"), col("did")).as[(Long, Long)].rdd
        .map { case (s, d) => Edge(s, d, ()) })
    val comp = g.connectedComponents().vertices.toDF("id", "comp")
    comp.join(names, "id")
      .select(col("name").as("v"), col("comp"))
      .withColumn("component", min(col("v")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("comp"))))
      .select(col("v"), col("component"))
  }

  /** Unweighted single-source shortest-path distances (BFS) over
    * edges(src, dst), fixed iteration count — every iteration is one
    * frontier join + a min-merge groupBy, both shuffling only the (small,
    * growing) distance table against the pre-partitioned edge set. The
    * fixpoint is reached once `iterations` ≥ graph depth from the source;
    * the oracle unrolls the identical min-plus recurrence. */
  def bfsDistances(edges: DataFrame, source: String,
      iterations: Int = 10): DataFrame = {
    localEdges(edges).foreach { arr =>
      val spark = edges.sparkSession
      import spark.implicits._
      return bfsLocal(arr, Seq(source), iterations)
        .map { case (_, v, d) => (v, d) }.toDF("v", "d")
    }
    val e = edges.select(col("src"), col("dst"))
      .repartition(col("src")).pin(eager = false)
    // frontier-delta: only the vertices FIRST reached last round expand
    // this round (in unweighted BFS a settled vertex can never improve,
    // so re-expanding it — the r7 shape — was pure waste: per-round cost
    // tracked the full settled set instead of the frontier). Each frontier
    // is checkpointed eagerly — it is small, and the anti-join against
    // the settled union would otherwise make plan size exponential.
    var frontier = e.sparkSession.range(1)
      .select(lit(source).as("v"), lit(0L).as("d"))
      .pin(eager = true)
    var settled = frontier
    var i = 1
    var done = false
    while (i <= iterations && !done) {
      // lazy checkpoint + count: ONE job materializes the level's blocks
      // AND decides the fixpoint (eager + isEmpty was two barriers per
      // level — the dominant cost of a small-frontier BFS under a
      // contended scheduler)
      val nxt = e.join(frontier.withColumnRenamed("v", "src"), "src")
        .select(col("dst").as("v")).distinct()
        .join(settled.select(col("v")), Seq("v"), "left_anti")
        .select(col("v"), lit(i.toLong).as("d"))
        .pin(eager = false)
      if (nxt.count() == 0L) done = true  // fixpoint: nothing new reachable
      else {
        settled = settled.unionByName(nxt)
        frontier = nxt
        i += 1
      }
    }
    settled
  }

  /** Single-source shortest-path COUNTS — distance AND the number of
    * distinct shortest paths per vertex (the σ of Brandes' betweenness
    * forward pass, exact integers). Frontier-delta execution
    * ([[sigmaLevels]]): a vertex first reached at level i has final
    * d = i and final σ = Σ σ(pred) over the complete level-(i−1)
    * frontier, so each round expands ONLY the new frontier against the
    * pre-partitioned edge set — per-round cost tracks the frontier, not
    * the settled set. The fixpoint (reached once `iterations` ≥ graph
    * depth, or earlier when a frontier empties) is identical to the
    * min-then-sum recurrence the oracle unrolls. */
  def shortestPathCounts(edges: DataFrame, source: String,
      iterations: Int = 10): DataFrame = {
    localEdges(edges).foreach { arr =>
      val spark = edges.sparkSession
      import spark.implicits._
      return brandesLocalState(arr, Seq(source), iterations)
        .map { case (_, v, d, sig, _) => (v, d, sig) }
        .toDF("v", "d", "sig")
    }
    val e = edges.select(col("src"), col("dst"))
      .repartition(col("src")).pin(eager = false)
    val src0 = e.sparkSession.range(1)
      .select(lit(source).as("v"), lit(0L).as("d"), lit(1L).as("sig"))
    sigmaLevels(e, src0, Seq("v"), iterations).reduce(_.unionByName(_))
  }

  /** Driver-local Brandes state kernel — the exact recurrences of
    * [[sigmaLevels]] + [[backwardDeltas]] on a collected edge list, with
    * the identical quantization ([[betweennessLandmarksGraphX]]'s r10 on
    * each level's per-vertex δ sum): a vertex first reached at level i
    * has d = i and σ = Σ σ(pred) over the complete level-(i−1) frontier
    * (exact longs, every EDGE OCCURRENCE contributes — the join
    * semantics); δ(v) = round10(Σ_{w: v→w occurrence, d(w)=d(v)+1}
    * σv/σw·(1+δw)) when ≥1 such successor exists, else 0.0 (the
    * left-join coalesce), deepest level 0.0. Round-10 quantizes away
    * summation-order drift exactly as it does between the DataFrame,
    * GraphX and DuckDB spellings. Returns (s, v, d, σ, δ) per settled
    * (landmark, vertex). */
  private[enrich] def brandesLocalState(
      edgeList: Array[(String, String)], sources: Seq[String],
      depth: Int): Seq[(String, String, Long, Long, Double)] = {
    def r10(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(10, java.math.RoundingMode.HALF_UP).doubleValue()
    val adj = scala.collection.mutable.HashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[String]]
    edgeList.foreach { case (u, w) =>
      adj.getOrElseUpdate(u, scala.collection.mutable.ArrayBuffer.empty) += w
    }
    val empty = scala.collection.mutable.ArrayBuffer.empty[String]
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Long, Long, Double)]
    for (s <- sources) {
      val dist = scala.collection.mutable.HashMap.empty[String, Int]
      val sig = scala.collection.mutable.HashMap.empty[String, Long]
      val levels = scala.collection.mutable.ArrayBuffer(
        scala.collection.mutable.ArrayBuffer(s))
      dist(s) = 0; sig(s) = 1L
      var i = 1
      var stop = false
      while (i <= depth && !stop) {
        val nxt = scala.collection.mutable.LinkedHashMap.empty[String, Long]
        for (u <- levels.last; w <- adj.getOrElse(u, empty))
          if (!dist.contains(w)) nxt(w) = nxt.getOrElse(w, 0L) + sig(u)
        if (nxt.isEmpty) stop = true
        else {
          val lvl = scala.collection.mutable.ArrayBuffer.empty[String]
          nxt.foreach { case (w, sg) => dist(w) = i; sig(w) = sg; lvl += w }
          levels += lvl
          i += 1
        }
      }
      val delta = scala.collection.mutable.HashMap.empty[String, Double]
      levels.last.foreach(v => delta(v) = 0.0)
      for (lvl <- (levels.size - 2) to 0 by -1; v <- levels(lvl)) {
        var acc = 0.0
        var any = false
        for (w <- adj.getOrElse(v, empty))
          if (dist.get(w).contains(lvl + 1)) {
            acc += sig(v).toDouble / sig(w) * (1.0 + delta(w))
            any = true
          }
        delta(v) = if (any) r10(acc) else 0.0
      }
      for ((lvlNodes, d) <- levels.zipWithIndex; v <- lvlNodes)
        out += ((s, v, d.toLong, sig(v), delta(v)))
    }
    out.toSeq
  }

  /** The frontier-delta Brandes forward pass shared by [[shortestPathCounts]]
    * (key = v) and [[betweennessLandmarks]] (key = s, v — the landmark rides
    * in the state key): per round, ONLY the previous level's frontier
    * expands — a vertex first reached at level i has final d = i and final
    * σ = Σ σ(pred) over the complete level-(i−1) frontier, so the full-state
    * re-expand the r7 loop did per round (cost ∝ settled × degree) is
    * replaced by one frontier⋈edges join + one anti-join against settled
    * KEYS (cost ∝ frontier × degree + settled). Distances and σ are exact
    * integers, so the fixpoint — and every oracle that unrolls the r7
    * recurrence — is unchanged. Each level is eagerly checkpointed: levels
    * are small, the anti-join would otherwise nest plans exponentially, and
    * the backward pass ([[backwardDeltas]]) reuses the slices directly
    * instead of re-filtering a monolithic state table per level.
    * Returns the per-distance slices: levels(i) = rows at distance i. */
  private def sigmaLevels(e: DataFrame, src0: DataFrame,
      key: Seq[String], maxRounds: Int): IndexedSeq[DataFrame] = {
    val srcKey = key.filterNot(_ == "v")
    // r19 job-count pass: lazy pin + count() fuses each level's
    // materialization with its fixpoint probe into ONE job (the
    // bfsDistances discipline; eager + isEmpty was two barriers/level)
    val levels = scala.collection.mutable.ArrayBuffer(
      src0.pin(eager = true))
    var settledKeys = levels(0).select(key.map(col): _*)
    var i = 1
    var done = false
    while (i <= maxRounds && !done) {
      val cand = e.join(levels.last.withColumnRenamed("v", "src"), "src")
        .select(srcKey.map(col) ++ Seq(col("dst").as("v"), col("sig")): _*)
      val nxt = cand.join(settledKeys, key, "left_anti")
        .groupBy(key.map(col): _*)
        .agg(sum(col("sig")).as("sig"))
        .select(key.map(col) ++ Seq(lit(i.toLong).as("d"), col("sig")): _*)
        .select(levels(0).columns.map(col).toIndexedSeq: _*)
        .pin(eager = false)
      if (nxt.count() == 0) done = true  // BFS fixpoint reached early
      else {
        levels += nxt
        settledKeys = settledKeys.unionByName(nxt.select(key.map(col): _*))
        i += 1
      }
    }
    levels.toIndexedSeq
  }

  /** The level-sliced Brandes backward pass: δ at level l derives ONLY from
    * level l+1 (δ(v) = Σ_{w ∈ succ(v), d(w)=d(v)+1} σv/σw·(1+δw), rounded
    * to 10 per (key) exactly as the r7 loop did), so each level is two
    * slice-sized joins — the r7 shape instead left-joined the contribution
    * into the FULL accumulated state every level (cost ∝ state × depth,
    * plus full-state checkpoints to cap the lineage). Slices come
    * checkpointed from [[sigmaLevels]]; each new δ slice is checkpointed
    * (small) and the result is their union. */
  private def backwardDeltas(e: DataFrame, levels: IndexedSeq[DataFrame],
      key: Seq[String]): DataFrame = {
    val srcKey = key.filterNot(_ == "v")
    // eager per level: lvlState is read along THREE branches (the two
    // contrib selects and the acc union) of its first consuming job —
    // lazy pins duplicated each level's join concurrently (r19 A/B)
    var lvlState = levels.last.withColumn("delta", lit(0.0))
      .pin(eager = true)
    var acc = lvlState
    for (lvl <- (levels.size - 2) to 0 by -1) {
      val contrib = e
        .join(lvlState.select(srcKey.map(col) ++ Seq(col("v").as("dst"),
          col("sig").as("sigw"), col("delta").as("deltaw")): _*), "dst")
        .join(levels(lvl).select(srcKey.map(col) ++ Seq(col("v").as("src"),
          col("sig").as("sigu")): _*), srcKey :+ "src")
        .groupBy(srcKey.map(col) :+ col("src").as("v"): _*)
        .agg(round(sum(col("sigu").cast("double") / col("sigw")
          * (lit(1.0) + col("deltaw"))), 10).as("c"))
      lvlState = levels(lvl).join(contrib, key, "left")
        .withColumn("delta", coalesce(col("c"), lit(0.0)))
        .drop("c")
        .pin(eager = true)
      acc = acc.unionByName(lvlState)
    }
    acc
  }

  /** Single-source betweenness dependencies — the COMPLETE Brandes
    * algorithm for one source: the forward pass is
    * [[shortestPathCounts]] (distance d and path count σ per vertex);
    * the backward pass accumulates the dependency
    * δ(v) = Σ_{w ∈ succ(v), d(w)=d(v)+1} (σ(v)/σ(w)) · (1 + δ(w))
    * level by level from the deepest frontier back to the source — each
    * level is two SLICE-sized joins ([[backwardDeltas]]; never a
    * full-state update), with the per-level round-to-10 that makes the
    * float sum engine-replayable (summing σ-ratio products in any order
    * lands on the same quantized double). Full betweenness centrality is the
    * sum of δ over all sources — at 100 TB one runs this per landmark
    * source in parallel; the per-source job is what must be shuffle-sane,
    * and it is: the σ/d table is computed once, checkpointed, and every
    * backward level shuffles only the (shrinking) frontier slice.
    *
    * @return (v, d, betweenness) — δ rounded to 6, for reachable vertices
    */
  def betweennessFromSource(edges: DataFrame, source: String,
      depth: Int = 10): DataFrame = {
    localEdges(edges).foreach { arr =>
      val spark = edges.sparkSession
      import spark.implicits._
      return brandesLocalState(arr, Seq(source), depth)
        .map { case (_, v, d, _, delta) => (v, d, r6(delta)) }
        .toDF("v", "d", "betweenness")
    }
    val e = edges.select(col("src"), col("dst"))
      .repartition(col("src")).pin(eager = false)
    val src0 = e.sparkSession.range(1)
      .select(lit(source).as("v"), lit(0L).as("d"), lit(1L).as("sig"))
    val levels = sigmaLevels(e, src0, Seq("v"), depth)
    backwardDeltas(e, levels, Seq("v"))
      .select(col("v"), col("d"), round(col("delta"), 6).as("betweenness"))
  }

  /** HALF_UP round-6 — the driver-side spelling of Spark's round(x, 6)
    * (shared by the Brandes kernel's callers). */
  private def r6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Betweenness centrality over a LANDMARK set — the production shape of
    * Brandes: exact betweenness sums δ over ALL sources (quadratic; never
    * run at scale), so one samples landmark sources and sums their
    * dependency passes — an unbiased estimator up to the |V|/|L| scale
    * factor. Each landmark is an INDEPENDENT [[betweennessFromSource]]
    * job (at cluster scale these run as parallel jobs over the same
    * cached edge table — no cross-landmark state); the combine is one
    * union + partial-agg groupBy. Per-source δ is rounded to 6 before
    * the sum (replayable regardless of summation order), the sum again
    * to 6. Each source's OWN row is excluded from its contribution —
    * Brandes centrality sums δ_s(v) over v ≠ s (the source's dependency
    * counts paths it originates, not paths through it).
    *
    * FUSED execution: rather than |L| sequential single-source jobs, the
    * state tables carry a source key (s, v, …) and every forward/backward
    * level is ONE edge⋈state join covering ALL landmarks — the landmark
    * dimension rides inside the shuffle keys, so adding landmarks grows
    * rows per stage, never stage count. Per-level round-to-10 applies per
    * (s, v), identical to [[betweennessFromSource]] run per source, so
    * the fused plan shares the per-source-replay oracle. Returns
    * (v, betweenness) for vertices reachable from ≥1 landmark. */
  def betweennessLandmarks(edges: DataFrame, sources: Seq[String],
      depth: Int = 10, localThreshold: Int = Bounded.Session): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    localEdges(edges, localThreshold).foreach { arr =>
      // combine locally: per v, Σ over landmarks of round-6 δ (own-source
      // row excluded), rounded to 6 — the distributed groupBy's spelling;
      // round-6 quantization absorbs summation order exactly as it does
      // between the DataFrame / GraphX / oracle spellings
      val acc = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      brandesLocalState(arr, sources, depth).foreach {
        case (s, v, _, _, delta) =>
          if (v != s) acc(v) = acc.getOrElse(v, 0.0) + r6(delta)
      }
      return acc.iterator.map { case (v, b) => (v, r6(b)) }.toSeq
        .toDF("v", "betweenness")
    }
    val e = edges.select(col("src"), col("dst"))
      .repartition(col("src")).pin(eager = false)
    val src0 = sources.toDF("s")
      .select(col("s"), col("s").as("v"), lit(0L).as("d"), lit(1L).as("sig"))
    // forward: per-landmark frontier σ/d — the landmark rides in the state
    // key (s, v), so each level is ONE edge⋈frontier join for ALL landmarks
    val levels = sigmaLevels(e, src0, Seq("s", "v"), depth)
    // backward: δ level-by-level for all landmarks per join
    backwardDeltas(e, levels, Seq("s", "v"))
      .filter(col("v") =!= col("s"))
      .select(col("v"), round(col("delta"), 6).as("betweenness"))
      .groupBy(col("v"))
      .agg(round(sum(col("betweenness")), 6).as("betweenness"))
  }

  /** EDGE betweenness over a landmark set (r14b — Girvan & Newman 2002:
    * the community-detection primitive; the highest-betweenness edges
    * are the inter-community bridges their algorithm removes). Brandes
    * gives it almost for free: with the forward σ/d table and the
    * backward VERTEX dependencies δ in hand, a DAG edge u→w
    * (d_w = d_u + 1) carries δ_s(u→w) = σ_u/σ_w · (1 + δ_w) for each
    * landmark s — so after the shared [[betweennessLandmarks]] passes
    * this is ONE extra edge ⋈ state join and a (src, dst) partial-agg
    * sum; no new iteration, no new state shape. Per-(s, edge) terms
    * quantize at round-10 and the final sum at round-6 (the established
    * replayable-float discipline). Returns (src, dst, ebtw) for DAG
    * edges reachable from ≥1 landmark. */
  def edgeBetweennessLandmarks(edges: DataFrame, sources: Seq[String],
      depth: Int = 10): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    localEdges(edges).foreach { arr =>
      // per-(s, edge-occurrence) round-10 terms summed per (src, dst),
      // rounded to 6 — the distributed e ⋈ state join's spelling, with
      // every duplicate edge row contributing exactly as the join does
      def r10(x: Double): Double =
        java.math.BigDecimal.valueOf(x)
          .setScale(10, java.math.RoundingMode.HALF_UP).doubleValue()
      val st = brandesLocalState(arr, sources, depth)
        .map { case (s, v, d, sg, delta) => ((s, v), (d, sg, delta)) }.toMap
      val acc = scala.collection.mutable.LinkedHashMap
        .empty[(String, String), Double]
      for ((u, w) <- arr; s <- sources) {
        (st.get((s, u)), st.get((s, w))) match {
          case (Some((du, sigu, _)), Some((dw, sigw, deltaw)))
              if dw == du + 1 =>
            val c = r10(sigu.toDouble / sigw * (1.0 + deltaw))
            acc((u, w)) = acc.getOrElse((u, w), 0.0) + c
          case _ => ()
        }
      }
      return acc.iterator
        .map { case ((u, w), c) => (u, w, r6(c)) }.toSeq
        .toDF("src", "dst", "ebtw")
    }
    val e = edges.select(col("src"), col("dst"))
      .repartition(col("src")).pin(eager = false)
    val src0 = sources.toDF("s")
      .select(col("s"), col("s").as("v"), lit(0L).as("d"), lit(1L).as("sig"))
    val levels = sigmaLevels(e, src0, Seq("s", "v"), depth)
    // eager: uSt and wSt read the state along two branches of the one
    // edge-attribution job — lazy would run the backward pass twice
    val state = backwardDeltas(e, levels, Seq("s", "v"))
      .pin(eager = true)
    val uSt = state.select(col("s"), col("v").as("src"),
      col("d").as("du"), col("sig").as("sigu"))
    val wSt = state.select(col("s"), col("v").as("dst"),
      col("d").as("dw"), col("sig").as("sigw"),
      col("delta").as("deltaw"))
    e.join(uSt, "src")
      .join(wSt, Seq("s", "dst"))
      .filter(col("dw") === col("du") + 1)
      .select(col("src"), col("dst"),
        round(col("sigu").cast("double") / col("sigw")
          * (lit(1.0) + col("deltaw")), 10).as("c"))
      .groupBy("src", "dst")
      .agg(round(sum(col("c")), 6).as("ebtw"))
  }

  /** GraphX scale path for [[betweennessLandmarks]] — the one analytics
    * pillar that previously had no resilient-RDD twin. Same math, same
    * roundings, so it SHARES q46's oracle:
    *
    *  - forward pass: level-synchronous multi-landmark BFS whose vertex
    *    state is a fixed-width (dist, σ) slot pair per landmark (the
    *    [[bfsDistancesLandmarksGraphX]] array discipline) — a vertex
    *    first reached at level i gets σ = Σ σ(pred) over the complete
    *    level-(i−1) frontier, delivered as one element-wise-summed
    *    message array per round (exact integers);
    *  - backward pass: Brandes dependencies level by level from the
    *    deepest settled level back to the sources — per level one
    *    aggregateMessages sends σ_src/σ_dst·(1+δ_dst) src-ward exactly
    *    for (slot) pairs with d(dst)=d(src)+1, summed element-wise and
    *    rounded to 10 per slot on assignment (the DF twin's per-level
    *    per-(s,v) quantization);
    *  - combine: per vertex, Σ over slots (own-source slot excluded) of
    *    round-6 δ, rounded to 6 — computed locally per vertex, no extra
    *    shuffle.
    *
    * One-graph iteration shape throughout: one aggregateMessages + one
    * same-index outerJoinVertices per level, cache + count + unpersist
    * predecessor. 2·depth bounded rounds total; adding landmarks widens
    * the arrays, never the round count. */
  def betweennessLandmarksGraphX(spark: SparkSession, edges: DataFrame,
      sources: Seq[String], depth: Int = 10): DataFrame = {
    import org.apache.spark.graphx.{Edge, Graph, TripletFields}
    import spark.implicits._
    def r10(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(10, java.math.RoundingMode.HALF_UP).doubleValue()
    def r6(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val keyed = edges.select(
      xxhash64(col("src")).as("sid"), col("src"),
      xxhash64(col("dst")).as("did"), col("dst")).cache()
    val names = keyed.select(col("sid").as("id"), col("src").as("name"))
      .union(keyed.select(col("did"), col("dst"))).distinct().cache()
    val idOf = names.filter(col("name").isin(sources: _*))
      .as[(Long, String)].collect().map(_.swap).toMap
    val lids: Array[Long] = sources.map(s => idOf.getOrElse(s, -1L)).toArray
    val L = lids.length
    val INF = Int.MaxValue
    val slotOf = lids.zipWithIndex.filter(_._1 != -1L).toMap
    // forward state: (dists, sigmas) — slot i belongs to sources(i)
    val nP = gxParts(spark, keyed.count())
    var g = Graph(
      names.as[(Long, String)].rdd.coalesce(nP)
        .map { case (id, _) => (id, ()) },
      keyed.select(col("sid"), col("did")).as[(Long, Long)].rdd
        .coalesce(nP).map { case (s, d) => Edge(s, d, ()) })
      .mapVertices { (id, _) =>
        val d = Array.fill(L)(INF)
        val sg = Array.fill(L)(0L)
        slotOf.get(id).foreach { i => d(i) = 0; sg(i) = 1L }
        (d, sg, slotOf.contains(id)) // (dist, σ, settled-last-round)
      }.cache()
    var lastLevel = 0
    var active = slotOf.size.toLong
    while (active > 0 && lastLevel < depth) {
      val prevLevel = lastLevel
      val msgs = g.aggregateMessages[Array[Long]](
        ctx => {
          val (d, sg, just) = ctx.srcAttr
          if (just) {
            val m = new Array[Long](L)
            var any = false
            var i = 0
            while (i < L) {
              if (d(i) == prevLevel) { m(i) = sg(i); any = true }
              i += 1
            }
            if (any) ctx.sendToDst(m)
          }
        },
        (a, b) => {
          var i = 0
          while (i < L) { a(i) += b(i); i += 1 }
          a
        },
        TripletFields.Src)
      val nxt = g.outerJoinVertices(msgs) { (_, attr, mOpt) =>
        mOpt match {
          case Some(m) =>
            val (d, sg, _) = attr
            var settled = false
            var i = 0
            while (i < L) {
              if (m(i) > 0L && d(i) == INF) settled = true
              i += 1
            }
            if (!settled) (d, sg, false)
            else {
              val nd = d.clone(); val nsg = sg.clone()
              i = 0
              while (i < L) {
                if (m(i) > 0L && nd(i) == INF) {
                  nd(i) = prevLevel + 1; nsg(i) = m(i)
                }
                i += 1
              }
              (nd, nsg, true)
            }
          case None => (attr._1, attr._2, false)
        }
      }.cache()
      active = nxt.vertices.filter(_._2._3).count()
      val prev = g
      g = nxt
      prev.unpersist(blocking = false)
      if (active > 0) lastLevel += 1
    }
    // backward state: (dists, sigmas, deltas); deepest level keeps δ=0
    var bg = g.mapVertices((_, attr) =>
      (attr._1, attr._2, Array.fill(L)(0.0))).cache()
    bg.vertices.count()
    g.unpersist(blocking = false)
    for (lvl <- (lastLevel - 1) to 0 by -1) {
      val msgs = bg.aggregateMessages[Array[Double]](
        ctx => {
          val (dd, sgd, deld) = ctx.dstAttr
          val (ds, sgs, _) = ctx.srcAttr
          val m = new Array[Double](L)
          var any = false
          var i = 0
          while (i < L) {
            if (ds(i) == lvl && dd(i) == lvl + 1) {
              m(i) = sgs(i).toDouble / sgd(i) * (1.0 + deld(i))
              any = true
            }
            i += 1
          }
          if (any) ctx.sendToSrc(m)
        },
        (a, b) => {
          var i = 0
          while (i < L) { a(i) += b(i); i += 1 }
          a
        },
        TripletFields.All)
      val nxt = bg.outerJoinVertices(msgs) { (_, attr, mOpt) =>
        val (d, sg, del) = attr
        var mine = false
        var i = 0
        while (i < L) { if (d(i) == lvl) mine = true; i += 1 }
        if (!mine) attr
        else {
          val nd = del.clone()
          val m = mOpt.orNull
          i = 0
          while (i < L) {
            if (d(i) == lvl) nd(i) = r10(if (m == null) 0.0 else m(i))
            i += 1
          }
          (d, sg, nd)
        }
      }.cache()
      nxt.vertices.count()
      val prev = bg
      bg = nxt
      prev.unpersist(blocking = false)
    }
    val lidsLocal = lids
    bg.vertices
      .flatMap { case (id, (d, _, del)) =>
        var acc = 0.0
        var any = false
        var i = 0
        while (i < d.length) {
          if (d(i) != INF && id != lidsLocal(i)) {
            acc += r6(del(i)); any = true
          }
          i += 1
        }
        if (any) Iterator.single((id, r6(acc))) else Iterator.empty
      }
      .toDF("id", "betweenness")
      .join(names, "id")
      .select(col("name").as("v"), col("betweenness"))
  }

  /** Multi-landmark BFS distances in ONE keyed pass (the same fusion as
    * [[betweennessLandmarks]]): state rows are (s, v, d) and each round
    * is a single edge⋈state join + min groupBy covering ALL landmarks —
    * landmark count scales rows per stage, not stage count. Recurrence
    * per landmark is identical to [[bfsDistances]], so per-landmark
    * oracles replay unchanged. */
  def bfsDistancesLandmarks(edges: DataFrame, sources: Seq[String],
      iterations: Int, localThreshold: Int = Bounded.Session): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    localEdges(edges, localThreshold).foreach { arr =>
      return bfsLocal(arr, sources, iterations).toDF("s", "v", "d")
    }
    val e = edges.select(col("src"), col("dst"))
      .repartition(col("src")).pin(eager = false)
    // frontier-delta (the bfsDistances rationale, keyed by landmark):
    // only (s, v) pairs first reached last round expand this round
    var frontier = sources.toDF("s")
      .select(col("s"), col("s").as("v"), lit(0L).as("d"))
      .pin(eager = true)
    var settled = frontier
    var i = 1
    var done = false
    while (i <= iterations && !done) {
      // one job per level: lazy pin + count materializes AND probes
      val nxt = e.join(frontier.withColumnRenamed("v", "src"), "src")
        .select(col("s"), col("dst").as("v")).distinct()
        .join(settled.select(col("s"), col("v")), Seq("s", "v"), "left_anti")
        .select(col("s"), col("v"), lit(i.toLong).as("d"))
        .pin(eager = false)
      if (nxt.count() == 0) done = true
      else {
        settled = settled.unionByName(nxt)
        frontier = nxt
        i += 1
      }
    }
    settled
  }

  /** Driver-local multi-landmark BFS — the [[brandesLocalState]] kernel
    * minus σ/δ: per landmark, level-synchronous first-reach distances
    * bounded at `maxRounds` hops, with the landmark's own (s, s, 0) row
    * always present (the frontier init's spelling — a landmark absent
    * from the graph still seeds itself). Exact longs, identical to the
    * distributed recurrence at fixpoint. */
  private[enrich] def bfsLocal(edgeList: Array[(String, String)],
      sources: Seq[String], maxRounds: Int): Seq[(String, String, Long)] = {
    val adj = scala.collection.mutable.HashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[String]]
    edgeList.foreach { case (u, w) =>
      adj.getOrElseUpdate(u, scala.collection.mutable.ArrayBuffer.empty) += w
    }
    val empty = scala.collection.mutable.ArrayBuffer.empty[String]
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Long)]
    for (s <- sources) {
      val dist = scala.collection.mutable.HashMap.empty[String, Int]
      var frontier = scala.collection.mutable.ArrayBuffer(s)
      dist(s) = 0
      out += ((s, s, 0L))
      var i = 1
      while (i <= maxRounds && frontier.nonEmpty) {
        val nxt = scala.collection.mutable.ArrayBuffer.empty[String]
        for (u <- frontier; w <- adj.getOrElse(u, empty))
          if (!dist.contains(w)) {
            dist(w) = i
            out += ((s, w, i.toLong))
            nxt += w
          }
        frontier = nxt
        i += 1
      }
    }
    out.toSeq
  }

  /** GraphX scale path for [[bfsDistancesLandmarks]]: a fused
    * multi-landmark BFS whose vertex state is a FIXED-WIDTH Int array —
    * one distance slot per landmark — instead of lib.ShortestPaths'
    * per-vertex Map[VertexId, Int] (which allocates a fresh map per
    * message merge; at |L|=3 the array state roughly halves the
    * per-round allocation cost that made the q44 twin ~2x its DF
    * sibling). One-graph iteration shape: one aggregateMessages (src
    * attr only) + one same-index outerJoinVertices per round; a vertex
    * re-sends only while some slot improved last round (frontier
    * discipline), and messages min-combine element-wise, so hop counts
    * equal the DataFrame recurrence at fixpoint and consumers share the
    * unrolled oracles (the q22_gx argument, per landmark).
    * Returns (s, v, d). */
  def bfsDistancesLandmarksGraphX(spark: SparkSession, edges: DataFrame,
      sources: Seq[String]): DataFrame = {
    import org.apache.spark.graphx.{Edge, Graph, TripletFields}
    import spark.implicits._
    val keyed = edges.select(
      xxhash64(col("src")).as("sid"), col("src"),
      xxhash64(col("dst")).as("did"), col("dst")).cache()
    val names = keyed.select(col("sid").as("id"), col("src").as("name"))
      .union(keyed.select(col("did"), col("dst"))).distinct().cache()
    val idOf = names.filter(col("name").isin(sources: _*))
      .as[(Long, String)].collect().map(_.swap).toMap
    // slot i belongs to sources(i); landmarks absent from the graph
    // simply never seed a 0 (their slots stay INF everywhere)
    val lids: Array[Long] = sources.map(s => idOf.getOrElse(s, -1L)).toArray
    val lnames: Array[String] = sources.toArray
    val L = lids.length
    val INF = Int.MaxValue
    val slotOf = lids.zipWithIndex.filter(_._1 != -1L).toMap
    // distances propagate FORWARD from each landmark along the given
    // edge direction — exactly the DF twin's frontier expansion (callers
    // hand in a pre-reversed edge list when they want ancestor walks)
    val nP = gxParts(spark, keyed.count())
    var g = Graph(
      names.as[(Long, String)].rdd.coalesce(nP)
        .map { case (id, _) => (id, ()) },
      keyed.select(col("sid"), col("did")).as[(Long, Long)].rdd
        .coalesce(nP).map { case (s, d) => Edge(s, d, ()) })
      .mapVertices { (id, _) =>
        val d = Array.fill(L)(INF)
        slotOf.get(id).foreach(i => d(i) = 0)
        (d, slotOf.contains(id)) // (dists, improved-last-round)
      }.cache()
    var active = slotOf.size.toLong
    while (active > 0) {
      val msgs = g.aggregateMessages[Array[Int]](
        ctx => {
          val (d, changed) = ctx.srcAttr
          if (changed) {
            val m = new Array[Int](L)
            var any = false
            var i = 0
            while (i < L) {
              m(i) = if (d(i) == INF) INF else d(i) + 1
              if (m(i) != INF) any = true
              i += 1
            }
            if (any) ctx.sendToDst(m)
          }
        },
        (a, b) => {
          var i = 0
          while (i < L) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
          a
        },
        TripletFields.Src)
      val nxt = g.outerJoinVertices(msgs) { (_, attr, mOpt) =>
        mOpt match {
          case Some(m) =>
            val d = attr._1
            var changed = false
            val nd = new Array[Int](L)
            var i = 0
            while (i < L) {
              nd(i) = math.min(d(i), m(i))
              if (nd(i) < d(i)) changed = true
              i += 1
            }
            if (changed) (nd, true) else (d, false)
          case None => (attr._1, false)
        }
      }.cache()
      active = nxt.vertices.filter(_._2._2).count()
      val prev = g
      g = nxt
      prev.unpersist(blocking = false)
    }
    val ln = lnames // serializable local copy
    g.vertices
      .flatMap { case (id, (d, _)) =>
        Iterator.range(0, d.length).filter(d(_) != INF)
          .map(i => (ln(i), id, d(i).toLong))
      }
      .toDF("s", "id", "d")
      .join(names, "id")
      .select(col("s"), col("name").as("v"), col("d"))
  }

  /** GraphX scale path for [[bfsDistances]]: the fixed-width
    * multi-landmark BFS ([[bfsDistancesLandmarksGraphX]]) with the
    * source as the single landmark (a 1-slot array state) — identical
    * hop counts, so it shares q22's oracle. */
  def bfsDistancesGraphX(spark: SparkSession, edges: DataFrame,
      source: String): DataFrame =
    bfsDistancesLandmarksGraphX(spark, edges, Seq(source))
      .select(col("v"), col("d"))

  /** Per-vertex triangle counts over a canonical undirected edge list
    * (src < dst, deduped). Degree-ordered orientation: every edge points
    * from its lower-(degree, id) endpoint to the higher one, so each
    * out-neighborhood is O(√E) even on skewed graphs and every triangle
    * materializes exactly once as a closed wedge — the standard
    * scale-safe formulation (wedge count is Σ out-deg², bounded, instead
    * of Σ deg², unbounded under hubs). Three self-joins on the oriented
    * list, no driver state. Output: (v, n_tri) for vertices in ≥1
    * triangle; the triangle SET is orientation-invariant, so the oracle
    * can replay a plain id-ordered join at its small scale. */
  /** The triangle set (u,v,w) of a canonical undirected edge list via
    * degree-ordered orientation — each triangle exactly once, vertex
    * order is ORIENTATION order (by (degree, id)), not id order. Shared
    * kernel of [[triangleCounts]] and [[edgeSupport]]. */
  private def orientedTriangles(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val deg = e.select(col("src").as("v"))
      .unionByName(e.select(col("dst").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    // orientation key: (degree, id) — a total order, ties broken by id
    val keyed = e
      .join(deg.select(col("v").as("src"), col("deg").as("dsrc")), "src")
      .join(deg.select(col("v").as("dst"), col("deg").as("ddst")), "dst")
    val srcFirst = struct(col("dsrc"), col("src")) < struct(col("ddst"), col("dst"))
    val oriented = keyed.select(
        when(srcFirst, col("src")).otherwise(col("dst")).as("u"),
        when(srcFirst, col("dst")).otherwise(col("src")).as("w"),
        // carry the head's orientation key so the wedge join can order
        // its two legs without re-joining degrees
        when(srcFirst, struct(col("ddst").as("d"), col("dst").as("id")))
          .otherwise(struct(col("dsrc").as("d"), col("src").as("id"))).as("wk"))
      .pin(eager = false)
    // wedge (u→v, u→w) with v strictly before w in orientation order,
    // closed by oriented edge v→w
    val l1 = oriented.select(col("u"), col("w").as("v"), col("wk").as("vk"))
    val l2 = oriented.select(col("u"), col("w"), col("wk"))
    l1.join(l2, Seq("u"))
      .filter(col("vk") < col("wk"))
      .join(oriented.select(col("u").as("v"), col("w")), Seq("v", "w"))
      .select(col("u"), col("v"), col("w"))
  }

  def triangleCounts(edges: DataFrame): DataFrame =
    orientedTriangles(edges)
      .select(explode(array(col("u"), col("v"), col("w"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("n_tri"))

  /** Per-EDGE triangle support over the canonical undirected edge list:
    * how many triangles each edge closes — the k-truss building block
    * (an edge belongs to the k-truss iff its support within the truss
    * is ≥ k−2). Same oriented-wedge kernel as [[triangleCounts]] (wedge
    * work bounded by Σ out-deg², hub-safe); each triangle contributes
    * one support unit to each of its three edges, re-canonicalized to
    * (min,max) form so output rows align with the input edge list.
    * Edges in no triangle are absent (support 0). */
  def edgeSupport(edges: DataFrame): DataFrame =
    orientedTriangles(edges)
      .select(explode(array(
        struct(least(col("u"), col("v")).as("src"),
          greatest(col("u"), col("v")).as("dst")),
        struct(least(col("u"), col("w")).as("src"),
          greatest(col("u"), col("w")).as("dst")),
        struct(least(col("v"), col("w")).as("src"),
          greatest(col("v"), col("w")).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("support"))

  /** Average-NEIGHBOR-degree curve k_nn(k) (Pastor-Satorras et al.
    * 2001) — q49's one-number assortativity unrolled into the full
    * mixing profile: for each degree k, the mean over degree-k nodes of
    * their mean neighbor degree (rising curve = assortative hubs-with-
    * hubs, falling = disassortative hub-periphery). All-integer ppm
    * arithmetic (per-node 10⁶·Σnbdeg div deg, then the per-k mean as
    * div) so no ratio can 1-ulp-flip. Scale shape: one degree agg, one
    * edge↔degree join + per-node sum on the same vertex shuffle, then a
    * distinct-degree-sized groupBy — no window, nothing quadratic. */
  def neighborDegreeCurve(edges: DataFrame): DataFrame = {
    val und = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
    val deg = und.groupBy(col("src").as("v")).agg(count(lit(1)).as("deg"))
    val sumnb = und
      .join(deg.select(col("v").as("dst"), col("deg").as("dnb")), "dst")
      .groupBy("src").agg(sum("dnb").as("sumnb"))
    deg.join(sumnb, deg("v") === sumnb("src"))
      .select(col("deg").as("k"),
        expr("1000000 * sumnb div deg").as("annd_ppm"))
      .groupBy("k").agg(count(lit(1)).as("n_nodes"),
        expr("sum(annd_ppm) div count(1)").as("knn_ppm"))
      .select(col("k").cast("long").as("k"),
        col("n_nodes").cast("long").as("n_nodes"),
        col("knn_ppm").cast("long").as("knn_ppm"))
  }

  /** SCAN structural similarity (Xu et al. 2007) per edge:
    * σ(u,v) = |N[u]∩N[v]| / √(|N[u]|·|N[v]|) over CLOSED neighborhoods
    * — for adjacent u,v the intersection is (triangle support + the two
    * endpoints) — the edge weight SCAN thresholds to find structural
    * clusters, hubs, and outliers. Reuses the oriented-wedge
    * [[edgeSupport]] kernel (hub-safe, Σ out-deg² bounded) plus one
    * degree double-join; support-0 edges are kept via the left join
    * (σ is defined for every edge). Integer numerators; the one float
    * op sequence (divide by √ of an integer product) is identical
    * cross-engine, round-6. */
  def scanSimilarity(edges: DataFrame): DataFrame = {
    val sup = edgeSupport(edges)
    val und = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
    val deg = und.groupBy(col("src").as("v")).agg(count(lit(1)).as("deg"))
    edges.select("src", "dst")
      .join(sup, Seq("src", "dst"), "left")
      .na.fill(0L, Seq("support"))
      .join(deg.select(col("v").as("src"), col("deg").as("du")), "src")
      .join(deg.select(col("v").as("dst"), col("deg").as("dv")), "dst")
      .select(col("src"), col("dst"),
        (col("support") + 2).cast("long").as("common"),
        round((col("support") + 2).cast("double") /
          sqrt(((col("du") + 1) * (col("dv") + 1)).cast("double")), 6)
          .as("sim"))
  }

  /** k-truss: the maximal subgraph where every edge closes ≥ k−2
    * triangles WITHIN the subgraph — the standard cohesive-community
    * core, stricter than k-core. Iterative peel: recompute support on
    * the survivors, drop under-supported edges, repeat to fixpoint.
    * Each round is the bounded wedge join plus one semi-join; the edge
    * set only shrinks, lineage stays flat via localCheckpoint, and the
    * loop exits on an unchanged count (≤ maxIter rounds — at 100 TB
    * each round is a fixed number of shuffles on a shrinking set, the
    * k-core discipline). k ≤ 2 is the whole graph by definition. */
  def kTruss(edges: DataFrame, k: Int, maxIter: Int = 30): DataFrame = {
    val canon = edges.select(col("src"), col("dst"))
    if (k <= 2) return canon
    var e = canon.pin(eager = false)
    var n = e.count()
    var it = 0
    var done = n == 0
    while (!done && it < maxIter) {
      val kept = e.join(
          edgeSupport(e).filter(col("support") >= k - 2),
          Seq("src", "dst"), "left_semi")
        .pin(eager = false)
      val m = kept.count()
      done = m == n || m == 0
      e = kept; n = m; it += 1
    }
    e
  }

  /** GraphX scale path for [[triangleCounts]]: `TriangleCount.run` over
    * the same canonical edge list (resilient RDD state, edge-partition
    * local set intersections) — identical per-vertex counts, so it
    * shares q24's oracle. Vertex ids must already be numeric. */
  def triangleCountsGraphX(spark: SparkSession, edges: DataFrame): DataFrame = {
    import org.apache.spark.graphx.{Edge, Graph, PartitionStrategy}
    import spark.implicits._
    val g = Graph.fromEdges(
      edges.select(col("src").cast("long"), col("dst").cast("long"))
        .as[(Long, Long)].rdd.map { case (s, d) => Edge(s, d, ()) },
      defaultValue = (),
      edgeStorageLevel = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK,
      vertexStorageLevel = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .partitionBy(PartitionStrategy.EdgePartition2D)
    g.triangleCount().vertices
      .filter(_._2 > 0)
      .toDF("v", "n_tri")
      .select(col("v"), col("n_tri").cast("long"))
  }

  /** k-core decomposition: iteratively delete vertices of (undirected)
    * degree < k until none remain — the standard graph-cleanup /
    * community-detection prep (the surviving subgraph where everyone has
    * ≥ k surviving neighbors). Same scale shape as
    * [[connectedComponents]]: each round is one partial-agg degree count
    * plus two hash joins against the (shrinking) keep set, the edge set
    * re-checkpoints so lineage stays flat, and the loop exits on the
    * first round that removes nothing. Converges in ≤ |V| rounds;
    * real graphs take a handful (the sf0.01 co-purchase graph: 11).
    *
    * @return (v, deg) for vertices in the k-core, with their core degree
    */
  /** DENSEST-SUBGRAPH peeling profile (r13 — Charikar 2000's greedy
    * approximation in Bahmani et al. VLDB 2012's PARALLEL form, the
    * MapReduce spelling: instead of peeling one min-degree vertex per
    * step — |V| sequential rounds — each round removes EVERY vertex
    * whose degree is at most (1+ε)× the current average with ε = 1/10
    * (deg·|V|·10 ≤ 2·|E|·11, exact integers), so every survivor has
    * deg > 2(1+ε)|E|/|V| and the handshake bound forces
    * |survivors| < |V|/(1+ε): the vertex set shrinks GEOMETRICALLY and
    * the loop is guaranteed to terminate within ⌈log₁.₁|V|⌉ rounds
    * (r14 — the exact-average ε = 0 threshold has no such bound: a
    * path graph peels only its two endpoints per round). The round
    * whose survivor set maximizes density |E|/|V| is a 2(1+ε)-approx
    * densest subgraph — the community-core / spam-farm detector of
    * large-graph curation.
    *
    * Determinism: thresholds and the best-round pick are pure integer
    * comparisons (density compared by IEEE division of exact integers —
    * equal rationals divide to the identical double, ties to the
    * earliest round). Scale: each round is one degree groupBy + one
    * broadcast-remove semi-join on a geometrically shrinking edge set;
    * rounds ≤ log₁.₁|V| (maxRounds = 0 auto-sizes to that bound, so
    * the terminal require can only fire on a genuine invariant break);
    * per-round stats are 1-row aggregates. Emits one row per non-empty
    * round (n_vertices, n_edges, density_milli, best); an empty /
    * self-loop-only edge input yields an empty profile (no 0-vertex
    * division row). */
  def densestSubgraph(edges: DataFrame, maxRounds: Int = 0): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // self-loop filter AFTER the union: filtering only the forward
    // branch let a reversed self-loop survive as a 0-real-degree vertex
    // the (1+ε) threshold keeps forever (deg·|V|·10 > 0 with nE = 0)
    var und = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .repartition(col("src")).pin(eager = false)
    var verts = und.select(col("src").as("v")).distinct()
      .pin(eager = false)
    // r19 job-count pass: ONE tagged count per round replaces the
    // checkpoint + |V| count + |E| count trio — the union's aggregation
    // materializes the lazily pinned verts AND und in the same job
    // (Profile: q80_densest 79 jobs -> ~22)
    def vAndE(): (Long, Long) = {
      val m = verts.select(lit(0).as("t"))
        .unionByName(und.select(lit(1).as("t")))
        .groupBy("t").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      (m.getOrElse(0, 0L), m.getOrElse(1, 0L) / 2)
    }
    val stats = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    var (nV, nE) = vAndE()
    if (nV > 0) stats += ((0, nV, nE))
    // (1+ε) geometric-shrink bound: |V| shrinks by ≥ 1/1.1 per round,
    // so ⌈log₁.₁ nV⌉ + 1 rounds always suffice
    val bound = if (maxRounds > 0) maxRounds
      else math.ceil(math.log(math.max(nV, 2).toDouble) /
        math.log(1.1)).toInt + 1
    var r = 1
    while (nV > 0 && r <= bound) {
      // remove every vertex with deg·|V|·10 ≤ 2·|E|·11, i.e. deg at most
      // (1+ε)·average with ε = 1/10 (isolated vertices have deg 0 via
      // the left join and always qualify)
      val deg = und.groupBy(col("src").as("v")).agg(count(lit(1)).as("deg"))
      val keep = verts.join(deg, Seq("v"), "left")
        .filter(coalesce(col("deg"), lit(0L)) * lit(nV) * lit(10L) >
          lit(2L * nE * 11L))
        .select(col("v")).pin(eager = true)
      und = und
        .join(keep.withColumnRenamed("v", "src"), Seq("src"), "left_semi")
        .join(keep.withColumnRenamed("v", "dst"), Seq("dst"), "left_semi")
        .pin(eager = true)
      verts = keep
      val ve = vAndE()
      nV = ve._1
      nE = ve._2
      if (nV > 0) stats += ((r, nV, nE))
      r += 1
    }
    require(nV == 0,
      s"densestSubgraph: not converged after $bound rounds ($nV left)")
    // best round: max |E|/|V| (exact-integer IEEE division — equal
    // rationals hit the identical double), ties to the earliest round;
    // an empty profile (no vertices at round 0) short-circuits before
    // any division
    if (stats.isEmpty)
      return spark.emptyDataFrame
        .select(lit(0).as("round"), lit(0L).as("n_vertices"),
          lit(0L).as("n_edges"), lit(0L).as("density_milli"),
          lit(0).as("best")).limit(0)
    val best = stats.maxBy { case (rr, v, e) =>
      (e.toDouble / v, -rr) }._1
    stats.toSeq.map { case (rr, v, e) =>
      (rr, v, e, 1000L * e / v, if (rr == best) 1 else 0) }
      .toDF("round", "n_vertices", "n_edges", "density_milli", "best")
  }

  def kCore(edges: DataFrame, k: Int, maxIter: Int = 20): DataFrame = {
    var und = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("src")).pin(eager = false)
    var prev = und.count()
    var done = prev == 0L
    var i = 0
    // one degree-prune round; pruning a converged edge set is a no-op,
    // so batching rounds between materializations cannot change the
    // fixpoint (the CC three-hop argument)
    def prune(df: DataFrame): DataFrame = {
      val keep = df.groupBy("src").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src"))
      df.join(keep, "src")
        .join(keep.withColumnRenamed("src", "dst"), "dst")
        .select(col("src"), col("dst"))
    }
    while (i + 2 <= maxIter && !done) {
      // TWO rounds per checkpoint+count: the per-round fixed cost (eager
      // materialization + count job) dominates on real graphs' shallow
      // prune chains, so paying it half as often wins even with the
      // deeper per-job plan
      val next = prune(prune(und)).pin(eager = false)
      val n = next.count()
      done = n == prev
      prev = n
      und = next
      i += 2
    }
    // single-prune tail round so an odd maxIter still bounds total prune
    // rounds at exactly maxIter
    if (!done && i < maxIter) {
      val next = prune(und).pin(eager = false)
      val n = next.count()
      done = n == prev
      prev = n
      und = next
      i += 1
    }
    und.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .select(col("src").as("v"), col("deg"))
  }

  /** GraphX scale path for [[kCore]]: iterated `subgraph` pruning —
    * drop vertices whose (undirected) degree < k, recompute, repeat to
    * the fixpoint. Same converged subgraph as the DataFrame prune loop
    * (the fixpoint is unique), so it shares q30's oracle. Resilient RDD
    * state; each round is one degrees aggregation + one subgraph
    * filter. */
  def kCoreGraphX(spark: SparkSession, edges: DataFrame, k: Int,
      maxIter: Int = 40): DataFrame = {
    import org.apache.spark.graphx.{Edge, Graph}
    import spark.implicits._
    val keyed = edges.select(
      xxhash64(col("src")).as("sid"), col("src"),
      xxhash64(col("dst")).as("did"), col("dst")).cache()
    val names = keyed.select(col("sid").as("id"), col("src").as("name"))
      .union(keyed.select(col("did"), col("dst"))).distinct().cache()
    var g = Graph.fromEdges(
      keyed.select(col("sid"), col("did")).as[(Long, Long)].rdd
        .map { case (s, d) => Edge(s, d, ()) }, ())
    var changed = true
    var i = 0
    while (changed && i < maxIter) {
      val before = g.numEdges
      val deg = g.degrees
      val prev = g
      g = g.outerJoinVertices(deg)((_, _, d) => d.getOrElse(0))
        .subgraph(vpred = (_, d) => d >= k)
        .mapVertices((_, _) => ())
      g.cache()
      changed = g.numEdges != before // numEdges materializes the new graph
      prev.unpersist(blocking = false) // round 0's uncached base: no-op
      i += 1
    }
    g.degrees.toDF("id", "deg")
      .join(names, "id")
      .select(col("name").as("v"), col("deg").cast("long").as("deg"))
  }

  /** Personalized PageRank: the teleport mass returns to a SOURCE SET
    * instead of all vertices — the "similar nodes to these seeds" ranking
    * used for graph-based retrieval/recommendation. Same math shape as
    * [[pageRank]] (damping 0.85, dangling mass ignored, per-iteration
    * round-to-10 so the oracle's different summation order lands on the
    * same doubles); init is 1/|S| on the sources, 0 elsewhere, and the
    * reset term 0.15/|S| applies only to sources. The source set joins
    * the vertex table ONCE via broadcast (it is small by definition);
    * each iteration shuffles only the rank table against the
    * pre-partitioned edge state. Returns (v, ppr) rounded to 6. */
  def personalizedPageRank(edges: DataFrame, sources: DataFrame,
      iterations: Int = 5): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val e2 = e.join(e.groupBy(col("src")).agg(count(lit(1)).as("cnt")), "src")
      .repartition(col("src")).pin(eager = false)
    val src = sources.select(col("v")).distinct().pin(eager = false)
    val verts = e.select(col("src").as("v"))
      .union(e.select(col("dst").as("v"))).distinct()
      .join(broadcast(src.withColumn("is_src", lit(1))), Seq("v"), "left")
      .select(col("v"), coalesce(col("is_src"), lit(0)).as("is_src"))
      .repartition(col("v")).pin(eager = false)
    // |S| counts only seeds present in the graph: an out-of-graph seed
    // gets no rank row, so letting it dilute the teleport mass would
    // silently diverge from the oracle's sum(is_src) spelling
    val ns = verts.agg(sum(col("is_src"))).first().getLong(0).toDouble
    var pr = verts.withColumn("pr",
      when(col("is_src") === 1, round(lit(1.0 / ns), 10)).otherwise(lit(0.0)))
    for (i <- 1 to iterations) {
      val contrib = e2.join(pr.select(col("v").as("src"), col("pr")), "src")
        .groupBy(col("dst").as("v"))
        .agg(round(sum(col("pr") / col("cnt")), 10).as("s"))
      pr = verts.join(contrib, Seq("v"), "left")
        .select(col("v"), col("is_src"),
          round(when(col("is_src") === 1, lit(0.15 / ns)).otherwise(lit(0.0))
            + lit(0.85) * coalesce(col("s"), lit(0.0)), 10).as("pr"))
      if (i % 8 == 0 && i < iterations) pr = pr.pin(eager = false)
    }
    pr.select(col("v"), round(col("pr"), 6).as("ppr"))
  }

  /** Weighted PageRank over edges(src, dst, w): each vertex splits its
    * rank over out-edges PROPORTIONALLY TO WEIGHT (contrib = pr·w/Σw(src))
    * instead of uniformly — the random surfer follows strong edges more
    * often, the natural ranking for weighted graphs like co-occurrence /
    * co-purchase networks. Same scale + determinism shape as [[pageRank]]:
    * static per-edge state (weight share denominator) joined once and
    * pre-partitioned, per-iteration round-to-10. Returns (v, pagerank)
    * rounded to 6. */
  def pageRankWeighted(edges: DataFrame, iterations: Int = 5): DataFrame = {
    val e = edges.select(col("src"), col("dst"), col("w"))
    val e2 = e.join(e.groupBy(col("src")).agg(sum(col("w")).as("wsum")), "src")
      .repartition(col("src")).pin(eager = false)
    val verts = e.select(col("src").as("v"))
      .union(e.select(col("dst").as("v"))).distinct()
      .repartition(col("v")).pin(eager = false)
    val n = verts.count().toDouble
    var pr = verts.withColumn("pr", round(lit(1.0 / n), 10))
    for (i <- 1 to iterations) {
      val contrib = e2.join(pr.withColumnRenamed("v", "src"), "src")
        .groupBy(col("dst").as("v"))
        .agg(round(sum(col("pr") * col("w") / col("wsum")), 10).as("s"))
      pr = verts.join(contrib, Seq("v"), "left")
        .select(col("v"),
          round(lit(0.15 / n) + lit(0.85) * coalesce(col("s"), lit(0.0)), 10).as("pr"))
      if (i % 8 == 0 && i < iterations) pr = pr.pin(eager = false)
    }
    pr.select(col("v"), round(col("pr"), 6).as("pagerank"))
  }

  /** GraphX scale path for [[personalizedPageRank]] — same math (teleport
    * and init mass restricted to the source set, dangling mass ignored,
    * per-iteration round-to-10), resilient RDD state instead of pinned
    * localCheckpoint blocks, so it shares q32's oracle SQL exactly as
    * [[pageRankGraphX]] shares q10's. The source set is collected to a
    * broadcast-able Set — it is small by definition (seeds). */
  def personalizedPageRankGraphX(spark: SparkSession, edges: DataFrame,
      sources: DataFrame, iterations: Int = 5): DataFrame = {
    import org.apache.spark.graphx._
    import spark.implicits._
    def r10(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(10, java.math.RoundingMode.HALF_UP).doubleValue()
    val keyed = edges.select(
      xxhash64(col("src")).as("sid"), col("src"),
      xxhash64(col("dst")).as("did"), col("dst")).cache()
    val names = keyed.select(col("sid").as("id"), col("src").as("name"))
      .union(keyed.select(col("did"), col("dst"))).distinct().cache()
    // |S| counts only seeds present in the graph (mirror the DF path's
    // sum(is_src) at personalizedPageRank): an out-of-graph seed gets no
    // rank row, so letting it dilute the teleport mass would silently
    // diverge from the DF twin and the oracle. The semi-join keeps the
    // collect bounded by the (small) seed set, never the vertex set.
    val srcIds = sources.select(xxhash64(col("v")).as("id")).distinct()
      .join(names, Seq("id"), "left_semi")
      .as[Long].collect().toSet
    val bSrc = spark.sparkContext.broadcast(srcIds)
    val ns = srcIds.size.toDouble
    // one-graph iteration shape (see [[pageRankGraphX]]): vertex attr =
    // (rank, outDeg), one aggregateMessages + one same-index
    // outerJoinVertices per round, superseded graphs unpersisted
    val g = Graph.fromEdges(
      keyed.select(col("sid"), col("did")).as[(Long, Long)].rdd
        .map { case (s, d) => Edge(s, d, ()) }, ())
      .partitionBy(PartitionStrategy.EdgePartition2D)
    val reset = 0.15 / ns
    var rankGraph = g.outerJoinVertices(g.outDegrees)((_, _, d) =>
      d.getOrElse(0))
      .mapVertices((id, d) =>
        (if (bSrc.value(id)) r10(1.0 / ns) else 0.0, d)).cache()
    for (_ <- 1 to iterations) {
      val contribs = rankGraph.aggregateMessages[Double](
        ctx => ctx.sendToDst(ctx.srcAttr._1 / ctx.srcAttr._2.toDouble),
        _ + _).mapValues(r10 _)
      val prev = rankGraph
      rankGraph = rankGraph.outerJoinVertices(contribs)((id, attr, c) =>
        (r10((if (bSrc.value(id)) reset else 0.0) + 0.85 * c.getOrElse(0.0)),
          attr._2)).cache()
      rankGraph.vertices.count()
      prev.unpersist(blocking = false)
    }
    rankGraph.vertices.mapValues((_, a) => a._1).toDF("id", "pr")
      .join(names, "id")
      .select(col("name").as("v"), round(col("pr"), 6).as("ppr"))
  }

  /** HITS (hubs & authorities), fixed iteration count over edges(src,
    * dst): auth(v) = Σ hub(u) over in-edges, hub(v) = Σ auth(w) over
    * out-edges, each side L1-NORMALIZED per round (sums through DECIMAL
    * so order can't shift them, then round-to-10 — the PageRank oracle
    * discipline). The norm is a 1-row broadcast, never a driver
    * round-trip; per round the edge table shuffles only against the
    * score side, exactly the [[pageRank]] shape. Returns (v, hub, auth)
    * rounded to 6. */
  def hits(edges: DataFrame, iterations: Int = 5): DataFrame = {
    val e = edges.select(col("src"), col("dst")).distinct()
      .repartition(col("src")).pin(eager = true)
    val verts = e.select(col("src").as("v"))
      .union(e.select(col("dst").as("v"))).distinct()
      .repartition(col("v")).pin(eager = true)
    def l1(df: DataFrame, c: String): DataFrame = {
      val n = df.agg(sum(col(c).cast("decimal(38,10)")).cast("double").as("_n"))
      df.crossJoin(broadcast(n))
        .select(col("v"), round(col(c) / col("_n"), 10).as(c))
    }
    var hub = verts.withColumn("hub", lit(1.0))
    var auth: DataFrame = verts.withColumn("auth", lit(1.0))
    for (i <- 1 to iterations) {
      auth = l1(verts.join(
          e.join(hub.withColumnRenamed("v", "src"), "src")
            .groupBy(col("dst").as("v"))
            .agg(round(sum(col("hub").cast("decimal(38,10)")).cast("double"),
              10).as("auth")),
          Seq("v"), "left")
        .select(col("v"), coalesce(col("auth"), lit(0.0)).as("auth")), "auth")
      hub = l1(verts.join(
          e.join(auth.withColumnRenamed("v", "dst"), "dst")
            .groupBy(col("src").as("v"))
            .agg(round(sum(col("auth").cast("decimal(38,10)")).cast("double"),
              10).as("hub")),
          Seq("v"), "left")
        .select(col("v"), coalesce(col("hub"), lit(0.0)).as("hub")), "hub")
      if (i % 4 == 0 && i < iterations) {
        hub = hub.pin(eager = true)
        auth = auth.pin(eager = true)
      }
    }
    hub.join(auth, "v")
      .select(col("v"), round(col("hub"), 6).as("hub"),
        round(col("auth"), 6).as("auth"))
  }

  /** GraphX scale path for [[hits]] — identical math (per-stage
    * round-to-10, L1 normalization, auth-then-hub order within a round),
    * so it shares q53's oracle exactly as [[pageRankGraphX]] shares
    * q10's. One graph carries (hub, auth); each half-round is one
    * aggregateMessages + one same-index outerJoinVertices, norms are
    * EXACT-decimal RDD folds (BigDecimal addition is associative and
    * commutative with no rounding, so partition order can't shift the
    * sum — the same decimal(38,10) discipline the DF twin's l1 uses;
    * a plain double .sum() would make the shared oracle gate depend on
    * reduction order near a 1e-10 rounding boundary), superseded graphs
    * unpersist as their successors materialize. */
  def hitsGraphX(spark: SparkSession, edges: DataFrame,
      iterations: Int = 5): DataFrame = {
    import org.apache.spark.graphx._
    import spark.implicits._
    def r10(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(10, java.math.RoundingMode.HALF_UP).doubleValue()
    // order-independent L1 norm: exact BigDecimal addition over the
    // r10-rounded values (valueOf(double) is the exact shortest-decimal
    // of an already-10-dp value), one double conversion at the end —
    // the same decimal discipline as the DF twin's l1; a plain double
    // .sum() would depend on reduction order near a rounding boundary
    def decSum(xs: org.apache.spark.rdd.RDD[Double]): Double =
      xs.map(java.math.BigDecimal.valueOf)
        .fold(java.math.BigDecimal.ZERO)(_ add _).doubleValue()
    val keyed = edges.select(
      xxhash64(col("src")).as("sid"), col("src"),
      xxhash64(col("dst")).as("did"), col("dst")).cache()
    val names = keyed.select(col("sid").as("id"), col("src").as("name"))
      .union(keyed.select(col("did"), col("dst"))).distinct().cache()
    val g = Graph.fromEdges(
      keyed.select(col("sid"), col("did")).as[(Long, Long)].rdd.distinct()
        .map { case (s, d) => Edge(s, d, ()) }, ())
      .partitionBy(PartitionStrategy.EdgePartition2D)
    var hg = g.mapVertices((_, _) => (1.0, 1.0)).cache() // (hub, auth)
    for (_ <- 1 to iterations) {
      val authRaw = hg.aggregateMessages[Double](
        ctx => ctx.sendToDst(ctx.srcAttr._1), _ + _).mapValues(r10 _)
      var mid = hg.outerJoinVertices(authRaw)((_, attr, a) =>
        (attr._1, a.getOrElse(0.0)))
      val an = decSum(mid.vertices.map(_._2._2))
      mid = mid.mapVertices((_, at) => (at._1, r10(at._2 / an))).cache()
      val hubRaw = mid.aggregateMessages[Double](
        ctx => ctx.sendToSrc(ctx.dstAttr._2), _ + _).mapValues(r10 _)
      var nxt = mid.outerJoinVertices(hubRaw)((_, attr, h) =>
        (h.getOrElse(0.0), attr._2))
      val hn = decSum(nxt.vertices.map(_._2._1))
      nxt = nxt.mapVertices((_, at) => (r10(at._1 / hn), at._2)).cache()
      nxt.vertices.count()
      val prev = hg
      hg = nxt
      mid.unpersist(blocking = false)
      prev.unpersist(blocking = false)
    }
    hg.vertices.toDF("id", "ha")
      .select(col("id"), col("ha._1").as("hub0"), col("ha._2").as("auth0"))
      .join(names, "id")
      .select(col("name").as("v"), round(col("hub0"), 6).as("hub"),
        round(col("auth0"), 6).as("auth"))
  }

  /** Eigenvector centrality by MAX-norm power iteration over in-edges
    * (x ← Aᵀx / max(Aᵀx)): Bonacich centrality, the influence pillar
    * PR/HITS don't cover (no damping, no mutual recursion). Max-norm
    * instead of the textbook L2 keeps every stage decimal-exact (an L2
    * norm's sqrt has rounding no SQL oracle can replay bit-for-bit):
    * in-sums route through DECIMAL(38,10) + round-to-10, the max is
    * exact over already-rounded values and broadcasts as ONE row (never
    * a driver round-trip) — the q53/HITS discipline, so the oracle
    * unrolls every round identically. An all-zero round (possible on a
    * DAG once mass drains) normalizes to 0, not null. Pass the
    * symmetrized edge list for undirected centrality. */
  def eigenvector(edges: DataFrame, iterations: Int = 3): DataFrame = {
    val e = edges.select(col("src"), col("dst")).distinct()
      .repartition(col("src")).pin(eager = true)
    val verts = e.select(col("src").as("v"))
      .union(e.select(col("dst").as("v"))).distinct()
      .repartition(col("v")).pin(eager = true)
    var x = verts.withColumn("score", lit(1.0))
    for (i <- 1 to iterations) {
      val raw = verts.join(
          e.join(x.withColumnRenamed("v", "src"), "src")
            .groupBy(col("dst").as("v"))
            .agg(round(sum(col("score").cast("decimal(38,10)")).cast("double"),
              10).as("s")),
          Seq("v"), "left")
        .select(col("v"), coalesce(col("s"), lit(0.0)).as("s"))
      val mx = raw.agg(max(col("s")).as("_mx"))
      x = raw.crossJoin(broadcast(mx))
        .select(col("v"), when(col("_mx") > 0,
          round(col("s") / col("_mx"), 10)).otherwise(lit(0.0)).as("score"))
      if (i % 4 == 0 && i < iterations) x = x.pin(eager = false)
    }
    x.select(col("v"), round(col("score"), 6).as("score"))
  }

  /** GraphX scale path for [[eigenvector]] — identical math (per-stage
    * round-to-10, max-norm; max over doubles is order-independent so no
    * decimal fold is needed, unlike the HITS L1 sums), shares the same
    * oracle. One graph, aggregateMessages per round, superseded graphs
    * unpersist as successors materialize. */
  def eigenvectorGraphX(spark: SparkSession, edges: DataFrame,
      iterations: Int = 3): DataFrame = {
    import org.apache.spark.graphx._
    import spark.implicits._
    def r10(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(10, java.math.RoundingMode.HALF_UP).doubleValue()
    val keyed = edges.select(
      xxhash64(col("src")).as("sid"), col("src"),
      xxhash64(col("dst")).as("did"), col("dst")).cache()
    val names = keyed.select(col("sid").as("id"), col("src").as("name"))
      .union(keyed.select(col("did"), col("dst"))).distinct().cache()
    val g = Graph.fromEdges(
      keyed.select(col("sid"), col("did")).as[(Long, Long)].rdd.distinct()
        .map { case (s, d) => Edge(s, d, ()) }, ())
      .partitionBy(PartitionStrategy.EdgePartition2D)
    var xg = g.mapVertices((_, _) => 1.0).cache()
    for (_ <- 1 to iterations) {
      val sums = xg.aggregateMessages[Double](
        ctx => ctx.sendToDst(ctx.srcAttr), _ + _).mapValues(r10 _)
      var nxt = xg.outerJoinVertices(sums)((_, _, s) => s.getOrElse(0.0))
      val mx = nxt.vertices.map(_._2).fold(0.0)(math.max)
      nxt = nxt.mapVertices((_, s) =>
        if (mx > 0) r10(s / mx) else 0.0).cache()
      nxt.vertices.count()
      val prev = xg
      xg = nxt
      prev.unpersist(blocking = false)
    }
    xg.vertices.toDF("id", "score0")
      .join(names, "id")
      .select(col("name").as("v"), round(col("score0"), 6).as("score"))
  }

  /** Newman modularity of a community assignment over the canonical
    * undirected edge list — the community-QUALITY score, the natural
    * consumer of [[labelPropagation]]'s output:
    * Q = Σ_c [ m_c/m − (d_c/2m)² ]. Computed via the decomposition
    * Q = (4·m·S1 − S2) / (4·m²) with S1 = within-community edge count
    * and S2 = Σ_c d_c² — every AGGREGATE is an exact integer count, so
    * the only floating point is one fixed-shape scalar expression over
    * three numbers, which IEEE-evaluates identically on any engine (no
    * order-dependent double summation, the HITS-norm lesson; doubles
    * rather than long products so 4·m² cannot overflow at any m). Two
    * label joins + two groupBys + three 1-row broadcasts; returns one
    * row (m, q). */
  def modularity(edges: DataFrame, communities: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val lab = communities.select(col("v"), col("community"))
    val s1Row = e
      .join(lab.select(col("v").as("src"), col("community").as("cs")), "src")
      .join(lab.select(col("v").as("dst"), col("community").as("cd")), "dst")
      .filter(col("cs") === col("cd"))
      .agg(count(lit(1)).as("s1"))
    val deg = e.select(col("src").as("v"))
      .unionByName(e.select(col("dst").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val s2Row = lab.join(deg, "v")
      .groupBy("community").agg(sum(col("deg")).as("d_c"))
      .agg(sum(col("d_c") * col("d_c")).as("s2"))
    val mRow = e.agg(count(lit(1)).as("m"))
    s1Row.crossJoin(broadcast(s2Row)).crossJoin(broadcast(mRow))
      .select(col("m"),
        round(
          (lit(4.0) * col("m") * col("s1") - col("s2")) /
            (lit(4.0) * col("m") * col("m")), 6).as("q"))
  }

  /** Synchronous label-propagation communities over the undirected view
    * of edges(src, dst): every vertex starts as its own label; each round
    * every vertex adopts the modal label among its neighbors, ties broken
    * deterministically by (max count, then MIN label) — the tie rule that
    * makes LPA reproducible across engines and run orders (stock LPA's
    * random tie-break is neither). Fixed iteration count (synchronous LPA
    * may oscillate on bipartite structures; a fixed unroll is
    * deterministic regardless, and the oracle replays the identical
    * rounds). Each round: one edge⋈label join + a per-vertex windowed
    * argmax — partition-by-vertex, never a single reducer. Returns
    * (v, community). */
  def labelPropagation(edges: DataFrame, iterations: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // distinct, unlike connectedComponents: LPA counts neighbor votes, so
    // a duplicated edge would genuinely change the modal label
    val und = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .repartition(col("dst")).pin(eager = false)
    var labels = und.select(col("src").as("v")).distinct()
      .withColumn("c", col("v"))
    val w = Window.partitionBy("v").orderBy(col("cnt").desc, col("c"))
    for (i <- 1 to iterations) {
      val cnts = und.join(labels.select(col("v").as("dst"), col("c")), "dst")
        .groupBy(col("src").as("v"), col("c"))
        .agg(count(lit(1)).as("cnt"))
      labels = cnts.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("v"), col("c"))
      if (i % 4 == 0 && i < iterations) labels = labels.pin(eager = false)
    }
    labels.select(col("v"), col("c").as("community"))
  }

  /** GraphX scale path for [[labelPropagation]] — SYNCHRONOUS modal-label
    * rounds via aggregateMessages with the SAME deterministic
    * (max count, min label) tie-break, so per-round labels are identical
    * to the DataFrame loop and the two share one oracle. (graphx.lib
    * .LabelPropagation is NOT used: its Pregel variant halts vertices
    * that receive no messages and breaks ties differently — the
    * documented reason r6 had no LPA twin.) Edges must be Long-keyed.
    * Messages are per-neighbor label singletons merged into bounded
    * count maps; state is one Long per vertex. */
  def labelPropagationGraphX(spark: SparkSession, edges: DataFrame,
      iterations: Int = 4): DataFrame = {
    import org.apache.spark.graphx.{Edge, Graph}
    import spark.implicits._
    // both directions + distinct, exactly like the DataFrame loop (LPA
    // counts votes, so a duplicate edge would change the mode)
    val und = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .union(edges.select(col("dst").cast("long"), col("src").cast("long")))
      .distinct()
    // each round's graph is cached and materialized before the previous
    // one is dropped: without the cache, round i's aggregateMessages AND
    // outerJoinVertices each re-evaluate the whole chain below them —
    // ~2× recompute per level, 2^k over the unroll (the same fix as
    // [[pageRankGraphX]]'s one-graph iteration)
    var g = Graph.fromEdges(
      und.as[(Long, Long)].rdd.map { case (s, d) => Edge(s, d, ()) },
      defaultValue = 0L)
      .partitionBy(org.apache.spark.graphx.PartitionStrategy.EdgePartition2D)
      .mapVertices((id, _) => id).cache()
    for (_ <- 1 to iterations) {
      val votes = g.aggregateMessages[Map[Long, Long]](
        ctx => ctx.sendToDst(Map(ctx.srcAttr -> 1L)),
        (a, b) => (a.keySet ++ b.keySet).iterator
          .map(k => k -> (a.getOrElse(k, 0L) + b.getOrElse(k, 0L))).toMap)
      val prev = g
      g = g.outerJoinVertices(votes) { (_, old, opt) =>
        opt.map { m =>
          val mx = m.values.max
          m.collect { case (l, c) if c == mx => l }.min
        }.getOrElse(old)
      }.cache()
      g.vertices.count()
      prev.unpersist(blocking = false)
    }
    g.vertices.toDF("v", "community")
  }

  /** Bounded-hop weighted shortest paths (min-plus / Bellman-Ford): the
    * exact distance from `source` over at most `rounds` relaxation
    * rounds — the hop-cutoff variant a cluster actually runs (full
    * Bellman-Ford is |V|-1 rounds; a bounded unroll is replayable and
    * the common "within k hops" product semantics). Integer weights →
    * exact integer distances, no float hazard; each round is one
    * edge⋈state equi-join + a min groupBy against the pre-partitioned
    * edge table (q34's shuffle shape). Returns (v, dist) for vertices
    * reached within the bound. */
  def weightedShortestPaths(edges: DataFrame, source: Long,
      rounds: Int = 6): DataFrame = {
    val e = edges.select(col("src"), col("dst"), col("w"))
      .repartition(col("src")).pin(eager = false)
    // delta Bellman-Ford: only rows that IMPROVED last round relax this
    // round. A vertex whose distance did not change re-derives exactly the
    // candidates it already produced, so skipping it loses nothing — the
    // bound after k rounds is still the exact min over ≤k-edge paths, and
    // integer weights keep it oracle-exact. The improved set is
    // checkpointed per round (small, and the plan would otherwise nest);
    // the merge into the full table is one |V|-sized min groupBy.
    var st = e.sparkSession.range(1)
      .select(lit(source).as("v"), lit(0L).as("dist"))
      .pin(eager = true)
    var frontier = st
    var i = 1
    var done = false
    while (i <= rounds && !done) {
      val relax = e.join(frontier.withColumnRenamed("v", "src"), "src")
        .groupBy(col("dst").as("v"))
        .agg(min(col("dist") + col("w")).as("cand"))
      val improved = relax.join(st, Seq("v"), "left")
        .filter(col("dist").isNull || col("cand") < col("dist"))
        .select(col("v"), col("cand").as("dist"))
        .pin(eager = false)
      // one job: materializes the round's improved set AND probes the
      // fixpoint (r19 job-count pass)
      if (improved.count() == 0) done = true
      else {
        st = st.unionByName(improved).groupBy(col("v"))
          .agg(min(col("dist")).as("dist"))
          .pin(eager = false)
        frontier = improved
        i += 1
      }
    }
    st
  }

  /** Connected components via iterated label propagation (min-id wins),
    * on the UNDIRECTED view of edges(src, dst). Deterministic; converges
    * in O(diameter) iterations. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20,
      localThreshold: Int = Bounded.Session): DataFrame = {
    localUnionFind(edges, localThreshold).foreach(return _)
    val und = undirectedView(edges)
    ccFrom(und, und.select(col("src").as("v")).distinct()
      .withColumn("component", col("v")), maxIter)
  }

  /** Driver union-find for the CC arms when `edges` (src, dst) fits the
    * session budget ([[Bounded.take]]; `k` as in [[localEdges]]):
    * (v, component) with component = class minimum, exactly the
    * fixpoint of both the min-label propagation loop and the Pregel
    * twin's component-min relabel, in the key type of `edges` (string
    * corpus keys, longs in specs). A session budget of 0 forces the
    * distributed arms. */
  private def localUnionFind(edges: DataFrame,
      k: Int = Bounded.Session): Option[DataFrame] = {
    val e = edges.select(col("src"), col("dst"))
    Bounded.take(e, k)(r => (r.get(0), r.get(1))).map { pairs =>
      val vt = e.schema.head.dataType
      val rows = unionFindMin(pairs).toSeq
        .map { case (a, b) => org.apache.spark.sql.Row(a, b) }
      edges.sparkSession.createDataFrame(
        new java.util.ArrayList(
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("v", vt),
          org.apache.spark.sql.types.StructField("component", vt))))
    }
  }

  /** Incremental CC by CONTRACTION — the D5 carry-forward discipline
    * applied to analytics: after edges were added, map every edge to
    * its endpoints' PREVIOUS labels (`prev`: (v, component); new
    * vertices self-seed), keep only the non-self label pairs — the
    * component-level graph, which is TINY (one node per touched old
    * component, edges only where a new edge actually bridges) — run CC
    * there, and relabel. Total cost is ONE edge-table double-join plus
    * a CC on the contracted graph, instead of re-propagating across
    * the full graph's diameter (the naive re-seed converged barely
    * faster than from scratch: label chains still crossed the whole
    * component graph hop by hop over full-size rounds). A previous
    * label is the min vertex id of its old component and the
    * contracted CC takes min over merged label sets, so the result
    * provably EQUALS the full recomputation — the gate shares q11's
    * oracle. */
  def connectedComponentsIncremental(edges: DataFrame, prev: DataFrame,
      maxIter: Int = 20): DataFrame = {
    // DIRECTED edges suffice here (r13 — the q59 drift fix): the label
    // mapping only needs each edge's endpoint pair once, and the
    // contracted graph is re-undirected inside ccFrom anyway. The old
    // undirectedView() spelling shuffled + checkpointed a 2|E|-row
    // table before the contraction even started — a full extra pass of
    // the big table for zero semantic effect.
    val e1 = edges.select(col("src"), col("dst"))
    val seed = e1.select(col("src").as("v"))
      .union(e1.select(col("dst").as("v"))).distinct()
      .join(prev.select(col("v"), col("component").as("_p")), Seq("v"), "left")
      .withColumn("component", coalesce(col("_p"), col("v")))
      .drop("_p")
      .pin(eager = false)
    val contracted = e1
      .join(seed.select(col("v").as("src"), col("component").as("cs")), "src")
      .join(seed.select(col("v").as("dst"), col("component").as("cd")), "dst")
      .filter(col("cs") =!= col("cd"))
      .select(col("cs").as("src"), col("cd").as("dst"))
      .distinct()
      .pin(eager = true)
    // merge classes over the contracted label graph — delta-bounded by
    // the incremental premise, so a driver-local UNION-FIND kernel
    // (min-label union, the q77 Tarjan-probe discipline: bounded
    // limit(k+1) probe, distributed fallback above it, identical labels
    // either way) replaces rounds of checkpointed fixpoint jobs whose
    // per-round overhead dominated at this graph size (r13).
    val merged = localUnionFind(contracted).getOrElse(
      ccFrom(undirectedView(contracted),
        contracted.select(col("src").as("v"))
          .union(contracted.select(col("dst").as("v"))).distinct()
          .withColumn("component", col("v")), maxIter))
    // merged: (v = old label, component = new min label) → relabel
    seed
      .join(broadcast(merged
          .select(col("v").as("component"), col("component").as("_m"))),
        Seq("component"), "left")
      .select(col("v"), coalesce(col("_m"), col("component")).as("component"))
  }

  /** Driver-local min-label union-find over a (bounded) edge list: the
    * connected-component kernel of the contracted label graph. Returns
    * every touched label mapped to its class MINIMUM — exactly what the
    * distributed min-label fixpoint converges to on the same graph. */
  private[enrich] def unionFindMin(
      edgeList: Array[(Any, Any)]): Map[Any, Any] = {
    // labels are Comparable at runtime whatever the column type
    // (String / java.lang.Long / Integer) — min-union compares natively
    def lt(a: Any, b: Any): Boolean =
      a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) {
        val n = parent(c); parent(c) = r; c = n
      }
      r
    }
    edgeList.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        // union by MIN label so every root is its class minimum
        if (lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
      }
    }
    val touched = edgeList.iterator.flatMap(p => Iterator(p._1, p._2)).toSet
    touched.iterator.map(v => v -> find(v)).toMap
  }

  // pre-partitioned on the iteration join key: each round shuffles only
  // the (small) label table, never the edge table. NO distinct() on the
  // undirected view: duplicate edges cannot change a min() aggregation,
  // and the dedup was a full extra shuffle of the edge table (r6)
  private def undirectedView(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("src")).pin(eager = false)

  private def ccFrom(und: DataFrame, labels0: DataFrame,
      maxIter: Int): DataFrame = {
    var labels = labels0
    // one min-label propagation hop; extra columns (the _old carry) ride
    // along untouched
    def step(df: DataFrame): DataFrame = {
      val prop = und
        .join(df.select(col("v").as("src"), col("component")), "src")
        .groupBy(col("dst").as("v"))
        .agg(min(col("component")).as("_nm"))
      df.join(prop, Seq("v"), "left")
        .withColumn("component",
          least(col("component"), coalesce(col("_nm"), col("component"))))
        .drop("_nm")
    }
    var changed = 1L
    var i = 0
    while (i < maxIter && changed > 0) {
      // THREE hops per materialization: the checkpoint+count cost (the
      // per-round fixed overhead that dominates on a graph this shape) is
      // paid a third as often, and the fixpoint (what the oracle's
      // unrolled propagation reaches) is stepping-invariant. The _old
      // carry makes convergence a filter-count over the checkpointed
      // result, not a second full-table join.
      val next = step(step(step(labels.withColumn("_old", col("component")))))
        .pin(eager = false)
      changed = next.filter(col("component") =!= col("_old")).count()
      labels = next.drop("_old")
      i += 3
    }
    labels
  }

  /** Greedy MAXIMAL MATCHING by deterministic edge priorities — the
    * parallel matching primitive (Luby-style symmetry breaking, the
    * Blelloch/Fineman/Shun greedy-MIS family): per round, an edge joins
    * the matching iff its priority key is the MINIMUM among all edges
    * at BOTH endpoints; matched vertices and their incident edges drop,
    * and the loop repeats until no edges remain. The priority is a
    * scrambled integer hash with the full (h, src, dst) tuple as the
    * comparison key, so ties are impossible, the result is
    * deterministic (≡ sequential greedy in priority order), and rounds
    * are O(log m) in expectation under the pseudo-random h. Useful as
    * the pairing step of coarsening/partitioning and dedup-pair
    * assignment.
    *
    * Shape per round: two groupBy-min passes over the remaining edge
    * set + an equi-join back and two anti-joins — every step keyed, no
    * all-pairs, frontier shrinks geometrically; localCheckpoint per
    * round keeps the plan flat. */
  def maximalMatching(edges: DataFrame, maxRounds: Int = 15): DataFrame = {
    // the default matches the q65 oracle's 15-round unroll exactly: a
    // graph needing more rounds fails the require below LOUDLY instead
    // of silently returning matches the oracle never unions
    val P = 2147483647L
    val spark = edges.sparkSession
    var rem = edges.select(col("src"), col("dst"))
      .filter(col("src") < col("dst"))
      .withColumn("h",
        ((col("src") * 999983L + col("dst") * 2654435761L) % 1000003L) *
          ((col("src") * 999983L + col("dst") * 2654435761L) % 1000003L) % P)
      .pin(eager = false)
    var matched = spark.range(0)
      .select(col("id").as("src"), col("id").as("dst"))
    var round = 0
    var n = rem.count()
    while (n > 0 && round < maxRounds) {
      def key = struct(col("h"), col("src"), col("dst"))
      val minV = rem.select(col("src").as("v"), key.as("k"))
        .unionByName(rem.select(col("dst").as("v"), key.as("k")))
        .groupBy("v").agg(min(col("k")).as("mv"))
      val m = rem
        .join(minV.select(col("v").as("src"), col("mv").as("ms")), "src")
        .join(minV.select(col("v").as("dst"), col("mv").as("md")), "dst")
        .filter(key === col("ms") && key === col("md"))
        .select(col("src"), col("dst"))
        .pin(eager = false)
      matched = matched.unionByName(m).pin(eager = false)
      val mv = m.select(col("src").as("v"))
        .unionByName(m.select(col("dst").as("v")))
      rem = rem
        .join(mv.select(col("v").as("src")), Seq("src"), "left_anti")
        .join(mv.select(col("v").as("dst")), Seq("dst"), "left_anti")
        .pin(eager = false)
      // r19: ONE job/round — rem's count materializes m and rem; the
      // matched chain stays lazy until the final action
      n = rem.count()
      round += 1
    }
    require(n == 0, s"maximalMatching: $n edges left after $maxRounds rounds")
    matched
  }

  /** 2-approximate minimum VERTEX COVER (Gavril's classical bound): the
    * endpoints of any maximal matching cover every edge (an uncovered
    * edge could still be matched — contradiction) and number at most
    * 2·OPT (any cover must hit each matched edge separately). Rides
    * [[maximalMatching]]'s deterministic priorities, so the cover is
    * replayable; one distinct over the matched endpoint set. */
  def vertexCover2Approx(edges: DataFrame, maxRounds: Int = 15)
      : DataFrame = {
    val m = maximalMatching(edges, maxRounds)
    m.select(col("src").as("v"))
      .unionByName(m.select(col("dst").as("v")))
      .distinct()
  }

  /** Deterministic greedy MAXIMAL INDEPENDENT SET (Luby 1986, the
    * rootfinding/symmetry-breaking primitive behind coloring, coarsening
    * and landmark selection): per round a vertex joins the MIS iff its
    * priority key is strictly smaller than EVERY remaining neighbor's
    * key; MIS vertices and their whole neighborhoods drop, and the loop
    * repeats until no vertices remain. The key is the (scrambled-hash,
    * id) tuple — ties impossible, so the result is deterministic
    * (≡ sequential greedy in priority order), engine-portable, and the
    * round count is O(log n) in expectation under the pseudo-random h.
    *
    * Shape per round: one neighbor-min groupBy over the remaining edge
    * set + a left join back, one neighborhood expansion keyed on the
    * (geometrically shrinking) winner set, two semi-joins to trim the
    * edge frontier — every step keyed, no all-pairs; localCheckpoint
    * keeps plans flat. Isolated remainders (null neighbor-min) join
    * unconditionally, guaranteeing termination. */
  def maximalIndependentSet(edges: DataFrame, maxRounds: Int = 15)
      : DataFrame = {
    // 15 matches the q67 oracle's unroll: a graph needing more rounds
    // fails the require below loudly rather than under-returning
    val P = 2147483647L
    val spark = edges.sparkSession
    val dir = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
    var und = dir.unionByName(
        dir.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().pin(eager = false)
    var verts = und.select(col("src").as("v")).distinct()
      .withColumn("h",
        ((col("v") * 999983L + 2654435761L) % 1000003L) *
          ((col("v") * 999983L + 2654435761L) % 1000003L) % P)
      .pin(eager = false)
    var mis = spark.range(0).select(col("id").as("v"))
    var round = 0
    var n = verts.count()
    while (n > 0 && round < maxRounds) {
      val k = struct(col("h"), col("v"))
      val nbrMin = und
        .join(verts.select(col("v").as("src"), k.as("k")), "src")
        .groupBy(col("dst").as("v")).agg(min(col("k")).as("nk"))
      val win = verts.join(nbrMin, Seq("v"), "left")
        .filter(col("nk").isNull || k < col("nk"))
        .select("v").pin(eager = true)
      mis = mis.unionByName(win).pin(eager = false)
      val drop = win.unionByName(
        und.join(win.select(col("v").as("src")), "src")
          .select(col("dst").as("v"))).distinct()
      verts = verts.join(drop, Seq("v"), "left_anti")
        .pin(eager = false)
      und = und
        .join(verts.select(col("v").as("src")), Seq("src"), "left_semi")
        .join(verts.select(col("v").as("dst")), Seq("dst"), "left_semi")
        .select(col("src"), col("dst")).pin(eager = false)
      // r19: ONE job/round — verts' count pulls win/verts with it; the
      // trimmed edge set and the mis chain materialize lazily downstream
      n = verts.count()
      round += 1
    }
    require(n == 0, s"maximalIndependentSet: $n vertices left after " +
      s"$maxRounds rounds")
    mis
  }

  /** Full k-core DECOMPOSITION — coreness per vertex — by h-index
    * iteration (Montresor, De Pellegrini & Miorandi 2013, the
    * distributed coreness algorithm): start from degree and repeatedly
    * set `est(v) ← min(est(v), H(neighbor ests))` where H is the
    * h-index (`max over desc-rank r of min(r, est_r)`); the fixpoint is
    * exactly the peeling number k-core(v) that [[kTruss]]-style
    * cascading peels would compute, without any sequential peel.
    *
    * Shape per round: one est join onto the edge list + a
    * vertex-PARTITIONED rank window + a groupBy max — all distributed,
    * no global sort; ests are monotone non-increasing so convergence is
    * a change-count. Round budget loud-require'd and matched by the
    * oracle's unroll (sf0.01 converges in 10; the dense little
    * sf0.001 graph — coreness 15 — cascades for 21). */
  def coreness(edges: DataFrame, maxRounds: Int = 26): DataFrame = {
    val dir = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
    val und = dir.unionByName(
        dir.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().pin(eager = false)
    var est = und.groupBy(col("src").as("v"))
      .agg(count(lit(1)).as("est")).pin(eager = false)
    var round = 0
    var changed = 1L
    while (changed > 0 && round < maxRounds) {
      // r19: ONE job/round — the change-probe count materializes the
      // lazily pinned round; the narrow select below re-reads the SAME
      // pinned blocks, so no second checkpoint is needed
      val next = est.join(corenessRound(und, est), "v")
        .select(col("v"), col("est"),
          least(col("est"), col("h")).as("_new"))
        .pin(eager = false)
      changed = next.filter(col("_new") =!= col("est")).count()
      est = next.select(col("v"), col("_new").as("est"))
      round += 1
    }
    require(changed == 0,
      s"coreness: not converged after $maxRounds rounds")
    est.select(col("v"), col("est").cast("long").as("coreness"))
  }

  /** One h-index round: each vertex's h over its neighbors' current
    * estimates, via a vertex-PARTITIONED rank window (exposed so the
    * plan gate can pin the distribution — the loop's localCheckpoints
    * hide it from the final plan). */
  private[graft] def corenessRound(und: DataFrame, est: DataFrame)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("v").orderBy(col("e").desc)
    und.join(est.select(col("v").as("src"), col("est").as("e")), "src")
      .select(col("dst").as("v"), col("e"))
      .withColumn("rn", row_number().over(w))
      .groupBy("v").agg(max(least(col("rn"), col("e"))).as("h"))
  }

  /** Boruvka MINIMUM SPANNING FOREST (Boruvka 1926; the textbook
    * distributed MST) — per round every component selects its minimum
    * outgoing edge under the total key (weight, src, dst) (ties
    * impossible, so the forest is unique and ≡ Kruskal under the same
    * tie-break), selected edges join the forest, and touched components
    * merge by min-label propagation over the (tiny) component-merge
    * graph; components at least halve per round, so rounds are
    * O(log n).
    *
    * Shape per round: two comp-label joins + one groupBy-min pick the
    * edges; the merge propagation runs on the COMPONENT graph (≤ #comps
    * nodes — geometrically shrinking, never the raw edge set). Both the
    * round count and the per-round propagation depth are bounded by
    * explicit budgets with LOUD require failures (the q65/q67/q68
    * discipline), matched by the oracle's unroll. */
  def boruvkaMsf(edges: DataFrame, maxRounds: Int = 6,
      propHops: Int = 12): DataFrame = {
    val spark = edges.sparkSession
    val e0 = edges.select(
        least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"), col("weight"))
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(min(col("weight")).as("weight"))
      .pin(eager = false)
    var comp = e0.select(col("src").as("v"))
      .unionByName(e0.select(col("dst").as("v"))).distinct()
      .withColumn("comp", col("v")).pin(eager = true)
    var forest = spark.range(0).select(col("id").as("src"),
      col("id").as("dst"), col("id").as("weight"))
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      val ec = e0
        .join(comp.select(col("v").as("src"), col("comp").as("ca")), "src")
        .join(comp.select(col("v").as("dst"), col("comp").as("cb")), "dst")
        .filter(col("ca") =!= col("cb")).pin(eager = false)
      if (ec.count() == 0) done = true
      else {
        val k = struct(col("weight"), col("src"), col("dst"))
        val sides = ec.select(col("ca").as("c"), k.as("k"), col("cb").as("oc"))
          .unionByName(
            ec.select(col("cb").as("c"), k.as("k"), col("ca").as("oc")))
        val best = sides
          .groupBy("c").agg(min(struct(col("k"), col("oc"))).as("m"))
          .select(col("c"), col("m.k.src").as("src"),
            col("m.k.dst").as("dst"), col("m.k.weight").as("weight"),
            col("m.oc").as("oc"))
          .pin(eager = true)
        forest = forest.unionByName(
            best.select(col("src"), col("dst"), col("weight")).distinct())
          .pin(eager = false)
        // merge the touched components: min-label propagation over the
        // component-merge graph (size ≤ #components, not the edge set)
        val mg0 = best.select(col("c").as("a"), col("oc").as("b"))
        val mg = mg0.unionByName(
            mg0.select(col("b").as("a"), col("a").as("b")))
          .distinct().pin(eager = true)
        // merge-class labels: the bounded driver union-find kernel (r13,
        // the q59 discipline — the merge graph has ≤ one pair per
        // component, so from round 1 on it is far below the threshold
        // even at cluster scale); distributed min-label propagation is
        // the fallback above it, identical labels (class minimum)
        val lbl: DataFrame = localUnionFind(
            mg.select(col("a").as("src"), col("b").as("dst")))
          .map(_.toDF("c", "lbl")).getOrElse {
          var l0 = mg.select(col("a").as("c")).distinct()
            .withColumn("lbl", col("c")).pin(eager = false)
          // THREE hops per materialization (the ccFrom amortization):
          // the checkpoint+count overhead dominates on the tiny comp
          // graph, and the fixpoint is stepping-invariant
          def hop(df: DataFrame): DataFrame = {
            val prop = mg.join(df.select(col("c").as("a"), col("lbl")), "a")
              .groupBy(col("b").as("c")).agg(min(col("lbl")).as("nl"))
            df.join(prop, Seq("c"), "left")
              .withColumn("lbl",
                least(col("lbl"), coalesce(col("nl"), col("lbl"))))
              .drop("nl")
          }
          var hops = 0
          var changed = 1L
          while (changed > 0 && hops < propHops) {
            val next = hop(hop(hop(l0.withColumn("_old", col("lbl")))))
              .pin(eager = false)
            changed = next.filter(col("lbl") =!= col("_old")).count()
            l0 = next.drop("_old")
            hops += 3
          }
          require(changed == 0, s"boruvkaMsf: merge propagation not " +
            s"converged after $propHops hops (round $round)")
          l0
        }
        comp = comp
          .join(lbl.select(col("c").as("comp"), col("lbl")), Seq("comp"),
            "left")
          .withColumn("comp", coalesce(col("lbl"), col("comp")))
          .drop("lbl").pin(eager = true)
        round += 1
      }
    }
    if (!done) {
      // the budget ran out exactly at convergence iff no cross-component
      // edge survives — check before declaring failure
      val rem = e0
        .join(comp.select(col("v").as("src"), col("comp").as("ca")), "src")
        .join(comp.select(col("v").as("dst"), col("comp").as("cb")), "dst")
        .filter(col("ca") =!= col("cb")).count()
      require(rem == 0, s"boruvkaMsf: $rem cross-component edges remain " +
        s"after $maxRounds rounds")
    }
    forest
  }

  /** Jones-Plassmann greedy GRAPH COLORING (Jones & Plassmann 1993) —
    * the parallel vertex coloring behind conflict-free scheduling,
    * register-allocation-style partitioning and parallel Gauss-Seidel:
    * per round an uncolored vertex whose (hash, id) priority is the
    * LOCAL MAX among uncolored neighbors picks the smallest color absent
    * from its already-colored neighborhood. Same-round winners are never
    * adjacent (two adjacent vertices can't both be local maxima), so
    * parallel assignment is conflict-free; rounds = the longest
    * decreasing-priority path, O(log n) w.h.p. under the scrambled hash.
    *
    * Shape per round: one neighbor-max groupBy + a left join back picks
    * winners; the smallest-free-color is a bounded explode (0..deg per
    * winner — Σ(deg+1) ≤ m + n per round, never quadratic) anti-joined
    * against colored-neighbor colors. Fully deterministic: the greedy
    * is a pure function of the priorities. */
  def jpColoring(edges: DataFrame, maxRounds: Int = 18): DataFrame = {
    // 18 matches the q68 oracle's unroll (sf0.01 needs 13 — dense
    // co-purchase cliques chain priorities; sf0.1 needs 5); a graph
    // needing more fails the require below loudly
    val P = 2147483647L
    val spark = edges.sparkSession
    val dir = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
    val und = dir.unionByName(
        dir.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().pin(eager = false)
    val deg = und.groupBy(col("src").as("v")).agg(count(lit(1)).as("deg"))
      .pin(eager = false)
    var unc = und.select(col("src").as("v")).distinct()
      .withColumn("h",
        ((col("v") * 999983L + 2654435761L) % 1000003L) *
          ((col("v") * 999983L + 2654435761L) % 1000003L) % P)
      .pin(eager = false)
    var colored = spark.range(0)
      .select(col("id").as("v"), col("id").cast("int").as("color"))
    var round = 0
    var n = unc.count()
    while (n > 0 && round < maxRounds) {
      val k = struct(col("h"), col("v"))
      val nbrMax = und
        .join(unc.select(col("v").as("src"), k.as("k")), "src")
        .groupBy(col("dst").as("v")).agg(max(col("k")).as("nk"))
      val win = unc.join(nbrMax, Seq("v"), "left")
        .filter(col("nk").isNull || k > col("nk"))
        .select("v").pin(eager = false)
      // r19 (guide §2.4): smallest-free-color as ONE collect_set
      // aggregate + a pure array expression — min over 0..deg values
      // absent from the neighbor-color set (non-empty by pigeonhole).
      // The explode + (v,color) anti-join + min-groupBy spelling paid
      // three extra exchanges per round for the same value.
      val nbrColors = und.join(win.select(col("v").as("src")), "src")
        .join(colored.select(col("v").as("dst"), col("color")), "dst")
        .groupBy(col("src").as("v"))
        .agg(collect_set(col("color")).as("nc"))
      val newColors = win.join(deg, Seq("v"), "left")
        .join(nbrColors, Seq("v"), "left")
        .select(col("v"),
          array_min(filter(
            sequence(lit(0), coalesce(col("deg").cast("int"), lit(0))),
            c => !array_contains(
              coalesce(col("nc"), array().cast("array<int>")), c)))
            .cast("int").as("color"))
      // colored is eager: next round's nbrColors join AND the union
      // branch both read it — lazy pins recomputed the chain
      // concurrently level by level (r19 A/B). win rides in its job.
      colored = colored.unionByName(newColors)
        .pin(eager = true)
      unc = unc.join(win, Seq("v"), "left_anti")
        .pin(eager = false)
      // fused probe: unc's count also materializes win and unc
      n = unc.count()
      round += 1
    }
    require(n == 0, s"jpColoring: $n vertices uncolored after " +
      s"$maxRounds rounds")
    colored
  }

  /** GraphX scale path for [[maximalIndependentSet]] — identical
    * priorities and round semantics (so it shares q67's oracle), with
    * iteration state in GraphX vertex attrs (0 = active, 1 = in MIS,
    * 2 = removed) instead of re-materialized DataFrames: per round one
    * aggregateMessages carries active-neighbor min keys, a second
    * broadcasts winner removal — the [[pageRankGraphX]] posture for
    * clusters where the frontier loop's per-round checkpoint overhead
    * dominates. */
  def maximalIndependentSetGraphX(spark: SparkSession, edges: DataFrame,
      maxRounds: Int = 15): DataFrame = {
    import org.apache.spark.graphx.{Edge, Graph}
    import spark.implicits._
    val P = 2147483647L
    def keyOf(v: Long): (Long, Long) = {
      val s = (v * 999983L + 2654435761L) % 1000003L
      (s * s % P, v)
    }
    def lt(a: (Long, Long), b: (Long, Long)) =
      a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)
    val rdd = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).as[(Long, Long)].rdd
      .flatMap { case (a, b) => Seq(Edge(a, b, ()), Edge(b, a, ())) }
    var g = Graph.fromEdges(rdd, 0).cache()
    var round = 0
    var active = g.vertices.filter(_._2 == 0).count()
    while (active > 0 && round < maxRounds) {
      val nbrMin = g.aggregateMessages[(Long, Long)](
        ctx => if (ctx.srcAttr == 0 && ctx.dstAttr == 0)
          ctx.sendToDst(keyOf(ctx.srcId)),
        (a, b) => if (lt(a, b)) a else b)
      val marked = g.outerJoinVertices(nbrMin) { (id, st, nm) =>
        if (st == 0 && nm.forall(m => lt(keyOf(id), m))) 1 else st
      }.cache()
      val drop = marked.aggregateMessages[Int](
        ctx => if (ctx.srcAttr == 1 && ctx.dstAttr == 0) ctx.sendToDst(2),
        (a, _) => a)
      val next = marked.outerJoinVertices(drop) { (_, st, d) =>
        if (st == 0 && d.isDefined) 2 else st
      }.cache()
      active = next.vertices.filter(_._2 == 0).count()
      g = next
      round += 1
    }
    require(active == 0, s"maximalIndependentSetGraphX: $active vertices " +
      s"left after $maxRounds rounds")
    g.vertices.filter(_._2 == 1).map(_._1).toDF("v")
  }

  /** Deterministic random walks — the DeepWalk/node2vec corpus
    * generator (Perozzi et al. 2014; Grover & Leskovec 2016): `walks`
    * walks of `steps` steps from every vertex of an undirected BIGINT
    * graph. The "random" next hop is an ARGMIN over a keyed integer
    * hash `h(cur, walk, step, nbr) mod p` (p = 2³¹−1, intermediates
    * < 2⁶³) with (h, nbr) tie-break — fully deterministic, so walks
    * are retry-stable, engine-portable, and oracle-replayable, while
    * distributing like uniform sampling (each neighbor's key is an
    * independent hash).
    *
    * Shape: per step, ONE hash join of the (vertex × walk)-sized
    * frontier against the src-partitioned edge table plus a groupBy
    * argmin (`min(struct(h, nbr))` — no per-group sort), never a
    * corpus-wide window. Walk count and length are constants, so the
    * plan is `steps` joins deep with the frontier bounded at
    * |V|·walks rows — the shape that holds when V is 10⁹. Output:
    * (start_id, walk, step, node), step 0 = the start itself. */
  def deterministicWalks(edges: DataFrame, walks: Int = 2,
      steps: Int = 4): DataFrame = {
    require(walks >= 1 && steps >= 0, "walks >= 1, steps >= 0")
    val P = 2147483647L
    val und = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("src")).pin(eager = true)
    var frontier = und.select(col("src").as("start_id")).distinct()
      .select(col("start_id"),
        explode(sequence(lit(0L), lit(walks - 1L))).as("walk"))
      .select(col("start_id"), col("walk"), col("start_id").as("node"))
    var out = frontier.select(col("start_id"), col("walk"),
      lit(0L).as("step"), col("node"))
    var st = 1
    while (st <= steps) {
      val h = (col("src") * 1000003L + col("walk") * 8191L +
        lit(st.toLong) * 131071L + col("dst") * 31L) % P
      frontier = frontier
        .join(und, frontier("node") === und("src"))
        .groupBy(col("start_id"), col("walk"))
        .agg(min(struct(h.as("h"), col("dst").as("node"))).as("_m"))
        .select(col("start_id"), col("walk"), col("_m.node").as("node"))
      out = out.unionByName(frontier.select(col("start_id"), col("walk"),
        lit(st.toLong).as("step"), col("node")))
      st += 1
    }
    out
  }

  /** Rich-club coefficient φ(k) = 2·E_k / (N_k·(N_k−1)) over canonical
    * `src < dst` undirected edges, for each threshold k: N_k = nodes
    * with degree > k, E_k = edges with BOTH endpoint degrees > k.
    * Scale shape: one degree agg + one edge↔degree double join reduce
    * everything to two tiny histograms (distinct degrees / distinct
    * edge min-degrees); the k list joins against those, so adding
    * thresholds never re-scans edges. φ is exact integer ppm (floor) —
    * no float crosses an oracle. Thresholds with N_k < 2 are dropped
    * (φ undefined). */
  def richClub(edges: DataFrame, ks: Seq[Long]): DataFrame = {
    val und = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
    val deg = und.groupBy(col("src").as("v")).agg(count(lit(1)).as("deg"))
    val em = edges
      .join(deg.select(col("v").as("src"), col("deg").as("da")), "src")
      .join(deg.select(col("v").as("dst"), col("deg").as("db")), "dst")
      .select(least(col("da"), col("db")).as("md"))
      .groupBy("md").agg(count(lit(1)).as("ec"))
    val nd = deg.groupBy("deg").agg(count(lit(1)).as("nc"))
    val kdf = edges.sparkSession.range(1)
      .select(explode(array(ks.map(lit(_)): _*)).as("k"))
    val nk = nd.crossJoin(broadcast(kdf)).filter(col("deg") > col("k"))
      .groupBy("k").agg(sum("nc").as("nk"))
    val ek = em.crossJoin(broadcast(kdf)).filter(col("md") > col("k"))
      .groupBy("k").agg(sum("ec").as("ek"))
    nk.join(ek, Seq("k"), "left")
      .filter(col("nk") >= 2)
      .select(col("k").cast("long").as("k"),
        col("nk").cast("long").as("nk"),
        coalesce(col("ek"), lit(0L)).cast("long").as("ek"),
        expr("2000000 * coalesce(ek, 0) div (nk * (nk - 1))")
          .cast("long").as("phi_ppm"))
  }
}
