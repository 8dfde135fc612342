package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.enrich.Analytics

class AnalyticsSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._
  import IngestArms.{Distributed, under}

  test("stronglyConnected: cycles merge, one-way bridges and pendants don't") {
    // two 3-cycles joined by a ONE-WAY bridge, a pendant source, a
    // self-loop, and a 2-node back-and-forth
    val edges = Seq(
      ("a1", "a2"), ("a2", "a3"), ("a3", "a1"),   // SCC {a1,a2,a3}
      ("a1", "b1"),                               // one-way bridge
      ("b1", "b2"), ("b2", "b3"), ("b3", "b1"),   // SCC {b1,b2,b3}
      ("p", "a2"),                                // pendant source
      ("s", "s"),                                 // self-loop singleton
      ("x", "y"), ("y", "x")                      // SCC {x,y}
    ).toDF("src", "dst")
    val expected = Map(
      "a1" -> "a1", "a2" -> "a1", "a3" -> "a1",
      "b1" -> "b1", "b2" -> "b1", "b3" -> "b1",
      "p" -> "p", "s" -> "s", "x" -> "x", "y" -> "x")
    val df = Analytics.stronglyConnected(edges)
      .as[(String, String)].collect().toMap
    assert(df === expected)
    // budget 0 FORCES the distributed Orzan coloring loop past the
    // r13 Tarjan-kernel short-circuit — identical labels
    val loop = under(Distributed)(Analytics.stronglyConnected(edges)
      .as[(String, String)].collect().toMap)
    assert(loop === expected)
    // default threshold: the r16 post-trim core probe labels the tiny
    // core driver-side (Tarjan), Pregel never launches
    val gx = Analytics.stronglyConnectedGraphX(spark, edges)
      .as[(String, String)].collect().toMap
    assert(gx === expected)
    // budget 0 FORCES the GraphX Pregel arm past the probe —
    // identical labels (the spec-forced distributed fallback discipline)
    val gxForced = under(Distributed)(
      Analytics.stronglyConnectedGraphX(spark, edges)
        .as[(String, String)].collect().toMap)
    assert(gxForced === expected)
  }

  test("stronglyConnectedIncremental ≡ from-scratch, incl. a merge that " +
      "routes THROUGH an untouched middle component") {
    // old graph: SCC {a1,a2} → b (singleton) → SCC {c1,c2}, plus an
    // unrelated SCC {x,y} and a pendant p → a1
    val oldEdges = Seq(
      ("a1", "a2"), ("a2", "a1"),
      ("a1", "b"), ("b", "c1"),
      ("c1", "c2"), ("c2", "c1"),
      ("x", "y"), ("y", "x"),
      ("p", "a1")
    ).toDF("src", "dst")
    val prev = Analytics.stronglyConnected(oldEdges)
    // new edges: c2 → a2 closes a cycle a→b→c→a — the merge must pull in
    // the UNTOUCHED middle singleton b (no new edge is incident to it);
    // plus a brand-new vertex n hanging off x (stays a singleton)
    val newEdges = Seq(("c2", "a2"), ("x", "n")).toDF("src", "dst")
    val full = oldEdges.unionByName(newEdges)
    val prevCond = Analytics.condensationFrom(oldEdges, prev)
    val inc = Analytics.stronglyConnectedIncremental(newEdges, prev, prevCond)
      .as[(String, String)].collect().toMap
    val scratch = Analytics.stronglyConnected(full)
      .as[(String, String)].collect().toMap
    assert(inc === scratch)
    // the DISTRIBUTED fallback (forced by budget 0) must agree with
    // the driver-local Tarjan kernel label-for-label
    val incDist = under(Distributed)(Analytics.stronglyConnectedIncremental(
        newEdges, prev, prevCond)
      .as[(String, String)].collect().toMap)
    assert(incDist === scratch)
    // and the merged class really is {a1,a2,b,c1,c2} labeled a1
    assert(Seq("a1", "a2", "b", "c1", "c2").forall(v => inc(v) == "a1"))
    assert(inc("n") === "n" && inc("p") === "p" && inc("x") === "x")
  }

  test("anf: neighborhood function is monotone in h and tracks exact " +
      "ball sizes within HLL tolerance (linear-counting zone)") {
    // chain a->b->c->d plus a detached pair x->y: exact out-ball sizes
    //   h=0: 1,1,1,1,1,1 (Σ 6);  h=1: 2,2,2,1,2,1 (Σ 10)
    //   h=2: 3,3,2,1,2,1 (Σ 12); h=3: 4,3,2,1,2,1 (Σ 13)
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("x", "y"))
      .toDF("src", "dst")
    val nf = Analytics.anf(edges, rounds = 3)
      .as[(Int, Double)].collect().sortBy(_._1)
    assert(nf.map(_._1).toSeq === Seq(0, 1, 2, 3))
    val exact = Seq(6.0, 10.0, 12.0, 13.0)
    nf.zip(exact).foreach { case ((h, est), tru) =>
      assert(math.abs(est - tru) / tru < 0.35,
        s"h=$h: est $est too far from exact $tru")
    }
    // monotone: balls only grow
    assert(nf.map(_._2).sliding(2).forall(p => p(0) <= p(1)))
    // the driver kernel ≡ the distributed register loop (budget 0
    // forces the distributed arm; both share the oracle)
    val dist = under(Distributed)(Analytics.anf(edges, rounds = 3)
      .as[(Int, Double)].collect().sortBy(_._1))
    assert(nf.toSeq === dist.toSeq)
  }

  test("condensation: SCCs contract, only cross-SCC edges survive, no dups") {
    val edges = Seq(
      ("a1", "a2"), ("a2", "a1"),   // SCC A
      ("b1", "b2"), ("b2", "b1"),   // SCC B
      ("a1", "b1"), ("a2", "b2"),   // two bridges -> ONE condensed edge
      ("p", "a1")                   // pendant -> A
    ).toDF("src", "dst")
    val out = Analytics.condensation(edges)
      .as[(String, String)].collect().toSet
    assert(out === Set(("a1", "b1"), ("p", "a1")))
  }

  test("condensationLayers: longest-path stages; isolated SCCs report 0") {
    // p -> A(2cyc) -> B(2cyc); q -> B directly: layer(B) must take the
    // LONGEST path (through A), not the 1-hop shortcut. x<->y isolated.
    val edges = Seq(
      ("p", "a1"), ("a1", "a2"), ("a2", "a1"),
      ("a1", "b1"), ("b1", "b2"), ("b2", "b1"),
      ("q", "b1"),
      ("x", "y"), ("y", "x")
    ).toDF("src", "dst")
    val out = Analytics.condensationLayers(edges)
      .as[(String, Long)].collect().toMap
    assert(out === Map("p" -> 0L, "q" -> 0L, "a1" -> 1L, "b1" -> 2L,
      "x" -> 0L))
  }

  test("pageRank: sinks accumulate rank, values deterministic across runs") {
    // star into "hub": a,b,c -> hub ; chain hub -> top
    val edges = Seq(("a", "hub"), ("b", "hub"), ("c", "hub"), ("hub", "top"))
      .toDF("src", "dst")
    val pr = Analytics.pageRank(edges, iterations = 5)
      .as[(String, Double)].collect().toMap
    assert(pr("top") > pr("hub"))
    assert(pr("hub") > pr("a"))
    assert(pr("a") === pr("b"))
    val again = Analytics.pageRank(edges, iterations = 5)
      .as[(String, Double)].collect().toMap
    assert(pr === again)
  }

  test("pageRankGraphX agrees with the DataFrame loop exactly (small graph)") {
    val edges = Seq(("a", "hub"), ("b", "hub"), ("c", "hub"), ("hub", "top"))
      .toDF("src", "dst")
    val df = Analytics.pageRank(edges, 5).as[(String, Double)].collect().toMap
    val gx = Analytics.pageRankGraphX(spark, edges, 5)
      .as[(String, Double)].collect().toMap
    assert(gx === df)
  }

  test("pageRankGraphX ≡ DataFrame loop on the sf0.01 hierarchy (scale path)") {
    val d = "/root/testdata/sf0.01"
    assume(new java.io.File(d).isDirectory)
    val hier = graft.store.GraphTables.hierarchy(spark, d)
    val df = Analytics.pageRank(hier, 5).as[(String, Double)].collect().toMap
    val gx = Analytics.pageRankGraphX(spark, hier, 5)
      .as[(String, Double)].collect().toMap
    // identical math + per-iteration round-to-10 → bit-identical results
    assert(gx.size === df.size)
    assert(gx === df)
  }

  test("connectedComponents: min-id label per undirected component") {
    val edges = Seq(("b", "a"), ("c", "b"), ("y", "z"), ("x", "y"))
      .toDF("src", "dst")
    val cc = Analytics.connectedComponents(edges)
      .as[(String, String)].collect().toMap
    assert(cc("a") === "a" && cc("b") === "a" && cc("c") === "a")
    assert(cc("x") === "x" && cc("y") === "x" && cc("z") === "x")
  }

  test("connectedComponentsGraphX ≡ the label-propagation loop " +
      "(localThreshold=0 forces both distributed arms; the default " +
      "probe-bound union-find must agree with each)") {
    val edges = Seq(("b", "a"), ("c", "b"), ("y", "z"), ("x", "y"), ("q", "c"))
      .toDF("src", "dst")
    val (loop, gx) = under(Distributed)((
      Analytics.connectedComponents(edges)
        .as[(String, String)].collect().toMap,
      Analytics.connectedComponentsGraphX(spark, edges)
        .as[(String, String)].collect().toMap))
    assert(gx === loop)
    val local = Analytics.connectedComponents(edges)
      .as[(String, String)].collect().toMap
    assert(local === loop)
    val localGx = Analytics.connectedComponentsGraphX(spark, edges)
      .as[(String, String)].collect().toMap
    assert(localGx === loop)
  }

  test("triangleCounts: per-vertex counts; GraphX variant agrees") {
    // two triangles sharing edge (2,3): {1,2,3} and {2,3,4}; plus a
    // triangle-free pendant edge (4,5). Canonical a<b input.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val want = Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L)
    val df = Analytics.triangleCounts(edges).as[(Long, Long)].collect().toMap
    assert(df === want) // vertex 5 is in no triangle and absent
    val gx = Analytics.triangleCountsGraphX(spark, edges)
      .as[(Long, Long)].collect().toMap
    assert(gx === want)
  }

  test("bfsDistances: hop counts from the source; GraphX variant agrees") {
    // diamond + tail + unreachable island: a->b, a->c, b->d, c->d, d->e; x->y
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "e"),
      ("x", "y")).toDF("src", "dst")
    val want = Map("a" -> 0L, "b" -> 1L, "c" -> 1L, "d" -> 2L, "e" -> 3L)
    val loop = Analytics.bfsDistances(edges, "a", iterations = 6)
      .as[(String, Long)].collect().toMap
    assert(loop === want) // unreachable x/y are absent, d via min of 2 paths
    val gx = Analytics.bfsDistancesGraphX(spark, edges, "a")
      .as[(String, Long)].collect().toMap
    assert(gx === want)
  }

  test("kCore: cascading prune reaches the fixpoint, pendant chains fall") {
    // triangle {a,b,c} + pendant chain c-d-e: the 2-core is the triangle
    // alone, and d must fall in round TWO (degree 2 until e is removed) —
    // the cascade the iteration exists for
    val edges = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("d", "e"))
      .toDF("src", "dst")
    val core2 = Analytics.kCore(edges, k = 2)
      .as[(String, Long)].collect().toMap
    assert(core2 === Map("a" -> 2L, "b" -> 2L, "c" -> 2L))
    // k=3: the triangle's degree-2 vertices all fall -> empty core
    assert(Analytics.kCore(edges, k = 3).count() === 0L)
    // k=1 keeps everything (every vertex has a neighbor)
    assert(Analytics.kCore(edges, k = 1).count() === 5L)
  }

  test("personalizedPageRank: mass stays reachable-from-sources, sums ≤ 1") {
    val edges = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("src", "dst")
    val srcs = Seq("a").toDF("v")
    val ppr = Analytics.personalizedPageRank(edges, srcs, iterations = 5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // x/y are unreachable from the teleport set: exactly zero mass
    assert(ppr("x") === 0.0 && ppr("y") === 0.0)
    assert(ppr("a") > 0.0 && ppr("b") > 0.0 && ppr("c") > 0.0)
    // the source holds the largest share (teleport returns to it alone)
    assert(ppr("a") > ppr("b"))
    assert(ppr.values.sum <= 1.0 + 1e-6)
  }

  test("personalizedPageRankGraphX ≡ the DataFrame loop (small graph)") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("b", "d"), ("x", "y"))
      .toDF("src", "dst")
    val srcs = Seq("a", "x").toDF("v")
    val loop = Analytics.personalizedPageRank(edges, srcs, iterations = 5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val gx = Analytics.personalizedPageRankGraphX(spark, edges, srcs,
      iterations = 5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(loop === gx)
  }

  test("PPR: an out-of-graph seed dilutes neither path (both agree)") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("b", "d"))
      .toDF("src", "dst")
    // "ghost" never appears in the graph: |S| must count only {a} on both
    // paths, so the result equals the single-seed run exactly
    val withGhost = Seq("a", "ghost").toDF("v")
    val justA = Seq("a").toDF("v")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val loopGhost = m(Analytics.personalizedPageRank(edges, withGhost, 5))
    val gxGhost = m(Analytics.personalizedPageRankGraphX(spark, edges, withGhost, 5))
    val loopRef = m(Analytics.personalizedPageRank(edges, justA, 5))
    assert(loopGhost === loopRef)
    assert(gxGhost === loopRef)
  }

  test("shortestPathCounts: diamond doubles sigma, chains keep it") {
    // a -> {b, c} -> d -> e plus a longer a->x->y->d path that must NOT
    // count (distance 3 > 2) and an unreachable island q->r
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "e"),
      ("a", "x"), ("x", "y"), ("y", "d"), ("q", "r")).toDF("src", "dst")
    val got = Analytics.shortestPathCounts(edges, "a", iterations = 6)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got("a") === ((0L, 1L)))
    assert(got("b") === ((1L, 1L)) && got("c") === ((1L, 1L)))
    assert(got("d") === ((2L, 2L))) // two shortest paths; the 3-hop one ignored
    assert(got("e") === ((3L, 2L))) // counts carry through the chain
    assert(!got.contains("q") && !got.contains("r"))
  }

  test("betweennessFromSource: Brandes dependencies on the diamond") {
    // a -> {b, c} -> d -> e: delta(d)=1 (carries both paths to e),
    // delta(b)=delta(c)=0.5+0.5=1, delta(e)=0 (frontier)
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "e"))
      .toDF("src", "dst")
    val got = Analytics.betweennessFromSource(edges, "a", depth = 4)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(got("e") === 0.0)
    assert(got("d") === 1.0)
    assert(got("b") === 1.0 && got("c") === 1.0)
    // deterministic across runs (the round-to-10 quantization)
    val again = Analytics.betweennessFromSource(edges, "a", depth = 4)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(got === again)
  }

  test("r14 edgeBetweennessLandmarks: Girvan-Newman edge dependencies " +
      "sum per landmark; unreachable-side edges contribute nothing") {
    // from a: (a,b)=(a,c)=1·(1+δ)=2, (b,d)=(c,d)=1/2·(1+1)=1,
    // (d,e)=2/2·1=1; from b only (b,d)=1·(1+1)=2 and (d,e)=1 exist
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"),
      ("d", "e")).toDF("src", "dst")
    val got = Analytics.edgeBetweennessLandmarks(edges, Seq("a", "b"),
        depth = 4)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(got === Map(
      ("a", "b") -> 2.0, ("a", "c") -> 2.0, ("b", "d") -> 3.0,
      ("c", "d") -> 1.0, ("d", "e") -> 2.0))
  }

  test("betweennessLandmarks: sums per-source dependencies over the landmark set") {
    // two sources on the diamond+tail: from a, delta(b)=delta(c)=1,
    // delta(d)=1; from b, the only dependency is delta(d)=1 (d carries
    // b's path to e). Summed: d=2, b=1 (b gets nothing from its own run)
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "e"))
      .toDF("src", "dst")
    val got = Analytics.betweennessLandmarks(edges, Seq("a", "b"), depth = 4)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got("d") === 2.0)
    assert(got("b") === 1.0 && got("c") === 1.0)
    assert(got("e") === 0.0)
    // equals the sum of independent single-source runs, sources excluded
    val single = Seq("a", "b").map(s =>
      Analytics.betweennessFromSource(edges, s, depth = 4)
        .collect().map(r => r.getString(0) -> r.getDouble(2))
        .filter(_._1 != s).toMap)
    val summed = single.flatMap(_.toSeq).groupBy(_._1)
      .map { case (v, kvs) => v -> kvs.map(_._2).sum }
    assert(got === summed)
  }

  test("Brandes driver kernel ≡ the distributed passes (localThreshold=0 " +
      "forces the level-synchronous arm; both share every oracle)") {
    // diamond + tail + cross edge + duplicate edge occurrence (the join
    // semantics count every occurrence) + unreachable island
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"),
      ("d", "e"), ("b", "e"), ("b", "d"), ("q", "r")).toDF("src", "dst")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    def both(op: => org.apache.spark.sql.DataFrame) =
      assert(rows(op) === under(Distributed)(rows(op)))
    both(Analytics.shortestPathCounts(edges, "a", iterations = 6))
    both(Analytics.betweennessFromSource(edges, "a", depth = 6))
    both(Analytics.betweennessLandmarks(edges, Seq("a", "b"), depth = 6))
    both(Analytics.edgeBetweennessLandmarks(edges, Seq("a", "b"), depth = 6))
  }

  test("BFS / layers driver kernels ≡ the distributed loops " +
      "(localThreshold=0 forces the level-synchronous arm)") {
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"),
      ("d", "e"), ("b", "e"), ("q", "r")).toDF("src", "dst")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    def both(op: => org.apache.spark.sql.DataFrame) =
      assert(rows(op) === under(Distributed)(rows(op)))
    both(Analytics.bfsDistances(edges, "a", iterations = 6))
    // "ghost" landmark absent from the graph still seeds its own row
    both(Analytics.bfsDistancesLandmarks(edges, Seq("a", "q", "ghost"),
      iterations = 6))
    val ce = Seq(("x", "y"), ("y", "z"), ("x", "z"), ("w", "z"))
      .toDF("src_scc", "dst_scc")
    val scc = Seq(("v1", "x"), ("v2", "y"), ("v3", "z"), ("v4", "w"),
      ("v5", "iso")).toDF("v", "scc")
    both(Analytics.condensationLayersOver(ce, scc))
    assert(rows(Analytics.condensationLayersOver(ce, scc)) === Set(
      Seq("x", 0L), Seq("y", 1L), Seq("z", 2L), Seq("w", 0L),
      Seq("iso", 0L)))
  }

  test("betweennessLandmarksGraphX ≡ the DataFrame loop") {
    // diamond + tail + a cross edge so sigma ratios are non-trivial and
    // the two landmarks overlap mid-graph
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"),
      ("d", "e"), ("b", "e"), ("c", "f"), ("f", "e")).toDF("src", "dst")
    val df = Analytics.betweennessLandmarks(edges, Seq("a", "b"), depth = 5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val gx = Analytics.betweennessLandmarksGraphX(spark, edges,
        Seq("a", "b"), depth = 5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(df === gx)
    // a landmark absent from the graph dilutes nothing (both agree)
    val df2 = Analytics.betweennessLandmarks(edges, Seq("a", "zz"), depth = 5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val gx2 = Analytics.betweennessLandmarksGraphX(spark, edges,
        Seq("a", "zz"), depth = 5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(df2 === gx2)
  }

  test("pageRankWeightedGraphX ≡ the DataFrame loop (small weighted graph)") {
    val edges = Seq((1L, 2L, 3L), (1L, 3L, 1L), (2L, 3L, 2L), (3L, 1L, 1L))
      .toDF("src", "dst", "w")
    val df = Analytics.pageRankWeighted(edges, iterations = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val gx = Analytics.pageRankWeightedGraphX(spark, edges, iterations = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(df === gx)
  }

  test("kCoreGraphX ≡ the DataFrame prune loop (pendant chains fall)") {
    val edges = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"),
      ("d", "e"), ("a", "d"), ("b", "d")).toDF("src", "dst")
    val df = Analytics.kCore(edges, k = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val gx = Analytics.kCoreGraphX(spark, edges, k = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(df === gx)
  }

  test("labelPropagationGraphX ≡ the DataFrame loop (sync rounds, same tie-break)") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L)).toDF("src", "dst")
    val df = Analytics.labelPropagation(edges, iterations = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gx = Analytics.labelPropagationGraphX(spark, edges, iterations = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(df === gx)
  }

  test("weightedShortestPaths: min-plus relaxation picks the cheaper long path") {
    // a->b->c costs 1+1=2, beating the direct a->c (5); d unreachable
    // within the bound from a? d sits 3 hops out: a->b->c->d = 2+7
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 5L), (3L, 4L, 7L))
      .toDF("src", "dst", "w")
    val got = Analytics.weightedShortestPaths(edges, source = 1L, rounds = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) === 0L)
    assert(got(2L) === 1L)
    assert(got(3L) === 2L)
    assert(got(4L) === 9L)
    // a 1-round bound only reaches direct neighbors, with direct costs
    val bounded = Analytics.weightedShortestPaths(edges, source = 1L, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bounded === Map(1L -> 0L, 2L -> 1L, 3L -> 5L))
  }

  test("weightedShortestPaths ≡ reference Dijkstra on seeded random graphs") {
    import scala.collection.mutable
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 4) {
      val n = 8 + rnd.nextInt(5)
      val es = (1 to n * 2).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong, 1L + rnd.nextInt(9))
      }.filter(e => e._1 != e._2).distinct
      val source = es.head._1
      // with rounds >= |V| the hop-bounded unroll is exact — compare
      // against a pure-Scala Dijkstra
      val got = Analytics.weightedShortestPaths(es.toDF("src", "dst", "w"),
        source, rounds = n).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val adj = es.groupBy(_._1).map { case (s, out) =>
        s -> out.map(e => (e._2, e._3)) }
      val dist = mutable.Map(source -> 0L)
      val pq = mutable.PriorityQueue((0L, source))(Ordering.by(-_._1))
      val settled = mutable.Set.empty[Long]
      while (pq.nonEmpty) {
        val (dv, v) = pq.dequeue()
        if (!settled(v)) {
          settled += v
          adj.getOrElse(v, Nil).foreach { case (u, w) =>
            if (dv + w < dist.getOrElse(u, Long.MaxValue)) {
              dist(u) = dv + w
              pq.enqueue((dist(u), u))
            }
          }
        }
      }
      assert(got === dist.toMap)
    }
  }

  test("hits: star hub/authority structure, L1-normalized per side") {
    // s1, s2 both point at h; h points at a1, a2: h is the top authority
    // (everything flows into it) and s1/s2/h share the hub mass
    val edges = Seq(("s1", "h"), ("s2", "h"), ("h", "a1"), ("h", "a2"))
      .toDF("src", "dst")
    val out = Analytics.hits(edges, iterations = 3)
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2))))
      .toMap
    // each side sums to ~1 (L1 norm, up to the round-to-6 output)
    assert(math.abs(out.values.map(_._1).sum - 1.0) < 1e-4)
    assert(math.abs(out.values.map(_._2).sum - 1.0) < 1e-4)
    // h dominates authorities; s1/s2 tie as hubs above a1/a2 (sinks = 0)
    assert(out("h")._2 > out("a1")._2 && out("h")._2 > out("s1")._2)
    assert(out("s1")._1 === out("s2")._1)
    assert(out("a1")._1 === 0.0 && out("a2")._1 === 0.0)
    // deterministic across runs
    val again = Analytics.hits(edges, iterations = 3)
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2))))
      .toMap
    assert(out === again)
  }

  test("hitsGraphX agrees with the DataFrame loop exactly") {
    val edges = Seq(("s1", "h"), ("s2", "h"), ("h", "a1"), ("h", "a2"),
      ("a1", "s1")).toDF("src", "dst")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2))))
        .toMap
    val dfPath = asMap(Analytics.hits(edges, iterations = 3))
    val gxPath = asMap(Analytics.hitsGraphX(spark, edges, iterations = 3))
    assert(dfPath === gxPath)
  }

  test("labelPropagation: disjoint cliques converge to their min label") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L)).toDF("src", "dst")
    val lp = Analytics.labelPropagation(edges, iterations = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L).forall(lp(_) === 1L))
    assert(Seq(10L, 11L, 12L).forall(lp(_) === 10L))
    // deterministic: a second run lands on identical labels
    val lp2 = Analytics.labelPropagation(edges, iterations = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lp === lp2)
  }

  test("edgeSupport: per-edge triangle counts on the shared-edge fixture") {
    // triangles {1,2,3} and {2,3,4} share edge (2,3); (4,5) closes none
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val sup = Analytics.edgeSupport(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(sup === Map((1L, 2L) -> 1L, (1L, 3L) -> 1L, (2L, 3L) -> 2L,
      (2L, 4L) -> 1L, (3L, 4L) -> 1L)) // (4,5) absent: support 0
  }

  test("kTruss: K4 survives k=4; a triangle strip cascades to empty") {
    // K4 on {1,2,3,4}: every edge closes exactly 2 triangles
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    assert(Analytics.kTruss(k4, k = 4).count() === 6L)
    // strip of triangles {1,2,3},{2,3,4},{3,4,5}: k=4 peels the
    // support-1 rim first, which starves (2,3)/(3,4) — a REAL 2-round
    // cascade, the fixpoint behavior the closed-form q56 oracle can't see
    val strip = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
      (3L, 5L), (4L, 5L)).toDF("src", "dst")
    assert(Analytics.kTruss(strip, k = 4).count() === 0L)
    // k=3 keeps exactly the triangle edges; k<=2 is the whole graph
    val withPendant = strip.union(Seq((5L, 9L)).toDF("src", "dst"))
    assert(Analytics.kTruss(withPendant, k = 3).count() === 7L)
    assert(Analytics.kTruss(withPendant, k = 2).count() === 8L)
  }

  test("eigenvector: max-norm power iteration; GraphX twin agrees exactly") {
    // undirected star + triangle: hub 1 touches 2,3,4; 3-4-5 triangle
    val und0 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (3L, 4L), (4L, 5L), (3L, 5L))
      .toDF("src", "dst")
    val sym = und0.union(und0.select($"dst".as("src"), $"src".as("dst")))
    val df = Analytics.eigenvector(sym, iterations = 3)
      .as[(Long, Double)].collect().toMap
    // the max-normalized top vertex scores exactly 1
    assert(df.values.max === 1.0)
    // 3 and 4 (degree 3, inside the triangle) dominate the leaf 2
    assert(df(3L) > df(2L) && df(4L) > df(2L))
    val gx = Analytics.eigenvectorGraphX(spark, sym, iterations = 3)
      .as[(Long, Double)].collect().toMap
    assert(gx === df)
  }

  test("modularity: two cliques joined by one bridge score high Q") {
    // K3 + K3 with a single bridge; perfect 2-community assignment
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L)).toDF("src", "dst")
    val perfect = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 2L), (5L, 2L),
      (6L, 2L)).toDF("v", "community")
    val r = Analytics.modularity(edges, perfect).collect()(0)
    // m=7, S1=6, degrees (2,2,3,3,2,2) -> d_c = 7 and 7, S2 = 98
    // Q = (4*7*6 - 98) / (4*49) = 70/196 = 0.357143
    assert(r.getLong(0) === 7L)
    assert(r.getDouble(1) === 0.357143)
    // the degenerate one-community assignment scores exactly 0
    val one = perfect.select($"v", org.apache.spark.sql.functions.lit(1L).as("community"))
    assert(Analytics.modularity(edges, one).collect()(0).getDouble(1) === 0.0)
  }

  test("pageRankIncremental: warm start composes — pr5 + 2 warm ≡ pr7") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "d"),
      ("d", "e"), ("e", "a")).toDF("src", "dst")
    val pr5 = Analytics.pageRank(edges, iterations = 5)
    val warm = Analytics.pageRankIncremental(edges, pr5, iterations = 2)
      .as[(String, Double)].collect().toMap
    val pr7 = Analytics.pageRank(edges, iterations = 7)
      .as[(String, Double)].collect().toMap
    // the seed is pr5's round-6 OUTPUT (not its round-10 internal
    // state), so composition is exact up to that quantization: two
    // damped rounds amplify a ≤5e-7 seed gap by at most 0.85+0.85²
    assert(warm.keySet === pr7.keySet)
    assert(warm.forall { case (v, p) => math.abs(p - pr7(v)) <= 2e-6 })
    // and the warm start itself is deterministic
    val warm2 = Analytics.pageRankIncremental(edges, pr5, iterations = 2)
      .as[(String, Double)].collect().toMap
    assert(warm === warm2)
    // a vertex absent from prev seeds at the uniform 1/n: adding a new
    // pendant edge must not blow up — the new vertex just gets ranked
    val edges2 = edges.union(Seq(("e", "f")).toDF("src", "dst"))
    val inc = Analytics.pageRankIncremental(edges2, pr5, iterations = 2)
      .as[(String, Double)].collect().toMap
    assert(inc.size === 6 && inc.contains("f") && inc("f") > 0.0)
  }

  test("maximalMatching: vertex-disjoint, maximal, deterministic") {
    // a path + a triangle + an isolated edge, plus seeded random graphs
    val fixed = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("src", "dst")
    def check(edges: org.apache.spark.sql.DataFrame): Unit = {
      val es = edges.as[(Long, Long)].collect()
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
      val m = Analytics.maximalMatching(edges).as[(Long, Long)].collect()
      // a valid matching: edges of the graph, no vertex twice
      assert(m.forall(p => es.contains(p)))
      val vs = m.flatMap(p => Seq(p._1, p._2))
      assert(vs.distinct.length === vs.length)
      // maximal: every graph edge touches a matched vertex
      val vset = vs.toSet
      assert(es.forall(e => vset.contains(e._1) || vset.contains(e._2)))
      // deterministic
      val m2 = Analytics.maximalMatching(edges).as[(Long, Long)].collect()
      assert(m.sorted.toSeq === m2.sorted.toSeq)
    }
    check(fixed)
    val rnd = new scala.util.Random(7)
    val randomEdges = (1 to 60)
      .map(_ => (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      .filter(p => p._1 != p._2)
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2)))
      .distinct.toDF("src", "dst")
    check(randomEdges)
  }

  test("vertexCover2Approx: covers every edge, ≤ 2x a maximum matching") {
    val rnd = new scala.util.Random(41)
    val edges = (1 to 70)
      .map(_ => (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      .filter(p => p._1 != p._2)
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2)))
      .distinct.toDF("src", "dst")
    val es = edges.as[(Long, Long)].collect().toSet
    val cover = Analytics.vertexCover2Approx(edges).as[Long].collect().toSet
    // a valid cover: every edge touches it
    assert(es.forall(e => cover.contains(e._1) || cover.contains(e._2)))
    // Gavril's bound: |C| = 2·|M| and any cover needs ≥ |M| vertices
    val m = Analytics.maximalMatching(edges).count()
    assert(cover.size === 2 * m)
  }

  test("maximalIndependentSet: independent, maximal, deterministic") {
    val fixed = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("src", "dst")
    def check(edges: org.apache.spark.sql.DataFrame): Unit = {
      val es = edges.as[(Long, Long)].collect()
        .filter(p => p._1 != p._2)
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
      val verts = es.flatMap(e => Seq(e._1, e._2))
      val mis = Analytics.maximalIndependentSet(edges)
        .as[Long].collect().toSet
      // independent: no graph edge has both endpoints in the set
      assert(es.forall(e => !(mis.contains(e._1) && mis.contains(e._2))))
      // maximal: every vertex outside the set has a neighbor inside it
      val nbrs = es.toSeq.flatMap(e => Seq(e._1 -> e._2, e._2 -> e._1))
        .groupBy(_._1).map { case (v, ps) => v -> ps.map(_._2).toSet }
      assert((verts -- mis).forall(v => nbrs(v).exists(mis.contains)))
      // deterministic
      val mis2 = Analytics.maximalIndependentSet(edges)
        .as[Long].collect().toSet
      assert(mis === mis2)
    }
    check(fixed)
    val rnd = new scala.util.Random(13)
    val randomEdges = (1 to 60)
      .map(_ => (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      .filter(p => p._1 != p._2)
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2)))
      .distinct.toDF("src", "dst")
    check(randomEdges)
    // the GraphX twin shares the priorities and rounds exactly
    for (edges <- Seq(fixed, randomEdges)) {
      val df = Analytics.maximalIndependentSet(edges)
        .as[Long].collect().toSet
      val gx = Analytics.maximalIndependentSetGraphX(spark, edges)
        .as[Long].collect().toSet
      assert(df === gx)
    }
  }

  test("coreness ≡ sequential peeling; agrees with the k-core cut") {
    def peel(es: Set[(Long, Long)]): Map[Long, Int] = {
      val adj = scala.collection.mutable.Map.empty[Long,
        scala.collection.mutable.Set[Long]]
      es.foreach { case (a, b) =>
        adj.getOrElseUpdate(a, scala.collection.mutable.Set.empty) += b
        adj.getOrElseUpdate(b, scala.collection.mutable.Set.empty) += a
      }
      val core = scala.collection.mutable.Map.empty[Long, Int]
      var k = 0
      while (adj.nonEmpty) {
        val victims = adj.filter(_._2.size <= k).keys.toSeq
        if (victims.isEmpty) k += 1
        else victims.foreach { v =>
          core(v) = k
          adj(v).foreach(u => adj.get(u).foreach(_ -= v))
          adj -= v
        }
      }
      core.toMap
    }
    def check(edges: org.apache.spark.sql.DataFrame): Unit = {
      val es = edges.as[(Long, Long)].collect()
        .filter(p => p._1 != p._2)
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
      val got = Analytics.coreness(edges).as[(Long, Long)].collect().toMap
      assert(got.view.mapValues(_.toInt).toMap === peel(es))
    }
    // triangle + pendant: triangle coreness 2, pendant 1
    val fixed = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
      .toDF("src", "dst")
    val cf = Analytics.coreness(fixed).as[(Long, Long)].collect().toMap
    assert(cf === Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
    check(fixed)
    val rnd = new scala.util.Random(37)
    val randomEdges = (1 to 90)
      .map(_ => (rnd.nextInt(28).toLong, rnd.nextInt(28).toLong))
      .filter(p => p._1 != p._2)
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2)))
      .distinct.toDF("src", "dst")
    check(randomEdges)
    // consistency: {v : coreness(v) ≥ 2} is exactly kCore(k = 2)'s set
    val c2 = Analytics.coreness(randomEdges).as[(Long, Long)].collect()
      .filter(_._2 >= 2L).map(_._1).toSet
    val kc = Analytics.kCore(randomEdges, k = 2)
      .select("v").as[Long].collect().toSet
    assert(c2 === kc)
  }

  test("r13 densestSubgraph: the peeling profile isolates a planted " +
      "clique as the best round") {
    // K5 (density 2.0) + a 6-vertex pendant path hanging off vertex 1
    // (path vertices peel in the early rounds, the clique survives)
    val k5 = for { a <- 1L to 5L; b <- (a + 1) to 5L } yield (a, b)
    val path = (0 until 6).map(i => (100L + i, 101L + i))
    val out = Analytics.densestSubgraph(
        (k5 ++ path :+ ((1L, 100L))).toDF("src", "dst"))
      .as[(Int, Long, Long, Long, Int)].collect().sortBy(_._1)
    // round 0 is the full graph; the best round's density is the
    // clique's (K5: 10 edges / 5 vertices = 2.0 → 2000 milli)
    assert(out.head._1 === 0)
    val best = out.filter(_._5 == 1)
    assert(best.length === 1)
    assert(best.head._4 === 2000L, s"got ${best.toSeq}")
    assert(best.head._2 === 5L && best.head._3 === 10L)
    // exactly one best flag, profile converges to empty (last round
    // non-empty rows only), densities are 1000·e div v throughout
    out.foreach(r => assert(r._4 === 1000L * r._3 / r._2))
  }

  test("r14 densestSubgraph: a long path converges within the (1+eps) " +
      "geometric bound, and degenerate inputs yield an empty profile") {
    // the eps = 0 exact-average threshold peels a path only 2 vertices
    // per round (the advisor's counterexample); the 1.1-slack threshold
    // removes every deg <= 1.1*avg vertex, so a 300-vertex path
    // converges in a handful of rounds without tripping the bound
    val path = (0L until 299L).map(i => (i, i + 1)).toDF("src", "dst")
    val prof = Analytics.densestSubgraph(path)
      .as[(Int, Long, Long, Long, Int)].collect()
    assert(prof.nonEmpty && prof.head._2 === 300L)
    assert(prof.count(_._5 == 1) === 1)
    // a path's avg degree is < 2, so 1.1*avg < 2.2 covers every vertex:
    // one round empties it
    assert(prof.map(_._1).max <= 2)
    // empty edge input and self-loop-only input: empty profile, no
    // 0-vertex division, no require blow-up
    assert(Analytics.densestSubgraph(
      Seq.empty[(Long, Long)].toDF("src", "dst")).count() === 0L)
    assert(Analytics.densestSubgraph(
      Seq((7L, 7L)).toDF("src", "dst")).count() === 0L)
  }

  test("boruvkaMsf ≡ Kruskal under the (weight, src, dst) tie-break") {
    def kruskal(es: Seq[(Long, Long, Long)]): Set[(Long, Long, Long)] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      val out = scala.collection.mutable.Set.empty[(Long, Long, Long)]
      es.sortBy { case (s, d, w) => (w, s, d) }.foreach { case (s, d, w) =>
        val (rs, rd) = (find(s), find(d))
        if (rs != rd) { parent(rs) = rd; out += ((s, d, w)) }
      }
      out.toSet
    }
    def check(es: Seq[(Long, Long, Long)]): Unit = {
      val got = Analytics.boruvkaMsf(es.toDF("src", "dst", "weight"))
        .as[(Long, Long, Long)].collect().toSet
      assert(got === kruskal(es))
      val verts = es.flatMap(e => Seq(e._1, e._2)).distinct.size
      // spanning forest size: n − #components (Kruskal's own count)
      assert(got.size === kruskal(es).size && got.size < verts)
      // budget 0 FORCES the distributed merge-propagation fallback —
      // identical forest (the r13 union-find kernel discipline)
      val dist = under(Distributed)(
        Analytics.boruvkaMsf(es.toDF("src", "dst", "weight"))
          .as[(Long, Long, Long)].collect().toSet)
      assert(dist === got)
    }
    // two components, a tie (weight 5 twice) broken by (src, dst)
    check(Seq((1L, 2L, 5L), (2L, 3L, 5L), (1L, 3L, 9L),
      (10L, 11L, 1L), (11L, 12L, 2L), (10L, 12L, 2L)))
    val rnd = new scala.util.Random(31)
    val randomEdges = (1 to 80)
      .map(_ => (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong,
        (rnd.nextInt(7) + 1).toLong))
      .filter(p => p._1 != p._2)
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2), p._3))
      .groupBy(p => (p._1, p._2)).map(_._2.head).toSeq
    check(randomEdges)
  }

  test("jpColoring: proper, complete, deterministic, greedy-tight") {
    val fixed = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("src", "dst")
    def check(edges: org.apache.spark.sql.DataFrame): Unit = {
      val es = edges.as[(Long, Long)].collect()
        .filter(p => p._1 != p._2)
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
      val verts = es.flatMap(e => Seq(e._1, e._2))
      val c = Analytics.jpColoring(edges).as[(Long, Int)].collect().toMap
      // complete and proper: every vertex colored, no edge monochrome
      assert(c.keySet === verts)
      assert(es.forall(e => c(e._1) != c(e._2)))
      // greedy-tight: a vertex's color is the SMALLEST absent from its
      // neighborhood-restricted-to-smaller-colors — in particular some
      // vertex has color 0 and colors form a contiguous 0..max range
      val used = c.values.toSet
      assert(used === (0 to used.max).toSet)
      val c2 = Analytics.jpColoring(edges).as[(Long, Int)].collect().toMap
      assert(c === c2)
    }
    check(fixed)
    // the triangle 10-11-12 needs exactly 3 colors; the path and the
    // isolated edge need 2
    val cf = Analytics.jpColoring(fixed).as[(Long, Int)].collect().toMap
    assert(Set(cf(10L), cf(11L), cf(12L)).size === 3)
    val rnd = new scala.util.Random(29)
    val randomEdges = (1 to 60)
      .map(_ => (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      .filter(p => p._1 != p._2)
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2)))
      .distinct.toDF("src", "dst")
    check(randomEdges)
  }

  test("deterministicWalks: valid edges, full length, replay-stable") {
    // a path 1-2-3-4 plus the triangle 4-5-6
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (4L, 6L)).toDF("src", "dst")
    val und = edges.as[(Long, Long)].collect()
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toSet
    val w = Analytics.deterministicWalks(edges, walks = 2, steps = 3)
      .as[(Long, Long, Long, Long)].collect()
    // 6 vertices x 2 walks x 4 positions, step 0 = the start
    assert(w.length === 6 * 2 * 4)
    assert(w.filter(_._3 == 0L).forall(r => r._4 == r._1))
    // every consecutive (step, step+1) pair is a real undirected edge
    val byWalk = w.groupBy(r => (r._1, r._2))
      .view.mapValues(_.sortBy(_._3).map(_._4).toSeq).toMap
    assert(byWalk.values.forall(p =>
      p.sliding(2).forall(s => und.contains((s(0), s(1))))))
    // the two walks from a branching vertex are not forced identical,
    // and a re-run reproduces the exact same corpus
    val w2 = Analytics.deterministicWalks(edges, walks = 2, steps = 3)
      .as[(Long, Long, Long, Long)].collect()
    assert(w.sortBy(r => (r._1, r._2, r._3)).toSeq ===
      w2.sortBy(r => (r._1, r._2, r._3)).toSeq)
  }

  test("connectedComponentsIncremental: seeded fixpoint equals full CC") {
    // old graph: {1,2} and {3,4} separate; the new edge (2,3) merges them,
    // and vertex 9 (new, isolated via (9,10)) self-seeds
    val oldE = Seq((1L, 2L), (3L, 4L)).toDF("src", "dst")
    val prev = Analytics.connectedComponents(oldE)
    val allE = Seq((1L, 2L), (3L, 4L), (2L, 3L), (9L, 10L)).toDF("src", "dst")
    val inc = Analytics.connectedComponentsIncremental(allE, prev)
      .as[(Long, Long)].collect().toMap
    val full = Analytics.connectedComponents(allE)
      .as[(Long, Long)].collect().toMap
    assert(inc === full)
    assert(inc(4L) === 1L && inc(10L) === 9L)
    // budget 0 FORCES the distributed ccFrom fallback — identical
    // labels either way (the q77 probe discipline, r13)
    val incDist = under(Distributed)(
      Analytics.connectedComponentsIncremental(allE, prev)
        .as[(Long, Long)].collect().toMap)
    assert(incDist === full)
  }

  test("r13 connectedComponentsBounded: driver union-find ≡ the " +
      "distributed loop, spec-forced fallback at threshold 0") {
    // the bounded operator folded into connectedComponents, which does
    // the same probe → union-find → fallback; a long-keyed pair graph
    // (the near-dup pair shape Dedup.dupClusters feeds in)
    val e = Seq((5L, 2L), (2L, 9L), (7L, 8L), (1L, 5L)).toDF("src", "dst")
    val kernel = Analytics.connectedComponents(e)
      .as[(Long, Long)].collect().toMap
    val loop = under(Distributed)(Analytics.connectedComponents(e)
      .as[(Long, Long)].collect().toMap)
    assert(kernel === loop)
    assert(kernel === Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 9L -> 1L,
      7L -> 7L, 8L -> 7L))
  }

  test("scanSimilarity: closed-neighborhood overlap on triangle+pendant") {
    // triangle {1,2,3} + pendant (3,4). deg: 1:2, 2:2, 3:3, 4:1.
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val out = Analytics.scanSimilarity(e)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(out((1L, 2L)) === ((3L, 1.0)))        // 3/sqrt(3*3)
    assert(out((1L, 3L)) === ((3L, 0.866025)))   // 3/sqrt(3*4)
    assert(out((2L, 3L)) === ((3L, 0.866025)))
    assert(out((3L, 4L)) === ((2L, 0.707107)))   // support-0 edge kept
    assert(out.size === 4)
  }

  test("neighborDegreeCurve: star graph is perfectly disassortative") {
    // star 1-(2,3,4): center deg 3 with all-deg-1 neighbors, leaves
    // deg 1 with the deg-3 center — k_nn(3)=1, k_nn(1)=3
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    val out = Analytics.neighborDegreeCurve(e)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(out(3L) === ((1L, 1000000L)))
    assert(out(1L) === ((3L, 3000000L)))
  }

  test("richClub: K4+pendant+star matches hand-computed phi") {
    // K4 on {1,2,3,4}, pendant 5 on 1, star 10-(11..15).
    // deg: 1→4, 2..4→3, 5→1, 10→5, leaves→1.
    val e = (Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (1L, 5L)) ++ (11L to 15L).map(l => (10L, l)))
      .toDF("src", "dst")
    val out = Analytics.richClub(e, Seq(1L, 2L, 4L))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    // k=1 and k=2: club = {1,2,3,4,10}, club edges = the 6 clique edges
    // (pendant/star edges have a deg-1 endpoint): phi = 12/20 = 0.6.
    // k=4: only node 10 qualifies -> N_k < 2, dropped.
    assert(out === Seq((1L, 5L, 6L, 600000L), (2L, 5L, 6L, 600000L)))
  }
}
