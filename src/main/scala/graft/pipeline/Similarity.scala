package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{CosineSim, GraftExpressions, SignLshSig}
import graft.ops.Bounded
import graft.ops.Pin._

/** Similarity search over an embedding column (Array[Float]).
  *
  * Baseline: brute-force cosine top-k — a broadcast of the (small) query
  * set against a full scan of the corpus; one shuffle for the per-query
  * top-k. Scale path: BANDED multi-plane sign-LSH (the same band/bucket
  * pattern as [[Dedup.minhashLshPairs]]): a numPlanes-bit signature is
  * computed once per vector in a codegen'd pass, split into `bands`
  * sub-signatures, and two vectors become candidates iff they agree on
  * ALL bits of at least one band. Work per band is O(n²/2^rowsPerBand)
  * for the self-join case, recall is the union over bands, and a
  * bucket-size cap drops degenerate hub buckets — no pairwise evaluation
  * ever happens outside a shared (band, bucket).
  */
object Similarity {

  /** Cosine similarity of two float-array columns, computed in double.
    * Rounded to 4 decimals so ranking ties are resolved identically
    * across engines (the oracle recomputes the same quantity).
    * Evaluated by the codegen'd [[graft.functions.CosineSim]] kernel —
    * bit-identical to the HOF spelling [[cosineSpec]]. */
  def cosine(a: Column, b: Column): Column =
    round(GraftExpressions.col(
      CosineSim(GraftExpressions.expr(a), GraftExpressions.expr(b))), 4)

  /** Portable HOF spelling of [[cosine]] — the executable spec the native
    * kernel is property-tested against. */
  def cosineSpec(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val na = sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))
    val nb = sqrt(aggregate(transform(b, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))
    round(dot / (na * nb), 4)
  }

  /** Matryoshka two-stage ANN (Kusupati et al. 2022: MRL-nested
    * representations keep most of the signal in a PREFIX of the
    * embedding): shortlist by cosine over the first `prefixDim`
    * dimensions, then EXACT full-dimension re-rank of each query's
    * shortlist. The coarse pass touches prefixDim/dim of the arithmetic
    * of a brute scan and the exact pass only `shortlist` rows per query
    * — the standard retrieval funnel, a DIMENSION-reduction shortlist
    * complementing the partition- (IVF), hash- (LSH), and code-
    * compression (PQ/SQ8) families. Recall < 1 by design; gated by the
    * recall floor alongside them. Fully deterministic (round-4 sims,
    * vec_id tie-break), so the oracle replays both stages. */
  def mrlTopK(emb: DataFrame, queryIds: Seq[Long], k: Int,
      prefixDim: Int = 32, shortlist: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = emb.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val coarse = emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("embedding"), col("qv"),
        cosineSpec(slice(col("qv"), 1, prefixDim),
          slice(col("embedding"), 1, prefixDim)).as("csim"))
    val wC = Window.partitionBy("query_id")
      .orderBy(col("csim").desc, col("vec_id").asc)
    val wF = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("vec_id").asc)
    coarse.withColumn("crank", row_number().over(wC))
      .filter(col("crank") <= shortlist)
      .select(col("query_id"), col("vec_id"),
        cosine(col("qv"), col("embedding")).as("sim"))
      .withColumn("rank", row_number().over(wF))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "sim", "rank")
  }

  /** Brute-force top-k: for each query vector (vec_id ∈ queryIds), the k
    * nearest corpus vectors by cosine (excluding self), ties broken by
    * vec_id. Query side is broadcast — the corpus scan never shuffles
    * until the final per-query top-k. */
  def bruteForceTopK(emb: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = emb.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val scored = emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("qv"), col("embedding")).as("sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "sim", "rank")
  }

  /** Gonzalez (1985) farthest-first k-CENTER selection — the diversity
    * sampler a curation pipeline runs to pick k maximally-spread
    * exemplars (coreset seeds, eval-probe selection, cluster init with
    * a 2-approximation guarantee on the covering radius): seed with the
    * min vec_id, then k−1 times pick the point whose best similarity to
    * any chosen center is LOWEST (cosine spelling of "farthest from the
    * chosen set"), round-4 sims with vec_id tie-break — fully
    * deterministic, so the oracle replays every round.
    *
    * Scale shape: each round is one corpus scan against a BROADCAST
    * ≤k-row center set (the bruteForceTopK shape) followed by a top-1
    * reduce; the driver collects ONE row per round (the d4/landmark
    * bounded-collect discipline — k is a constant, never corpus-sized).
    * Recomputing sims against all centers each round keeps the loop
    * stateless (no persisted lineage, no checkpoint hygiene) at k×
    * redundant arithmetic — the right trade at k ≤ 16. */
  def kCenterSelect(emb: DataFrame, k: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    require(k >= 1, s"k-center needs k >= 1, got $k")
    // r19: pinned once — the k sequential argmin rounds then scan the
    // persisted blocks instead of re-running the parquet scan per round
    val e = emb.select(col("vec_id"), col("embedding")).pin(eager = false)
    val seed = e.orderBy(col("vec_id").asc).select("vec_id").head.getLong(0)
    var picks = Vector[(Int, Long, Option[Double])]((0, seed, None))
    var ids = Vector(seed)
    for (r <- 1 until k) {
      val cen = e.filter(col("vec_id").isin(ids: _*))
        .select(col("embedding").as("cv"))
      val next = e.filter(!col("vec_id").isin(ids: _*))
        .crossJoin(broadcast(cen))
        .select(col("vec_id"), cosine(col("embedding"), col("cv")).as("s"))
        .groupBy("vec_id").agg(max("s").as("max_sim"))
        .orderBy(col("max_sim").asc, col("vec_id").asc)
        .head
      picks = picks :+ ((r, next.getLong(0), Some(next.getDouble(1))))
      ids = ids :+ next.getLong(0)
    }
    picks.toDF("sel_round", "vec_id", "max_sim")
      .select(col("sel_round").cast("int").as("sel_round"),
        col("vec_id"), col("max_sim"))
  }

  /** k-means|| SCALABLE INITIALIZATION (r13, Bahmani et al. VLDB 2012 —
    * THE distributed k-means seeding: k-means++ needs k sequential
    * corpus passes, k-means|| gets an O(log φ)-competitive seed set in
    * a constant number of rounds): starting from the deterministic
    * 1-seed, each round OVERSAMPLES — every point joins the candidate
    * set with probability l·d²(x,C)/φ, where d² = 1 − max cosine to the
    * current candidates (rounded 4, the kernel discipline) and
    * φ = Σ d² (DECIMAL sum) — then candidates are weighted by the size
    * of their nearest-assignment cell and a deterministic WEIGHTED
    * greedy k-center picks the final k (max w·(1 − max sim to chosen),
    * cid tie-break) — the weighted recluster step, made replayable
    * (k-means++ there would need RNG).
    *
    * Determinism: the sampling coin is the portable rolling hash of
    * (vec_id, round) against h·φ < l·10⁶·d² — pure products of
    * bit-identical doubles, no division; every sim rounds to 4 before
    * any compare. Scale: each round is one broadcast-candidates corpus
    * pass (candidates stay O(l·rounds)); the per-round 1-row φ
    * aggregate and the ≤|cand|² final matrix are the bounded-collect
    * discipline (mmr/k-center). Emits every candidate with its cell
    * weight and final pick order (−1 = not picked). */
  /** Candidate pull-back as a BROADCAST SEMI-JOIN (r14 — replaces the
    * up-to-4096-literal `isin` predicate): the bounded id set becomes a
    * broadcast-hash probe, the catalog's idiomatic spelling at any cap.
    * Package-visible so PlanShapeSpec pins the physical join. */
  private[graft] def candSemiJoin(e: DataFrame, ids: Seq[Long]): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    e.join(broadcast(ids.toDF("vec_id")), Seq("vec_id"), "left_semi")
  }

  def kmeansParInit(emb: DataFrame, k: Int = 8, l: Int = 8,
      rounds: Int = 2, maxCandidates: Int = 4096): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val e = emb.select(col("vec_id"), col("embedding")).pin(eager = false)
    var candIds: Vector[Long] =
      Vector(centroidSeeds(emb, 1).select(col("cid")).as[Long].head())
    def candVecsOf(ids: Vector[Long]) = candSemiJoin(e, ids)
    for (r <- 1 to rounds) {
      val cen = candVecsOf(candIds).select(col("embedding").as("cv"))
      // candidates score d² = 0 (cos(x,x) rounds to exactly 1), so the
      // sampling coin can never re-pick them — no exclusion join needed
      val d2 = e.crossJoin(broadcast(cen))
        .select(col("vec_id"), cosine(col("embedding"), col("cv")).as("s"))
        .groupBy("vec_id")
        .agg((lit(1.0) - max(col("s"))).as("d2"))
      val phi = d2.agg(round(sum(col("d2").cast("decimal(25,10)"))
        .cast("double"), 4)).head().getDouble(0)
      // the sampling coin is the LCG hash (the epochRepeat spelling —
      // the string rolling hash is near-LINEAR over consecutive integer
      // ids and clumps the sample); per-round salt in the increment
      // probe discipline (r14): a bounded probe (graft.ops.Bounded)
      // BEFORE the collect — the driver holds at most maxCandidates+1
      // rows even when the sample blows up, and the require fires on
      // the probe, not after the fact (the q77 Tarjan-probe spelling).
      // Within the bound the limit is a no-op, so the sampled set is
      // unchanged.
      val probe = Bounded.take(d2.filter(
          (pmod(col("vec_id") * lit(1103515245L) + lit(12345L * r),
            lit(2147483647L)) % lit(1000000L)).cast("double") * lit(phi) <
          lit(l * 1000000.0) * col("d2"))
        .select(col("vec_id")), maxCandidates)(_.getLong(0))
      require(probe.isDefined,
        s"k-means|| candidate blow-up (> $maxCandidates sampled in round $r)")
      candIds = (candIds ++ probe.get.sorted.toVector).distinct
      require(candIds.length <= maxCandidates,
        s"k-means|| candidate blow-up (${candIds.length} > $maxCandidates)")
    }
    require(candIds.length >= k,
      s"k-means|| undersampled: ${candIds.length} candidates < k=$k " +
        "(raise l or rounds)")
    // cell weights: every point assigns to its nearest candidate
    val candVecs = candVecsOf(candIds)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val byPoint = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("cs").desc, col("cid").asc)
    val w = e.crossJoin(broadcast(candVecs))
      .select(col("vec_id"), col("cid"),
        cosine(col("embedding"), col("cv")).as("cs"))
      .withColumn("rk", row_number().over(byPoint))
      .filter(col("rk") === 1)
      .groupBy("cid").agg(count(lit(1)).as("w"))
    // candidates whose cell is empty (never nearest) carry weight 0
    val weights = candIds.toDF("cid").join(w, Seq("cid"), "left")
      .select(col("cid"), coalesce(col("w"), lit(0L)).as("w"))
      .as[(Long, Long)].collect().toMap
    // pairwise candidate sims (distributed kernel, bounded collect)
    val sims = candVecs.alias("a").crossJoin(broadcast(candVecs.alias("b")))
      .select(col("a.cid").as("ca"), col("b.cid").as("cb"),
        cosine(col("a.cv"), col("b.cv")).as("s"))
      .as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    // deterministic weighted greedy k-center over the candidate set
    var chosen = Vector(weights.toSeq.maxBy { case (cid, wv) => (wv, -cid) }._1)
    while (chosen.length < k) {
      val next = candIds.filterNot(chosen.contains).map { c =>
        val maxSim = chosen.map(ch => sims((c, ch))).max
        (c, weights(c) * (1.0 - maxSim))
      }.maxBy { case (cid, score) => (score, -cid) }._1
      chosen = chosen :+ next
    }
    val order = chosen.zipWithIndex.toMap
    candIds.sorted.map(c =>
        (c, weights(c), order.get(c).map(_.toInt).getOrElse(-1)))
      .toDF("cid", "w", "sel_round")
  }

  /** Maximal-marginal-relevance DIVERSE top-k (Carbonell & Goldstein
    * 1998) — the diversity-aware selection a curation pipeline runs so
    * retrieved exemplars don't collapse onto near-duplicates: greedily
    * pick argmax `λ·sim(q, d) − (1−λ)·max_{s∈selected} sim(d, s)`,
    * score rounded to 6 with vec_id tie-break — fully deterministic.
    *
    * Scale shape: the corpus-sized work is the distributed shortlist
    * (brute/ANN top-`candidates`) and the candidate×candidate sim
    * matrix via the same codegen'd cosine kernel; the iterative
    * selection then runs driver-local over the COLLECTED ≤candidates²
    * matrix — the q52 hybrid-retrieval bounded-collect discipline
    * (candidates is query-bounded, never corpus-sized). λ arrives as an
    * integer percent so both engines derive bit-identical 0.7 / 0.3
    * doubles. */
  def mmrTopK(emb: DataFrame, queryId: Long, k: Int = 10,
      candidates: Int = 50, lambdaPct: Int = 70): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val lam = lambdaPct / 100.0
    val comp = (100 - lambdaPct) / 100.0
    val cand = bruteForceTopK(emb, Seq(queryId), candidates)
      .select(col("vec_id"), col("sim"))
    val cd = cand.join(emb, "vec_id")
      .select(col("vec_id"), col("sim"), col("embedding"))
    val pair = cd.as("x").join(cd.as("y"), col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
        cosine(col("x.embedding"), col("y.embedding")).as("ps"))
      .as[(Long, Long, Double)].collect()
      .flatMap { case (a, b, s) => Seq((a, b) -> s, (b, a) -> s) }.toMap
    val simq = cd.select(col("vec_id"), col("sim"))
      .as[(Long, Double)].collect().toMap
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    val rest = scala.collection.mutable.SortedSet(simq.keys.toSeq: _*)
    while (selected.size < k && rest.nonEmpty) {
      val best = rest.iterator.map { id =>
        val pen = if (selected.isEmpty) 0.0
          else selected.iterator.map(s => pair((id, s._1))).max
        (id, r6(lam * simq(id) - comp * pen))
      }.maxBy { case (id, sc) => (sc, -id) }
      selected += best
      rest -= best._1
    }
    selected.toSeq.zipWithIndex
      .map { case ((id, sc), i) => (id, sc, i + 1) }
      .toDF("vec_id", "score", "rank")
  }

  /** Deterministic pseudo-random hyperplanes for sign-LSH: component j of
    * plane i is derived from the rolling arithmetic (i*64+j) — a fixed,
    * engine-portable pattern standing in for a seeded Gaussian (the sign
    * structure, bucketing, and probe logic are what matter). */
  def planeComponent(i: Int, j: Int): Double = SignLshSig.planeComponent(i, j)

  /** Sign-LSH signature, HOF spelling: one bit per hyperplane = sign of
    * dot(v, plane). The executable spec the codegen'd [[lshSignature]]
    * kernel is property-tested against. */
  def lshBucket(v: Column, numPlanes: Int, dim: Int): Column = {
    val bits = (0 until numPlanes).map { i =>
      val dot = aggregate(
        zip_with(v,
          array((0 until dim).map(j => lit(planeComponent(i, j))): _*),
          (x, p) => x.cast("double") * p),
        lit(0.0), (acc, x) => acc + x)
      when(dot > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** numPlanes-bit sign-LSH signature in ONE codegen'd pass per row
    * ([[org.apache.spark.sql.graft.SignLshSig]]) — value-identical to the
    * HOF spelling [[lshBucket]]. */
  def lshSignature(v: Column, numPlanes: Int): Column =
    GraftExpressions.col(SignLshSig(GraftExpressions.expr(v), numPlanes))

  /** (vec_id, embedding, band, bucket): the signature split into `bands`
    * sub-signatures of numPlanes/bands bits each — the row-banding of
    * [[Dedup.minhashLshPairs]] applied to sign-LSH. Vectors agreeing on
    * ALL bits of a band land in the same (band, bucket). */
  private def bandedBuckets(emb: DataFrame, numPlanes: Int, bands: Int): DataFrame = {
    require(numPlanes % bands == 0, "numPlanes must be divisible by bands")
    val rows = numPlanes / bands
    val hashed = emb.select(col("vec_id"), col("embedding"),
      lshSignature(col("embedding"), numPlanes).as("sig"))
    hashed.select(col("vec_id"), col("embedding"),
      posexplode(array((0 until bands).map(b =>
        shiftright(col("sig"), b * rows) % (1L << rows)): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
  }

  /** Banded-LSH ANN top-k: corpus hashed once; each query scores only the
    * union of its band-bucket mates (candidates deduped across bands).
    * Recall < 1 by design: per-band miss probability compounds, union
    * over bands recovers it — numPlanes/bands tune the work/recall
    * tradeoff without the flat-bucket quadratic.
    *
    * `probes` = Hamming probe radius WITHIN each band (multiprobe LSH):
    * radius 1 additionally probes every bucket one sign-flip away, the
    * classic way to buy recall with more probes instead of more hash
    * tables — corpus-side cost is unchanged (nothing is re-hashed; only
    * the tiny broadcast query side fans out ×(1+rows)). Radius 0 is the
    * deterministic config the DuckDB oracle replays. */
  def lshTopK(emb: DataFrame, queryIds: Seq[Long], k: Int,
      numPlanes: Int = 16, bands: Int = 4, probes: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(probes == 0 || probes == 1, "probe radius 0 or 1 supported")
    val rows = numPlanes / bands
    val banded = bandedBuckets(emb, numPlanes, bands)
    val q0 = banded.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("band"), col("bucket"))
    val q = if (probes == 0) q0
      else q0.withColumn("bucket", explode(array(
        col("bucket") +: (0 until rows).map(b =>
          col("bucket").bitwiseXOR(lit(1L << b))): _*)))
    val scored = banded.join(broadcast(q), Seq("band", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .dropDuplicates("query_id", "vec_id") // union of candidates over bands
      .select(col("query_id"), col("vec_id"),
        cosine(col("qv"), col("embedding")).as("sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "sim", "rank")
  }

  /** Deterministic FIXED-SIZE centroid seed selection: the `nlist`
    * vectors whose portable rolling hash of vec_id ranks lowest (ties →
    * lowest vec_id) — the `p_group_sample` discipline applied to
    * quantizer seeding. |seeds| is `nlist` REGARDLESS of corpus size
    * (the FAISS nlist contract), so the coarse-assignment crossJoin is
    * O(n·nlist) with an O(nlist) broadcast at any scale — unlike a
    * modulo rule, whose centroid set grows with n. Physically a
    * TakeOrderedAndProject: per-partition partial top-nlist, O(nlist)
    * rows at the driver, never a global sort. Replayable in ANSI SQL
    * as `ORDER BY rolling_hash(vec_id), vec_id LIMIT nlist`. */
  def centroidSeeds(emb: DataFrame, nlist: Int): DataFrame =
    emb.select(col("vec_id").as("cid"), col("embedding").as("cv"),
        graft.functions.TextFunctions.rollingHash(
          col("vec_id").cast("string")).as("h"))
      .orderBy(col("h"), col("cid"))
      .limit(nlist)
      .select(col("cid"), col("cv"))

  /** IVF-style ANN: a deterministic coarse quantizer ([[centroidSeeds]],
    * `nlist` fixed-count centroids) partitions the corpus into cells; a
    * query scores only vectors in its `nprobe` nearest cells. The classic
    * scale path: centroids are broadcast (small and CONSTANT-SIZE in n),
    * the corpus is assigned in one codegen'd pass, and per-query work
    * drops from O(n) to O(nprobe·n/nlist). Recall < 1 by design;
    * deterministic so the oracle replays the identical quantization. */
  def ivfTopK(emb: DataFrame, queryIds: Seq[Long], k: Int,
      nlist: Int = 16, nprobe: Int = 8): DataFrame =
    ivfTopKIndexed(assignCells(emb, nlist), centroidSeeds(emb, nlist),
      emb, queryIds, k, nprobe)

  /** [[ivfTopK]] over a PERSISTED index — the deployment shape: `index`
    * is the cell-clustered corpus (vec_id, embedding, cid) and `cents`
    * the centroid table, both built ONCE per corpus version
    * ([[graft.store.GraphTables.ivfIndex16]]/`ivfCents16`) and read as
    * parquet scans; a query never re-runs the O(n·nlist) assignment
    * pass. Clustering the index by cid means probed-cell candidate
    * selection skips row groups on min/max stats — the partition-pruned
    * scan a 100 TB deployment relies on. */
  def ivfTopKIndexed(index: DataFrame, cents: DataFrame, emb: DataFrame,
      queryIds: Seq[Long], k: Int, nprobe: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // query cells: nprobe nearest centroids per query vector
    val q = emb.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val byQuery = Window.partitionBy("query_id")
      .orderBy(col("csim").desc, col("cid").asc)
    val probes = q.crossJoin(broadcast(cents))
      .select(col("query_id"), col("qv"), col("cid"),
        cosine(col("qv"), col("cv")).as("csim"))
      .withColumn("prank", row_number().over(byQuery))
      .filter(col("prank") <= nprobe)
      .select(col("query_id"), col("qv"), col("cid"))
    // score candidates within probed cells only
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("vec_id").asc)
    // each vector lives in exactly one cell and probe cells are distinct
    // per query, so (query, vec) pairs are already unique
    index.join(broadcast(probes), "cid")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("qv"), col("embedding")).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "sim", "rank")
  }

  /** Full Lloyd k-means training, `iterations` rounds: deterministic
    * seeding ([[centroidSeeds]] — `nlist` fixed-count seeds, the IVF
    * coarse-quantizer rule), then per round (1) assign every vector to its nearest
    * centroid by rounded cosine — ONE codegen'd pass over a broadcast of
    * the (small) centroid set, ties to the lowest cid — and (2) recompute
    * each centroid as the dim-wise mean of its cell through exact
    * DECIMAL sums (the s_centroids discipline: summation order can't
    * shift the result), rounded to 4. This is one Lloyd iteration as a
    * 100 TB job: broadcast + narrow scan + partial-agg groupBy, no
    * driver-side state beyond the centroid table itself.
    *
    * Rounding both the similarity and the means quantizes away every
    * cross-engine float hazard, so the DuckDB oracle replays ALL
    * iterations bit-identically — an HLL-style "trust me" ML loop would
    * not be gateable.
    *
    * @return the trained centroids, (cid, dim, mean_v) — one row per
    *         centroid component
    */
  def kMeansCentroids(emb: DataFrame, nlist: Int,
      iterations: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byCell = Window.partitionBy("vec_id")
      .orderBy(col("csim").desc, col("cid").asc)
    var cents = centroidSeeds(emb, nlist)
      .select(col("cid"),
        transform(col("cv"), x => round(x.cast("double"), 4)).as("cv"))
    var means: DataFrame = null
    for (_ <- 1 to iterations) {
      val assigned = emb.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("embedding"), col("cid"),
          cosineSpec(col("embedding"), col("cv")).as("csim"))
        .withColumn("crank", row_number().over(byCell))
        .filter(col("crank") === 1)
        .select(col("cid"), col("embedding"))
      means = assigned
        .select(col("cid"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy(col("cid"), col("dim").cast("long").as("dim"))
        .agg(round(
          sum(col("v").cast("double").cast("decimal(25,10)")).cast("double")
            / count(lit(1)), 4).as("mean_v"))
      cents = means.groupBy("cid")
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("mean_v")))),
          s => s.getField("mean_v")).as("cv"))
    }
    means
  }

  /** Scalar-quantized (SQ8) ANN — the memory/bandwidth scale path that
    * complements IVF's candidate pruning: every vector is quantized ONCE
    * to signed-byte codes q_i = round(x_i · 127 / max_abs) (max_abs = the
    * corpus-wide max |component|, one broadcast scalar), a shortlist of
    * `shortlist` candidates per query is ranked by the quantized dot
    * product — 4× less scan bandwidth than float32, and EXACT integer
    * arithmetic, so the stage has no float-summation-order concern at
    * all — and only the shortlist is re-ranked at full precision.
    * Recall < 1 only through quantization error (shortlist ≫ k absorbs
    * it); deterministic end to end, so the oracle replays both stages. */
  def sqTopK(emb: DataFrame, queryIds: Seq[Long], k: Int,
      shortlist: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val maxAbs = emb.agg(max(array_max(transform(col("embedding"),
      x => abs(x.cast("double"))))).as("m"))
    val quant = emb.crossJoin(broadcast(maxAbs))
      .select(col("vec_id"),
        transform(col("embedding"),
          x => round(x.cast("double") * 127 / col("m"), 0).cast("long")).as("q8"))
    val q = quant.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("q8").as("qq8"))
    val qdot = aggregate(zip_with(col("qq8"), col("q8"), (a, b) => a * b),
      lit(0L), (acc, v) => acc + v)
    val wShort = Window.partitionBy("query_id")
      .orderBy(col("qsim").desc, col("vec_id").asc)
    val short = quant.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), qdot.as("qsim"))
      .withColumn("srank", row_number().over(wShort))
      .filter(col("srank") <= shortlist)
      .select("query_id", "vec_id")
    // full-precision re-rank of the (tiny) shortlist
    val qv = emb.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("vec_id").asc)
    short.join(emb, "vec_id").join(broadcast(qv), "query_id")
      .select(col("query_id"), col("vec_id"),
        cosine(col("qv"), col("embedding")).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "sim", "rank")
  }

  /** Product-quantized (PQ) ANN — the memory-compression scale path for
    * billion-vector corpora (the IVF-PQ standard): each vector splits
    * into `m` subvectors; each subspace gets a small codebook (seeded by
    * the deterministic fixed-count [[centroidSeeds]] rule — `ksub`
    * entries per book — refined by ONE
    * Lloyd round with the s_kmeans decimal-mean discipline); a vector's
    * code is its per-subspace nearest centroid (rounded DOT product,
    * ties → lowest cid — dot, not cosine, because per-subspace dots ADD
    * exactly across subspaces, which is what makes ADC principled). A
    * query precomputes its `m × k_sub` lookup table of rounded partial
    * dots; every corpus vector's approximate score is the sum of its
    * codes' table entries (Asymmetric Distance Computation — a table
    * lookup per subspace instead of a 32-float dot), a `shortlist` is
    * ranked by that, and only the shortlist is re-ranked at full
    * precision (the SQ8 posture). At scale the codebooks and LUTs are
    * broadcast scalars and the scan reads m bytes of codes per vector
    * instead of 4·dim bytes of floats — PQ compresses bandwidth; cell
    * pruning is IVF's job. Deterministic end to end (rounded dots,
    * decimal means), so the oracle replays training, encoding, ADC, and
    * re-rank bit-identically. */
  def pqTopK(emb: DataFrame, queryIds: Seq[Long], k: Int,
      m: Int = 4, subDim: Int = 16, ksub: Int = 16,
      shortlist: Int = 100): DataFrame = {
    val books = pqTrain(emb, m, subDim, ksub)
    pqTopKIndexed(emb, pqEncode(emb, books, m, subDim), books,
      queryIds, k, m, subDim, shortlist)
  }

  /** [[pqTopK]] over a PERSISTED model — the deployment shape: `books`
    * (codebooks) and `enc` (corpus codes) are built ONCE per corpus
    * version ([[graft.store.GraphTables.pqBooks4x16]]/`pqEnc4x16`) and
    * read as parquet scans; a query computes only its own m×ksub LUT
    * (tiny — queries × books, both broadcast-bounded) and the ADC sum
    * over the code table. Training and corpus encoding never re-run. */
  def pqTopKIndexed(emb: DataFrame, enc: DataFrame, books: DataFrame,
      queryIds: Seq[Long], k: Int, m: Int = 4, subDim: Int = 16,
      shortlist: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lut = pqLut(emb, queryIds, books, m, subDim)
    val wShort = Window.partitionBy("query_id")
      .orderBy(col("adc").desc, col("vec_id").asc)
    val short = enc.join(broadcast(lut), Seq("sub", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(round(sum(col("part")), 4).as("adc"))
      .withColumn("srank", row_number().over(wShort))
      .filter(col("srank") <= shortlist)
      .select("query_id", "vec_id")
    exactRerank(short, emb, queryIds, k)
  }

  /** Rounded dot product of two double-array columns — the PQ float
    * boundary (round-4 quantizes every cross-engine hazard away). */
  private def rdotCol(a: Column, b: Column): Column =
    round(aggregate(zip_with(a, b, (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v), 4)

  /** (vec_id, sub, sv): the subvector table, L2-NORMALIZED by the FULL
    * vector's norm first — summed per-subspace dots then approximate
    * the full cosine (un-normalized dot ADC would rank by magnitude,
    * not angle, and recall collapses) — and components rounded like
    * kMeans' c0 seeds so the one Lloyd round is decimal-replayable. */
  private def pqSubs(emb: DataFrame, m: Int, subDim: Int): DataFrame = {
    val norm = sqrt(aggregate(
      transform(col("embedding"), x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))
    (0 until m).map { s =>
      emb.select(col("vec_id"), lit(s).as("sub"),
        transform(slice(col("embedding"), s * subDim + 1, subDim),
          x => round(x.cast("double") / norm, 4)).as("sv"))
    }.reduce(_ unionByName _)
  }

  /** Per-(sub, vec) nearest codebook entry by rounded dot, ties → lowest
    * cid — shared by training (against seeds) and encoding (against the
    * refined books). */
  private def pqNearest(subs: DataFrame, cands: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byVecSub = Window.partitionBy("sub", "vec_id")
      .orderBy(col("sim").desc, col("cid").asc)
    subs.join(broadcast(cands), "sub")
      .select(col("sub"), col("vec_id"), col("sv"), col("cid"),
        rdotCol(col("sv"), col("cv")).as("sim"))
      .withColumn("rk", row_number().over(byVecSub))
      .filter(col("rk") === 1)
  }

  /** PQ TRAINING — per-subspace codebooks (sub, cid, cv): deterministic
    * fixed-count seeds ([[centroidSeeds]], the same vec_ids across
    * subspaces) refined by ONE Lloyd round with the s_kmeans
    * decimal-mean discipline. The build-once model artifact of
    * [[pqTopK]]/[[ivfPqTopK]] — m·ksub rows regardless of corpus size. */
  def pqTrain(emb: DataFrame, m: Int = 4, subDim: Int = 16,
      ksub: Int = 16): DataFrame = {
    val subs = pqSubs(emb, m, subDim)
    val sids = centroidSeeds(emb, ksub).select(col("cid").as("vec_id"))
    val seeds = subs.join(broadcast(sids), "vec_id")
      .select(col("sub"), col("vec_id").as("cid"), col("sv").as("cv"))
    pqNearest(subs, seeds)
      .select(col("sub"), col("cid"), posexplode(col("sv")).as(Seq("dim", "v")))
      .groupBy(col("sub"), col("cid"), col("dim"))
      .agg(round(sum(col("v").cast("decimal(25,10)")).cast("double")
        / count(lit(1)), 4).as("mv"))
      .groupBy(col("sub"), col("cid"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("mv")))),
        st => st.getField("mv")).as("cv"))
  }

  /** PQ ENCODING — the corpus code table (sub, vec_id, code) against
    * trained books: one broadcast-probe pass over the corpus, m small
    * ints per vector. The second build-once model artifact. */
  def pqEncode(emb: DataFrame, books: DataFrame, m: Int = 4,
      subDim: Int = 16): DataFrame =
    pqNearest(pqSubs(emb, m, subDim), books)
      .select(col("sub"), col("vec_id"), col("cid").as("code"))

  /** A query batch's ADC lookup tables (sub, query_id, code, part) —
    * per-query work only: |queries|·m·ksub rows, computed fresh each
    * search against the (persisted) books. */
  def pqLut(emb: DataFrame, queryIds: Seq[Long], books: DataFrame,
      m: Int, subDim: Int): DataFrame =
    pqSubs(emb.filter(col("vec_id").isin(queryIds: _*)), m, subDim)
      .select(col("sub"), col("vec_id").as("query_id"), col("sv").as("qsv"))
      .join(broadcast(books), "sub")
      .select(col("sub"), col("query_id"), col("cid").as("code"),
        rdotCol(col("qsv"), col("cv")).as("part"))

  /** Full-precision re-rank of a (query_id, vec_id) shortlist — the
    * final stage every quantized path shares. */
  /** BINARY-QUANTIZED ANN (r14 — the 1-bit extreme of the quantization
    * ladder SQ8 (8 bits) and PQ (sub-byte codes) already cover, and the
    * shortlist trick modern vector stores ship as "binary quantization"
    * / BBQ: Charikar 2002's sign-random-projection insight applied to
    * the RAW axes — for centered embeddings, the SIGN BIT per dimension
    * preserves angular neighborhood, so 64 dims collapse to ONE 64-bit
    * word and candidate generation is an XOR + popcount per corpus
    * vector, 32× less bandwidth than the float scan and branch-free):
    * pack sign bits (strictly positive → 1) into a long, rank by
    * Hamming distance to the query word (ties → vec_id), take a
    * `shortlist`, re-rank ONLY the shortlist at full precision (the SQ8
    * posture — the gate's rank column is exact cosine over ≤shortlist
    * rows).
    *
    * Determinism: the sign predicate, XOR, and popcount are integer
    * ops no engine can 1-ulp-flip; the oracle replays pack, Hamming
    * rank, and re-rank bit-identically. Scale: the packed table is
    * 8 bytes/vector; queries broadcast; at billions of vectors this is
    * the scan-bandwidth floor and composes with IVF cell pruning
    * exactly as PQ does. */
  def bqTopK(emb: DataFrame, queryIds: Seq[Long], k: Int,
      shortlist: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val packed = emb.select(col("vec_id"),
      expr("aggregate(sequence(0, size(embedding) - 1), 0L, " +
        "(acc, i) -> acc | CASE WHEN element_at(embedding, i + 1) > 0.0 " +
        "THEN shiftleft(CAST(1 AS BIGINT), i) ELSE CAST(0 AS BIGINT) END)")
        .as("bits"))
    val q = packed.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("bits").as("qbits"))
    val wShort = Window.partitionBy("query_id")
      .orderBy(col("hd").asc, col("vec_id").asc)
    val short = packed.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        bit_count(col("qbits").bitwiseXOR(col("bits"))).as("hd"))
      .withColumn("srank", row_number().over(wShort))
      .filter(col("srank") <= shortlist)
      .select("query_id", "vec_id")
    exactRerank(short, emb, queryIds, k)
  }

  private def exactRerank(short: DataFrame, emb: DataFrame,
      queryIds: Seq[Long], k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qv = emb.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("vec_id").asc)
    short.join(emb, "vec_id").join(broadcast(qv), "query_id")
      .select(col("query_id"), col("vec_id"),
        cosine(col("qv"), col("embedding")).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "sim", "rank")
  }

  /** IVF-PQ — the production billion-vector ANN layout (the FAISS IVFPQ
    * shape): IVF's coarse quantizer prunes the SEARCH SPACE (only
    * vectors in the query's `nprobe` nearest cells are candidates), PQ's
    * codes compress the SCAN (candidates are ranked by ADC table
    * lookups, m bytes per vector, never a float dot), and only the ADC
    * shortlist is re-ranked exactly. At 100 TB the two prunings compose:
    * cells bound candidate count, codes bound bytes per candidate;
    * centroids, codebooks, and LUTs all broadcast. Deterministic end to
    * end (rounded cosines for cell ranks, the PQ decimal discipline for
    * codes), so the oracle replays coarse assignment, training,
    * encoding, ADC, and re-rank bit-identically. */
  def ivfPqTopK(emb: DataFrame, queryIds: Seq[Long], k: Int,
      nlist: Int = 16, nprobe: Int = 8,
      m: Int = 4, subDim: Int = 16, ksub: Int = 16,
      shortlist: Int = 60): DataFrame = {
    val books = pqTrain(emb, m, subDim, ksub)
    ivfPqTopKIndexed(assignCells(emb, nlist).select("vec_id", "cid"),
      centroidSeeds(emb, nlist), pqEncode(emb, books, m, subDim), books,
      emb, queryIds, k, nprobe, m, subDim, shortlist)
  }

  /** [[ivfPqTopK]] over a PERSISTED index + model — the deployment
    * shape: cell assignments, centroids, codebooks, and corpus codes
    * are all build-once derived tables
    * ([[graft.store.GraphTables.ivfIndex16]]/`ivfCents16`/
    * `pqBooks4x16`/`pqEnc4x16`); a search computes only the query
    * probes and LUT (both query-bounded) — neither the O(n·nlist)
    * assignment nor the PQ training/encoding ever re-runs. */
  def ivfPqTopKIndexed(index: DataFrame, cents: DataFrame, enc: DataFrame,
      books: DataFrame, emb: DataFrame, queryIds: Seq[Long], k: Int,
      nprobe: Int = 8, m: Int = 4, subDim: Int = 16,
      shortlist: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byQuery = Window.partitionBy("query_id")
      .orderBy(col("csim").desc, col("cid").asc)
    val probes = emb.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .crossJoin(broadcast(cents))
      .select(col("query_id"), col("cid"),
        cosine(col("qv"), col("cv")).as("csim"))
      .withColumn("prank", row_number().over(byQuery))
      .filter(col("prank") <= nprobe)
      .select(col("query_id"), col("cid"))
    val cand = index.select("vec_id", "cid").join(broadcast(probes), "cid")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
    // PQ layer scores ONLY the probed-cell candidates
    val lut = pqLut(emb, queryIds, books, m, subDim)
    val wShort = Window.partitionBy("query_id")
      .orderBy(col("adc").desc, col("vec_id").asc)
    val short = cand.join(enc, "vec_id")
      .join(broadcast(lut), Seq("sub", "code", "query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(round(sum(col("part")), 4).as("adc"))
      .withColumn("srank", row_number().over(wShort))
      .filter(col("srank") <= shortlist)
      .select("query_id", "vec_id")
    exactRerank(short, emb, queryIds, k)
  }

  /** DOMINANT PRINCIPAL COMPONENT of the embedding corpus by MATRIX-FREE
    * power iteration — the all-but-the-top post-processing primitive
    * (Mu & Viswanath, ICLR 2018: embeddings share a large common
    * direction; removing it improves similarity quality), and the
    * PCA-whitening building block. Never materializes the d×d
    * covariance (d²·n rows): each iteration is y = Σ_v s_v·(x_v − μ)
    * with s_v = (x_v − μ)·w — one codegen'd dot per vector (n rows) +
    * one posexplode/groupBy (n·d rows), the 100 TB shape. Determinism:
    * μ and the per-dim accumulations route through DECIMAL (the
    * s_centroids discipline — summation order can't shift them), dots
    * round-6, max-abs normalization with the division done in DOUBLE
    * after an exact decimal max — so the oracle unrolls all iterations
    * bit-identically. Returns (dim, w) — the round-6 component. */
  def dominantComponent(emb: DataFrame, iterations: Int = 4,
      dim: Int = 64): DataFrame = {
    require(iterations >= 1 && iterations <= 8, "iteration budget")
    val spark = emb.sparkSession
    val muArr = emb
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(round(sum(col("x").cast("double").cast("decimal(28,10)"))
        .cast("double") / count(lit(1)), 6).as("mu"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("mu")))),
        s => s.getField("mu")).as("mu"))
      .pin(eager = false)
    // r19 job-count pass: the loop has no driver-side decision, so with
    // LAZY pins the whole power iteration executes as ONE job at the
    // final action (Profile: s_pca_top 39 jobs -> ~7)
    var w = spark.range(1)
      .select(transform(sequence(lit(0), lit(dim - 1)),
        _ => lit(0.125)).as("w"))
      .pin(eager = false)
    for (_ <- 1 to iterations) {
      val centered = zip_with(col("embedding"), col("mu"),
        (x, m) => x.cast("double") - m)
      val sv = emb.crossJoin(broadcast(muArr)).crossJoin(broadcast(w))
        .select(col("embedding"), col("mu"),
          round(aggregate(zip_with(centered, col("w"), (c, wv) => c * wv),
            lit(0.0), (a, v) => a + v), 6).as("s"))
      val y = sv
        .select(col("s"), posexplode(centered).as(Seq("dim", "c")))
        .groupBy(col("dim"))
        .agg(sum(round(col("s") * col("c"), 6).cast("decimal(28,6)")).as("y"))
      // r19: the max-abs normalizer rides a full-partition window over
      // the d-row y instead of a separate aggregate branch (the old mx
      // agg + broadcast + crossJoin cost 3 extra scheduler round-trips
      // per iteration, and forced y's own eager pin to avoid two-branch
      // recomputation). Same max, same division, same rounding; the
      // single-partition window is bounded at d rows by construction.
      // One eager pin per iteration remains — a fully-lazy chain
      // re-derives every prior iteration inside each broadcast stage
      // (measured 4x task time, the r18 multi-branch lesson).
      val wAll = org.apache.spark.sql.expressions.Window
        .partitionBy().rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      w = y.withColumn("m", max(abs(col("y"))).over(wAll))
        .select(col("dim"),
          round(col("y").cast("double") / col("m").cast("double"), 6)
            .as("wv"))
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("wv")))),
          s => s.getField("wv")).as("w"))
        .pin(eager = true)
    }
    w.select(posexplode(col("w")).as(Seq("dim", "w")))
      .select(col("dim").cast("int").as("dim"), (col("w") + 0.0).as("w"))
  }

  /** Embedding near-duplicate pairs: all (a,b), a<b, cosine ≥ threshold,
    * candidates = union over bands of same-(band, bucket) pairs — the
    * [[Dedup.minhashLshPairs]] shape. With numPlanes=32 / bands=4, each
    * band has 2^8 buckets, so per-band self-join work is ~n²/256 (vs the
    * old flat 16-bucket n²/16), and `maxBucket` drops degenerate hub
    * buckets entirely (the `maxDocFreq` analog in
    * [[Dedup.ngramJaccardPairs]]) so one hot bucket can never go
    * quadratic at scale; buckets of 1 yield no pairs and are skipped. */
  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus with the deterministic
    * fixed-count coarse quantizer ([[centroidSeeds]]), compute pairwise
    * cosine ONLY within a cluster, and drop every vector that has a
    * LOWER-id cluster-mate at `sim >= tau` (the paper keeps one
    * representative per ε-neighborhood; lowest-id is this module's
    * deterministic, oracle-replayable stand-in for its
    * lowest-centroid-similarity rule). Unlike [[embeddingNearDupPairs]]
    * (sign-LSH candidates, recall tuned by bands), the cluster
    * restriction here is the SEMANTIC statement of the method itself:
    * only same-concept vectors are compared at all.
    *
    * 100 TB shape: centroids are broadcast and constant-size in n, cell
    * assignment is one codegen'd pass, and the within-cell self-join is
    * bounded by `maxCell` — an oversize (degenerate hub) cell is
    * excluded from pair generation and its members are all kept, the
    * [[Dedup.ngramJaccardPairs]] `maxDocFreq` cap discipline, so no
    * cell can ever go quadratic.
    *
    * @return (vec_id, cid, keep) for EVERY input vector — keep = 0 iff
    *         some lower-id vector in the same cell is `>= tau` similar
    */
  def semDedup(emb: DataFrame, tau: Double, nlist: Int = 16,
      maxCell: Int = 4096): DataFrame = {
    val assigned = assignCells(emb, nlist)
    val inCell = cellMembers(emb, nlist, maxCell)
    // duplicate ids: the HIGHER member of every over-threshold pair —
    // a vector is dropped if ANY lower id in its cell is tau-close,
    // regardless of whether that lower id is itself dropped (the
    // one-pass EXISTS rule; transitive-closure keeper selection is
    // [[Dedup]]'s dupClusters job, not this screen's)
    val dups = inCell.as("x").hint("SHUFFLE_MERGE")
      .join(inCell.as("y").hint("SHUFFLE_MERGE"),
        col("x.cid") === col("y.cid")
          && col("x.vec_id") < col("y.vec_id")
          && cosine(col("x.embedding"), col("y.embedding")) >= tau)
      .select(col("y.vec_id").as("vec_id")).distinct()
    assigned.join(dups.withColumn("dup", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        when(col("dup").isNull, 1).otherwise(0).cast("int").as("keep"))
  }

  /** Cell-restricted MUTUAL k-NN graph over the embedding corpus — the
    * input structure of graph-based semantic clustering, neighbor label
    * propagation, and kNN curation (and the batch analogue of an HNSW
    * build's base layer): assign every vector to its nearest
    * coarse-quantizer cell ([[centroidSeeds]] — broadcast, fixed-count,
    * one codegen'd pass), rank each vector's CELL-MATES by rounded
    * cosine, keep its top `k`, and retain an edge only when BOTH
    * endpoints keep it (the standard mutual-kNN noise filter),
    * canonical `src < dst`.
    *
    * Scale: never all-pairs — the self-join is per cell, with cells
    * capped at `maxCell` (hub guard), so candidate count and skew are
    * both bounded by the quantizer, the IVF discipline. Determinism:
    * round-4 sims + vec_id tie-breaks make the graph retry-stable and
    * oracle-replayable. */
  /** IVF cell assignment (vec_id, embedding, cid): nearest centroid by
    * rounded cosine, ties to the lowest cid — THE shared quantizer
    * spine of [[ivfTopK]], [[semDedup]], [[knnGraph]] and
    * [[graphAnnTopK]]; a tie-break or rounding change here is the only
    * place it can happen, so the gates can't diverge from each other.
    * Public since r12: the persisted `ivfindex` derived table
    * ([[graft.store.GraphTables.ivfIndex16]]) materializes this. */
  def assignCells(emb: DataFrame, nlist: Int): DataFrame =
    assignCellsTo(emb, centroidSeeds(emb, nlist))

  /** [[assignCells]] against a GIVEN centroid table — the refresh path's
    * entry (r13): incremental index maintenance assigns only the
    * arriving vectors to the EXISTING centroids, so the quantizer must
    * be an input, not re-derived from the (changed) corpus. */
  def assignCellsTo(emb: DataFrame, cents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byCell = Window.partitionBy("vec_id")
      .orderBy(col("csim").desc, col("cid").asc)
    emb.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("cid"),
        cosine(col("embedding"), col("cv")).as("csim"))
      .withColumn("crank", row_number().over(byCell))
      .filter(col("crank") === 1)
      .select(col("vec_id"), col("embedding"), col("cid"))
  }

  /** INCREMENTAL IVF index refresh (r13 — the ccprev/sccprev warm-start
    * discipline applied to ANN model artifacts): vectors the previous
    * index already placed KEEP their rows untouched; only the arriving
    * delta (an anti-join on vec_id — the batch is usually a vanishing
    * fraction of the corpus) pays the O(|delta|·nlist) assignment
    * against the PERSISTED centroids. Because cell assignment is
    * per-vector deterministic, the refreshed index provably EQUALS
    * `assignCellsTo(embAll, cents)` — so an incremental gate can share
    * the batch oracle with the centroid derivation pinned to the
    * previous corpus. Periodic full retrain (new seeds) remains the
    * documented trade when drift accumulates. */
  def ivfIndexRefresh(prevIndex: DataFrame, embAll: DataFrame,
      cents: DataFrame): DataFrame = {
    val delta = embAll.join(prevIndex.select("vec_id"), Seq("vec_id"),
      "left_anti")
    prevIndex.select(col("vec_id"), col("embedding"), col("cid"))
      .unionByName(assignCellsTo(delta, cents))
  }

  /** INCREMENTAL PQ code refresh (r13): re-encode ONLY vectors absent
    * from the previous code table against the persisted books; existing
    * codes ride through untouched. Provably equals
    * `pqEncode(embAll, books)` (per-vector deterministic), same oracle
    * sharing as [[ivfIndexRefresh]]. */
  def pqEncodeRefresh(prevEnc: DataFrame, embAll: DataFrame,
      books: DataFrame, m: Int = 4, subDim: Int = 16): DataFrame = {
    val delta = embAll.join(
      prevEnc.select("vec_id").distinct(), Seq("vec_id"), "left_anti")
    prevEnc.select(col("sub"), col("vec_id"), col("code"))
      .unionByName(pqEncode(delta, books, m, subDim))
  }

  /** [[assignCells]] restricted to healthy cells (2..maxCell) — the
    * pairwise consumers' hub guard. */
  private[pipeline] def cellMembers(emb: DataFrame, nlist: Int,
      maxCell: Int): DataFrame = {
    val assigned = assignCells(emb, nlist)
    val ok = assigned.groupBy("cid").agg(count(lit(1)).as("cc"))
      .filter(col("cc") >= 2 && col("cc") <= maxCell)
    assigned.join(ok.select("cid"), Seq("cid"))
  }

  def knnGraph(emb: DataFrame, k: Int = 3, nlist: Int = 16,
      maxCell: Int = 4096): DataFrame =
    mutualKnnEdges(cellMembers(emb, nlist, maxCell), k)

  /** The ranked + mutual edge derivation over an assigned-and-size-
    * filtered cell membership — shared by [[knnGraph]] (live),
    * [[knnGraphWith]] (pinned centroids) and [[knnGraphRefresh]]
    * (affected cells only). */
  private def mutualKnnEdges(inCell: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("a").orderBy(col("sim").desc, col("b").asc)
    val ranked = inCell.as("x").hint("SHUFFLE_MERGE")
      .join(inCell.as("y").hint("SHUFFLE_MERGE"),
        col("x.cid") === col("y.cid") && col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
        cosine(col("x.embedding"), col("y.embedding")).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("a"), col("b"), col("sim"))
    // the mutual rule: (a,b) survives iff b ranked a back; cosine is
    // exactly symmetric (commutative accumulation), so p.sim == q.sim
    ranked.as("p").join(ranked.as("q"),
        col("p.a") === col("q.b") && col("p.b") === col("q.a"))
      .filter(col("p.a") < col("p.b"))
      .select(col("p.a").as("src"), col("p.b").as("dst"),
        col("p.sim").as("sim"))
  }

  private def sizedCells(assigned: DataFrame, maxCell: Int): DataFrame = {
    val ok = assigned.groupBy("cid").agg(count(lit(1)).as("cc"))
      .filter(col("cc") >= 2 && col("cc") <= maxCell)
    assigned.join(ok.select("cid"), Seq("cid"))
  }

  /** [[knnGraph]] with the cell assignment PINNED to given centroids —
    * the build the incremental refresh must match (the ivfCentsPrev
    * discipline: a deployment's graph is built against its model's
    * centroids, not re-derived ones). */
  def knnGraphWith(emb: DataFrame, cents: DataFrame, k: Int = 3,
      maxCell: Int = 4096): DataFrame =
    mutualKnnEdges(sizedCells(assignCellsTo(emb, cents), maxCell), k)

  /** INCREMENTAL mutual k-NN graph refresh (r14b — the s_ivf_inc /
    * s_pq_inc delta discipline applied to the GRAPH artifact): the
    * cell-restricted graph is a disjoint union of per-cell subgraphs,
    * so arriving vectors can only change the cells they land in —
    * recompute the ranked+mutual edges for AFFECTED cells (full
    * membership, so a newcomer entering an old vector's top-k, the
    * mutual rule, and the 2..maxCell eligibility window all re-decide
    * correctly) and SPLICE every untouched cell's edges from the
    * persisted graph. Work is Σ_affected |cell|² instead of the full
    * Σ |cell|²; with pinned centroids the result is provably ≡
    * [[knnGraphWith]] on the whole corpus (per-cell independence).
    * `isDelta` marks the arriving vectors inside `emb`. */
  def knnGraphRefresh(prevGraph: DataFrame, emb: DataFrame,
      cents: DataFrame, isDelta: Column, k: Int = 3,
      maxCell: Int = 4096): DataFrame = {
    val asg = assignCellsTo(emb, cents).pin(eager = true)
    val affected = asg.filter(isDelta).select("cid").distinct()
      .pin(eager = true)
    val rebuilt = mutualKnnEdges(
      sizedCells(asg.join(broadcast(affected), Seq("cid")), maxCell), k)
    val srcCell = asg.select(col("vec_id").as("src"), col("cid"))
    val kept = prevGraph.join(srcCell, "src")
      .join(broadcast(affected), Seq("cid"), "left_anti")
      .select(col("src"), col("dst"), col("sim"))
    kept.unionByName(rebuilt)
  }

  /** GRAPH-BASED ANN — greedy beam search over the mutual k-NN graph
    * ([[knnGraph]]), the batch analogue of an HNSW base-layer query:
    * from a deterministic entry vertex (the graph's min vec_id), each
    * hop expands the beam's undirected neighbors, scores them against
    * the query by rounded cosine, and keeps the top-`beam` of
    * everything seen; after `hops` rounds the answer is the top-k of
    * all VISITED vertices. Fixed hops + round-4 sims + vec_id
    * tie-breaks make the search fully deterministic, so the oracle
    * unrolls the identical expansion. Recall < 1 by design (the
    * navigable-graph trade) — the spec pins a floor against brute
    * force.
    *
    * Shape: the graph build is [[knnGraph]]'s cell-bounded spine; each
    * hop is one frontier⋈neighbors equi-join + one embedding lookup +
    * a per-query top-beam — frontier bounded at |queries|·beam rows,
    * nothing corpus-sized re-shuffles per hop. */
  def graphAnnTopK(emb: DataFrame, queryIds: Seq[Long], k: Int,
      knnK: Int = 5, beam: Int = 8, hops: Int = 3, nlist: Int = 16,
      prebuilt: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // production passes the PERSISTED graph (GraphTables.knnGraph5 —
    // built once per corpus version); the default rebuilds live
    val g = prebuilt.getOrElse(knnGraph(emb, knnK, nlist))
    val nbrs = g.select(col("src").as("v"), col("dst").as("n"))
      .unionByName(g.select(col("dst").as("v"), col("src").as("n")))
      .repartition(col("v")).pin(eager = false)
    // per-query entry: the min-id member of the query's OWN cell — the
    // kNN graph is cell-restricted, so its components never span cells
    // and a global entry would strand most queries in the wrong
    // component (measured recall 0.18 → an in-cell entry searches the
    // right neighborhood; HNSW's hierarchical entry plays this role)
    val inCell = cellMembers(emb, nlist, 4096)
    val entries = inCell.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("cid"))
      .join(inCell.groupBy("cid").agg(min(col("vec_id")).as("ev")), "cid")
      .select(col("query_id"), col("ev"))
    val q = emb.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    def scored(cand: DataFrame): DataFrame = cand
      .join(emb.select(col("vec_id").as("v"), col("embedding")), "v")
      .join(broadcast(q), "query_id")
      .select(col("query_id"), col("v"),
        cosine(col("qv"), col("embedding")).as("sim"))
    var visited = scored(entries.select(col("query_id"), col("ev").as("v")))
      .pin(eager = true)
    var frontier = visited
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("v").asc)
    for (_ <- 1 to hops) {
      val cand = frontier
        .join(nbrs, "v")
        .select(col("query_id"), col("n").as("v")).distinct()
        .join(visited.select("query_id", "v"), Seq("query_id", "v"),
          "left_anti")
      // r19: ONE eager pin per hop, on the shared frame. candScored
      // feeds both the visited union and the beam window; pinning the
      // two DERIVED frames instead (the old spelling) re-ran the whole
      // cand+score join chain once per pin. The unions/window over
      // already-pinned inputs stay lazy — each consumer re-does only
      // the trivial union/window, never the joins (and the last hop's
      // unconsumed frontier is never computed at all).
      val candScored = scored(cand).pin(eager = true)
      visited = visited.unionByName(candScored)
      frontier = frontier.unionByName(candScored)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= beam).drop("rn")
    }
    visited.filter(col("v") =!= col("query_id"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("v").as("vec_id"), col("sim"),
        col("rank"))
  }

  def embeddingNearDupPairs(emb: DataFrame, threshold: Double,
      numPlanes: Int = 32, bands: Int = 4, maxBucket: Int = 4096): DataFrame = {
    val banded = bandedBuckets(emb, numPlanes, bands)
    val ok = banded.groupBy("band", "bucket").agg(count(lit(1)).as("bc"))
      .filter(col("bc") >= 2 && col("bc") <= maxBucket)
    val bandedOk = banded.join(ok.select("band", "bucket"), Seq("band", "bucket"))
    // forced shuffle join so the banding pipeline runs once (reused
    // exchange); the banded corpus is join-side-symmetric and at scale
    // never broadcastable
    val cand = bandedOk.as("x").hint("SHUFFLE_MERGE")
      .join(bandedOk.as("y").hint("SHUFFLE_MERGE"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket")
          && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
        col("x.embedding").as("ea"), col("y.embedding").as("eb"))
      .dropDuplicates("a", "b")
    cand.select(col("a"), col("b"), cosine(col("ea"), col("eb")).as("sim"))
      .filter(col("sim") >= threshold)
  }
}
