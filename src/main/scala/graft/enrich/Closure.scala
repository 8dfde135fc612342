package graft.enrich

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Bounded
import graft.ops.Pin._

/** Iterative graph closure — the reference's transitive enrichment passes
  * (ast_search/ast_manage.py:79-99: inherited-method propagation;
  * update_version + reachability shapes), generalized.
  *
  * Spark has no recursive-CTE operator, so fixpoint iteration is a driver
  * loop over DataFrame joins. Hygiene for scale:
  *  - pin each delta through [[graft.ops.Pin]] to cut lineage (otherwise
  *    plan depth grows linearly with iterations and planning time
  *    explodes);
  *  - dedup (`except`) against the accumulated set for termination on
  *    cycles — the reference's `processed_relations` set does the same;
  *  - the per-iteration join shuffles only the DELTA, not the full
  *    accumulated closure.
  */
object Closure {

  /** Default round cap of the fixpoint loops: pairs up to
    * `MaxRounds + 1` hops apart are found. */
  private[graft] val MaxRounds = 50

  /** All (descendant, ancestor) pairs reachable along child→parent `edges`
    * (columns src, dst). Depth-bounded only by the data (DAG assumed for
    * termination without dedup; dedup makes cycles safe too). */
  def transitiveClosure(edges: DataFrame, maxIter: Int = MaxRounds)
      : DataFrame = {
    // checkpointed hash-partitioned on src — the probe key of every
    // iteration's extension join, so only the delta side shuffles
    val base = edges.select(col("src"), col("dst")).distinct()
      .repartition(col("src")).pin(eager = false)
    var acc = base
    var delta = base
    // r19 job-count pass: lazy pin + count — ONE job per hop both
    // materializes the delta and probes the fixpoint
    var nDelta = delta.count()
    var i = 0
    while (i < maxIter && nDelta > 0) {
      // extend frontier one hop: delta(src,mid) ⋈ base(mid,dst)
      val next = delta.as("d")
        .join(base.as("b"), col("d.dst") === col("b.src"))
        .select(col("d.src").as("src"), col("b.dst").as("dst"))
        .distinct()
      // only the delta needs an eager checkpoint (it both terminates the
      // loop and feeds the next join); acc stays a shallow union tree of
      // already-checkpointed deltas, so its lineage never deepens.
      // anti-join ≡ except here (next is distinct, keys non-null) without
      // re-distincting the whole accumulated closure every iteration
      delta = next.join(acc, Seq("src", "dst"), "left_anti")
        .pin(eager = false)
      nDelta = delta.count()
      acc = acc.union(delta)
      i += 1
    }
    acc
  }

  /** D4 proper — inherited-method propagation (ast_manage.py:79-99): for
    * every (class, ancestor) pair in the INHERITS closure, copy the
    * ancestor's HAS_METHOD edges onto the class, skipping `__init__`
    * (ast_manage.py:92-93) and edges the class already has. Returns the
    * NEW HAS_METHOD edges only. */
  def inheritedMethods(inherits: DataFrame, hasMethod: DataFrame): DataFrame = {
    val closure = transitiveClosure(inherits) // (class, ancestor)
    val inherited = closure.as("c")
      .join(hasMethod.as("m"), col("c.dst") === col("m.src"))
      // reference: `'__init__' in method` — a SUBSTRING test
      // (ast_manage.py:92-93), not a suffix test; matched exactly
      .filter(!col("m.dst").contains("__init__"))
      .select(col("c.src").as("src"), col("m.dst").as("dst"))
      .distinct()
    inherited.except(hasMethod.select(col("src"), col("dst")))
  }

  /** Python's C3 merge: `L(C) = C + merge(L(B1)…L(Bn), [B1…Bn])`. Pick
    * the first list-head that appears in no other list's TAIL; remove it
    * everywhere; repeat. On a C3 inconsistency (Python raises TypeError
    * at class-creation time — such code cannot even import) we
    * best-effort take the first head, keeping the function total. */
  /** Driver-side [[c3Linearize]] for broadcast-sized hierarchies: the
    * same level-ordered computation (a class linearizes once all its
    * bases have; cycles never do and are absent), same [[c3Merge]]
    * kernel, one `parallelize` instead of a per-level job chain. */
  private[graft] def c3LinearizeLocal(edges: Seq[(String, String, Int)])
      : Seq[(String, List[String])] = {
    val bases: Map[String, List[String]] = edges.groupBy(_._1)
      .map { case (c, es) => c -> es.sortBy(e => (e._3, e._2)).map(_._2).toList }
    val memo = scala.collection.mutable.Map.empty[String, Option[List[String]]]
    val inProgress = scala.collection.mutable.Set.empty[String]
    def mro(c: String): Option[List[String]] = memo.getOrElseUpdate(c, {
      if (inProgress(c)) None // cycle: never linearizes
      else bases.get(c) match {
        case None => Some(List(c))
        case Some(bs) =>
          inProgress += c
          val sub = bs.map(mro)
          inProgress -= c
          if (sub.exists(_.isEmpty)) None
          else Some(c3Merge(c, sub.map(_.get) :+ bs).toList)
      }
    })
    val subclassed = edges.map(_._1).toSet
    val leaves = edges.map(_._2).filterNot(subclassed).distinct
      .map(c => (c, List(c)))
    val linearized = bases.keys.toSeq.sorted
      .flatMap(c => mro(c).map(m => (c, m)))
    leaves ++ linearized
  }

  private[graft] def c3Merge(head: String, seqs: Seq[List[String]]): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer(head)
    var lists = seqs.filter(_.nonEmpty)
    while (lists.nonEmpty) {
      val cand = lists.iterator.map(_.head)
        .find(h => !lists.exists(_.tail.contains(h)))
        .getOrElse(lists.head.head)
      out += cand
      lists = lists.map(_.filterNot(_ == cand)).filter(_.nonEmpty)
    }
    out.toSeq
  }

  /** C3 linearization of every class in the INHERITS graph — one
    * DataFrame fixpoint round per hierarchy LEVEL (a class linearizes
    * once all its bases have): bases that are never themselves a
    * subclass (external/stub bases) seed as `[self]`. Input columns
    * (src=class, dst=base, ord=base position in the class header);
    * missing `ord` ties break on the base NAME, deterministically.
    * Returns (cls, mro) with the class itself at position 0. Classes on
    * an inheritance CYCLE (illegal Python) never linearize and are
    * absent from the result.
    *
    * ADAPTIVE: an inheritance graph within the session's row budget
    * (`spark.graft.localThreshold`, see [[graft.ops.Bounded]] — class
    * hierarchies are broadcast-sized metadata even for enormous repos)
    * linearizes AT THE DRIVER with the same [[c3Merge]] kernel and
    * parallelizes the result, skipping one-Spark-job-per-hierarchy-LEVEL
    * fixpoint overhead; above it the distributed fixpoint runs
    * unchanged. Identical output either way (ClosureSpec pins the
    * equivalence). */
  def c3Linearize(inheritsOrd: DataFrame): DataFrame = {
    val spark = inheritsOrd.sparkSession
    import spark.implicits._
    val edges = inheritsOrd.select(col("src"), col("dst"),
      coalesce(col("ord"), lit(0)).cast("int").as("ord"))
    Bounded.take(edges)(
        r => (r.getString(0), r.getString(1), r.getInt(2)))
      .foreach(head => return c3LinearizeLocal(head.toSeq).toDF("cls", "mro"))
    val c3Udf = udf { (cls: String, bm: Seq[Row]) =>
      val bases = bm.map(_.getString(1)).toList
      val mros = bm.map(_.getSeq[String](2).toList)
      c3Merge(cls, mros :+ bases)
    }
    val parents = edges.groupBy("src").agg(
      array_sort(collect_list(struct(col("ord"), col("dst")))).as("bases"))
    val subclassed = edges.select(col("src").as("cls")).distinct()
    var done = edges.select(col("dst").as("cls")).distinct()
      .join(subclassed, Seq("cls"), "left_anti")
      .withColumn("mro", array(col("cls")))
      .pin(eager = false)
    var remaining = parents.pin(eager = false)
    var nRemaining = remaining.count()
    var progressed = true
    var rounds = 0
    while (progressed && rounds < 64 && nRemaining > 0) {
      rounds += 1
      val exploded = remaining.select(col("src"), explode(col("bases")).as("b"))
        .select(col("src"), col("b.ord").as("ord"), col("b.dst").as("base"))
      val joined = exploded
        .join(done.withColumnRenamed("cls", "base"), Seq("base"), "left")
      val agg = joined.groupBy("src").agg(
        count(lit(1)).as("nb"), count(col("mro")).as("nd"),
        array_sort(collect_list(struct(col("ord"), col("base"), col("mro"))))
          .as("bm"))
      val ready = agg.filter(col("nb") === col("nd"))
        .select(col("src").as("cls"), c3Udf(col("cls"), col("bm")).as("mro"))
        .pin(eager = false)
      progressed = ready.count() > 0
      if (progressed) {
        done = done.unionByName(ready).pin(eager = false)
        remaining = remaining.join(ready.select(col("cls").as("src")),
          Seq("src"), "left_anti").pin(eager = false)
        nRemaining = remaining.count()
      }
    }
    done
  }

  /** C11 — override detection (reference deep mode,
    * indexer_visitor.py:125-157: `goto(follow_override=True)` per
    * funcdef, emitted to Sourcetrail only): a method DEFINED on a class
    * overrides the method the class actually SHADOWS — the first
    * same-named definition along the class's Python MRO (C3
    * linearization over base order, [[c3Linearize]]), exactly what
    * jedi's goto resolves. One deterministic answer per method: in a
    * diamond `C(A, B)` with `A(X)`, `C.run` overrides `X.run`, not
    * `B.run` — MRO order `C, A, X, B` beats nearest-by-depth. Input
    * `inherits` may carry an `ord` column (base position, the
    * indexer's `ord` edge prop); without it ties break on the base
    * name. Returns (src=overriding method, dst=overridden ancestor
    * method). `hasMethod` must be the defined set (inherited copies
    * excluded by the caller). */
  def overrides(inherits: DataFrame, hasMethod: DataFrame): DataFrame = {
    val inheritsOrd =
      if (inherits.columns.contains("ord")) inherits
      else inherits.withColumn("ord", lit(0))
    val lin = c3Linearize(inheritsOrd) // (cls, mro incl. self at pos 0)
    def withName(df: DataFrame) = df
      .withColumn("_m", element_at(split(col("dst"), "\\."), -1))
    val anc = lin.select(col("cls"),
      posexplode(col("mro")).as(Seq("pos", "anc"))).filter(col("pos") > 0)
    withName(hasMethod).as("c")
      .join(anc, col("c.src") === col("cls"))
      .join(withName(hasMethod).as("a"),
        col("anc") === col("a.src") && col("c._m") === col("a._m"))
      .groupBy(col("c.dst").as("src"))
      .agg(min_by(col("a.dst"), col("pos")).as("dst"))
  }

  /** C3 slice 16 — zero-argument `super().m()` resolution (reference
    * deep mode resolves it through jedi, indexer_visitor.py:183-241):
    * the callee is the FIRST definition of `m` along the calling
    * class's C3 MRO AFTER the class itself — Python's own `super()`
    * binding, diamond-correct via [[c3Linearize]]. Input `calls` has
    * (cls, meth); returns (cls, meth, target) for resolvable pairs
    * only (an unresolved super-call yields nothing — the shallow
    * posture for unknown names). `hasMethod` must be the DEFINED
    * method set, inherited copies excluded. */
  def superResolve(inherits: DataFrame, hasMethod: DataFrame,
      calls: DataFrame): DataFrame = {
    val inheritsOrd =
      if (inherits.columns.contains("ord")) inherits
      else inherits.withColumn("ord", lit(0))
    val lin = c3Linearize(inheritsOrd)
    val anc = lin.select(col("cls"),
      posexplode(col("mro")).as(Seq("pos", "anc"))).filter(col("pos") > 0)
    val defs = hasMethod
      .withColumn("_m", element_at(split(col("dst"), "\\."), -1))
    calls.join(anc, Seq("cls"))
      .join(defs.as("a"),
        col("anc") === col("a.src") && col("meth") === col("a._m"))
      .groupBy(col("cls"), col("meth"))
      .agg(min_by(col("a.dst"), col("pos")).as("target"))
  }

  /** GraphX variant of the reachability closure for the analytics story:
    * Pregel propagating reachable-ancestor sets. Same interface; used when
    * the closure is deep/wide enough that per-iteration DataFrame job
    * setup dominates. Keys are hashed to Long vertex ids. */
  def transitiveClosureGraphX(spark: SparkSession, edges: DataFrame): DataFrame = {
    import org.apache.spark.graphx._
    import spark.implicits._
    val e = edges.select(col("src"), col("dst")).distinct()
      .select(xxhash64(col("src")).as("sid"), col("src"),
        xxhash64(col("dst")).as("did"), col("dst"))
      .cache()
    val names = e.select(col("sid").as("id"), col("src").as("name"))
      .union(e.select(col("did"), col("dst"))).distinct()
    val vertices = names.as[(Long, String)].rdd
    val edgeRdd = e.select(col("sid"), col("did")).as[(Long, Long)].rdd
      .map { case (s, d) => Edge(s, d, ()) }
    // propagate ancestor-id sets AGAINST edge direction (child accumulates
    // its parents' reachable sets)
    val g = Graph(vertices.map { case (id, _) => (id, Set.empty[Long]) }, edgeRdd)
    val res = g.pregel(Set.empty[Long], maxIterations = 50,
      activeDirection = EdgeDirection.In)(
      (_, have, msg) => have ++ msg,
      triplet => {
        val reach = triplet.dstAttr + triplet.dstId
        if (!reach.subsetOf(triplet.srcAttr)) Iterator((triplet.srcId, reach))
        else Iterator.empty
      },
      (a, b) => a ++ b)
    val pairs = res.vertices.flatMap { case (id, anc) => anc.map(a => (id, a)) }
      .toDF("sid", "did")
    val byName = names.withColumnRenamed("id", "sid").withColumnRenamed("name", "src")
    pairs.join(byName, "sid")
      .join(names.withColumnRenamed("id", "did").withColumnRenamed("name", "dst"), "did")
      .select("src", "dst")
  }
}
