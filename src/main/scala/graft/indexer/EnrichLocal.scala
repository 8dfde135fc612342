package graft.indexer

import scala.collection.mutable

import graft.enrich.Closure
import graft.model.{Kind, Rel}

/** D1–D4 enrichment in one in-memory pass, for a merged graph that fits
  * on the driver — the reference's own posture (ast_manage.py:79-160
  * runs the whole pass in one process). Row for row the same graph as
  * [[IndexPipeline]]'s distributed arm, which is its reference:
  *
  *  - a repeated alias FQN fans the re-export chase out, as the
  *    distributed left join does, so aliases map to every target;
  *  - the INHERITS closure reaches as far as
  *    [[Closure.transitiveClosure]] does (its base hop plus its rounds);
  *  - every "dropDuplicates(src, rel_type, dst)" keeps the first row of
  *    a key in union order;
  *  - C11 rebinds a call to every inherited definition of the method,
  *    not only the first in MRO order.
  */
private[indexer] object EnrichLocal {

  final case class Edge(src: String, rel: String, dst: String,
      props: Map[String, String])
  final case class Import(module: String, alias: String, target: String,
      kind: String)

  /** The enriched edges, the stub names they need beyond the real
    * nodes, and the call targets whose REFERENCE locations drop. */
  final case class Out(edges: Seq[Edge], stubs: Seq[String],
      dropped: Set[String])

  private val ImportProps = Map("association_type" -> "IMPORT")
  private val SuperSent = ".__super__."
  private val Dynamic = Seq("__getattr__", "__getattribute__")
  private val ClosureHops = 1 + Closure.MaxRounds

  /** `name` up to its last dot ("" without one) and the segment after
    * it — the distributed arm's `substring`/`element_at(split(…), -1)`. */
  private def owner(name: String): String = {
    val i = name.lastIndexOf('.')
    if (i < 0) "" else name.substring(0, i)
  }
  private def member(name: String): String =
    name.substring(name.lastIndexOf('.') + 1)

  private def dedup(es: Iterator[Edge]): Vector[Edge] = {
    val seen = mutable.HashSet.empty[(String, String, String)]
    es.filter(e => seen.add((e.src, e.rel, e.dst))).toVector
  }

  /** `nodes` are (full_name, kind) pairs of the merged node table. */
  def run(edges: Seq[Edge], nodes: Seq[(String, String)],
      imports: Seq[Import]): Out = {
    val defined = nodes.collect {
      case (n, k) if k != null && k != Kind.None_ => n }.toSet
    val classes = nodes.collect { case (n, Kind.Class) => n }.toSet

    // D2 — re-export chasing, two hops; defined names stay put
    val reexports = imports.filter(_.kind == "name")
      .groupMap(i => s"${i.module}.${i.alias}")(_.target)
    def chase(t: String): Seq[String] = (1 to 2).foldLeft(Seq(t)) {
      (ts, _) => ts.flatMap(x =>
        if (defined(x)) Seq(x) else reexports.getOrElse(x, Seq(x))).distinct
    }
    val edges1 = edges.flatMap(e => chase(e.dst).map(d => e.copy(dst = d)))

    // D1/D2 — named import containment (defined targets only), then the
    // wildcard expansion over the edge set that already holds it
    val contains1 = edges1 ++ imports.filter(_.kind == "name").flatMap(i =>
      chase(i.target).filter(defined)
        .map(Edge(i.module, Rel.Contains, _, ImportProps)))
    val members =
      contains1.filter(_.rel == Rel.Contains).groupMap(_.src)(_.dst)
    val withImports = dedup(contains1.iterator ++
      imports.iterator.filter(_.kind == "wildcard").flatMap(i =>
        members.getOrElse(i.target, Nil)
          .map(Edge(i.module, Rel.Contains, _, ImportProps))))

    // D4 — inherited HAS_METHOD copies along the INHERITS closure,
    // `__init__` skipped by a substring test (ast_manage.py:92-93)
    def adjacency(rel: String) =
      withImports.filter(_.rel == rel).groupMap(_.src)(_.dst)
    val parents = adjacency(Rel.Inherits)
    val methods = adjacency(Rel.HasMethod)
    val hasMethod =
      methods.iterator.flatMap { case (c, ms) => ms.map((c, _)) }.toSet
    def ancestors(c: String): Set[String] = {
      var seen = Set.empty[String]
      var frontier = Set(c)
      var hop = 0
      while (frontier.nonEmpty && hop < ClosureHops) {
        frontier = frontier.flatMap(parents.getOrElse(_, Nil)) -- seen
        seen ++= frontier
        hop += 1
      }
      seen
    }
    val inherited = (for {
      c <- parents.keys.toVector.sorted
      a <- ancestors(c).toVector.sorted
      m <- methods.getOrElse(a, Nil)
      if !m.contains("__init__") && !hasMethod((c, m))
    } yield (c, m)).distinct
    val withInherited0 = withImports ++ inherited.map { case (c, m) =>
      Edge(c, Rel.HasMethod, m, Map("inherited" -> "true")) }

    // C3 slice 16 — `super().m()` sentinels bind to the first definition
    // of m after the class along its C3 MRO; unresolved ones drop
    def isSuper(e: Edge) = e.rel == Rel.Call && e.dst.contains(SuperSent)
    val withInherited =
      if (!withInherited0.exists(isSuper)) withInherited0
      else {
        val mro = Closure.c3LinearizeLocal(
          withImports.filter(_.rel == Rel.Inherits).map(e => (e.src, e.dst,
            e.props.get("ord").flatMap(_.trim.toIntOption).getOrElse(0))))
          .toMap
        def resolve(e: Edge): Option[Edge] = {
          val cls = e.dst.substring(0, e.dst.indexOf(SuperSent))
          val meth =
            e.dst.substring(e.dst.lastIndexOf(SuperSent) + SuperSent.length)
          mro.get(cls).flatMap(_.iterator.drop(1)
            .flatMap(a => methods.getOrElse(a, Nil).find(member(_) == meth))
            .nextOption())
            .map(t => e.copy(dst = t))
        }
        dedup(withInherited0.iterator.filterNot(isSuper) ++
          withInherited0.iterator.filter(isSuper).flatMap(resolve))
      }

    // C11 — a call to an undefined Class.m rebinds to every inherited
    // definition of m; with none, it drops when Class is an indexed class
    // that cannot answer member takes dynamically
    val inheritedDefs =
      inherited.groupMap { case (c, m) => (c, member(m)) }(_._2)
    val dynamic = defined.filter(n => Dynamic.exists(d => n.endsWith("." + d)))
      .map(owner) ++
      inherited.collect { case (c, m) if Dynamic.contains(member(m)) => c }
    val dropped = mutable.HashSet.empty[String]
    val finalEdges = dedup(withInherited.iterator.flatMap { e =>
      if (e.rel != Rel.Call || defined(e.dst)) Iterator.single(e)
      else {
        val cls = owner(e.dst)
        inheritedDefs.get((cls, member(e.dst))) match {
          case Some(defs) => defs.iterator.map(d => e.copy(dst = d))
          case None if classes(cls) && !dynamic(cls) =>
            dropped += e.dst
            Iterator.empty
          case None => Iterator.single(e)
        }
      }
    })

    // stub reconciliation: endpoints no real node names
    val stubs = finalEdges.iterator.flatMap(e => Iterator(e.src, e.dst))
      .filterNot(defined).distinct.toVector
    Out(finalEdges, stubs, dropped.toSet)
  }
}
