package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.merge.Merge
import graft.model._

class MergeSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def ev(seq: Long, kind: String, fullName: String,
      name: String = "x", sig: Option[String] = None,
      code: Option[String] = None, props: Map[String, String] = Map.empty) =
    SymbolEvent(seq, "t1", kind, fullName, name, Some("f.py"), sig, None, code, props)

  test("mergeNodes: last-write-wins props, none->kind promotion (A1/A2)") {
    val events = Seq(
      ev(1, Kind.None_, "m.C", code = Some("old")),          // referenced first
      ev(2, Kind.Class, "m.C", sig = Some("class C:")),      // defined later
      ev(3, Kind.None_, "m.C", code = Some("new")),          // later prop write
      ev(1, Kind.None_, "m.unresolved")                      // never defined
    ).toDF()
    val out = Merge.mergeNodes(events).collect()
    val c = out.find(_.getString(0) == "m.C").get
    assert(c.getString(1) === Kind.Class)       // promoted, not reverted to none
    assert(c.getAs[String]("code") === "new")   // seq 3 beats seq 1
    assert(c.getAs[String]("signature") === "class C:") // null at seq 3 keeps seq 2
    val u = out.find(_.getString(0) == "m.unresolved").get
    assert(u.getString(1) === Kind.None_)
  }

  test("mergeNodes: open-ended props merge with later keys overwriting") {
    val events = Seq(
      ev(1, Kind.Function, "m.f", props = Map("a" -> "1", "b" -> "1")),
      ev(2, Kind.Function, "m.f", props = Map("b" -> "2", "c" -> "2"))
    ).toDF()
    val props = Merge.mergeNodes(events).collect()(0).getAs[Map[String, String]]("props")
    assert(props === Map("a" -> "1", "b" -> "2", "c" -> "2"))
  }

  test("mergeEdges: one row per (src, rel, dst), last props win (A4)") {
    val events = Seq(
      EdgeEvent(1, "t1", "m.C", Rel.HasMethod, "m.C.f", Map("v" -> "1")),
      EdgeEvent(2, "t1", "m.C", Rel.HasMethod, "m.C.f", Map("v" -> "2")),
      EdgeEvent(3, "t1", "m.C", Rel.HasField, "m.C.x", Map.empty)
    ).toDF()
    val out = Merge.mergeEdges(events).collect()
    assert(out.length === 2)
    val hm = out.find(_.getString(1) == Rel.HasMethod).get
    assert(hm.getAs[Map[String, String]]("props") === Map("v" -> "2"))
  }

  test("withStubs: edge endpoints missing from nodes become 'none' stubs (A4)") {
    val nodes = Merge.mergeNodes(Seq(ev(1, Kind.Class, "m.C")).toDF())
    val edges = Merge.mergeEdges(Seq(
      EdgeEvent(1, "t1", "m.C", Rel.Inherits, "ext.Base", Map.empty)).toDF())
    val out = Merge.withStubs(nodes, edges, "t1").collect()
    assert(out.length === 2)
    val stub = out.find(_.getString(0) == "ext.Base").get
    assert(stub.getString(1) === Kind.None_)
    assert(stub.getAs[String]("name") === "Base") // last path element
  }

  test("upsertInto is idempotent and promotes labels") {
    val batch1 = Merge.mergeNodes(Seq(ev(1, Kind.None_, "m.C", code = Some("c1"))).toDF())
    val batch2 = Merge.mergeNodes(Seq(ev(1, Kind.Class, "m.C", sig = Some("class C:"))).toDF())
    val once = Merge.upsertInto(batch1, batch2)
    val twice = Merge.upsertInto(once, batch2)
    assert(once.collect().toSet === twice.collect().toSet)
    val r = once.collect()(0)
    assert(r.getString(1) === Kind.Class)
    assert(r.getAs[String]("code") === "c1") // old prop survives the upsert
  }

  test("MergeLocal folds random event streams to Merge's tables row for " +
      "row: column LWW, label promotion, task sets, props fold, stubs") {
    def rows(rs: Seq[org.apache.spark.sql.Row]) =
      rs.groupBy(identity).view.mapValues(_.size).toMap
    (1 to 5).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      def pick[A](as: A*): A = as(rnd.nextInt(as.size))
      def opt(s: String) = pick(None, Some(s))
      def props = (1 to rnd.nextInt(3)).map(_ =>
        pick("a", "b", "c") -> rnd.nextInt(5).toString).toMap
      // unique seqs: two events of one key never tie
      val seqs = rnd.shuffle((1L to 400L).toVector)
      val symbols = seqs.take(200).map(s => SymbolEvent(s,
        pick("t1", "t2", null), pick(Kind.None_, Kind.Class, Kind.Function),
        s"m.k${rnd.nextInt(12)}", pick("n1", "n2", null), opt("f.py"),
        opt(s"sig$s"), opt("C"), opt(s"code$s"), props))
      val edgeEvents = seqs.drop(200).map(s => EdgeEvent(s, "t1",
        s"m.k${rnd.nextInt(16)}", pick(Rel.Call, Rel.Contains),
        s"m.k${rnd.nextInt(16)}", props))
      val edges = Merge.mergeEdges(edgeEvents.toDF())
      val nodes = Merge.withStubs(Merge.mergeNodes(symbols.toDF()), edges, "t9")
      val localNodes = graft.merge.MergeLocal.nodes(symbols)
      val localEdges = graft.merge.MergeLocal.edges(edgeEvents)
      val named = localNodes.map(_.getString(0)).toSet
      assert(rows(nodes.collect().toSeq) === rows(localNodes ++
        graft.merge.MergeLocal.stubs(named, localEdges, "t9")), s"seed $seed")
      assert(rows(edges.collect().toSeq) === rows(localEdges.map(e =>
        org.apache.spark.sql.Row(e.src, e.relType, e.dst, e.props))),
        s"seed $seed")
    }
  }
}
