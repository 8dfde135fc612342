package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.enrich.Closure

class ClosureSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("transitiveClosure on a chain reaches all ancestors") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("src", "dst")
    val out = Closure.transitiveClosure(edges).as[(String, String)].collect().toSet
    assert(out === Set(("a","b"),("b","c"),("c","d"),("a","c"),("b","d"),("a","d")))
  }

  test("transitiveClosure on a diamond dedups the shared ancestor") {
    val edges = Seq(("d", "b"), ("d", "c"), ("b", "a"), ("c", "a")).toDF("src", "dst")
    val out = Closure.transitiveClosure(edges).as[(String, String)].collect().toSet
    assert(out === Set(("d","b"),("d","c"),("b","a"),("c","a"),("d","a")))
  }

  test("transitiveClosure terminates on cycles") {
    val edges = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val out = Closure.transitiveClosure(edges).as[(String, String)].collect().toSet
    assert(out === Set(("a","b"),("b","a"),("a","a"),("b","b")))
  }

  test("inheritedMethods copies ancestor methods, skips __init__ and existing") {
    val inherits = Seq(("Sub", "Base"), ("Base", "Root")).toDF("src", "dst")
    val hasMethod = Seq(
      ("Base", "Base.run"), ("Base", "Base.__init__"),
      ("Root", "Root.close"), ("Sub", "Sub.run")).toDF("src", "dst")
    val out = Closure.inheritedMethods(inherits, hasMethod)
      .as[(String, String)].collect().toSet
    // Sub inherits Base.run + Root.close; Base inherits Root.close;
    // __init__ never propagates (ast_manage.py:92-93)
    assert(out === Set(("Sub","Base.run"),("Sub","Root.close"),("Base","Root.close")))
  }

  test("overrides resolves to the NEAREST defining ancestor only") {
    // C -> B -> A, all defining run(); D -> C defines nothing
    val inherits = Seq(("C", "B"), ("B", "A"), ("D", "C"))
      .toDF("src", "dst")
    val hasMethod = Seq(
      ("A", "A.run"), ("B", "B.run"), ("C", "C.run"),
      ("A", "A.close"), ("C", "C.close"), ("D", "D.only"))
      .toDF("src", "dst")
    val out = Closure.overrides(inherits, hasMethod)
      .as[(String, String)].collect().toSet
    assert(out === Set(
      ("C.run", "B.run"),   // NOT ("C.run", "A.run") — jedi's goto
      ("B.run", "A.run"),   // resolves one level per definition
      ("C.close", "A.close")// skips B (no close there) to the definer
    ))
  }

  test("overrides consults base ORDER via the MRO: C(B, A) shadows B first") {
    // with explicit ord, the MRO is C, B, A — B.run is what C.run shadows
    val inherits = Seq(("C", "A", 1), ("C", "B", 0)).toDF("src", "dst", "ord")
    val hasMethod = Seq(
      ("A", "A.run"), ("B", "B.run"), ("C", "C.run")).toDF("src", "dst")
    val out = Closure.overrides(inherits, hasMethod)
      .as[(String, String)].collect().toSet
    assert(out === Set(("C.run", "B.run")))
    // without ord, the tie breaks deterministically on the base name
    val noOrd = Closure.overrides(
      Seq(("C", "A"), ("C", "B")).toDF("src", "dst"), hasMethod)
      .as[(String, String)].collect().toSet
    assert(noOrd === Set(("C.run", "A.run")))
  }

  test("overrides follows the C3 MRO through a diamond, not nearest depth") {
    // C(A, B), A(X): Python's MRO is C, A, X, B — so C.run overrides
    // X.run (depth 2 through the left branch) even though B.run sits at
    // depth 1; nearest-by-depth would answer B.run and be wrong
    val inherits = Seq(("C", "A", 0), ("C", "B", 1), ("A", "X", 0))
      .toDF("src", "dst", "ord")
    val hasMethod = Seq(
      ("X", "X.run"), ("B", "B.run"), ("C", "C.run")).toDF("src", "dst")
    val out = Closure.overrides(inherits, hasMethod)
      .as[(String, String)].collect().toSet
    assert(out === Set(("C.run", "X.run")))
  }

  test("c3Linearize matches Python on the classic diamond") {
    val inherits = Seq(
      ("D", "B", 0), ("D", "C", 1), ("B", "A", 0), ("C", "A", 0))
      .toDF("src", "dst", "ord")
    val mro = Closure.c3Linearize(inherits)
      .as[(String, Seq[String])].collect().toMap
    assert(mro("D") === Seq("D", "B", "C", "A"))
    assert(mro("B") === Seq("B", "A"))
    assert(mro("A") === Seq("A"))
  }

  test("GraphX closure agrees with the DataFrame fixpoint on a random DAG") {
    val rnd = new scala.util.Random(11)
    // random DAG: edges only from higher to lower index -> acyclic
    val edges = (0 until 40).flatMap { _ =>
      val a = rnd.nextInt(12); val b = rnd.nextInt(12)
      if (a > b) Some((s"n$a", s"n$b")) else None
    }.distinct.toDF("src", "dst")
    val df = Closure.transitiveClosure(edges).as[(String, String)].collect().toSet
    val gx = Closure.transitiveClosureGraphX(spark, edges)
      .as[(String, String)].collect().toSet
    assert(df === gx)
  }

  test("c3Linearize: driver-local fast path equals the distributed " +
    "fixpoint on random multi-inheritance DAGs (and drops cycles)") {
    val rnd = new scala.util.Random(11)
    def distributed[T](body: => T): T =
      IngestArms.under(IngestArms.Distributed)(body)
    (1 to 3).foreach { _ =>
      // layered DAG: each class inherits 1-3 earlier classes, ordered
      val n = 18
      val edges = (1 until n).flatMap { i =>
        val nb = 1 + rnd.nextInt(math.min(3, i))
        rnd.shuffle((0 until i).toList).take(nb).zipWithIndex
          .map { case (b, ord) => (s"C$i", s"C$b", ord) }
      }
      val df = edges.toDF("src", "dst", "ord")
      val local = Closure.c3Linearize(df)
        .as[(String, Seq[String])].collect().toMap
      val dist = distributed(Closure.c3Linearize(df)
        .as[(String, Seq[String])].collect().toMap)
      assert(local === dist)
    }
    // a cycle never linearizes on either path; the acyclic rest does
    val cyc = Seq(("A", "B", 0), ("B", "A", 0), ("D", "E", 0))
      .toDF("src", "dst", "ord")
    val local = Closure.c3Linearize(cyc)
      .as[(String, Seq[String])].collect().toMap
    val dist = distributed(Closure.c3Linearize(cyc)
      .as[(String, Seq[String])].collect().toMap)
    assert(!local.contains("A") && !local.contains("B"))
    assert(local("D") === Seq("D", "E") && local("E") === Seq("E"))
    assert(local === dist)
  }
}
