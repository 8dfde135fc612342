package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.indexer.{IndexPipeline, PyIndexer}
import graft.indexer.IndexPipeline.SourceFile
import graft.model._

/** Golden tests over a miniature fixture repo shaped like the reference's
  * test_repo (run_mutiprocess.py:91-99): packages, classes, inheritance,
  * methods, fields, globals, imports, calls. */
class IndexerSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val mainPy =
    """import folder1.file1
      |from folder1.file2 import Helper, helper_fn as hf
      |
      |GLOBAL_X = 42
      |
      |
      |def main():
      |    h = Helper()
      |    hf()
      |    local_fn(GLOBAL_X)
      |
      |
      |def local_fn(v):
      |    return v + GLOBAL_X
      |""".stripMargin

  private val file1Py =
    """class Base:
      |    kind = "base"
      |
      |    def __init__(self):
      |        self.count = 0
      |
      |    def run(self):
      |        self.count += 1
      |        return self.count
      |
      |
      |class Child(Base):
      |    def extra(self):
      |        return self.run()
      |""".stripMargin

  private val file2Py =
    """'''Module docstring
      |spanning lines.'''
      |
      |
      |class Helper:
      |    def help(self):
      |        pass
      |
      |
      |def helper_fn():
      |    return Helper()
      |""".stripMargin

  private lazy val fixture = Seq(
    SourceFile("main.py", mainPy),
    SourceFile("folder1/file1.py", file1Py),
    SourceFile("folder1/file2.py", file2Py)).toDS()

  private lazy val ix = IngestArms.both(fixture, "t1")

  test("moduleName: dotted path, __init__ collapse (C10)") {
    assert(PyIndexer.moduleName("main.py") === "main")
    assert(PyIndexer.moduleName("folder1/file1.py") === "folder1.file1")
    assert(PyIndexer.moduleName("pkg/__init__.py") === "pkg")
  }

  test("symbols: modules, classes, functions, methods with right kinds") {
    val kinds = ix.nodes.select("full_name", "kind")
      .as[(String, String)].collect().toMap
    assert(kinds("main") === Kind.Module)
    assert(kinds("folder1.file1.Base") === Kind.Class)
    assert(kinds("folder1.file1.Base.run") === Kind.Method)
    assert(kinds("main.main") === Kind.Function)
    assert(kinds("main.GLOBAL_X") === Kind.GlobalVariable)
    assert(kinds("folder1.file1.Base.count") === Kind.Field)
    assert(kinds("folder1.file1.Base.kind") === Kind.Field)
  }

  test("method re-kind rule and clazz backpointer (C6)") {
    val row = ix.nodes.filter(col("full_name") === "folder1.file1.Child.extra")
      .select("kind", "clazz").as[(String, String)].collect()(0)
    assert(row === ((Kind.Method, "folder1.file1.Child")))
  }

  test("edges: CONTAINS from module, HAS_METHOD, HAS_FIELD, INHERITS") {
    val es = ix.edges.select("src", "rel_type", "dst")
      .as[(String, String, String)].collect().toSet
    assert(es.contains(("main", Rel.Contains, "main.main")))
    assert(es.contains(("main", Rel.Contains, "main.GLOBAL_X")))
    assert(es.contains(("folder1.file1", Rel.Contains, "folder1.file1.Base")))
    assert(es.contains(("folder1.file1.Base", Rel.HasMethod, "folder1.file1.Base.run")))
    assert(es.contains(("folder1.file1.Base", Rel.HasField, "folder1.file1.Base.count")))
    assert(es.contains(("folder1.file1.Child", Rel.Inherits, "folder1.file1.Base")))
  }

  test("CALL edges resolve self-methods, imports, and local defs (C9)") {
    val calls = ix.edges.filter(col("rel_type") === Rel.Call)
      .select("src", "dst").as[(String, String)].collect().toSet
    assert(calls.contains(("main.main", "folder1.file2.Helper")))      // Helper()
    assert(calls.contains(("main.main", "folder1.file2.helper_fn")))   // hf() alias
    assert(calls.contains(("main.main", "main.local_fn")))
    assert(calls.contains(("folder1.file1.Child.extra", "folder1.file1.Base.run"))
      || calls.contains(("folder1.file1.Child.extra", "folder1.file1.Child.run")))
    // module-level calls are dropped (myClient.py:291-297)
    assert(!calls.exists(_._1 == "main"))
  }

  test("C3 partial: instance-typed x.method() resolves via constructor binding") {
    val src =
      """from lib import Helper
        |
        |class Local:
        |    def m(self):
        |        pass
        |
        |def work():
        |    h = Helper()
        |    h.run(1)
        |    c = Local()
        |    c.m()
        |    unknown = mystery()
        |    unknown.x()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t1", "w.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    assert(calls.contains(("w.work", "lib.Helper")))       // constructor
    assert(calls.contains(("w.work", "lib.Helper.run")))   // typed instance call
    assert(calls.contains(("w.work", "w.Local")))
    assert(calls.contains(("w.work", "w.Local.m")))
    // a lowercase/unresolvable RHS binds nothing: unknown.x() stays dropped
    assert(!calls.exists(_._2.endsWith(".x")))
  }

  test("C3 partial: constructor-typed self.field.method() resolves class-wide") {
    val src =
      """from lib import Helper
        |
        |class Owner:
        |    def __init__(self):
        |        self.h = Helper()
        |
        |    def use(self):
        |        return self.h.run()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t1", "o.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    assert(calls.contains(("o.Owner.__init__", "lib.Helper")))
    assert(calls.contains(("o.Owner.use", "lib.Helper.run")))
  }

  test("C3 partial: PEP 484 param annotations type the parameter") {
    val src =
      """from lib import Helper
        |
        |def work(h: Helper, n: int):
        |    return h.run(n)
        |
        |class Owner:
        |    def go(self,
        |           other: Helper):
        |        return other.ping()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t1", "a.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    assert(calls.contains(("a.work", "lib.Helper.run")))
    // annotation on a CONTINUATION line of a multi-line header also binds
    assert(calls.contains(("a.Owner.go", "lib.Helper.ping")))
    // lowercase annotations (int) bind nothing
    assert(!calls.exists(_._2.startsWith("int")))
  }

  test("C3 partial: dataclass-style class-body annotations type fields") {
    val src =
      """from lib import Helper
        |
        |class Box:
        |    h: Helper
        |    n: int = 0
        |
        |    def use(self):
        |        return self.h.run()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t1", "b.py", src)
    val fields = ev.symbols.filter(_.kind == Kind.Field).map(_.fullName).toSet
    assert(fields === Set("b.Box.h", "b.Box.n"))
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    assert(calls.contains(("b.Box.use", "lib.Helper.run")))
  }

  test("C3 partial: `-> Type` return annotations type call results") {
    val src =
      """from lib import Helper
        |
        |def use():
        |    h = make()
        |    return h.run()
        |
        |def make() -> Helper:
        |    return Helper()
        |
        |class Factory:
        |    def build(self) -> Helper:
        |        return Helper()
        |
        |    def go(self):
        |        x = self.build()
        |        return x.ping()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t1", "r.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    // make() is defined AFTER use(): the pre-pass still keys its return
    assert(calls.contains(("r.use", "lib.Helper.run")))
    // method return annotations resolve self.build() results too
    assert(calls.contains(("r.Factory.go", "lib.Helper.ping")))
  }

  test("C3 slice 8: un-annotated returns propagate (ctor / typed local / self)") {
    val src =
      """from lib import Helper
        |
        |def use():
        |    h = make()
        |    return h.run()
        |
        |def make():
        |    return Helper()
        |
        |def via_local():
        |    x = indirect()
        |    return x.ping()
        |
        |def indirect():
        |    tmp = Helper()
        |    return tmp
        |
        |class Builder:
        |    def chain(self):
        |        return self
        |
        |def fluent():
        |    b = Builder().chain()
        |    return b
        |
        |def use_fluent():
        |    c = helper_from_builder()
        |    return c.finish()
        |
        |def helper_from_builder():
        |    b = Builder()
        |    return b
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t1", "i.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    // make() has NO -> annotation; its body returns Helper() — the
    // inferred return still types h (the declared-annotation test's twin)
    assert(calls.contains(("i.use", "lib.Helper.run")))
    // `return tmp` where tmp = Helper() earlier in the def
    assert(calls.contains(("i.via_local", "lib.Helper.ping")))
    // `return b` where b = Builder(): a same-module class type; calling
    // a method through it resolves against the local class
    assert(calls.contains(("i.use_fluent", "i.Builder.finish")))
  }

  test("C3 slice 8: declared annotation beats the inferred return") {
    val src =
      """from lib import Helper, Other
        |
        |def use():
        |    h = make()
        |    return h.run()
        |
        |def make() -> Helper:
        |    return Other()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t1", "p.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    assert(calls.contains(("p.use", "lib.Helper.run")))
    assert(!calls.contains(("p.use", "lib.Other.run")))
  }

  test("C3 slice 9: container element types bind iteration and subscript targets") {
    val src =
      """from lib import Helper
        |
        |def use(xs: list[Helper]):
        |    for h in xs:
        |        h.run()
        |    first = xs[0]
        |    return first.ping()
        |
        |def local_container():
        |    ys: Sequence[Helper] = load()
        |    for y in ys:
        |        y.go()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t1", "c9.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    // param container: iteration target and subscript read both typed
    assert(calls.contains(("c9.use", "lib.Helper.run")))
    assert(calls.contains(("c9.use", "lib.Helper.ping")))
    // annotated local container
    assert(calls.contains(("c9.local_container", "lib.Helper.go")))
  }

  test("C3 slices 8-9 negative: no false bindings from unknowns or dicts") {
    val src =
      """from lib import Helper
        |
        |def use():
        |    x = mystery()
        |    return x.run()
        |
        |def mystery():
        |    return unknown_thing
        |
        |def keys_only(xs: dict[str, Helper]):
        |    for h in xs:
        |        h.run()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t1", "n.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    // mystery() returns an untyped name -> x must stay unbound (no
    // fabricated Helper edge)
    assert(!calls.exists { case (s, d) =>
      s == "n.use" && d.endsWith("Helper.run") })
    // dict iteration yields KEYS, not values — the container slice must
    // not bind h to Helper (dict is deliberately outside containerAnno)
    assert(!calls.exists { case (s, d) =>
      s == "n.keys_only" && d.endsWith("Helper.run") })
  }

  test("C3 slice 11: except-as binds the handler target to the " +
      "exception class; builtins stay unbound") {
    val src =
      """class ParseError(Exception):
        |    def explain(self):
        |        return 'bad'
        |
        |def risky():
        |    try:
        |        work()
        |    except ParseError as e:
        |        return e.explain()
        |    except ValueError as v:
        |        return v.args
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t1", "exc.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    // e is ParseError → e.explain() resolves to the class method
    assert(calls.contains(("exc.risky", "exc.ParseError.explain")))
    // v is a builtin the module can't resolve → no fabricated edge
    assert(!calls.exists(_._2.endsWith("ValueError.args")))
    // both as-targets are LOCAL definitions inside risky (A9 rows)
    val locals = ev.locations.filter(_.kind == "LOCAL")
      .map(_.symbolFullName).toSet
    assert(locals.contains("exc.risky<e>"))
    assert(locals.contains("exc.risky<v>"))
  }

  test("C3 slice 12: homogeneous constructor lists bind element types") {
    val src =
      """from lib import Helper
        |
        |def use():
        |    xs = [Helper(), Helper(2, 3)]
        |    for y in xs:
        |        y.run()
        |    z = xs[0]
        |    z.stop()
        |
        |def mixed():
        |    ms = [Helper(), unknown_factory()]
        |    for w in ms:
        |        w.run()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t1", "lst.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    // iteration target and subscript read both carry the element type
    assert(calls.contains(("lst.use", "lib.Helper.run")))
    assert(calls.contains(("lst.use", "lib.Helper.stop")))
    // a mixed list (one item unresolvable) binds nothing — no
    // fabricated resolution for w
    assert(!calls.contains(("lst.mixed", "lib.Helper.run")))
  }

  test("C3 slice 14: tuple unpacking binds positions independently") {
    val src =
      """from lib import Helper, Other
        |
        |def use():
        |    a, b = Helper(), Other()
        |    a.run()
        |    b.spin()
        |
        |def partial():
        |    c, d = Helper(), unknown_factory()
        |    c.run()
        |    d.spin()
        |
        |def arity():
        |    e, f = make_pair()
        |    e.run()
        |
        |def names():
        |    h = Helper()
        |    x, y = h, Other()
        |    x.run()
        |    y.spin()
        |
        |def chained():
        |    p = q = Helper()
        |    p.run()
        |    q.stop()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t1", "tup.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    // parallel positions bind independently
    assert(calls.contains(("tup.use", "lib.Helper.run")))
    assert(calls.contains(("tup.use", "lib.Other.spin")))
    // an unresolvable position voids only ITS target
    assert(calls.contains(("tup.partial", "lib.Helper.run")))
    assert(!calls.contains(("tup.partial", "lib.Other.spin")))
    // arity mismatch (single call RHS) binds nothing
    assert(!calls.contains(("tup.arity", "lib.Helper.run")))
    // typed bare names flow through positions
    assert(calls.contains(("tup.names", "lib.Helper.run")))
    assert(calls.contains(("tup.names", "lib.Other.spin")))
    // chained a = b = Ctor() types both targets
    assert(calls.contains(("tup.chained", "lib.Helper.run")))
    assert(calls.contains(("tup.chained", "lib.Helper.stop")))
    // tuple targets are LOCAL definitions inside the callable
    val locals = ev.locations.filter(_.kind == "LOCAL").map(_.symbolFullName).toSet
    assert(locals.contains("tup.use<a>"))
    assert(locals.contains("tup.use<b>"))
  }

  test("C3 slice 15: walrus bindings type their target") {
    val src =
      """from lib import Helper
        |
        |def use(reader):
        |    if (h := Helper()) is not None:
        |        h.run()
        |    while (nxt := Helper(1)):
        |        nxt.stop()
        |
        |def miss(reader):
        |    if (u := unknown_factory()):
        |        u.run()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t1", "wal.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    assert(calls.contains(("wal.use", "lib.Helper.run")))
    assert(calls.contains(("wal.use", "lib.Helper.stop")))
    assert(!calls.exists(_._2.contains("unknown")))
    // walrus targets are LOCAL definitions (Python scopes them to the
    // enclosing function)
    val locals = ev.locations.filter(_.kind == "LOCAL").map(_.symbolFullName).toSet
    assert(locals.contains("wal.use<h>"))
    assert(locals.contains("wal.use<nxt>"))
  }

  test("C3 slice 10: method returns chain through typed receivers") {
    val src =
      """from lib import Helper, Other
        |
        |class Service:
        |    def connect(self) -> Helper:
        |        return Helper()
        |
        |class Registry:
        |    def connect(self) -> Other:
        |        return Other()
        |
        |    def open(self):
        |        return Helper()
        |
        |def use():
        |    svc = Service()
        |    conn = svc.connect()
        |    return conn.run()
        |
        |def keyed():
        |    s = Service()
        |    r = Registry()
        |    a = s.connect()
        |    b = r.connect()
        |    a.ping()
        |    b.ping()
        |
        |def inferred():
        |    r = Registry()
        |    h = r.open()
        |    return h.go()
        |
        |def one_liner():
        |    x = Service().connect()
        |    return x.fly()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t1", "s10.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    // `conn = svc.connect()` resolves through the LOCAL's class to the
    // method's declared return — the (class, method) keying
    assert(calls.contains(("s10.use", "lib.Helper.run")))
    // two classes sharing a method name resolve per-receiver, not by
    // bare method name
    assert(calls.contains(("s10.keyed", "lib.Helper.ping")))
    assert(calls.contains(("s10.keyed", "lib.Other.ping")))
    // un-annotated method body `return Helper()` feeds the same chain
    assert(calls.contains(("s10.inferred", "lib.Helper.go")))
    // one-line ctor chain `Service().connect()` binds the FINAL return
    // type, not the head constructor's class
    assert(calls.contains(("s10.one_liner", "lib.Helper.fly")))
    assert(!calls.exists { case (s, d) =>
      s == "s10.one_liner" && d == "s10.Service.fly" })
  }

  test("C3 slice 10 negative: untyped middles bind nothing") {
    val src =
      """from lib import Helper
        |
        |class Service:
        |    def connect(self) -> Helper:
        |        return Helper()
        |
        |def untyped_receiver(svc):
        |    c = svc.connect()
        |    return c.run()
        |
        |def untyped_method():
        |    s = Service()
        |    q = s.mystery()
        |    return q.run()
        |
        |def unknown_head():
        |    z = Unknown().connect()
        |    return z.run()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t1", "s10n.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    // svc has no type (bare param) -> c stays unbound
    assert(!calls.exists { case (s, d) =>
      s == "s10n.untyped_receiver" && d.endsWith("Helper.run") })
    // Service.mystery does not exist -> q stays unbound (no Helper edge,
    // no half-resolved ghost through the missing method)
    assert(!calls.exists { case (s, d) =>
      s == "s10n.untyped_method" && (d.endsWith("Helper.run") || d.contains("mystery.")) })
    // Unknown is not a known class -> the chain must not fabricate a type
    assert(!calls.exists { case (s, d) =>
      s == "s10n.unknown_head" && d.endsWith("Helper.run") })
  }

  test("C3 slice 13: attribute chains through method returns") {
    val src =
      """from lib import Helper
        |
        |class Conn:
        |    def run(self) -> Helper:
        |        return Helper()
        |
        |class Database:
        |    def __init__(self):
        |        self.conn = Conn()
        |
        |    def session(self) -> Conn:
        |        return Conn()
        |
        |class App:
        |    def __init__(self):
        |        self.db = Database()
        |
        |    def via_field(self):
        |        h = self.db.session()
        |        return h.fly()
        |
        |    def chained(self):
        |        x = self.db.session().run()
        |        return x.go()
        |
        |def locals_and_fields():
        |    d = Database()
        |    c = d.session()
        |    y = d.conn.run()
        |    z = Database().conn
        |    return c.ping(), y.dive(), z.close_it()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t1", "c13.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    // head `self.<typed-field>.method()` resolves through the field path
    assert(calls.contains(("c13.App.via_field", "c13.Conn.fly")))
    // the same head feeds trailing call links all the way down
    assert(calls.contains(("c13.App.chained", "lib.Helper.go")))
    // typed-local receiver head (`d.session()`)
    assert(calls.contains(("c13.locals_and_fields", "c13.Conn.ping")))
    // field MIDDLE in a call head (`d.conn.run()`)
    assert(calls.contains(("c13.locals_and_fields", "lib.Helper.dive")))
    // plain `.attr` TAIL after a constructor head (`Database().conn`)
    assert(calls.contains(("c13.locals_and_fields", "c13.Conn.close_it")))
  }

  test("C3 slice 13 negative: untyped middles void the whole chain") {
    val src =
      """from lib import Helper
        |
        |class Conn:
        |    def run(self) -> Helper:
        |        return Helper()
        |
        |class Database:
        |    def __init__(self):
        |        self.conn = Conn()
        |        self.thing = opaque()
        |
        |def untyped_field_middle():
        |    d = Database()
        |    w = d.thing.run()
        |    return w.go()
        |
        |def untyped_attr_tail():
        |    q = Database().missing
        |    return q.run()
        |
        |def subscript_tail():
        |    s = Database().conn[0]
        |    return s.run()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t1", "c13n.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    // self.thing = opaque() types nothing -> the d.thing.run() chain is
    // void, w stays unbound (no Helper ghost)
    assert(!calls.exists { case (s, d) =>
      s == "c13n.untyped_field_middle" && d.endsWith(".go") })
    // Database().missing: missing is not a typed field -> q unbound
    assert(!calls.exists { case (s, d) =>
      s == "c13n.untyped_attr_tail" && d.endsWith(".run") && d != "c13n.Conn.run" })
    // a subscript trailer is NOT the chain result -> s unbound
    assert(!calls.exists { case (s, d) =>
      s == "c13n.subscript_tail" && d.endsWith("Conn.run") })
  }

  test("C3 partial: module-level instance globals type their methods") {
    val src =
      """from lib import Database
        |
        |db = Database()
        |
        |def query():
        |    return db.run("x")
        |
        |class Svc:
        |    def go(self):
        |        return db.ping()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t1", "g.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    assert(calls.contains(("g.query", "lib.Database.run")))
    assert(calls.contains(("g.Svc.go", "lib.Database.ping")))
    // db itself is still a module GLOBAL_VARIABLE symbol
    assert(ev.symbols.exists(s => s.fullName == "g.db" &&
      s.kind == Kind.GlobalVariable))
  }

  test("C3 partial: attribute reads and chained fields propagate types") {
    val src =
      """from lib import Conn
        |
        |class Database:
        |    def __init__(self):
        |        self.conn = Conn()
        |
        |class App:
        |    def __init__(self):
        |        self.db = Database()
        |
        |    def run(self):
        |        c = self.db.conn
        |        return c.execute()
        |
        |    def direct(self):
        |        return self.db.conn.execute()
        |
        |def main():
        |    app = App()
        |    d = app.db
        |    return d.conn.cursor()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t1", "c.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    // `c = self.db.conn` walks App.db: Database then Database.conn: Conn
    assert(calls.contains(("c.App.run", "lib.Conn.execute")))
    // the same chain inline in a call resolves through chaseFields
    assert(calls.contains(("c.App.direct", "lib.Conn.execute")))
    // local read `d = app.db` + chained call `d.conn.cursor()`
    assert(calls.contains(("c.main", "lib.Conn.cursor")))
  }

  test("C3 partial: `with Ctor() as x:` binds the context-manager type") {
    val src =
      """from lib import Database
        |
        |def work():
        |    with Database("dsn") as db:
        |        return db.query("x")
        |
        |def declared():
        |    with make_db() as db:
        |        return db.ping()
        |
        |def make_db() -> Database:
        |    return Database("dsn")
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t1", "w.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    assert(calls.contains(("w.work", "lib.Database.query")))
    // the `-> Type` return slice composes with the with-binding too
    assert(calls.contains(("w.declared", "lib.Database.ping")))
    // multi-manager with: each clause binds its OWN as-target
    val src2 =
      """from lib import Database, Lock
        |
        |def both():
        |    with Database("d") as db, Lock("l") as lk:
        |        db.query("x")
        |        return lk.release()
        |""".stripMargin
    val ev2 = graft.indexer.PyIndexer.indexFile("t1", "w2.py", src2)
    val calls2 = ev2.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    assert(calls2.contains(("w2.both", "lib.Database.query")))
    assert(calls2.contains(("w2.both", "lib.Lock.release")))
    assert(!calls2.exists(_._2 == "lib.Database.release")) // no cross-binding
  }

  test("C3 slice 27: `with` binds __enter__'s return along the MRO") {
    val src =
      """class Cursor:
        |    def execute(self, q):
        |        return q
        |
        |class Database:
        |    def __enter__(self) -> Cursor:
        |        return Cursor()
        |
        |class Pool(Database):
        |    pass
        |
        |class Lock:
        |    def __enter__(self):
        |        return self
        |    def release(self):
        |        pass
        |
        |def work():
        |    with Database("dsn") as cur:
        |        return cur.execute("x")
        |
        |def pooled():
        |    with Pool() as cur:
        |        return cur.execute("y")
        |
        |def locked():
        |    with Lock() as lk:
        |        return lk.release()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t1", "cm.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    // declared `-> Cursor` enter: the as-target is a Cursor, NOT Database
    assert(calls.contains(("cm.work", "cm.Cursor.execute")))
    // __enter__ inherited from the base resolves through the MRO
    assert(calls.contains(("cm.pooled", "cm.Cursor.execute")))
    // `return self` keeps the manager class (slice 8's self inference)
    assert(calls.contains(("cm.locked", "cm.Lock.release")))
  }

  test("C3 slice 28: mapping annotations bind the VALUE type, keys stay out") {
    val src =
      """from lib import Conn
        |
        |def run(pool: dict[str, Conn], name):
        |    c = pool[name]
        |    return c.execute("q")
        |
        |def sweep(pool: dict[str, Conn]):
        |    for c in pool.values():
        |        c.ping()
        |    for k in pool:
        |        k.execute("nope")
        |
        |def lookup():
        |    reg: Dict[str, Conn] = make()
        |    c = reg.get("a")
        |    return c.close()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t1", "mp.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    // subscript read surfaces the value type
    assert(calls.contains(("mp.run", "lib.Conn.execute")))
    // .values() iteration surfaces it too
    assert(calls.contains(("mp.sweep", "lib.Conn.ping")))
    // plain `for k in pool:` iterates KEYS — k must NOT type as Conn
    assert(!calls.contains(("mp.sweep", "lib.Conn.execute")))
    // annotated local + .get() read (Optional's non-None arm)
    assert(calls.contains(("mp.lookup", "lib.Conn.close")))
  }

  test("C3 slice 29: method references bind as callable aliases") {
    val src =
      """from lib import Conn
        |
        |class Repo:
        |    def fetch(self):
        |        return 1
        |
        |class Cached(Repo):
        |    pass
        |
        |def run():
        |    r = Cached()
        |    f = r.fetch
        |    return f()
        |
        |def remote(conn: Conn):
        |    g = conn.execute
        |    return g("q")
        |
        |def selfstyle():
        |    pass
        |
        |class App:
        |    def __init__(self):
        |        self.h = None
        |
        |    def go(self):
        |        h = self.go
        |        return h()
        |
        |def untyped(x):
        |    u = x.whatever
        |    return u()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t1", "mr.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    // same-module: the alias resolves through the MRO to the definer
    assert(calls.contains(("mr.run", "mr.Repo.fetch")))
    // cross-module receiver: the member is taken blindly (chaseFields'
    // convention)
    assert(calls.contains(("mr.remote", "lib.Conn.execute")))
    // self-method reference
    assert(calls.contains(("mr.App.go", "mr.App.go")) ||
      !calls.exists(_._1 == "mr.App.go")) // self-call may drop (dst==src)
    // an untyped receiver binds nothing — u() emits no edge
    assert(!calls.exists { case (s, d) => s == "mr.untyped" && d.endsWith("whatever") })
  }

  test("C3 slice 30: generator yield types bind for-loop targets") {
    val src =
      """class Helper:
        |    def ping(self):
        |        return 1
        |
        |def gen():
        |    yield Helper()
        |
        |def passthrough():
        |    h = Helper()
        |    yield h
        |
        |def untypedgen():
        |    yield make()
        |
        |def use():
        |    for h in gen():
        |        h.ping()
        |    for p in passthrough():
        |        p.ping()
        |    for u in untypedgen():
        |        u.whatever()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t1", "yg.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    // `yield Ctor()` and `yield <typed local>` both type the target
    assert(calls.contains(("yg.use", "yg.Helper.ping")))
    // an unresolvable yield binds nothing — no ghost edge
    assert(!calls.exists(_._2.endsWith("whatever")))
  }

  test("C3 slice 31: subscript member calls through container/mapping types") {
    val src =
      """from lib import Conn
        |
        |class Helper:
        |    def ping(self):
        |        return 1
        |
        |def f(d: dict[str, Helper], xs: list[Helper], u):
        |    d["k"].ping()
        |    xs[0].ping()
        |    c: dict[str, Conn] = {}
        |    c["x"].execute("q")
        |    u[0].nothing()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t1", "sc.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    assert(calls.contains(("sc.f", "sc.Helper.ping")))
    // cross-module value type takes the member blindly
    assert(calls.contains(("sc.f", "lib.Conn.execute")))
    // an untyped receiver binds nothing
    assert(!calls.exists(_._2.endsWith("nothing")))
  }

  test("C3 slice 32: class-object and instance aliases") {
    val src =
      """class Helper:
        |    def ping(self):
        |        return 1
        |
        |def alias():
        |    mk = Helper
        |    m = mk()
        |    return m.ping()
        |
        |def instalias():
        |    h = Helper()
        |    y = h
        |    return y.ping()
        |
        |def unknown():
        |    mk = Mystery
        |    m = mk()
        |    return m.ping()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t1", "al.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    // mk() emits the constructor call edge AND types m
    assert(calls.contains(("al.alias", "al.Helper")))
    assert(calls.contains(("al.alias", "al.Helper.ping")))
    // bare-name instance alias flows the type
    assert(calls.contains(("al.instalias", "al.Helper.ping")))
    // an unresolvable class name binds nothing
    assert(!calls.exists(_._1 == "al.unknown"))
  }

  test("C3 slice 33: f-string interpolations are code, literals stay text") {
    val src =
      """class Helper:
        |    def ping(self):
        |        return 1
        |
        |def f(h: Helper):
        |    a = f"val={h.ping()}"
        |    b = f"pad {h.ping():>10} and {h.ping()!r}"
        |    c = f"{{ping_literal()}} stays text"
        |    d = "plain {h.ping()} is not code"
        |    return a
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t1", "fs.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toList
    // the interpolated calls (plain, format-spec'd, and !r-converted)
    // resolve; the escaped-brace literal and the non-f string emit none
    assert(calls.contains(("fs.f", "fs.Helper.ping")))
    assert(!calls.exists(_._2.endsWith("ping_literal")))
    // and a location row lands on each interpolation's line (5 and 6)
    val pingLocs = ev.locations
      .filter(l => l.symbolFullName == "fs.Helper.ping" &&
        l.kind == "REFERENCE")
      .map(_.startLine).toSet
    assert(pingLocs.contains(6) && pingLocs.contains(7))
  }

  test("C3 slices 34-37: await, match-case captures, starred params, " +
    "constructor defaults") {
    val src =
      """class Helper:
        |    def ping(self):
        |        return 1
        |
        |async def afetch():
        |    return Helper()
        |
        |async def usea():
        |    h = await afetch()
        |    return h.ping()
        |
        |def match_case(x):
        |    match x:
        |        case Helper() as h:
        |            return h.ping()
        |        case Mystery() as m:
        |            return m.unknowable()
        |
        |def starargs(*hs: Helper):
        |    for h in hs:
        |        h.ping()
        |
        |def kwargs_anno(**hs: Helper):
        |    for v in hs.values():
        |        v.ping()
        |
        |def default_ctor(h=Helper()):
        |    return h.ping()
        |
        |def default_anno_wins(h: Helper = make_unknown()):
        |    return h.ping()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t1", "mc.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    // slice 34: await unwraps the coroutine's inferred return
    assert(calls.contains(("mc.usea", "mc.Helper.ping")))
    // slice 35: the class-pattern capture narrows; unresolvable patterns
    // bind nothing
    assert(calls.contains(("mc.match_case", "mc.Helper.ping")))
    assert(!calls.exists(_._2.endsWith("unknowable")))
    // slice 36: *args iterates as Helper; **kw .values() too
    assert(calls.contains(("mc.starargs", "mc.Helper.ping")))
    assert(calls.contains(("mc.kwargs_anno", "mc.Helper.ping")))
    // slice 37: constructor default types the param; an annotation
    // still wins over an unresolvable default
    assert(calls.contains(("mc.default_ctor", "mc.Helper.ping")))
    assert(calls.contains(("mc.default_anno_wins", "mc.Helper.ping")))
  }

  test("C3 slices 38-41: isinstance narrowing, copy, partial, self-ternary") {
    val src =
      """import copy
        |import functools
        |
        |class Helper:
        |    def ping(self):
        |        return 1
        |
        |def narrow(x):
        |    if isinstance(x, Helper):
        |        x.ping()
        |
        |def narrow_assert(x):
        |    assert isinstance(x, Helper)
        |    return x.ping()
        |
        |def no_narrow(x):
        |    flag = isinstance(x, Helper)
        |    return x.whatever()
        |
        |def deep(h: Helper):
        |    c = copy.deepcopy(h)
        |    return c.ping()
        |
        |def notcopy(h: Helper):
        |    c = other.deepcopy(h)
        |    return c.mystery()
        |
        |def part():
        |    f = functools.partial(Helper)
        |    m = f()
        |    return m.ping()
        |
        |def ternary_not(x: Helper):
        |    y = x if x else None
        |    return y.ping()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t1", "nc.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    // slice 38: guard-position isinstance narrows; a VALUE-position
    // isinstance must not
    assert(calls.contains(("nc.narrow", "nc.Helper.ping")))
    assert(calls.contains(("nc.narrow_assert", "nc.Helper.ping")))
    assert(!calls.exists(_._2.endsWith("whatever")))
    // slice 39: only the real stdlib copy functions flow the type
    assert(calls.contains(("nc.deep", "nc.Helper.ping")))
    assert(!calls.exists(_._2.endsWith("mystery")))
    // slice 40: the partial constructs and types like a class alias
    assert(calls.contains(("nc.part", "nc.Helper")))
    assert(calls.contains(("nc.part", "nc.Helper.ping")))
    // slice 41: the self-conditional keeps the non-None arm's type
    assert(calls.contains(("nc.ternary_not", "nc.Helper.ping")))
  }

  test("r17 slice 94: isinstance narrows are BRANCH-scoped — the " +
      "narrow dies with its arm, asserts hold for their suite, and " +
      "post-block reads fabricate nothing") {
    val src =
      """class Conn:
        |    def ping(self):
        |        return 1
        |
        |class Sock:
        |    def close(self):
        |        return 1
        |
        |def renarrow(x):
        |    if isinstance(x, Conn):
        |        x.ping()
        |    x.anything()
        |
        |def elifarm(x):
        |    if isinstance(x, Conn):
        |        x.ping()
        |    elif isinstance(x, Sock):
        |        x.close()
        |    else:
        |        x.mystery()
        |
        |def asserted(x):
        |    assert isinstance(x, Conn)
        |    x.ping()
        |    if True:
        |        x.ping()
        |
        |def nested(x, y):
        |    if isinstance(x, Conn):
        |        if isinstance(y, Sock):
        |            y.close()
        |        x.ping()
        |    y.unknown()
        |
        |def whileg(x):
        |    while isinstance(x, Conn):
        |        x.ping()
        |    x.after()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t1", "s94.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    // within-branch narrows still bind
    assert(calls.contains(("s94.renarrow", "s94.Conn.ping")))
    assert(calls.contains(("s94.elifarm", "s94.Conn.ping")))
    assert(calls.contains(("s94.elifarm", "s94.Sock.close")))
    assert(calls.contains(("s94.asserted", "s94.Conn.ping")))
    assert(calls.contains(("s94.nested", "s94.Sock.close")))
    assert(calls.contains(("s94.nested", "s94.Conn.ping")))
    assert(calls.contains(("s94.whileg", "s94.Conn.ping")))
    // the r16 whole-scope binding FABRICATED these — a read past the
    // guarded block must not resolve through the expired narrow
    assert(!calls.exists(_._2.endsWith("anything")),
      "x.anything() after the if-block must not bind Conn.anything")
    assert(!calls.exists(_._2.endsWith("mystery")),
      "the else arm must not see the if arm's narrow")
    assert(!calls.exists(_._2.endsWith("unknown")),
      "the inner narrow must expire before the outer-scope read")
    assert(!calls.exists(_._2.endsWith("after")),
      "a while-guard narrow dies with the loop body")
    // except-as and case-as are block-scoped too: Python 3 DELETES the
    // except name after its block; a sibling case arm never sees a
    // capture
    val src2 =
      """class MyErr(Exception):
        |    def detail(self):
        |        return 1
        |
        |class Shape:
        |    def area(self):
        |        return 1
        |
        |def handler(x):
        |    try:
        |        x()
        |    except MyErr as e:
        |        e.detail()
        |    e.leaked()
        |
        |def matcher(v):
        |    match v:
        |        case Shape() as s:
        |            s.area()
        |        case _:
        |            s.phantom()
        |""".stripMargin
    val ev2 = graft.indexer.PyIndexer.indexFile("t1", "s94b.py", src2)
    val calls2 = ev2.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    assert(calls2.contains(("s94b.handler", "s94b.MyErr.detail")))
    assert(calls2.contains(("s94b.matcher", "s94b.Shape.area")))
    assert(!calls2.exists(_._2.endsWith("leaked")),
      "Python 3 deletes the except name after its block")
    assert(!calls2.exists(_._2.endsWith("phantom")),
      "a sibling case arm must not see the capture")
  }

  test("r17 slice 95: rebinding assignments and del INVALIDATE the old " +
      "type — stale bindings fabricate nothing; self-referencing RHS " +
      "keeps the chain readable") {
    val src =
      """class Conn:
        |    def ping(self):
        |        return 1
        |
        |def rebind(mk):
        |    x = Conn()
        |    x.ping()
        |    x = mk()
        |    x.ping2()
        |
        |def deleted():
        |    x = Conn()
        |    del x
        |    x.ping3()
        |
        |def reb_none():
        |    x = Conn()
        |    x = None
        |    x.ping4()
        |
        |def selfref():
        |    x = Conn()
        |    x = wrap(x)
        |    x.ping5()
        |
        |def retype(mk):
        |    x = mk()
        |    x = Conn()
        |    x.ping6()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t1", "s95.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    // the pre-rebind use still resolves; post-rebind uses must not
    assert(calls.contains(("s95.rebind", "s95.Conn.ping")))
    assert(!calls.exists(_._2.endsWith("ping2")),
      "x = mk() must clear the stale Conn binding")
    assert(!calls.exists(_._2.endsWith("ping3")),
      "del x unbinds the name")
    assert(!calls.exists(_._2.endsWith("ping4")),
      "x = None must clear the stale binding")
    // a RHS referencing the target keeps the old binding readable
    // (documented over-approximation — the handlers may need it)
    assert(calls.contains(("s95.selfref", "s95.Conn.ping5")))
    // re-typing after an unknown binding works (clear then re-bind)
    assert(calls.contains(("s95.retype", "s95.Conn.ping6")))
  }

  test("C3 slices 42-44: wrapper iteration, identity comps, __call__") {
    val src =
      """class Helper:
        |    def ping(self):
        |        return 1
        |
        |def gen():
        |    yield Helper()
        |
        |def comp():
        |    hs = [h for h in gen()]
        |    return hs[0].ping()
        |
        |def comp_name(xs: list[Helper]):
        |    ys = [x for x in xs]
        |    return ys[0].ping()
        |
        |def comp_not_ident(xs: list[Helper]):
        |    ns = [x.unknowable for x in xs]
        |    return ns[0].mystery()
        |
        |def enum_for(xs: list[Helper]):
        |    for i, h in enumerate(xs):
        |        h.ping()
        |        i.nothing()
        |
        |def zip_for(xs: list[Helper], ys: list[Helper]):
        |    for a, b in zip(xs, ys):
        |        a.ping()
        |        b.ping()
        |
        |def sorted_list(xs: list[Helper]):
        |    for h in sorted(xs):
        |        h.ping()
        |
        |class Factory:
        |    def __call__(self):
        |        return Helper()
        |
        |def calls():
        |    f = Factory()
        |    h = f()
        |    return h.ping()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t1", "wi.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    // slice 42: enumerate's SECOND target, both zip sides, and order
    // wrappers pass the element type; the enumerate index binds nothing
    assert(calls.contains(("wi.enum_for", "wi.Helper.ping")))
    assert(!calls.exists(_._2.endsWith("nothing")))
    assert(calls.contains(("wi.zip_for", "wi.Helper.ping")))
    assert(calls.contains(("wi.sorted_list", "wi.Helper.ping")))
    // slice 43: identity comps over a generator call and an elem-typed
    // name; a non-identity element binds nothing
    assert(calls.contains(("wi.comp", "wi.Helper.ping")))
    assert(calls.contains(("wi.comp_name", "wi.Helper.ping")))
    assert(!calls.exists(_._2.endsWith("mystery")))
    // slice 44: calling a typed instance resolves through __call__
    assert(calls.contains(("wi.calls", "wi.Helper.ping")))
  }

  test("C3 slice 45: typeshed-lite stdlib returns bind and chain") {
    val src =
      """import re
        |import datetime as dt
        |from pathlib import Path
        |import argparse
        |
        |def rex(src):
        |    p = re.compile(src)
        |    m = p.match(src)
        |    return m.group(0)
        |
        |def stamps():
        |    t = dt.datetime.now()
        |    d = t.date()
        |    return d.isoformat()
        |
        |def paths(root):
        |    base = Path(root)
        |    r = base.resolve()
        |    return r.as_posix()
        |
        |def cli():
        |    ap = argparse.ArgumentParser()
        |    args = ap.parse_args()
        |    return args
        |
        |def reads(name):
        |    with open(name) as fh:
        |        return fh.read()
        |
        |def not_imported(src):
        |    q = zlib.compress(src)
        |    return q.whatever()
        |
        |def shadowed(name):
        |    fh = open(name)
        |    return fh.read()
        |
        |def open(name):
        |    return name
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t1", "sl.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    // re.compile types p → member calls chain through Pattern and Match
    assert(calls.contains(("sl.rex", "re.compile")))
    assert(calls.contains(("sl.rex", "re.Pattern.match")))
    assert(calls.contains(("sl.rex", "re.Match.group")))
    // the dt module alias resolves, now() types, .date() folds the type
    assert(calls.contains(("sl.stamps", "datetime.datetime.now")))
    assert(calls.contains(("sl.stamps", "datetime.datetime.date")))
    assert(calls.contains(("sl.stamps", "datetime.date.isoformat")))
    // a from-imported stdlib CLASS constructs and its methods keep Path
    assert(calls.contains(("sl.paths", "pathlib.Path")))
    assert(calls.contains(("sl.paths", "pathlib.Path.resolve")))
    assert(calls.contains(("sl.paths", "pathlib.Path.as_posix")))
    assert(calls.contains(("sl.cli", "argparse.ArgumentParser.parse_args")))
    // negative: an un-imported module binds nothing
    assert(!calls.exists(_._2.contains("zlib")))
    assert(!calls.exists(_._2.endsWith("whatever")))
    // open(): a module-local def SHADOWS the builtin everywhere in the
    // file (Python name resolution), so neither site types TextIOWrapper
    assert(!calls.exists(_._2.contains("TextIOWrapper")))
    assert(calls.contains(("sl.shadowed", "sl.open")))
  }

  test("r17 slice 45 tier 3: typeshed ATTRIBUTE returns (Path.parent, " +
      "Match.re, Cursor.connection) and iterator ELEMENT returns " +
      "(glob/iterdir/finditer) bind and chain") {
    val src =
      """import re
        |import sqlite3
        |from pathlib import Path
        |
        |def updirs(root):
        |    base = Path(root)
        |    up = base.parent
        |    return up.as_posix()
        |
        |def chained(root):
        |    cfg = Path(root).parent.joinpath('cfg')
        |    return cfg.read_text()
        |
        |def walk(root):
        |    base = Path(root)
        |    for p in base.glob('*.py'):
        |        p.touch()
        |    for q in base.iterdir():
        |        q.unlink()
        |
        |def scan(src):
        |    pat = re.compile(src)
        |    for m in pat.finditer(src):
        |        m.group(0)
        |    back = pat.match(src).re
        |    return back.findall(src)
        |
        |def dbwork(path):
        |    cur = sqlite3.connect(path).cursor()
        |    conn2 = cur.connection
        |    conn2.commit()
        |
        |def nottyped(root):
        |    base = Path(root)
        |    x = base.unknown_attr
        |    return x.anything()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t1", "t3.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    // attribute read: base.parent IS a Path
    assert(calls.contains(("t3.updirs", "pathlib.Path.as_posix")))
    // attr mid-chain: Path(root).parent.joinpath('cfg') folds to Path
    // (the read_text edge proves cfg typed through the parent attr; the
    // intra-chain joinpath edge itself is the known call-on-expression
    // scanner gap, unrelated to the attr table)
    assert(calls.contains(("t3.chained", "pathlib.Path.read_text")))
    // iterator elements: glob/iterdir yield Path
    assert(calls.contains(("t3.walk", "pathlib.Path.touch")))
    assert(calls.contains(("t3.walk", "pathlib.Path.unlink")))
    // finditer yields Match; Match.re is the Pattern
    assert(calls.contains(("t3.scan", "re.Match.group")))
    assert(calls.contains(("t3.scan", "re.Pattern.findall")))
    // Cursor.connection is the Connection
    assert(calls.contains(("t3.dbwork", "sqlite3.Connection.commit")))
    // negative: an undeclared attribute refuses (all-or-nothing)
    assert(!calls.exists(_._2.endsWith("anything")))
  }

  test("r17 slice 93: decorator-transparent returns — @dataclass " +
      "fields bind from class-body annotations, @lru_cache/@cache " +
      "keep the declared return, a stacked UNKNOWN decorator on a " +
      "@property poisons the read (goldens both ways)") {
    val src =
      """import functools
        |from dataclasses import dataclass
        |
        |class Conn:
        |    def ping(self):
        |        return 1
        |
        |@dataclass
        |class Box:
        |    conn: Conn
        |    label: str
        |
        |def use_box(b):
        |    box = Box(Conn(), 'x')
        |    box.conn.ping()
        |
        |@functools.lru_cache
        |def cached_conn() -> Conn:
        |    return Conn()
        |
        |@functools.cache
        |def cached_conn2() -> Conn:
        |    return Conn()
        |
        |def use_cached():
        |    c = cached_conn()
        |    c.ping()
        |    d = cached_conn2()
        |    d.ping()
        |
        |class Svc:
        |    @mystery_deco
        |    @property
        |    def conn(self) -> Conn:
        |        return Conn()
        |
        |def use_svc():
        |    s = Svc()
        |    s.conn.ping()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t1", "s93.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    // @dataclass: the generated constructor types the local, and the
    // class-body annotation types the field — box.conn IS a Conn
    assert(calls.contains(("s93.use_box", "s93.Box")))
    assert(calls.contains(("s93.use_box", "s93.Conn.ping")),
      s"dataclass field must type through the class-body annotation; " +
        s"got $calls")
    // signature-preserving stdlib decorators keep the declared return
    assert(calls.contains(("s93.use_cached", "s93.Conn.ping")))
    // an UNKNOWN decorator stacked over @property makes the read
    // untypable — jedi resolves the descriptor through the unknown
    // wrapper to nothing, so s.conn.ping() must NOT bind Conn.ping
    assert(!calls.contains(("s93.use_svc", "s93.Conn.ping")),
      "a mystery-decorated property must not type the attribute read")
  }

  test("r16 slice 45 tier 2: collections / strptime / io / subprocess " +
      "/ threading stubs bind; a module-local class SHADOWS the stub") {
    val src =
      """import collections
        |import datetime
        |import subprocess
        |import io
        |import threading
        |from collections import Counter, defaultdict
        |
        |def counts(xs):
        |    c = Counter(xs)
        |    c2 = c.copy()
        |    return c2.most_common(3)
        |
        |def grouped():
        |    d = defaultdict(list)
        |    return d.copy().keys()
        |
        |def ordered():
        |    o = collections.OrderedDict()
        |    return o.copy().items()
        |
        |def stamp(s):
        |    t = datetime.datetime.strptime(s, '%Y')
        |    return t.replace(year=2000).isoformat()
        |
        |def run(cmd):
        |    r = subprocess.run(cmd)
        |    return r.check_returncode()
        |
        |def buf(s):
        |    b = io.StringIO(s)
        |    return b.getvalue()
        |
        |def worker(fn):
        |    t = threading.Thread(target=fn)
        |    t.start()
        |    return t
        |
        |class Counter:
        |    def shadowed_method(self):
        |        return 0
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t1", "sl2.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    // NOTE the file also defines a local `class Counter` — Python file
    // scope shadows the import everywhere, so Counter() must construct
    // the LOCAL class, not the stub (negative golden for the family)
    assert(calls.contains(("sl2.counts", "sl2.Counter")), s"got $calls")
    assert(!calls.exists(_._2 == "collections.Counter.copy"))
    // defaultdict/OrderedDict: construct + copy() keeps the class
    assert(calls.contains(("sl2.grouped", "collections.defaultdict")))
    assert(calls.contains(("sl2.grouped", "collections.defaultdict.copy")))
    assert(calls.contains(("sl2.grouped", "collections.defaultdict.keys")))
    assert(calls.contains(("sl2.ordered", "collections.OrderedDict")))
    assert(calls.contains(("sl2.ordered", "collections.OrderedDict.copy")))
    // strptime classmethod types, replace() keeps datetime
    assert(calls.contains(("sl2.stamp", "datetime.datetime.strptime")))
    assert(calls.contains(("sl2.stamp", "datetime.datetime.replace")))
    assert(calls.contains(("sl2.stamp", "datetime.datetime.isoformat")))
    // subprocess.run -> CompletedProcess member
    assert(calls.contains(
      ("sl2.run", "subprocess.CompletedProcess.check_returncode")))
    // io.StringIO constructs and members resolve
    assert(calls.contains(("sl2.buf", "io.StringIO")))
    assert(calls.contains(("sl2.buf", "io.StringIO.getvalue")))
    // threading.Thread constructs; start() resolves on the stub class
    assert(calls.contains(("sl2.worker", "threading.Thread")))
    assert(calls.contains(("sl2.worker", "threading.Thread.start")))
  }

  test("C3 slice 45: stdlib method chains fold through typeshed returns") {
    // `m = re.compile(r).match(s)` — the chain head constructs a stdlib
    // type and the trailing .match() folds through the stub's return,
    // exactly like same-module chains (slice 10's rule)
    val src =
      """import re
        |from pathlib import Path
        |
        |def chained(src):
        |    m = re.compile(src).match(src)
        |    return m.group(1)
        |
        |def pchain(root):
        |    r = Path(root).expanduser().resolve()
        |    return r.as_posix()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t1", "ch.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    assert(calls.contains(("ch.chained", "re.Match.group")))
    assert(calls.contains(("ch.pchain", "pathlib.Path.as_posix")))
  }

  test("C3 slices 48-49: lambda factories and next(iter(...)) elements") {
    val src =
      """class Helper:
        |    def ping(self):
        |        return 1
        |
        |def factory():
        |    mk = lambda: Helper()
        |    h = mk()
        |    return h.ping()
        |
        |def factory_args():
        |    mk2 = lambda x, y=1: Helper(x, y)
        |    h = mk2(5)
        |    return h.ping()
        |
        |def not_ctor():
        |    f = lambda x: x + 1
        |    v = f(1)
        |    return v.mystery()
        |
        |def first(xs: list[Helper]):
        |    h = next(iter(xs))
        |    return h.ping()
        |
        |def first_default(xs: list[Helper]):
        |    h = next(iter(xs), None)
        |    return h.ping()
        |
        |def dict_keys(d: dict[str, Helper]):
        |    k = next(iter(d))
        |    return k.mystery()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t1", "lf.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    assert(calls.contains(("lf.factory", "lf.Helper")))
    assert(calls.contains(("lf.factory", "lf.Helper.ping")))
    assert(calls.contains(("lf.factory_args", "lf.Helper.ping")))
    assert(calls.contains(("lf.first", "lf.Helper.ping")))
    assert(calls.contains(("lf.first_default", "lf.Helper.ping")))
    // a non-constructor lambda body and a mapping's key iterator bind
    // nothing — no fabricated members
    assert(!calls.exists(_._2.endsWith("mystery")))
  }

  test("C3 slices 50-51: or-default and assert-isinstance narrowing") {
    val src =
      """class Helper:
        |    def ping(self):
        |        return 1
        |
        |def or_default(h):
        |    c = h or Helper()
        |    return c.ping()
        |
        |def chained():
        |    a = b = Helper()
        |    return a.ping() + b.ping()
        |
        |def asserted(x):
        |    assert isinstance(x, Helper)
        |    return x.ping()
        |
        |def not_isinstance(x):
        |    assert x
        |    return x.mystery()
        |
        |def or_unresolved(h):
        |    c = h or unknown_factory()
        |    return c.mystery()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t1", "oc.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    assert(calls.contains(("oc.or_default", "oc.Helper")))
    assert(calls.contains(("oc.or_default", "oc.Helper.ping")))
    assert(calls.contains(("oc.chained", "oc.Helper.ping")))
    assert(calls.contains(("oc.asserted", "oc.Helper.ping")))
    // bare asserts and unresolvable arms bind nothing
    assert(!calls.exists(_._2.endsWith("mystery")))
  }

  test("C3 slice 52: max/min/pop element reads bind the content type") {
    val src =
      """class Helper:
        |    def ping(self):
        |        return 1
        |
        |def maxed(xs: list[Helper]):
        |    h = max(xs)
        |    return h.ping()
        |
        |def keyed(xs: list[Helper]):
        |    h = min(xs, key=len)
        |    return h.ping()
        |
        |def popped(xs: list[Helper]):
        |    h = xs.pop()
        |    return h.ping()
        |
        |def map_pop(d: dict[str, Helper]):
        |    h = d.pop("k")
        |    return h.ping()
        |
        |def untyped(xs):
        |    h = max(xs)
        |    return h.mystery()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t1", "er.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    assert(calls.contains(("er.maxed", "er.Helper.ping")))
    assert(calls.contains(("er.keyed", "er.Helper.ping")))
    assert(calls.contains(("er.popped", "er.Helper.ping")))
    assert(calls.contains(("er.map_pop", "er.Helper.ping")))
    assert(!calls.exists(_._2.endsWith("mystery")))
  }

  test("C3 slice 53: setdefault infers dict content and binds the read") {
    val src =
      """class Helper:
        |    def ping(self):
        |        return 1
        |
        |def build_up():
        |    d = {}
        |    h = d.setdefault("k", Helper())
        |    return h.ping()
        |
        |def read_typed(d: dict[str, Helper]):
        |    h = d.setdefault("k", None)
        |    return h.ping()
        |
        |def untyped(d):
        |    h = d.setdefault("k", 1)
        |    return h.mystery()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t1", "sd.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    assert(calls.contains(("sd.build_up", "sd.Helper")))
    assert(calls.contains(("sd.build_up", "sd.Helper.ping")))
    assert(calls.contains(("sd.read_typed", "sd.Helper.ping")))
    assert(!calls.exists(_._2.endsWith("mystery")))
  }

  test("C3 slice 45: the open builtin binds when nothing shadows it") {
    val src =
      """def reads(name):
        |    with open(name) as fh:
        |        return fh.read()
        |
        |def direct(name):
        |    fh = open(name)
        |    return fh.read()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t1", "op.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    assert(calls.contains(("op.reads", "io.TextIOWrapper.read")))
    assert(calls.contains(("op.direct", "io.TextIOWrapper.read")))
  }

  test("C3 slices 46-47: empty-container build-up and items() values") {
    val src =
      """class Helper:
        |    def ping(self):
        |        return 1
        |
        |def build():
        |    xs = []
        |    xs.append(Helper())
        |    for h in xs:
        |        h.ping()
        |    return xs[0].ping()
        |
        |def build_set(h0: Helper):
        |    s = set()
        |    s.add(h0)
        |    for h in s:
        |        h.ping()
        |
        |def build_dict():
        |    d = {}
        |    d["a"] = Helper()
        |    for k, v in d.items():
        |        v.ping()
        |        k.nothing()
        |    g = d.get("a")
        |    return g.ping()
        |
        |def anno_wins():
        |    ys: list[Helper] = []
        |    ys.append(unknown_thing())
        |    return ys[0].ping()
        |
        |def not_empty(zs):
        |    zs.append(Helper())
        |    return zs[0].mystery()
        |
        |def untyped_write():
        |    ws = []
        |    ws.append(shrug())
        |    return ws[0].mystery()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t1", "ec.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    // slice 46: list/set/dict build-up types iteration, subscript reads,
    // items() values and .get() reads
    assert(calls.contains(("ec.build", "ec.Helper.ping")))
    assert(calls.contains(("ec.build_set", "ec.Helper.ping")))
    assert(calls.contains(("ec.build_dict", "ec.Helper.ping")))
    // slice 47: the key target binds nothing
    assert(!calls.exists(_._2.endsWith("nothing")))
    // an explicit annotation beats a later unresolvable write
    assert(calls.contains(("ec.anno_wins", "ec.Helper.ping")))
    // a param (not empty-initialized) and an unresolvable write bind
    // nothing — no fabricated members
    assert(!calls.exists(_._2.endsWith("mystery")))
  }

  test("C3 partial: untyped intermediate steps emit NO half-resolved edges") {
    val src =
      """from lib import Database
        |
        |class App:
        |    def __init__(self):
        |        self.db = Database()
        |
        |    def run(self):
        |        return self.db.cursor.execute()
        |
        |def main():
        |    x = Database()
        |    return x.cursor.execute()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t1", "h.py", src)
    val dsts = ev.edges.filter(_.relType == Rel.Call).map(_.dst).toSet
    // Database has no typed field `cursor`: an all-or-nothing chase must
    // not fabricate lib.Database.cursor.execute (a ghost stub on merge)
    assert(!dsts.exists(_.contains("cursor")))
    assert(dsts.contains("lib.Database")) // the constructor calls survive
  }

  test("C3 partial: annotated locals (`x: Helper = ...`) bind the type") {
    val src =
      """from lib import Helper
        |
        |def pick(registry):
        |    h: Helper = registry.get("h")
        |    return h.run()
        |
        |def skip():
        |    n: int = 3
        |    maybe: Optional[Helper] = None
        |    return n
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t1", "l.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    assert(calls.contains(("l.pick", "lib.Helper.run")))
    // generics' outer name is not the instance type; lowercase annos bind
    // nothing
    assert(!calls.exists(_._2.startsWith("int")))
    assert(!calls.exists(_._2.contains("Optional")))
  }

  test("decode fallback: malformed UTF-8 degrades to latin-1, never U+FFFD") {
    // 'caf\xe9' is latin-1 — invalid as UTF-8 (lone continuation byte)
    val latin1 = "# café\ndef f():\n    return 1\n"
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val decoded = graft.indexer.IndexPipeline.decodeSource(latin1)
    assert(decoded.contains("café"))
    assert(!decoded.contains('�'))
    // well-formed UTF-8 keeps its multi-byte chars
    val utf8 = "# café\n".getBytes(java.nio.charset.StandardCharsets.UTF_8)
    assert(graft.indexer.IndexPipeline.decodeSource(utf8).contains("café"))
  }

  test("encoding auto-derivation: BOMs and PEP 263 coding cookies") {
    import graft.indexer.IndexPipeline.decodeSource
    import java.nio.charset.{Charset, StandardCharsets}
    val text = "# café\ndef f():\n    return 'schön'\n"
    // UTF-16LE with BOM (codecs 'utf-16' output)
    val u16 = Array[Byte](0xff.toByte, 0xfe.toByte) ++
      text.getBytes(StandardCharsets.UTF_16LE)
    assert(decodeSource(u16) === text)
    // UTF-32LE BOM starts with the UTF-16LE BOM — must sniff 32 first
    val u32 = Array[Byte](0xff.toByte, 0xfe.toByte, 0, 0) ++
      text.getBytes(Charset.forName("UTF-32LE"))
    assert(decodeSource(u32) === text)
    // UTF-8 BOM is stripped, not leaked into the first line
    val u8bom = Array[Byte](0xef.toByte, 0xbb.toByte, 0xbf.toByte) ++
      text.getBytes(StandardCharsets.UTF_8)
    assert(decodeSource(u8bom) === text)
    // PEP 263 cookie names the codec when UTF-8 would misread the bytes:
    // 'schön' in latin-1 is invalid UTF-8, and cp1252's € (0x80) differs
    // from latin-1 — the cookie decides
    val cookieTxt = "# -*- coding: cp1252 -*-\nx = '€ café'\n"
    val cp1252 = cookieTxt.getBytes(Charset.forName("windows-1252"))
    assert(decodeSource(cp1252) === cookieTxt)
    // cookie on line 2 (after a shebang) also counts
    val she = "#!/usr/bin/env python\n# coding: latin-1\ns = 'café'\n"
    assert(decodeSource(she.getBytes(StandardCharsets.ISO_8859_1)) === she)
    // cookie on line 3 does NOT count (PEP 263: lines 1-2 only) — the
    // latin-1 é then falls through to the permissive total decode
    val late = "x = 1\ny = 2\n# coding: utf-16\nz = 'café'\n"
    assert(decodeSource(late.getBytes(StandardCharsets.ISO_8859_1)) === late)
    // an unknown codec name in the cookie is ignored, not fatal
    val bogus = "# coding: no-such-codec\nx = 1\n"
    assert(decodeSource(bogus.getBytes(StandardCharsets.UTF_8)) === bogus)
  }

  test("USES edges: globals from functions, fields from methods") {
    val uses = ix.edges.filter(col("rel_type") === Rel.Uses)
      .select("src", "dst").as[(String, String)].collect().toSet
    assert(uses.contains(("main.main", "main.GLOBAL_X")))
    assert(uses.contains(("main.local_fn", "main.GLOBAL_X")))
    assert(uses.contains(("folder1.file1.Base.run", "folder1.file1.Base.count")))
  }

  test("D4 closure: Child inherits run but never __init__") {
    val hm = ix.edges.filter(col("rel_type") === Rel.HasMethod)
      .select("src", "dst").as[(String, String)].collect().toSet
    assert(hm.contains(("folder1.file1.Child", "folder1.file1.Base.run")))
    assert(!hm.exists(e => e._1 == "folder1.file1.Child" && e._2.endsWith("__init__")))
  }

  test("unresolved callees become 'none' stub nodes (A4 stub rule)") {
    // Helper is called from main but defined in file2 -> real node wins;
    // nothing in the fixture is fully unresolved, so craft one:
    val one = Seq(SourceFile("solo.py",
      "from ext.lib import thing\n\ndef go():\n    thing()\n")).toDS()
    val out = IngestArms.indexed(one, "t2")
    val kinds = out.nodes.select("full_name", "kind").as[(String, String)]
      .collect().toMap
    assert(kinds("ext.lib.thing") === Kind.None_)
  }

  test("parenthesized multi-line imports resolve (C8)") {
    val src = Seq(SourceFile("p.py",
      "from folder1.file2 import (Helper,\n    helper_fn as hfn)\n\ndef go():\n    hfn()\n    Helper()\n")).toDS()
    val out = IngestArms.indexed(src, "tp")
    val calls = out.edges.filter(col("rel_type") === Rel.Call)
      .select("src", "dst").as[(String, String)].collect().toSet
    assert(calls.contains(("p.go", "folder1.file2.helper_fn")))
    assert(calls.contains(("p.go", "folder1.file2.Helper")))
  }

  test("plain dotted import binds the full path; prefix-resolves calls (C8/C9)") {
    val src = Seq(SourceFile("q.py",
      "import folder1.file2\nimport os.path as osp\n\ndef go():\n    folder1.file2.helper_fn()\n    osp.join()\n")).toDS()
    val calls = IngestArms.indexed(src, "tq")
      .edges.filter(col("rel_type") === Rel.Call)
      .select("src", "dst").as[(String, String)].collect().toSet
    assert(calls.contains(("q.go", "folder1.file2.helper_fn")))
    assert(calls.contains(("q.go", "os.path.join")))
  }

  test("code pointers hydrate against the source (B11/C14 roundtrip)") {
    val files = fixture.toDF().withColumnRenamed("path", "file_path")
    val cls = ix.nodes.filter(col("full_name") === "folder1.file2.Helper")
      .select(col("full_name"), col("code"))
    val hydrated = graft.hydrate.Hydrate.hydrate(cls, files, "code", 500)
      .select("code").as[String].collect()(0)
    assert(hydrated.startsWith("class Helper:"))
    assert(hydrated.contains("def help(self):"))
  }

  test("signatures carry the header line (C5/C6)") {
    val sigs = ix.nodes.select("full_name", "signature")
      .as[(String, Option[String])].collect().toMap
    assert(sigs("folder1.file1.Child") === Some("class Child(Base):"))
    assert(sigs("main.local_fn") === Some("def local_fn(v):"))
  }

  test("locations: SYMBOL/SIGNATURE/SCOPE/ATOMIC_RANGE rows exist (C12)") {
    val locs = ix.locations.select("symbolFullName", "kind")
      .as[(String, String)].collect().toSet
    assert(locs.contains(("folder1.file1.Base", "SYMBOL")))
    assert(locs.contains(("folder1.file1.Base", "SCOPE")))
    assert(locs.contains(("folder1.file1.Base.run", "SIGNATURE")))
    assert(locs.contains(("folder1.file2", "ATOMIC_RANGE"))) // docstring
  }

  test("A9 LOCAL: params, assign/for/with targets and their usages record rows") {
    val src = Seq(
      "def f(a, b=2):",
      "    x = a + b",
      "    for j in items:",
      "        x = x + j",
      "    with Conn() as c:",
      "        c.run()",
      "    return x",
      "").mkString("\n")
    val locals = PyIndexer.indexFile("t", "m.py", src).locations
      .filter(_.kind == "LOCAL")
    def pos(n: String) = locals.filter(_.symbolFullName == s"m.f<$n>")
      .map(l => (l.startLine, l.startCol)).toSet
    // params define on the header; every later bare usage records again
    assert(pos("a") === Set((1, 7), (2, 9)))
    assert(pos("b") === Set((1, 10), (2, 13)))
    // re-binding records a second definition row; RHS/return usages record
    assert(pos("x") === Set((2, 5), (4, 9), (4, 13), (7, 12)))
    // for-target and with-as-target are definitions; `c.run()` records the
    // attribute BASE (reference skips only names after the dot)
    assert(pos("j") === Set((3, 9), (4, 17)))
    assert(pos("c") === Set((5, 20), (6, 9)))
    // nothing else became local (Conn/items are not locals; no module rows)
    assert(locals.map(_.symbolFullName).toSet ===
      Set("m.f<a>", "m.f<b>", "m.f<x>", "m.f<j>", "m.f<c>"))
  }

  test("A9 LOCAL: self records as a local; member names after '.' do not") {
    val src = Seq(
      "class K:",
      "    def m(self, v):",
      "        self.x = v",
      "        return self.x",
      "").mkString("\n")
    val locals = PyIndexer.indexFile("t", "k.py", src).locations
      .filter(_.kind == "LOCAL")
    def pos(n: String) = locals.filter(_.symbolFullName == s"k.K.m<$n>")
      .map(l => (l.startLine, l.startCol)).toSet
    // self: param def + the two attribute-base usages
    assert(pos("self") === Set((2, 11), (3, 9), (4, 16)))
    assert(pos("v") === Set((2, 17), (3, 18)))
    // the member name x never records a LOCAL (it is a FIELD), and class
    // bodies / module scope produce no locals at all
    assert(locals.map(_.symbolFullName).toSet === Set("k.K.m<self>", "k.K.m<v>"))
  }

  test("A9 LOCAL: strings never record; module assigns stay global") {
    val src = "def g(s2):\n    t = \"s2 x\"\n    return s2\n\nTOP = 1\n"
    val ev = PyIndexer.indexFile("t", "s.py", src)
    val locals = ev.locations.filter(_.kind == "LOCAL")
    // the s2 inside the string literal must not match (preprocessed scan)
    assert(locals.filter(_.symbolFullName == "s.g<s2>")
      .map(l => (l.startLine, l.startCol)).toSet === Set((1, 7), (3, 12)))
    assert(locals.map(_.symbolFullName).toSet === Set("s.g<s2>", "s.g<t>"))
    // TOP is a GLOBAL_VARIABLE symbol, not a local
    assert(ev.symbols.exists(s => s.fullName == "s.TOP" &&
      s.kind == Kind.GlobalVariable))
  }

  test("idempotent re-index: same snapshot twice equals once") {
    val again = IngestArms.both(fixture, "t1")
    assert(ix.nodes.collect().toSet === again.nodes.collect().toSet)
    assert(ix.edges.collect().toSet === again.edges.collect().toSet)
  }

  // ---------------------------------------------------- C3 slice 16: super()

  test("super().m() resolves along the C3 MRO across files (slice 16)") {
    val aPy =
      """class X:
        |    def run(self):
        |        return 1
        |    def only_x(self):
        |        return 9
        |
        |
        |class A(X):
        |    def run(self):
        |        return super().run() + 1
        |""".stripMargin
    val bPy =
      """from a import A
        |
        |
        |class B(A):
        |    def ping(self):
        |        return 2
        |
        |
        |class C(B):
        |    def run(self):
        |        return super().run()
        |    def go(self):
        |        return super().only_x()
        |    def nowhere(self):
        |        return super().missing()
        |""".stripMargin
    val ix2 = IngestArms.both(
      Seq(SourceFile("a.py", aPy), SourceFile("b.py", bPy)).toDS(), "ts")
    val calls = ix2.edges.filter(col("rel_type") === Rel.Call)
      .select("src", "dst").as[(String, String)].collect().toSet
    // A.run's super() -> X.run (one level up, same file)
    assert(calls.contains(("a.A.run", "a.X.run")))
    // C's MRO is C, B, A, X: super().run() from C.run -> the FIRST
    // definer after C, which is A (B defines no run)
    assert(calls.contains(("b.C.run", "a.A.run")))
    // super().only_x() skips B and A straight to X
    assert(calls.contains(("b.C.go", "a.X.only_x")))
    // an unresolvable super-call leaves NO edge — and no sentinel leaks
    assert(!calls.exists(_._2.contains("__super__")))
    assert(!calls.exists(_._1 == "b.C.nowhere"))
  }

  test("slice 17: class attributes and classmethod-style calls resolve") {
    val src =
      """class Helper:
        |    def help(self):
        |        pass
        |
        |
        |class Other:
        |    x = Helper()
        |
        |    def own(self):
        |        return self.x.help()
        |
        |
        |def use():
        |    Helper.help()
        |    Other.x.help()
        |    o = Other()
        |    o.x.help()
        |""".stripMargin
    val r = PyIndexer.indexFile("t", "m.py", src)
    val calls = r.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    // Helper.help() / Other.x.help() / o.x.help() all land on the method
    assert(calls.contains(("m.use", "m.Helper.help")))
    // self.x through the class-attribute type inside the class itself
    assert(calls.contains(("m.Other.own", "m.Helper.help")))
    // the class-body constructor still records the ctor call + FIELD
    assert(calls.contains(("m.Other", "m.Helper")))
    assert(r.edges.exists(e => e.relType == Rel.HasField &&
      e.src == "m.Other" && e.dst == "m.Other.x"))
  }

  test("slice 18: classmethod factory return cls() types the caller") {
    val src =
      """class X:
        |    def run(self):
        |        pass
        |
        |    @classmethod
        |    def make(cls):
        |        return cls()
        |
        |
        |def use():
        |    x = X.make()
        |    x.run()
        |""".stripMargin
    val r = PyIndexer.indexFile("t", "m.py", src)
    val calls = r.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    assert(calls.contains(("m.use", "m.X.make")))
    assert(calls.contains(("m.use", "m.X.run")))
  }

  test("slice 19: @property attribute reads chase the return type") {
    val src =
      """class Conn:
        |    def execute(self):
        |        pass
        |
        |
        |class Database:
        |    @property
        |    def conn(self) -> Conn:
        |        return Conn()
        |
        |    @property
        |    def inferred(self):
        |        return Conn()
        |
        |    def not_a_prop(self) -> Conn:
        |        return Conn()
        |
        |
        |class App:
        |    def __init__(self):
        |        self.db = Database()
        |
        |    def run(self):
        |        self.db.conn.execute()
        |
        |
        |def use():
        |    db = Database()
        |    db.conn.execute()
        |    db.inferred.execute()
        |    db.not_a_prop.execute()
        |""".stripMargin
    val r = PyIndexer.indexFile("t", "m.py", src)
    val calls = r.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    // declared AND slice-8-inferred property returns both chase
    assert(calls.contains(("m.use", "m.Conn.execute")))
    // two-hop: constructor-typed self field then the property
    assert(calls.contains(("m.App.run", "m.Conn.execute")))
    // a NON-property method read (no call) is a bound method, not its
    // return value — the chain through it must emit NOTHING
    assert(!calls.exists(_._2.contains("not_a_prop")))
  }

  test("slice 20: self.f = <typed param> (constructor injection)") {
    val src =
      """class Conn:
        |    def execute(self):
        |        pass
        |
        |
        |class App:
        |    def __init__(self, conn: Conn, raw):
        |        self.conn = conn
        |        self.raw = raw
        |
        |    def run(self):
        |        self.conn.execute()
        |        self.raw.execute()
        |""".stripMargin
    val r = PyIndexer.indexFile("t", "m.py", src)
    val calls = r.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    // annotated param flows through the field to the call site
    assert(calls.contains(("m.App.run", "m.Conn.execute")))
    // the UNTYPED param's field emits nothing (all-or-nothing discipline)
    assert(calls.count(_._1 == "m.App.run") === 1)
  }

  test("slice 21: Optional[X] and X | None params type as X") {
    val src =
      """from lib import Helper
        |from typing import Optional
        |
        |
        |def a(h: Optional[Helper]):
        |    return h.run()
        |
        |
        |def b(h: Helper | None):
        |    return h.ping()
        |
        |
        |def c(h: None | Helper):
        |    return h.poke()
        |""".stripMargin
    val r = PyIndexer.indexFile("t", "m.py", src)
    val calls = r.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    assert(calls.contains(("m.a", "lib.Helper.run")))
    assert(calls.contains(("m.b", "lib.Helper.ping")))
    assert(calls.contains(("m.c", "lib.Helper.poke")))
  }

  test("slice 21: Optional-annotated LOCALS bind too") {
    val src =
      """from lib import Helper
        |from typing import Optional
        |
        |
        |def use():
        |    h: Optional[Helper] = registry()
        |    h.run()
        |    g: Helper | None = registry()
        |    g.ping()
        |""".stripMargin
    val r = PyIndexer.indexFile("t", "m.py", src)
    val calls = r.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    assert(calls.contains(("m.use", "lib.Helper.run")))
    assert(calls.contains(("m.use", "lib.Helper.ping")))
  }

  private def callsOf(src: String, path: String = "m.py"): Set[(String, String)] =
    PyIndexer.indexFile("t", path, src)
      .edges.filter(_.relType == Rel.Call).map(e => (e.src, e.dst)).toSet

  test("slice 22: import-alias and from-imported-module constructors " +
    "type the bound local (incl. negative: unresolvable alias)") {
    val src =
      """import pkg.mod as m
        |from pkg import mod2
        |from pkg.mod import Cls as C
        |
        |
        |def use():
        |    x = m.Cls()
        |    x.run()
        |    y = mod2.Other()
        |    y.go()
        |    z = C()
        |    z.fire()
        |    w = ghost.Cls()
        |    w.boom()
        |""".stripMargin
    val calls = callsOf(src)
    assert(calls.contains(("m.use", "pkg.mod.Cls.run")))
    assert(calls.contains(("m.use", "pkg.mod2.Other.go")))
    assert(calls.contains(("m.use", "pkg.mod.Cls.fire")))
    // `ghost` was never imported: the constructor cannot resolve, so the
    // member call must NOT bind to any pkg-qualified ghost target
    assert(!calls.exists(_._2.contains("ghost")) ||
      calls.exists { case (_, d) => d == "m.ghost.Cls" } === false)
    assert(!calls.exists(_._2.endsWith("Cls.boom")))
  }

  test("slice 23: a field typed in a BASE __init__ resolves through a " +
    "subclass instance — even when the base is defined later") {
    val src =
      """class Conn:
        |    def execute(self):
        |        pass
        |
        |
        |class Sub(Base):
        |    def go(self):
        |        self.conn.execute()
        |
        |
        |class Base:
        |    def __init__(self):
        |        self.conn = Conn()
        |""".stripMargin
    val calls = callsOf(src, "app/db.py")
    assert(calls.contains(("app.db.Sub.go", "app.db.Conn.execute")))
  }

  test("slice 23: diamond field lookup follows the C3 MRO [C, A, X, B], " +
    "not nearest-by-depth") {
    val src =
      """class Conn:
        |    def execute(self):
        |        pass
        |
        |
        |class Pool:
        |    def execute(self):
        |        pass
        |
        |
        |class X:
        |    def __init__(self):
        |        self.h = Conn()
        |
        |
        |class A(X):
        |    pass
        |
        |
        |class B:
        |    def __init__(self):
        |        self.h = Pool()
        |
        |
        |class C(A, B):
        |    def go(self):
        |        self.h.execute()
        |""".stripMargin
    val calls = callsOf(src, "d.py")
    // h resolves through A→X (left base's MRO) BEFORE direct base B
    assert(calls.contains(("d.C.go", "d.Conn.execute")))
    assert(!calls.contains(("d.C.go", "d.Pool.execute")))
  }

  test("slice 23: base-defined method return resolves through a subclass " +
    "receiver; subclass defs shadow; untyped base stays unresolved") {
    val src =
      """class Conn:
        |    def ping(self):
        |        pass
        |
        |
        |class Sock:
        |    def ping(self):
        |        pass
        |
        |
        |class BaseRepo:
        |    def make(self) -> Conn:
        |        pass
        |
        |
        |class Repo(BaseRepo):
        |    pass
        |
        |
        |class Override(BaseRepo):
        |    def make(self):
        |        return Sock()
        |
        |
        |def use(r: Repo, o: Override):
        |    c = r.make()
        |    c.ping()
        |    s = o.make()
        |    s.poke()
        |""".stripMargin
    val calls = callsOf(src)
    // inherited: Repo has no make — BaseRepo's -> Conn applies
    assert(calls.contains(("m.use", "m.Conn.ping")))
    // shadowed: Override.make (inferred Sock) beats BaseRepo's Conn
    assert(calls.contains(("m.use", "m.Sock.poke")))
    assert(!calls.contains(("m.use", "m.Conn.poke")))
  }

  test("slice 24: typing.cast types the target (bare, quoted, aliased, " +
    "module-qualified; un-imported cast binds nothing)") {
    val src =
      """import typing
        |from typing import cast
        |from typing import cast as as_type
        |from lib import Helper
        |
        |
        |def use(y):
        |    a = cast(Helper, y)
        |    a.run()
        |    b = cast("Helper", y)
        |    b.ping()
        |    c = typing.cast(Helper, y)
        |    c.poke()
        |    d = as_type(Helper, y)
        |    d.jump()
        |""".stripMargin
    val calls = callsOf(src)
    assert(calls.contains(("m.use", "lib.Helper.run")))
    assert(calls.contains(("m.use", "lib.Helper.ping")))
    assert(calls.contains(("m.use", "lib.Helper.poke")))
    assert(calls.contains(("m.use", "lib.Helper.jump")))
    // a local function named cast (not the typing import) binds nothing
    val shadow = callsOf(
      """from lib import Helper
        |
        |
        |def use(y):
        |    e = cast(Helper, y)
        |    e.fly()
        |""".stripMargin)
    assert(!shadow.exists(_._2.endsWith("fly")))
  }

  test("slice 25: annotated self-fields — the declared type wins over " +
    "the RHS, unwraps Optional, and resolves through the MRO") {
    val src =
      """from typing import Optional
        |from lib import Conn, Pool
        |
        |
        |class Base:
        |    def __init__(self, factory):
        |        self.a: Conn = factory()
        |        self.b: Optional[Pool] = None
        |        self.c: Conn | None = factory()
        |        self.d = Pool()
        |        self.d: Conn = factory()
        |
        |
        |class Sub(Base):
        |    def go(self):
        |        self.a.execute()
        |        self.b.acquire()
        |        self.c.commit()
        |        self.d.query()
        |""".stripMargin
    val calls = callsOf(src)
    assert(calls.contains(("m.Sub.go", "lib.Conn.execute")))
    assert(calls.contains(("m.Sub.go", "lib.Pool.acquire")))
    assert(calls.contains(("m.Sub.go", "lib.Conn.commit")))
    // annotation is authoritative: the later annassign re-types d even
    // though a constructor bound it first
    assert(calls.contains(("m.Sub.go", "lib.Conn.query")))
    assert(!calls.contains(("m.Sub.go", "lib.Pool.query")))
  }

  test("slice 26: constructor-call comprehensions type iteration and " +
    "subscript targets (non-classish elements bind nothing)") {
    val src =
      """from lib import Helper
        |
        |
        |def use(ts):
        |    xs = [Helper(t) for t in ts]
        |    for x in xs:
        |        x.run()
        |    y = xs[0]
        |    y.ping()
        |    zs = {Helper(t) for t in ts}
        |    for z in zs:
        |        z.poke()
        |    ws = [str(t) for t in ts]
        |    for w in ws:
        |        w.jump()
        |""".stripMargin
    val calls = callsOf(src)
    assert(calls.contains(("m.use", "lib.Helper.run")))
    assert(calls.contains(("m.use", "lib.Helper.ping")))
    assert(calls.contains(("m.use", "lib.Helper.poke")))
    assert(!calls.exists(_._2.endsWith("jump")))
  }

  test("slice 23 negative: an UNTYPED base field leaves the member " +
    "unresolved (no fabricated target)") {
    val src =
      """class Base:
        |    def __init__(self, conn):
        |        self.conn = conn
        |
        |
        |class Sub(Base):
        |    def go(self):
        |        self.conn.execute()
        |""".stripMargin
    val calls = callsOf(src)
    assert(!calls.exists(_._2.endsWith("execute")))
  }
  test("r12: cross-module member takes verify against the indexed class " +
      "table — a nonexistent member resolves to NOTHING (jedi), an " +
      "unindexed receiver keeps the take") {
    val libPy =
      """class Conn:
        |    def execute(self):
        |        return 1
        |
        |
        |class Sub(Conn):
        |    pass
        |""".stripMargin
    val appPy =
      """from lib import Conn, Sub
        |from extmod import Widget
        |
        |def good():
        |    c = Conn()
        |    return c.execute()
        |
        |def bad():
        |    c = Conn()
        |    return c.no_such_member()
        |
        |def inherited():
        |    s = Sub()
        |    return s.execute()
        |
        |def external():
        |    w = Widget()
        |    return w.spin()
        |""".stripMargin
    val ix2 = IngestArms.both(
      Seq(SourceFile("lib.py", libPy), SourceFile("app.py", appPy)).toDS(), "tv")
    val calls = ix2.edges.filter(col("rel_type") === Rel.Call)
      .select("src", "dst").as[(String, String)].collect().toSet
    // the defined member resolves
    assert(calls.contains(("app.good", "lib.Conn.execute")))
    // the NONEXISTENT member on an indexed class drops — no member
    // edge (the Conn() constructor call itself rightly stays), and no
    // stub node is fabricated for it
    assert(!calls.exists(_._2.endsWith("no_such_member")),
      s"expected no edge to the missing member, got " +
        calls.filter(_._1 == "app.bad"))
    assert(calls.contains(("app.bad", "lib.Conn")))
    assert(ix2.nodes.filter(col("full_name") === "lib.Conn.no_such_member")
      .isEmpty)
    // an INHERITED member is not a miss: the closure re-points it
    assert(calls.contains(("app.inherited", "lib.Conn.execute")) ||
      calls.contains(("app.inherited", "lib.Sub.execute")))
    // a receiver class OUTSIDE the indexed corpus keeps the blind take
    // (nothing to disprove — the shallow posture)
    assert(calls.contains(("app.external", "extmod.Widget.spin")))
    // r13 (verdict #7): the dropped member's REFERENCE occurrence rows
    // go with the edge — the SQLite sink never cites a dropped take;
    // the resolved member's reference anchor stays
    val refLocs = ix2.locations.filter(col("kind") === "REFERENCE")
      .select("symbolFullName").as[String].collect().toSet
    assert(!refLocs.exists(_.endsWith("no_such_member")),
      s"dropped edge must drop its REFERENCE location; got $refLocs")
  }

  test("r13: a class defining or inheriting __getattr__ keeps blind " +
      "member takes — 'not in the def table' is not 'does not exist'") {
    val libPy =
      """class Proxy:
        |    def __getattr__(self, name):
        |        return lambda: 1
        |
        |class Child(Proxy):
        |    pass
        |
        |class Plain:
        |    def real(self):
        |        return 1
        |""".stripMargin
    val appPy =
      """from lib import Proxy, Child, Plain
        |
        |def via_proxy():
        |    p = Proxy()
        |    return p.anything_at_all()
        |
        |def via_child():
        |    c = Child()
        |    return c.dynamic_too()
        |
        |def via_plain():
        |    q = Plain()
        |    return q.not_there()
        |""".stripMargin
    val ix2 = IngestArms.both(
      Seq(SourceFile("lib.py", libPy), SourceFile("app.py", appPy)).toDS(), "tdy")
    val calls = ix2.edges.filter(col("rel_type") === Rel.Call)
      .select("src", "dst").as[(String, String)].collect().toSet
    // __getattr__ classes answer any member at runtime: keep the take
    assert(calls.contains(("app.via_proxy", "lib.Proxy.anything_at_all")),
      s"__getattr__ class must keep the blind take; got $calls")
    // the marker INHERITS down the closure
    assert(calls.contains(("app.via_child", "lib.Child.dynamic_too")),
      s"inherited __getattr__ must keep the take; got $calls")
    // a fully-modeled class still drops its nonexistent member
    assert(!calls.exists(_._2.endsWith("not_there")))
  }

  test("r12 slice 55: inline call-result chains emit a Call edge per " +
      "link (ctor heads, fluent builders, typed-receiver heads)") {
    val src =
      """class Conn:
        |    def execute(self):
        |        return 1
        |
        |class Database:
        |    def get_conn(self) -> Conn:
        |        return Conn()
        |
        |class Builder:
        |    def with_a(self):
        |        return self
        |    def build(self) -> Conn:
        |        return Conn()
        |
        |def chain():
        |    c = Database().get_conn()
        |    return c.execute()
        |
        |def fluent():
        |    b = Builder().with_a().with_a()
        |    return b.build().execute()
        |
        |def inline():
        |    return Database().get_conn().execute()
        |
        |def untyped():
        |    return mystery().whatever().more()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t", "p.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    // the assignment head's link now references like jedi does
    assert(calls.contains(("p.chain", "p.Database.get_conn")))
    assert(calls.contains(("p.chain", "p.Conn.execute")))
    // fluent: return-self links fold, the call-trailer member resolves
    assert(calls.contains(("p.fluent", "p.Builder.with_a")))
    assert(calls.contains(("p.fluent", "p.Conn.execute")))
    // fully inline: every link references
    assert(calls.contains(("p.inline", "p.Database.get_conn")))
    assert(calls.contains(("p.inline", "p.Conn.execute")))
    // an unresolvable head emits no link edges at all
    assert(!calls.exists { case (s, d) =>
      s == "p.untyped" && (d.endsWith("whatever") || d.endsWith("more")) })
  }

  test("r12 slice 56: constructor brace literals — dicts bind VALUE " +
      "types, sets bind ELEMENT types, mixed binds nothing") {
    val src =
      """class Conn:
        |    def execute(self):
        |        return 1
        |
        |def dictvals():
        |    d = {"a": Conn(), "b": Conn()}
        |    return d["a"].execute()
        |
        |def setvals():
        |    s = {Conn(), Conn()}
        |    for c in s:
        |        c.execute()
        |
        |def mixed():
        |    m = {"a": Conn(), "b": other()}
        |    return m["a"].run()
        |
        |def values_iter():
        |    d = {"a": Conn()}
        |    for v in d.values():
        |        v.execute()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t", "p.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    assert(calls.contains(("p.dictvals", "p.Conn.execute")))
    assert(calls.contains(("p.setvals", "p.Conn.execute")))
    assert(calls.contains(("p.values_iter", "p.Conn.execute")))
    // a mixed-value dict binds nothing — no edge to Conn.run
    assert(!calls.exists { case (s, d) => s == "p.mixed" && d.endsWith("run") })
  }

  test("r12 slice 57: container SELF-FIELD build-up — iteration, " +
      "subscript reads and calls bind the element type, file-order and " +
      "MRO independent") {
    val src =
      """class Conn:
        |    def execute(self):
        |        return 1
        |
        |class Base:
        |    def fill(self):
        |        self.conns.append(Conn())
        |
        |class Pool(Base):
        |    def use_before_fill(self):
        |        for c in self.conns:
        |            c.execute()
        |    def first(self):
        |        return self.conns[0].execute()
        |    def pick(self):
        |        x = self.conns[1]
        |        return x.execute()
        |    def untyped(self):
        |        for z in self.mystery:
        |            z.whatever()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t", "p.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    // the build-up lives on the BASE class and LATER in the file than
    // one consumer — both must still resolve (pre-pass + MRO)
    assert(calls.contains(("p.Pool.use_before_fill", "p.Conn.execute")))
    assert(calls.contains(("p.Pool.first", "p.Conn.execute")))
    assert(calls.contains(("p.Pool.pick", "p.Conn.execute")))
    // an un-built field binds nothing
    assert(!calls.exists { case (s, d) =>
      s == "p.Pool.untyped" && d.endsWith("whatever") })
  }

  test("r12 slice 58: PEP 484 quoted forward references and classmethod " +
      "cls member calls") {
    val src =
      """class Conn:
        |    def execute(self):
        |        return 1
        |
        |def quoted(c: "Conn"):
        |    return c.execute()
        |
        |def quoted_local():
        |    x: "Conn" = make()
        |    return x.execute()
        |
        |class Fac:
        |    @classmethod
        |    def build(cls):
        |        return cls.helper()
        |    @classmethod
        |    def helper(cls):
        |        return Conn()
        |
        |def not_anno():
        |    d = {"k": "Conn"}
        |    return d
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t", "p.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    // quoted annotations type params and annotated locals
    assert(calls.contains(("p.quoted", "p.Conn.execute")))
    assert(calls.contains(("p.quoted_local", "p.Conn.execute")))
    // cls.member() inside a classmethod binds the enclosing class
    assert(calls.contains(("p.Fac.build", "p.Fac.helper")))
    // a dict VALUE string after ':' (curly depth > 0) stays TEXT — no
    // phantom Conn reference from not_anno
    assert(!calls.exists(_._1 == "p.not_anno"))
  }

  test("r13 slice 59: decorator-transparent returns — resolvable " +
      "decorators keep the return key, an unresolvable one binds nothing") {
    val src =
      """import functools
        |from ext import traced
        |
        |class Conn:
        |    def execute(self):
        |        return 1
        |
        |def logged(fn):
        |    @functools.wraps(fn)
        |    def inner(*a, **k):
        |        return fn(*a, **k)
        |    return inner
        |
        |@logged
        |def local_deco() -> Conn:
        |    return Conn()
        |
        |@traced
        |def imported_deco():
        |    return Conn()
        |
        |@functools.lru_cache(maxsize=8)
        |def cached_factory() -> Conn:
        |    return Conn()
        |
        |@no_such_decorator
        |def mystery() -> Conn:
        |    return Conn()
        |
        |def use():
        |    a = local_deco()
        |    b = imported_deco()
        |    c = cached_factory()
        |    z = mystery()
        |    a.execute()
        |    b.execute()
        |    c.execute()
        |    z.ping()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t", "p.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    // module-local, imported, and functools decorators are transparent:
    // the decorated factory types its caller's local (jedi through
    // wraps/identity handling)
    assert(calls.contains(("p.use", "p.Conn.execute")))
    // the unresolvable decorator makes the call result unknown — jedi
    // binds nothing, so no member edge fabricates off z
    assert(!calls.exists { case (s, d) =>
      s == "p.use" && d.endsWith("ping") },
      s"unresolvable decorator must bind nothing; got $calls")
  }

  test("r14 slice 62: cross-module decorator verification — an import " +
      "the corpus DISPROVES poisons the return key; an indexed def, a " +
      "variable binding, an open module, and an out-of-corpus import " +
      "all keep it") {
    val modA =
      """class Conn:
        |    def ping(self):
        |        return 1
        |
        |def wraps_factory(fn):
        |    return fn
        |
        |ALIAS_DECO = wraps_factory
        |""".stripMargin
    val modOpen =
      """from somewhere_else import *
        |""".stripMargin
    val modB =
      """from mod_a import wraps_factory, missing_deco, ALIAS_DECO, Conn
        |from mod_open import anything_goes
        |from not_in_corpus import external_deco
        |import mod_a
        |
        |@wraps_factory
        |def mk_ok() -> Conn:
        |    return Conn()
        |
        |@missing_deco
        |def mk_bad() -> Conn:
        |    return Conn()
        |
        |@ALIAS_DECO
        |def mk_var() -> Conn:
        |    return Conn()
        |
        |@anything_goes
        |def mk_open() -> Conn:
        |    return Conn()
        |
        |@external_deco
        |def mk_ext() -> Conn:
        |    return Conn()
        |
        |@mod_a.wraps_factory
        |def mk_attr() -> Conn:
        |    return Conn()
        |
        |@mod_a.no_such_attr
        |def mk_attr_bad() -> Conn:
        |    return Conn()
        |
        |def use():
        |    a = mk_ok()
        |    a.ping()
        |    b = mk_bad()
        |    b.ping()
        |    c = mk_var()
        |    c.ping()
        |    d = mk_open()
        |    d.ping()
        |    e = mk_ext()
        |    e.ping()
        |    f = mk_attr()
        |    f.ping()
        |    g = mk_attr_bad()
        |    g.ping()
        |""".stripMargin
    val fx = Seq(SourceFile("mod_a.py", modA),
      SourceFile("mod_open.py", modOpen),
      SourceFile("mod_b.py", modB)).toDS()
    val out = IngestArms.both(fx, "t62")
    val pings = out.edges
      .filter(col("rel_type") === Rel.Call && col("dst") === "mod_a.Conn.ping")
      .select("src").as[String].collect().toSet
    // kept: indexed def (direct and as mod_a attribute), a top-level
    // VARIABLE binding (could be a callable — can't disprove), an OPEN
    // module (import * — can bind anything), an out-of-corpus import
    assert(pings.contains("mod_b.use"), s"got $pings")
    // the per-binding evidence: exactly the disproved decorators bind
    // nothing — count the surviving x.ping() uses via USE/CALL pairs
    val ev = graft.indexer.PyIndexer.indexFile("t62", "mod_b.py", modB,
      Some(graft.indexer.PyIndexer.corpusContext(Seq(
        graft.indexer.PyIndexer.moduleBindings("mod_a.py", modA),
        graft.indexer.PyIndexer.moduleBindings("mod_open.py", modOpen),
        graft.indexer.PyIndexer.moduleBindings("mod_b.py", modB)))))
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .filter(_.dst == "mod_a.Conn.ping").map(_.src)
    // 5 kept bindings (ok, var, open, ext, attr) each emit the member
    // call once from use(); the within-file dedup collapses them to one
    // edge — so instead pin the POISON side: re-run with the two bad
    // decorators' defs isolated
    def pingsOf(body: String): Boolean = {
      val one = "from mod_a import missing_deco, Conn\nimport mod_a\n" +
        body + "\ndef use():\n    x = mk()\n    x.ping()\n"
      graft.indexer.PyIndexer.indexFile("t62", "mod_b.py", one,
        Some(graft.indexer.PyIndexer.corpusContext(Seq(
          graft.indexer.PyIndexer.moduleBindings("mod_a.py", modA)))))
        .edges.exists(e => e.relType == Rel.Call &&
          e.dst == "mod_a.Conn.ping" && e.src == "mod_b.use")
    }
    assert(!pingsOf("@missing_deco\ndef mk() -> Conn:\n    return Conn()"),
      "a corpus-disproved from-import decorator must poison")
    assert(!pingsOf("@mod_a.no_such_attr\ndef mk() -> Conn:\n    return Conn()"),
      "a corpus-disproved module-attribute decorator must poison")
    assert(pingsOf("@mod_a.wraps_factory\ndef mk() -> Conn:\n    return Conn()"))
    assert(calls.nonEmpty)
  }

  test("r14 slice 63: cross-module DECLARED returns — an imported " +
      "factory's `-> Class` types its caller; non-class and " +
      "unannotated imports bind nothing") {
    val modA =
      """class Conn:
        |    def ping(self):
        |        return 1
        |
        |def helper():
        |    return 1
        |
        |def open_conn() -> Conn:
        |    return Conn()
        |
        |def open_untyped():
        |    return Conn()
        |
        |def weird() -> helper:
        |    return helper
        |""".stripMargin
    val modB =
      """from mod_a import open_conn, open_untyped, weird
        |import mod_a
        |
        |def use():
        |    c = open_conn()
        |    c.ping()
        |
        |def use_attr():
        |    c = mod_a.open_conn()
        |    c.ping()
        |
        |def use_untyped():
        |    u = open_untyped()
        |    u.ping()
        |
        |def use_weird():
        |    w = weird()
        |    w.ping()
        |""".stripMargin
    val fx = Seq(SourceFile("mod_a.py", modA),
      SourceFile("mod_b.py", modB)).toDS()
    val out = IngestArms.both(fx, "t63")
    val pings = out.edges
      .filter(col("rel_type") === Rel.Call && col("dst") === "mod_a.Conn.ping")
      .select("src").as[String].collect().toSet
    // the declared cross-module factory types both the from-import and
    // the module-attribute call sites
    assert(pings === Set("mod_b.use", "mod_b.use_attr"), s"got $pings")
    // the unannotated factory stays out of scope (cross-module INFERRED
    // returns are not scanned) and `-> helper` is not a class — neither
    // binds, so no ping edge fabricates from their callers
    val allCalls = out.edges.filter(col("rel_type") === Rel.Call)
      .select("src", "dst").as[(String, String)].collect().toSet
    assert(!allCalls.exists(c => c._1 == "mod_b.use_untyped" &&
      c._2.endsWith(".ping")))
    assert(!allCalls.exists(c => c._1 == "mod_b.use_weird" &&
      c._2.endsWith(".ping")))
  }

  test("r14 slice 64: cross-module METHOD returns — a corpus class's " +
      "declared `-> Class` types bindings and inline chains") {
    val modA =
      """class Conn:
        |    def ping(self):
        |        return 1
        |
        |class Client:
        |    def cursor(self) -> Conn:
        |        return Conn()
        |    def raw(self):
        |        return Conn()
        |""".stripMargin
    val modB =
      """from mod_a import Client
        |
        |def use():
        |    cl = Client()
        |    cur = cl.cursor()
        |    cur.ping()
        |
        |def use_chain():
        |    Client().cursor().ping()
        |
        |def use_raw():
        |    r = Client().raw()
        |    r.ping()
        |""".stripMargin
    val fx = Seq(SourceFile("mod_a.py", modA),
      SourceFile("mod_b.py", modB)).toDS()
    val out = IngestArms.both(fx, "t64")
    val pings = out.edges
      .filter(col("rel_type") === Rel.Call && col("dst") === "mod_a.Conn.ping")
      .select("src").as[String].collect().toSet
    assert(pings === Set("mod_b.use", "mod_b.use_chain"), s"got $pings")
    // the unannotated method stays out of scope — no fabricated edge
    val allCalls = out.edges.filter(col("rel_type") === Rel.Call)
      .select("src", "dst").as[(String, String)].collect().toSet
    assert(!allCalls.exists(c => c._1 == "mod_b.use_raw" &&
      c._2.endsWith(".ping")))
  }

  test("r14 slice 65: cross-module ANNOTATED class fields and " +
      "@property reads chase through attribute chains") {
    val modA =
      """class Conn:
        |    def ping(self):
        |        return 1
        |
        |class Client:
        |    conn: Conn = None
        |    plain = 7
        |    def __init__(self):
        |        self.conn = Conn()
        |    @property
        |    def backup(self) -> Conn:
        |        return Conn()
        |    def normal(self) -> Conn:
        |        return Conn()
        |""".stripMargin
    val modB =
      """from mod_a import Client
        |
        |def use_field():
        |    cl = Client()
        |    cl.conn.ping()
        |
        |def use_prop():
        |    cl = Client()
        |    cl.backup.ping()
        |
        |def use_plain():
        |    cl = Client()
        |    cl.plain.ping()
        |""".stripMargin
    val fx = Seq(SourceFile("mod_a.py", modA),
      SourceFile("mod_b.py", modB)).toDS()
    val out = IngestArms.both(fx, "t65")
    val pings = out.edges
      .filter(col("rel_type") === Rel.Call && col("dst") === "mod_a.Conn.ping")
      .select("src").as[String].collect().toSet
    assert(pings.contains("mod_b.use_field"), s"got $pings")
    assert(pings.contains("mod_b.use_prop"), s"got $pings")
    // the unannotated field has no scanned type — no Conn.ping edge
    // fabricates from its caller
    assert(!pings.contains("mod_b.use_plain"), s"got $pings")
  }

  test("r14 slice 66: a LOCAL subclass of an imported base inherits " +
      "the base's scanned method returns and annotated fields") {
    val modA =
      """class Conn:
        |    def ping(self):
        |        return 1
        |
        |class Base:
        |    conn: Conn = None
        |    def cursor(self) -> Conn:
        |        return Conn()
        |""".stripMargin
    val modB =
      """from mod_a import Base
        |
        |class Sub(Base):
        |    def extra(self):
        |        return 0
        |
        |def use_method():
        |    s = Sub()
        |    c = s.cursor()
        |    c.ping()
        |
        |def use_field():
        |    s = Sub()
        |    s.conn.ping()
        |""".stripMargin
    val fx = Seq(SourceFile("mod_a.py", modA),
      SourceFile("mod_b.py", modB)).toDS()
    val out = IngestArms.both(fx, "t66")
    val pings = out.edges
      .filter(col("rel_type") === Rel.Call && col("dst") === "mod_a.Conn.ping")
      .select("src").as[String].collect().toSet
    assert(pings === Set("mod_b.use_method", "mod_b.use_field"),
      s"got $pings")
  }

  test("r15 slice 83: TRANSITIVE cross-module MRO — a two-hop imported " +
      "ancestor's returns/fields type a local subclass; out-of-corpus " +
      "ancestors bind nothing") {
    // chain: local Sub(a.Mid), a.Mid(c.Base) — Base's facts must flow
    // two modules up through the corpus-fold linearization
    val modC =
      """class Conn:
        |    def ping(self):
        |        return 1
        |
        |class Base:
        |    conn: Conn = None
        |    def cursor(self) -> Conn:
        |        return Conn()
        |""".stripMargin
    val modA =
      """from mod_c import Base
        |
        |class Mid(Base):
        |    def middle(self):
        |        return 0
        |""".stripMargin
    val modB =
      """from mod_a import Mid
        |from ghost_mod import GBase
        |
        |class Sub(Mid):
        |    def extra(self):
        |        return 0
        |
        |class Mid2(GBase):
        |    pass
        |
        |class Sub2(Mid2):
        |    pass
        |
        |def use_method():
        |    s = Sub()
        |    c = s.cursor()
        |    c.ping()
        |
        |def use_field():
        |    s = Sub()
        |    s.conn.ping()
        |
        |def use_ghost():
        |    s = Sub2()
        |    c = s.cursor()
        |    c.ping()
        |""".stripMargin
    val fx = Seq(SourceFile("mod_c.py", modC), SourceFile("mod_a.py", modA),
      SourceFile("mod_b.py", modB)).toDS()
    val out = IngestArms.both(fx, "t83")
    val pings = out.edges
      .filter(col("rel_type") === Rel.Call && col("dst") === "mod_c.Conn.ping")
      .select("src").as[String].collect().toSet
    assert(pings.contains("mod_b.use_method"), s"got $pings")
    assert(pings.contains("mod_b.use_field"), s"got $pings")
    // the out-of-corpus ancestor chain resolves nothing — no Conn edge
    assert(!pings.contains("mod_b.use_ghost"), s"got $pings")
  }

  test("r15 slice 83b: nearest MRO declaration wins — an intermediate " +
      "override shadows the root's declared return") {
    val modC =
      """class A:
        |    def a_ping(self):
        |        return 1
        |
        |class B:
        |    def b_ping(self):
        |        return 1
        |
        |class Root:
        |    def make(self) -> A:
        |        return A()
        |""".stripMargin
    val modA =
      """from mod_c import Root, B
        |
        |class Mid(Root):
        |    def make(self) -> B:
        |        return B()
        |""".stripMargin
    val modB =
      """from mod_a import Mid
        |
        |class Sub(Mid):
        |    pass
        |
        |def use():
        |    s = Sub()
        |    x = s.make()
        |    x.b_ping()
        |""".stripMargin
    val fx = Seq(SourceFile("mod_c.py", modC), SourceFile("mod_a.py", modA),
      SourceFile("mod_b.py", modB)).toDS()
    val out = IngestArms.both(fx, "t83b")
    val calls = out.edges.filter(col("rel_type") === Rel.Call)
      .filter(col("src") === "mod_b.use")
      .select("dst").as[String].collect().toSet
    assert(calls.contains("mod_c.B.b_ping"), s"got $calls")
    assert(!calls.contains("mod_c.A.b_ping"), s"got $calls")
  }

  test("r15 slice 85: FACADE re-exports chase at the corpus fold — an " +
      "annotation naming a re-exported class resolves to its definer; " +
      "out-of-corpus re-export chains bind nothing") {
    val modCore =
      """class User:
        |    def save(self):
        |        return 1
        |""".stripMargin
    // the facade defines NO class — it only re-exports
    val modPkg =
      """from mod_core import User
        |""".stripMargin
    val modF =
      """from mod_pkg import User
        |from mod_ghostpkg import Phantom
        |
        |def make() -> User:
        |    return User()
        |
        |def spook() -> Phantom:
        |    return Phantom()
        |""".stripMargin
    val modG =
      """from mod_f import make, spook
        |
        |def use():
        |    make().save()
        |
        |def use_ghost():
        |    spook().save()
        |""".stripMargin
    val fx = Seq(SourceFile("mod_core.py", modCore),
      SourceFile("mod_pkg.py", modPkg), SourceFile("mod_f.py", modF),
      SourceFile("mod_g.py", modG)).toDS()
    val out = IngestArms.both(fx, "t85")
    val saves = out.edges
      .filter(col("rel_type") === Rel.Call && col("dst") === "mod_core.User.save")
      .select("src").as[String].collect().toSet
    assert(saves.contains("mod_g.use"), s"got $saves")
    assert(!saves.contains("mod_g.use_ghost"), s"got $saves")
  }

  test("r15 slice 85b: a real package __init__.py facade — " +
      "`from pkg import X` resolves through pkg/__init__.py's " +
      "re-export to the defining module") {
    val core =
      """class User:
        |    def save(self):
        |        return 1
        |""".stripMargin
    val init =
      """from core import User
        |""".stripMargin
    val app =
      """from pkg import User
        |
        |def make() -> User:
        |    return User()
        |
        |def use():
        |    make().save()
        |""".stripMargin
    val fx = Seq(SourceFile("core.py", core),
      SourceFile("pkg/__init__.py", init),
      SourceFile("app.py", app)).toDS()
    val out = IngestArms.both(fx, "t85b")
    val saves = out.edges
      .filter(col("rel_type") === Rel.Call && col("dst") === "core.User.save")
      .select("src").as[String].collect().toSet
    assert(saves.contains("app.use"), s"got $saves")
  }

  test("r15 slice 86: TYPE_CHECKING / nested from-imports feed " +
      "annotation resolution; the disproof side stays top-level-only") {
    val modA =
      """class Conn:
        |    def ping(self):
        |        return 1
        |""".stripMargin
    val modB =
      """from typing import TYPE_CHECKING
        |
        |if TYPE_CHECKING:
        |    from mod_a import Conn
        |
        |def get() -> "Conn":
        |    return _make()
        |""".stripMargin
    val modC =
      """from mod_b import get
        |
        |def use():
        |    get().ping()
        |""".stripMargin
    val fx = Seq(SourceFile("mod_a.py", modA), SourceFile("mod_b.py", modB),
      SourceFile("mod_c.py", modC)).toDS()
    val out = IngestArms.both(fx, "t86")
    val pings = out.edges
      .filter(col("rel_type") === Rel.Call && col("dst") === "mod_a.Conn.ping")
      .select("src").as[String].collect().toSet
    assert(pings.contains("mod_c.use"), s"got $pings")
  }

  test("r16 slice 89: star-import of a CLOSED corpus module binds its " +
      "exported names — constructor calls type, annotations resolve, " +
      "facades chase; open-module stars keep the blanket optimism; " +
      "underscore names stay home") {
    val modA =
      """class Conn:
        |    def ping(self):
        |        return 1
        |
        |class _Hidden:
        |    def boom(self):
        |        return 0
        |""".stripMargin
    // positive: star-imported class types a constructor call
    val modB =
      """from mod_a import *
        |
        |def use():
        |    x = Conn()
        |    x.ping()
        |""".stripMargin
    // fold side: an annotation naming a star-imported class resolves
    val modC =
      """from mod_a import *
        |
        |def get() -> "Conn":
        |    return _make()
        |""".stripMargin
    val modD =
      "from mod_c import get\n\ndef use_d():\n    get().ping()\n"
    // facade star-re-export: an explicit from-import of the facade
    // CHASES through its star into the definer (annotation route —
    // the slice 85 shape)
    val modF = "from mod_a import *\n"
    val modE =
      """from mod_f import Conn
        |
        |def make() -> Conn:
        |    return Conn()
        |""".stripMargin
    val modH =
      "from mod_e import make\n\ndef use_e():\n    make().ping()\n"
    val fx = Seq(SourceFile("mod_a.py", modA), SourceFile("mod_b.py", modB),
      SourceFile("mod_c.py", modC), SourceFile("mod_d.py", modD),
      SourceFile("mod_f.py", modF), SourceFile("mod_e.py", modE),
      SourceFile("mod_h.py", modH)).toDS()
    val out = IngestArms.both(fx, "t89")
    val pings = out.edges
      .filter(col("rel_type") === Rel.Call && col("dst") === "mod_a.Conn.ping")
      .select("src").as[String].collect().toSet
    assert(pings.contains("mod_b.use"), s"constructor: got $pings")
    assert(pings.contains("mod_d.use_d"), s"annotation: got $pings")
    assert(pings.contains("mod_h.use_e"), s"facade chase: got $pings")
    // underscore names stay home: _Hidden is NOT star-bound
    val sB = graft.indexer.PyIndexer.corpusContext(Seq(
      graft.indexer.PyIndexer.moduleBindings("mod_a.py", modA),
      graft.indexer.PyIndexer.moduleBindings("mod_b.py", modB)))
    assert(sB.bound.contains("mod_b.Conn"))
    assert(!sB.bound.contains("mod_b._Hidden"))
    assert(sB.modules.contains("mod_b"), "star of a closed module " +
      "must keep the importer closed (disproof survives)")
    // a star of an OPEN module (itself star-importing out-of-corpus)
    // opens the importer — no disproof, blanket optimism
    val modOpen = "from somewhere_external import *\n"
    val modG = "from mod_open import *\n\ndef g():\n    return 1\n"
    val sG = graft.indexer.PyIndexer.corpusContext(Seq(
      graft.indexer.PyIndexer.moduleBindings("mod_open.py", modOpen),
      graft.indexer.PyIndexer.moduleBindings("mod_g.py", modG)))
    assert(!sG.modules.contains("mod_open"))
    assert(!sG.modules.contains("mod_g"),
      "openness must propagate through star chains")
  }

  test("r16 slice 90: call-site param inference (jedi's dynamic " +
      "params) — agreeing constructor args type an un-annotated " +
      "param; disagreement, annotations and non-top-level defs stay " +
      "out") {
    val src =
      """class Conn:
        |    def ping(self):
        |        return 1
        |
        |class Other:
        |    def ping(self):
        |        return 2
        |
        |def use(h):
        |    return h.ping()
        |
        |def mixed(h):
        |    return h.ping()
        |
        |def annotated(h: Other):
        |    return h.ping()
        |
        |def kwonly(a, h=None):
        |    return h.ping()
        |
        |def caller():
        |    use(Conn())
        |    use(Conn())
        |    mixed(Conn())
        |    mixed(Other())
        |    annotated(Conn())
        |    kwonly(1, h=Conn())
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t1", "dyn.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    // agreeing call sites type the param: use's h.ping() resolves
    assert(calls.contains(("dyn.use", "dyn.Conn.ping")), s"got $calls")
    // DISAGREEING call sites bind nothing (jedi's union stays out)
    assert(!calls.contains(("dyn.mixed", "dyn.Conn.ping")))
    assert(!calls.contains(("dyn.mixed", "dyn.Other.ping")))
    // an annotation WINS over call-site evidence
    assert(calls.contains(("dyn.annotated", "dyn.Other.ping")))
    assert(!calls.contains(("dyn.annotated", "dyn.Conn.ping")))
    // a param with a DEFAULT stays out of the dynamic channel (the
    // default's own slice-37 typing governs; None types nothing)
    assert(!calls.contains(("dyn.kwonly", "dyn.Conn.ping")))
  }

  test("r16 slice 92: class-addressed method call sites infer params " +
      "(Cls.m(Conn()) with the self/cls positional shift); instance " +
      "receivers stay out") {
    val src =
      """class Conn:
        |    def ping(self):
        |        return 1
        |
        |class Svc:
        |    @staticmethod
        |    def stat(h):
        |        return h.ping()
        |
        |    @classmethod
        |    def make(cls, h):
        |        return h.ping()
        |
        |    def inst(self, h):
        |        return h.ping()
        |
        |def caller():
        |    Svc.stat(Conn())
        |    Svc.make(Conn())
        |    s = Svc()
        |    s.inst(Conn())
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t1", "dyn2.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    // staticmethod: positional arg 0 -> param h (no self shift needed,
    // but the header has no self piece either)
    assert(calls.contains(("dyn2.Svc.stat", "dyn2.Conn.ping")),
      s"got $calls")
    // classmethod: the leading cls piece shifts the mapping by one
    assert(calls.contains(("dyn2.Svc.make", "dyn2.Conn.ping")))
    // an INSTANCE-receiver call site proposes nothing (the pre-pass
    // has no type for s) — h stays untyped in inst
    assert(!calls.contains(("dyn2.Svc.inst", "dyn2.Conn.ping")))
  }

  test("r16 slice 91: a literal __all__ is the star-export allow-list " +
      "— names outside it do not star-bind; a dynamic __all__ keeps " +
      "the optimistic superset") {
    val modA =
      """__all__ = ["Conn"]
        |
        |class Conn:
        |    def ping(self):
        |        return 1
        |
        |class Hidden:
        |    def boom(self):
        |        return 0
        |""".stripMargin
    val modB =
      """from mod_a import *
        |
        |def use():
        |    x = Conn()
        |    x.ping()
        |
        |def sneak():
        |    y = Hidden()
        |    y.boom()
        |""".stripMargin
    val fx = Seq(SourceFile("mod_a.py", modA),
      SourceFile("mod_b.py", modB)).toDS()
    val out = IngestArms.both(fx, "t91")
    val calls = out.edges
      .filter(col("rel_type") === Rel.Call)
      .select("src", "dst").as[(String, String)].collect().toSet
    assert(calls.contains(("mod_b.use", "mod_a.Conn.ping")),
      s"got $calls")
    assert(!calls.contains(("mod_b.sneak", "mod_a.Hidden.boom")),
      "a name outside __all__ must not star-bind")
    // fold side mirrors: exports carries exactly the allow-list
    val ctx = graft.indexer.PyIndexer.corpusContext(Seq(
      graft.indexer.PyIndexer.moduleBindings("mod_a.py", modA),
      graft.indexer.PyIndexer.moduleBindings("mod_b.py", modB)))
    assert(ctx.exports("mod_a") === Set("Conn"))
    assert(ctx.bound.contains("mod_b.Conn"))
    assert(!ctx.bound.contains("mod_b.Hidden"))
    // a DYNAMIC __all__ (+=) RE-OPENS the export set (advisor r17:
    // Python binds the appended names at runtime, so keeping the
    // literal would be a wrong narrow and fabricate disproofs)
    val modDyn =
      """__all__ = ["Conn"]
        |__all__ += extra()
        |
        |class Conn:
        |    pass
        |
        |class Hidden:
        |    pass
        |""".stripMargin
    val sDyn = graft.indexer.PyIndexer.moduleBindings("mod_d.py", modDyn)
    assert(sDyn.allList.isEmpty,
      "+= after a literal __all__ must reset the allow-list")
    // a module whose FIRST __all__ binding is non-literal stays None
    val modDyn2 = "__all__ = make_exports()\n\nclass Conn:\n    pass\n"
    val sDyn2 =
      graft.indexer.PyIndexer.moduleBindings("mod_e.py", modDyn2)
    assert(sDyn2.allList.isEmpty)
    val ctx2 = graft.indexer.PyIndexer.corpusContext(Seq(sDyn2))
    assert(ctx2.exports("mod_e").contains("Conn"))
  }

  test("r17 advisor: __all__ literal parser — compound RHS, mutation, " +
      "and dynamic rebind all keep/restore the optimistic superset; " +
      "trailing comments and nested-close shapes parse exactly") {
    import graft.indexer.PyIndexer
    // `["a"] + extra` — the r16 reverse-scan accepted Some(["a"]);
    // the matched close is NOT the end of the RHS → None
    val sPlus = PyIndexer.moduleBindings("m1.py",
      "__all__ = [\"a\"] + extra\n\ndef a():\n    pass\n\ndef b():\n    pass\n")
    assert(sPlus.allList.isEmpty,
      "a compound RHS must not narrow the export set")
    val ctx = PyIndexer.corpusContext(Seq(sPlus))
    assert(ctx.exports("m1").contains("b"),
      "b stays exported under the optimistic superset")
    // `.append(...)` after a literal re-opens
    val sApp = PyIndexer.moduleBindings("m2.py",
      "__all__ = [\"a\"]\n__all__.append(\"b\")\n\ndef a():\n    pass\n\ndef b():\n    pass\n")
    assert(sApp.allList.isEmpty)
    // a dynamic REASSIGNMENT after a literal re-opens too
    val sRe = PyIndexer.moduleBindings("m3.py",
      "__all__ = [\"a\"]\n__all__ = make()\n\ndef a():\n    pass\n")
    assert(sRe.allList.isEmpty)
    // multi-line list with per-entry trailing comments parses
    val sCmt = PyIndexer.moduleBindings("m4.py",
      "__all__ = [\n    \"a\",  # public\n    \"b\",\n]\n\ndef a():\n    pass\n\ndef b():\n    pass\n")
    assert(sCmt.allList === Some(Seq("a", "b")))
    // tuple spelling, trailing whitespace after the close
    assert(PyIndexer.parseAllLiteral("(\"x\", \"y\")  ")
      === Some(Seq("x", "y")))
    // non-identifier entry → None (never a partial narrow)
    assert(PyIndexer.parseAllLiteral("[\"x\", name]").isEmpty)
    assert(PyIndexer.parseAllLiteral("[\"x\"] + rest").isEmpty)
    assert(PyIndexer.parseAllLiteral("[]").isEmpty)
  }

  test("r16 slice 86 hygiene: a from-import inside a triple-quoted " +
      "docstring or example block binds NOTHING (advisor r16) — the " +
      "preprocess blanking must reach the nested-import harvest") {
    val modBad =
      """class Conn:
        |    def boom(self):
        |        return 0
        |""".stripMargin
    val modB =
      """def get() -> "Conn":
        |    '''Usage example:
        |        from mod_bad import Conn
        |    and a double-quoted block too:
        |    '''
        |    s = "from mod_bad import Conn"
        |    return _make()
        |
        |EXAMPLE = '''
        |    from mod_bad import Conn
        |'''
        |""".stripMargin
    val scan = graft.indexer.PyIndexer.moduleBindings("mod_b.py", modB)
    assert(!scan.imports.contains("Conn"),
      s"docstring from-import leaked into importBindings: ${scan.imports}")
    // end-to-end: the docstring text must not type get()'s annotation
    val modC =
      "from mod_b import get\n\ndef use():\n    get().boom()\n"
    val fx = Seq(SourceFile("mod_bad.py", modBad),
      SourceFile("mod_b.py", modB), SourceFile("mod_c.py", modC)).toDS()
    val out = IngestArms.both(fx, "t86d")
    val booms = out.edges
      .filter(col("rel_type") === Rel.Call && col("dst") === "mod_bad.Conn.boom")
      .select("src").as[String].collect().toSet
    assert(!booms.contains("mod_c.use"), s"got $booms")
  }

  test("r15 slice 87: cross-module CONTAINER returns — iterating an " +
      "imported `-> list[User]` factory types the element; unresolved " +
      "elements bind nothing") {
    val modA =
      """from typing import List
        |
        |class User:
        |    def save(self):
        |        return 1
        |
        |class Repo:
        |    def all(self) -> List[User]:
        |        return [User()]
        |
        |def all_users() -> list[User]:
        |    return [User()]
        |
        |def ghosts() -> list[Ghost]:
        |    return []
        |""".stripMargin
    val modB =
      """from mod_a import all_users, ghosts, Repo
        |
        |def use_iter():
        |    for u in all_users():
        |        u.save()
        |
        |def use_method():
        |    r = Repo()
        |    for u in r.all():
        |        u.save()
        |
        |def use_ghost():
        |    for g in ghosts():
        |        g.save()
        |""".stripMargin
    val fx = Seq(SourceFile("mod_a.py", modA),
      SourceFile("mod_b.py", modB)).toDS()
    val out = IngestArms.both(fx, "t87")
    val saves = out.edges
      .filter(col("rel_type") === Rel.Call && col("dst") === "mod_a.User.save")
      .select("src").as[String].collect().toSet
    assert(saves.contains("mod_b.use_iter"), s"got $saves")
    // an imported CLASS's container-return method types too (the
    // elemAnnos keys class methods; the MRO flatten carries them)
    assert(saves.contains("mod_b.use_method"), s"got $saves")
    assert(!saves.contains("mod_b.use_ghost"), s"got $saves")
  }

  test("r15 slice 88: the corpus scan mirrors decorator poisoning — " +
      "an unresolvable decorator drops the def's cross-module facts; " +
      "whitelisted and locally-bound decorators keep them") {
    val modA =
      """from functools import lru_cache
        |
        |class User:
        |    def save(self):
        |        return 1
        |
        |def mydeco(f):
        |    return f
        |
        |@phantom_decorator
        |def make() -> User:
        |    return User()
        |
        |@lru_cache
        |def make2() -> User:
        |    return User()
        |
        |@mydeco
        |def make3() -> User:
        |    return User()
        |
        |class Factory:
        |    @phantom_decorator
        |    # a comment between decorator and def must not reset the arm
        |    def mk(self) -> User:
        |        return User()
        |""".stripMargin
    val modB =
      """from mod_a import make, make2, make3, Factory
        |
        |def use_bad():
        |    make().save()
        |
        |def use_known():
        |    make2().save()
        |
        |def use_bound():
        |    make3().save()
        |
        |def use_commented():
        |    Factory().mk().save()
        |""".stripMargin
    val fx = Seq(SourceFile("mod_a.py", modA),
      SourceFile("mod_b.py", modB)).toDS()
    val out = IngestArms.both(fx, "t88")
    val saves = out.edges
      .filter(col("rel_type") === Rel.Call && col("dst") === "mod_a.User.save")
      .select("src").as[String].collect().toSet
    assert(!saves.contains("mod_b.use_bad"), s"got $saves")
    assert(saves.contains("mod_b.use_known"), s"got $saves")
    assert(saves.contains("mod_b.use_bound"), s"got $saves")
    assert(!saves.contains("mod_b.use_commented"), s"got $saves")
  }

  test("r15 slice 84: constructor injection — an annotated __init__ " +
      "param assigned to self types the field cross-module; untyped " +
      "params bind nothing; explicit class annotations win") {
    val modA =
      """class Conn:
        |    def ping(self):
        |        return 1
        |
        |class Pool:
        |    def grab(self):
        |        return 1
        |
        |class Database:
        |    pool: Pool = None
        |    def __init__(self, conn: Conn, label, pool):
        |        self.conn = conn
        |        self.label = label
        |        self.pool = pool
        |""".stripMargin
    val modB =
      """from mod_a import Database
        |
        |def use_typed(d: Database):
        |    d.conn.ping()
        |
        |def use_untyped(d: Database):
        |    d.label.ping()
        |
        |def use_anno_wins(d: Database):
        |    d.pool.grab()
        |""".stripMargin
    val fx = Seq(SourceFile("mod_a.py", modA),
      SourceFile("mod_b.py", modB)).toDS()
    val out = IngestArms.both(fx, "t84")
    val calls = out.edges.filter(col("rel_type") === Rel.Call)
      .select("src", "dst").as[(String, String)].collect().toSet
    assert(calls.contains(("mod_b.use_typed", "mod_a.Conn.ping")),
      s"got $calls")
    assert(!calls.exists(c => c._1 == "mod_b.use_untyped" &&
      c._2.startsWith("mod_a.Conn")), s"got $calls")
    // the explicit `pool: Pool` class annotation types grab() even
    // though __init__'s `pool` param is unannotated
    assert(calls.contains(("mod_b.use_anno_wins", "mod_a.Pool.grab")),
      s"got $calls")
  }

  test("r14 slice 67: imported MODULE SINGLETONS chase through their " +
      "scanned constructor/annotated type; untyped vars keep the " +
      "blind take") {
    val modA =
      """class Conn:
        |    def ping(self):
        |        return 1
        |
        |class Database:
        |    conn: Conn = None
        |    def query(self) -> Conn:
        |        return Conn()
        |
        |db = Database()
        |cfg: Database = None
        |mystery = load_something()
        |""".stripMargin
    val modB =
      """from mod_a import db, cfg, mystery
        |import mod_a
        |
        |def use_ctor():
        |    db.conn.ping()
        |
        |def use_anno():
        |    c = cfg.query()
        |    c.ping()
        |
        |def use_attr():
        |    mod_a.db.conn.ping()
        |
        |def use_untyped():
        |    mystery.conn.ping()
        |""".stripMargin
    val fx = Seq(SourceFile("mod_a.py", modA),
      SourceFile("mod_b.py", modB)).toDS()
    val out = IngestArms.both(fx, "t67")
    val pings = out.edges
      .filter(col("rel_type") === Rel.Call && col("dst") === "mod_a.Conn.ping")
      .select("src").as[String].collect().toSet
    assert(pings.contains("mod_b.use_ctor"), s"got $pings")
    assert(pings.contains("mod_b.use_anno"), s"got $pings")
    assert(pings.contains("mod_b.use_attr"), s"got $pings")
    // the untyped module var keeps the blind take — never a Conn edge
    assert(!pings.contains("mod_b.use_untyped"), s"got $pings")
  }

  test("r14 slice 68: IMPORTED-class annotations resolve at the corpus " +
      "fold — a factory returning a class it from-imports types its " +
      "cross-module caller; out-of-corpus and non-class imports drop") {
    val modM =
      """class User:
        |    def save(self):
        |        return 1
        |
        |def helper():
        |    return 1
        |""".stripMargin
    // the factory module DEFINES no class: its annotations only type
    // through its own from-imports (incl. an alias), which slices 63-67
    // could not see (own-module class resolution only)
    val modF =
      """from mod_m import User, helper
        |from mod_m import User as U
        |from ghost_mod import Ghost
        |
        |def load() -> User:
        |    return User()
        |
        |def load_alias() -> U:
        |    return U()
        |
        |def load_fn() -> helper:
        |    return helper
        |
        |def load_ghost() -> Ghost:
        |    return Ghost()
        |""".stripMargin
    val modB =
      """from mod_f import load, load_alias, load_fn, load_ghost
        |
        |def use():
        |    u = load()
        |    u.save()
        |
        |def use_alias():
        |    u = load_alias()
        |    u.save()
        |
        |def use_fn():
        |    f = load_fn()
        |    f.save()
        |
        |def use_ghost():
        |    g = load_ghost()
        |    g.save()
        |""".stripMargin
    val fx = Seq(SourceFile("mod_m.py", modM), SourceFile("mod_f.py", modF),
      SourceFile("mod_b.py", modB)).toDS()
    val out = IngestArms.both(fx, "t68")
    val saves = out.edges
      .filter(col("rel_type") === Rel.Call &&
        col("dst") === "mod_m.User.save")
      .select("src").as[String].collect().toSet
    // both the plain and the aliased imported-class annotation type the
    // two-hop chain mod_b -> mod_f -> mod_m
    assert(saves.contains("mod_b.use"), s"got $saves")
    assert(saves.contains("mod_b.use_alias"), s"got $saves")
    // an imported NON-class (a def) and an out-of-corpus import resolve
    // to nothing — no fabricated member edges from their callers
    val allCalls = out.edges.filter(col("rel_type") === Rel.Call)
      .select("src", "dst").as[(String, String)].collect().toSet
    assert(!allCalls.exists(c => c._1 == "mod_b.use_fn" &&
      c._2.endsWith(".save")))
    assert(!allCalls.exists(c => c._1 == "mod_b.use_ghost" &&
      c._2.endsWith(".save")))
  }

  test("r14 slice 69: DOTTED module-attribute annotations and module " +
      "singletons (`-> mod.Cls`, `db = mod.Cls()`, aliases) resolve " +
      "through plain-import bindings; unimported prefixes drop") {
    val modM =
      """class User:
        |    def save(self):
        |        return 1
        |""".stripMargin
    val modF =
      """import mod_m
        |import mod_m as mm
        |import ghost_mod
        |
        |db = mod_m.User()
        |
        |def load() -> mod_m.User:
        |    return mod_m.User()
        |
        |def load_alias() -> mm.User:
        |    return mm.User()
        |
        |def load_ghost() -> ghost_mod.User:
        |    return None
        |
        |def load_unimported() -> other_mod.User:
        |    return None
        |""".stripMargin
    val modB =
      """from mod_f import load, load_alias, load_ghost, load_unimported, db
        |
        |def use():
        |    u = load()
        |    u.save()
        |
        |def use_alias():
        |    u = load_alias()
        |    u.save()
        |
        |def use_singleton():
        |    db.save()
        |
        |def use_ghost():
        |    g = load_ghost()
        |    g.save()
        |
        |def use_unimported():
        |    g = load_unimported()
        |    g.save()
        |""".stripMargin
    val fx = Seq(SourceFile("mod_m.py", modM), SourceFile("mod_f.py", modF),
      SourceFile("mod_b.py", modB)).toDS()
    val out = IngestArms.both(fx, "t69")
    val saves = out.edges
      .filter(col("rel_type") === Rel.Call &&
        col("dst") === "mod_m.User.save")
      .select("src").as[String].collect().toSet
    // dotted annotation, its alias spelling, and the dotted-constructor
    // module singleton all type through the plain-import binding
    assert(saves.contains("mod_b.use"), s"got $saves")
    assert(saves.contains("mod_b.use_alias"), s"got $saves")
    assert(saves.contains("mod_b.use_singleton"), s"got $saves")
    // an out-of-corpus module and an unimported prefix resolve to
    // nothing — no fabricated member edges
    val allCalls = out.edges.filter(col("rel_type") === Rel.Call)
      .select("src", "dst").as[(String, String)].collect().toSet
    assert(!allCalls.exists(c => c._1 == "mod_b.use_ghost" &&
      c._2.endsWith(".save")))
    assert(!allCalls.exists(c => c._1 == "mod_b.use_unimported" &&
      c._2.endsWith(".save")))
  }

  test("r14 slice 70: container RETURN annotations (`-> list[User]`) " +
      "feed iteration, subscript reads, and element bindings; bare " +
      "containers and unresolvable elements bind nothing") {
    val src =
      """class User:
        |    def save(self):
        |        return 1
        |
        |def all_users() -> list[User]:
        |    return [User()]
        |
        |def typed_set() -> Set[User]:
        |    return {User()}
        |
        |def bare() -> list:
        |    return []
        |
        |def ghost() -> list[other.Thing]:
        |    return []
        |
        |def use_for():
        |    for u in all_users():
        |        u.save()
        |
        |def use_bind():
        |    xs = all_users()
        |    for u in xs:
        |        u.save()
        |
        |def use_sub():
        |    xs = typed_set()
        |    first = xs[0]
        |    first.save()
        |
        |def use_bare():
        |    for b in bare():
        |        b.save()
        |
        |def use_ghost():
        |    g = ghost()
        |    for x in g:
        |        x.save()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t70", "m.py", src)
    val saves = ev.edges.filter(e => e.relType == Rel.Call &&
      e.dst == "m.User.save").map(_.src).toSet
    assert(saves.contains("m.use_for"), s"got $saves")
    assert(saves.contains("m.use_bind"), s"got $saves")
    assert(saves.contains("m.use_sub"), s"got $saves")
    assert(!saves.contains("m.use_bare"), s"got $saves")
    assert(!saves.contains("m.use_ghost"), s"got $saves")
  }

  test("r14 slice 71: Optional / None-union RETURN annotations bind " +
      "the non-None arm; unresolvable inners bind nothing") {
    val src =
      """from typing import Optional
        |
        |class Conn:
        |    def execute(self):
        |        return 1
        |class Other:
        |    def ping(self):
        |        return 2
        |
        |def find() -> Optional[Conn]:
        |    return None
        |
        |def pick() -> None | Other:
        |    return None
        |
        |def trail() -> Conn | None:
        |    return None
        |
        |def fref() -> Optional["Conn"]:
        |    return None
        |
        |def ghost() -> Optional[unknown.Thing]:
        |    return None
        |
        |def use_opt():
        |    c = find()
        |    return c.execute()
        |
        |def use_union():
        |    o = pick()
        |    return o.ping()
        |
        |def use_trail():
        |    c = trail()
        |    return c.execute()
        |
        |def use_fref():
        |    c = fref()
        |    return c.execute()
        |
        |def use_ghost():
        |    g = ghost()
        |    return g.execute()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t71", "o.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    assert(calls.contains(("o.use_opt", "o.Conn.execute")), s"got $calls")
    assert(calls.contains(("o.use_union", "o.Other.ping")), s"got $calls")
    assert(calls.contains(("o.use_trail", "o.Conn.execute")), s"got $calls")
    assert(calls.contains(("o.use_fref", "o.Conn.execute")), s"got $calls")
    // the ghost() call edge itself is real; the member must not bind
    assert(!calls.contains(("o.use_ghost", "o.Conn.execute")), s"got $calls")
    assert(!calls.exists(c => c._1 == "o.use_ghost" &&
      c._2.endsWith(".execute")), s"got $calls")
  }

  test("r14 slice 72: walrus bindings (`if (x := make()):`) type the " +
      "target in the enclosing scope; unresolvable RHS binds nothing") {
    val src =
      """class Conn:
        |    def execute(self):
        |        return 1
        |
        |def make() -> Conn:
        |    return Conn()
        |
        |def use_if():
        |    if (c := make()) is not None:
        |        return c.execute()
        |
        |def use_while():
        |    while (c := Conn()):
        |        c.execute()
        |        break
        |
        |def use_ghost():
        |    if (g := unknown_fn()):
        |        return g.execute()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t72", "w.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    assert(calls.contains(("w.use_if", "w.Conn.execute")), s"got $calls")
    assert(calls.contains(("w.use_while", "w.Conn.execute")), s"got $calls")
    assert(!calls.exists(c => c._1 == "w.use_ghost" &&
      c._2.endsWith(".execute")), s"got $calls")
  }

  test("r14 slice 73: comprehension loop variables type from the " +
      "source's element type; untyped sources bind nothing") {
    val src =
      """class User:
        |    def save(self):
        |        return 1
        |
        |def all_users() -> list[User]:
        |    return [User()]
        |
        |def use_comp():
        |    names = [u.save() for u in all_users()]
        |    return names
        |
        |def use_gen(xs: list[User]):
        |    total = sum(u.save() for u in xs)
        |    return total
        |
        |def use_set(xs: set[User]):
        |    return {u.save() for u in xs}
        |
        |def use_ghost(ys):
        |    return [g.save() for g in ys]
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t73", "c.py", src)
    val saves = ev.edges.filter(e => e.relType == Rel.Call &&
      e.dst == "c.User.save").map(_.src).toSet
    assert(saves === Set("c.use_comp", "c.use_gen", "c.use_set"),
      s"got $saves")
  }

  test("r14 slice 74: identity-value dict comprehensions feed value " +
      "reads; order-wrapper assignments pass element types through") {
    val src =
      """class User:
        |    def save(self):
        |        return 1
        |
        |def all_users() -> list[User]:
        |    return [User()]
        |
        |def use_dictcomp(xs: list[User]):
        |    d = {u.name: u for u in xs}
        |    v = d.get('k')
        |    return v.save()
        |
        |def use_sorted(xs: list[User]):
        |    ys = sorted(xs)
        |    first = ys[0]
        |    return first.save()
        |
        |def use_listwrap():
        |    ys = list(all_users())
        |    for u in ys:
        |        u.save()
        |
        |def use_keycomp(xs: list[User]):
        |    d = {u: u.name for u in xs}
        |    k = d.get('k')
        |    return k.save()
        |
        |def use_wrap_ghost(zs):
        |    ys = sorted(zs)
        |    return ys[0].save()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t74", "d.py", src)
    val saves = ev.edges.filter(e => e.relType == Rel.Call &&
      e.dst == "d.User.save").map(_.src).toSet
    // a NON-identity value comprehension and an untyped wrapper source
    // must stay out — keys are out of model, ghosts bind nothing
    assert(saves === Set("d.use_dictcomp", "d.use_sorted",
      "d.use_listwrap"), s"got $saves")
  }

  test("r14 slice 75: multi-target assignment binds both targets, " +
      "Final/ClassVar wrappers unwrap, global writes type the " +
      "module singleton") {
    val src =
      """from typing import Final
        |
        |class Conn:
        |    def execute(self):
        |        return 1
        |    def ping(self):
        |        return 2
        |
        |def use_multi():
        |    a = b = Conn()
        |    a.execute()
        |    return b.ping()
        |
        |def use_final(u2):
        |    w: Final[Conn] = u2
        |    return w.execute()
        |
        |def use_classvar(u3):
        |    v: ClassVar["Conn"] = u3
        |    return v.ping()
        |
        |def set_global():
        |    global gdb
        |    gdb = Conn()
        |
        |def use_global():
        |    return gdb.execute()
        |
        |def not_global():
        |    ldb = Conn()
        |    return ldb
        |
        |def use_not_global():
        |    return ldb.ping()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t75", "g.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    assert(calls.contains(("g.use_multi", "g.Conn.execute")), s"got $calls")
    assert(calls.contains(("g.use_multi", "g.Conn.ping")), s"got $calls")
    assert(calls.contains(("g.use_final", "g.Conn.execute")), s"got $calls")
    assert(calls.contains(("g.use_classvar", "g.Conn.ping")), s"got $calls")
    assert(calls.contains(("g.use_global", "g.Conn.execute")), s"got $calls")
    // a local binding without the global declaration must NOT leak
    assert(!calls.contains(("g.use_not_global", "g.Conn.ping")),
      s"got $calls")
  }

  test("r14 slice 76: `yield from` delegation carries the delegated " +
      "generator's element type, chains bounded and cycle-safe") {
    val src =
      """class Conn:
        |    def execute(self):
        |        return 1
        |
        |def gen():
        |    yield Conn()
        |
        |def gen2():
        |    yield from gen()
        |
        |def gen3():
        |    yield from gen2()
        |
        |def listy() -> list[Conn]:
        |    return [Conn()]
        |
        |def gen4():
        |    yield from listy()
        |
        |def loop_a():
        |    yield from loop_b()
        |
        |def loop_b():
        |    yield from loop_a()
        |
        |def use_chain():
        |    for c in gen3():
        |        c.execute()
        |
        |def use_container():
        |    for c in gen4():
        |        c.execute()
        |
        |def use_loop():
        |    for c in loop_a():
        |        c.execute()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t76", "h.py", src)
    val execs = ev.edges.filter(e => e.relType == Rel.Call &&
      e.dst == "h.Conn.execute").map(_.src).toSet
    assert(execs === Set("h.use_chain", "h.use_container"), s"got $execs")
  }

  test("r14 slice 77: tuple isinstance narrows to the first " +
      "class-resolving arm; unresolvable tuples bind nothing") {
    val src =
      """class Conn:
        |    def execute(self):
        |        return 1
        |class Other:
        |    def ping(self):
        |        return 2
        |
        |def first_arm(z):
        |    if isinstance(z, (Conn, Other)):
        |        return z.execute()
        |
        |def skip_nonclass(z):
        |    if isinstance(z, (int, Other)):
        |        return z.ping()
        |
        |def ghost(z):
        |    if isinstance(z, (int, str)):
        |        return z.execute()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t77", "k.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    assert(calls.contains(("k.first_arm", "k.Conn.execute")), s"got $calls")
    // int doesn't resolve to a class: the narrowing takes Other
    assert(calls.contains(("k.skip_nonclass", "k.Other.ping")), s"got $calls")
    assert(!calls.exists(c => c._1 == "k.ghost" &&
      c._2.endsWith(".execute")), s"got $calls")
  }

  test("r14 slice 78: `self.f = x or Ctor()` types the field from the " +
      "constructed default arm, same- and cross-method reads resolve") {
    val src =
      """class Conn:
        |    def execute(self):
        |        return 1
        |
        |class Pool:
        |    def __init__(self, c=None):
        |        self.c = c or Conn()
        |    def use_field(self):
        |        return self.c.execute()
        |
        |def use_inst():
        |    p = Pool()
        |    return p.c.execute()
        |
        |class Ghost:
        |    def __init__(self, c=None):
        |        self.c = c or unknown_make()
        |    def use(self):
        |        return self.c.execute()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t78", "m.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    assert(calls.contains(("m.Pool.use_field", "m.Conn.execute")),
      s"got $calls")
    assert(calls.contains(("m.use_inst", "m.Conn.execute")), s"got $calls")
    assert(!calls.exists(c => c._1 == "m.Ghost.use" &&
      c._2.endsWith(".execute")), s"got $calls")
  }

  test("r14 slice 79: `return self.field` getters carry the field's " +
      "MRO'd type through bindings and inline chains") {
    val src =
      """class Conn:
        |    def execute(self):
        |        return 1
        |
        |class Base:
        |    def __init__(self):
        |        self.c = Conn()
        |
        |class Pool(Base):
        |    def get_conn(self):
        |        return self.c
        |
        |def use_bind():
        |    p = Pool()
        |    x = p.get_conn()
        |    return x.execute()
        |
        |def use_chain():
        |    return Pool().get_conn().execute()
        |
        |class Ghost:
        |    def get(self):
        |        return self.untyped
        |
        |def use_ghost():
        |    g = Ghost()
        |    x = g.get()
        |    return x.execute()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t79", "n.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    // the getter sits on the SUBCLASS while the parent types the field
    assert(calls.contains(("n.use_bind", "n.Conn.execute")), s"got $calls")
    assert(calls.contains(("n.use_chain", "n.Conn.execute")), s"got $calls")
    assert(!calls.exists(c => c._1 == "n.use_ghost" &&
      c._2.endsWith(".execute")), s"got $calls")
  }

  test("r14 slice 80: setdefault default arms bind like .get; " +
      "enumerate takes start kwargs and call sources") {
    val src =
      """class Conn:
        |    def execute(self):
        |        return 1
        |
        |def all_conns() -> list[Conn]:
        |    return [Conn()]
        |
        |def use_setdefault(d):
        |    c = d.setdefault('k', Conn())
        |    return c.execute()
        |
        |def use_enum_start(xs: list[Conn]):
        |    for i, u in enumerate(xs, start=1):
        |        u.execute()
        |
        |def use_enum_call():
        |    for i, u in enumerate(all_conns()):
        |        u.execute()
        |
        |def use_enum_ghost(zs):
        |    for i, u in enumerate(zs):
        |        u.execute()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t80", "p.py", src)
    val execs = ev.edges.filter(e => e.relType == Rel.Call &&
      e.dst == "p.Conn.execute").map(_.src).toSet
    assert(execs === Set("p.use_setdefault", "p.use_enum_start",
      "p.use_enum_call"), s"got $execs")
  }

  test("r14 slice 81: async-with as-targets bind; nested defs read " +
      "their closure's typed locals with shadowing intact") {
    val src =
      """class Conn:
        |    def execute(self):
        |        return 1
        |    async def __aenter__(self):
        |        return self
        |class Other:
        |    def ping(self):
        |        return 2
        |
        |async def async_with():
        |    async with Conn() as c:
        |        return c.execute()
        |
        |def outer():
        |    db = Conn()
        |    def inner():
        |        return db.execute()
        |    def shadowed():
        |        db = Other()
        |        return db.ping()
        |    return inner
        |
        |def no_leak():
        |    return db.execute()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t81", "q.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    assert(calls.contains(("q.async_with", "q.Conn.execute")), s"got $calls")
    assert(calls.contains(("q.outer.inner", "q.Conn.execute")), s"got $calls")
    // the inner rebinding shadows the closure's type
    assert(calls.contains(("q.outer.shadowed", "q.Other.ping")),
      s"got $calls")
    assert(!calls.exists(c => c._1 == "q.outer.shadowed" &&
      c._2 == "q.Conn.execute"), s"got $calls")
    // a SIBLING function never sees another function's locals
    assert(!calls.exists(c => c._1 == "q.no_leak" &&
      c._2.endsWith(".execute")), s"got $calls")
  }

  test("r14 slice 82: a property returning its backing field carries " +
      "the field's type; ctor comprehension returns key element types") {
    val src =
      """class Conn:
        |    def execute(self):
        |        return 1
        |
        |class Pool:
        |    def __init__(self):
        |        self._c = Conn()
        |    @property
        |    def conn(self):
        |        return self._c
        |    @property
        |    def selfref(self):
        |        return self.selfref
        |
        |def use_prop():
        |    p = Pool()
        |    return p.conn.execute()
        |
        |def use_selfref():
        |    p = Pool()
        |    return p.selfref.execute()
        |
        |def make_many():
        |    return [Conn() for _ in range(3)]
        |
        |def use_elems():
        |    xs = make_many()
        |    for c in xs:
        |        c.execute()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t82", "r.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    assert(calls.contains(("r.use_prop", "r.Conn.execute")), s"got $calls")
    assert(calls.contains(("r.use_elems", "r.Conn.execute")), s"got $calls")
    // the self-referential descriptor terminates and binds nothing
    assert(!calls.exists(c => c._1 == "r.use_selfref" &&
      c._2.endsWith(".execute")), s"got $calls")
  }

  test("r13 slice 61: `.get(k, default)` binds the default arm on an " +
      "untyped receiver; typed receivers keep the value binding") {
    val src =
      """from typing import Dict
        |
        |class Conn:
        |    def execute(self):
        |        return 1
        |class Other:
        |    def ping(self):
        |        return 2
        |
        |def untyped(pool):
        |    c = pool.get('k', Conn())
        |    return c.execute()
        |
        |def typed(pool: Dict[str, Other]):
        |    o = pool.get('k', make_unknown())
        |    return o.ping()
        |
        |def unresolvable(pool):
        |    z = pool.get('k', make_unknown())
        |    return z.whatever()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t", "p.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    assert(calls.contains(("p.untyped", "p.Conn.execute")), s"got $calls")
    // the slice-28 value binding wins on a typed mapping
    assert(calls.contains(("p.typed", "p.Other.ping")))
    // an unresolvable default on an untyped receiver binds nothing
    assert(!calls.exists { case (s, d) =>
      s == "p.unresolvable" && d.endsWith("whatever") })
  }

  test("r13 slice 60: PEP 673 `-> Self` returns bind the enclosing " +
      "class; module-level Self annotates nothing") {
    val src =
      """from typing import Self
        |
        |class Conn:
        |    def execute(self):
        |        return 1
        |
        |class Builder:
        |    def with_x(self) -> Self:
        |        return self
        |    def conn(self) -> Conn:
        |        return Conn()
        |
        |def use():
        |    b = Builder().with_x().with_x()
        |    c = b.conn()
        |    return c.execute()
        |
        |def stray() -> Self:
        |    return None
        |
        |def consume():
        |    s = stray()
        |    return s.anything()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t", "p.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    // the Self-typed fluent chain folds through to the Conn member
    assert(calls.contains(("p.use", "p.Conn.execute")), s"got $calls")
    // a module-level `-> Self` keys nothing — no fabricated type
    assert(!calls.exists { case (s, d) =>
      s == "p.consume" && d.endsWith("anything") })
  }

  test("r13: multi-line dict literals carry brace depth across lines — " +
      "value strings are never forward-reference annotations") {
    // advisor finding (r12): the per-line `curly` reset made every value
    // string in a MULTI-line dict follow a `:` at line-local depth 0,
    // so registry/config dicts mapping names to "ClassName" or
    // "mod.func(...)" strings fabricated phantom refs and Call edges.
    val src =
      """class Conn:
        |    def execute(self):
        |        return 1
        |
        |CONFIG = {
        |    "route": "dispatch(request)",
        |    "kind": "Conn",
        |    "nested": {
        |        "deep": "Conn.execute(x)",
        |    },
        |}
        |
        |def after(c: "Conn"):
        |    return c.execute()
        |""".stripMargin
    val ev = graft.indexer.PyIndexer.indexFile("t", "p.py", src)
    val calls = ev.edges.filter(_.relType == Rel.Call)
      .map(e => (e.src, e.dst)).toSet
    // no phantom module-level dispatch/execute calls from string data
    assert(!calls.exists { case (_, d) =>
      d.endsWith("dispatch") || d.contains("request") })
    assert(!calls.exists { case (s, _) => s == "p" || s == "p.CONFIG" },
      s"dict value strings must stay text; got $calls")
    // depth bookkeeping recovers after the dict closes: the real quoted
    // annotation below it still types the param
    assert(calls.contains(("p.after", "p.Conn.execute")))
  }


  test("r18 slice 95: PEP 562 — a PINNED module __getattr__ type " +
      "(annotation or unanimous single-ctor returns) types dynamic " +
      "attribute reads; bare __getattr__ keeps blanket optimism; real " +
      "top-level bindings bypass the fallback") {
    val modT =
      """class Conn:
        |    def ping(self):
        |        return 1
        |""".stripMargin
    // annotated __getattr__ — the pinned type
    val modDyn =
      """from mod_t import Conn
        |def real():
        |    return 1
        |def __getattr__(name) -> Conn:
        |    return Conn()
        |""".stripMargin
    // bare __getattr__ with mixed returns — nothing pins
    val modBare =
      """def __getattr__(name):
        |    if name:
        |        return 1
        |    return 2
        |""".stripMargin
    // unannotated but every return is the same constructor — pins too
    val modCtor =
      """from mod_t import Conn
        |def __getattr__(name):
        |    if name == "a":
        |        return Conn()
        |    return Conn(name)
        |""".stripMargin
    def callDsts(user: String, mods: Seq[(String, String)]): Set[String] = {
      val ctx = PyIndexer.corpusContext(
        mods.map { case (p, c) => PyIndexer.moduleBindings(p, c) } :+
          PyIndexer.moduleBindings("mod_u.py", user))
      PyIndexer.indexFile("t95", "mod_u.py", user, Some(ctx))
        .edges.filter(_.relType == Rel.Call).map(_.dst).toSet
    }
    // the annotated fallback types mod_dyn.conn as Conn → Conn.ping
    val u1 = "import mod_dyn\ndef use():\n    mod_dyn.conn.ping()\n"
    assert(callDsts(u1, Seq("mod_t.py" -> modT, "mod_dyn.py" -> modDyn))
      .contains("mod_t.Conn.ping"))
    // a REAL top-level binding never routes through the fallback
    val u2 = "import mod_dyn\ndef use():\n    mod_dyn.real.ping()\n"
    val d2 = callDsts(u2, Seq("mod_t.py" -> modT, "mod_dyn.py" -> modDyn))
    assert(!d2.contains("mod_t.Conn.ping") &&
      d2.contains("mod_dyn.real.ping"), s"got $d2")
    // bare __getattr__: the pre-slice-95 optimistic blind take stays
    val u3 = "import mod_bare\ndef use():\n    mod_bare.conn.ping()\n"
    val d3 = callDsts(u3, Seq("mod_bare.py" -> modBare))
    assert(!d3.exists(_.contains("Conn")) &&
      d3.contains("mod_bare.conn.ping"), s"got $d3")
    // unanimous single-ctor returns pin like an annotation
    val u4 = "import mod_ctor\ndef use():\n    mod_ctor.db.ping()\n"
    assert(callDsts(u4, Seq("mod_t.py" -> modT, "mod_ctor.py" -> modCtor))
      .contains("mod_t.Conn.ping"))
    // and the from-import spelling routes through the fallback too
    val u5 = "from mod_dyn import conn\ndef use():\n    conn.ping()\n"
    assert(callDsts(u5, Seq("mod_t.py" -> modT, "mod_dyn.py" -> modDyn))
      .contains("mod_t.Conn.ping"))
  }

  test("enrich fan-out: a re-export alias with two targets, a two-hop " +
      "re-export chain, a call rebound to every inherited definition, " +
      "super() along the declared base order") {
    val fx = Seq(
      SourceFile("pkg/__init__.py",
        """try:
          |    from .fast import Impl
          |except ImportError:
          |    from .slow import Impl
          |from .mid import Thing
          |""".stripMargin),
      SourceFile("pkg/fast.py", "class Impl:\n    def go(self):\n        pass\n"),
      SourceFile("pkg/slow.py", "class Impl:\n    def go(self):\n        pass\n"),
      SourceFile("pkg/mid.py", "from .core import Thing\n"),
      SourceFile("pkg/core.py", "class Thing:\n    def run(self):\n        pass\n"),
      SourceFile("app.py",
        """import pkg
          |from pkg import Impl, Thing
          |
          |
          |def f():
          |    pkg.Impl()
          |    return pkg.Thing()
          |""".stripMargin),
      SourceFile("shapes.py",
        """class A:
          |    def m(self):
          |        pass
          |
          |
          |class B:
          |    def m(self):
          |        pass
          |
          |
          |class C(A, B):
          |    def other(self):
          |        return self.m()
          |
          |
          |class Z:
          |    def m(self):
          |        pass
          |
          |
          |class Y:
          |    def m(self):
          |        pass
          |
          |
          |class X(Z, Y):
          |    def m(self):
          |        return super().m()
          |""".stripMargin)).toDS()
    val out = IngestArms.both(fx, "tfan")
    val es = out.edges.select("src", "rel_type", "dst")
      .as[(String, String, String)].collect().toSet
    def dsts(src: String, rel: String) =
      es.collect { case (`src`, `rel`, d) => d }
    assert(dsts("app.f", Rel.Call) ===
      Set("pkg.fast.Impl", "pkg.slow.Impl", "pkg.core.Thing"))
    assert(dsts("app", Rel.Contains) ===
      Set("app.f", "pkg.fast.Impl", "pkg.slow.Impl", "pkg.core.Thing"))
    assert(dsts("shapes.C.other", Rel.Call) === Set("shapes.A.m", "shapes.B.m"))
    assert(dsts("shapes.X.m", Rel.Call) === Set("shapes.Z.m"))
  }
}
