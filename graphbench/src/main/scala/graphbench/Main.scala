package graphbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** The benchmark process. `run.py` builds the classpath and launches it:
  *
  *   --mode run      one workload run; the last stdout line is the result
  *   --mode prepare  index the corpus once into the v1 fixture directory
  *   --mode record   record the expected graph of the corpus
  *   --mode layers   print the per-layer metric names with their units
  */
object Main {
  final case class Args(mode: String, workload: String, seed: Long,
      seconds: Int, trace: Boolean, benchDir: Path, work: Path,
      fixture: Path, out: Path)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    def path(k: String) = Paths.get(m.getOrElse(k, ".")).toAbsolutePath
    Args(m.getOrElse("mode", "run"), m.getOrElse("workload", "ingest"),
      m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "10").toInt,
      m.getOrElse("trace", "0") == "1", path("bench-dir"), path("work"),
      path("fixture"), path("out"))
  }

  /** Verify's session: local[nproc], one shuffle partition per core,
    * `spark.graft.scale` unset. Spark's scratch space stays under `work`. */
  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors.toString
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    // exit explicitly: a failed run must not wait on Spark's threads
    val code =
      try {
        a.mode match {
          case "layers" =>
            Layers.all.foreach { case (n, u) => println(s"$n $u") }
          case "prepare" => prepare(a)
          case "record" => record(a)
          case "run" => run(a)
          case other => sys.error(s"unknown mode $other")
        }
        0
      } catch {
        case e: Throwable => e.printStackTrace(); 1
      }
    System.out.flush()
    System.exit(code)
  }

  /** The v1 fixture the serve, reindex and analytics workloads start
    * from: the tier and its committed snapshot, built by this checkout's
    * code. Written to a temporary directory and renamed into place. */
  private def prepare(a: Args): Unit = {
    val tmp = Paths.get(a.fixture.toString + ".tmp")
    Corpus.deleteTree(tmp)
    Files.createDirectories(tmp)
    val spark = session(a.work)
    try {
      Corpus.extract(a.benchDir.resolve("corpus/stdlib-subset.tar.gz"),
        tmp.resolve("tier"))
      graft.api.GraphDatabase.open(spark, tmp.resolve("v1").toString)
        .indexRepo(tmp.resolve("tier").toString, "v1")
    } finally spark.stop()
    Files.move(tmp, a.fixture)
  }

  private def record(a: Args): Unit = {
    val spark = session(a.work)
    try {
      val tier = a.work.resolve("tier")
      Corpus.extract(a.benchDir.resolve("corpus/stdlib-subset.tar.gz"), tier)
      val id = Corpus.identity(tier)
      val dir = a.work.resolve("db")
      graft.api.GraphDatabase.open(spark, dir.toString)
        .indexRepo(tier.toString, "v1")
      val s = graft.store.Snapshot.read(spark, dir.toString)
      val n = Canon.nodes(s.nodes)
      val e = Canon.edges(s.edges)
      val g = Expected.Graph(n.length, e.length, Canon.hash(n), Canon.hash(e))
      Expected.record(a.benchDir, id.sha256, g)
      println(Json(Map("corpus" -> id.toJson, "graph" -> g.toJson)))
    } finally spark.stop()
  }

  private def loadavg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).trim
    catch { case _: Exception => "unavailable" }

  /** Retained heap: used heap right after a full collection. */
  private def heapMb(): Double = {
    // Spark's ContextCleaner drops broadcasts and shuffles whose weak
    // references the first collection cleared; the second one reclaims them
    System.gc()
    Thread.sleep(300)
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }

  private def cachedBytes(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize)
      .sum.toDouble

  private def run(a: Args): Unit = {
    val t0 = System.nanoTime()
    Files.createDirectories(a.work)
    val spark = session(a.work)
    val ctx = new Ctx(spark, a.benchDir, a.work, a.fixture, a.seed)
    ctx.phases("session") = (System.nanoTime() - t0) / 1e9
    val wl: Workload = a.workload match {
      case "ingest" => new IngestWorkload(ctx)
      case "reindex" => new ReindexWorkload(ctx)
      case "serve" => new ServeWorkload(ctx)
      case "analytics" => new AnalyticsWorkload(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    wl.setup()
    val setupS = (System.nanoTime() - t0) / 1e9
    val loadStart = loadavg()

    // The measured loop: closed, one client, at least one operation.
    // Operations run back to back until the next one, at the mean
    // latency so far, would take the summed operation time past
    // `seconds`; output checks between them are not timed. Heap and
    // cache are sampled once the loop ends.
    val heap = scala.collection.mutable.ArrayBuffer.empty[Double]
    val cached = scala.collection.mutable.ArrayBuffer.empty[Double]
    def loop(t: Tracer): Seq[Op] = {
      val ops = scala.collection.mutable.ArrayBuffer.empty[Op]
      var opNs = 0L
      while (ops.isEmpty || (opNs + opNs / ops.size) / 1e9 <= a.seconds) {
        val o = wl.op(t)
        ops += o
        opNs += o.ns
      }
      heap += heapMb(); cached += cachedBytes(spark)
      ops.toSeq
    }
    val ops = loop(Tracer.off)
    val traced = if (a.trace) {
      val tracer = new LiveTracer(spark.sparkContext)
      val tops = loop(tracer)
      Some((tops, tracer.finish()))
    } else None
    val loadEnd = loadavg()

    val all = ops ++ traced.map(_._1).getOrElse(Nil)
    val failed = all.count(!_.ok)
    val layers = traced.map { case (tops, spans) =>
      Layers.values(ops, tops, spans, wl.counters ++ Map(
        "loop.ops_per_s" -> 1000 / Stats.weightedMean(ops, wl.shares),
        "spark.cached_bytes" -> cached.last,
        "spark.heap_after_gc_mb" -> heap.head))
    }
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", setupS, "s"),
        ("p50_geomean_ms", Stats.p50Geomean(ops, wl.shares), "ms"),
        ("snapshot_bytes_per_source_byte",
          wl.snapshotBytes.toDouble / wl.corpus.bytes, "ratio"))
      else Layers.all.map { case (n, u) => (n, layers.get.getOrElse(n, 0.0), u) }

    val result = Map(
      "correct" -> (failed == 0),
      "attempted" -> all.size,
      "failed" -> failed,
      "metrics" -> metrics.map { case (n, v, u) =>
        n -> Map("value" -> v, "unit" -> u) }.toMap)
    val artifact = Map(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "corpus" -> wl.corpus.toJson,
      "cores" -> spark.sparkContext.defaultParallelism,
      "loadavg_start" -> loadStart, "loadavg_end" -> loadEnd,
      "setup_s" -> setupS, "setup_phases_s" -> ctx.phases,
      "ops" -> ops.map(o => Map("kind" -> o.kind, "ms" -> o.ns / 1e6,
        "ok" -> o.ok)),
      "latency_by_kind" -> Stats.byKind(ops),
      "heap_after_gc_mb" -> heap.toSeq, "cached_bytes" -> cached.toSeq,
      "detail" -> wl.detail,
      "spans" -> traced.map(_._2.map(_.toJson)).getOrElse(Nil),
      "layers" -> layers.getOrElse(Map.empty),
      "result" -> result)
    Files.createDirectories(a.out)
    val name = s"${a.workload}-seed${a.seed}${if (a.trace) "-trace" else ""}.json"
    Files.writeString(a.out.resolve(name), Json(artifact) + "\n")

    Stats.byKind(ops).toSeq.sortBy(_._1).foreach { case (k, s) =>
      println(s"# ${a.workload} $k: ${Json(s)}")
    }
    println(s"# corpus: ${Json(wl.corpus.toJson)}")
    println(s"# artifact: ${a.out.resolve(name)}")
    spark.stop()
    println(Json(result))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.size - 1)
      val lo = s(pos.toInt)
      val hi = s(math.min(pos.toInt + 1, s.size - 1))
      lo + (hi - lo) * (pos - pos.toInt)
    }
  }

  /** The highest percentile with at least ten samples beyond it: the
    * eleventh-largest value, with its percentile and the sample count.
    * With ten samples or fewer there is none, and the maximum stands in. */
  def tail(xs: Seq[Double]): Map[String, Any] = {
    val s = xs.sorted
    if (s.size > 10) Map("ms" -> s(s.size - 11),
      "percentile" -> 100.0 * (s.size - 10) / s.size, "samples" -> s.size)
    else Map("ms" -> s.lastOption.getOrElse(0.0), "percentile" -> 100.0,
      "samples" -> s.size)
  }

  /** The per-kind median latencies, combined as a geometric mean
    * weighted by each kind's share of the mix. A median over the mixed
    * latencies would jump between kinds with the draw; an arithmetic mix
    * would let the slowest kind's noise dominate. Each kind moves this
    * figure by its share of the mix. With one kind it is that median. */
  def p50Geomean(ops: Seq[Op], shares: Map[String, Double]): Double =
    math.exp(weighted(ops, shares, xs => math.log(median(xs))))

  /** The mean latency of the mix, from per-kind means; its inverse is the
    * operations per second one client sustains on the nominal mix. */
  def weightedMean(ops: Seq[Op], shares: Map[String, Double]): Double =
    weighted(ops, shares, xs => xs.sum / xs.size)

  private def weighted(ops: Seq[Op], shares: Map[String, Double],
      f: Seq[Double] => Double): Double = {
    val byKind = ops.groupBy(_.kind)
    val w = byKind.keys.map(k => k -> shares.getOrElse(k, 0.0)).toMap
    byKind.map { case (k, os) => w(k) * f(os.map(_.ns / 1e6)) }.sum /
      w.values.sum
  }

  def byKind(ops: Seq[Op]): Map[String, Map[String, Any]] =
    ops.groupBy(_.kind).map { case (k, os) =>
      val ms = os.map(_.ns / 1e6)
      k -> Map("p50_ms" -> median(ms), "tail" -> tail(ms), "n" -> os.size,
        "failed" -> os.count(!_.ok))
    }
}
