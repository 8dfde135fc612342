package graft

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Times every declared query (min of 3 runs) on Verify's session, so
  * the arm a query is timed on is the arm the oracle gates. Per query,
  * `bench_full.json` also carries the Spark work of the run it reports
  * as the min (`work`: jobs, stages, tasks, task seconds) and lists the
  * queries whose runs failed (`failed`); a failed run is never timed. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    // Warm-up: run every query once at the smallest SF so JIT/codegen
    // compilation and parquet-footer caching don't land in the first few
    // timed queries (we time steady-state engine cost, not JVM warmup).
    val warmDir = "/root/testdata/sf0.001"
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val picked = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      // st_* replay the event table through a MemoryStream micro-batch
      // harness (driver-paced addData/processAllAvailable rounds): their
      // wall-clock measures harness scheduling and per-batch state-store
      // commits, not engine throughput (st_join alone was 25s of pure
      // micro-batch overhead at sf0.1). They stay CORRECTNESS-gated via
      // Verify; Bench times the batch surface.
      .filter { case (name, _) => !name.startsWith("st_") }
    if (new java.io.File(warmDir).isDirectory)
      picked.foreach { case (_, fn) =>
        try fn(spark, warmDir).count() catch { case _: Throwable => () }
      }
    // Resolve the BENCH dir's derived graph tables before timing: the
    // versioned derived-cache resolve (fingerprint check, pointer read,
    // possible rebuild after a testdata regen) is a one-time cost that
    // otherwise lands on whichever graph query Map iteration happens to
    // order first — the r6 g_b5_expand_type "2x regression" was exactly
    // this cost migrating between queries as the catalog grew.
    try {
      graft.store.GraphTables.nodes(spark, sfDir).count()
      graft.store.GraphTables.edges(spark, sfDir).count()
      graft.store.GraphTables.coPurchase(spark, sfDir).count()
      graft.store.GraphTables.ccPrev(spark, sfDir).count()
    } catch { case _: Throwable => () }
    // three timed runs per query: single-shot timings swung 3-5x on
    // identical code in early rounds (GC/page-cache ambient noise). The
    // min is the steady-state estimator the round-over-round compare
    // uses; the median is reported alongside so a regression can be
    // adjudicated against run variance instead of a single sample.
    def loadavg(): String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      catch { case _: Throwable => "?" }
    // Cache reset between queries: operators cache DataFrames and (in the
    // _gx twins) GraphX RDDs that nothing unpersists, so a long bench
    // session accumulates storage blocks until eviction — and THEN each
    // query's time depends on where Map iteration placed it (measured:
    // q37_wpr_gx swung 4.4s ↔ 18.7s between subset runs purely from
    // which queries preceded it). Resetting puts every query on the same
    // footing: warm parquet page cache + derived tables on disk, cold
    // in-memory cache. Within a query's 3 runs caches stay (DF cache
    // hits by canonicalized plan — that warm reuse IS steady state).
    def resetCacheState(): Unit = {
      spark.sqlContext.clearCache()
      // blocking: the storage drop runs to completion HERE, in the
      // untimed gap, instead of racing the next query's first stages;
      // the GC pass lets the ContextCleaner reap dead shuffle/broadcast
      // state so a 130-query session doesn't progressively degrade
      // (isolated subset runs measured g_b11_json at 0.21s vs 4.4s for
      // the same query late in an accumulating full run)
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc()
    }
    resetCacheState() // drop the warm-up scale's leftovers
    // Load gate (r15, verdict task #1): the r14 artifact shipped numbers
    // taken at loadavg 2-4 and the shared-query total read +11-18% with
    // code unchanged. A committed bench line must come from an idle box,
    // so before the timed sweep starts we wait (bounded) for the 1-min
    // loadavg to fall under the gate; if it never does, the sweep still
    // runs (the driver needs an artifact) but the artifact carries
    // "load_gate":"CONTENDED" so the number is self-evidently suspect.
    def load1(): Double =
      try loadavg().split("\\s+")(0).toDouble catch { case _: Throwable => -1.0 }
    val loadGateMax = sys.env.getOrElse("SPARK_GRAFT_LOAD_GATE", "1.5").toDouble
    // default wait covers the decay of the bench's OWN warmup load: a
    // 1-min loadavg of ~8 needs ~2 idle minutes to fall under 1.5, and
    // flagging our own just-finished warmup as ambient contention would
    // be a false positive
    val gateWaitSec = sys.env.getOrElse("SPARK_GRAFT_LOAD_WAIT", "300").toInt
    val gateT0 = System.nanoTime()
    while (load1() > loadGateMax &&
           (System.nanoTime() - gateT0) / 1e9 < gateWaitSec) {
      System.err.println(s"[bench] loadavg ${load1()} > $loadGateMax; waiting for idle...")
      Thread.sleep(10000)
    }
    val loadGate = if (load1() > loadGateMax) "CONTENDED" else "ok"
    if (loadGate == "CONTENDED")
      System.err.println(s"[bench] WARNING: sweep starting at loadavg ${load1()} — timings are load-contaminated")
    val loadStart = loadavg()
    // r14: time the sweep in NAME order, not Map iteration order. A
    // HashMap reshuffles every query's position whenever the catalog
    // grows, so session-lifetime state a cache reset can't return (JIT /
    // code-cache occupancy, heap fragmentation, accumulated /tmp shuffle
    // dirs) lands on DIFFERENT queries each round — r13's correlated
    // "+0.5-0.9s on unchanged GraphX twins" was exactly this placement
    // lottery. Sorted order keeps each query's predecessors stable
    // round-over-round, so a drift in its number means the QUERY (or
    // real ambient load), not the sweep.
    // Session-hygiene probe (r16, verdict task #7): snapshot the three
    // session-lifetime accumulators a cache reset can't return — local
    // shuffle/block dirs on disk, post-GC heap, JIT code-cache
    // occupancy — AFTER each query's timed runs, in the untimed gap.
    // When a drift cluster appears round-over-round, these columns say
    // whether session state (not the query) moved under it.
    def tmpShuffleMb(): Long = {
      val tmp = new java.io.File(sys.props.getOrElse("java.io.tmpdir", "/tmp"))
      def sz(f: java.io.File): Long =
        if (f.isFile) f.length
        else Option(f.listFiles()).getOrElse(Array.empty).map(sz).sum
      Option(tmp.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith("blockmgr-") ||
          f.getName.startsWith("spark-"))
        .map(sz).sum >> 20
    }
    def heapMb(): Long =
      (Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory) >> 20
    def codeCacheMb(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getName.toLowerCase.contains("codeheap"))
        .map(_.getUsage.getUsed).sum >> 20
    }
    val probes = mutable.LinkedHashMap.empty[String, (Long, Long, Long)]
    val work = new RunWork
    spark.sparkContext.addSparkListener(work)
    /** Run `run` of query `name`: its wall seconds, or None if it failed
      * (a failed run must never win the min with a near-zero time). */
    def timed(name: String, run: Int): Option[Double] = {
      spark.sparkContext.setLocalProperty(RunWork.Key, RunWork.id(name, run))
      val t0 = System.nanoTime()
      try {
        picked(name)(spark, sfDir).count()
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name run $run failed: ${e.getMessage}")
        None
      } finally spark.sparkContext.setLocalProperty(RunWork.Key, null)
    }
    val results = picked.keys.toSeq.sorted.map { name =>
      val times = (0 until 3).map(timed(name, _))
      resetCacheState()
      probes(name) = (tmpShuffleMb(), heapMb(), codeCacheMb())
      name -> times
    }.toMap
    val loadEnd = loadavg()
    // Contention guard (second pass): a committed artifact must never
    // carry a number 8x off steady state because the machine happened to
    // be busy (r9: q32_ppr_gx 16.50s committed, 1.81s clean; r7 medians
    // likewise). Two interference signatures trigger ONE extra timed run
    // at the END of the sweep — after transient load has had the whole
    // sweep to pass: (a) the query's own 3 runs spread > 2.5x (something
    // stole cores mid-query), or (b) its min exceeds 3s (the expensive
    // tail, exactly the rows adjudication reads — cheap to re-confirm).
    // The headline min is min(both passes); the artifact carries both
    // values under "reran" so a persistent-load run is self-evident.
    // A query with any failed run is listed as failed and timed nowhere.
    val firstPass = results.collect {
      case (n, ts) if !ts.contains(None) => n -> ts.flatten }
    val suspects = firstPass.filter { case (_, ts) =>
      ts.max / math.max(ts.min, 1e-9) > 2.5 || ts.min > 3.0 }
    val rerun = suspects.map { case (name, _) =>
      resetCacheState()
      name -> timed(name, 3)
    }
    val failed = (results.keySet -- firstPass.keySet ++
      rerun.collect { case (n, None) => n }).toSeq.sorted
    val finalTimes = firstPass.collect { case (n, ts) if !failed.contains(n) =>
      n -> (ts ++ rerun.get(n).flatten) }
    def jmap(f: Seq[Double] => Double) = finalTimes
      .map { case (k, v) => s"\"" + k + "\":" + f(v) }.mkString("{", ",", "}")
    val qs = jmap(_.min)
    // median stays over the first-pass 3 runs for cross-round comparability
    val med = finalTimes.keys
      .map { k => val v = firstPass(k).sorted
        s"\"" + k + "\":" + v(v.size / 2) }
      .mkString("{", ",", "}")
    val reranJson = rerun.collect { case (k, Some(v)) =>
      f""""$k":{"first_min":${firstPass(k).min}%.3f,"rerun":$v%.3f}"""
    }.mkString("{", ",", "}")
    val total = finalTimes.values.map(_.min).sum
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"queries_median":$med,"sf":"$sfDir"}""")
    // The durable bench artifact is a ~2KB TAIL of stdout, so the last
    // line must carry the steady-state signal: mins sorted ascending
    // (the expensive queries — the ones adjudication needs — sit at the
    // surviving end), with the total and start/end load averages after
    // them so a contended driver run is self-evident from the artifact.
    val minAsc = finalTimes.toSeq.sortBy(_._2.min)
      .map { case (k, v) => f""""$k":${v.min}%.3f""" }.mkString("{", ",", "}")
    println(s"""{"queries_min_asc":$minAsc,"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","load_start":"$loadStart","load_end":"$loadEnd","load_gate":"$loadGate","reran":$reranJson}""")
    // The stdout tail truncates at ~2KB, so only the slowest ~50 queries
    // survive in the round artifact. The COMPLETE per-query map (min +
    // median + reran + load lines) also lands in a file at the repo
    // root, committed with the round, so every timing is
    // machine-readable round-over-round.
    // r19 (verdict item 7): the r17 round-over-round comparison was lost
    // to stdout-tail truncation of the very long per-query JSON lines, so
    // the FINAL line is now a short totals-only JSON that no tail capture
    // can truncate — the full per-query map stays on the two lines above
    // (unchanged, so the driver's parser keeps working) and in the
    // committed bench_full.json.
    println(s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","n_queries":${finalTimes.size},"n_failed":${failed.size},"load_gate":"$loadGate"}""")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
    // per-query hygiene columns, sweep (= name) order preserved so the
    // accumulation trend reads top-to-bottom
    val probeJson = probes.map { case (k, (t, h, c)) =>
      s""""$k":{"tmp_mb":$t,"heap_mb":$h,"codecache_mb":$c}"""
    }.mkString("{", ",", "}")
    // the work of the run each query reports as its min; every task-end
    // event has reached the listener once the bus is drained
    org.apache.spark.graft.ListenerDrain(spark.sparkContext)
    val workJson = finalTimes.toSeq.sortBy(_._1).map { case (k, v) =>
      s""""$k":${work.json(RunWork.id(k, v.indexOf(v.min)))}"""
    }.mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir",
         |"load_start":"$loadStart","load_end":"$loadEnd","load_gate":"$loadGate",
         |"queries":$qs,
         |"queries_median":$med,
         |"reran":$reranJson,
         |"probe":$probeJson,
         |"work":$workJson,
         |"failed":$failedJson}""".stripMargin
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), full)
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}") }
    spark.stop()
  }
}

/** Spark work per timed run. A run sets [[RunWork.Key]] on the calling
  * thread; every job started under it carries the property, so the
  * listener charges that job's stages and tasks to the run. */
private final class RunWork extends SparkListener {
  private val stageRun = mutable.Map.empty[Int, String]
  // per run: jobs, completed stages, tasks, task milliseconds
  private val work = mutable.Map.empty[String, Array[Long]]

  private def add(run: String, i: Int, n: Long): Unit =
    work.getOrElseUpdate(run, new Array[Long](4))(i) += n

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(RunWork.Key)))
      .foreach { run =>
        add(run, 0, 1)
        e.stageIds.foreach(stageRun(_) = run)
      }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized(stageRun.get(e.stageInfo.stageId).foreach(add(_, 1, 1)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageRun.get(e.stageId).foreach { run =>
      add(run, 2, 1)
      if (e.taskInfo != null) add(run, 3, e.taskInfo.duration)
    }
  }

  def json(run: String): String = synchronized {
    val Array(jobs, stages, tasks, ms) = work.getOrElse(run, new Array[Long](4))
    f"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,"task_s":${ms / 1e3}%.3f}"""
  }
}

private object RunWork {
  val Key = "graft.bench.run"
  def id(query: String, run: Int): String = s"$query#$run"
}
