package graphbench

/** The per-layer metrics of a traced run: span statistics by layer
  * function, counters taken at layer boundaries, per-kind latencies and
  * the tracing overhead. Values are medians over a span's instances. */
object Layers {
  private val spanStats = Seq("wall_s" -> "s", "jobs" -> "count",
    "tasks" -> "count", "task_s" -> "s", "shuffle_read_bytes" -> "bytes",
    "shuffle_write_bytes" -> "bytes", "busy_share" -> "ratio")

  private def spanMetrics(span: String): Seq[(String, String)] =
    spanStats.map { case (s, u) => s"$span.$s" -> u }

  private val cypherKinds = Seq("point", "expand", "varpath", "shortest")

  /** Every per-layer metric, in report order, with its unit. */
  val all: Seq[(String, String)] =
    Seq("api.GraphDatabase.indexRepo.wall_s" -> "s",
      "api.GraphDatabase.indexRepo.self_s" -> "s",
      "api.GraphDatabase.indexRepo.jobs" -> "count",
      "api.GraphDatabase.indexRepo.tasks" -> "count",
      "api.GraphDatabase.indexRepo.task_s" -> "s",
      "api.GraphDatabase.indexRepo.busy_share" -> "ratio") ++
    Seq("indexer.readRepo", "indexer.indexFiles", "enrich.enrich",
      "store.Snapshot.write", "store.Snapshot.read").flatMap(spanMetrics) ++
    Seq("indexer.nodes" -> "count", "indexer.edges" -> "count",
      "indexer.stubs" -> "count", "indexer.parse_failures" -> "count",
      "indexer.readRepo.useful_ratio" -> "ratio",
      "store.Snapshot.write.bytes_written" -> "bytes",
      "store.Snapshot.write.files_written" -> "count",
      "spark.cached_bytes" -> "bytes", "spark.heap_after_gc_mb" -> "MB") ++
    cypherKinds.flatMap(k => Seq(
      s"api.CypherLite.$k.plan_ms" -> "ms",
      s"api.CypherLite.$k.exec_ms" -> "ms",
      s"api.CypherLite.$k.jobs_per_query" -> "count",
      s"api.CypherLite.$k.tasks_per_query" -> "count")) ++
    Seq("api.GraphDatabase.expand.wall_s" -> "s",
      "api.GraphDatabase.expand.jobs" -> "count") ++
    spanMetrics("hydrate.Hydrate.hydrate") ++
    Seq("api.GraphDatabase.executeQuery.wall_s" -> "s") ++
    spanMetrics("api.GraphDatabase.commit") ++
    ServeWorkload.Kinds.map(k => s"serve.$k.p50_ms" -> "ms") ++
    Seq("serve.read_tail_ms" -> "ms", "serve.read_tail_samples" -> "count",
      "loop.ops_per_s" -> "1/s",
      "trace.untraced_op_ms" -> "ms", "trace.traced_op_ms" -> "ms",
      "trace.overhead_share" -> "ratio")

  /** Every value the traced run can give, keyed by metric name: the
    * names in [[all]] and the span statistics of workloads outside it. */
  def values(untraced: Seq[Op], traced: Seq[Op], spans: Seq[SpanStats],
      counters: Map[String, Double]): Map[String, Double] = {
    val bySpan = spans.groupBy(_.span.name)
    val spanVals = bySpan.toSeq.flatMap { case (name, ss) =>
      def med(f: SpanStats => Double) = Stats.median(ss.map(f))
      Seq(s"$name.wall_s" -> med(_.wallS), s"$name.self_s" -> med(_.selfS),
        s"$name.jobs" -> med(_.work.jobs.toDouble),
        s"$name.tasks" -> med(_.work.tasks.toDouble),
        s"$name.task_s" -> med(_.taskS),
        s"$name.shuffle_read_bytes" -> med(_.work.shuffleRead.toDouble),
        s"$name.shuffle_write_bytes" -> med(_.work.shuffleWrite.toDouble),
        s"$name.busy_share" -> med(_.busyShare))
    }
    val cypher = cypherKinds.flatMap { k =>
      def ms(span: String) = bySpan.get(span)
        .map(ss => Stats.median(ss.map(_.wallS * 1000)))
      def perQuery(f: SpanStats => Double) =
        bySpan.get(s"serve.$k").map(ss => Stats.median(ss.map(f)))
      Seq(s"api.CypherLite.$k.plan_ms" -> ms(s"api.CypherLite.$k.plan"),
        s"api.CypherLite.$k.exec_ms" -> ms(s"api.CypherLite.$k.exec"),
        s"api.CypherLite.$k.jobs_per_query" -> perQuery(_.work.jobs.toDouble),
        s"api.CypherLite.$k.tasks_per_query" -> perQuery(_.work.tasks.toDouble))
        .collect { case (n, Some(v)) => n -> v }
    }
    val kinds = Stats.byKind(untraced)
    val perKind = kinds.map { case (k, s) =>
      s"serve.$k.p50_ms" -> s("p50_ms").asInstanceOf[Double]
    }
    val reads = untraced.filter(_.kind != "write").map(_.ns / 1e6)
    val tail = Stats.tail(reads)
    // tracing overhead: traced over untraced median per operation kind
    val tkinds = Stats.byKind(traced)
    val ratios = kinds.keySet.intersect(tkinds.keySet).toSeq.map { k =>
      tkinds(k)("p50_ms").asInstanceOf[Double] /
        kinds(k)("p50_ms").asInstanceOf[Double] - 1
    }
    val overhead = Seq(
      "trace.untraced_op_ms" -> Stats.median(untraced.map(_.ns / 1e6)),
      "trace.traced_op_ms" -> Stats.median(traced.map(_.ns / 1e6)),
      "trace.overhead_share" -> Stats.median(ratios))
    // per-kind figures only mean something for a mix (serve)
    val mix =
      if (kinds.size < 2) Nil
      else perKind.toSeq ++ Seq(
        "serve.read_tail_ms" -> tail("ms").asInstanceOf[Double],
        "serve.read_tail_samples" -> reads.size.toDouble)
    (spanVals ++ cypher ++ mix ++ overhead).toMap ++ counters
  }
}
