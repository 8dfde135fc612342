package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Streams
import graft.streaming.Streams.Event
import java.sql.Timestamp

class StreamsSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:$minute%02d:00")

  test("windowedEventStats aggregates tumbling windows per event_type") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(
      Event(1, ts(1), 10, "click", 2.0),
      Event(2, ts(2), 11, "click", 3.0),
      Event(3, ts(3), 10, "view", 1.0),
      Event(4, ts(7), 10, "click", 5.0))
    val out = Streams.runToMemory(spark,
      Streams.windowedEventStats(mem.toDF(), "10 minutes", "5 minutes"),
      "win_stats")
    val rows = out.select("window_start", "event_type", "n", "total_value")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(rows === Set(
      (ts(0), "click", 2L, 5.0),
      (ts(0), "view", 1L, 1.0),
      (ts(5), "click", 1L, 5.0)))
  }

  test("stream ≡ batch: windowedEventStats equals the batch window agg") {
    // the streaming path must be the SAME query as the batch q8 shape —
    // one declarative plan, two execution modes (the Structured Streaming
    // contract). 200 deterministic events, compared set-for-set.
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val events = (1 to 200).map { i =>
      Event(i.toLong, ts(i % 60), (i % 7).toLong,
        if (i % 3 == 0) "click" else "view", (i % 11).toDouble)
    }
    val mem = MemoryStream[Event]
    mem.addData(events: _*)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("window_start", "event_type", "n", "total_value").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
          r.getDouble(3))).toSet
    val streamed = norm(Streams.runToMemory(spark,
      Streams.windowedEventStats(mem.toDF(), "10 minutes", "5 minutes"),
      "sb_eq"))
    val batch = norm(events.toDF()
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value")))
    assert(streamed === batch && streamed.nonEmpty)
  }

  test("sessionize accumulates per-user state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Streams.sessionize(mem.toDS(), gapMs = 60 * 60 * 1000L)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("update").start()
    mem.addData(Event(1, ts(1), 10, "click", 2.0), Event(2, ts(2), 10, "view", 3.0))
    q.processAllAvailable()
    mem.addData(Event(3, ts(4), 10, "click", 1.0), Event(4, ts(5), 20, "view", 9.0))
    q.processAllAvailable()
    val rows = spark.table("sessions")
      .select("user_id", "events", "total_value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    q.stop()
    // last update per user reflects accumulated state
    assert(rows.filter(_._1 == 10L).map(_._2).max === 3L)
    assert(rows.filter(_._1 == 10L).map(_._3).max === 6.0)
    assert(rows.filter(_._1 == 20L).toSet === Set((20L, 1L, 9.0)))
  }

  test("graphIngest: A1/A2 merge semantics hold ACROSS micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import graft.model.{Kind, SymbolEvent}
    val dir = java.nio.file.Files.createTempDirectory("graftstream")
      .toString + "/snap"
    val mem = MemoryStream[SymbolEvent]
    val q = Streams.graphIngest(mem.toDS(), dir)
    // batch 1: node referenced before defined -> 'none' placeholder
    mem.addData(SymbolEvent(1L, "t1", Kind.None_, "m.C", "C",
      None, None, None, Some("v1"), Map.empty))
    q.processAllAvailable()
    val afterB1 = graft.store.Snapshot.read(spark, dir).nodes
      .select("full_name", "kind").as[(String, String)].collect().toMap
    assert(afterB1("m.C") === Kind.None_)
    // batch 2: the real kind arrives + a prop update -> promotion (A2)
    // and last-write-wins (A1) against the PERSISTED base
    mem.addData(SymbolEvent(2L, "t1", Kind.Class, "m.C", "C",
      None, Some("class C:"), None, Some("v2"), Map.empty))
    q.processAllAvailable()
    q.stop()
    val snap = graft.store.Snapshot.read(spark, dir)
    val row = snap.nodes.filter($"full_name" === "m.C").collect()(0)
    assert(row.getAs[String]("kind") === Kind.Class)
    assert(row.getAs[String]("code") === "v2")
    assert(snap.nodes.count() === 1)
  }

  test("graphIngest: checkpoint restart resumes exactly-once (snapshot " +
      "matches an uninterrupted run)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.model.{Kind, SymbolEvent}
    val root = java.nio.file.Files.createTempDirectory("graftrestart")
    val dir = s"$root/snap"
    val cp = s"$root/chk"
    val mem = MemoryStream[SymbolEvent]
    // run 1: one batch lands, offsets commit to the checkpoint, then the
    // query is killed (stop() = crash stand-in: no more batches run)
    val q1 = Streams.graphIngest(mem.toDS(), dir, Some(cp))
    mem.addData(SymbolEvent(1L, "t1", Kind.None_, "m.C", "C",
      None, None, None, Some("v1"), Map.empty))
    q1.processAllAvailable()
    q1.stop()
    // events arriving while the query is down wait in the source
    mem.addData(SymbolEvent(2L, "t1", Kind.Class, "m.C", "C",
      None, Some("class C:"), None, Some("v2"), Map.empty))
    mem.addData(SymbolEvent(3L, "t1", Kind.Function, "m.f", "f",
      None, Some("def f():"), None, Some("v1"), Map.empty))
    // run 2: same checkpoint -> resumes from the first UNprocessed batch;
    // the persisted snapshot base carries run 1's state forward
    val q2 = Streams.graphIngest(mem.toDS(), dir, Some(cp))
    q2.processAllAvailable()
    q2.stop()
    val snap = graft.store.Snapshot.read(spark, dir)
    val rows = snap.nodes
      .select("full_name", "kind", "code").as[(String, String, String)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // A2 promotion + A1 LWW held ACROSS the restart boundary, and no
    // event was lost or double-applied: 2 nodes, final kinds/props exact
    assert(rows === Map(
      "m.C" -> ((Kind.Class, "v2")),
      "m.f" -> ((Kind.Function, "v1"))))
    assert(snap.nodes.count() === 2)
  }

  test("streamingExactDedup keeps first occurrence within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    mem.addData((1L, ts(1), "same text"), (2L, ts(2), "same text"),
      (3L, ts(3), "other text"))
    val out = Streams.runToMemory(spark,
      Streams.streamingExactDedup(
        mem.toDF().toDF("doc_id", "ts", "text")),
      "dedup_stream",
      org.apache.spark.sql.streaming.OutputMode.Append())
    assert(out.select("doc_id").as[Long].collect().toSet === Set(1L, 3L))
  }

  test("intervalJoin pairs events within the range; stream ≡ batch") {
    implicit val sqlCtx = spark.sqlContext
    // views (left) joined to clicks (right) of the same user within 5 min
    val views = MemoryStream[Event]
    val clicks = MemoryStream[Event]
    views.addData(
      Event(1, ts(1), 10, "view", 0.0),
      Event(2, ts(10), 10, "view", 0.0),
      Event(3, ts(1), 20, "view", 0.0))
    clicks.addData(
      Event(101, ts(3), 10, "click", 1.0),  // joins view 1 (within 5 min)
      Event(102, ts(12), 10, "click", 1.0), // joins view 2
      Event(103, ts(30), 10, "click", 1.0), // beyond every range
      Event(104, ts(2), 99, "click", 1.0))  // no matching user
    val out = Streams.runToMemory(spark,
      Streams.intervalJoin(views.toDF(), clicks.toDF(), rangeSeconds = 300),
      "ivjoin",
      org.apache.spark.sql.streaming.OutputMode.Append())
    val got = out.select("user_id", "left_id", "right_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((10L, 1L, 101L), (10L, 2L, 102L)))
    // the same predicate as a batch join gives the identical pairs
    val l = Seq(Event(1, ts(1), 10, "view", 0.0), Event(2, ts(10), 10, "view", 0.0),
      Event(3, ts(1), 20, "view", 0.0)).toDF().alias("l")
    val r = Seq(Event(101, ts(3), 10, "click", 1.0), Event(102, ts(12), 10, "click", 1.0),
      Event(103, ts(30), 10, "click", 1.0), Event(104, ts(2), 99, "click", 1.0))
      .toDF().alias("r")
    val batch = l.join(r, org.apache.spark.sql.functions.expr(
        "l.user_id = r.user_id AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 300 SECONDS"))
      .select($"l.user_id", $"l.event_id", $"r.event_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(got === batch)
  }

  test("sessionizeEventTime closes sessions as the WATERMARK passes the gap") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Streams.sessionizeEventTime(mem.toDF(),
        gap = "5 minutes", watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("et_sessions")
      .outputMode("append").start()
    // batch 1: OUT-OF-ORDER events 2 min apart -> one open session,
    // nothing emitted (watermark hasn't passed its close)
    mem.addData(Event(2, ts(3), 7, "view", 3.0), Event(1, ts(1), 7, "click", 2.0))
    q.processAllAvailable()
    assert(spark.table("et_sessions").count() === 0)
    // batch 2 advances the watermark 40 min; batch 3 flushes the emit
    mem.addData(Event(3, ts(43), 7, "click", 1.0))
    q.processAllAvailable()
    mem.addData(Event(4, ts(45), 9, "view", 9.0))
    q.processAllAvailable()
    val closed = spark.table("et_sessions")
      .select("user_id", "session_start", "events", "total_value")
      .as[(Long, java.sql.Timestamp, Long, Double)].collect().toSet
    q.stop()
    // the out-of-order pair merged into ONE session anchored at its
    // earliest event; the 40-min-later session is still open -> absent
    assert(closed === Set((7L, ts(1), 2L, 5.0)))
  }

  test("sessionize starts a fresh session after the inactivity gap") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Streams.sessionize(mem.toDS(), gapMs = 2 * 60 * 1000L) // 2 min gap
      .writeStream.format("memory").queryName("sessions2")
      .outputMode("update").start()
    mem.addData(Event(1, ts(1), 5, "click", 1.0))
    q.processAllAvailable()
    mem.addData(Event(2, ts(10), 5, "click", 7.0)) // 9 min later -> new session
    q.processAllAvailable()
    val last = spark.table("sessions2")
      .select("user_id", "events", "total_value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).last
    q.stop()
    assert(last === ((5L, 1L, 7.0)))
  }

  test("streamingKmvDistinct: O(k) state per window; stream ≡ batch sketch") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    // 300 events over 3 windows, values drawn from per-window vocabularies
    // larger than k so the estimator path (not the exact path) runs
    val events = (1 to 300).map { i =>
      Event(i.toLong, ts(i % 15), (i % 97).toLong, s"u${i % (37 + (i % 15) / 5)}", 1.0)
    }
    val mem = MemoryStream[Event]
    // two batches so the state must merge across micro-batches
    mem.addData(events.take(150): _*)
    mem.addData(events.drop(150): _*)
    val out = Streams.runToMemory(spark,
      Streams.streamingKmvDistinct(mem.toDF(), col("event_type"), k = 16)
        .toDF(), "kmv_stream")
    // UPDATE mode emits one row per (window, batch); KMV estimates are
    // monotone non-decreasing as state merges (kth-min only shrinks), so
    // the final merged estimate per window is the max emit
    val streamed = out.groupBy("window_start")
      .agg(max("est_distinct").as("est"))
      .collect().map(r => (r.getTimestamp(0), r.getDouble(1))).toMap
    val batch = graft.pipeline.Sketches.kmvDistinctBy(
      events.toDF().select(
        window(col("ts"), "5 minutes").getField("start").as("ws"),
        col("event_type")),
      col("ws"), col("event_type"), k = 16)
      .collect().map(r => (r.getTimestamp(0), r.getDouble(1))).toMap
    assert(streamed === batch && streamed.size === 3)
  }

  test("streamingCmsEstimates: fixed-size state; stream ≡ batch cells; " +
    "estimates ≥ exact") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    // skewed vocabulary over 2 windows; width 16 forces collisions
    val events = (1 to 200).map { i =>
      val term = if (i % 3 == 0) "hot" else s"t${i % 23}"
      Event(i.toLong, ts(i % 10), i.toLong, term, 1.0)
    }
    val cands = Seq("hot", "t1", "t7", "absent")
    val mem = MemoryStream[Event]
    mem.addData(events.take(80): _*)   // two batches: state must merge
    mem.addData(events.drop(80): _*)
    val out = Streams.runToMemory(spark,
      Streams.streamingCmsEstimates(mem.toDF(), col("event_type"),
        cands, width = 16).toDF(), "cms_stream")
    val streamed = out.groupBy("window_start", "term")
      .agg(max("est").as("est"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    // batch replay: per-window cell tables from the SAME executable spec
    val byWindow = events.groupBy(e =>
      new Timestamp(e.ts.getTime / 300000L * 300000L))
    val expected = byWindow.flatMap { case (ws, evs) =>
      val cells = graft.pipeline.Sketches.cmsCellsSpec(evs.map(_.event_type), 16)
      cands.map(t => (ws, t) ->
        graft.pipeline.Sketches.cmsEstimateSpec(cells, t, 16))
    }
    assert(streamed === expected)
    // CM guarantee within each window: estimate ≥ exact count
    byWindow.foreach { case (ws, evs) =>
      val exact = evs.groupBy(_.event_type).map { case (t, xs) => t -> xs.size }
      cands.filter(exact.contains).foreach(t =>
        assert(streamed((ws, t)) >= exact(t)))
    }
  }

  test("streamingCorpusScreen: stateless screens run on the stream " +
    "unchanged (row-for-row ≡ batch)") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, ts(1), "Contact bob@example.com or 10.0.0.1 for the quality " +
        "assessment of the corpus and a longer body of plain text that " +
        "clears the length band with the usual stopwords in it."),
      (2L, ts(2), "x"), // fails the quality gate
      (3L, ts(3), "The quick brown fox jumps over the lazy dog and then " +
        "keeps going for long enough to look like a real document of " +
        "ordinary english prose with the usual stopwords in it."))
    val mem = MemoryStream[(Long, Timestamp, String)]
    mem.addData(docs: _*)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "quality", "n_emails", "n_ips", "n_phones", "redacted")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getString(5))).toSet
    val streamed = norm(Streams.runToMemory(spark,
      Streams.streamingCorpusScreen(
        mem.toDF().toDF("doc_id", "ts", "text"), minQuality = 0.75),
      "screen_stream",
      org.apache.spark.sql.streaming.OutputMode.Append()))
    val batch = norm(Streams.streamingCorpusScreen(
      docs.toDF("doc_id", "ts", "text"), minQuality = 0.75))
    assert(streamed === batch && streamed.map(_._1).contains(1L)
      && !streamed.map(_._1).contains(2L))
    // the PII actually got scrubbed on the stream
    val red = streamed.find(_._1 == 1L).get._6
    assert(red.contains("<EMAIL>") && red.contains("<IP>"))
  }

  test("streamingFunnel: monotone state, strict order, no re-emission") {
    import graft.queries.StreamReplay
    def ev(id: Long, ms: Long, uid: Long, t: String) =
      Streams.Event(id, new java.sql.Timestamp(ms), uid, t, 0.0)
    // u1 completes across SEPARATE batches; u2 clicks before viewing
    // (never advances past view); a second view must not re-emit step 1
    val rows = Seq(
      ev(1, 1000, 1, "view"), ev(2, 1500, 2, "click"),
      ev(3, 2000, 1, "click"), ev(4, 2500, 2, "view"),
      ev(5, 3000, 1, "view"), ev(6, 3500, 1, "purchase"))
    val out = StreamReplay.replay(TestSpark.spark, rows, "funnel_spec",
      "append", batches = 3) { df =>
      import TestSpark.spark.implicits._
      Streams.streamingFunnel(df.as[Streams.Event],
        Seq("view", "click", "purchase")).toDF()
    }.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(3))).toSet
    assert(out === Set(
      (1L, 1, 1000000L), (1L, 2, 2000000L), (1L, 3, 3500000L),
      (2L, 1, 2500000L)))
  }

  test("streamingEwma: day counts merge across batches, rows emit at " +
    "day close with a full window only") {
    import graft.queries.StreamReplay
    val day = 86400000L
    def evd(id: Long, d: Int, t: String = "a") =
      Streams.Event(id, new java.sql.Timestamp(d * day + id), 1L, t, 0.0)
    // type a: days 0,1 then a 4-event burst on day 2 and a day-3 closer;
    // day 2's events SPAN batches (replay splits 8 rows across 3+ chunks)
    // so the in-day count must merge in state. type b: single day, never
    // a full window, emits nothing.
    val rows = Seq(evd(1, 0), evd(2, 1)) ++ (3L to 6L).map(evd(_, 2)) ++
      Seq(evd(7, 3), evd(8, 0, "b"))
    val out = StreamReplay.replay(TestSpark.spark, rows, "ewma_spec",
      "append", batches = 4) { df =>
      import TestSpark.spark.implicits._
      Streams.streamingEwma(df.as[Streams.Event], windowDays = 2).toDF()
    }.collect()
      .map(r => (r.getString(0), r.getLong(1) / (day * 1000L),
        r.getLong(2), r.getDouble(3), r.getInt(5))).toSet
    // day 2 closes when day 3's event arrives: baseline (2*1+1*1)/3 = 1,
    // n = 4 -> spike; day 1 lacks a full 2-day window (no day -1); day 3
    // never closes (stream ends, no sentinel in this spec)
    assert(out === Set(("a", 2L, 4L, 1.0, 1)))
  }

  private def ev(id: Long, ms: Long, uid: Long, t: String) =
    Streams.Event(id, new java.sql.Timestamp(ms), uid, t, 0.0)

  /** Drive `xform` over per-batch chunks with a 0s watermark, returning
    * (sink rows, state rows after the final batch). Each addData +
    * processAllAvailable is one watermark step, so event-time timeouts
    * actually fire. */
  private def runTtl(label: String, chunks: Seq[Seq[Streams.Event]])
      (xform: org.apache.spark.sql.Dataset[Streams.Event]
        => org.apache.spark.sql.DataFrame)
      : (Array[org.apache.spark.sql.Row], Long) = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.Event]
    val q = xform(mem.toDS().withWatermark("ts", "0 seconds"))
      .writeStream.format("memory").queryName(label)
      .outputMode("append").start()
    try chunks.foreach { c => mem.addData(c: _*); q.processAllAvailable() }
    finally q.stop()
    (spark.table(label).collect(),
      q.lastProgress.stateOperators(0).numRowsTotal)
  }

  test("streamingFunnel TTL: expired state is dropped, late events can't " +
    "resurrect a funnel, fresh events restart one") {
    val hourMs = 3600L * 1000L
    val (rows, stateRows) = runTtl("funnel_ttl", Seq(
      // u1 enters the funnel (step 1, timeout = +10s past completion)
      Seq(ev(1, 1000, 1, "view")),
      // u9 advances the watermark far past u1's TTL → u1's state expires
      Seq(ev(2, hourMs, 9, "view")),
      Seq(ev(3, hourMs + 1000, 9, "click")),
      // LATE u1 click (behind the watermark): pre-expiry this was the
      // step-2 completion; it must be ignored, not resurrect the funnel
      Seq(ev(4, 5000, 1, "click")),
      // FRESH u1 view: starts a NEW funnel from step 1
      Seq(ev(5, 2 * hourMs, 1, "view")))) { ds =>
      Streams.streamingFunnel(ds, Seq("view", "click"),
        stateTtlSeconds = Some(10L)).toDF()
    }
    val got = rows.map(r => (r.getLong(0), r.getInt(1), r.getLong(3))).toSet
    assert(got === Set(
      (1L, 1, 1000000L),               // original entry
      (9L, 1, hourMs * 1000L), (9L, 2, (hourMs + 1000) * 1000L),
      (1L, 1, 2 * hourMs * 1000L)))    // fresh restart — NOT a step 2
    // u1's first state expired, and so did u9's (its TTL also passed
    // once the final batch advanced the watermark); only the restarted
    // u1 funnel remains
    assert(stateRows === 1L)
  }

  test("streamingNearDup: pairs span batches, stream ≡ batch pair set") {
    import graft.queries.StreamReplay
    import graft.pipeline.Dedup
    val texts = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely different content with other words entirely here"),
      (3L, "the quick brown fox jumps over the lazy dog today"), // dup of 1
      (4L, "the quick brown fox jumps over the lazy cat today")) // near 1/3
    val sink = StreamReplay.replay(TestSpark.spark, texts, "neardup_spec",
      "append", batches = 4) { df =>
      Streams.streamingNearDup(df.toDF("doc_id", "text"),
        k = 3, numHashes = 16, bands = 4, threshold = 0.25).toDF()
    }.distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // doc 3 (batch 3) pairs with doc 1 (batch 1): state spans batches
    val batch = Dedup.minhashLshPairs(
      texts.toDF("doc_id", "text"), k = 3, numHashes = 16, bands = 4,
      threshold = 0.25).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(sink === batch)
    assert(sink.exists(p => p._1 == 1L && p._2 == 3L && p._3 == 1.0))
    assert(!sink.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("streamingNearDupScreen: ZERO state rows under a corpus-sized " +
      "replay; batch-split invariant; matches minhashIncremental's hits") {
    import graft.pipeline.Dedup
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val dup = "the quick brown fox jumps over the lazy dog today"
    // corpus-sized: 300 base docs + 200 streamed docs across 4 batches
    val base = (0L until 300L).map(i =>
      (i * 2, if (i % 7 == 0) dup else s"base document number $i with its own words"))
    val batch = (0L until 200L).map(i =>
      (i * 2 + 1, if (i % 11 == 0) dup else s"novel streamed text $i unlike others"))
    val baseBanded = Dedup.bandedSignatures(
      base.toDF("doc_id", "text"), k = 3, numHashes = 16, bands = 4)
      .localCheckpoint(true)
    val mem = MemoryStream[(Long, String)]
    batch.grouped(50).foreach(g => mem.addData(g: _*))
    val q = Streams.streamingNearDupScreen(mem.toDF()
        .toDF("doc_id", "text"), baseBanded,
        k = 3, numHashes = 16, bands = 4, threshold = 0.25)
      .writeStream.format("memory").queryName("neardup_screen_spec")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    // the whole point: a stream-static join keeps NO state store rows
    val progresses = q.recentProgress
    assert(progresses.nonEmpty)
    assert(progresses.forall(_.stateOperators.isEmpty),
      s"expected a stateless plan; stateOperators: " +
        progresses.flatMap(_.stateOperators.map(_.operatorName)).mkString(","))
    val streamed = spark.table("neardup_screen_spec").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // ≡ the batch incremental screen's pair set (before its groupBy)
    val expected = Dedup.bandedSignatures(
        batch.toDF("doc_id", "text"), k = 3, numHashes = 16, bands = 4).as("x")
      .join(baseBanded.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        round(size(filter(zip_with(col("x.sig"), col("y.sig"), (p, v) =>
          when(p === v, 1).otherwise(0)), v => v === 1)).cast("double") / 16, 4)
          .as("est"))
      .filter(col("est") >= 0.25)
      .select("a", "b").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed === expected)
    assert(streamed.nonEmpty) // the dup plants guarantee hits
  }

  test("streamingTransitions: pairs span batches, no end state") {
    import graft.queries.StreamReplay
    val rows = Seq(
      ev(1, 1000, 1, "a"), ev(2, 1500, 2, "a"),
      ev(3, 2000, 1, "b"), ev(4, 2500, 2, "a"),
      ev(5, 3000, 1, "a"))
    val out = StreamReplay.replay(TestSpark.spark, rows, "markov_spec",
      "append", batches = 5) { df =>
      import TestSpark.spark.implicits._
      Streams.streamingTransitions(df.as[Streams.Event]).toDF()
    }.collect().map(r => (r.getString(0), r.getString(1)))
    // u1: a->b->a (across batches); u2: a->a; terminal events emit nothing
    assert(out.sorted.toSeq === Seq(("a", "a"), ("a", "b"), ("b", "a")))
  }

  test("streamingTransitions TTL: expiry drops only the spanning pair") {
    val hourMs = 3600L * 1000L
    val (rows, stateRows) = runTtl("markov_ttl", Seq(
      Seq(ev(1, 1000, 1, "a")),
      // u9 advances the watermark far past u1's 10s TTL
      Seq(ev(2, hourMs, 9, "a")),
      Seq(ev(3, hourMs + 1000, 9, "b")),
      // fresh u1 event after expiry: re-seeds, no pair against the
      // pre-expiry 'a'
      Seq(ev(4, 2 * hourMs, 1, "c")),
      Seq(ev(5, 2 * hourMs + 1000, 1, "d")))) { ds =>
      Streams.streamingTransitions(ds, stateTtlSeconds = Some(10L)).toDF()
    }
    val got = rows.map(r => (r.getString(0), r.getString(1))).toSet
    // a->c (the expiry-spanning pair) must NOT appear; c->d must
    assert(got === Set(("a", "b"), ("c", "d")))
    // u1's re-seeded state survives; u9's expired with the final
    // watermark advance
    assert(stateRows === 1L)
  }

  test("streamingCohorts horizon TTL: state expires past 64 weeks, late " +
    "events ignored, returning user re-enters as a new cohort") {
    val weekMs = 7L * 86400L * 1000L
    // Monday week boundary: 2024-01-01 is a Monday
    val t0 = Timestamp.valueOf("2024-01-01 12:00:00").getTime
    val (rows, stateRows) = runTtl("cohort_ttl", Seq(
      Seq(ev(1, t0, 1, "purchase")),                  // u1 cohort week 0
      Seq(ev(2, t0 + 65 * weekMs, 9, "purchase")),    // wm → past horizon
      Seq(ev(3, t0 + 66 * weekMs, 9, "purchase")),    // u1 expires here
      Seq(ev(4, t0 + 1 * weekMs, 1, "purchase")),     // LATE u1 — ignored
      Seq(ev(5, t0 + 67 * weekMs, 1, "purchase")))) { ds =>
      Streams.streamingCohorts(ds, expireAtHorizon = true).toDF()
    }
    val got = rows.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // Monday-aligned week start, same arithmetic as the operator
    // (epoch day 0 is a Thursday = 3 days past Monday)
    val day0 = Math.floorDiv(t0, 86400000L)
    val wk0 = (day0 - Math.floorMod(day0 + 3, 7)) * 86400000L
    def wkUs(w: Long) = (wk0 + w * weekMs) * 1000L
    assert(got === Set(
      (1L, wkUs(0), 0),   // original cohort entry
      (9L, wkUs(65), 0), (9L, wkUs(65), 1),
      (1L, wkUs(67), 0))) // resurrection: NEW cohort, offset 0 again
    assert(stateRows === 2L) // u1's original state gone; u9 + new u1
  }

  test("streamingCohorts clamps beyond-horizon offsets instead of failing") {
    import graft.queries.StreamReplay
    val weekMs = 7L * 86400L * 1000L
    val t0 = Timestamp.valueOf("2024-01-01 12:00:00").getTime
    // a 70-week-lived user: offsets 0 and 70 — the latter must be a
    // silent no-emit (it used to throw and kill the whole query)
    val rows = Seq(ev(1, t0, 1, "purchase"),
      ev(2, t0 + 70 * weekMs, 1, "purchase"),
      ev(3, t0 + 70 * weekMs + 1000, 2, "purchase"))
    val out = StreamReplay.replay(spark, rows, "cohort_clamp", "append",
      batches = 2) { df =>
      Streams.streamingCohorts(df.as[Streams.Event]).toDF()
    }.collect().map(r => (r.getLong(0), r.getInt(2))).toSet
    assert(out === Set((1L, 0), (2L, 0)))
  }

  test("streamingHolt: day counts merge across batches, prefix states " +
    "match the hand recurrence, final open day never emits") {
    import graft.queries.StreamReplay
    val day = 86400000L
    def evd(id: Long, d: Int) =
      Streams.Event(id, new java.sql.Timestamp(d * day + id), 1L, "a", 0.0)
    // counts 1, 2, 3 on days 0-2 (day 1's two events SPAN batches), a
    // closing day-3 event left OPEN at stream end
    val rows = Seq(evd(1, 0), evd(2, 1), evd(3, 1), evd(4, 2), evd(5, 2),
      evd(6, 2), evd(7, 3))
    val out = StreamReplay.replay(TestSpark.spark, rows, "holt_spec",
      "append", batches = 3) { df =>
      import TestSpark.spark.implicits._
      Streams.streamingHolt(df.as[Streams.Event]).toDF()
    }.collect().map(r => (r.getInt(2), r.getDouble(3), r.getDouble(4),
      r.getDouble(5))).sortBy(_._1)
    // hand trace: l: 1, 1.5, 2.375; b: 0, 0.25, 0.5625
    assert(out.toSeq === Seq(
      (1, 1.0, 0.0, 1.0),
      (2, 1.5, 0.25, 1.75),
      (3, 2.375, 0.5625, 2.9375)))
  }

  test("streamingQuantiles: additive bins across batches, integer " +
    "quantile reads, final n selects the converged estimate") {
    import graft.queries.StreamReplay
    def ev(id: Long, v: Double) =
      Streams.Event(id, new java.sql.Timestamp(1000L + id), 1L, "a", v)
    // one window; values 1..10 plus an out-of-range 250.0 (clamps to
    // bin 100) and a negative (clamps to 0), spanning 4 batches
    val rows = (1L to 10L).map(i => ev(i, i.toDouble)) ++
      Seq(ev(11, 250.0), ev(12, -3.0))
    val out = StreamReplay.replay(TestSpark.spark, rows, "quant_spec",
      "update", batches = 4) { df =>
      Streams.streamingQuantiles(df, qs = Seq(50, 90, 100)).toDF()
    }.collect().map(r => (r.getInt(1), r.getInt(2), r.getLong(3)))
    // final rows (n = 12): sorted bins 0,1..10,100 — p50 = 6th value
    // (ceil(0.5·12)=6) = bin 5; p90 = ceil(10.8)=11th = bin 10;
    // p100 = 12th = the clamped 100 bin
    val fin = out.filter(_._3 == 12L).map(t => t._1 -> t._2).toMap
    assert(fin === Map(50 -> 5, 90 -> 10, 100 -> 100))
    // intermediate emits exist with strictly smaller n (state merged
    // across batches, not recomputed per batch)
    assert(out.exists(_._3 < 12L))
    assert(out.map(_._3).max === 12L)
  }

  test("r13 streamingLogQuantiles: log buckets carry the heavy tail the " +
      "fixed histogram clamps, additive state, ≤3% relative error") {
    import graft.queries.StreamReplay
    def ev(id: Long, v: Double) =
      Streams.Event(id, new java.sql.Timestamp(1000L + id), 1L, "a", v)
    // heavy tail: 1..10 plus 250.0 and 90000.5 — both lost to the 101-bin
    // clamp in streamingQuantiles, both resolved here; negative clamps 0
    val rows = (1L to 10L).map(i => ev(i, i.toDouble)) ++
      Seq(ev(11, 250.0), ev(12, 90000.5), ev(13, -3.0))
    val out = StreamReplay.replay(TestSpark.spark, rows, "ddsk_spec",
      "update", batches = 4) { df =>
      Streams.streamingLogQuantiles(df, qs = Seq(50, 90, 100)).toDF()
    }.collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(3)))
    val fin = out.filter(_._3 == 13L).map(t => t._1 -> t._2).toMap
    // n = 13: p50 = 7th smallest milli value (0,1000,...): 6000 exact
    // (ids ≤ 63 only when v*1000 ≤ 63 — 6.0 → 6000 is bucketed, so
    // within 3.2%); p100 = the 90000.5 tail
    assert(math.abs(fin(50) - 6000L) <= 200L, s"p50 off: $fin")
    assert(math.abs(fin(90) - 250000L) <= 8000L, s"p90 off: $fin")
    assert(math.abs(fin(100) - 90000500L) <= 2900000L, s"p100 off: $fin")
    // relative error bound: every estimate within 2^-5 of truth
    for ((q, truth) <- Seq(50 -> 6000L, 90 -> 250000L, 100 -> 90000500L))
      assert(math.abs(fin(q) - truth).toDouble / truth <= 1.0 / 32 + 1e-9,
        s"q$q exceeded the relative-error bound: ${fin(q)} vs $truth")
    // additive across batches: intermediate emits with smaller n exist
    assert(out.exists(_._3 < 13L) && out.map(_._3).max === 13L)
    // stream ≡ batch: a single-batch replay lands on identical finals
    val one = StreamReplay.replay(TestSpark.spark, rows, "ddsk_spec1",
      "update", batches = 1) { df =>
      Streams.streamingLogQuantiles(df, qs = Seq(50, 90, 100)).toDF()
    }.collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(3)))
      .filter(_._3 == 13L).map(t => t._1 -> t._2).toMap
    assert(one === fin)
  }

  test("r13 EventTimeTimeout: an expired quantile window emits once " +
      "from its timeout and drops its state (first timeout-path gate " +
      "in the module)") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.streaming.GroupStateTimeout
    def ev(id: Long, day: Int, v: Double) =
      Streams.Event(id, java.sql.Timestamp.valueOf(
        f"2024-01-$day%02d 01:00:00"), 1L, "a", v)
    val mem = MemoryStream[Streams.Event]
    // window 1 fills, then a far-future sentinel (year 2025) advances
    // the watermark past window1's end + watermark slack, firing the
    // EventTimeTimeout expiry for window1's state
    mem.addData((1L to 6L).map(i => ev(i, (i % 4).toInt + 1, i * 7.0)): _*)
    mem.addData(Streams.Event(99L,
      java.sql.Timestamp.valueOf("2025-06-01 00:00:00"), 1L, "a", 1.0))
    val out = Streams.runToMemory(spark,
        Streams.streamingLogQuantiles(mem.toDF(), qs = Seq(50),
          timeout = GroupStateTimeout.EventTimeTimeout).toDF(),
        "st_ddsk_ttl")
      .collect()
      .map(r => (r.getTimestamp(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    // epoch-aligned 7-day windows put days 1-3 in the first window
    // (2023-12-28): events 1,2,4,5,6 → values 7,14,28,35,42
    val w1 = out.map(_._1).min
    val w1Rows = out.filter(r => r._1 == w1 && r._4 == 5L)
    // the converged window-1 estimate appears at least twice: the
    // batch-1 emit AND the timeout-path emit fired by the sentinel
    // batch (which carries NO window-1 rows — only the expiry can
    // re-emit it) — and the expiry's readout matches the batch one
    assert(w1Rows.length >= 2,
      s"expected a timeout re-emit for the expired window; got ${out.toSeq}")
    // p50 of 7,14,28,35,42 → 28000 milli, log-bucket midpoint 27903
    assert(w1Rows.forall(_._3 == 27903L), s"got ${w1Rows.toSeq}")
    assert(w1Rows.map(r => (r._2, r._3, r._4)).distinct.length === 1)
  }

  test("r14 htmlStrip on a stream: stateless, row-for-row ≡ batch") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, "<p>Hello <b>world</b></p><script>var x = 1;</script>"),
      (2L, "a &amp;lt; b &quot;q&quot;"),
      (3L, "plain text"))
    val mem = MemoryStream[(Long, String)]
    val q = graft.pipeline.Corpus.htmlStrip(
        mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("st_html_spec")
      .outputMode("append").start()
    try {
      docs.grouped(2).foreach { c => mem.addData(c: _*)
        q.processAllAvailable() }
      // stateless: the plan holds ZERO state rows (the st_bloom
      // stream-static discipline)
      assert(q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
    val streamed = spark.table("st_html_spec").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val batch = graft.pipeline.Corpus.htmlStrip(
        docs.toDF("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(streamed === batch)
  }

  test("r14 per-row lateness: a cross-window row within the watermark " +
      "allowance is KEPT; a row beyond it drops (the wstart-tag " +
      "regression both ways)") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.streaming.OutputMode
    // epoch-aligned 7-day windows flip at 2024-01-04 00:00 (a Thursday).
    // Batch 1: two on-time window-1 rows. Batch 2: the first window-2
    // row, 5 min past the boundary — under the r13 wstart watermark this
    // alone pushed the clock a whole window past every window-1 row.
    // Batch 3: a window-1 straggler 7 min behind the max seen ts (within
    // the 10 min allowance → must be KEPT) and one 25 min behind (beyond
    // it → must drop).
    // EventTimeTimeout: Spark's state operator only drops
    // behind-watermark input rows under event-time timeout (the
    // production posture); NoTimeout processes everything
    def ev(ts: String, v: Double) = Streams.Event(1L,
      java.sql.Timestamp.valueOf(ts), 1L, "a", v)
    val mem = MemoryStream[Streams.Event]
    val q = Streams.streamingLogQuantiles(mem.toDF(), qs = Seq(50),
        timeout = org.apache.spark.sql.streaming.GroupStateTimeout
          .EventTimeTimeout).toDF()
      .writeStream.format("memory").queryName("st_latewin")
      .outputMode(OutputMode.Update()).start()
    try {
      Seq(
        Seq(ev("2024-01-03 10:00:00", 10.0), ev("2024-01-03 11:00:00", 10.0)),
        Seq(ev("2024-01-04 00:05:00", 99.0)),
        Seq(ev("2024-01-03 23:58:00", 10.0),   // 7 min late: kept
            ev("2024-01-03 23:40:00", 10.0))   // 25 min late: dropped
      ).foreach { c => mem.addData(c: _*); q.processAllAvailable() }
    } finally q.stop()
    val out = spark.table("st_latewin").collect()
      .map(r => (r.getTimestamp(0), r.getLong(3)))
    val w1 = java.sql.Timestamp.valueOf("2023-12-28 00:00:00")
    // window 1's final n counts the two on-time rows plus exactly the
    // 7-min straggler
    assert(out.filter(_._1 == w1).map(_._2).max === 3L,
      s"got ${out.toSeq}")
  }

  test("r13 bloomRefreshIngest: an intra-stream duplicate flags once " +
      "its original's bits are folded in; the set is split-invariant") {
    implicit val sqlCtx = spark.sqlContext
    def run(chunks: Seq[Seq[(Long, String)]])
        : (Set[Long], Map[Long, Int]) = {
      val mem = MemoryStream[(Long, String)]
      val (q, bits, scr) = Streams.bloomRefreshIngest(
        mem.toDF().toDF("doc_id", "text"), Set.empty[Long])
      try {
        chunks.foreach { c => mem.addData(c: _*); q.processAllAvailable() }
      } finally q.stop()
      (bits(), scr().toMap)
    }
    val docs = Seq(
      (1L, "alpha beta gamma"), (2L, "delta epsilon"),
      (3L, "alpha beta gamma"),   // dup of doc 1, later batch
      (4L, "zeta eta theta"))
    val (bitsSplit, scr) = run(Seq(docs.take(2), docs.drop(2)))
    // doc 3's text arrived in batch 1 as doc 1 → bits present → flags;
    // doc 1 itself screened against an EMPTY base → clean
    assert(scr(1L) === 0 && scr(3L) === 1, s"got $scr")
    assert(scr(2L) === 0 && scr(4L) === 0)
    // st_bloom's static-base screen could never flag doc 3 — both docs
    // are new relative to the persisted base (the loop this op closes)
    // the maintained SET is batch-split invariant (bit-OR additivity)
    val (bitsOne, _) = run(Seq(docs))
    assert(bitsSplit === bitsOne)
    // same-batch dup does NOT flag (bits fold in AFTER the screen) —
    // the documented arrival-order semantics
    val (_, scrSame) = run(Seq(Seq((1L, "x y z"), (9L, "x y z"))))
    assert(scrSame(9L) === 0)
  }

  test("r14 bloomRefreshIngest: persist-per-commit + restart — the " +
      "maintained set recovers from the last commit bit-identically " +
      "and a post-restart duplicate still flags") {
    import org.apache.spark.sql.types._
    val base = java.nio.file.Files.createTempDirectory("bloomrr").toString
    val (srcDir, bitsDir, ckpt) =
      (s"$base/src", s"$base/bits", s"$base/ckpt")
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    def stream = spark.readStream.schema(schema).parquet(srcDir)
    def drive(chunk: Seq[(Long, String)])
        : (Set[Long], Map[Long, Int]) = {
      chunk.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(srcDir)
      val (q, bits, scr) = Streams.bloomRefreshIngest(stream,
        Set.empty[Long], persistDir = Some(bitsDir),
        checkpoint = Some(ckpt))
      try q.processAllAvailable() finally q.stop()
      (bits(), scr().toMap)
    }
    // run 1: two docs, then the query STOPS (a crash/deploy)
    val (bits1, scr1) = drive(Seq(
      (1L, "alpha beta gamma"), (2L, "delta epsilon")))
    assert(scr1(1L) === 0 && scr1(2L) === 0)
    // the commit landed and recovery reads it back bit-identically
    assert(Streams.bloomBitsRecover(bitsDir) === Some(bits1))
    // run 2: a FRESH query (bits0 empty — the seed must come from the
    // recovered commit; the checkpoint skips run 1's files) sees a dup
    // of doc 1 and flags it
    val (bits2, scr2) = drive(Seq(
      (3L, "alpha beta gamma"), (4L, "zeta eta theta")))
    assert(scr2.keySet === Set(3L, 4L), s"restart re-screened: $scr2")
    assert(scr2(3L) === 1 && scr2(4L) === 0, s"got $scr2")
    // the restarted set ≡ one uninterrupted run over all four docs
    // (bit-OR additivity + recovered seed)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val (q3, bits3, _) = Streams.bloomRefreshIngest(
      mem.toDF().toDF("doc_id", "text"), Set.empty[Long])
    try {
      mem.addData((1L, "alpha beta gamma"), (2L, "delta epsilon"),
        (3L, "alpha beta gamma"), (4L, "zeta eta theta"))
      q3.processAllAvailable()
    } finally q3.stop()
    assert(bits2 === bits3())
    // the recovered-latest rule: the highest batch id wins
    assert(Streams.bloomBitsRecover(bitsDir) === Some(bits2))
  }

  test("r13 streamingPsiDrift: a shifted window alarms, a conforming " +
      "one stays near 0; additive state ≡ single batch") {
    import graft.queries.StreamReplay
    def ev(id: Long, day: Int, v: Double) =
      Streams.Event(id, java.sql.Timestamp.valueOf(
        f"2024-01-$day%02d 01:00:00"), 1L, "a", v)
    // reference: an even mix of 0.01 and 600.0, bucketed by the batch
    // bucket rule's integer spelling
    def bucketOf(v: Double): Long = {
      val lv = math.max(math.floor(v * 1000).toLong, 0L)
      if (lv <= 63) lv
      else {
        val m = 64 - java.lang.Long.numberOfLeadingZeros(lv)
        (m - 6).toLong * 64 + (lv >> (m - 6))
      }
    }
    val reference = Map(bucketOf(0.01) -> 100L, bucketOf(600.0) -> 100L)
    // window 1 (days 1-7): the reference mix → PSI ≈ 0
    // window 2 (days 8-14): all high values → drifted
    val rows = (1L to 20L).map(i =>
        ev(i, (i % 5).toInt + 1, if (i % 2 == 0) 0.01 else 600.0)) ++
      (21L to 40L).map(i => ev(i, 10, 600.0))
    val out = StreamReplay.replay(TestSpark.spark, rows, "psi_spec",
      "update", batches = 4) { df =>
      Streams.streamingPsiDrift(df, reference).toDF()
    }.collect().map(r => (r.getTimestamp(0), r.getDouble(1), r.getLong(2)))
    val finals = out.groupBy(_._1).map { case (w, es) => w -> es.maxBy(_._3) }
    assert(finals.size === 2)
    val Seq(w1, w2) = finals.keys.toSeq.sortBy(_.getTime)
    assert(finals(w1)._2 < 0.1, s"conforming window drifted: ${finals(w1)}")
    assert(finals(w2)._2 >= 0.25, s"shifted window silent: ${finals(w2)}")
    // stream ≡ batch: one-batch replay lands on identical final PSIs
    val one = StreamReplay.replay(TestSpark.spark, rows, "psi_spec1",
      "update", batches = 1) { df =>
      Streams.streamingPsiDrift(df, reference).toDF()
    }.collect().map(r => (r.getTimestamp(0), r.getDouble(1), r.getLong(2)))
      .groupBy(_._1).map { case (w, es) => w -> es.maxBy(_._3) }
    assert(one === finals)
  }

  test("r14 streamingSrm: a skewed split alarms, a balanced one stays " +
      "quiet; additive counts ≡ single batch; rounded-stat flag") {
    import graft.queries.StreamReplay
    import org.apache.spark.sql.functions.{when, dayofmonth, col}
    def ev(id: Long, day: Int, user: Long) =
      Streams.Event(id, java.sql.Timestamp.valueOf(
        f"2024-01-$day%02d 01:00:00"), user, "exp", 1.0)
    // epoch-aligned 7-day tumbling windows break on Thursdays: Jan 5
    // and Jan 12 2024 land in consecutive windows. Window 1: 90/10
    // split under a 50/50 design → SRM; window 2: 50/50 → quiet
    val rows = (0L until 100L).map(i => ev(i + 1, 5, i)) ++
      (0L until 100L).map(i => ev(i + 101, 12, i))
    def run(tag: String, batches: Int) =
      StreamReplay.replay(TestSpark.spark, rows, tag, "update",
        batches = batches) { df =>
        // window 1 B-rule: user%10==0 (10%); window 2: user%2==0 (50%)
        Streams.streamingSrm(df,
          when(dayofmonth(col("ts")) < 8,
            col("user_id") % 10 === 0)
            .otherwise(col("user_id") % 2 === 0)).toDF()
      }.collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getInt(4)))
        .groupBy(_._1).map { case (w, es) => w -> es.maxBy(e => e._2 + e._3) }
    val finals = run("srm_spec", batches = 4)
    assert(finals.size === 2)
    val Seq(w1, w2) = finals.keys.toSeq.sortBy(_.getTime)
    // window 1: n_a=90, n_b=10, chi2 = 2·40²/50 = 64.0 → flagged
    assert(finals(w1) === ((w1, 90L, 10L, 64.0, 1)), s"got ${finals(w1)}")
    // window 2: exact 50/50 → chi2 0, quiet
    assert(finals(w2) === ((w2, 50L, 50L, 0.0, 0)), s"got ${finals(w2)}")
    // stream ≡ batch: one-batch replay lands on identical finals
    assert(run("srm_spec1", batches = 1) === finals)
  }

  test("r14 streamingConversions: one exposure row, one conversion row, " +
      "never more — across batches, repeats, and pre-exposure converts") {
    implicit val sqlCtx = spark.sqlContext
    def dt(day: Int, h: Int = 1) =
      Timestamp.valueOf(f"2024-01-$day%02d $h%02d:00:00")
    val mem = MemoryStream[Event]
    // u1 browses then converts NEXT batch, then converts again (no
    // re-emit); u2 converts on FIRST sight (exposure + conversion rows
    // in one batch); u3 never converts; u4 appears twice, no convert
    mem.addData(
      Event(1, dt(1), 1, "view", 1.0),
      Event(2, dt(1), 3, "view", 1.0),
      Event(3, dt(1), 4, "view", 1.0))
    mem.addData(
      Event(4, dt(2), 1, "purchase", 99.0),
      Event(5, dt(2), 2, "purchase", 95.0),
      Event(6, dt(2), 4, "view", 1.0))
    mem.addData(
      Event(7, dt(3), 1, "purchase", 99.0),   // repeat: silent
      Event(8, dt(3), 2, "purchase", 50.0))   // below min: silent
    val q = Streams.streamingConversions(mem.toDS(), uid => uid % 2,
        "purchase", minValue = 90.0)
      .writeStream.format("memory").queryName("conv_panel")
      .outputMode("update").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val rows = spark.table("conv_panel")
      .as[(Long, Long, Int)].collect().toSeq
    // exactly one exposure row per user, exactly one conversion row per
    // converting user — no duplicates from later batches
    assert(rows.groupBy(identity).forall(_._2.size == 1),
      s"duplicate emissions: $rows")
    assert(rows.toSet === Set(
      (1L, 1L, 0), (1L, 1L, 1),
      (2L, 0L, 0), (2L, 0L, 1),
      (3L, 1L, 0), (4L, 0L, 0)), s"got $rows")
  }

  test("streamingConversionLag: exactly-once emission across batches") {
    implicit val sqlCtx = spark.sqlContext
    def dt(day: Int, h: Int = 1) =
      Timestamp.valueOf(f"2024-01-$day%02d $h%02d:00:00")
    val mem = MemoryStream[Event]
    // u1 signs up then converts two batches later (second purchase
    // must NOT re-emit); u2 purchases before signup only; u3 never
    // converts
    mem.addData(
      Event(1, dt(1), 1, "signup", 0),
      Event(2, dt(1), 2, "purchase", 0),
      Event(3, dt(1, 2), 3, "signup", 0))
    mem.addData(
      Event(4, dt(2), 2, "signup", 0),
      Event(5, dt(4), 1, "purchase", 0))
    mem.addData(Event(6, dt(5), 1, "purchase", 0))
    val out = Streams.runToMemory(spark,
        Streams.streamingConversionLag(mem.toDS(), "signup", "purchase")
          .toDF(), "st_lag_t",
        org.apache.spark.sql.streaming.OutputMode.Append())
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSet === Set((1L, 3L)))   // day1→day4, once
    assert(out.length === 1)              // no re-emission, no u2/u3
  }

  test("streamingHllDistinct: register-max state ≡ batch across batches") {
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val events = (1 to 300).map { i =>
      Event(i.toLong, ts(i % 50), (i % 87).toLong, "click", 0.0)
    }
    val mem = MemoryStream[Event]
    mem.addData(events.take(150): _*)  // two batches: registers must merge
    mem.addData(events.drop(150): _*)
    val streamed = Streams.runToMemory(spark,
        Streams.streamingHllDistinct(mem.toDF(),
          col("user_id").cast("string"), "7 days").toDF(), "st_hll_t")
      .groupBy("window_start")
      // most-converged emit: min s_scaled (est is not monotone across
      // the r12 linear-counting crossover — see st_hll in QueryCatalog)
      .agg(org.apache.spark.sql.functions.min("s_scaled").as("s"),
        org.apache.spark.sql.functions.min_by(col("est_hll"),
          col("s_scaled")).as("e"))
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    val batch = graft.pipeline.Sketches.hllDistinct(
        events.toDF().select(col("user_id").cast("string").as("v")),
        col("v"))
      .collect().map(r => (r.getLong(1), r.getDouble(3))).toSeq
    assert(streamed === batch) // one 7-day window covers all events
  }

  test("streamingRecords: record-day alerts only on strict new highs") {
    implicit val sqlCtx = spark.sqlContext
    def dt(day: Int, h: Int = 1) =
      Timestamp.valueOf(f"2024-01-$day%02d $h%02d:00:00")
    def dayUs(day: Int) = dt(day, 0).getTime * 1000L
    val mem = MemoryStream[Event]
    // click days: 2, 1, 3, 3, (open); view days: 1, 2, (open)
    mem.addData(
      Event(1, dt(1), 1, "click", 0), Event(2, dt(1, 2), 1, "click", 0),
      Event(3, dt(2), 1, "click", 0),
      Event(4, dt(3), 1, "click", 0), Event(5, dt(3, 2), 1, "click", 0),
      Event(6, dt(3, 3), 1, "click", 0),
      Event(7, dt(4), 1, "click", 0), Event(8, dt(4, 2), 1, "click", 0),
      Event(9, dt(4, 3), 1, "click", 0),
      Event(10, dt(5), 1, "click", 0), // closes day4: ties record, silent
      Event(11, dt(1), 2, "view", 0),
      Event(12, dt(2), 2, "view", 0), Event(13, dt(2, 2), 2, "view", 0),
      Event(14, dt(3), 2, "view", 0))
    val out = Streams.runToMemory(spark,
        Streams.streamingRecords(mem.toDS()).toDF(), "st_rec",
        org.apache.spark.sql.streaming.OutputMode.Append())
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(out === Set(
      ("click", dayUs(1), 2L, 0L),
      ("click", dayUs(3), 3L, 2L),   // day2's dip never emitted
      ("view", dayUs(1), 1L, 0L),
      ("view", dayUs(2), 2L, 1L)))   // day4 tie and open days absent
  }

  test("streamingCusum: chart floors at zero across a dip, alarms past " +
      "h, open day never emits") {
    implicit val sqlCtx = spark.sqlContext
    def dt(day: Int, h: Int = 1) =
      Timestamp.valueOf(f"2024-01-$day%02d $h%02d:00:00")
    def dayUs(day: Int) = dt(day, 0).getTime * 1000L
    val mem = MemoryStream[Event]
    // click day counts 3, 1, 4, 4 with ref = 2000 milli (k = 100):
    // incs 900, -1100, 1900, 1900 → P = 900, -200, 1700, 3600;
    // S = 900, 0 (floor), 1900, 3800 → alarm only on day 4 (> 2000)
    mem.addData(
      (1 to 3).map(i => Event(i.toLong, dt(1, i), 1, "click", 0)) ++
      Seq(Event(4, dt(2), 1, "click", 0)) ++
      (5 to 8).map(i => Event(i.toLong, dt(3, i - 4), 1, "click", 0)) ++
      (9 to 12).map(i => Event(i.toLong, dt(4, i - 8), 1, "click", 0)) ++
      Seq(Event(13, dt(5), 1, "click", 0)): _*)  // closes day 4
    val out = Streams.runToMemory(spark,
        Streams.streamingCusum(mem.toDS(),
          Map("click" -> 2000L)).toDF(), "st_cusum_t",
        org.apache.spark.sql.streaming.OutputMode.Append())
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getInt(4))).toSet
    assert(out === Set(
      ("click", dayUs(1), 3L, 900L, 0),
      ("click", dayUs(2), 1L, 0L, 0),
      ("click", dayUs(3), 4L, 1900L, 0),
      ("click", dayUs(4), 4L, 3800L, 1)))  // day 5 open: absent
  }

  test("r15 streamingCusum: non-UTC session raises loudly — its epoch-" +
      "day buckets only match the batch twin's date_trunc under UTC") {
    implicit val sqlCtx = spark.sqlContext
    val saved = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val mem = MemoryStream[Event]
      val ex = intercept[IllegalArgumentException] {
        Streams.streamingCusum(mem.toDS(), Map("click" -> 2000L))
      }
      assert(ex.getMessage.contains("UTC"))
      // semantically-UTC spellings normalize and pass (fixed zero
      // offset buckets identically)
      for (tz <- Seq("Etc/UTC", "GMT", "+00:00")) {
        spark.conf.set("spark.sql.session.timeZone", tz)
        Streams.streamingCusum(mem.toDS(), Map("click" -> 2000L))
      }
    } finally spark.conf.set("spark.sql.session.timeZone", saved)
  }

  test("r15 streamingKAnonymity / streamingLDiversity: additive state " +
      "across batch splits; last emission per class equals the batch " +
      "screen") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String, Long)]
    val q = Streams.streamingKAnonymity(
        mem.toDS().toDF("lang", "source", "n_chars"), k = 5)
      .toDF().writeStream.format("memory")
      .queryName("st_kanon_t").outputMode("update").start()
    // 6 docs of one class split across two batches: 4 then 2 — the
    // flag must flip from 0 to 1 only at the second batch
    mem.addData((1 to 4).map(_ => ("en", "web", 100L)): _*)
    q.processAllAvailable()
    mem.addData((1 to 2).map(_ => ("en", "web", 100L)): _*)
    q.processAllAvailable()
    q.stop()
    val em = spark.table("st_kanon_t")
      .collect().map(r => (r.getLong(3), r.getInt(4))).toSet
    assert(em === Set((4L, 0), (6L, 1)))

    val mem2 = MemoryStream[(String, String, Long)]
    val q2 = Streams.streamingLDiversity(
        mem2.toDS().toDF("lang", "source", "n_chars"), l = 3)
      .toDF().writeStream.format("memory")
      .queryName("st_ldiv_t").outputMode("update").start()
    // distinct sources accumulate across batches: 2 then a 3rd (plus a
    // repeat that must not double-count and a NULL source, which is
    // not a sensitive VALUE — the batch twin's count_distinct skips it)
    mem2.addData(("en", "web", 100L), ("en", "book", 100L))
    q2.processAllAvailable()
    mem2.addData(("en", "wiki", 100L), ("en", "web", 100L),
      ("en", null, 100L))
    q2.processAllAvailable()
    q2.stop()
    val em2 = spark.table("st_ldiv_t")
      .collect().map(r => (r.getLong(2), r.getLong(3), r.getInt(4))).toSet
    assert(em2 === Set((2L, 2L, 0), (5L, 3L, 1)))
  }

  test("r16 streamingTClosenessGrid: the class x source grid folds " +
      "across batch splits; grid snapshot + finish == the batch " +
      "tCloseness (null sources filtered on both sides)") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      ("en", "web", 100L), ("en", "web", 100L), ("en", "web", 100L),
      ("en", "web", 100L), ("en", "book", 100L), ("en", "book", 100L),
      ("en", "book", 100L), ("en", "book", 100L),
      ("zh", "web", 5000L), ("zh", "web", 5000L),
      ("zh", "web", 5000L), ("zh", "web", 5000L),
      ("zh", null, 5000L))
    val mem = MemoryStream[(String, String, Long)]
    val q = Streams.streamingTClosenessGrid(
        mem.toDS().toDF("lang", "source", "n_chars"))
      .writeStream.format("memory")
      .queryName("st_tclose_t").outputMode("update").start()
    val (b1, b2) = rows.splitAt(6)
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable()
    q.stop()
    // latest update per key (counts are monotone: max), then the
    // stateless finish — must equal the batch operator exactly
    val grid = spark.table("st_tclose_t")
      .groupBy("lang", "len_oct", "source")
      .agg(org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.col("c")).as("c"))
    val streamed = graft.pipeline.Corpus.tClosenessFromGrid(grid)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getInt(4))).toSet
    val batch = graft.pipeline.Corpus.tCloseness(
        rows.zipWithIndex.map { case ((l, s, n), i) =>
          (i.toLong, "t", l, s, n) }
          .toDF("doc_id", "text", "lang", "source", "n_chars"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getInt(4))).toSet
    assert(streamed === batch)
    // the fixture's own expectation (the p_tclose spec numbers):
    // en class releases, zh single-source fails
    assert(streamed === Set(("en", 7, 8L, 166666L, 1),
      ("zh", 13, 4L, 333333L, 0)))
  }

  test("r15 amsF2Fold: an empty micro-batch (idle tick / recovery " +
      "batch) is the zero partial — bank unchanged, no NPE") {
    import graft.pipeline.Sketches
    val zero = Sketches.AmsSeeds.map(s => s._1 -> 0L).toMap
    val empty = Seq.empty[String].toDF("term")
    assert(Streams.amsF2Fold(empty, zero) === zero)
    // and a real batch still folds additively on top of a prior bank
    val b1 = Streams.amsF2Fold(Seq("a", "b", "a").toDF("term"), zero)
    assert(b1 !== zero)
    assert(Streams.amsF2Fold(empty, b1) === b1)
    val twice = Streams.amsF2Fold(Seq("a", "b", "a").toDF("term"), b1)
    assert(twice === b1.map { case (k, v) => k -> (2 * v) })
  }
}
