package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.SparkTestBase

case class Ev(ts: Timestamp, user_id: Long, event_type: String, value: Double)

case class EvJ(event_id: Long, ts: Timestamp, user_id: Long, event_type: String)

case class EvV(event_id: Long, ts: Timestamp, user_id: Long,
               event_type: String, value: Double)

case class TgRow(user_id: Long, side: Long)

/** Structured Streaming surface: the same EventStreams transforms run as
  * a real stream (MemoryStream source, memory sink) and must produce the
  * batch results — the equivalence the batch DuckDB oracle certifies.
  */
class EventStreamsSpec extends SparkTestBase {
  import spark.implicits._

  private def t(s: String) = Timestamp.valueOf(s)

  private val events = Seq(
    Ev(t("2024-01-01 00:05:00"), 1L, "click", 1.0),
    Ev(t("2024-01-01 00:20:00"), 1L, "click", 2.0),
    Ev(t("2024-01-01 00:59:00"), 2L, "view", 3.0),
    Ev(t("2024-01-01 01:10:00"), 1L, "click", 4.0),   // >10min gap → new session
    Ev(t("2024-01-01 01:15:00"), 2L, "view", 5.0))

  private def runStream(makeQuery: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
                        name: String): org.apache.spark.sql.DataFrame = {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Ev]
    input.addData(events)
    val q = makeQuery(input.toDF())
      .writeStream.format("memory").queryName(name).outputMode(OutputMode.Complete())
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }

  test("file-based readStream: parquet source -> watermarked agg -> memory sink") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_src")
    events.toDF().write.mode("overwrite").parquet(dir.toString)
    val stream = spark.readStream
      .schema(events.toDF().schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.toString)
    val q = EventStreams.tumblingCounts(stream.withWatermark("ts", "2 hours"), "1 hour")
      .writeStream.format("memory").queryName("file_stream_out")
      .outputMode(OutputMode.Complete())
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("file_stream_out")
    val batch = EventStreams.tumblingCounts(events.toDF(), "1 hour")
    assert(streamed.orderBy("w_start", "event_type").collect().toSeq ===
      batch.orderBy("w_start", "event_type").collect().toSeq)
  }

  test("writeStream to a parquet file sink with checkpointing") {
    val src = java.nio.file.Files.createTempDirectory("graft_sink_src")
    val out = java.nio.file.Files.createTempDirectory("graft_sink_out")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sink_ckpt")
    events.toDF().write.mode("overwrite").parquet(src.toString)
    val stream = spark.readStream
      .schema(events.toDF().schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(src.toString)
      .filter(org.apache.spark.sql.functions.col("event_type") === "click")
      .select("user_id", "ts", "value")
    val q = stream.writeStream
      .format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    val sunk = spark.read.parquet(out.toString)
    val batch = events.toDF().filter($"event_type" === "click")
      .select("user_id", "ts", "value")
    assert(sunk.orderBy("user_id", "ts").collect().toSeq ===
      batch.orderBy("user_id", "ts").collect().toSeq)
  }

  test("streaming tumbling counts equal the batch transform") {
    val streamed = runStream(df => EventStreams.tumblingCounts(df.withWatermark("ts", "2 hours"), "1 hour"),
      "tumbling_out")
    val batch = EventStreams.tumblingCounts(events.toDF(), "1 hour")
    assert(streamed.orderBy("w_start", "event_type").collect().toSeq ===
      batch.orderBy("w_start", "event_type").collect().toSeq)
  }

  test("streaming histogram sketch + batch extraction equal batch quantiles end to end") {
    // the stream maintains the bounded grid; quantiles come from a batch
    // pass over the streamed sketch — the intended split of work
    val streamedSketch = runStream(
      df => EventStreams.windowValueSketch(df.withWatermark("ts", "2 hours"), "1 hour", grid = 2.0),
      "sketch_out")
    val fromStream = EventStreams.quantilesFromSketch(streamedSketch)
      .orderBy("w_start", "event_type").collect().toSeq
    val batch = EventStreams.windowQuantiles(events.toDF(), "1 hour", grid = 2.0)
      .orderBy("w_start", "event_type").collect().toSeq
    assert(fromStream === batch)
    // sketch state is bounded: no (window, type) group exceeds the grid
    val maxBuckets = streamedSketch.groupBy("w_start", "event_type").count()
      .agg(org.apache.spark.sql.functions.max("count")).collect()(0).getLong(0)
    assert(maxBuckets <= math.ceil(5.0 / 2.0).toLong + 1)
  }

  test("watermark drops late data beyond the bound") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = EventStreams.tumblingCounts(input.toDF().withWatermark("ts", "30 minutes"), "1 hour")
      .writeStream.format("memory").queryName("late_out")
      .outputMode(OutputMode.Update())
      .start()
    try {
      // batch 1: events in hour-0 and hour-5 — watermark advances to 4:30
      input.addData(Seq(
        Ev(t("2024-01-01 00:10:00"), 1L, "click", 1.0),
        Ev(t("2024-01-01 05:00:00"), 1L, "click", 2.0)))
      q.processAllAvailable()
      // batch 2: one on-time event (hour-5) and one LATE event (hour-0,
      // far behind the 4:30 watermark) — the late one must be dropped
      input.addData(Seq(
        Ev(t("2024-01-01 05:10:00"), 1L, "click", 3.0),
        Ev(t("2024-01-01 00:20:00"), 1L, "click", 4.0)))
      q.processAllAvailable()
    } finally q.stop()
    val counts = spark.table("late_out")
      .groupBy("w_start")
      .agg(org.apache.spark.sql.functions.max("n").as("n"))
      .collect().map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
    assert(counts("2024-01-01 00:00:00.0") === 1L) // late event NOT counted
    assert(counts("2024-01-01 05:00:00.0") === 2L) // on-time event counted
  }

  test("stateful user stats carry keyed state across micro-batches") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = EventStreams.statefulUserStats(input.toDF())
      .writeStream.format("memory").queryName("stateful_out")
      .outputMode(OutputMode.Update())
      .start()
    try {
      input.addData(events.take(3)) // batch 1: user1 ×2, user2 ×1
      q.processAllAvailable()
      input.addData(events.drop(3)) // batch 2: user1 ×1, user2 ×1
      q.processAllAvailable()
    } finally q.stop()
    // memory sink in Update mode appends each update; the LAST row per
    // user holds the accumulated totals across both batches.
    val finalRows = spark.table("stateful_out")
      .groupBy("user_id")
      .agg(org.apache.spark.sql.functions.max("n_events").as("n_events"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(finalRows === Map(1L -> 3L, 2L -> 2L))

    // batch mode: identical to a plain aggregation
    val batch = EventStreams.statefulUserStats(events.toDF())
      .collect().map(s => s.user_id -> s.n_events).toMap
    assert(batch === Map(1L -> 3L, 2L -> 2L))
  }

  test("transformWithState (Spark 4 API): MapState accumulates per " +
       "(user, event type) across micro-batches; batch equals plain agg") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = EventStreams.statefulTypeStats(input.toDF())
      .writeStream.format("memory").queryName("tws_out")
      .outputMode(OutputMode.Update())
      .start()
    try {
      input.addData(events.take(3)) // user1 click ×2 (1.0+2.0), user2 view ×1
      q.processAllAvailable()
      input.addData(events.drop(3)) // user1 click ×1 (4.0), user2 view ×1
      q.processAllAvailable()
    } finally q.stop()
    val finalRows = spark.table("tws_out")
      .groupBy("user_id", "event_type")
      .agg(org.apache.spark.sql.functions.max("n_events").as("n"),
        org.apache.spark.sql.functions.max("total_cents").as("cents"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(finalRows === Map(
      (1L, "click") -> (3L, 700L),  // 100 + 200 + 400 cents
      (2L, "view") -> (2L, 800L)))  // 300 + 500 cents

    // batch mode: each key processed once == plain aggregation
    val batch = EventStreams.statefulTypeStats(events.toDF())
      .collect().map(s => (s.user_id, s.event_type) -> (s.n_events, s.total_cents))
      .toMap
    assert(batch === finalRows)
  }

  test("streaming sliding windows equal the batch transform") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Ev]
    input.addData(events)
    val q = EventStreams.slidingCounts(input.toDF().withWatermark("ts", "2 hours"),
        "1 hour", "30 minutes")
      .writeStream.format("memory").queryName("sliding_out")
      .outputMode(OutputMode.Complete())
      .start()
    try q.processAllAvailable() finally q.stop()
    val batch = EventStreams.slidingCounts(events.toDF(), "1 hour", "30 minutes")
    assert(spark.table("sliding_out").orderBy("w_start", "event_type").collect().toSeq ===
      batch.orderBy("w_start", "event_type").collect().toSeq)
  }

  test("streaming session windows equal the batch transform") {
    val streamed = runStream(df => EventStreams.sessionize(df.withWatermark("ts", "1 hour"), "10 minutes"),
      "session_out")
    val batch = EventStreams.sessionize(events.toDF(), "10 minutes")
    assert(streamed.orderBy("user_id", "s_start").collect().toSeq ===
      batch.orderBy("user_id", "s_start").collect().toSeq)
    // user 1: events at 00:05/00:20 split (15min gap > 10min) and 01:10 separate
    assert(batch.filter($"user_id" === 1L).count() === 3)
  }

  test("streaming first-event dedup (watermarked dropDuplicates) equals batch firstEvents") {
    // the stream arrives in event-time order (two batches), so first
    // arrival == min ts and the streaming output must equal the batch
    // min-ts aggregation
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Ev]
    val (early, late) = events.sortBy(_.ts.getTime).splitAt(2)
    val q = EventStreams.firstEventsStream(input.toDF(), "1 hour")
      .writeStream.format("memory").queryName("first_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(early)
      q.processAllAvailable()
      input.addData(late)
      q.processAllAvailable()
    } finally q.stop()
    val batch = EventStreams.firstEvents(events.toDF())
      .select($"user_id", $"event_type", $"first_ts")
    assert(spark.table("first_out").orderBy("user_id", "event_type").collect().toSeq ===
      batch.orderBy("user_id", "event_type").collect().toSeq)
  }

  test("stream-stream interval join (two watermarked sources) equals the batch range join") {
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[EvJ]
    val buys = MemoryStream[EvJ]
    val clickEvents = Seq(
      EvJ(1L, t("2024-01-01 00:00:00"), 1L, "click"),
      EvJ(2L, t("2024-01-01 01:00:00"), 1L, "click"),
      EvJ(3L, t("2024-01-01 00:05:00"), 2L, "click"))
    val buyEvents = Seq(
      EvJ(10L, t("2024-01-01 00:10:00"), 1L, "purchase"), // within 30m of click 1
      EvJ(11L, t("2024-01-01 01:20:00"), 1L, "purchase"), // within 30m of click 2
      EvJ(12L, t("2024-01-01 02:00:00"), 2L, "purchase")) // outside 30m of click 3
    clicks.addData(clickEvents)
    buys.addData(buyEvents)
    // stream-stream inner joins emit in Append mode only; the watermarks
    // plus the time-bound condition are what let Spark evict join state
    val q = EventStreams.intervalJoin(clicks.toDF().withWatermark("ts", "1 hour"),
        buys.toDF().withWatermark("ts", "1 hour"), within = "30 minutes")
      .writeStream.format("memory").queryName("ssjoin_out")
      .outputMode(OutputMode.Append())
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("ssjoin_out")
      .orderBy("src_id", "dst_id").collect().toSeq
    val batch = EventStreams.intervalJoin(clickEvents.toDF(), buyEvents.toDF(), "30 minutes")
      .orderBy("src_id", "dst_id").collect().toSeq
    assert(streamed === batch)
    assert(batch.map(r => (r.getLong(1), r.getLong(2))) === Seq((1L, 10L), (2L, 11L)))
  }

  test("stream-stream LEFT OUTER interval join: watermark eviction emits the " +
       "null-padded rows and the result equals the batch left join") {
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[EvJ]
    val buys = MemoryStream[EvJ]
    val clickEvents = Seq(
      EvJ(1L, t("2024-01-01 00:00:00"), 1L, "click"),   // converts (b10)
      EvJ(3L, t("2024-01-01 00:05:00"), 2L, "click"))   // never converts
    val buyEvents = Seq(
      EvJ(10L, t("2024-01-01 00:10:00"), 1L, "purchase"),  // within 30m
      EvJ(12L, t("2024-01-01 02:00:00"), 2L, "purchase"))  // outside 30m
    clicks.addData(clickEvents)
    buys.addData(buyEvents)
    val q = EventStreams.intervalJoinOuter(clicks.toDF().withWatermark("ts", "1 hour"),
        buys.toDF().withWatermark("ts", "1 hour"), within = "30 minutes")
      .writeStream.format("memory").queryName("ssoj_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      q.processAllAvailable()
      // the unmatched click emits ONLY once the watermark proves no
      // purchase can still arrive: push event time far past
      // src_ts + 30m + 1h on both sources, then run the extra batch
      // that applies the advanced watermark to the buffered state
      clicks.addData(EvJ(99L, t("2024-01-02 00:00:00"), 9L, "click"))
      buys.addData(EvJ(98L, t("2024-01-02 00:00:00"), 9L, "purchase"))
      q.processAllAvailable()
      clicks.addData(EvJ(97L, t("2024-01-02 06:00:00"), 9L, "click"))
      buys.addData(EvJ(96L, t("2024-01-02 06:00:00"), 9L, "purchase"))
      q.processAllAvailable()
    } finally q.stop()
    val origIds = clickEvents.map(_.event_id).toSet
    val streamed = spark.table("ssoj_out")
      .filter(org.apache.spark.sql.functions.col("src_id")
        .isin(origIds.toSeq: _*))
      .orderBy("src_id", "dst_id").collect().toSeq
    val batch = EventStreams.intervalJoinOuter(
        clickEvents.toDF(), buyEvents.toDF(), "30 minutes")
      .orderBy("src_id", "dst_id").collect().toSeq
    assert(streamed === batch)
    // and the batch result really contains the null-padded row
    assert(batch.map(r => (r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2))) ===
      Seq((1L, 10L), (3L, -1L)))
  }

  test("stateful sessionize: custom session state carries across micro-batches, batch ≡ stream") {
    implicit val ctx = spark.sqlContext
    val evs = Seq(
      EvJ(1L, t("2024-01-01 00:00:00"), 1L, "click"),
      EvJ(2L, t("2024-01-01 00:10:00"), 1L, "click"),  // same session (10m gap)
      EvJ(3L, t("2024-01-01 00:05:00"), 2L, "view"),
      // batch 2:
      EvJ(4L, t("2024-01-01 00:25:00"), 1L, "click"),  // extends session 1 (15m gap)
      EvJ(5L, t("2024-01-01 02:00:00"), 1L, "click"),  // >30m → session 2
      EvJ(6L, t("2024-01-01 01:00:00"), 2L, "view"))   // >30m → session 2
    val input = MemoryStream[EvJ]
    val q = EventStreams.statefulSessionize(input.toDF(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sess_state_out")
      .outputMode(OutputMode.Update())
      .start()
    try {
      input.addData(evs.take(3))
      q.processAllAvailable()
      input.addData(evs.drop(3))
      q.processAllAvailable()
    } finally q.stop()
    // Update mode re-emits the open session as it grows: the latest row
    // per (user, seq) — arg-max by n_events — is the final session.
    val streamed = spark.table("sess_state_out")
      .groupBy("user_id", "session_seq")
      .agg(org.apache.spark.sql.functions.max_by(
        org.apache.spark.sql.functions.struct($"n_events", $"session_start", $"session_end"),
        $"n_events").as("s"))
      .select($"user_id", $"session_seq", $"s.n_events", $"s.session_start", $"s.session_end")
      .orderBy("user_id", "session_seq").collect().toSeq
    val batch = EventStreams.statefulSessionize(evs.toDF(), gapMinutes = 30)
      .toDF().orderBy("user_id", "session_seq").collect().toSeq
    assert(streamed === batch)
    // user 1: [00:00–00:25]×3 then [02:00]; user 2: [00:05] then [01:00]
    assert(batch.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) ===
      Seq((1L, 1L, 3L), (1L, 2L, 1L), (2L, 1L, 1L), (2L, 2L, 1L)))
  }

  test("stateful sessionize: cross-batch late in-gap event cannot regress session_end") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[EvJ]
    val q = EventStreams.statefulSessionize(input.toDF(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sess_late_out")
      .outputMode(OutputMode.Update())
      .start()
    try {
      input.addData(Seq(
        EvJ(1L, t("2024-01-01 00:00:00"), 1L, "click"),
        EvJ(2L, t("2024-01-01 00:20:00"), 1L, "click")))
      q.processAllAvailable()
      // late straggler: inside the gap but OLDER than the open end —
      // must extend the count and keep end = 00:20 (monotone guard)
      input.addData(Seq(EvJ(3L, t("2024-01-01 00:10:00"), 1L, "click")))
      q.processAllAvailable()
    } finally q.stop()
    val last = spark.table("sess_late_out")
      .orderBy($"n_events".desc).limit(1)
      .select("session_seq", "n_events", "session_end").collect().head
    assert(last.getLong(0) === 1L)
    assert(last.getLong(1) === 3L)
    assert(last.getTimestamp(2) === t("2024-01-01 00:20:00"))
  }

  test("streaming HLL sketch + batch estimation equal the batch " +
       "distinct-count; register state is bounded by 2^p") {
    val streamedSketch = runStream(
      df => EventStreams.windowDistinctSketch(df.withWatermark("ts", "2 hours"), "1 hour"),
      "hll_sketch_out")
    val fromStream = EventStreams.distinctFromSketch(streamedSketch)
      .orderBy("w_start", "event_type").collect().toSeq
    val batch = EventStreams.windowDistinctUsers(events.toDF(), "1 hour")
      .orderBy("w_start", "event_type").collect().toSeq
    assert(fromStream === batch)
    val maxRegs = streamedSketch.groupBy("w_start", "event_type").count()
      .agg(org.apache.spark.sql.functions.max("count")).collect()(0).getLong(0)
    assert(maxRegs <= (1L << graft.operators.Sketches.HllP))
  }

  test("st10 HLL window distinct-count tracks the exact count within " +
       "the m=256 error bound on the events table") {
    val dir = "/root/testdata/sf0.01"
    val ev = graft.tables.Tables.events(spark, dir)
    val est = EventStreams.windowDistinctUsers(ev, "1 hour")
    val exact = ev.groupBy(
        org.apache.spark.sql.functions.window($"ts", "1 hour").as("w"),
        $"event_type")
      .agg(org.apache.spark.sql.functions
        .countDistinct($"user_id").as("exact"))
      .select($"w.start".as("w_start"), $"event_type", $"exact")
    val joined = est.join(exact, Seq("w_start", "event_type")).collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val (e, x) = (r.getLong(r.fieldIndex("distinct_users")).toDouble,
        r.getLong(r.fieldIndex("exact")).toDouble)
      // rsd ≈ 1.04/sqrt(256) ≈ 6.5 %; linear counting applies below
      // raw ≤ 5m/2, so the loose tolerance here covers residual HLL
      // error in the dense range, not a missing correction
      assert(math.abs(e - x) <= math.max(0.20 * x, 4.0),
        s"${r.get(0)}/${r.get(1)}: est $e vs exact $x")
    }
  }

  // -------------------------------------------- st10 correction boundary

  /** Registers (bucket, mj) engineering an EXACT raw estimate: exactly
    * `k` present buckets whose contributions 2^(rmax-mj) sum to
    * `targetS` minus the absent buckets' (m-k)·2^rmax. Greedy binary
    * decomposition, oversized bits split to ≤ 2^(rmax-1), then halved
    * until exactly k terms.
    */
  private def sketchFor(p: Int, targetS: Long, k: Int): Seq[(Int, Int)] = {
    val m = 1 << p; val rmax = 33 - p; val cap = 1L << (rmax - 1)
    var rem = targetS - (m - k).toLong * (1L << rmax)
    require(rem >= k && rem <= k * cap, s"target $targetS infeasible for k=$k")
    var terms = List.empty[Long]
    while (rem > 0) {
      val b = math.min(cap, java.lang.Long.highestOneBit(rem))
      terms ::= b; rem -= b
    }
    while (terms.length < k) {
      val sorted = terms.sortBy(-_)
      require(sorted.head > 1, "cannot split a 2^0 term")
      terms = (sorted.head / 2) :: (sorted.head / 2) :: sorted.tail
    }
    require(terms.length == k && terms.sum + (m - k).toLong * (1L << rmax) == targetS)
    terms.zipWithIndex.map { case (c, i) =>
      (i, rmax - java.lang.Long.numberOfTrailingZeros(c))
    }
  }

  private def estimateOf(p: Int, rows: Seq[(Int, Int)]): Long = {
    val df = rows.toDF("hll_bucket", "mj")
      .withColumn("w_start", org.apache.spark.sql.functions.lit(t("2024-01-01 00:00:00")))
      .withColumn("event_type", org.apache.spark.sql.functions.lit("click"))
    EventStreams.distinctFromSketch(df, p)
      .collect().head.getLong(2)
  }

  test("st10 boundary: raw == 5m/2 exactly still takes the linear-" +
       "counting branch (the <= edge), raw == 5m/2 + 1 does not") {
    val p = 4; val m = 1 << p
    val num = graft.operators.Sketches.hllNumerator(p)
    // s aligned down to a 2^16 grid keeps the bit count decomposable
    // into 15 register terms; the (num/(r+1), num/r] interval is ~2^25
    // wide at r = 40, so the alignment never leaves it.
    def sFor(r: Int): Long = {
      val s = (num / r).toLong >> 16 << 16
      assert((num / s).toLong == r, s"engineered s misses raw=$r")
      s
    }
    val thr = 5 * m / 2                                 // 40
    val atEdge = estimateOf(p, sketchFor(p, sFor(thr), k = m - 1))
    val lcTable = EventStreams.hllLinearCountTable(p)
    assert(atEdge === lcTable(0),
      s"raw == 5m/2 with v=1 must linear-count to ${lcTable(0)}")
    val aboveEdge = estimateOf(p, sketchFor(p, sFor(thr + 1), k = m - 1))
    assert(aboveEdge === (thr + 1).toLong,
      "raw just above 5m/2 must use the raw harmonic estimate")
  }

  test("st10 boundary: v == 0 (every register hit) never linear-counts, " +
       "even when raw falls below 5m/2") {
    val p = 4; val m = 1 << p; val rmax = 33 - p
    // all m buckets at mj=1: S = m·2^(rmax-1), raw = floor(num/S) = 21 < 40
    val rows = (0 until m).map(b => (b, 1))
    val raw = (graft.operators.Sketches.hllNumerator(p) /
      (m.toLong << (rmax - 1))).toLong
    assert(raw < 5 * m / 2, "premise: raw must sit in the correction range")
    assert(estimateOf(p, rows) === raw,
      "with zero empty registers the linear-count lookup is undefined — " +
        "the estimate must stay raw")
  }

  test("st11 stream-static enrichment: MemoryStream joined to a static " +
       "dimension equals the batch join, and the dim side broadcasts") {
    val customer = Seq((1L, "BUILDING"), (2L, "MACHINERY"), (3L, "AUTOMOBILE"))
      .toDF("c_custkey", "c_mktsegment")
    val streamed = runStream(
      df => EventStreams.enrichedSegmentCounts(df.withWatermark("ts", "2 hours"), customer, "1 hour"),
      "st11_out")
    val batch = EventStreams.enrichedSegmentCounts(events.toDF(), customer, "1 hour")
    assert(streamed.orderBy("w_start", "c_mktsegment", "event_type").collect().toSeq ===
      batch.orderBy("w_start", "c_mktsegment", "event_type").collect().toSeq)
    // user 3 has no events: enrichment is inner — no phantom segments
    assert(!batch.select("c_mktsegment").collect().map(_.getString(0))
      .contains("AUTOMOBILE"))
    val plan = batch.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"),
      s"dimension side must broadcast — the stream never shuffles for the join:\n$plan")
  }

  test("st13 stateful funnel: stream across micro-batches equals batch, " +
       "equals the a55 window formulation, and ordering edges hold") {
    implicit val ctx = spark.sqlContext
    val evs = Seq(
      // user 1 reaches all 3 in order
      EvJ(1L, t("2024-01-01 00:00:00"), 1L, "signup"),
      EvJ(2L, t("2024-01-01 00:10:00"), 1L, "click"),
      EvJ(3L, t("2024-01-01 00:20:00"), 1L, "purchase"),
      // user 2: click BEFORE signup → stage 1 only
      EvJ(4L, t("2024-01-01 00:01:00"), 2L, "click"),
      EvJ(5L, t("2024-01-01 00:05:00"), 2L, "signup"),
      // user 3: never signs up → stage 0
      EvJ(6L, t("2024-01-01 00:02:00"), 3L, "purchase"),
      // user 4: purchase between signup and click → stage 2 (no
      // purchase strictly after the click)
      EvJ(7L, t("2024-01-01 00:00:00"), 4L, "signup"),
      EvJ(8L, t("2024-01-01 00:05:00"), 4L, "purchase"),
      EvJ(9L, t("2024-01-01 00:08:00"), 4L, "click"))
    val input = MemoryStream[EvJ]
    val q = EventStreams.statefulFunnel(input.toDF())
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode(OutputMode.Update())
      .start()
    try {
      // event-time-ordered delivery split across micro-batches so the
      // chain must advance from persisted state, not intra-batch rows:
      // user 1's purchase and user 4's click arrive one batch later
      input.addData(evs.sortBy(_.ts.getTime).take(6))
      q.processAllAvailable()
      input.addData(evs.sortBy(_.ts.getTime).drop(6))
      q.processAllAvailable()
    } finally q.stop()
    // Update mode re-emits a user's row as its stage advances: the
    // max-stage row per user is final
    val streamed = spark.table("funnel_out")
      .groupBy("user_id")
      .agg(org.apache.spark.sql.functions.max_by(
        org.apache.spark.sql.functions.struct($"stage", $"t1", $"t2", $"t3"),
        $"stage").as("s"))
      .select($"user_id", $"s.stage", $"s.t1", $"s.t2", $"s.t3")
      .orderBy("user_id").collect().toSeq
    val batch = EventStreams.statefulFunnel(evs.toDF())
      .toDF().orderBy("user_id").collect().toSeq
    assert(streamed === batch)
    assert(batch.map(r => r.getLong(0) -> r.getInt(1)).toMap ===
      Map(1L -> 3, 2L -> 1, 3L -> 0, 4L -> 2))
    // equality with the a55 batch window formulation on the same frame
    val wf = graft.queries.Analytics.funnelTimes(
        evs.toDF(), "signup", "click", "purchase")
      .orderBy("user_id").collect().toSeq
    assert(batch.map(r => (r.getLong(0), r.get(2), r.get(3), r.get(4))) ===
      wf.map(r => (r.getLong(0), r.get(1), r.get(2), r.get(3))))
  }

  test("st14 stateful EWMA: stream across micro-batches equals batch, " +
       "the α=1/2 recurrence and spike gate replay by hand") {
    implicit val ctx = spark.sqlContext
    // one key (user 1, click): values 4, 4, 24 (spike vs ewma 4), 2;
    // a second key interleaved to prove state isolation
    val evs = Seq(
      EvV(1L, t("2024-01-01 00:00:00"), 1L, "click", 4.0),
      EvV(2L, t("2024-01-01 00:10:00"), 1L, "click", 4.0),
      EvV(3L, t("2024-01-01 00:15:00"), 2L, "click", 100.0),
      EvV(4L, t("2024-01-01 00:20:00"), 1L, "click", 24.0),
      EvV(5L, t("2024-01-01 00:30:00"), 1L, "click", 2.0))
    val input = MemoryStream[EvV]
    val q = EventStreams.statefulEwma(input.toDF())
      .writeStream.format("memory").queryName("ewma_out")
      .outputMode(OutputMode.Update())
      .start()
    try {
      input.addData(evs.take(3))   // event-time order, split mid-key
      q.processAllAvailable()
      input.addData(evs.drop(3))   // 24-spike must read CROSS-batch state
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("ewma_out")
      .orderBy("user_id", "event_type", "event_id").collect().toSeq
    val batch = EventStreams.statefulEwma(evs.toDF())
      .toDF().orderBy("user_id", "event_type", "event_id").collect().toSeq
    assert(streamed === batch)
    // hand replay for user 1: ewma 4 → (4+4)/2=4 → (4+24)/2=14 → (14+2)/2=8
    val u1 = batch.filter(_.getLong(0) == 1L)
    assert(u1.map(_.getDouble(4)).toSeq === Seq(4.0, 4.0, 14.0, 8.0))
    // spikes: first event never (no history); 24 > 2·4 spikes; 2 < 2·14 not
    assert(u1.map(_.getBoolean(5)).toSeq === Seq(false, false, true, false))
    // user 2's lone event: own state, no spike, ewma = value
    val u2 = batch.filter(_.getLong(0) == 2L)
    assert(u2.map(r => (r.getDouble(4), r.getBoolean(5))).toSeq ===
      Seq((100.0, false)))
  }

  test("st14 EWMA fold order honors sub-millisecond event time " +
       "(microseconds beat event_id — ADVICE r8 regression)") {
    // Same millisecond, event_id order OPPOSITE to microsecond order:
    // Timestamp.getTime truncates to ms, so a (getTime, event_id) sort
    // key would fold id 1 first and erase the spike; the oracle's
    // ORDER BY ts, event_id folds id 10 first (ewma 4 → spike on 24).
    val evs = Seq(
      EvV(10L, Timestamp.valueOf("2024-01-01 00:00:00.000100"), 1L, "click", 4.0),
      EvV(1L, Timestamp.valueOf("2024-01-01 00:00:00.000900"), 1L, "click", 24.0))
    val out = EventStreams.statefulEwma(evs.toDF()).toDF().collect()
    val byId = out.map(r => r.getLong(2) -> ((r.getDouble(4), r.getBoolean(5)))).toMap
    assert(byId(10L) === ((4.0, false)))
    assert(byId(1L) === ((14.0, true)), "24 must spike against pre-event ewma 4")
  }

  test("st15 stateful cohorts: stream across micro-batches equals batch, " +
       "rollup equals the a57 window formulation") {
    implicit val ctx = spark.sqlContext
    // user 1: weeks 0, 1, 3 (split across batches — offset 3 must read
    // the cohort week from CROSS-batch state); user 2: one week
    val evs = Seq(
      Ev(t("2024-01-01 10:00:00"), 1L, "click", 1.0),
      Ev(t("2024-01-03 10:00:00"), 1L, "click", 1.0),   // same week — no new row
      Ev(t("2024-01-08 10:00:00"), 1L, "click", 1.0),
      Ev(t("2024-01-09 10:00:00"), 2L, "view", 1.0),
      Ev(t("2024-01-22 10:00:00"), 1L, "click", 1.0))
    val input = MemoryStream[Ev]
    val q = EventStreams.statefulCohorts(input.toDF())
      .writeStream.format("memory").queryName("cohort_out")
      .outputMode(OutputMode.Update())
      .start()
    try {
      input.addData(evs.take(3))
      q.processAllAvailable()
      input.addData(evs.drop(3))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("cohort_out")
      .orderBy("user_id", "week_offset").collect().toSeq
    val batch = EventStreams.statefulCohorts(evs.toDF())
      .toDF().orderBy("user_id", "week_offset").collect().toSeq
    // each (user, offset) row is emitted exactly once, in both regimes
    assert(streamed === batch)
    assert(batch.map(r => (r.getLong(0), r.getInt(2))).toSeq ===
      Seq((1L, 0), (1L, 1), (1L, 3), (2L, 0)))
    // week stamps align on Monday (2024-01-01 is a Monday)
    assert(batch.head.getTimestamp(1) === t("2024-01-01 00:00:00"))
  }

  test("st15 query rollup equals the a57 retention matrix on the fixture") {
    val sf = "/root/testdata/sf0.001"
    val st15 = graft.queries.StreamingQ.queries("st15_stream_cohorts")(spark, sf)
      .collect().map(r => (r.getTimestamp(0), r.getInt(1)) -> r.getLong(2)).toMap
    val a57 = graft.queries.Analytics.queries("a57_retention_cohorts")(spark, sf)
      .collect().map(r => (r.getTimestamp(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(st15 === a57)
  }

  test("st17 streaming KMV: stream across micro-batches equals batch " +
       "equals the exact count below k; estimates are monotone") {
    implicit val ctx = spark.sqlContext
    // 3 event types, distinct users per type: 5, 3, 1 — all below k,
    // so estimates are EXACT and cross-regime equality is strict
    val evs = (1L to 5L).map(u => Ev(t("2024-01-01 10:00:00"), u, "click", 1.0)) ++
      Seq(1L, 2L, 3L, 1L).map(u => Ev(t("2024-01-01 11:00:00"), u, "view", 1.0)) ++
      Seq(Ev(t("2024-01-01 12:00:00"), 9L, "purchase", 1.0))
    val input = MemoryStream[Ev]
    val q = EventStreams.statefulKmvDistinct(input.toDF())
      .writeStream.format("memory").queryName("kmv_out")
      .outputMode(OutputMode.Update())
      .start()
    try {
      input.addData(evs.take(4))
      q.processAllAvailable()
      input.addData(evs.drop(4))
      q.processAllAvailable()
    } finally q.stop()
    // latest emission per key (estimates are monotone, so max works)
    val streamed = spark.table("kmv_out")
      .groupBy("event_type")
      .agg(org.apache.spark.sql.functions.max("n_events").as("n_events"),
        org.apache.spark.sql.functions.max("est_users").as("est_users"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val batch = EventStreams.statefulKmvDistinct(evs.toDF())
      .collect().map(e => e.event_type -> ((e.n_events, e.est_users))).toMap
    assert(streamed === batch)
    assert(batch === Map(
      "click" -> ((5L, 5L)), "view" -> ((4L, 3L)), "purchase" -> ((1L, 1L))))
  }

  test("st17 KMV estimator matches the KmvDistinctAgg batch aggregate " +
       "above k (same bottom-k fold, same finish arithmetic)") {
    import org.apache.spark.sql.functions.{col, lit}
    // 2000 distinct users on one key — well above k=256
    val evs = (1L to 2000L).map(u => Ev(t("2024-01-01 10:00:00"), u, "click", 1.0))
    val viaStream = EventStreams.statefulKmvDistinct(evs.toDF())
      .collect().head.est_users
    val viaAgg = evs.toDF()
      .agg(graft.operators.Sketches.kmvDistinct(col("user_id")).as("est"))
      .head.getLong(0)
    assert(viaStream === viaAgg)
    assert(math.abs(viaStream - 2000L).toDouble / 2000 < 0.25)
  }

  test("st18 throttle: stream (in-order, no eviction horizon crossed) " +
       "equals batch; first-per-key always keeps; gap suppresses") {
    implicit val ctx = spark.sqlContext
    val evs = Seq(
      EvJ(1L, t("2024-01-01 10:00:00"), 1L, "alert"),
      EvJ(2L, t("2024-01-01 10:30:00"), 1L, "alert"),   // within 1h — dropped
      EvJ(3L, t("2024-01-01 11:00:00"), 1L, "alert"),   // exactly 1h — dropped (strict >)
      EvJ(4L, t("2024-01-01 11:30:00"), 1L, "alert"),   // 90min after kept 1 — kept
      EvJ(5L, t("2024-01-01 10:15:00"), 2L, "alert"))   // other key — kept
    val input = MemoryStream[EvJ]
    val q = EventStreams.statefulThrottle(input.toDF())
      .toDF()
      .writeStream.format("memory").queryName("thr_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(evs.take(3))
      q.processAllAvailable()
      input.addData(evs.drop(3))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("thr_out")
      .orderBy("event_id").collect().map(_.getLong(0)).toSeq
    val batch = EventStreams.statefulThrottle(evs.toDF())
      .toDF().orderBy("event_id").collect().map(_.getLong(0)).toSeq
    assert(streamed === batch)
    assert(batch === Seq(1L, 4L, 5L))
  }

  test("st18 throttle: EventTimeTimeout EVICTS a key's state once the " +
       "watermark passes last_kept + gap — a later arrival starts fresh") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[EvJ]
    val q = EventStreams.statefulThrottle(input.toDF())
      .toDF()
      .writeStream.format("memory").queryName("thr_evict")
      .outputMode(OutputMode.Append())
      .start()
    def stateCounts: Seq[Long] = q.recentProgress.toSeq
      .filter(_.stateOperators.nonEmpty)
      .map(_.stateOperators.head.numRowsTotal)
    try {
      // b1: key 1 keeps at 10:00; key 2's 13:30 event pushes the
      // watermark (1h delay) to 12:30 — past key 1's horizon (11:00).
      // processAllAvailable runs the data batch (2 state rows) plus the
      // watermark-advancing follow-up trigger, whose timeout pass
      // REMOVES key 1's expired row (a key with data never times out).
      input.addData(Seq(
        EvJ(1L, t("2024-01-01 10:00:00"), 1L, "alert"),
        EvJ(2L, t("2024-01-01 13:30:00"), 2L, "alert")))
      q.processAllAvailable()
      assert(stateCounts.max === 2L, "both keys held state in the data batch")
      assert(stateCounts.last === 1L,
        "key 1's state row must be evicted once the watermark passes " +
          "last_kept + gap")
      // b2: key 2's 13:40 event is inside its gap — suppressed, and the
      // surviving state stays at one row
      input.addData(Seq(EvJ(3L, t("2024-01-01 13:40:00"), 2L, "alert")))
      q.processAllAvailable()
      assert(stateCounts.last === 1L)
    } finally q.stop()
    val kept = spark.table("thr_evict")
      .orderBy("event_id").collect().map(_.getLong(0)).toSeq
    assert(kept === Seq(1L, 2L))
  }

  test("st13 funnel first-wins honors sub-millisecond event time") {
    // Two signups in the same millisecond (ids reversed vs micros), then
    // a click between them in microseconds: t1 must be the .000100
    // signup so the .000500 click is strictly-after → stage 2. A
    // ms-truncated sort could elect the .000900 signup as t1 (stage 1).
    val evs = Seq(
      EvJ(5L, Timestamp.valueOf("2024-01-01 00:00:00.000900"), 1L, "signup"),
      EvJ(6L, Timestamp.valueOf("2024-01-01 00:00:00.000100"), 1L, "signup"),
      EvJ(7L, Timestamp.valueOf("2024-01-01 00:00:00.000500"), 1L, "click"))
    val out = EventStreams.statefulFunnel(evs.toDF()).toDF().collect()
    assert(out.length === 1)
    assert(out(0).getInt(1) === 2, "click strictly after the earlier signup")
    assert(out(0).getTimestamp(2) ===
      Timestamp.valueOf("2024-01-01 00:00:00.000100"))
  }

  test("st19 window top-k: MapState accumulates per window across " +
       "micro-batches; final leaderboard equals the batch rank") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Ev]
    val evs = Seq(
      Ev(t("2024-01-01 00:05:00"), 1L, "click", 1.0),
      Ev(t("2024-01-01 00:10:00"), 1L, "click", 1.0),
      Ev(t("2024-01-01 00:20:00"), 2L, "view", 1.0),
      Ev(t("2024-01-01 00:25:00"), 3L, "view", 1.0),
      Ev(t("2024-01-01 00:40:00"), 2L, "click", 1.0),
      Ev(t("2024-01-01 00:50:00"), 2L, "view", 1.0),
      Ev(t("2024-01-01 01:10:00"), 3L, "click", 1.0))
    val q = EventStreams.statefulWindowTopk(input.toDF(), k = 2)
      .writeStream.format("memory").queryName("topk_out")
      .outputMode(OutputMode.Update())
      .start()
    try {
      input.addData(evs.take(4))
      q.processAllAvailable()
      input.addData(evs.drop(4))
      q.processAllAvailable()
    } finally q.stop()
    // Update mode re-emits a window's leaderboard as it changes; the
    // LAST emission per (window, rank) is the final board. user 2 ends
    // at 3 events (> user 1's 2) only after batch 2 — state must carry.
    val finalRows = spark.table("topk_out")
      .groupBy("w_start", "rank")
      .agg(org.apache.spark.sql.functions.max_by(
        org.apache.spark.sql.functions.struct($"user_id", $"n_events"),
        $"n_events").as("s"))
      .select($"w_start", $"rank", $"s.user_id", $"s.n_events")
      .orderBy("w_start", "rank").collect().toSeq
    val batch = EventStreams.statefulWindowTopk(evs.toDF(), k = 2)
      .toDF().orderBy("w_start", "rank").collect().toSeq
    assert(finalRows === batch)
    assert(batch.map(r => (r.getInt(1), r.getLong(2), r.getLong(3))).take(2) ===
      Seq((1, 2L, 3L), (2, 1L, 2L)), s"hour-0 board wrong: $batch")
  }

  test("st13 funnel breaks exact-timestamp ties on event_id (the " +
       "statefulEwma/st18 discipline, oracle ORDER BY ts, event_id)") {
    // Different event types at IDENTICAL timestamps, fed in scrambled id
    // order: the (ms, nanos, event_id) sort must bind stages in the
    // oracle's order. Same-ts events can never chain (strictly-after
    // conditions), so the click twinned with the signup and the purchase
    // twinned with the click must both be skipped regardless of
    // intra-batch arrival order.
    val evs = Seq(
      EvJ(13L, Timestamp.valueOf("2024-01-01 00:00:00.000200"), 1L, "purchase"),
      EvJ(10L, Timestamp.valueOf("2024-01-01 00:00:00.000100"), 1L, "signup"),
      EvJ(14L, Timestamp.valueOf("2024-01-01 00:00:00.000300"), 1L, "purchase"),
      EvJ(11L, Timestamp.valueOf("2024-01-01 00:00:00.000100"), 1L, "click"),
      EvJ(12L, Timestamp.valueOf("2024-01-01 00:00:00.000200"), 1L, "click"))
    val out = EventStreams.statefulFunnel(evs.toDF()).toDF().collect()
    assert(out.length === 1)
    assert(out(0).getInt(1) === 3)
    assert(out(0).getTimestamp(2) ===
      Timestamp.valueOf("2024-01-01 00:00:00.000100"))
    assert(out(0).getTimestamp(3) ===
      Timestamp.valueOf("2024-01-01 00:00:00.000200"))
    assert(out(0).getTimestamp(4) ===
      Timestamp.valueOf("2024-01-01 00:00:00.000300"))
    // equality with the a55 batch window formulation (ORDER BY ts, id)
    val wf = graft.queries.Analytics.funnelTimes(
        evs.toDF(), "signup", "click", "purchase").collect()
    assert(out(0).getTimestamp(2) === wf(0).getTimestamp(1))
    assert(out(0).getTimestamp(3) === wf(0).getTimestamp(2))
    assert(out(0).getTimestamp(4) === wf(0).getTimestamp(3))
  }

  test("st21 SCD run-close: a run spanning micro-batches closes once " +
       "with cross-batch from/count; stream equals batch; open runs " +
       "never emit") {
    implicit val ctx = spark.sqlContext
    val evs = Seq(
      EvJ(1L, t("2024-01-01 00:00:00"), 1L, "A"),
      EvJ(2L, t("2024-01-01 00:05:00"), 1L, "A"),
      EvJ(3L, t("2024-01-01 00:10:00"), 1L, "B"),
      EvJ(4L, t("2024-01-01 00:15:00"), 1L, "B"),
      EvJ(5L, t("2024-01-01 00:20:00"), 1L, "C"),
      EvJ(6L, t("2024-01-01 00:01:00"), 2L, "X"),
      EvJ(7L, t("2024-01-01 00:30:00"), 2L, "X"))
    val input = MemoryStream[EvJ]
    val q = EventStreams.statefulScdRuns(input.toDF())
      .writeStream.format("memory").queryName("scd_out")
      .outputMode(OutputMode.Update())
      .start()
    try {
      input.addData(evs.take(3)) // run A closes; run B OPEN across batches
      q.processAllAvailable()
      input.addData(evs.drop(3)) // B's count must include the batch-1 row
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("scd_out")
      .orderBy("user_id", "version")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getTimestamp(3), r.getTimestamp(4), r.getLong(5))).toSeq
    assert(streamed === Seq(
      (1L, 1L, "A", t("2024-01-01 00:00:00"), t("2024-01-01 00:10:00"), 2L),
      (1L, 2L, "B", t("2024-01-01 00:10:00"), t("2024-01-01 00:20:00"), 2L)))
    // user 1's open C run and user 2's only run never emit
    val batch = EventStreams.statefulScdRuns(evs.toDF())
      .toDF().orderBy("user_id", "version")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getTimestamp(3), r.getTimestamp(4), r.getLong(5))).toSeq
    assert(batch === streamed)
  }

  test("st21 same-timestamp tie binds in event_id order (the st14/st18 " +
       "discipline, matching ORDER BY ts, event_id)") {
    // id 11 (type P) and id 12 (type Q) share the exact timestamp: the
    // fold must see P first, so the closed run is P with valid_to at
    // the tie instant — not Q-first
    val evs = Seq(
      EvJ(12L, t("2024-01-01 00:00:00"), 1L, "Q"),
      EvJ(11L, t("2024-01-01 00:00:00"), 1L, "P"),
      EvJ(13L, t("2024-01-01 00:05:00"), 1L, "R"))
    val out = EventStreams.statefulScdRuns(evs.toDF())
      .toDF().orderBy("version")
      .collect().map(r => (r.getLong(1), r.getString(2))).toSeq
    assert(out === Seq((1L, "P"), (2L, "Q")))
  }

  test("st23 stateful transitions: the last-type state chains a " +
       "transition ACROSS micro-batches, stream ≡ batch, and " +
       "same-timestamp ties bind in event_id order") {
    implicit val ctx = spark.sqlContext
    val evs = Seq(
      // user 1, batch 1: click → view (intra-batch); ids 2,1 share the
      // timestamp so the pair order must follow event_id (A first)
      EvJ(2L, t("2024-01-01 00:00:00"), 7L, "B"),
      EvJ(1L, t("2024-01-01 00:00:00"), 7L, "A"),
      EvJ(3L, t("2024-01-01 00:05:00"), 1L, "click"),
      EvJ(4L, t("2024-01-01 00:10:00"), 1L, "view"),
      // batch 2: user 1's first event here must pair with the STORED
      // batch-1 last type (view → purchase), not start fresh
      EvJ(5L, t("2024-01-01 00:20:00"), 1L, "purchase"),
      EvJ(6L, t("2024-01-01 00:25:00"), 7L, "C"))
    val input = MemoryStream[EvJ]
    val q = EventStreams.statefulTransitions(input.toDF())
      .writeStream.format("memory").queryName("trans_out")
      .outputMode(OutputMode.Update())
      .start()
    try {
      input.addData(evs.take(4))
      q.processAllAvailable()
      input.addData(evs.drop(4))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("trans_out")
      .orderBy("user_id", "from_type", "to_type")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq
    assert(streamed === Seq(
      (1L, "click", "view"), (1L, "view", "purchase"),
      (7L, "A", "B"), (7L, "B", "C")))
    val batch = EventStreams.statefulTransitions(evs.toDF())
      .toDF().orderBy("user_id", "from_type", "to_type")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq
    assert(batch === streamed)
  }

  test("st25 stateful anomaly: the trailing-8 ring chains ACROSS " +
       "micro-batches, a constant window flags any deviation and no " +
       "zero deviation, and stream ≡ batch") {
    implicit val ctx = spark.sqlContext
    def e(id: Long, sec: Int, v: Double) =
      EvV(id, t(f"2024-01-01 00:00:$sec%02d"), 1L, "x", v)
    // 8 constant fills, then one zero-deviation probe and one spike;
    // the batch split (6 | 4) puts the probe's window half in state.
    val evs = (1 to 8).map(i => e(i.toLong, i, 10.0)) ++
      Seq(e(9L, 9, 10.0), e(10L, 10, 500.0))
    val input = MemoryStream[EvV]
    val q = EventStreams.statefulAnomaly(input.toDF())
      .writeStream.format("memory").queryName("anom_out")
      .outputMode(OutputMode.Update())
      .start()
    try {
      input.addData(evs.take(6))
      q.processAllAvailable()
      input.addData(evs.drop(6))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("anom_out").orderBy("event_id")
      .collect().map(r => (r.getLong(1), r.getLong(3))).toSeq
    assert(streamed === Seq((9L, 0L), (10L, 1L)))
    val batch = EventStreams.statefulAnomaly(evs.toDF())
      .toDF().orderBy("event_id")
      .collect().map(r => (r.getLong(1), r.getLong(3))).toSeq
    assert(batch === streamed)
  }

  test("st26 CMS grid: additive counters make stream state after any " +
       "micro-batch split EQUAL the batch grid, and the inner-product " +
       "readout equals cmsJoinSize's estimate") {
    implicit val ctx = spark.sqlContext
    val rows = (1 to 10).flatMap { u =>
      Seq.fill(u)(TgRow(u.toLong, 0L)) ++ Seq.fill(11 - u)(TgRow(u.toLong, 1L))
    }
    val input = MemoryStream[TgRow]
    val q = EventStreams.statefulCmsGrid(input.toDF(), "user_id", "side")
      .writeStream.format("memory").queryName("cms_out")
      .outputMode(OutputMode.Update())
      .start()
    try {
      input.addData(rows.take(40))
      q.processAllAvailable()
      input.addData(rows.drop(40))
      q.processAllAvailable()
    } finally q.stop()
    // latest emission per cell = the final counters (counts are
    // monotone, so max == last)
    val streamed = spark.table("cms_out")
      .groupBy("r", "pos")
      .agg(org.apache.spark.sql.functions.max("ca").as("ca"),
        org.apache.spark.sql.functions.max("cb").as("cb"))
      .orderBy("r", "pos")
      .collect().map(_.toSeq).toSeq
    val batch = EventStreams.statefulCmsGrid(rows.toDF(), "user_id", "side")
      .toDF().orderBy("r", "pos").collect().map(_.toSeq).toSeq
    assert(streamed === batch)
    // readout ≡ the batch estimator
    val est = spark.table("cms_out")
      .groupBy("r", "pos")
      .agg(org.apache.spark.sql.functions.max("ca").as("ca"),
        org.apache.spark.sql.functions.max("cb").as("cb"))
      .groupBy("r")
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.col("ca") *
          org.apache.spark.sql.functions.col("cb")).as("est_r"))
      .agg(org.apache.spark.sql.functions.min("est_r")).head().getLong(0)
    val direct = graft.operators.Sketches
      .cmsJoinSize(rows.toDF(), "user_id", "side").head().getLong(2)
    assert(est === direct)
  }

  test("st28 stateful session assignment across micro-batches equals " +
       "the a83 window formulation (assignment AND daily rollup)") {
    implicit val ctx = spark.sqlContext
    // 6 h gap (Analytics.SessionGapUs); craft boundary cases:
    //  - exactly == gap stays in-session (<= rule), gap + 1 µs opens new
    //  - same-µs tie broken by event_id (the st14 tie discipline)
    //  - purchase flag carried through to n_purchase_sessions
    //  - a bounce (1-event) session on its own day
    val evs = Seq(
      EvJ(1L, t("2024-01-01 00:00:00"), 1L, "click"),
      EvJ(3L, t("2024-01-01 06:00:00"), 1L, "purchase"), // == gap → same
      EvJ(2L, t("2024-01-01 06:00:00"), 1L, "view"),     // µs tie, id order
      EvJ(4L, t("2024-01-02 00:05:00"), 2L, "view"),     // bounce, day 2
      // micro-batch 2 (event-time-ordered per key):
      EvJ(5L, t("2024-01-01 12:00:00.000001"), 1L, "click"), // gap+1µs → new
      EvJ(6L, t("2024-01-01 13:00:00"), 1L, "click"),
      EvJ(7L, t("2024-01-03 00:00:00"), 2L, "purchase"))
    val input = MemoryStream[EvJ]
    val q = EventStreams.statefulSessionAssign(input.toDF())
      .writeStream.format("memory").queryName("sess_assign_out")
      .outputMode(OutputMode.Update())
      .start()
    try {
      input.addData(evs.take(4))
      q.processAllAvailable()
      input.addData(evs.drop(4))
      q.processAllAvailable()
    } finally q.stop()
    // every event emits exactly once and is final — no latest-row pick
    val streamed = spark.table("sess_assign_out")
    assert(streamed.count() === evs.size.toLong)
    val batchAssign = graft.queries.Analytics.sessionAssign(evs.toDF())
    assert(streamed.orderBy("user_id", "tu", "is_purchase")
        .select("user_id", "sid", "ts", "tu", "is_purchase")
        .collect().toSeq ===
      batchAssign.orderBy("user_id", "tu", "is_purchase").collect().toSeq)
    // the daily rollup shared with a83 agrees on both inputs
    val fromStream = graft.queries.Analytics
      .sessionDailyStats(streamed.toDF()).collect().toSeq
    val fromBatch = graft.queries.Analytics
      .sessionDailyStats(batchAssign).collect().toSeq
    assert(fromStream === fromBatch)
    // user 1: session 1 = events 1,3,2 (purchase), session 2 = 5,6;
    // user 2: two bounces, one purchase — check the day-2 row directly
    val byDay = fromStream.map(r => r.getDate(0).toString -> r).toMap
    assert(byDay("2024-01-01").getLong(1) === 2L) // n_sessions
    assert(byDay("2024-01-01").getLong(5) === 1L) // n_purchase_sessions
    assert(byDay("2024-01-02").getLong(2) === 1L) // n_bounce
    assert(byDay("2024-01-03").getLong(2) === 1L)
  }

  test("st28 cross-batch in-gap straggler joins the open session " +
       "without regressing its anchor") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[EvJ]
    val q = EventStreams.statefulSessionAssign(input.toDF())
      .writeStream.format("memory").queryName("sess_assign_late_out")
      .outputMode(OutputMode.Update())
      .start()
    try {
      input.addData(Seq(
        EvJ(1L, t("2024-01-01 00:00:00"), 1L, "click"),
        EvJ(2L, t("2024-01-01 05:00:00"), 1L, "click")))
      q.processAllAvailable()
      // straggler OLDER than the anchor but inside the gap: same
      // session; anchor stays 05:00 so the next event 6 h after the
      // anchor still extends the session
      input.addData(Seq(EvJ(3L, t("2024-01-01 03:00:00"), 1L, "click")))
      q.processAllAvailable()
      input.addData(Seq(EvJ(4L, t("2024-01-01 11:00:00"), 1L, "click")))
      q.processAllAvailable()
    } finally q.stop()
    val sids = spark.table("sess_assign_late_out")
      .orderBy("tu").select("sid").collect().map(_.getLong(0)).toSeq
    assert(sids === Seq(1L, 1L, 1L, 1L))
  }

  test("st28 KNOWN DIVERGENCE: a cross-batch straggler that would " +
       "retroactively bridge two closed sessions does NOT merge them") {
    // Pins the documented stream-vs-batch limitation (r14 ADVICE):
    // batch 1 sees 00:00 and 10:00 (gap 6 h → two sessions); a batch-2
    // straggler at 05:00 sits within the gap of BOTH, so the a83
    // window formulation over full history merges everything into ONE
    // session, while the stream — whose state cannot reopen a closed
    // session — assigns the straggler to the OPEN session (sid 2).
    // Emitted rows are final (Update mode), so no re-assignment of the
    // 00:00 row is possible. This is the event-time-ordered
    // precondition's failure mode, certified here as best-effort
    // straggler handling, not stream ≡ batch.
    implicit val ctx = spark.sqlContext
    val evs = Seq(
      EvJ(1L, t("2024-01-01 00:00:00"), 1L, "click"),
      EvJ(2L, t("2024-01-01 10:00:00"), 1L, "click"),
      EvJ(3L, t("2024-01-01 05:00:00"), 1L, "click"))
    val input = MemoryStream[EvJ]
    val q = EventStreams.statefulSessionAssign(input.toDF())
      .writeStream.format("memory").queryName("sess_assign_div_out")
      .outputMode(OutputMode.Update())
      .start()
    try {
      input.addData(evs.take(2))
      q.processAllAvailable()
      input.addData(evs.drop(2)) // the bridging straggler
      q.processAllAvailable()
    } finally q.stop()
    val streamSids = spark.table("sess_assign_div_out")
      .orderBy("tu").select("sid").collect().map(_.getLong(0)).toSeq
    assert(streamSids === Seq(1L, 2L, 2L)) // straggler joins the OPEN session
    val batchSids = graft.queries.Analytics.sessionAssign(evs.toDF())
      .orderBy("tu").select("sid").collect().map(_.getLong(0)).toSeq
    assert(batchSids === Seq(1L, 1L, 1L)) // full-history sort merges all
    assert(streamSids !== batchSids)      // the divergence, pinned
  }

  test("st29 temporal enrichment across micro-batches equals the batch " +
       "fold AND the independent AsOfJoin window formulation") {
    import org.apache.spark.sql.functions.{col, floor, lit}
    implicit val ctx = spark.sqlContext
    val evs = Seq(
      // user 1, batch 1:
      EvV(1L, t("2024-01-01 00:00:00"), 1L, "click", 0.0),    // before any purchase → null
      EvV(11L, t("2024-01-01 00:10:00"), 1L, "view", 9.9),    // non-click/purchase: ignored
      EvV(2L, t("2024-01-01 01:00:00"), 1L, "purchase", 12.345), // cents 1235
      EvV(3L, t("2024-01-01 01:00:00"), 1L, "click", 0.0),    // ts tie → matches e2 (>=)
      EvV(4L, t("2024-01-01 02:00:00"), 1L, "purchase", 10.0),
      EvV(5L, t("2024-01-01 02:00:00"), 1L, "purchase", 20.0), // equal-ts: larger eid wins
      EvV(6L, t("2024-01-01 03:00:00"), 1L, "click", 0.0),    // → e5 / 2000
      EvV(10L, t("2024-01-01 00:30:00"), 2L, "click", 0.0),   // user 2 never purchases
      // user 1, batch 2 (event-time-ordered per key):
      EvV(7L, t("2024-01-01 04:00:00"), 1L, "click", 0.0),    // cursor survives the batch boundary
      EvV(8L, t("2024-01-01 05:00:00"), 1L, "purchase", 7.77),
      EvV(9L, t("2024-01-01 06:00:00"), 1L, "click", 0.0))    // → e8 / 777
    val input = MemoryStream[EvV]
    val q = EventStreams.temporalEnrich(input.toDF())
      .writeStream.format("memory").queryName("tenrich_out")
      .outputMode(OutputMode.Update())
      .start()
    try {
      input.addData(evs.take(8))
      q.processAllAvailable()
      input.addData(evs.drop(8))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("tenrich_out")
    // one final row per click, none for views/purchases
    assert(streamed.count() === 6L)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("user_id", "event_id", "ts", "p_event_id", "p_cents")
        .orderBy("event_id").collect().toSeq
    val batch = EventStreams.temporalEnrich(evs.toDF()).toDF()
    assert(canon(streamed) === canon(batch))
    // independent formulation: the AsOfJoin union+window operator
    val df = evs.toDF()
    val clicks = df.filter(col("event_type") === "click")
      .select("user_id", "event_id", "ts")
    val purch = df.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
    val asof = graft.operators.AsOfJoin.asofBackward(clicks, purch,
      "user_id", "ts", "ts",
      Map("event_id" -> "p_event_id", "cents" -> "p_cents"),
      tieBreak = Some("event_id"))
    assert(canon(streamed) === canon(asof))
    // spot-check the crafted semantics directly
    val byId = canon(streamed).map(r => r.getLong(1) -> r).toMap
    assert(byId(1L).isNullAt(3) && byId(1L).isNullAt(4))
    assert(byId(3L).getLong(3) === 2L && byId(3L).getLong(4) === 1235L)
    assert(byId(6L).getLong(3) === 5L && byId(6L).getLong(4) === 2000L)
    assert(byId(7L).getLong(3) === 5L) // state crossed the batch boundary
    assert(byId(9L).getLong(3) === 8L && byId(9L).getLong(4) === 777L)
    assert(byId(10L).isNullAt(3))
  }

  test("st29 monotone guard: a cross-batch purchase straggler behind " +
       "the cursor is dropped; a straggler CLICK reads the newer state " +
       "(the documented best-effort divergence)") {
    import org.apache.spark.sql.functions.col
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[EvV]
    val q = EventStreams.temporalEnrich(input.toDF())
      .writeStream.format("memory").queryName("tenrich_late_out")
      .outputMode(OutputMode.Update())
      .start()
    try {
      input.addData(Seq(
        EvV(2L, t("2024-01-01 05:00:00"), 1L, "purchase", 5.0)))
      q.processAllAvailable()
      // purchase straggler OLDER than the cursor: dropped (it can
      // never be "latest" for any future click) — the following click
      // still reads e2
      input.addData(Seq(
        EvV(1L, t("2024-01-01 01:00:00"), 1L, "purchase", 1.0),
        EvV(3L, t("2024-01-01 06:00:00"), 1L, "click", 0.0)))
      q.processAllAvailable()
      // click straggler BEFORE the cursor's time: the stream reads the
      // newer state (batch would give e1's 100 cents) — best-effort
      input.addData(Seq(
        EvV(4L, t("2024-01-01 02:00:00"), 1L, "click", 0.0)))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("tenrich_late_out")
      .orderBy("event_id").collect()
    assert(rows.map(_.getLong(1)).toSeq === Seq(3L, 4L))
    assert(rows(0).getLong(3) === 2L && rows(0).getLong(4) === 500L)
    // the divergence, pinned: stream says e2/500; the full-history
    // batch fold would say e1/100 for the 02:00 click
    assert(rows(1).getLong(3) === 2L)
    val batch = EventStreams.temporalEnrich(Seq(
      EvV(2L, t("2024-01-01 05:00:00"), 1L, "purchase", 5.0),
      EvV(1L, t("2024-01-01 01:00:00"), 1L, "purchase", 1.0),
      EvV(3L, t("2024-01-01 06:00:00"), 1L, "click", 0.0),
      EvV(4L, t("2024-01-01 02:00:00"), 1L, "click", 0.0)).toDF()).toDF()
    val b4 = batch.filter(col("event_id") === 4L).collect().head
    assert(b4.getLong(3) === 1L && b4.getLong(4) === 100L)
  }

  test("st30 windowed first-event dedup: emits only on first sight or " +
       "improvement; the latest emission per key equals the batch fold; " +
       "same-ts ties break by event_id") {
    import org.apache.spark.sql.functions.{col, min, struct}
    implicit val ctx = spark.sqlContext
    val evs = Seq(
      // batch 1 — window 00:00: e5 emits, e6 is worse (no emit);
      // window 00:10: e20 and e21 tie on ts → e20 wins within the batch
      EvJ(5L, t("2024-01-01 00:02:00"), 1L, "click"),
      EvJ(6L, t("2024-01-01 00:03:00"), 1L, "click"),
      EvJ(20L, t("2024-01-01 00:10:00"), 1L, "click"),
      EvJ(21L, t("2024-01-01 00:10:00"), 1L, "click"),
      // batch 2 — e3 IMPROVES window 00:00 (re-emit), e7 does not,
      // e9 opens window 00:05
      EvJ(3L, t("2024-01-01 00:01:00"), 1L, "click"),
      EvJ(7L, t("2024-01-01 00:02:30"), 1L, "click"),
      EvJ(9L, t("2024-01-01 00:07:00"), 1L, "click"))
    val input = MemoryStream[EvJ]
    val q = EventStreams.statefulWindowFirst(input.toDF())
      .writeStream.format("memory").queryName("wfirst_out")
      .outputMode(OutputMode.Update())
      .start()
    try {
      input.addData(evs.take(4))
      q.processAllAvailable()
      input.addData(evs.drop(4))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("wfirst_out")
    // four emissions: e5, e20 (batch 1), e3 (improvement), e9 (new key)
    assert(streamed.count() === 4L)
    assert(streamed.select("event_id").collect().map(_.getLong(0)).toSet
      === Set(5L, 20L, 3L, 9L))
    // the latest (= minimal) emission per key is the batch answer
    val lastPerKey = streamed
      .groupBy("user_id", "event_type", "w_start")
      .agg(min(struct(col("ts"), col("event_id"))).as("f"))
      .select(col("user_id"), col("event_type"), col("w_start"),
        col("f.ts").as("ts"), col("f.event_id").as("event_id"))
      .orderBy("w_start").collect().toSeq
    val batch = EventStreams.statefulWindowFirst(evs.toDF()).toDF()
      .orderBy("w_start").collect().toSeq
    assert(lastPerKey === batch)
    assert(batch.map(_.getLong(4)) === Seq(3L, 9L, 20L))
  }

  test("st31 gap profile across micro-batches equals the batch fold; " +
       "equal-time events contribute a zero gap; a single-event user " +
       "reports null gaps") {
    implicit val ctx = spark.sqlContext
    val evs = Seq(
      EvJ(1L, t("2024-01-01 00:00:00"), 1L, "click"),
      EvJ(2L, t("2024-01-01 00:10:00"), 1L, "click"),
      EvJ(10L, t("2024-01-01 00:30:00"), 2L, "view"), // lone event
      // batch 2: a 300 s gap, then a same-µs tie (gap 0)
      EvJ(3L, t("2024-01-01 00:15:00"), 1L, "click"),
      EvJ(4L, t("2024-01-01 00:15:00"), 1L, "click"))
    val input = MemoryStream[EvJ]
    val q = EventStreams.statefulGapProfile(input.toDF())
      .writeStream.format("memory").queryName("gaps_out")
      .outputMode(OutputMode.Update())
      .start()
    try {
      input.addData(evs.take(3))
      q.processAllAvailable()
      input.addData(evs.drop(3))
      q.processAllAvailable()
    } finally q.stop()
    // latest emission per user (one per batch per active key)
    val rows = spark.table("gaps_out")
      .groupBy("user_id")
      .agg(org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.struct(
          org.apache.spark.sql.functions.col("n_events"),
          org.apache.spark.sql.functions.col("n_gaps"),
          org.apache.spark.sql.functions.col("min_gap_us"),
          org.apache.spark.sql.functions.col("max_gap_us"),
          org.apache.spark.sql.functions.col("sum_gap_us"))).as("f"))
      .select("user_id", "f.n_events", "f.n_gaps", "f.min_gap_us",
        "f.max_gap_us", "f.sum_gap_us")
      .orderBy("user_id").collect().toSeq
    val batch = EventStreams.statefulGapProfile(evs.toDF()).toDF()
      .orderBy("user_id").collect().toSeq
    assert(rows === batch)
    // user 1: gaps 600 s, 300 s, 0 (the tie) → min 0, max 600 s
    val u1 = batch.head
    assert((u1.getLong(1), u1.getLong(2)) === (4L, 3L))
    assert(u1.getLong(3) === 0L)
    assert(u1.getLong(4) === 600000000L)
    assert(u1.getLong(5) === 900000000L)
    // user 2: single event → null gap stats
    val u2 = batch(1)
    assert(u2.getLong(1) === 1L && u2.getLong(2) === 0L)
    assert(u2.isNullAt(3) && u2.isNullAt(4) && u2.isNullAt(5))
  }

  test("st31 KNOWN DIVERGENCE: a cross-batch straggler contributes a " +
       "NEGATIVE gap (observed arrival disorder), where the batch sort " +
       "splices it between its event-time neighbors") {
    implicit val ctx = spark.sqlContext
    val evs = Seq(
      EvJ(1L, t("2024-01-01 00:00:00"), 1L, "click"),
      EvJ(2L, t("2024-01-01 00:10:00"), 1L, "click"),
      // batch 2: 00:05 straggler — stream sees gap −300 s from the
      // 00:10 cursor; batch sorts it between 00:00 and 00:10 (gaps
      // 300 s + 300 s)
      EvJ(3L, t("2024-01-01 00:05:00"), 1L, "click"))
    val input = MemoryStream[EvJ]
    val q = EventStreams.statefulGapProfile(input.toDF())
      .writeStream.format("memory").queryName("gaps_div_out")
      .outputMode(OutputMode.Update())
      .start()
    try {
      input.addData(evs.take(2))
      q.processAllAvailable()
      input.addData(evs.drop(2))
      q.processAllAvailable()
    } finally q.stop()
    val s = spark.table("gaps_div_out")
      .orderBy(org.apache.spark.sql.functions.col("n_events").desc)
      .collect().head
    assert((s.getLong(2), s.getLong(3), s.getLong(4)) ===
      (2L, -300000000L, 600000000L)) // the disorder, measured
    val b = EventStreams.statefulGapProfile(evs.toDF()).toDF()
      .collect().head
    assert((b.getLong(2), b.getLong(3), b.getLong(4)) ===
      (2L, 300000000L, 300000000L)) // the spliced full-history fold
  }

  test("st29: a NULL-valued purchase/click row enriches as 0 cents " +
       "instead of failing at the non-nullable Long encoder (r15 " +
       "ADVICE), mirroring the oracle's coalesce") {
    import org.apache.spark.sql.functions.col
    // Option[Double] → nullable value column, which EvV cannot carry
    val evs = Seq(
      (1L, t("2024-01-01 00:00:00"), 1L, "purchase", None: Option[Double]),
      (2L, t("2024-01-01 01:00:00"), 1L, "click", Some(0.0)),
      (3L, t("2024-01-01 02:00:00"), 1L, "purchase", Some(12.34)),
      (4L, t("2024-01-01 03:00:00"), 1L, "click", None: Option[Double]))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = EventStreams.temporalEnrich(evs).toDF()
      .orderBy("event_id").collect()
    assert(out.length === 2)
    // click 2: enriched by the null-valued purchase 1 → 0 cents
    assert((out(0).getLong(1), out(0).getLong(3), out(0).getLong(4)) ===
      (2L, 1L, 0L))
    // click 4 (itself null-valued — its cents are never read):
    // enriched by purchase 3 → 1234 cents
    assert((out(1).getLong(1), out(1).getLong(3), out(1).getLong(4)) ===
      (4L, 3L, 1234L))
    assert(out.forall(!_.isNullAt(4)))
    // and the view/other-type path still ignores value entirely
    assert(EventStreams.temporalEnrich(
      Seq((9L, t("2024-01-01 00:00:00"), 1L, "view", None: Option[Double]))
        .toDF("event_id", "ts", "user_id", "event_type", "value"))
      .toDF().filter(col("event_id") === 9L).count() === 0L)
  }
}
