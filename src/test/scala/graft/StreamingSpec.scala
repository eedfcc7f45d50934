package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming._

/** Streaming twins vs batch semantics: the stateful operators run over
  * MemoryStream micro-batches and must agree with the batch catalog
  * queries on the same data (order-insensitive compare — SURVEY.md §7.4
  * item 7).
  */
class StreamingSpec extends SparkSpec {

  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ts(ms: Long) = new Timestamp(ms)

  /** Pump a far-future sentinel through twice so the watermark passes
    * every real event-time timer (watermark advances one batch behind).
    * The sentinel must REACH the watermark node — a filter on the input
    * would be pushed below it and the watermark would never advance —
    * so it rides key -999 as a VALID far-future "create" (legal for
    * every matcher's state machine; fMGWS rejects arming a timer behind
    * the watermark, which an unmatched-type sentinel would do) and
    * assertions exclude userId < 0.
    */
  private def flush[T](input: MemoryStream[StreamEvent],
      q: org.apache.spark.sql.streaming.StreamingQuery, farMs: Long): Unit = {
    input.addData(StreamEvent(-999L, -1L, "create", ts(farMs)))
    q.processAllAvailable()
    input.addData(StreamEvent(-999L, -2L, "create", ts(farMs + 3600 * 1000L)))
    q.processAllAvailable()
  }

  test("SequenceMatch streaming == batch q08 on the same events") {
    val fails = Tables.events(spark, sf)
      .filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id"),
        expr("ts_ns div 1000000").as("ms"))
      .collect()
      .map(r => StreamEvent(r.getLong(0), r.getLong(1), "fail",
        ts(r.getLong(2))))

    val input = MemoryStream[StreamEvent]
    val out = SequenceMatch.consecutiveFails(input.toDS(), 3600 * 1000L)
    val q = out.writeStream.format("memory").queryName("seq_warn")
      .outputMode("append").start()
    try {
      // two micro-batches to exercise cross-batch state
      val (a, b) = fails.splitAt(fails.length / 2)
      input.addData(a.toSeq); q.processAllAvailable()
      input.addData(b.toSeq); q.processAllAvailable()
    } finally q.stop()

    val got = spark.table("seq_warn").as[FailWarning].collect()
      .map(w => (w.userId, w.firstEvent, w.lastEvent)).toSet
    val want = SparkEntry.queries("q08_login_fail_consecutive")(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("first_event"),
        r.getAs[Long]("last_event"))).toSet
    assert(got == want)
    assert(want.nonEmpty)
  }

  /** q09 outcome parity, run under each state store. */
  private def assertOrderTimeoutParity(sinkName: String): Unit = {
    val evs = Tables.events(spark, sf)
      .filter(col("event_type").isin("signup", "purchase"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts_ns div 1000000").as("ms"))
      .collect()
      .map { r =>
        val t = if (r.getString(2) == "signup") "create" else "pay"
        StreamEvent(r.getLong(0), r.getLong(1), t, ts(r.getLong(3)))
      }

    val input = MemoryStream[StreamEvent]
    // no sentinel filter on the input: a filter ends up BELOW the
    // watermark node (predicate pushdown), so filtered sentinels would
    // advance nothing and tail-of-stream timeouts would never flush.
    // The sentinel is a valid far-future 'create' on key -999 that DOES
    // enter the matcher's state machine (arms a timer, leaves pending
    // state); whatever outcome it may emit is excluded from the
    // assertion by the userId >= 0 filter below.
    val out = OrderTimeoutMatcher.detect(
      input.toDS().withWatermark("ts", "0 seconds"), 1800 * 1000L)
    val q = out.writeStream.format("memory").queryName(sinkName)
      .outputMode("append").start()
    try {
      input.addData(evs.toSeq); q.processAllAvailable()
      flush(input, q, evs.map(_.tsMs).max + 24 * 3600 * 1000L)
    } finally q.stop()

    val got = spark.table(sinkName).as[OrderOutcome].collect()
      .filter(_.userId >= 0)
      .map(o => (o.userId, o.resultMsg)).toSet
    val want = SparkEntry.queries("q09_order_timeout")(spark, sf)
      .select("user_id", "result_msg").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    // streaming sees only signup/purchase users; batch q09 covers the same
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("OrderTimeoutMatcher streaming == batch q09 outcomes") {
    assertOrderTimeoutParity("order_out")
  }

  test("OrderTimeoutMatcher under RocksDB == batch q09 outcomes") {
    StateStoreVariants.withRocksDB(spark) {
      assertOrderTimeoutParity("order_out_rocks")
    }
  }

  private def assertOrderTimeoutGolden(sinkName: String): Unit = {
    val input = MemoryStream[StreamEvent]
    // 1-minute watermark delay: batch 2 delivers events with EARLIER
    // times than batch 1's max (the cross-batch out-of-order cases);
    // a 0s delay would drop them as late before the matcher runs.
    // Sentinels flow through unfiltered (see assertOrderTimeoutParity)
    // and are excluded from the assertion by key.
    val out = OrderTimeoutMatcher.detect(
      input.toDS().withWatermark("ts", "1 minute"), 10000L)
    val q = out.writeStream.format("memory").queryName(sinkName)
      .outputMode("append").start()
    try {
      // u1: create then (next batch) pay in time — the armed
      //     deadline must not fire later
      // u2: create, never pays — times out at create + 10s
      // u3: lone pay — "no create log" flushes at pay + 10s
      // u4: pay first batch, create second (out of order across
      //     batches, resolves against the EARLIER create)
      input.addData(
        StreamEvent(1L, 10L, "create", ts(1000L)),
        StreamEvent(2L, 20L, "create", ts(2000L)),
        StreamEvent(3L, 30L, "pay", ts(3000L)),
        StreamEvent(4L, 40L, "pay", ts(8000L)))
      q.processAllAvailable()
      input.addData(
        StreamEvent(1L, 11L, "pay", ts(5000L)),
        StreamEvent(4L, 41L, "create", ts(4000L)))
      q.processAllAvailable()
      flush(input, q, 10 * 60 * 1000L)
    } finally q.stop()
    val got = spark.table(sinkName).as[OrderOutcome].collect()
      .filter(_.userId >= 0)
      .map(o => (o.userId, o.createTsMs, o.resultMsg)).toSet
    assert(got == Set(
      (1L, 1000L, "payed successfully"),
      (2L, 2000L, "order timeout"),
      (3L, -1L, "payed but no create log"),
      (4L, 4000L, "payed successfully")))
  }

  test("OrderTimeoutMatcher: cross-batch golden scenarios, both state stores") {
    assertOrderTimeoutGolden("order_golden")
    StateStoreVariants.withRocksDB(spark) {
      assertOrderTimeoutGolden("order_golden_rocks")
    }
  }

  /** Batch 3 reaches u1 after its deadline (1000 + 10s) fell behind
    * the watermark (100000). With no-data batches off — continuous
    * arrival, where a data batch beats the no-data batch that would
    * fire the timeout — u1's data batch meets the passed deadline.
    */
  private def lateRearmOutcomes(noDataBatches: Boolean): Set[(Long, Long, String)] = {
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = spark.conf.getOption(noData)
    spark.conf.set(noData, noDataBatches.toString)
    try {
      val input = MemoryStream[StreamEvent]
      val out = OrderTimeoutMatcher.detect(
        input.toDS().withWatermark("ts", "0 seconds"), 10000L)
      val sink = s"order_late_rearm_$noDataBatches"
      val q = out.writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try {
        input.addData(StreamEvent(1L, 10L, "create", ts(1000L)),
          StreamEvent(2L, 20L, "create", ts(1000L)))
        q.processAllAvailable()
        input.addData(StreamEvent(3L, 30L, "create", ts(100000L)))
        q.processAllAvailable()
        input.addData(StreamEvent(1L, 11L, "create", ts(200000L)))
        q.processAllAvailable()
        flush(input, q, 10 * 60 * 1000L)
        assert(q.isActive && q.exception.isEmpty, s"query died: ${q.exception}")
      } finally q.stop()
      spark.table(sink).as[OrderOutcome].collect().filter(_.userId >= 0)
        .map(o => (o.userId, o.createTsMs, o.resultMsg)).toSet
    } finally prev match {
      case Some(v) => spark.conf.set(noData, v)
      case None => spark.conf.unset(noData)
    }
  }

  test("OrderTimeoutMatcher: a deadline passed before its timeout batch " +
      "times out") {
    // the query keeps running, u1's first order times out, and its
    // second create opens the next order — exactly what the run with
    // no-data batches (timeout fired first) emits
    val want = Set((1L, 1000L, "order timeout"), (2L, 1000L, "order timeout"),
      (3L, 100000L, "order timeout"), (1L, 200000L, "order timeout"))
    assert(lateRearmOutcomes(noDataBatches = false) == want)
    assert(lateRearmOutcomes(noDataBatches = true) == want)
  }

  test("TxReconcile: golden scenarios (match both orders, lone sides, overwrite)") {
    val input = MemoryStream[TxEvent]
    val out = TxReconcile.reconcile(
      input.toDS().withWatermark("ts", "0 seconds"), 5000L)
    val q = out.writeStream.format("memory").queryName("tx_out")
      .outputMode("append").start()
    try {
      input.addData(
        TxEvent("t1", 0, 10L, ts(1000)), TxEvent("t1", 1, 11L, ts(2000)), // pay→receipt
        TxEvent("t2", 1, 20L, ts(1000)), TxEvent("t2", 0, 21L, ts(2000)), // receipt→pay
        TxEvent("t3", 0, 30L, ts(1000)),                                  // lone pay
        TxEvent("t4", 1, 40L, ts(1000)))                                  // lone receipt
      q.processAllAvailable()
      input.addData(TxEvent("flush", 0, -1L, ts(10 * 60 * 1000L)))
      q.processAllAvailable()
      input.addData(TxEvent("flush2", 1, -2L, ts(20 * 60 * 1000L)))
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.table("tx_out").as[TxResult].collect()
      .map(r => (r.txKey, r.tag, r.payId, r.receiptId)).toSet
    assert(got.contains(("t1", "matched", 10L, 11L)))
    assert(got.contains(("t2", "matched", 21L, 20L)))
    assert(got.contains(("t3", "unmatched_pay", 30L, -1L)))
    assert(got.contains(("t4", "unmatched_receipt", -1L, 40L)))
  }

  /** The golden scenarios plus cross-batch cases: a key matching
    * AFTER its lone side armed a deadline (the deadline must not fire)
    * and keys whose lone side flushes at its deadline.
    */
  private def assertTxCrossBatch(sinkName: String): Unit = {
    val input = MemoryStream[TxEvent]
    // 1-minute delay so batch-2 events older than batch-1's max are
    // not dropped late (the cross-batch out-of-order cases)
    val out = TxReconcile.reconcile(
      input.toDS().withWatermark("ts", "1 minute"), 5000L)
    val q = out.writeStream.format("memory").queryName(sinkName)
      .outputMode("append").start()
    try {
      input.addData(
        TxEvent("t1", 0, 10L, ts(1000)), TxEvent("t1", 1, 11L, ts(2000)),
        TxEvent("t2", 1, 20L, ts(1000)), TxEvent("t2", 0, 21L, ts(2000)),
        TxEvent("t3", 0, 30L, ts(1000)),  // lone pay, flushes
        TxEvent("t4", 1, 40L, ts(1000)),  // lone receipt, flushes
        TxEvent("t5", 0, 50L, ts(3000)))  // pay now, receipt next batch
      q.processAllAvailable()
      input.addData(
        TxEvent("t5", 1, 51L, ts(4000)))  // cross-batch match: t5's
      q.processAllAvailable()             // armed deadline must die
      input.addData(TxEvent("flush", 0, -1L, ts(10 * 60 * 1000L)))
      q.processAllAvailable()
      input.addData(TxEvent("flush2", 1, -2L, ts(20 * 60 * 1000L)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(sinkName).as[TxResult].collect()
      .filter(r => r.txKey.startsWith("t"))
      .map(r => (r.txKey, r.tag, r.payId, r.receiptId)).toSet
    assert(got == Set(
      ("t1", "matched", 10L, 11L),
      ("t2", "matched", 21L, 20L),
      ("t3", "unmatched_pay", 30L, -1L),
      ("t4", "unmatched_receipt", -1L, 40L),
      ("t5", "matched", 50L, 51L)),
      s"reconcile diverged: $got")
  }

  test("TxReconcile: cross-batch re-match golden scenarios, both state stores") {
    assertTxCrossBatch("tx_cross")
    StateStoreVariants.withRocksDB(spark) {
      assertTxCrossBatch("tx_cross_rocks")
    }
  }

  test("streaming session_window == batch q31 sessions") {
    // microsecond-exact timestamps (batch q31 compares in integer us)
    def tsUs(us: Long) = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(us / 1000000L, (us % 1000000L) * 1000L))
    val evs = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), expr("ts_ns div 1000").as("us"))
      .collect()
      .map(r => StreamEvent(r.getLong(0), r.getLong(1), "e", tsUs(r.getLong(2))))
    val maxMs = evs.map(_.tsMs).max

    val input = MemoryStream[StreamEvent]
    val sessions = input.toDS()
      .withWatermark("ts", "0 seconds")
      .filter($"eventType" === "e")
      .groupBy($"userId", session_window($"ts", "30 minutes"))
      .count()
      .select($"userId".as("user_id"),
        unix_micros($"session_window.start").as("start_us"),
        (unix_micros($"session_window.end") -
          unix_micros($"session_window.start") -
          lit(1800L * 1000000)).as("dur_us"),
        $"count".as("n_events"))
    val q = sessions.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      // one batch: with a 0s watermark, a second batch containing any
      // event older than the first batch's max would drop it as late
      input.addData(evs.toSeq); q.processAllAvailable()
      // flush sentinels must PASS the filter: rows that are filtered out
      // before the session aggregate advance the watermark but do not
      // trigger its state eviction
      input.addData(StreamEvent(-1L, -1L, "e", ts(maxMs + 48 * 3600000L)))
      q.processAllAvailable()
      input.addData(StreamEvent(-1L, -2L, "e", ts(maxMs + 96 * 3600000L)))
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.table("sess_out").filter($"user_id" >= 0)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val want = SparkEntry.queries("q31_sessionization")(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("sess_start_us"),
        r.getAs[Long]("dur_us"), r.getAs[Long]("n_events"))).toSet
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("streaming approx UV per day == batch q25 (UvWithBloom analog)") {
    val evs = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), expr("ts_ns div 1000000").as("ms"))
      .collect()
      .map(r => StreamEvent(r.getLong(0), r.getLong(1), "e", ts(r.getLong(2))))
    val maxMs = evs.map(_.tsMs).max

    val input = MemoryStream[StreamEvent]
    val uv = input.toDS()
      .withWatermark("ts", "0 seconds")
      .groupBy(window($"ts", "1 day"))
      .agg(approx_count_distinct($"userId").as("uv_approx"))
      .select(unix_timestamp($"window.end").as("window_end"), $"uv_approx")
    val q = uv.writeStream.format("memory").queryName("uv_out")
      .outputMode("append").start()
    try {
      input.addData(evs.toSeq); q.processAllAvailable()
      input.addData(StreamEvent(-1L, -1L, "e", ts(maxMs + 72 * 3600000L)))
      q.processAllAvailable()
      input.addData(StreamEvent(-1L, -2L, "e", ts(maxMs + 144 * 3600000L)))
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.table("uv_out").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // q25's catalog output now carries (exact, bound-check); the batch
    // twin of THIS stream is the raw HLL++ aggregate
    val want = Tables.events(spark, sf)
      .groupBy(window(col("ts"), "1 day"))
      .agg(approx_count_distinct(col("user_id")).as("uv"))
      .select(unix_timestamp(col("window.end")).as("we"), col("uv"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // sentinel days exist only in streaming output; real days must agree
    want.foreach { case (w, v) =>
      assert(got.get(w).contains(v), s"day $w: got=${got.get(w)} want=$v")
    }
    assert(want.nonEmpty)
  }

  /** Chained-agg top-N parity vs batch q02, parameterized by sink name
    * so the RocksDB state-store variant can rerun it under a different
    * provider (state layout differs; results must not).
    */
  private def assertTopNStreamingParity(sinkName: String): Unit = {
    val views = Tables.events(spark, sf)
      .filter(col("event_type") === "view")
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("item_id"),
        expr("ts_ns div 1000000").as("ms"))
      .collect()
      .map(r => StreamEvent(r.getLong(1), r.getLong(0), "view", ts(r.getLong(2))))
    val maxMs = views.map(_.tsMs).max

    val input = MemoryStream[StreamEvent]
    val ranked = WindowedCounts.topNStreaming(
      input.toDS().toDF().withColumnRenamed("userId", "item_id"),
      "ts", "item_id", "60 minutes", "5 minutes", "0 seconds", n = 3)
    val q = ranked.writeStream.format("memory").queryName(sinkName)
      .outputMode("append").start()
    try {
      // split into time-ordered batches so open windows span batches:
      // the first agg must carry cross-batch state before the watermark
      // closes each window and the topk stage sees it
      val ordered = views.sortBy(_.tsMs)
      val (a, b) = ordered.splitAt(ordered.length / 2)
      input.addData(a.toSeq); q.processAllAvailable()
      input.addData(b.toSeq); q.processAllAvailable()
      input.addData(StreamEvent(-1L, -1L, "sentinel", ts(maxMs + 48 * 3600 * 1000L)))
      q.processAllAvailable()
      input.addData(StreamEvent(-1L, -2L, "sentinel", ts(maxMs + 96 * 3600 * 1000L)))
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.table(sinkName)
      .filter(col("item_id") >= 0) // drop sentinel-only windows
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val want = SparkEntry.queries("q02_hot_items_topn")(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("window_end"), r.getAs[Long]("item_id"),
        r.getAs[Long]("cnt"), r.getAs[Long]("rn"))).toSet
    // sentinel items may displace rank-3 entries in the sliding windows
    // that contain a sentinel ts; restrict to windows without sentinels
    val sentinelWindows = spark.table(sinkName)
      .filter(col("item_id") < 0).select("window_end")
      .collect().map(_.getLong(0)).toSet
    assert(got.filterNot(r => sentinelWindows(r._1)) ==
      want.filterNot(r => sentinelWindows(r._1)))
    assert(want.nonEmpty)
  }

  test("streaming-native topk_agg ranks == batch q02 (no foreachBatch)") {
    assertTopNStreamingParity("hot_ranked")
  }

  /** Streaming exact dedup: first arrival per key wins, same-batch and
    * cross-batch copies within the watermark horizon are suppressed.
    * Parameterized by sink name so the RocksDB variant can rerun it —
    * per-key dedup state is exactly what outgrows the heap at 100TB.
    */
  test("streaming latest-state (complete mode) == batch EventOps.latestState") {
    // latestState is a pure DataFrame fn — the streaming twin IS the
    // batch code: an unbounded max_by aggregation whose state is one
    // struct per key (no watermark needed; state size = |keys|).
    // Complete mode makes the memory table the full current state, so
    // cross-batch out-of-order updates must converge to the batch answer.
    val input = MemoryStream[StreamEvent]
    val frame = input.toDS().toDF()
      .select(col("userId"), col("eventId"), col("eventType"),
        unix_millis(col("ts")).as("at"))
    val out = graft.api.EventOps.latestState(frame, "userId",
      Seq("at", "eventId"), Seq("eventType"))
    val q = out.writeStream.format("memory").queryName("latest_stream")
      .outputMode("complete").start()
    val batch = try {
      input.addData(
        StreamEvent(1L, 100L, "a", ts(1000)),
        StreamEvent(1L, 101L, "b", ts(3000)),
        StreamEvent(2L, 102L, "c", ts(2000)))
      q.processAllAvailable()
      input.addData(
        StreamEvent(1L, 103L, "stale", ts(2000)), // late: must NOT win
        StreamEvent(2L, 104L, "d", ts(5000)),
        StreamEvent(3L, 105L, "e", ts(1000)))
      q.processAllAvailable()
      Seq((1L, 100L, "a", 1000L), (1L, 101L, "b", 3000L),
        (2L, 102L, "c", 2000L), (1L, 103L, "stale", 2000L),
        (2L, 104L, "d", 5000L), (3L, 105L, "e", 1000L))
        .toDF("userId", "eventId", "eventType", "at_ms")
    } finally q.stop()
    val got = spark.table("latest_stream").collect()
      .map(r => (r.getAs[Long]("userId"), r.getAs[Long]("at"),
        r.getAs[Long]("eventId"), r.getAs[String]("eventType"))).toSet
    val want = graft.api.EventOps.latestState(
      batch.select(col("userId"), col("eventId"), col("eventType"),
        col("at_ms").as("at")),
      "userId", Seq("at", "eventId"), Seq("eventType")).collect()
      .map(r => (r.getAs[Long]("userId"), r.getAs[Long]("at"),
        r.getAs[Long]("eventId"), r.getAs[String]("eventType"))).toSet
    assert(got == want)
    assert(want == Set((1L, 3000L, 101L, "b"), (2L, 5000L, 104L, "d"),
      (3L, 1000L, 105L, "e")))
  }

  private def assertStreamingDedup(sinkName: String): Unit = {
    val input = MemoryStream[StreamEvent]
    val out = Dedup.firstPerKey(input.toDS().toDF(), "ts",
      Seq("userId"), "10 minutes")
    val q = out.writeStream.format("memory").queryName(sinkName)
      .outputMode("append").start()
    try {
      input.addData(
        StreamEvent(1L, 100L, "doc", ts(1000)),
        StreamEvent(2L, 101L, "doc", ts(2000)),
        StreamEvent(1L, 102L, "doc", ts(3000))) // same-batch dup of key 1
      q.processAllAvailable()
      input.addData(
        StreamEvent(2L, 103L, "doc", ts(4000)), // cross-batch dup of key 2
        StreamEvent(3L, 104L, "doc", ts(5000))) // genuinely new key
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(sinkName).collect()
      .map(r => (r.getAs[Long]("userId"), r.getAs[Long]("eventId"))).toSet
    // the FIRST eventId per key survives; every later copy is dropped
    assert(got == Set((1L, 100L), (2L, 101L), (3L, 104L)))
  }

  test("streaming first-per-key dedup suppresses same- and cross-batch copies") {
    assertStreamingDedup("dedup_stream")
  }

  /** Streaming near-dup ingest (NearDupIngest) must emit exactly the
    * batch q59 pair set on the same delta/corpus split — the 20% NEW
    * docs arrive as a two-batch stream probing the 80% corpus's static
    * LSH index, with cross-batch within-watermark pair dedup state.
    */
  private def assertNearDupIngestParity(sinkName: String): Unit = {
    val docs = Tables.documents(spark, sf)
    val idx = NearDupIngest.index(
      docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text")
    val newDocs = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val input = MemoryStream[(Long, String, Timestamp)]
    val out = NearDupIngest.pairs(
      input.toDF().toDF("doc_id", "text", "ts"),
      "doc_id", "text", "ts", "1 hour", idx)
    val q = out.writeStream.format("memory").queryName(sinkName)
      .outputMode("append").start()
    try {
      val recs = newDocs.zipWithIndex.map { case ((id, t), i) =>
        (id, t, ts(1558430000000L + i * 1000L))
      }
      val (a, b) = recs.splitAt(recs.length / 2)
      input.addData(a.toSeq: _*); q.processAllAvailable()
      input.addData(b.toSeq: _*); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(sinkName).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = SparkEntry.queries("q59_incremental_dedup")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(want.nonEmpty, "q59 found no pairs at this SF — test is vacuous")
    assert(got == want, s"stream=${got.size} batch=${want.size} " +
      s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
  }

  /** Streaming LM gate (LmGate) must score a doc stream IDENTICALLY to
    * the batch bigramLmScoreAgainst on the same delta/model split — the
    * stream-static model joins plus the windowed per-doc rollup cannot
    * drift from the batch arithmetic. The far-future sentinel (-999, a
    * 1-token doc riding the short branch) advances the watermark so
    * every window closes and the append-mode aggregate flushes.
    */
  test("LmGate streaming == batch bigramLmScoreAgainst (static model, same delta)") {
    val docs = Tables.documents(spark, sf)
    val model = graft.api.TextOps.bigramLmModel(
      docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text")
      .localCheckpoint()
    val delta = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val input = MemoryStream[(Long, String, Timestamp)]
    val out = LmGate.score(input.toDF().toDF("doc_id", "text", "ts"),
      "doc_id", "text", "ts", delay = "1 hour", window = "10 minutes",
      model, keepAvgQx1000 = -5000L)
    val q = out.writeStream.format("memory").queryName("lm_gate_stream")
      .outputMode("append").start()
    try {
      val base = 1558430000000L
      val recs = delta.zipWithIndex.map { case ((id, t), i) =>
        (id, t, ts(base + i * 1000L))
      }
      val (a, b) = recs.splitAt(recs.length / 2)
      input.addData(a.toSeq: _*); q.processAllAvailable()
      input.addData(b.toSeq: _*); q.processAllAvailable()
      input.addData((-999L, "x", ts(base + 48L * 3600 * 1000)))
      q.processAllAvailable()
      input.addData((-999L, "x", ts(base + 96L * 3600 * 1000)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("lm_gate_stream").filter(col("doc_id") >= 0)
      .select("doc_id", "n_bigrams", "sum_q2", "keep").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSet
    val want = graft.api.TextOps.bigramLmScoreAgainst(
      docs.filter(col("doc_id") % 5 === 0), "doc_id", "text", model,
      keepAvgQx1000 = -5000L)
      .select("doc_id", "n_bigrams", "sum_q2", "keep").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSet
    assert(want.nonEmpty, "batch scorer produced no rows — vacuous")
    assert(got == want, s"stream=${got.size} batch=${want.size} " +
      s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
  }

  /** Streaming CDC ingest gate (CdcGate.hitsGate) must score a doc
    * stream IDENTICALLY to the batch persisted-index probe on the same
    * split — the stream-static chunk-set join plus the windowed rollup
    * cannot drift from the batch arithmetic, and the gate must take
    * its chunking geometry from the index's own meta.
    */
  test("CdcGate streaming == batch cdcChunkHitsAgainstIndex (persisted index)") {
    assertCdcGateParity("cdc_gate_stream")
  }

  test("CdcGate is delivery-idempotent per (window, doc): a redelivered " +
      "doc collapses to one chunk set") {
    val docs = Tables.documents(spark, sf)
    val dir = tempDir("graft-cdcidem-").toString
    graft.api.DedupOps.writeCdcChunkIndex(
      docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text",
      s"$dir/cdc", modulus = 32, window = 4)
    val probe = docs.filter(col("doc_id") % 25 === 0)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val input = MemoryStream[(Long, String, Timestamp)]
    val out = CdcGate.hitsGate(input.toDF().toDF("doc_id", "text", "ts"),
      "doc_id", "text", "ts", delay = "1 hour", window = "10 minutes",
      s"$dir/cdc")
    val q = out.writeStream.format("memory").queryName("cdc_idem_gate")
      .outputMode("append").start()
    val base = 1558430000000L
    try {
      // every doc delivered TWICE inside the same window (at-least-once
      // upstream) — the gate must score it as one chunk set, not double
      // every count
      input.addData(probe.zipWithIndex.flatMap { case ((id, t), i) =>
        Seq((id, t, ts(base + i * 1000L)),
          (id, t, ts(base + i * 1000L + 1))) }.toSeq: _*)
      q.processAllAvailable()
      input.addData((-999L, "x", ts(base + 48L * 3600 * 1000)))
      q.processAllAvailable()
      input.addData((-999L, "x", ts(base + 96L * 3600 * 1000)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("cdc_idem_gate").filter(col("doc_id") >= 0)
      .select("doc_id", "n_chunks", "n_hits").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = graft.api.DedupOps.cdcChunkHitsAgainstIndex(
        docs.filter(col("doc_id") % 25 === 0), "doc_id", "text",
        s"$dir/cdc")
      .select("doc_id", "n_chunks", "n_hits").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(want.nonEmpty && want.exists(_._3 > 0), "vacuous fixture")
    assert(got == want,
      s"redelivery changed the scores: diff=${got.diff(want).take(3)}" +
        s" / ${want.diff(got).take(3)}")
  }

  /** In-JVM ground truth for the gram gate: per delta doc, gram
    * positions whose 8-gram appears in [min, cap] corpus docs, island-
    * merged with mergeSpans' exact break rule — independent of BOTH
    * the batch probe and the gate.
    */
  private def bruteGramTruth(corpus: Seq[String], deltas: Seq[(Long, String)],
      k: Int): Map[Long, (Long, Long, Long, Long)] = {
    def grams(t: String): Seq[String] = {
      val tk = t.split(" ", -1).toSeq
      if (tk.length < k) Seq.empty
      else (0 to tk.length - k).map(i => tk.slice(i, i + k).mkString(" "))
    }
    val df = corpus.map(t => grams(t).toSet)
      .foldLeft(Map.empty[String, Int]) { (m, gs) =>
        gs.foldLeft(m)((mm, g) => mm.updated(g, mm.getOrElse(g, 0) + 1)) }
    val shared = df.filter { case (_, c) => c >= 1 && c <= 1000 }.keySet
    deltas.map { case (id, t) =>
      val gs = grams(t)
      val hits = gs.zipWithIndex.collect {
        case (g, p) if shared(g) => p.toLong }
      var (cov, pe, spans) = (0L, -1L, 0L)
      hits.foreach { p =>
        cov += math.max(0L, p + k - math.max(pe, p))
        if (p > pe) spans += 1
        pe = math.max(pe, p + k)
      }
      id -> ((gs.length.toLong, hits.length.toLong, spans, cov))
    }.toMap
  }

  private def assertGramGateParity(sinkName: String,
      redeliver: Boolean = false): Unit = {
    val docs = Tables.documents(spark, sf)
    val dir = tempDir("graft-gramgate-").toString
    graft.api.DedupOps.writeGramIndex(
      docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text", s"$dir/ix")
    val delta = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val input = MemoryStream[(Long, String, Timestamp)]
    val gramSet = GramGate.indexFromPath(spark, s"$dir/ix")
    val out = GramGate.spansGate(input.toDF().toDF("doc_id", "text", "ts"),
      "doc_id", "text", "ts", delay = "1 hour", window = "10 minutes",
      gramSet)
    val q = out.writeStream.format("memory").queryName(sinkName)
      .outputMode("append").start()
    try {
      val base = 1558430000000L
      val recs = delta.zipWithIndex.map { case ((id, t), i) =>
        (id, t, ts(base + i * 1000L)) }
      val fed = if (redeliver) recs.flatMap(r => Seq(r, r)) else recs
      val (a, b) = fed.splitAt(fed.length / 2)
      input.addData(a.toSeq: _*); q.processAllAvailable()
      input.addData(b.toSeq: _*); q.processAllAvailable()
      input.addData((-999L, "x", ts(base + 48L * 3600 * 1000)))
      q.processAllAvailable()
      input.addData((-999L, "x", ts(base + 96L * 3600 * 1000)))
      q.processAllAvailable()
    } finally { q.stop(); gramSet.unpersist() }
    val got = spark.table(sinkName).filter(col("doc_id") >= 0)
      .select("doc_id", "n_grams", "n_hit", "n_spans", "covered_tokens")
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
      .select("text").collect().map(_.getString(0)).toSeq
    val want = bruteGramTruth(corpus, delta, k = 8)
    assert(want.exists(_._2._3 > 0), "no contaminated doc — vacuous")
    assert(got == want,
      s"stream=${got.size} brute=${want.size} " +
        s"diff=${(want.toSet -- got.toSet).take(2)} / " +
        s"${(got.toSet -- want.toSet).take(2)}")
    // the gate's island totals must also equal the batch index probe's
    // per-doc span rollup (three-way agreement)
    val batch = graft.api.DedupOps.exactSubstringSpansAgainstIndex(
        docs.filter(col("doc_id") % 5 === 0), "doc_id", "text", s"$dir/ix")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("ns"), sum(col("span_tokens")).as("cov"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    got.foreach { case (id, (_, _, ns, cov)) =>
      val w = batch.getOrElse(id, (0L, 0L))
      assert((ns, cov) == w, s"doc $id: gate ($ns, $cov) vs batch $w")
    }
  }

  test("GramGate: streaming exact-substring decontamination == brute " +
      "truth AND the batch index probe's island totals") {
    assertGramGateParity("gram_gate_stream")
  }

  test("path-stable gate snapshots (GateSnapshot.toPath): the authored " +
      "set survives an explicit unpersist AND a checkpoint drain " +
      "mid-serve, and stays fold-invisible until re-author — the r14 " +
      "localCheckpoint-ownership trade, resolved for long-lived " +
      "deployments") {
    import spark.implicits._
    import graft.api.DedupOps
    val g = "w1 w2 w3 w4 w5 w6 w7 w8"
    val f = "f1 f2 f3 f4 f5 f6 f7 f8"
    val v1 = Seq((10L, s"$g tail one two three")).toDF("doc_id", "text")
    val delta = Seq((20L, s"$f tail one two three")).toDF("doc_id", "text")
    val dir = tempDir("graft-snapgate-").toString
    DedupOps.writeGramIndex(v1, "doc_id", "text", s"$dir/ix")
    val set = GramGate.indexFromPath(spark, s"$dir/ix",
      snapshotPath = Some(s"$dir/snap"))
    // a path snapshot holds NO checkpoint blocks — nothing to lose
    assert(graft.api.Lifecycle.checkpointRdds(set.shared).isEmpty,
      "path-stable snapshot must not be localCheckpoint-backed")
    val input = MemoryStream[(Long, String, Timestamp)]
    val out = GramGate.spansGate(
      input.toDF().toDF("doc_id", "text", "ts"),
      "doc_id", "text", "ts", "1 hour", "10 minutes", set)
    val q = out.writeStream.format("memory").queryName("snap_gate")
      .outputMode("append").start()
    val base = 1558430000000L
    try {
      input.addData((1L, s"$g probe one two", ts(base)))
      q.processAllAvailable()
      // hostile mid-serve sequence: explicit unpersist (a no-op on
      // files), a FULL checkpoint drain (which would truncate an
      // unregistered localCheckpoint snapshot), and an in-place fold
      set.unpersist()
      graft.BenchHarness.drainLocalCheckpoints(spark)
      DedupOps.foldIntoGramIndex(delta, "doc_id", "text", s"$dir/ix")
      input.addData((2L, s"$g probe one two", ts(base + 1200000L)),
        (3L, s"$f probe one two", ts(base + 1200000L)))
      q.processAllAvailable()
      input.addData((-999L, "x", ts(base + 48L * 3600 * 1000)))
      q.processAllAvailable()
      input.addData((-999L, "x", ts(base + 96L * 3600 * 1000)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("snap_gate").filter(col("doc_id") >= 0)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("n_hit")).toMap
    assert(got(1L) > 0, "pre-hostility batch must hit — vacuous fixture")
    assert(got(2L) == got(1L),
      "the path snapshot did not survive unpersist + drain mid-serve")
    assert(got(3L) == 0L,
      "a fold leaked into a path-stable snapshot mid-serve — " +
        "isolation must hold for the copy exactly as for checkpoints")
    // re-authoring (to a FRESH path — overwriting a served path is the
    // compaction-swap hazard in miniature) picks the fold up
    val set2 = GramGate.indexFromPath(spark, s"$dir/ix",
      snapshotPath = Some(s"$dir/snap2"))
    assert(set2.shared.count() > set.shared.count(),
      "re-author must surface the folded grams")
  }

  test("GramGate is delivery-idempotent per (window, doc): a " +
      "redelivered doc collapses to one position set") {
    assertGramGateParity("gram_gate_idem", redeliver = true)
  }

  test("GramGate parity holds under the RocksDB state store") {
    StateStoreVariants.withRocksDB(spark) {
      assertGramGateParity("gram_gate_rocks")
    }
  }

  test("GramGate authors over a LAYERED index with cross-run SUM " +
      "reconcile: a gram at count 1 in v1 and 1 in the fold crosses " +
      "minCorpusDocs=2 ONLY through the sum (the gram family's " +
      "discipline, pinned on the streaming read)") {
    import spark.implicits._
    import graft.api.DedupOps
    val gram = "w1 w2 w3 w4 w5 w6 w7 w8"
    val v1 = Seq((10L, s"$gram tailA one two three four five six seven"))
      .toDF("doc_id", "text")
    val delta = Seq((20L, s"$gram tailB one two three four five six seven"))
      .toDF("doc_id", "text")
    val dir = tempDir("graft-gramgate-sum-").toString
    DedupOps.writeGramIndex(v1, "doc_id", "text", s"$dir/ix")
    assert(!DedupOps.maintainGramIndex(delta, "doc_id", "text", s"$dir/ix"))
    // layers == 2 now; at minCorpusDocs=2 the shared gram qualifies
    // only if the author-time read SUMS across runs
    def gateHits(min: Int): Long = {
      val set = GramGate.indexFromPath(spark, s"$dir/ix",
        minCorpusDocs = min)
      val input = MemoryStream[(Long, String, Timestamp)]
      val out = GramGate.spansGate(
        input.toDF().toDF("doc_id", "text", "ts"),
        "doc_id", "text", "ts", "1 hour", "10 minutes", set)
      val sink = s"gram_gate_sum_$min"
      val q = out.writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try {
        val base = 1558430000000L
        input.addData((1L, s"$gram probe one two three four five six seven",
          ts(base)))
        q.processAllAvailable()
        input.addData((-999L, "x", ts(base + 48L * 3600 * 1000)))
        q.processAllAvailable()
        input.addData((-999L, "x", ts(base + 96L * 3600 * 1000)))
        q.processAllAvailable()
      } finally { q.stop(); set.unpersist() }
      spark.table(sink).filter(col("doc_id") === 1L)
        .select("n_hit").head().getLong(0)
    }
    assert(gateHits(2) == 1L,
      "cross-run SUM reconcile failed on the gate's author-time read: " +
        "1 + 1 did not reach minCorpusDocs=2")
    assert(gateHits(3) == 0L,
      "threshold must apply to the reconciled total, not per run")
  }

  test("CdcGate parity holds under the RocksDB state store") {
    StateStoreVariants.withRocksDB(spark) {
      assertCdcGateParity("cdc_gate_stream_rocks")
    }
  }

  private def assertCdcGateParity(sinkName: String): Unit = {
    val docs = Tables.documents(spark, sf)
    val dir = tempDir("graft-cdcgate-").toString
    graft.api.DedupOps.writeCdcChunkIndex(
      docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text",
      s"$dir/cdc", modulus = 32, window = 4)
    val delta = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val input = MemoryStream[(Long, String, Timestamp)]
    val out = CdcGate.hitsGate(input.toDF().toDF("doc_id", "text", "ts"),
      "doc_id", "text", "ts", delay = "1 hour", window = "10 minutes",
      s"$dir/cdc")
    val q = out.writeStream.format("memory").queryName(sinkName)
      .outputMode("append").start()
    try {
      val base = 1558430000000L
      val recs = delta.zipWithIndex.map { case ((id, t), i) =>
        (id, t, ts(base + i * 1000L))
      }
      val (a, b) = recs.splitAt(recs.length / 2)
      input.addData(a.toSeq: _*); q.processAllAvailable()
      input.addData(b.toSeq: _*); q.processAllAvailable()
      input.addData((-999L, "x", ts(base + 48L * 3600 * 1000)))
      q.processAllAvailable()
      input.addData((-999L, "x", ts(base + 96L * 3600 * 1000)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(sinkName).filter(col("doc_id") >= 0)
      .select("doc_id", "n_chunks", "n_hits", "hit_x1000").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val want = graft.api.DedupOps.cdcChunkHitsAgainstIndex(
      docs.filter(col("doc_id") % 5 === 0), "doc_id", "text", s"$dir/cdc")
      .select("doc_id", "n_chunks", "n_hits", "hit_x1000").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(want.nonEmpty && want.exists(_._3 > 0),
      "batch probe found no hits — vacuous")
    assert(got == want, s"stream=${got.size} batch=${want.size} " +
      s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
  }

  /** Fold-while-serving contract for the stream-static gates: unlike
    * the IVF-PQ probe (fresh read per micro-batch inside
    * foreachBatch), a gate's static side is authored ONCE — Spark
    * caches the parquet file listing in the plan, so an in-place fold
    * landing while the gate serves is INVISIBLE to it: the gate keeps
    * scoring against the graph-build snapshot, consistently (never a
    * torn mix of old meta + new runs). Re-authoring the gate picks the
    * fold up. This test PINS that contract end-to-end; the gates'
    * Scaladoc states it (and that compaction swaps require quiescing —
    * a swap DELETES files the cached listing still points at).
    */
  test("CdcGate fold-while-serving: gate serves the authored snapshot; " +
      "a re-authored gate sees the fold (batch parity both sides)") {
    val docs = Tables.documents(spark, sf)
    val dir = tempDir("graft-cdcfws-").toString
    graft.api.DedupOps.writeCdcChunkIndex(
      docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text",
      s"$dir/cdc", modulus = 32, window = 4)
    val deltaDf = docs.filter(col("doc_id") % 5 === 0)
    val probeDf = docs.filter(col("doc_id") % 25 === 0)
      .select(col("doc_id"), col("text"))
    val probes = probeDf.collect().map(r => (r.getLong(0), r.getString(1)))
    def batchWant() = graft.api.DedupOps.cdcChunkHitsAgainstIndex(
        probeDf, "doc_id", "text", s"$dir/cdc")
      .select("doc_id", "n_hits").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wantPre = batchWant()

    val input = MemoryStream[(Long, String, Timestamp)]
    val out = CdcGate.hitsGate(input.toDF().toDF("doc_id", "text", "ts"),
      "doc_id", "text", "ts", delay = "1 hour", window = "10 minutes",
      s"$dir/cdc")
    val q = out.writeStream.format("memory").queryName("cdc_fws_gate")
      .outputMode("append").start()
    val base = 1558430000000L
    try {
      // window 1: scored against the authored snapshot
      input.addData(probes.zipWithIndex.map { case ((id, t), i) =>
        (id, t, ts(base + i * 1000L)) }.toSeq: _*)
      q.processAllAvailable()
      // the fold lands WHILE the gate serves
      graft.api.DedupOps.foldIntoCdcChunkIndex(
        deltaDf, "doc_id", "text", s"$dir/cdc")
      // window 2 (same docs, 20 min later): still the snapshot
      input.addData(probes.zipWithIndex.map { case ((id, t), i) =>
        (id, t, ts(base + 20L * 60 * 1000 + i * 1000L)) }.toSeq: _*)
      q.processAllAvailable()
      input.addData((-999L, "x", ts(base + 48L * 3600 * 1000)))
      q.processAllAvailable()
      input.addData((-999L, "x", ts(base + 96L * 3600 * 1000)))
      q.processAllAvailable()
    } finally q.stop()
    val wantPost = batchWant()
    // non-vacuity: the fold must actually change what the batch probe
    // sees (the delta's own chunks are now all present)
    assert(wantPost != wantPre,
      "fold changed nothing — the while-serving claim would be vacuous")
    val byWindow = spark.table("cdc_fws_gate").filter(col("doc_id") >= 0)
      .select("window_end", "doc_id", "n_hits").collect()
      .groupBy(_.getTimestamp(0).getTime)
      .map { case (w, rs) =>
        w -> rs.map(r => r.getLong(1) -> r.getLong(2)).toMap }
    assert(byWindow.size == 2, s"expected 2 windows, got ${byWindow.keySet}")
    byWindow.values.foreach { got =>
      assert(got == wantPre,
        "gate drifted from the authored snapshot mid-serve " +
          s"(diff=${got.toSet.diff(wantPre.toSet).take(3)})")
    }
    // a RE-AUTHORED gate (same index path) sees the folded corpus
    val input2 = MemoryStream[(Long, String, Timestamp)]
    val out2 = CdcGate.hitsGate(input2.toDF().toDF("doc_id", "text", "ts"),
      "doc_id", "text", "ts", delay = "1 hour", window = "10 minutes",
      s"$dir/cdc")
    val q2 = out2.writeStream.format("memory").queryName("cdc_fws_gate2")
      .outputMode("append").start()
    try {
      input2.addData(probes.zipWithIndex.map { case ((id, t), i) =>
        (id, t, ts(base + i * 1000L)) }.toSeq: _*)
      q2.processAllAvailable()
      input2.addData((-999L, "x", ts(base + 48L * 3600 * 1000)))
      q2.processAllAvailable()
      input2.addData((-999L, "x", ts(base + 96L * 3600 * 1000)))
      q2.processAllAvailable()
    } finally q2.stop()
    val got2 = spark.table("cdc_fws_gate2").filter(col("doc_id") >= 0)
      .select("doc_id", "n_hits").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == wantPost,
      s"re-authored gate != post-fold batch probe " +
        s"(diff=${got2.toSet.diff(wantPost.toSet).take(3)})")
  }

  test("FingerprintGate streaming == batch fingerprintPairsAgainst on " +
      "the real image dHashes (one banding for all three deploy shapes)") {
    import spark.implicits._
    val dh = graft.operators.Multimodal.imageHashes(
        graft.operators.Multimodal.documentsAsBmpMedia(spark, sf))
      .select(col("doc_id"), col("dhash64"))
    val corpusFps = dh.filter(col("doc_id") % 5 =!= 0)
    val deltaFps = dh.filter(col("doc_id") % 5 === 0)
    val want = graft.api.DedupOps.fingerprintPairsAgainst(
        deltaFps, corpusFps, "doc_id", "dhash64",
        bits = 64, hammingMax = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(want.nonEmpty, "no batch pairs — parity would be vacuous")

    val idx = streaming.FingerprintGate.index(
      corpusFps, "doc_id", "dhash64", bits = 64, hammingMax = 6)
    try {
      val delta = deltaFps.collect().map(r => (r.getLong(0), r.getLong(1)))
      val input = MemoryStream[(Long, Long, Timestamp)]
      val base = 1558430000000L
      val out = streaming.FingerprintGate.pairs(
        input.toDF().toDF("doc_id", "dhash64", "ts"),
        "doc_id", "dhash64", "ts", delay = "1 hour", idx)
      val q = out.writeStream.format("memory").queryName("fp_gate_stream")
        .outputMode("append").start()
      try {
        val recs = delta.zipWithIndex.map { case ((id, h), i) =>
          (id, h, ts(base + i * 1000L)) }
        val (a, b) = recs.splitAt(recs.length / 2)
        input.addData(a.toSeq: _*); q.processAllAvailable()
        input.addData(b.toSeq: _*); q.processAllAvailable()
        input.addData((-999L, 0L, ts(base + 48L * 3600 * 1000)))
        q.processAllAvailable()
        input.addData((-999L, 0L, ts(base + 96L * 3600 * 1000)))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("fp_gate_stream").filter(col("doc_new") >= 0)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(got == want, s"stream=${got.size} batch=${want.size} " +
        s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    } finally idx.unpersist()
  }

  test("FingerprintGate over a PERSISTED LAYERED index == the batch " +
      "index probe (stream deploy matches batch deploy)") {
    import spark.implicits._
    val dh = graft.operators.Multimodal.imageHashes(
        graft.operators.Multimodal.documentsAsBmpMedia(spark, sf))
      .select(col("doc_id"), col("dhash64")).localCheckpoint()
    val dir = tempDir("graft-fpgidx-").toString
    // v1 + an in-place fold: the gate must reconcile the layered runs
    // at author time exactly as the batch probe does at read
    graft.api.DedupOps.writeFingerprintIndex(
      dh.filter(col("doc_id") % 5 === 1 || col("doc_id") % 5 === 2),
      "doc_id", "dhash64", bits = 64, hammingMax = 6, s"$dir/ix")
    graft.api.DedupOps.foldIntoFingerprintIndex(
      dh.filter(col("doc_id") % 5 === 3 || col("doc_id") % 5 === 4),
      "doc_id", "dhash64", s"$dir/ix")
    val deltaFps = dh.filter(col("doc_id") % 5 === 0)
    val want = graft.api.DedupOps.fingerprintPairsAgainstIndex(
        deltaFps, "doc_id", "dhash64", s"$dir/ix")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(want.nonEmpty, "no batch pairs — parity would be vacuous")
    val idx = streaming.FingerprintGate.indexFromPath(spark, s"$dir/ix")
    try {
      val delta = deltaFps.collect().map(r => (r.getLong(0), r.getLong(1)))
      val input = MemoryStream[(Long, Long, Timestamp)]
      val base = 1558430000000L
      val out = streaming.FingerprintGate.pairs(
        input.toDF().toDF("doc_id", "dhash64", "ts"),
        "doc_id", "dhash64", "ts", delay = "1 hour", idx)
      val q = out.writeStream.format("memory").queryName("fp_idx_gate")
        .outputMode("append").start()
      try {
        input.addData(delta.zipWithIndex.map { case ((id, h), i) =>
          (id, h, ts(base + i * 1000L)) }.toSeq: _*)
        q.processAllAvailable()
        input.addData((-999L, 0L, ts(base + 48L * 3600 * 1000)))
        q.processAllAvailable()
        input.addData((-999L, 0L, ts(base + 96L * 3600 * 1000)))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("fp_idx_gate").filter(col("doc_new") >= 0)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(got == want, s"stream=${got.size} batch=${want.size} " +
        s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    } finally idx.unpersist()
  }

  test("LineGate streaming drops == the batch index probe over a " +
      "LAYERED index (parity by independent re-assembly); folds are " +
      "invisible until re-author, visible after") {
    import graft.api.TextOps
    val lined = Tables.documents(spark, sf).select(col("doc_id"),
      concat_ws("\n", lit("COMMON banner"), col("text"),
        concat(lit("Shared "), expr("(doc_id div 5) % 8").cast("string")))
        .as("text"))
    val dir = tempDir("graft-lng-").toString
    TextOps.writeLineIndex(
      lined.filter(col("doc_id") % 5 === 1 || col("doc_id") % 5 === 2),
      "doc_id", "text", s"$dir/ix")
    // layered: the gate's author-time read must SUM-reconcile runs
    TextOps.foldIntoLineIndex(lined.filter(col("doc_id") % 5 === 3),
      "doc_id", "text", s"$dir/ix")
    val cohortA = lined.filter(col("doc_id") % 10 === 0)
    val cohortB = lined.filter(col("doc_id") % 10 === 5)
    def docsOf(p: org.apache.spark.sql.DataFrame) = p.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // the batch contract, captured as (id -> (n_lines, n_dropped,
    // clean)); the stream side is compared through an INDEPENDENT
    // re-assembly of its per-line drop decisions
    def batchWant(p: org.apache.spark.sql.DataFrame) =
      TextOps.dedupLinesAgainstIndex(p, "doc_id", "text", s"$dir/ix",
          maxDocFreq = 40)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          r.getString(3)))).toMap
    def reassemble(docs: Map[Long, String], drops: Set[(Long, Long)]) =
      docs.map { case (id, text) =>
        val ls = text.split("\n", -1)
        val kept = ls.zipWithIndex.collect {
          case (l, i) if !drops.contains((id, i.toLong)) => l }
        id -> ((ls.length.toLong, (ls.length - kept.length).toLong,
          kept.mkString("\n")))
      }
    val wantA = batchWant(cohortA)
    val wantBPre = batchWant(cohortB) // pre-fold: the snapshot's view
    assert(wantA.values.exists(_._2 > 0), "no drops — parity vacuous")
    val gate = LineGate.indexFromPath(spark, s"$dir/ix", maxDocFreq = 40)
    try {
      val input = MemoryStream[(Long, String)]
      val out = LineGate.drops(input.toDF().toDF("doc_id", "text"),
        "doc_id", "text", gate)
      val q = out.writeStream.format("memory").queryName("line_gate")
        .outputMode("append").start()
      try {
        input.addData(docsOf(cohortA).toSeq: _*)
        q.processAllAvailable()
        val gotA = spark.table("line_gate").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(reassemble(docsOf(cohortA), gotA) == wantA,
          "stream drops must re-assemble to the batch probe's output")
        // a fold lands WHILE the gate serves: cohort B (fresh docs)
        // must still be judged by the AUTHOR-TIME snapshot
        TextOps.foldIntoLineIndex(lined.filter(col("doc_id") % 5 === 4),
          "doc_id", "text", s"$dir/ix")
        input.addData(docsOf(cohortB).toSeq: _*)
        q.processAllAvailable()
        val gotB = spark.table("line_gate").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet -- gotA
        assert(reassemble(docsOf(cohortB), gotB) == wantBPre,
          "fold must be INVISIBLE to the serving gate's snapshot")
      } finally q.stop()
    } finally gate.unpersist()
    // re-author: the fold is now visible, and the live index differs
    // from the snapshot's view: the fold pushes the Shared lines
    // over 40 (36/39 -> 48/52), and ONLY the cross-run SUM sees it
    // (no single run exceeds 26)
    val wantBPost = batchWant(cohortB)
    assert(wantBPost != wantBPre,
      "fixture must make the fold change cohort B's answers")
    val gate2 = LineGate.indexFromPath(spark, s"$dir/ix", maxDocFreq = 40)
    try {
      val input2 = MemoryStream[(Long, String)]
      val out2 = LineGate.drops(input2.toDF().toDF("doc_id", "text"),
        "doc_id", "text", gate2)
      val q2 = out2.writeStream.format("memory").queryName("line_gate2")
        .outputMode("append").start()
      try {
        input2.addData(docsOf(cohortB).toSeq: _*)
        q2.processAllAvailable()
        val gotB2 = spark.table("line_gate2").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(reassemble(docsOf(cohortB), gotB2) == wantBPost,
          "a re-authored gate must see the fold")
      } finally q2.stop()
    } finally gate2.unpersist()
  }

  test("FingerprintGate fold-while-serving: pairs keep coming from the " +
      "authored snapshot; a re-authored gate sees the fold") {
    import spark.implicits._
    val dh = graft.operators.Multimodal.imageHashes(
        graft.operators.Multimodal.documentsAsBmpMedia(spark, sf))
      .select(col("doc_id"), col("dhash64")).localCheckpoint()
    val dir = tempDir("graft-fpfws-").toString
    graft.api.DedupOps.writeFingerprintIndex(
      dh.filter(col("doc_id") % 5 === 1 || col("doc_id") % 5 === 2),
      "doc_id", "dhash64", bits = 64, hammingMax = 6, s"$dir/ix")
    // two disjoint probe cohorts, both outside the corpus (%5 == 0):
    // A probes pre-fold, B probes post-fold — the within-watermark
    // PAIR dedup makes re-probing the same docs vacuous (unlike the
    // CdcGate windowed-agg shape), so the mid-serve claim rides on
    // FRESH docs arriving after the fold landed
    val probesA = dh.filter(col("doc_id") % 10 === 0)
    val probesB = dh.filter(col("doc_id") % 10 === 5)
    def batchWant(p: org.apache.spark.sql.DataFrame) =
      graft.api.DedupOps.fingerprintPairsAgainstIndex(
          p, "doc_id", "dhash64", s"$dir/ix")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val wantPreA = batchWant(probesA)
    val wantPreB = batchWant(probesB)
    val idx = streaming.FingerprintGate.indexFromPath(spark, s"$dir/ix")
    val rowsOf = (p: org.apache.spark.sql.DataFrame) =>
      p.collect().map(r => (r.getLong(0), r.getLong(1)))
    try {
      val input = MemoryStream[(Long, Long, Timestamp)]
      val base = 1558430000000L
      val out = streaming.FingerprintGate.pairs(
        input.toDF().toDF("doc_id", "dhash64", "ts"),
        "doc_id", "dhash64", "ts", delay = "1 hour", idx)
      val q = out.writeStream.format("memory").queryName("fp_fws_gate")
        .outputMode("append").start()
      try {
        input.addData(rowsOf(probesA).zipWithIndex.map { case ((id, h), i) =>
          (id, h, ts(base + i * 1000L)) }.toSeq: _*)
        q.processAllAvailable()
        // the fold lands WHILE the gate serves
        graft.api.DedupOps.foldIntoFingerprintIndex(
          dh.filter(col("doc_id") % 5 === 3 || col("doc_id") % 5 === 4),
          "doc_id", "dhash64", s"$dir/ix")
        // fresh cohort 20 minutes later: still the authored snapshot
        input.addData(rowsOf(probesB).zipWithIndex.map { case ((id, h), i) =>
          (id, h, ts(base + 20L * 60 * 1000 + i * 1000L)) }.toSeq: _*)
        q.processAllAvailable()
        input.addData((-999L, 0L, ts(base + 48L * 3600 * 1000)))
        q.processAllAvailable()
        input.addData((-999L, 0L, ts(base + 96L * 3600 * 1000)))
        q.processAllAvailable()
      } finally q.stop()
      val wantPostAll = batchWant(probesA.unionByName(probesB))
      assert(wantPostAll != (wantPreA ++ wantPreB),
        "fold changed no pairs — the while-serving claim would be vacuous")
      val got = spark.table("fp_fws_gate").filter(col("doc_new") >= 0)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(got == (wantPreA ++ wantPreB),
        "gate drifted from the authored snapshot mid-serve " +
          s"(extra=${(got -- wantPreA -- wantPreB).take(3)} " +
          s"missing=${((wantPreA ++ wantPreB) -- got).take(3)})")
      // a RE-AUTHORED gate (same index path) sees the folded corpus
      val idx2 = streaming.FingerprintGate.indexFromPath(spark, s"$dir/ix")
      try {
        val input2 = MemoryStream[(Long, Long, Timestamp)]
        val out2 = streaming.FingerprintGate.pairs(
          input2.toDF().toDF("doc_id", "dhash64", "ts"),
          "doc_id", "dhash64", "ts", delay = "1 hour", idx2)
        val q2 = out2.writeStream.format("memory").queryName("fp_fws_gate2")
          .outputMode("append").start()
        try {
          input2.addData(rowsOf(probesA.unionByName(probesB)).zipWithIndex
            .map { case ((id, h), i) => (id, h, ts(base + i * 1000L)) }
            .toSeq: _*)
          q2.processAllAvailable()
          input2.addData((-999L, 0L, ts(base + 48L * 3600 * 1000)))
          q2.processAllAvailable()
          input2.addData((-999L, 0L, ts(base + 96L * 3600 * 1000)))
          q2.processAllAvailable()
        } finally q2.stop()
        val got2 = spark.table("fp_fws_gate2").filter(col("doc_new") >= 0)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .toSet
        assert(got2 == wantPostAll,
          s"re-authored gate != post-fold batch probe " +
            s"(diff=${got2.diff(wantPostAll).take(3)})")
      } finally idx2.unpersist()
    } finally idx.unpersist()
  }

  test("FingerprintGate over VIDEO fingerprints == batch " +
      "fingerprintPairsAgainst (the fourth modality on the one gate)") {
    import spark.implicits._
    // the gate is fingerprint-generic by construction; this pins it on
    // the round-13 video modality end-to-end (majority-dHash over the
    // real AVI walk + frame decode)
    val vh = graft.operators.Multimodal.videoFingerprints(
        graft.operators.Multimodal.documentsAsAviMedia(spark, sf))
      .select(col("doc_id"), col("vhash64"))
    val corpusFps = vh.filter(col("doc_id") % 5 =!= 0)
    val deltaFps = vh.filter(col("doc_id") % 5 === 0)
    val want = graft.api.DedupOps.fingerprintPairsAgainst(
        deltaFps, corpusFps, "doc_id", "vhash64",
        bits = 64, hammingMax = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(want.nonEmpty, "no batch pairs — parity would be vacuous")
    val idx = streaming.FingerprintGate.index(
      corpusFps, "doc_id", "vhash64", bits = 64, hammingMax = 6)
    try {
      val delta = deltaFps.collect().map(r => (r.getLong(0), r.getLong(1)))
      val input = MemoryStream[(Long, Long, Timestamp)]
      val base = 1558430000000L
      val out = streaming.FingerprintGate.pairs(
        input.toDF().toDF("doc_id", "vhash64", "ts"),
        "doc_id", "vhash64", "ts", delay = "1 hour", idx)
      val q = out.writeStream.format("memory").queryName("fp_vid_gate")
        .outputMode("append").start()
      try {
        input.addData(delta.zipWithIndex.map { case ((id, h), i) =>
          (id, h, ts(base + i * 1000L)) }.toSeq: _*)
        q.processAllAvailable()
        input.addData((-999L, 0L, ts(base + 48L * 3600 * 1000)))
        q.processAllAvailable()
        input.addData((-999L, 0L, ts(base + 96L * 3600 * 1000)))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("fp_vid_gate").filter(col("doc_new") >= 0)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(got == want, s"stream=${got.size} batch=${want.size} " +
        s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    } finally idx.unpersist()
  }

  test("FingerprintGate inherits an upstream watermark on its ts column") {
    import spark.implicits._
    val corpusFps = Seq((1L, 0x0FL), (2L, -4096L)).toDF("doc_id", "fp")
    val idx = streaming.FingerprintGate.index(
      corpusFps, "doc_id", "fp", bits = 64, hammingMax = 2)
    try {
      val input = MemoryStream[(Long, Long, Timestamp)]
      val noWm = input.toDF().toDF("doc_id", "fp", "ts")
      // an UPSTREAM watermark authors and answers: 0x0E is hamming-1
      // from corpus doc 1, and the gate declares no second one
      val base = 1558430000000L
      val out = streaming.FingerprintGate.pairs(
        noWm.withWatermark("ts", "1 hour"), "doc_id", "fp", "ts",
        delay = "1 hour", idx)
      val declared = out.queryExecution.analyzed.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark => w
      }
      assert(declared.size == 1, s"watermarks: $declared")
      val q = out.writeStream.format("memory").queryName("fp_gate_upwm")
        .outputMode("append").start()
      try {
        input.addData((10L, 0x0EL, ts(base + 1000)))
        q.processAllAvailable()
        input.addData((-999L, 0L, ts(base + 48L * 3600 * 1000)))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("fp_gate_upwm").filter(col("doc_new") >= 0)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(got == Set((10L, 1L, 1L)), s"got $got")
    } finally idx.unpersist()
  }

  /** Streaming BM25 gate: the chained (window,qid,doc)-rollup →
    * (window,qid)-topk_agg aggregation over the SHARED static
    * contribution index must rank identically to the batch
    * window-function ranker on the same query set.
    */
  test("Bm25Gate streaming == batch bm25TopK (shared contribution index)") {
    val docs = Tables.documents(spark, sf)
    val qDf = docs.filter(col("doc_id") % 25 === 0)
      .select(col("doc_id").as("qid"), col("text"))
    val delta = qDf.collect().map(r => (r.getLong(0), r.getString(1)))
    val input = MemoryStream[(Long, String, Timestamp)]
    val out = streaming.Bm25Gate.topKGate(
      input.toDF().toDF("qid", "text", "ts"), "qid", "text", "ts",
      delay = "1 hour", window = "10 minutes",
      docs, "doc_id", "text", k = 10)
    val q = out.writeStream.format("memory").queryName("bm25_gate_stream")
      .outputMode("append").start()
    try {
      val base = 1558430000000L
      val recs = delta.zipWithIndex.map { case ((id, t), i) =>
        (id, t, ts(base + i * 1000L))
      }
      input.addData(recs.toSeq: _*); q.processAllAvailable()
      input.addData((-999L, "x", ts(base + 48L * 3600 * 1000)))
      q.processAllAvailable()
      input.addData((-999L, "x", ts(base + 96L * 3600 * 1000)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("bm25_gate_stream").filter(col("qid") >= 0)
      .select("qid", "rank", "doc_id", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val want = graft.api.TextOps.bm25TopK(docs, qDf, "doc_id", "text",
        "qid", k = 10)
      .select("qid", "rank", "doc_id", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(want.nonEmpty, "batch ranker produced no rows — vacuous")
    assert(got == want, s"stream=${got.size} batch=${want.size} " +
      s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
  }

  /** The persisted-index gate (Bm25Gate.topKGateAgainstIndex) must
    * rank identically to BOTH the in-process gate and the batch
    * persisted-index probe — stream deploy == batch deploy on the
    * same writeBm25Index artifact.
    */
  test("Bm25Gate against a persisted index == batch bm25TopKAgainstIndex") {
    val docs = Tables.documents(spark, sf)
    val idxPath =
      tempDir("graft_bm25_gate_idx").toString
    graft.api.TextOps.writeBm25Index(docs, "doc_id", "text", idxPath)
    val qDf = docs.filter(col("doc_id") % 25 === 0)
      .select(col("doc_id").as("qid"), col("text"))
    val delta = qDf.collect().map(r => (r.getLong(0), r.getString(1)))
    val input = MemoryStream[(Long, String, Timestamp)]
    val out = streaming.Bm25Gate.topKGateAgainstIndex(
      input.toDF().toDF("qid", "text", "ts"), "qid", "text", "ts",
      delay = "1 hour", window = "10 minutes", idxPath, "doc_id", k = 10)
    val q = out.writeStream.format("memory").queryName("bm25_idx_gate_stream")
      .outputMode("append").start()
    try {
      val base = 1558430000000L
      val recs = delta.zipWithIndex.map { case ((id, t), i) =>
        (id, t, ts(base + i * 1000L))
      }
      input.addData(recs.toSeq: _*); q.processAllAvailable()
      input.addData((-999L, "x", ts(base + 48L * 3600 * 1000)))
      q.processAllAvailable()
      input.addData((-999L, "x", ts(base + 96L * 3600 * 1000)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("bm25_idx_gate_stream").filter(col("qid") >= 0)
      .select("qid", "rank", "doc_id", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val want = graft.api.TextOps.bm25TopKAgainstIndex(qDf, "qid", "text",
        idxPath, "doc_id", k = 10)
      .select("qid", "rank", "doc_id", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(want.nonEmpty, "batch index probe produced no rows — vacuous")
    assert(got == want, s"stream=${got.size} batch=${want.size} " +
      s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    // a missing/partial index fails at graph BUILD time, loudly
    val err = intercept[IllegalStateException] {
      streaming.Bm25Gate.topKGateAgainstIndex(
        input.toDF().toDF("qid", "text", "ts"), "qid", "text", "ts",
        "1 hour", "10 minutes", s"$idxPath/nonexistent", "doc_id")
    }
    assert(err.getMessage.contains("meta"))
  }

  test("Bm25Gate on a LAYERED index (in-place fold) == batch layered probe") {
    // the gate's layers>1 branch: the baked contrib/ is stale after an
    // in-place fold, so the static side must derive contributions from
    // the postings runs + merged meta stats — and rank exactly like
    // the batch probe doing the same (which ApiSpec pins to the
    // from-scratch rebuild)
    val docs = Tables.documents(spark, sf)
    val idxPath =
      tempDir("graft_bm25_lgate").toString
    graft.api.TextOps.writeBm25Index(
      docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text", idxPath)
    graft.api.TextOps.foldIntoBm25Index(
      docs.filter(col("doc_id") % 5 === 0), "doc_id", "text", idxPath)
    val qDf = docs.filter(col("doc_id") % 25 === 0)
      .select(col("doc_id").as("qid"), col("text"))
    val delta = qDf.collect().map(r => (r.getLong(0), r.getString(1)))
    val input = MemoryStream[(Long, String, Timestamp)]
    val out = streaming.Bm25Gate.topKGateAgainstIndex(
      input.toDF().toDF("qid", "text", "ts"), "qid", "text", "ts",
      delay = "1 hour", window = "10 minutes", idxPath, "doc_id", k = 10)
    val q = out.writeStream.format("memory").queryName("bm25_lidx_gate")
      .outputMode("append").start()
    try {
      val base = 1558430000000L
      val recs = delta.zipWithIndex.map { case ((id, t), i) =>
        (id, t, ts(base + i * 1000L))
      }
      input.addData(recs.toSeq: _*); q.processAllAvailable()
      input.addData((-999L, "x", ts(base + 48L * 3600 * 1000)))
      q.processAllAvailable()
      input.addData((-999L, "x", ts(base + 96L * 3600 * 1000)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("bm25_lidx_gate").filter(col("qid") >= 0)
      .select("qid", "rank", "doc_id", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val want = graft.api.TextOps.bm25TopKAgainstIndex(qDf, "qid", "text",
        idxPath, "doc_id", k = 10)
      .select("qid", "rank", "doc_id", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(want.nonEmpty, "batch layered probe produced no rows — vacuous")
    assert(got == want, s"stream=${got.size} batch=${want.size} " +
      s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
  }

  /** Streaming NB classifier gate (ClassifyGate.nbGate) must predict
    * IDENTICALLY to the batch nbClassify on the same train/test split —
    * the stream-static pivoted-model join plus the windowed per-class
    * rollup cannot drift from the batch arithmetic (same NbStats
    * literals by construction, but the aggregation path differs).
    */
  test("ClassifyGate.nbGate streaming == batch nbClassify (static model)") {
    assertNbGateParity("nb_gate_stream")
  }

  test("nbGate parity holds under the RocksDB state store") {
    StateStoreVariants.withRocksDB(spark) {
      assertNbGateParity("nb_gate_stream_rocks")
    }
  }

  private def assertNbGateParity(sinkName: String): Unit = {
    val docs = Tables.documents(spark, sf)
    val model = graft.api.ClassifyOps.nbModel(
      docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text", "lang")
      .localCheckpoint()
    val delta = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val input = MemoryStream[(Long, String, Timestamp)]
    val out = ClassifyGate.nbGate(input.toDF().toDF("doc_id", "text", "ts"),
      "doc_id", "text", "ts", delay = "1 hour", window = "10 minutes", model)
    val q = out.writeStream.format("memory").queryName(sinkName)
      .outputMode("append").start()
    try {
      val base = 1558430000000L
      val recs = delta.zipWithIndex.map { case ((id, t), i) =>
        (id, t, ts(base + i * 1000L))
      }
      val (a, b) = recs.splitAt(recs.length / 2)
      input.addData(a.toSeq: _*); q.processAllAvailable()
      input.addData(b.toSeq: _*); q.processAllAvailable()
      input.addData((-999L, "x", ts(base + 48L * 3600 * 1000)))
      q.processAllAvailable()
      input.addData((-999L, "x", ts(base + 96L * 3600 * 1000)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(sinkName).filter(col("doc_id") >= 0)
      .select("doc_id", "predicted", "score").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val want = graft.api.ClassifyOps.nbClassify(
      docs.filter(col("doc_id") % 5 === 0), "doc_id", "text", model)
      .select("doc_id", "predicted", "score").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(want.nonEmpty, "batch classifier produced no rows — vacuous")
    assert(got == want, s"stream=${got.size} batch=${want.size} " +
      s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
  }

  /** centroidClassify is map-only (model enters the plan as literals),
    * so the SAME function over a streaming frame is a valid stateless
    * streaming stage — no gate object needed; prove it end-to-end.
    */
  test("centroidClassify applied to a stream == batch (stateless map)") {
    val emb = Tables.embeddings(spark, sf)
    val model = graft.api.ClassifyOps.centroidModel(
      emb.filter(col("vec_id") % 5 =!= 0), "embedding", "label")
      .localCheckpoint()
    val delta = emb.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id"), col("embedding").cast("array<float>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val input = MemoryStream[(Long, Array[Float])]
    val out = graft.api.ClassifyOps.centroidClassify(
      input.toDF().toDF("vec_id", "embedding"), "embedding", model)
    val q = out.writeStream.format("memory").queryName("centroid_stream")
      .outputMode("append").start()
    try {
      input.addData(delta.toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("centroid_stream")
      .select("vec_id", "predicted", "dist").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val want = graft.api.ClassifyOps.centroidClassify(
      emb.filter(col("vec_id") % 5 === 0), "embedding", model)
      .select("vec_id", "predicted", "dist").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(want.nonEmpty && got == want,
      s"stream=${got.size} batch=${want.size}")
  }

  /** First-N-arrivals quota: cross-batch counter state, exhausted keys
    * stay exhausted, under-quota keys keep admitting.
    */
  private def assertQuotaCap(sinkName: String): Unit = {
    val input = MemoryStream[KeyedDoc]
    val out = QuotaCap.firstNPerKey(input.toDS(), cap = 3)
    val q = out.writeStream.format("memory").queryName(sinkName)
      .outputMode("append").start()
    try {
      // batch 1: key a sends 2 (under), key b sends 4 (1 over)
      input.addData(
        KeyedDoc("a", 1L, "p", ts(1000)), KeyedDoc("a", 2L, "p", ts(2000)),
        KeyedDoc("b", 10L, "p", ts(1000)), KeyedDoc("b", 11L, "p", ts(2000)),
        KeyedDoc("b", 12L, "p", ts(3000)), KeyedDoc("b", 13L, "p", ts(4000)))
      q.processAllAvailable()
      // batch 2: a's third admits, a's fourth and ALL of b drop
      input.addData(
        KeyedDoc("a", 3L, "p", ts(5000)), KeyedDoc("a", 4L, "p", ts(6000)),
        KeyedDoc("b", 14L, "p", ts(5000)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(sinkName).collect()
      .map(r => (r.getAs[String]("key"), r.getAs[Long]("docId"))).toSet
    assert(got == Set(("a", 1L), ("a", 2L), ("a", 3L),
      ("b", 10L), ("b", 11L), ("b", 12L)), s"got $got")
  }

  test("streaming per-key quota admits first N arrivals across batches") {
    assertQuotaCap("quota_stream")
  }

  /** Token-budget quota (q142's streaming twin): fill-to-budget in
    * arrival order — every admitted doc starts under budget, the
    * crossing doc is admitted, exhaustion persists across batches.
    */
  private def assertTokenBudget(sinkName: String): Unit = {
    def p(n: Int) = Seq.fill(n)("w").mkString(" ")
    val input = MemoryStream[KeyedDoc]
    val q = QuotaCap.tokenBudgetPerKey(input.toDS(), budget = 10L)
      .writeStream.format("memory")
      .queryName(sinkName).outputMode("append").start()
    try {
      // budget 10. batch 1: key a admits 4+4=8 tokens (under);
      // key b's first doc is 12 tokens — tok_before 0 < 10, so it is
      // the crossing doc and ADMITS (overshoot bounded by one doc),
      // its second doc drops in the SAME batch
      input.addData(
        KeyedDoc("a", 1L, p(4), ts(1000)), KeyedDoc("a", 2L, p(4), ts(2000)),
        KeyedDoc("b", 10L, p(12), ts(1000)), KeyedDoc("b", 11L, p(1), ts(2000)))
      q.processAllAvailable()
      // batch 2: a's 5-token doc has tok_before 8 < 10 → admits (now
      // 13 >= 10, exhausted), its next drops; b stays exhausted
      input.addData(
        KeyedDoc("a", 3L, p(5), ts(3000)), KeyedDoc("a", 4L, p(1), ts(4000)),
        KeyedDoc("b", 12L, p(1), ts(3000)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(sinkName).collect()
      .map(r => (r.getAs[String]("key"), r.getAs[Long]("docId"))).toSet
    assert(got == Set(("a", 1L), ("a", 2L), ("a", 3L), ("b", 10L)),
      s"got $got")
  }

  test("streaming token-budget quota: fill-to-budget across batches, " +
      "crossing doc admitted, exhaustion persists") {
    assertTokenBudget("tokquota_stream")
  }

  test("token-budget quota holds under the RocksDB state store") {
    StateStoreVariants.withRocksDB(spark) {
      assertTokenBudget("tokquota_rocks")
    }
  }

  test("token-budget admission is the exact arrival-order prefix when " +
      "the budget cuts mid-batch") {
    def p(n: Int) = Seq.fill(n)("w").mkString(" ")
    val input = MemoryStream[KeyedDoc]
    val q = QuotaCap.tokenBudgetPerKey(input.toDS(), budget = 10L)
      .writeStream.format("memory").queryName("tokquota_midbatch")
      .outputMode("append").start()
    try {
      // six 3-token docs in ONE unordered batch: exclusive prefixes in
      // (ts, id) order are 0,3,6,9,12,15 — exactly the first four
      // admit (9 < 10), the fifth and sixth drop
      val rows = new scala.util.Random(11).shuffle(
        (1 to 6).map(i => KeyedDoc("hot", i.toLong, p(3), ts(i * 1000L))))
      input.addData(rows)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("tokquota_midbatch").collect()
      .map(_.getAs[Long]("docId")).toSeq.sorted
    assert(got == Seq(1L, 2L, 3L, 4L), s"got $got")
  }

  test("per-key quota state holds under the RocksDB state store") {
    StateStoreVariants.withRocksDB(spark) {
      assertQuotaCap("quota_stream_rocks")
    }
  }

  test("quota admission is the exact arrival-order prefix under a hot-key batch") {
    // one pathological key owns an entire 10k-row micro-batch (the
    // case the bounded heap exists for: selection state is O(cap), not
    // O(batch)); admitted rows must still be EXACTLY the first
    // cap-by-(ts, id) rows — including the equal-ts tie broken by id —
    // in ascending arrival order
    val input = MemoryStream[KeyedDoc]
    val out = QuotaCap.firstNPerKey(input.toDS(), cap = 3)
    val q = out.writeStream.format("memory").queryName("quota_hotkey")
      .outputMode("append").start()
    try {
      // docIds 1 and 10000 TIE at ts=0 (id must break it); every other
      // row i carries ts = i*100
      val rows = new scala.util.Random(7).shuffle(
        KeyedDoc("hot", 10000L, "p", ts(0)) +:
          KeyedDoc("hot", 1L, "p", ts(0)) +:
          (2 until 10000).map(i =>
            KeyedDoc("hot", i.toLong, "p", ts(i.toLong * 100))))
      input.addData(rows)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("quota_hotkey").collect()
      .map(r => r.getAs[Long]("docId")).toSeq.sorted
    // first 3 by (ts, id): (0,1), (0,10000), (200,2)
    assert(got == Seq(1L, 2L, 10000L), s"got $got")
  }

  private def assertHorizonQuota(sinkName: String): Unit = {
    val input = MemoryStream[KeyedDoc]
    val out = QuotaCap.firstNPerKeyWithinHorizon(input.toDS(), cap = 2,
      delay = "10 seconds")
    val q = out.writeStream.format("memory").queryName(sinkName)
      .outputMode("append").start()
    try {
      // burst 1: 3 docs for key a -> 2 admitted, quota exhausted
      input.addData(
        KeyedDoc("a", 1L, "p", ts(1000)), KeyedDoc("a", 2L, "p", ts(2000)),
        KeyedDoc("a", 3L, "p", ts(3000)))
      q.processAllAvailable()
      // still inside the horizon: dropped
      input.addData(KeyedDoc("a", 4L, "p", ts(5000)))
      q.processAllAvailable()
      // another key's far-future events advance the watermark past
      // a's horizon (watermark trails one batch — pump twice), firing
      // a's purge timer
      input.addData(KeyedDoc("z", 90L, "p", ts(100000)))
      q.processAllAvailable()
      input.addData(KeyedDoc("z", 91L, "p", ts(200000)))
      q.processAllAvailable()
      // burst 2 for key a (event times beyond the watermark): the
      // purged counter admits a fresh quota
      input.addData(
        KeyedDoc("a", 5L, "p", ts(300000)), KeyedDoc("a", 6L, "p", ts(301000)),
        KeyedDoc("a", 7L, "p", ts(302000)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(sinkName).collect()
      .map(r => (r.getAs[String]("key"), r.getAs[Long]("docId"))).toSet
    assert(got == Set(("a", 1L), ("a", 2L), ("z", 90L), ("z", 91L),
      ("a", 5L), ("a", 6L)), s"got $got")
  }

  test("horizon quota: counter purges after idleness, quota resets per burst") {
    assertHorizonQuota("quota_horizon")
  }

  test("horizon quota purge-and-reset holds under the RocksDB state store") {
    // the timeout + remove() path is the state-store-sensitive half
    StateStoreVariants.withRocksDB(spark) {
      assertHorizonQuota("quota_horizon_rocks")
    }
  }

  test("streaming near-dup ingest == batch q59 incremental dedup") {
    assertNearDupIngestParity("neardup_stream")
  }

  test("file-based ingest loop: jsonl directory stream -> near-dup probe == batch q59") {
    // the production wiring end-to-end: new docs arrive as JSONL files
    // in a drop directory (Sources.jsonlStream, the crawler's handoff
    // format), stream through the corpus LSH probe, and must emit
    // exactly the batch q59 pair set — same check as the MemoryStream
    // parity test but through the real file source and schema path
    import org.apache.spark.sql.types._
    val docs = Tables.documents(spark, sf)
    val idx = NearDupIngest.index(
      docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text")
    val newDocs = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val dropDir = tempDir("graft_drop")
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("at", TimestampType)))
    // each arrival batch exports through the jsonl SINK (hand-written
    // JSON risks escaping bugs; this also round-trips our own format)
    val batches = newDocs.zipWithIndex
      .map { case ((id, t), i) => (id, t,
        new java.sql.Timestamp(1558430000000L + i * 1000L)) }
      .grouped(math.max(1, (newDocs.length + 1) / 2)).toSeq
    val out = NearDupIngest.pairs(
      graft.jobs.Sources.jsonlStream(spark, dropDir.toString, schema)
        .select(col("doc_id"), col("text"), col("at").as("ts")),
      "doc_id", "text", "ts", "1 hour", idx)
    val q = out.writeStream.format("memory").queryName("neardup_files")
      .outputMode("append").start()
    try {
      batches.zipWithIndex.foreach { case (b, i) =>
        graft.jobs.Sinks.jsonl(
          b.toSeq.toDF("doc_id", "text", "at"), s"$dropDir/batch$i")
        // the file source watches the top directory; move the part
        // files up so the new batch is discovered
        val src = new java.io.File(s"$dropDir/batch$i")
        src.listFiles().filter(_.getName.endsWith(".json")).foreach { f =>
          java.nio.file.Files.move(f.toPath,
            dropDir.resolve(s"b$i-${f.getName}"))
        }
        q.processAllAvailable()
      }
    } finally q.stop()
    val got = spark.table("neardup_files").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = SparkEntry.queries("q59_incremental_dedup")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(want.nonEmpty && got == want,
      s"stream=${got.size} batch=${want.size}")
  }

  test("near-dup ingest parity holds under the RocksDB state store") {
    StateStoreVariants.withRocksDB(spark) {
      assertNearDupIngestParity("neardup_stream_rocks")
    }
  }

  test("streaming IVF-PQ probe == batch probe (stateless stream-static ANN)") {
    // ivfPqProbe is stateless (route + equi-join + filter), so the SAME
    // function accepts a streaming frame — the compressed-index ANN
    // twin of NearDupIngest. Two micro-batches must emit exactly the
    // batch probe's rows on the same delta.
    graft.functions.VectorExpressions.register(spark)
    val emb = Tables.embeddings(spark, sf)
    val dir = tempDir("graft-ivfpq-s-").toString
    try {
      val corpus = emb.filter(col("vec_id") % 5 =!= 0)
      val model = graft.api.VectorOps.ivfPqTrain(
        corpus, "vec_id", "embedding", nCells = 4, m = 8, k = 8, seed = 7L)
      graft.api.VectorOps.writeIvfPqIndex(
        corpus, "vec_id", "embedding", model, dir)
      val delta = emb.filter(col("vec_id") % 5 === 0)
      val rows = delta.select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1)))

      val input = MemoryStream[(Long, Seq[Float])]
      val out = graft.api.VectorOps.ivfPqProbe(
        input.toDF().toDF("vec_id", "embedding"),
        "vec_id", "embedding", dir, adcX1000Threshold = 200, nprobe = 2)
      val q = out.writeStream.format("memory").queryName("ivfpq_stream")
        .outputMode("append").start()
      try {
        val (a, b) = rows.splitAt(rows.length / 2)
        input.addData(a.toSeq); q.processAllAvailable()
        input.addData(b.toSeq); q.processAllAvailable()
      } finally q.stop()

      val got = spark.table("ivfpq_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = graft.api.VectorOps.ivfPqProbe(
          delta, "vec_id", "embedding", dir,
          adcX1000Threshold = 200, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(want.nonEmpty && got == want,
        s"stream=${got.size} batch=${want.size}")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("ivfPqProbeEachBatch: per-batch cell routing reads a strict " +
      "SUBSET of codes files, parity with the batch probe") {
    // VERDICT r10 #1: the naive streaming probe scans the ENTIRE codes
    // index per micro-batch. The foreachBatch variant must (a) emit
    // exactly the batch probe's rows, and (b) carry the literal cell
    // partition filter per micro-batch, reading strictly fewer codes
    // files than the index holds (the ApiSpec file-count assertion,
    // applied per batch).
    graft.functions.VectorExpressions.register(spark)
    val emb = Tables.embeddings(spark, sf)
    val dir = tempDir("graft-ivfpq-fb-").toString
    try {
      val corpus = emb.filter(col("vec_id") % 5 =!= 0)
      val model = graft.api.VectorOps.ivfPqTrain(
        corpus, "vec_id", "embedding", nCells = 8, m = 8, k = 8, seed = 7L)
      graft.api.VectorOps.writeIvfPqIndex(
        corpus, "vec_id", "embedding", model, dir)
      // one query vector per batch => nprobe=1 routes to ONE cell, so
      // each batch must read only that cell's directory
      val delta = emb.filter(col("vec_id") % 5 === 0).limit(2)
      val rows = delta.select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1)))
      assert(rows.length == 2)

      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case q: QueryStageExec        => scans(q.plan)
        case s: FileSourceScanExec    => Seq(s)
        case other => (other.children ++ other.subqueries).flatMap(scans)
      }
      def parquetFiles(root: java.io.File): Seq[java.io.File] =
        if (root.isDirectory) root.listFiles.toSeq.flatMap(parquetFiles)
        else if (root.getName.endsWith(".parquet")) Seq(root) else Nil
      val totalFiles = parquetFiles(new java.io.File(s"$dir/codes")).size

      val got = collection.mutable.Set.empty[(Long, Long, Long)]
      val perBatchReads = collection.mutable.ArrayBuffer.empty[Long]
      val input = MemoryStream[(Long, Seq[Float])]
      val writer = graft.api.VectorOps.ivfPqProbeEachBatch(
        input.toDF().toDF("vec_id", "embedding"),
        "vec_id", "embedding", dir, adcX1000Threshold = -2000,
        nprobe = 1) { (probe, _) =>
        got ++= probe.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        val codeScan = scans(probe.queryExecution.executedPlan)
          .find(_.metadata.get("Location").exists(_.contains("codes")))
          .getOrElse(fail("no FileSourceScanExec over the codes index"))
        assert(codeScan.partitionFilters.exists(
          _.references.exists(_.name == "cell")),
          s"batch codes scan lost the cell partition filter: " +
            s"${codeScan.partitionFilters}")
        perBatchReads += codeScan.metrics("numFiles").value
      }
      val q = writer.queryName("ivfpq_fb").start()
      try {
        input.addData(rows(0)); q.processAllAvailable()
        input.addData(rows(1)); q.processAllAvailable()
      } finally q.stop()

      assert(perBatchReads.size == 2)
      perBatchReads.foreach { read =>
        assert(read > 0 && read < totalFiles,
          s"micro-batch read $read of $totalFiles code files — " +
            "per-batch pruning did not engage")
      }
      val want = graft.api.VectorOps.ivfPqProbe(
          delta, "vec_id", "embedding", dir,
          adcX1000Threshold = -2000, nprobe = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(want.nonEmpty && got.toSet == want,
        s"stream=${got.size} batch=${want.size}")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  /** VERDICT r4 item 4: the full ingest composition in ONE query
    * graph — jsonl drop-dir → per-source horizon quota (fMGWS) → exact
    * content dedup (dropDuplicatesWithinWatermark) → corpus near-dup
    * probe (stream-static join + pair dedup) → sink — including a
    * checkpointed kill-and-restart mid-stream. The oracle is the BATCH
    * composition of the same rules on the same arrival order. The
    * quota stage is the transformWithState variant — RocksDB-only —
    * so the whole composition runs under the RocksDB store.
    */
  private def assertIngestPipeline(): Unit = {
    val docs = Tables.documents(spark, sf)
    val corpusDf = docs.filter(col("doc_id") % 5 =!= 0)
    val idx = NearDupIngest.index(corpusDf, "doc_id", "text")
    val cap = 8
    // delta arrives in doc_id order with strictly increasing ts, so
    // quota admission (first-cap by arrival) == first-cap by doc_id
    // within each source — a deterministic batch-computable rule
    val base = 1558000000000L
    val delta = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("text"), col("source"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .zipWithIndex
      .map { case ((id, t, s), i) => (id, t, s, ts(base + i * 1000L)) }
    assert(delta.groupBy(_._3).exists(_._2.length > cap),
      "no source exceeds the cap — the quota stage would be vacuous")
    // one corpus text under two NEW ids in separate batches: 90001 must
    // pair (exact corpus copy ⇒ guaranteed band match), 90002 must be
    // dropped by the exact-content stage (same digest, later arrival)
    val corpusText = corpusDf.orderBy("doc_id").select("text")
      .head.getString(0)
    val synth1 = (90001L, corpusText, "synthsrc", ts(base + 10000000L))
    val synth2 = (90002L, corpusText, "synthsrc", ts(base + 10001000L))
    val half = delta.length / 2
    val batches = Seq(delta.take(half).toSeq, delta.drop(half).toSeq,
      Seq(synth1), Seq(synth2))

    // batch oracle: per-source first-cap, then unique-content keepers
    // (all real contents are distinct; synth2 dups synth1), then the
    // q59 incremental probe on the survivors
    val admitted = delta.groupBy(_._3).values
      .flatMap(_.sortBy(_._1).take(cap)).toSeq :+ synth1
    val expected = graft.api.DedupOps.minhashPairsAgainst(
        admitted.map(r => (r._1, r._2)).toDF("doc_id", "text"),
        corpusDf, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq.sorted
    assert(expected.nonEmpty, "oracle found no pairs — test is vacuous")
    assert(expected.exists(_._1 == 90001L),
      "synthetic corpus copy produced no pair — exact-dedup leg is vacuous")

    val dropDir = tempDir("graft_ingest_drop")
    val ckpt = tempDir("graft_ingest_ck").toString
    val collected =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
    def startQuery() = IngestPipeline.pairs(spark, dropDir.toString, idx,
        capPerSource = cap, horizon = "2 hours", delay = "1 hour")
      .writeStream
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) =>
          batch.collect().foreach(r =>
            collected.add((r.getLong(0), r.getLong(1), r.getLong(2))))
      }
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .start()
    def feed(i: Int, rows: Seq[(Long, String, String, Timestamp)],
        q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      // ONE part file per feed: arrival order within a micro-batch
      // follows file/partition order, and the quota's first-cap
      // admission is arrival-order semantics — multi-part writes under
      // load can list in any order and flake the doc_id-order oracle
      graft.jobs.Sinks.jsonl(
        rows.toDF("doc_id", "text", "source", "at").coalesce(1),
        s"$dropDir/batch$i")
      val src = new java.io.File(s"$dropDir/batch$i")
      src.listFiles().filter(_.getName.endsWith(".json")).foreach { f =>
        java.nio.file.Files.move(f.toPath, dropDir.resolve(s"b$i-${f.getName}"))
      }
      q.processAllAvailable()
    }

    // batch 1, then KILL mid-stream; batches 2..4 run after the restart
    // from the same checkpoint (quota counters, digest state, and pair
    // state must all recover)
    val q1 = startQuery()
    try feed(0, batches(0), q1) finally q1.stop()
    val q2 = startQuery()
    try batches.zipWithIndex.drop(1).foreach { case (b, i) => feed(i, b, q2) }
    finally q2.stop()

    import scala.jdk.CollectionConverters._
    // multiset compare: a replayed/re-emitted pair after the restart is
    // a duplicate element a set compare would silently collapse
    val got = collected.asScala.toSeq.sorted
    assert(got == expected,
      s"stream=${got.size} batch=${expected.size} " +
        s"missing=${(expected.toSet -- got.toSet).take(3)} " +
        s"extra=${(got.toSet -- expected.toSet).take(3)}")
  }

  /** VERDICT r7 item 3: the FULL curation stack as one streaming
    * query — the [[assertIngestPipeline]] admission prefix (quota tws
    * + exact dedup) fused with ALL FOUR scoring gates (near-dup LSH
    * probe, CDC chunk overlap, bigram-LM quality, NB classifier) via
    * the tagged-union expansion and ONE windowed aggregate. Oracle =
    * the batch composition of the same rules (minhashPairsAgainst,
    * cdcChunkHitsAgainstIndex, bigramLmScoreAgainst, nbClassify) on
    * the same admitted set, row-for-row across every verdict column,
    * including a checkpointed kill-and-restart mid-stream.
    */
  private def assertCuratedPipeline(): Unit = {
    val docs = Tables.documents(spark, sf)
    val corpusDf = docs.filter(col("doc_id") % 5 =!= 0)
    val idx = NearDupIngest.index(corpusDf, "doc_id", "text")
    val cdcPath =
      tempDir("graft_cur_cdc").toString
    graft.api.DedupOps.writeCdcChunkIndex(corpusDf, "doc_id", "text", cdcPath)
    val lmModel = graft.api.TextOps.bigramLmModel(corpusDf, "doc_id", "text")
      .localCheckpoint()
    val nbModel = graft.api.ClassifyOps
      .nbModel(corpusDf, "doc_id", "text", "lang").localCheckpoint()

    val cap = 8
    val base = 1558000000000L
    val delta = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("text"), col("source"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .zipWithIndex
      .map { case ((id, t, s), i) => (id, t, s, ts(base + i * 1000L)) }
    val corpusText = corpusDf.orderBy("doc_id").select("text")
      .head.getString(0)
    val synth1 = (90001L, corpusText, "synthsrc", ts(base + 10000000L))
    val synth2 = (90002L, corpusText, "synthsrc", ts(base + 10001000L))
    // a null-text doc exercises the empty-branch legs of every gate
    // (the sf0.001 fixture has none)
    val synth3 = (90003L, null.asInstanceOf[String], "nullsrc",
      ts(base + 10002000L))
    val half = delta.length / 2
    val batches = Seq(delta.take(half).toSeq, delta.drop(half).toSeq,
      Seq(synth1, synth3), Seq(synth2))

    // batch-composed admitted set: per-source first-cap, then synth2
    // drops as an exact duplicate of synth1; the null-text doc admits
    val admitted = (delta.groupBy(_._3).values
      .flatMap(_.sortBy(_._1).take(cap)).toSeq ++ Seq(synth1, synth3))
      .sortBy(_._1)
    val admittedDf = admitted
      .toDF("doc_id", "text", "source", "at").localCheckpoint()

    // LM threshold from the batch scores' median avg-q so BOTH keep
    // outcomes occur (a one-sided gate would be vacuous)
    val lmScores = graft.api.TextOps.bigramLmScoreAgainst(
      admittedDf, "doc_id", "text", lmModel)
    // greatest(...,1): projection pushdown lands this expression in
    // the scorer's literal-0 union branch where ANSI constant-folding
    // would throw DIVIDE_BY_ZERO before the n_bigrams>0 filter applies;
    // for the rows that survive the filter the value is identical
    val avgs = lmScores.filter(col("n_bigrams") > 0)
      .select(expr("(sum_q2 * 1000) div greatest(n_bigrams, 1)")).collect()
      .map(_.getLong(0)).sorted
    val keepAvg = avgs(avgs.length / 2)
    val cdc = graft.api.DedupOps.cdcChunkHitsAgainstIndex(
      admittedDf, "doc_id", "text", cdcPath)
    val nb = graft.api.ClassifyOps.nbClassify(
      admittedDf, "doc_id", "text", nbModel)
    val ndFlag = graft.api.DedupOps.minhashPairsAgainst(
        admittedDf, corpusDf, "doc_id", "text")
      .select(col("doc_new").as("doc_id")).distinct()
      .withColumn("nd_hit", lit(1L))
    val expected = admittedDf
      .join(cdc, Seq("doc_id"))
      .join(lmScores.select(col("doc_id"), col("n_bigrams"), col("sum_q2")),
        Seq("doc_id"))
      .join(nb.select(col("doc_id"), col("predicted"), col("score")),
        Seq("doc_id"))
      .join(ndFlag, Seq("doc_id"), "left")
      .select(col("doc_id"),
        org.apache.spark.sql.functions.window(col("at"), "1 hour")("end")
          .as("window_end"),
        col("n_chunks"), col("n_hits"), col("hit_x1000"),
        col("n_bigrams"), col("sum_q2"),
        (col("n_bigrams") === 0 ||
          col("sum_q2") * 1000 >= lit(keepAvg) * col("n_bigrams"))
          .as("lm_keep"),
        coalesce(col("nd_hit"), lit(0L)).as("nd_hit"),
        col("predicted"), col("score"))
      .withColumn("keep", col("nd_hit") === 0 && col("lm_keep") &&
        col("hit_x1000") < 500)
      .collect().map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[Long].toString)
    assert(expected.map(_(7)).distinct.size == 2,
      "lm gate is one-sided — threshold choice made the gate vacuous")
    assert(expected.exists(r => r(8) == 1L),
      "no near-dup flag — the nd leg is vacuous")
    assert(expected.exists(r => r(11) == false) &&
      expected.exists(r => r(11) == true),
      "composed keep is one-sided — test is vacuous")

    val dropDir = tempDir("graft_cur_drop")
    val ckpt =
      tempDir("graft_cur_ck").toString
    val collected =
      new java.util.concurrent.ConcurrentLinkedQueue[Seq[Any]]()
    def startQuery() = IngestPipeline.curated(spark, dropDir.toString, idx,
        cdcPath, lmModel, nbModel, capPerSource = cap, horizon = "2 hours",
        delay = "1 hour", window = "1 hour", keepAvgQx1000 = keepAvg)
      .writeStream
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) =>
          batch.collect().foreach(r => collected.add(r.toSeq))
      }
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .start()
    def feed(i: Int, rows: Seq[(Long, String, String, Timestamp)],
        q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      // ONE part file per feed: arrival order within a micro-batch
      // follows file/partition order, and the quota's first-cap
      // admission is arrival-order semantics — multi-part writes under
      // load can list in any order and flake the doc_id-order oracle
      graft.jobs.Sinks.jsonl(
        rows.toDF("doc_id", "text", "source", "at").coalesce(1),
        s"$dropDir/batch$i")
      val src = new java.io.File(s"$dropDir/batch$i")
      src.listFiles().filter(_.getName.endsWith(".json")).foreach { f =>
        java.nio.file.Files.move(f.toPath, dropDir.resolve(s"b$i-${f.getName}"))
      }
      q.processAllAvailable()
    }
    // the windowed agg only emits when the watermark passes a window:
    // a far-future straggler row (dropped by the quota cap's later
    // arrival? no — new source, admitted, but in a far window that
    // never closes) advances the watermark past every real window
    val flushRow = (99999L, "flush doc", "flushsrc",
      ts(base + 3L * 24 * 3600 * 1000))

    val q1 = startQuery()
    try feed(0, batches(0), q1) finally q1.stop()
    val q2 = startQuery()
    try {
      batches.zipWithIndex.drop(1).foreach { case (b, i) => feed(i, b, q2) }
      feed(batches.size, Seq(flushRow), q2)
      feed(batches.size + 1, Seq((99998L, "flush doc two", "flushsrc",
        ts(base + 4L * 24 * 3600 * 1000))), q2)
    } finally q2.stop()

    import scala.jdk.CollectionConverters._
    val got = collected.asScala.toSeq
      .filter(r => r.head.asInstanceOf[Long] != 99999L &&
        r.head.asInstanceOf[Long] != 99998L)
      .sortBy(_.head.asInstanceOf[Long].toString)
    assert(got.size == expected.size,
      s"stream=${got.size} batch=${expected.size} " +
        s"missing=${(expected.map(_.head).toSet -- got.map(_.head).toSet).take(5)}")
    got.zip(expected).foreach { case (g, e) =>
      assert(g == e, s"verdict mismatch for doc ${e.head}:\n  stream=$g\n  batch =$e")
    }
    idx.unpersist()
  }

  test("one-graph CURATED pipeline: quota -> dedup -> all four gates -> verdict, with restart") {
    StateStoreVariants.withRocksDB(spark) {
      assertCuratedPipeline()
    }
  }

  test("curated pipeline plan: exactly 3 SINGLE-INSTANCE stateful operators") {
    // the load-bearing structural claim: the tagged-union expansion
    // exists so the stateful prefix is planned ONCE. A reintroduced
    // branch would show up here as a duplicated TransformWithState /
    // DeduplicateWithinWatermark / Aggregate — the exact shape that
    // silently mixes dedup-survivor universes (see IngestPipeline
    // scaladoc). Counted on the ANALYZED plan: no query start needed.
    val docs = Tables.documents(spark, sf)
    val corpusDf = docs.filter(col("doc_id") % 5 =!= 0)
    val idx = NearDupIngest.index(corpusDf, "doc_id", "text")
    val cdcPath =
      tempDir("graft_cur_plan").toString
    graft.api.DedupOps.writeCdcChunkIndex(corpusDf, "doc_id", "text", cdcPath)
    val lmModel = graft.api.TextOps.bigramLmModel(corpusDf, "doc_id", "text")
      .localCheckpoint()
    val nbModel = graft.api.ClassifyOps
      .nbModel(corpusDf, "doc_id", "text", "lang").localCheckpoint()
    val dropDir =
      tempDir("graft_cur_plan_drop").toString
    val out = IngestPipeline.curated(spark, dropDir, idx, cdcPath,
      lmModel, nbModel, capPerSource = 8, horizon = "2 hours",
      delay = "1 hour", window = "1 hour", keepAvgQx1000 = -9000L)
    val plan = out.queryExecution.analyzed
    def count(pred: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
        => Boolean): Int = plan.collect { case p if pred(p) => p }.size
    val tws = count(_.getClass.getSimpleName.contains("TransformWithState"))
    val dedup = count(
      _.getClass.getSimpleName.contains("DeduplicateWithinWatermark"))
    // only STREAMING aggregates hold state — the static model sides
    // (pivoted NB groupBy, m1 distinct) are stateless batch aggregates
    // re-evaluated per micro-batch
    val aggs = count(p =>
      p.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Aggregate] &&
        p.isStreaming)
    assert(tws == 1, s"quota tws planned $tws times — a branch duplicated it")
    assert(dedup == 1, s"digest dedup planned $dedup times")
    assert(aggs == 1, s"expected ONE windowed aggregate, got $aggs")
    idx.unpersist()
  }

  test("one-graph ingest pipeline: drop-dir -> quota -> exact dedup -> probe, with restart") {
    // RocksDB is REQUIRED, not a variant: the quota stage runs on
    // transformWithState (the only API whose output carries an
    // event-time column, which the downstream dedup states need) and
    // tws rejects the default state store at query start
    StateStoreVariants.withRocksDB(spark) {
      assertIngestPipeline()
    }
  }

  test("streaming slidingCountKeys == batch SlidingCounts (composite and zero keys)") {
    // the marketing jobs' streaming twins: the window() streaming form
    // and the batch two-level bucket form must agree on the same events
    // — both for a composite (channel, behavior) key and for the
    // global no-key count
    val evs = (0 until 60).map { i =>
      (s"ch${i % 3}", if (i % 7 == 0) "INSTALL" else "CLICK",
        ts(1600000000000L + i * 977L))
    }
    val maxMs = evs.map(_._3.getTime).max

    def run(keys: Seq[String], sink: String): Set[Seq[Any]] = {
      val input = MemoryStream[(String, String, Timestamp)]
      val q = WindowedCounts.slidingCountKeys(
          input.toDF().toDF("channel", "behavior", "ts"),
          "ts", keys, "600 seconds", "60 seconds", "0 seconds")
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try {
        val (a, b) = evs.splitAt(evs.length / 2)
        input.addData(a: _*); q.processAllAvailable()
        input.addData(b: _*); q.processAllAvailable()
        input.addData(("zz", "SENTINEL", ts(maxMs + 48 * 3600 * 1000L)))
        q.processAllAvailable()
        input.addData(("zz", "SENTINEL", ts(maxMs + 96 * 3600 * 1000L)))
        q.processAllAvailable()
      } finally q.stop()
      // sentinel windows sit 48h+ out; real windows end within 600s
      spark.table(sink)
        .filter(col("window_end") <= maxMs / 1000 + 600)
        .collect().map(_.toSeq.toVector: Seq[Any]).toSet
    }

    val batchDf = evs.toDF("channel", "behavior", "ts")
    def batch(keys: Seq[String]): Set[Seq[Any]] =
      graft.operators.SlidingCounts.slidingCount(
          batchDf, "ts", keys, 600L, 60L, windowEndCol = "window_end")
        .collect().map(_.toSeq.toVector: Seq[Any]).toSet

    assert(run(Seq("channel", "behavior"), "mkt_keys") ==
      batch(Seq("channel", "behavior")))
    val global = run(Seq.empty, "mkt_global")
    assert(global == batch(Seq.empty))
    assert(global.nonEmpty)
  }

  test("text api ops are stateless-streaming-safe: stream output == batch output") {
    // the api layer's map-only contract must hold on unbounded frames:
    // any batch-only construct (sort, collect, window-without-watermark)
    // sneaking into these ops would fail here at plan time
    val docs = Seq(
      (1L, "email me at a@b.co from 10.1.2.3"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "numbers 42 and 7 punctuation!"))
    def pipeline(df: org.apache.spark.sql.DataFrame) =
      graft.api.TextOps.tokenStats(
        graft.api.TextOps.redactPii(df, "doc_id", "text"),
        "doc_id", "redacted")
    val input = MemoryStream[(Long, String)]
    val q = pipeline(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("text_stream")
      .outputMode("append").start()
    try {
      input.addData(docs: _*); q.processAllAvailable()
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getAs[Long]("n_tokens"), r.getAs[Long]("n_tokens_re"),
        r.getAs[Long]("text_len"))
    val got = spark.table("text_stream").collect().map(key).toSet
    val want = pipeline(docs.toDF("doc_id", "text")).collect().map(key).toSet
    assert(got == want && want.size == 3)
  }

  test("tokenEntropy is stateless-streaming-safe (map-only kernel)") {
    // same contract as embedText below: the token_entropy kernel has
    // no groupBy, so a raw text stream scores quality with NO state;
    // batch parity is value-level
    val docs = Seq((1L, "x x x x"), (2L, "a b c d"), (3L, "a a b"))
    val input = MemoryStream[(Long, String)]
    val q = graft.api.TextOps.tokenEntropy(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .writeStream.format("memory").queryName("entropy_stream")
      .outputMode("append").start()
    try {
      input.addData(docs: _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = rows(spark.table("entropy_stream"))
    val want = rows(graft.api.TextOps.tokenEntropy(
      docs.toDF("doc_id", "text"), "doc_id", "text"))
    assert(got == want && want ==
      Set((1L, 4L, 0L), (2L, 4L, 2048L), (3L, 3L, 853L)))
  }

  test("stripMarkup is stateless-streaming-safe (map-only regex stages)") {
    // the extraction stage of a live crawl ingest: three sequential
    // codegen'd regex projections, no groupBy — a raw HTML stream
    // cleans with NO state, so the stage chains before any
    // gate/quota in one query graph. Batch parity is value-level.
    val docs = Seq(
      (1L, "<p>alpha</p><script>x()</script> &amp; beta"),
      (2L, "plain"))
    val input = MemoryStream[(Long, String)]
    val q = graft.api.TextOps.stripMarkup(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .writeStream.format("memory").queryName("markup_stream")
      .outputMode("append").start()
    try {
      input.addData(docs: _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toSet
    val got = rows(spark.table("markup_stream"))
    val want = rows(graft.api.TextOps.stripMarkup(
      docs.toDF("doc_id", "text"), "doc_id", "text"))
    assert(got == want && want == Set(
      (1L, 1L, 2L, 1L, "alpha & beta"), (2L, 0L, 0L, 0L, "plain")))
  }

  test("embedText is stateless-streaming-safe since the hash_embed kernel") {
    // the map-only kernel (round 8) removed embedText's two groupBys,
    // so a raw TEXT stream now embeds with NO state — which chains the
    // whole vector stack (sign-index probe, centroid classify, PQ ADC)
    // onto text streams directly. Batch parity is value-level.
    val docs = Seq((1L, "alpha beta gamma alpha"), (2L, "delta epsilon"),
      (3L, null.asInstanceOf[String]), (4L, ""))
    val input = MemoryStream[(Long, String)]
    val q = graft.api.TextOps.embedText(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text", d = 16)
      .writeStream.format("memory").queryName("embed_stream")
      .outputMode("append").start()
    try {
      input.addData(docs: _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toList)).toMap
    val got = rows(spark.table("embed_stream"))
    val want = rows(graft.api.TextOps.embedText(
      docs.toDF("doc_id", "text"), "doc_id", "text", d = 16))
    assert(got == want && want.size == 4, s"stream=$got batch=$want")
    assert(got(3L).forall(_ == 0.0) && got(4L).forall(_ == 0.0),
      "null/empty text must keep its row with the zero vector")
  }

  test("streaming dedup parity holds under the RocksDB state store") {
    StateStoreVariants.withRocksDB(spark) {
      assertStreamingDedup("dedup_stream_rocks")
    }
  }

  test("chained top-N parity holds under the RocksDB state store") {
    // the 100TB streaming path: state off-heap in RocksDB instead of
    // the default HDFS-backed in-memory store — two chained stateful
    // aggregations (windowed count -> topk_agg) must produce identical
    // output under the different state layout
    StateStoreVariants.withRocksDB(spark) {
      assertTopNStreamingParity("hot_ranked_rocks")
    }
  }

  test("J1 native: watermarked stream-stream interval join == batch txMatchByJoin") {
    // synthetic pay/receipt traffic: receipts offset -6..+6s around the
    // pay (some outside the ±5s tolerance), every 3rd tx receipt-less,
    // every 5th order unpaid — covers match, out-of-band, and lone sides
    val orders = (0 until 150).flatMap { i =>
      val payTs = 1558430000L + i * 7
      val create = (i.toLong, "create", "", ts((payTs - 10) * 1000))
      if (i % 5 == 0) Seq(create)
      else Seq(create, (i.toLong, "pay", s"tx$i", ts(payTs * 1000)))
    }
    val receipts = (0 until 150).flatMap { i =>
      if (i % 3 == 0 || i % 5 == 0) Seq.empty
      else {
        val payTs = 1558430000L + i * 7
        Seq((s"tx$i", Seq("wechat", "alipay", "card")(i % 3),
          ts((payTs + (i % 13) - 6) * 1000)))
      }
    }

    val oIn = MemoryStream[(Long, String, String, Timestamp)]
    val rIn = MemoryStream[(String, String, Timestamp)]
    val joined = TxIntervalJoin.txMatchByJoinStream(
      oIn.toDF().toDF("orderId", "eventType", "txId", "ts"),
      rIn.toDF().toDF("txId", "payChannel", "ts"), toleranceSec = 5L)
    val q = joined.writeStream.format("memory").queryName("j1_join")
      .outputMode("append").start()
    try {
      // two event-time-ordered batches: pays buffered in batch 1 must
      // still match receipts arriving in batch 2 (cross-batch state)
      val (o1, o2) = orders.sortBy(_._4.getTime).splitAt(orders.length / 2)
      val (r1, r2) = receipts.sortBy(_._3.getTime).splitAt(receipts.length / 2)
      oIn.addData(o1); rIn.addData(r1); q.processAllAvailable()
      oIn.addData(o2); rIn.addData(r2); q.processAllAvailable()
    } finally q.stop()

    val got = spark.table("j1_join").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSet
    val want = jobs.Jobs.txMatchByJoin(
        orders.map { case (id, et, tx, t) => (id, et, tx, t.getTime / 1000) }
          .toDF("orderId", "eventType", "txId", "eventTime"),
        receipts.map { case (tx, ch, t) => (tx, ch, t.getTime / 1000) }
          .toDF("txId", "payChannel", "eventTime"), toleranceSec = 5L)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == want)
    assert(want.nonEmpty)
    // the fixture must actually exercise the tolerance boundary
    assert(want.size < receipts.size, "every receipt matched — no out-of-band cases")
  }

  test("streaming sliding window + foreachBatch rank == batch q02") {
    val views = Tables.events(spark, sf)
      .filter(col("event_type") === "view")
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("user_id"),
        expr("ts_ns div 1000000").as("ms"))
      .collect()
      .map(r => StreamEvent(r.getLong(1), r.getLong(0), "view",
        ts(r.getLong(2))))
    val maxMs = views.map(_.tsMs).max

    val input = MemoryStream[StreamEvent]
    val counts = WindowedCounts.slidingCount(
      input.toDS().toDF().withColumnRenamed("userId", "item_id"),
      "ts", "item_id", "60 minutes", "5 minutes", "0 seconds")
    val q = counts.writeStream.format("memory").queryName("hot_counts")
      .outputMode("append").start()
    try {
      input.addData(views.toSeq); q.processAllAvailable()
      input.addData(StreamEvent(-1L, -1L, "sentinel", ts(maxMs + 48 * 3600 * 1000L)))
      q.processAllAvailable()
      input.addData(StreamEvent(-1L, -2L, "sentinel", ts(maxMs + 96 * 3600 * 1000L)))
      q.processAllAvailable()
    } finally q.stop()

    val ranked = WindowedCounts.topNPerWindow(3, "item_id")(
        spark.table("hot_counts").filter(col("item_id") >= 0))
      .select("window_end", "item_id", "cnt", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val want = SparkEntry.queries("q02_hot_items_topn")(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("window_end"), r.getAs[Long]("item_id"),
        r.getAs[Long]("cnt"), r.getAs[Long]("rn"))).toSet
    assert(ranked == want)
    assert(want.nonEmpty)
  }

  test("RetrievalGate.hybridEachBatch: per-batch parity with the batch " +
      "deployed hybrid, and a fold landing between batches is visible " +
      "from the next batch on (the freshness contract)") {
    import graft.api.{TextOps, VectorOps}
    import spark.implicits._
    val dir = tempDir("graft-retgate-").toString
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 10 =!= 3)
    val delta = docs.filter(col("doc_id") % 10 === 3)
    TextOps.writeBm25Index(corpus, "doc_id", "text", s"$dir/bm25")
    val ce = TextOps.embedText(corpus, "doc_id", "text", 64)
      .filter(expr("exists(v, x -> x != 0D)"))
    val model = VectorOps.ivfPqTrain(ce, "doc_id", "v",
      nCells = 8, m = 16, k = 16, seed = 42L)
    VectorOps.writeIvfPqIndex(ce, "doc_id", "v", model, s"$dir/ivfpq")

    val qRows = docs.filter(col("doc_id") % 25 === 0)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val (q1, q2) = qRows.splitAt(qRows.length / 2)
    assert(q1.nonEmpty && q2.nonEmpty)
    def want(qs: Array[(Long, String)]) = TextOps.hybridTopKAgainstIndexes(
        qs.toSeq.toDF("qid", "text"), "qid", "text",
        s"$dir/bm25", s"$dir/ivfpq", "doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

    val perBatch = collection.mutable.ArrayBuffer
      .empty[Set[(Long, Long, Long, Long)]]
    val input = MemoryStream[(Long, String)]
    val writer = graft.streaming.RetrievalGate.hybridEachBatch(
      input.toDF().toDF("qid", "text"), "qid", "text",
      s"$dir/bm25", s"$dir/ivfpq", "doc_id") { (fused, _) =>
      perBatch += fused.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      ()
    }
    val q = writer.queryName("retrieval_gate").start()
    try {
      // batch 1 against the authored indexes
      input.addData(q1.toSeq); q.processAllAvailable()
      val want1 = want(q1)
      assert(want1.nonEmpty && perBatch.head == want1,
        s"batch-1 parity: stream=${perBatch.head.size} batch=${want1.size}")
      // fold the delta into BOTH indexes while the gate is live
      TextOps.foldIntoBm25Index(delta, "doc_id", "text", s"$dir/bm25")
      VectorOps.foldIntoIvfPqIndex(
        TextOps.embedText(delta, "doc_id", "text", 64)
          .filter(expr("exists(v, x -> x != 0D)")),
        "doc_id", "v", s"$dir/ivfpq")
      // batch 2 must match the batch call over the FOLDED indexes —
      // the freshness contract: folds are visible from the next batch
      input.addData(q2.toSeq); q.processAllAvailable()
      val want2Folded = want(q2)
      assert(perBatch.size == 2 && perBatch(1) == want2Folded,
        s"batch-2 parity over folded indexes: stream=${perBatch(1).size} " +
          s"batch=${want2Folded.size}")
      // non-vacuous: the fold actually moved the ranking — delta docs
      // are retrievable (BM25 stats shifted AND new codes are probed),
      // so batch 2 differs from what the authored indexes would give
      assert(want2Folded.exists(_._3 % 10 == 3),
        "no delta doc in batch-2 output — fold visibility is vacuous")
    } finally q.stop()
  }

  test("RetrievalGate mid-batch fold isolation: a fold landing AFTER " +
      "the batch's plans are authored but BEFORE materialization " +
      "leaves that batch byte-equal to the PRE-fold ranking (never " +
      "corrupt, never tinted); the fold surfaces at the next batch") {
    // the r14 watch item pinned: each batch's hybridTopKAgainstIndexes
    // call reads both metas and builds both scans (eager parquet file
    // listings, driver-side prefix collect) BEFORE the sink sees the
    // frame — so a plain fold interleaving with the batch's
    // MATERIALIZATION cannot mix versions: the bm25 leg's one meta
    // read chose the baked contrib path (folds never touch contrib),
    // and the IVF codes listing predates the fold's appended files.
    // The fold flips in atomically at the NEXT batch's meta reads.
    import graft.api.{TextOps, VectorOps}
    import spark.implicits._
    val dir = tempDir("graft-retgate-mid-").toString
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 10 =!= 3)
    val delta = docs.filter(col("doc_id") % 10 === 3)
    TextOps.writeBm25Index(corpus, "doc_id", "text", s"$dir/bm25")
    val ce = TextOps.embedText(corpus, "doc_id", "text", 64)
      .filter(expr("exists(v, x -> x != 0D)"))
    val model = VectorOps.ivfPqTrain(ce, "doc_id", "v",
      nCells = 8, m = 16, k = 16, seed = 42L)
    VectorOps.writeIvfPqIndex(ce, "doc_id", "v", model, s"$dir/ivfpq")
    val qRows = docs.filter(col("doc_id") % 25 === 0)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def want() = TextOps.hybridTopKAgainstIndexes(
        qRows.toSeq.toDF("qid", "text"), "qid", "text",
        s"$dir/bm25", s"$dir/ivfpq", "doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val wantPre = want() // computed against the authored indexes
    val perBatch = collection.mutable.ArrayBuffer
      .empty[Set[(Long, Long, Long, Long)]]
    val input = MemoryStream[(Long, String)]
    val writer = graft.streaming.RetrievalGate.hybridEachBatch(
      input.toDF().toDF("qid", "text"), "qid", "text",
      s"$dir/bm25", s"$dir/ivfpq", "doc_id") { (fused, batchId) =>
      if (batchId == 0) {
        // the mid-batch interleaving, made deterministic: the batch's
        // plans exist (the fused frame in hand), nothing materialized
        TextOps.foldIntoBm25Index(delta, "doc_id", "text", s"$dir/bm25")
        VectorOps.foldIntoIvfPqIndex(
          TextOps.embedText(delta, "doc_id", "text", 64)
            .filter(expr("exists(v, x -> x != 0D)")),
          "doc_id", "v", s"$dir/ivfpq")
      }
      perBatch += fused.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      ()
    }
    val q = writer.queryName("retrieval_gate_mid").start()
    try {
      input.addData(qRows.toSeq); q.processAllAvailable()
      // SAME queries again: the folded indexes must now answer
      input.addData(qRows.toSeq); q.processAllAvailable()
    } finally q.stop()
    assert(perBatch.size == 2)
    assert(perBatch.head == wantPre,
      "a fold landing mid-batch tinted that batch's output — the " +
        "plan-time snapshot (meta read + eager file listings) leaked")
    val wantPost = want()
    assert(perBatch(1) == wantPost,
      "the fold did not surface at the next batch (freshness contract)")
    assert(wantPost != wantPre && wantPost.exists(_._3 % 10 == 3),
      "fixture regression: the fold did not move the ranking — the " +
        "isolation assertion above would be vacuous")
  }

  test("maintain*-while-serving: a compaction swap under a live gate " +
      "breaks the reader contract EXECUTABLY — the gate fails its next " +
      "batch instead of serving wrong answers; re-authoring serves the " +
      "compacted corpus") {
    // the IndexMaintenance reader contract in one runnable fact: the
    // gate's static side is a graph-build snapshot of the index's FILE
    // LISTING, and maintainBm25Index's compact-and-swap deletes the
    // files that listing points at — so a live gate must QUIESCE across
    // maintain*. Plain folds are different (append-only; the layered
    // gate test above serves them after re-author); the swap is what
    // invalidates a running graph.
    val docs = Tables.documents(spark, sf)
    val idxPath =
      tempDir("graft_bm25_qgate").toString
    graft.api.TextOps.writeBm25Index(
      docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text", idxPath)
    val qDf = docs.filter(col("doc_id") % 25 === 0)
      .select(col("doc_id").as("qid"), col("text"))
    val qRows = qDf.collect().map(r => (r.getLong(0), r.getString(1)))
    val base = 1558430000000L
    def recsAt(t0: Long) = qRows.zipWithIndex.map { case ((id, t), i) =>
      (id, t, ts(t0 + i * 1000L))
    }
    val input = MemoryStream[(Long, String, Timestamp)]
    val out = streaming.Bm25Gate.topKGateAgainstIndex(
      input.toDF().toDF("qid", "text", "ts"), "qid", "text", "ts",
      delay = "1 hour", window = "10 minutes", idxPath, "doc_id", k = 10)
    val q = out.writeStream.format("memory").queryName("bm25_quiesce_gate")
      .outputMode("append").start()
    val failed =
      try {
        // batch 1 serves against the authored listing
        input.addData(recsAt(base).toSeq: _*); q.processAllAvailable()
        // a maintain* compacts UNDER the live gate (threshold 2: the
        // very first fold triggers the swap — old contrib files gone)
        assert(graft.api.TextOps.maintainBm25Index(
          docs.filter(col("doc_id") % 5 === 0), "doc_id", "text",
          idxPath, compactThreshold = 2))
        // the next batch re-reads the authored listing's deleted files:
        // the gate fails LOUDLY (never a silent wrong ranking)
        intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          input.addData(recsAt(base + 7200000L).toSeq: _*)
          q.processAllAvailable()
        }
      } finally q.stop()
    def chain(e: Throwable): Seq[Throwable] =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(failed).exists(c =>
      c.isInstanceOf[java.io.FileNotFoundException] ||
        String.valueOf(c.getMessage).toLowerCase.contains("does not exist") ||
        String.valueOf(c.getMessage).toLowerCase.contains("file not found")),
      s"expected a missing-file failure, got: ${chain(failed).map(_.getClass.getName)}")
    // re-authoring AFTER the maintain serves the compacted corpus —
    // parity with the batch probe over the same (folded + compacted)
    // index, the documented quiesce-then-re-author recovery
    val input2 = MemoryStream[(Long, String, Timestamp)]
    val out2 = streaming.Bm25Gate.topKGateAgainstIndex(
      input2.toDF().toDF("qid", "text", "ts"), "qid", "text", "ts",
      delay = "1 hour", window = "10 minutes", idxPath, "doc_id", k = 10)
    val q2 = out2.writeStream.format("memory").queryName("bm25_reauth_gate")
      .outputMode("append").start()
    try {
      input2.addData(recsAt(base).toSeq: _*); q2.processAllAvailable()
      input2.addData((-999L, "x", ts(base + 48L * 3600 * 1000)))
      q2.processAllAvailable()
      input2.addData((-999L, "x", ts(base + 96L * 3600 * 1000)))
      q2.processAllAvailable()
    } finally q2.stop()
    val got = spark.table("bm25_reauth_gate").filter(col("qid") >= 0)
      .select("qid", "rank", "doc_id", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val want = graft.api.TextOps.bm25TopKAgainstIndex(qDf, "qid", "text",
        idxPath, "doc_id", k = 10)
      .select("qid", "rank", "doc_id", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(want.nonEmpty && got == want,
      s"re-authored gate != batch probe on the compacted index: " +
        s"stream=${got.size} batch=${want.size}")
  }

  test("FrontierGate: discoveries == the q147 batch composition on the " +
      "same split; a URL discovered once does not re-emit within the " +
      "watermark; visited URLs never emit") {
    import graft.api.TextOps
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    // the q147 shape: corpus (mod-5 != 0) links are the visited set,
    // delta docs stream in. Anchors: one shared hub per (host, doc%3)
    // — discovered by MANY delta docs, so the within-stream dedup has
    // real work — plus a unique per-doc page link.
    def marked(d: org.apache.spark.sql.DataFrame) = d.select(col("doc_id"),
      concat(
        lit("<a href=\"https://ex"), (col("doc_id") % 9).cast("string"),
        lit(".org/hub/"), (col("doc_id") % 3).cast("string"),
        lit("\">h</a><a href=\"https://ex"), (col("doc_id") % 9).cast("string"),
        lit(".org/p/"), col("doc_id").cast("string"),
        lit("\">x</a>")).as("text"))
    val corpus = marked(docs.filter(col("doc_id") % 5 =!= 0))
    val deltaDf = marked(docs.filter(col("doc_id") % 5 === 0))
    val visitedDir =
      tempDir("graft-frontier-v-").toString
    TextOps.extractLinks(corpus, "doc_id", "text")
      .filter(col("host") =!= "")
      .select(TextOps.canonicalUrl(col("href")).as("canonical_url"))
      .distinct()
      .write.mode("overwrite").parquet(s"$visitedDir/visited")

    // batch twin: q147's composition, distinct canonical survivors
    val want = TextOps.extractLinks(deltaDf, "doc_id", "text")
      .filter(col("host") =!= "")
      .select(TextOps.canonicalUrl(col("href")).as("curl"))
      .join(spark.read.parquet(s"$visitedDir/visited")
        .select(col("canonical_url").as("curl")), Seq("curl"), "left_anti")
      .distinct().collect().map(_.getString(0)).toSet
    assert(want.nonEmpty, "no discoveries at all — parity would be vacuous")

    val rows = deltaDf.collect().map(r => (r.getLong(0), r.getString(1)))
    val (a, b) = rows.splitAt(rows.length / 2)
    val base = 1558430000000L
    def recs(part: Array[(Long, String)], t0: Long) =
      part.zipWithIndex.map { case ((id, t), i) => (id, t, ts(t0 + i * 1000L)) }
    val input = MemoryStream[(Long, String, Timestamp)]
    val out = graft.streaming.FrontierGate.discoveries(
      input.toDF().toDF("doc_id", "text", "at"), "doc_id", "text",
      "at", delay = "2 hours", s"$visitedDir/visited")
    val q = out.writeStream.format("memory").queryName("frontier_gate")
      .outputMode("append").start()
    try {
      input.addData(recs(a, base).toSeq: _*); q.processAllAvailable()
      // batch 2: fresh docs PLUS a replay of batch 1's docs (the same
      // URLs re-discovered within the watermark) — no re-emission
      input.addData((recs(b, base + 600000L) ++ recs(a, base + 900000L)).toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("frontier_gate").collect()
    val gotUrls = got.map(_.getString(0))
    assert(gotUrls.length == gotUrls.distinct.length,
      "a canonical URL emitted twice — within-watermark dedup lost state")
    assert(gotUrls.toSet == want,
      s"stream=${gotUrls.toSet.size} batch=${want.size} " +
        s"missing=${(want -- gotUrls.toSet).take(3)} " +
        s"extra=${(gotUrls.toSet -- want).take(3)}")
    // the visited set actually suppressed (hub URLs shared with the
    // corpus are all visited): nothing emitted may sit in visited
    val visitedSet = spark.read.parquet(s"$visitedDir/visited")
      .collect().map(_.getString(0)).toSet
    assert(gotUrls.forall(u => !visitedSet.contains(u)),
      "a visited URL leaked through the anti-join")
    assert(visitedSet.exists(_.contains("/hub/")),
      "fixture regression: no shared hub URL in visited — the " +
        "suppression leg would be vacuous")
  }

  test("SchedulerGate: stream == the batch front-door composition " +
      "(discover -> robots -> rank join) where the budget does not " +
      "bind; the per-(host, window) budget admits first-N arrivals " +
      "and resets across windows; the rank snapshot is fold-INVISIBLE " +
      "until re-author") {
    import graft.api.TextOps
    import graft.operators.PageRank
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    def marked(d: org.apache.spark.sql.DataFrame) = d.select(col("doc_id"),
      concat(
        lit("<a href=\"https://ex"), (col("doc_id") % 9).cast("string"),
        lit(".org/hub/"), (col("doc_id") % 3).cast("string"),
        lit("\">h</a><a href=\"https://ex"), (col("doc_id") % 9).cast("string"),
        lit(".org/p/"), col("doc_id").cast("string"),
        lit("\">x</a>")).as("text"))
    val corpus = marked(docs.filter(col("doc_id") % 5 =!= 0))
    val deltaDf = marked(docs.filter(col("doc_id") % 5 === 0))
    val dir = tempDir("graft-sched-").toString
    TextOps.extractLinks(corpus, "doc_id", "text")
      .filter(col("host") =!= "")
      .select(TextOps.canonicalUrl(col("href")).as("canonical_url"))
      .distinct()
      .write.mode("overwrite").parquet(s"$dir/visited")
    // robots: /p/ pages of hosts ex0/ex3/ex6 are off-limits — acts on
    // exactly the NON-visited leg (hub URLs are already visited)
    val rules = Seq("ex0.org", "ex3.org", "ex6.org")
      .toDF("host").select(col("host"), lit("/p/").as("prefix"),
        lit(false).as("allow"))
    // host graph: ex hosts link m(k%3).net — ranked via the edge index
    val edges = Seq.tabulate(9)(k => (s"ex$k.org", s"m${k % 3}.net"))
      .toDF("src", "dst")
    PageRank.writeEdgeIndex(edges, "src", "dst", s"$dir/ix")
    val state = SchedulerGate.author(spark, rules, s"$dir/ix")

    // batch twin of the whole composition (budget non-binding):
    // discover (q147 shape) -> batch robotsFilter -> LEFT rank join
    val snapshotRanks = state.ranks.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val discovered = TextOps.extractLinks(deltaDf, "doc_id", "text")
      .filter(col("host") =!= "")
      .select(TextOps.canonicalUrl(col("href")).as("curl"))
      .join(spark.read.parquet(s"$dir/visited")
        .select(col("canonical_url").as("curl")), Seq("curl"), "left_anti")
      .distinct()
    val want = TextOps.robotsFilter(
        discovered.withColumn("id", col("curl")), "id", "curl", rules)
      .filter(col("allowed"))
      .collect().map { r =>
        val curl = r.getString(1)
        val host = curl.replaceAll("^https?://", "").takeWhile(_ != '/')
        (curl, host, snapshotRanks.get(host))
      }.toSet
    assert(want.nonEmpty, "no scheduled URLs — parity would be vacuous")
    assert(discovered.count() > want.size,
      "robots must actually drop something or the compliance leg is " +
        "vacuous")

    val rows = deltaDf.collect().map(r => (r.getLong(0), r.getString(1)))
    val base = 1558430000000L
    def recs(part: Array[(Long, String)], t0: Long) =
      part.zipWithIndex.map { case ((id, t), i) => (id, t, ts(t0 + i * 1000L)) }
    val input = MemoryStream[(Long, String, Timestamp)]
    val out = SchedulerGate.schedule(
      input.toDF().toDF("doc_id", "text", "at"), "doc_id", "text", "at",
      delay = "2 hours", window = "1 hour", s"$dir/visited", state,
      budgetPerWindow = 100000)
    val q = out.writeStream.format("memory").queryName("sched_gate")
      .outputMode("append").start()
    try {
      val (a, b) = rows.splitAt(rows.length / 2)
      input.addData(recs(a, base).toSeq: _*); q.processAllAvailable()
      input.addData(recs(b, base + 60000L).toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("sched_gate").collect()
      .map(r => (r.getString(0), r.getString(1),
        if (r.isNullAt(5)) None else Some(r.getLong(5)))).toSet
    assert(got == want,
      s"stream=${got.size} batch=${want.size} " +
        s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")

    // ---- budget law: first-N per (host, window), reset across windows
    val input2 = MemoryStream[(Long, String, Timestamp)]
    val out2 = SchedulerGate.schedule(
      input2.toDF().toDF("doc_id", "text", "at"), "doc_id", "text", "at",
      delay = "4 hours", window = "1 hour", s"$dir/visited", state,
      budgetPerWindow = 2)
    val q2 = out2.writeStream.format("memory").queryName("sched_budget")
      .outputMode("append").start()
    // 5 fresh URLs on one host in window A (staggered event times),
    // then 3 more in window B
    def page(i: Int) =
      s"""<a href="https://ex1.org/fresh/$i">f</a>"""
    val winA = (0 until 5).map(i => (1000L + i, page(i), ts(base + i * 1000L)))
    val winB = (0 until 3).map(i =>
      (2000L + i, page(100 + i), ts(base + 7200000L + i * 1000L)))
    try {
      input2.addData(winA: _*); q2.processAllAvailable()
      input2.addData(winB: _*); q2.processAllAvailable()
    } finally q2.stop()
    val byWindow = spark.table("sched_budget").collect()
      .map(r => (r.getTimestamp(4), r.getString(0))).groupBy(_._1)
    assert(byWindow.size == 2, s"expected 2 windows, got ${byWindow.keys}")
    val admitted = byWindow.map { case (w, us) => w -> us.map(_._2).toSet }
    val sizes = admitted.values.map(_.size).toSeq.sorted
    assert(sizes == Seq(2, 2),
      s"budget=2 per (host, window) violated: $admitted")
    // first-arrivals-win: window A admitted the two EARLIEST fresh URLs
    val aAdmitted = admitted(byWindow.keys.minBy(_.getTime))
    assert(aAdmitted == Set("https://ex1.org/fresh/0",
      "https://ex1.org/fresh/1"),
      s"first-N-arrivals order violated: $aAdmitted")

    // ---- fold-while-serving: the rank snapshot must not move
    val input3 = MemoryStream[(Long, String, Timestamp)]
    val out3 = SchedulerGate.schedule(
      input3.toDF().toDF("doc_id", "text", "at"), "doc_id", "text", "at",
      delay = "4 hours", window = "1 hour", s"$dir/visited", state,
      budgetPerWindow = 100000)
    val q3 = out3.writeStream.format("memory").queryName("sched_fold")
      .outputMode("append").start()
    def freshAt(id: Long, i: Int, t0: Long) =
      (id, s"""<a href="https://ex2.org/n/$i">n</a>""", ts(t0))
    try {
      input3.addData(freshAt(3000L, 0, base)); q3.processAllAvailable()
      // fold new edges that change ex2.org's degree/rank
      PageRank.foldIntoEdgeIndex(
        Seq(("ex2.org", "q7.net"), ("ex2.org", "q8.net"), ("q7.net", "q8.net"))
          .toDF("src", "dst"), "src", "dst", s"$dir/ix")
      input3.addData(freshAt(3001L, 1, base + 60000L))
      q3.processAllAvailable()
    } finally q3.stop()
    val foldRows = spark.table("sched_fold").collect()
      .map(r => r.getString(0) -> r.getLong(5)).toMap
    assert(foldRows.size == 2)
    assert(foldRows.values.toSet.size == 1,
      "a fold landing mid-serve changed the served rank — the authored " +
        s"snapshot leaked: $foldRows")
    assert(foldRows("https://ex2.org/n/0") == snapshotRanks("ex2.org"))
    // re-author: the folded graph becomes visible, and ex2's rank moved
    val state2 = SchedulerGate.author(spark, rules, s"$dir/ix")
    val newRank = state2.ranks.filter(col("host") === "ex2.org")
      .head().getLong(1)
    assert(newRank != snapshotRanks("ex2.org"),
      "fixture regression: the fold did not change ex2.org's rank — " +
        "the snapshot assertion above would be vacuous")
    state2.unpersist()
    state.unpersist()
    // authorWith: ANY (host, host_rank) frame can drive the queue —
    // the weighted index's output is q167's deployed signal
    val wr = PageRank.weightedRanksByKey(
        edges.withColumn("w", lit(1L)), "src", "dst", "w")
      .select(col("key").as("host"), col("rank").as("host_rank"))
    val wWant = wr.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val stateW = SchedulerGate.authorWith(rules, wr)
    assert(wWant.nonEmpty && stateW.ranks.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet == wWant,
      "authorWith must snapshot the provided rank frame verbatim")
    stateW.unpersist()
  }

  /** All single-string state keys visible through the state-store
    * reader across the checkpoint's operators. The scheduler's quota
    * keys are `host|windowStartSec`, so callers filter on the `|`
    * shape; the dedup operator's canonical-URL keys (also one string)
    * never collide with it. Operators that don't match are skipped.
    */
  private def quotaStateKeys(ckpt: String): Seq[String] =
    (0 to 3).flatMap { op =>
      try {
        val df = spark.read.format("statestore")
          .option("operatorId", op).load(ckpt)
        val keyFields = df.select(col("key.*")).schema.fields
        if (keyFields.length == 1 &&
            keyFields(0).dataType == org.apache.spark.sql.types.StringType)
          df.select(col("key.*")).collect().map(_.getString(0)).toSeq
        else Seq.empty[String]
      } catch { case _: Exception => Seq.empty[String] }
    }

  private def assertSchedulerQuotaExpiry(sink: String): Unit = {
    import spark.implicits._
    val dir = tempDir("graft-schedx-").toString
    Seq.empty[String].toDF("canonical_url")
      .write.mode("overwrite").parquet(s"$dir/visited")
    val rules = Seq.empty[(String, String, Boolean)]
      .toDF("host", "prefix", "allow")
    val state = SchedulerGate.authorWith(rules,
      Seq(("ex1.org", 7L)).toDF("host", "host_rank"))
    val base = 1558430000000L
    def page(host: String, i: Int) = s"""<a href="https://$host/f/$i">f</a>"""
    val input = MemoryStream[(Long, String, Timestamp)]
    val out = SchedulerGate.schedule(
      input.toDF().toDF("doc_id", "text", "at"), "doc_id", "text", "at",
      delay = "10 seconds", window = "1 hour", s"$dir/visited", state,
      budgetPerWindow = 2)
    val q = out.writeStream.format("memory").queryName(sink)
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append").start()
    try {
      // window A on ex1.org: 3 URLs, budget 2 -> first 2 admitted
      input.addData((0 until 3).map(i =>
        (100L + i, page("ex1.org", i), ts(base + i * 1000L))): _*)
      q.processAllAvailable()
      // far-future events on another host advance the watermark past
      // window A's horizon (activity + window + delay); pump twice —
      // the watermark computed from batch 2 only takes effect for
      // batch 3, whose processing fires A's purge timer
      val far = base + 8 * 3600000L
      input.addData((200L, page("zz9.net", 0), ts(far)))
      q.processAllAvailable()
      input.addData((201L, page("zz9.net", 1), ts(far + 1000L)))
      q.processAllAvailable()
    } finally q.stop()
    // budget law unchanged across windows
    val got = spark.table(sink).collect()
    assert(got.count(_.getString(1) == "ex1.org") == 2,
      s"budget=2 violated in the closed window")
    assert(got.count(_.getString(1) == "zz9.net") == 2,
      "far-window arrivals lost — purge must not drop live admissions")
    // state read-back: the closed window's quota counter is GONE, the
    // live window's counter is still there (non-vacuity: the reader
    // does see quota state)
    val keys = quotaStateKeys(s"$dir/ckpt")
    assert(keys.exists(_.startsWith("zz9.net|")),
      s"state read-back vacuous — no live quota key visible: $keys")
    assert(!keys.exists(_.startsWith("ex1.org|")),
      s"closed-window quota key never purged — unbounded state: $keys")
    state.unpersist()
  }

  test("SchedulerGate quota state is BOUNDED: the closed (host, window) " +
      "counter is purged once the watermark passes its horizon (state-" +
      "store read-back), the budget law is unchanged across windows — " +
      "fMGWS lane") {
    assertSchedulerQuotaExpiry("sched_expiry")
  }

  test("SchedulerGate quota expiry holds under the RocksDB state store") {
    StateStoreVariants.withRocksDB(spark) {
      assertSchedulerQuotaExpiry("sched_expiry_rocks")
    }
  }

  test("SchedulerGate weighted leg end-to-end: parseRobots bodies -> " +
      "authorWith(weighted ranks off the maintained weighted index) -> " +
      "schedule == the batch composition on a budget-non-binding split") {
    assertWeightedSchedulerParity("sched_weighted")
  }

  test("SchedulerGate weighted leg parity holds under the RocksDB state store") {
    StateStoreVariants.withRocksDB(spark) {
      assertWeightedSchedulerParity("sched_weighted_rocks")
    }
  }

  private def assertWeightedSchedulerParity(sinkName: String): Unit = {
    import graft.api.TextOps
    import graft.operators.PageRank
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    // anchor-VOLUME fixture: each doc links its host's m(k%3).net page
    // 1 + k%4 times (k = doc_id%9) — weights genuinely differ by edge
    def marked(d: org.apache.spark.sql.DataFrame) = d.select(col("doc_id"),
      concat(
        expr("repeat('<a href=\"https://m' || cast(doc_id % 3 as string) || " +
          "'.net/q/' || cast(doc_id % 9 as string) || '\">z</a>', " +
          "cast(1 + (doc_id % 9) % 4 as int))"),
        lit("<a href=\"https://ex"), (col("doc_id") % 9).cast("string"),
        lit(".org/p/"), col("doc_id").cast("string"),
        lit("\">x</a>")).as("text"))
    val corpus = marked(docs.filter(col("doc_id") % 5 =!= 0))
    val deltaDf = marked(docs.filter(col("doc_id") % 5 === 0))
    val dir = tempDir("graft-schedw-").toString
    TextOps.extractLinks(corpus, "doc_id", "text")
      .filter(col("host") =!= "")
      .select(TextOps.canonicalUrl(col("href")).as("canonical_url"))
      .distinct()
      .write.mode("overwrite").parquet(s"$dir/visited")
    // weighted edge index: per-occurrence unit weights, corpus written
    // then the delta maintain-folded (overlapping host pairs — the SUM
    // reconcile is genuinely exercised on the serving path)
    val allLinks = TextOps.extractLinks(
      marked(docs), "doc_id", "text").filter(col("host") =!= "")
      .select(col("doc_id"),
        concat(lit("ex"), (col("doc_id") % 9).cast("string"),
          lit(".org")).as("src_host"),
        col("host").as("dst_host"))
      .withColumn("w1", lit(1L))
    PageRank.writeWeightedEdgeIndex(
      allLinks.filter(col("doc_id") % 5 =!= 0), "src_host", "dst_host",
      "w1", s"$dir/wix")
    PageRank.maintainWeightedEdgeIndex(
      allLinks.filter(col("doc_id") % 5 === 0), "src_host", "dst_host",
      "w1", s"$dir/wix")
    // robots BODIES -> parsed rules: ex0/ex3/ex6.org disallow their
    // /p/ pages for '*' (the delta's NON-visited leg — every m-host
    // /q/ URL is already in visited, so rules there would be vacuous),
    // wrapped in a BadBot group that must NOT leak
    val bodies = Seq(0, 3, 6).toDF("k").select(
      concat(lit("ex"), col("k").cast("string"), lit(".org")).as("host"),
      concat(
        lit("# crawl policy\n"),
        lit("User-agent: BadBot\nDisallow: /\n\n"),
        lit("User-Agent: *\r\n"),
        lit("Disallow: /p/  # page namespace\n")).as("body"))
    val rules = TextOps.parseRobots(bodies, "host", "body")
    val ranks = PageRank
      .weightedRanksByKeyAgainstIndex(spark, s"$dir/wix")
      .select(col("key").as("host"), col("rank").as("host_rank"))
    val stateW = SchedulerGate.authorWith(rules, ranks)

    // batch twin: discover -> batch robotsFilter(parsed rules) -> LEFT
    // join of the SNAPSHOT ranks
    val snapshotRanks = stateW.ranks.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val discovered = TextOps.extractLinks(deltaDf, "doc_id", "text")
      .filter(col("host") =!= "")
      .select(TextOps.canonicalUrl(col("href")).as("curl"))
      .join(spark.read.parquet(s"$dir/visited")
        .select(col("canonical_url").as("curl")), Seq("curl"), "left_anti")
      .distinct()
    val want = TextOps.robotsFilter(
        discovered.withColumn("id", col("curl")), "id", "curl", rules)
      .filter(col("allowed"))
      .collect().map { r =>
        val curl = r.getString(1)
        val host = curl.replaceAll("^https?://", "").takeWhile(_ != '/')
        (curl, host, snapshotRanks.get(host))
      }.toSet
    assert(want.nonEmpty, "no scheduled URLs — parity would be vacuous")
    assert(discovered.count() > want.size,
      "parsed robots must actually drop something — compliance leg vacuous")
    assert(want.exists(_._3.isDefined),
      "no scheduled URL carries a weighted rank — the rank leg is vacuous")

    val rows = deltaDf.collect().map(r => (r.getLong(0), r.getString(1)))
    val base = 1558430000000L
    def recs(part: Array[(Long, String)], t0: Long) =
      part.zipWithIndex.map { case ((id, t), i) => (id, t, ts(t0 + i * 1000L)) }
    val input = MemoryStream[(Long, String, Timestamp)]
    val out = SchedulerGate.schedule(
      input.toDF().toDF("doc_id", "text", "at"), "doc_id", "text", "at",
      delay = "2 hours", window = "1 hour", s"$dir/visited", stateW,
      budgetPerWindow = 100000)
    val q = out.writeStream.format("memory").queryName(sinkName)
      .outputMode("append").start()
    try {
      val (a, b) = rows.splitAt(rows.length / 2)
      input.addData(recs(a, base).toSeq: _*); q.processAllAvailable()
      input.addData(recs(b, base + 60000L).toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(sinkName).collect()
      .map(r => (r.getString(0), r.getString(1),
        if (r.isNullAt(5)) None else Some(r.getLong(5)))).toSet
    assert(got == want,
      s"stream=${got.size} batch=${want.size} " +
        s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    stateW.unpersist()
  }

  test("CardGate maintains the persisted dataset card from a stream " +
      "EXACTLY ONCE: per-epoch folds land through the tag manifest, " +
      "the final card equals the batch card over every row, and a " +
      "re-delivered epoch no-ops instead of double-counting") {
    import graft.api.CardOps
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("source"), col("lang"))
    val rows = docs.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    val (seed, rest) = rows.splitAt(rows.length / 4)
    val dir = tempDir("graft-cardgate-").toString
    // the index exists before the stream (the gate validates at
    // author time) — seeded from the batch build path
    CardOps.writeCardIndex(
      seed.toSeq.toDF("doc_id", "text", "source", "lang"),
      "doc_id", "text", "source", "lang", s"$dir/ix")
    val input = MemoryStream[(Long, String, String, String)]
    val q = graft.streaming.CardGate.maintainEachBatch(
        input.toDF().toDF("doc_id", "text", "source", "lang"),
        "doc_id", "text", "source", "lang", s"$dir/ix")
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      val (b1, b2) = rest.splitAt(rest.length / 2)
      input.addData(b1.toSeq: _*); q.processAllAvailable()
      input.addData(b2.toSeq: _*); q.processAllAvailable()
    } finally q.stop()
    def cardSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    val got = cardSet(CardOps.datasetCardAgainstIndex(spark, s"$dir/ix"))
    val want = cardSet(graft.api.TextOps.datasetCard(docs,
      "doc_id", "text", "source", "lang"))
    assert(want.nonEmpty && got == want,
      s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    // the at-least-once shape: the engine re-delivers epoch 0 after a
    // failure — the gate's tag ("card-0") must make the re-fold a
    // structural no-op
    val (b1, _) = rest.splitAt(rest.length / 2)
    assert(!CardOps.maintainCardIndexTagged(
      b1.toSeq.toDF("doc_id", "text", "source", "lang"),
      "doc_id", "text", "source", "lang", s"$dir/ix", tag = "card-0"),
      "replayed epoch applied — the gate double-counts re-deliveries")
    assert(cardSet(CardOps.datasetCardAgainstIndex(spark, s"$dir/ix"))
      == want, "a replayed epoch changed the card")
  }

  test("EdgeGate maintains the weighted host graph from the fetched-" +
      "document stream EXACTLY ONCE: streamed folds == the batch " +
      "build over all links (weights sum across epochs), and a " +
      "re-delivered epoch no-ops — under SUM a replay would DOUBLE " +
      "its edge weights, so the tag manifest is load-bearing") {
    import graft.api.TextOps
    import graft.operators.PageRank
    import spark.implicits._
    // the weighted fixture shape: each page links m(k%3).net 1 + k%4
    // times — per-occurrence weights genuinely differ by edge
    val pages = Tables.documents(spark, sf).select(
      concat(lit("ex"), (col("doc_id") % 9).cast("string"),
        lit(".org")).as("src_host"),
      expr("repeat('<a href=\"https://m' || cast(doc_id % 3 as string) || " +
        "'.net/q/' || cast(doc_id % 9 as string) || '\">z</a>', " +
        "cast(1 + (doc_id % 9) % 4 as int))").as("text"),
      col("doc_id"))
    // seed/stream split on mod 5 — COPRIME to the dst derivation
    // (doc_id % 3), so seed and streamed epochs genuinely share
    // (src, dst) pairs and the cross-run SUM reconcile is exercised
    val seed = pages.filter(col("doc_id") % 5 === 0)
    val streamed = pages.filter(col("doc_id") % 5 =!= 0)
    def linksOf(d: org.apache.spark.sql.DataFrame) =
      TextOps.extractLinks(d, "src_host", "text")
        .filter(col("host") =!= "")
        .select(col("src_host"), col("host"), lit(1L).as("__w1"))
    val dir = tempDir("graft-edgegate-").toString
    PageRank.writeWeightedEdgeIndex(linksOf(seed), "src_host", "host",
      "__w1", s"$dir/ix")
    val rows = streamed.select("src_host", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val input = MemoryStream[(String, String)]
    val q = graft.streaming.EdgeGate.maintainEachBatch(
        input.toDF().toDF("src_host", "text"), "src_host", "text",
        s"$dir/ix")
      .option("checkpointLocation", s"$dir/ckpt").start()
    val (e0, e1) = rows.splitAt(rows.length / 2)
    try {
      input.addData(e0.toSeq: _*); q.processAllAvailable()
      input.addData(e1.toSeq: _*); q.processAllAvailable()
    } finally q.stop()
    def rankSet(path: String) =
      PageRank.weightedRanksByKeyAgainstIndex(spark, path).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val got = rankSet(s"$dir/ix")
    val want = PageRank.weightedRanksByKey(linksOf(pages), "src_host",
        "host", "__w1").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(want.nonEmpty && got == want,
      s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    // epoch 0 re-delivered: must no-op — if it applied, every epoch-0
    // edge weight doubles and the rank set shifts
    assert(!PageRank.maintainWeightedEdgeIndexTagged(
      linksOf(e0.toSeq.toDF("src_host", "text")),
      "src_host", "host", "__w1", s"$dir/ix", tag = "edges-0"),
      "replayed epoch applied — the gate double-counts re-deliveries")
    assert(rankSet(s"$dir/ix") == want, "a replayed epoch moved the ranks")
    // the tag manifest survives compaction: force one with a fresh
    // epoch at threshold 2, then replay BOTH old epochs
    assert(PageRank.maintainWeightedEdgeIndexTagged(
      linksOf(e1.toSeq.toDF("src_host", "text")),
      "src_host", "host", "__w1", s"$dir/ix", tag = "edges-9",
      compactThreshold = 2), "fresh tag must apply")
    val metaC = graft.api.IndexMaintenance.readMeta(spark, s"$dir/ix",
      PageRank.WeightedEdgeIndex, "test")
    val (layersC, runsC, tagsC) = (metaC.layers, metaC.runs, metaC.tags)
    assert(layersC == 1 && runsC.size == 1, "threshold-2 fold must compact")
    assert(tagsC.toSet == Set("edges-0", "edges-1", "edges-9"),
      "compaction dropped the tag manifest — replays would re-apply")
    val afterC = rankSet(s"$dir/ix")
    assert(!PageRank.maintainWeightedEdgeIndexTagged(
      linksOf(e0.toSeq.toDF("src_host", "text")),
      "src_host", "host", "__w1", s"$dir/ix", tag = "edges-0"))
    assert(!PageRank.maintainWeightedEdgeIndexTagged(
      linksOf(e1.toSeq.toDF("src_host", "text")),
      "src_host", "host", "__w1", s"$dir/ix", tag = "edges-1"))
    assert(rankSet(s"$dir/ix") == afterC,
      "a replay after compaction changed the graph")
  }
}
