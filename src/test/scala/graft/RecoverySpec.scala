package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming._

/** Streaming operational guarantees: exactly-once-style dedup within
  * the watermark, and stateful-operator recovery from a checkpoint
  * after a query restart (the mechanism that makes 100TB streaming
  * jobs survive executor/driver loss).
  */
class RecoverySpec extends SparkSpec {

  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ts(ms: Long) = new Timestamp(ms)
  private val base = 24 * 3600000L

  test("dropDuplicatesWithinWatermark dedups replayed events across batches") {
    val input = MemoryStream[StreamEvent]
    val deduped = input.toDS()
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("eventId")
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      input.addData(
        StreamEvent(1, 100, "e", ts(base + 1000)),
        StreamEvent(1, 101, "e", ts(base + 2000)))
      q.processAllAvailable()
      // replay of 100 (at-least-once source) + a fresh event
      input.addData(
        StreamEvent(1, 100, "e", ts(base + 1000)),
        StreamEvent(1, 102, "e", ts(base + 3000)))
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("dedup_out").select("eventId")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(100L, 101L, 102L))
  }

  /** Checkpointed-restart round trip: one fail before the stop, the
    * pairing fail after the restart — the warning only appears if the
    * fMGWS state survived. Parameterized so the RocksDB variant reruns
    * it against the off-heap store (whose checkpoint format differs).
    */
  private def assertStateSurvivesRestart(user: Long): Unit = {
    val ckpt = tempDir("graft_ckpt").toString
    val input = MemoryStream[StreamEvent]
    // memory sink cannot recover from a checkpoint; foreachBatch can
    val collected = new java.util.concurrent.ConcurrentLinkedQueue[FailWarning]()
    def startQuery() = SequenceMatch.consecutiveFails(input.toDS(), 5000L)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[FailWarning], _: Long) =>
        batch.collect().foreach(collected.add)
      }
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .start()

    // batch 1: one fail, then STOP (state: lastFail=1)
    val q1 = startQuery()
    try {
      input.addData(StreamEvent(user, 1, "fail", ts(base + 1000)))
      q1.processAllAvailable()
    } finally q1.stop()

    // restart from the same checkpoint: the next fail within the gap
    // must pair with the PRE-RESTART state
    val q2 = startQuery()
    try {
      input.addData(StreamEvent(user, 2, "fail", ts(base + 3000)))
      q2.processAllAvailable()
    } finally q2.stop()

    import scala.jdk.CollectionConverters._
    val warns = collected.asScala
      .map(w => (w.userId, w.firstEvent, w.lastEvent)).toSet
    assert(warns == Set((user, 1L, 2L)),
      s"state lost across restart: $warns")
  }

  test("flatMapGroupsWithState state survives a checkpointed restart") {
    assertStateSurvivesRestart(7L)
  }

  test("checkpointed restart also recovers under the RocksDB state store") {
    StateStoreVariants.withRocksDB(spark) {
      assertStateSurvivesRestart(8L)
    }
  }

  /** The buffered-pay state of the J1 stream-stream interval join must
    * survive a checkpointed restart: the pay arrives before the stop,
    * its matching receipt only after the restart — the joined row
    * exists iff the join buffer was recovered from the checkpoint.
    */
  private def assertJoinStateSurvivesRestart(txId: String): Unit = {
    val ckpt = tempDir("graft_j1_ckpt").toString
    val oIn = MemoryStream[(Long, String, String, Timestamp)]
    val rIn = MemoryStream[(String, String, Timestamp)]
    val collected =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, String)]()
    def startQuery() = TxIntervalJoin.txMatchByJoinStream(
        oIn.toDF().toDF("orderId", "eventType", "txId", "ts"),
        rIn.toDF().toDF("txId", "payChannel", "ts"), toleranceSec = 5L)
      .writeStream
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) =>
          batch.collect().foreach(r =>
            collected.add((r.getString(0), r.getLong(1), r.getString(2))))
      }
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .start()

    // query 1: lone pay buffers in join state (receipt side silent, so
    // the global watermark cannot evict it), then STOP
    val q1 = startQuery()
    try {
      oIn.addData((1L, "pay", txId, ts(base + 1000)))
      q1.processAllAvailable()
    } finally q1.stop()

    // restart from the checkpoint: the receipt (2s after the pay, well
    // inside ±5s) must join against the PRE-RESTART buffered pay
    val q2 = startQuery()
    try {
      rIn.addData((txId, "card", ts(base + 3000)))
      q2.processAllAvailable()
    } finally q2.stop()

    import scala.jdk.CollectionConverters._
    assert(collected.asScala.toSet == Set((txId, 1L, "card")),
      s"join state lost across restart: ${collected.asScala.toSet}")
  }

  test("stream-stream join state survives a checkpointed restart") {
    assertJoinStateSurvivesRestart("txA")
  }

  test("stream-stream join restart also recovers under RocksDB") {
    StateStoreVariants.withRocksDB(spark) {
      assertJoinStateSurvivesRestart("txB")
    }
  }

  /** The latest_by aggregation buffers (TypedImperativeAggregate state,
    * serialized through the state store) must survive a checkpointed
    * restart: after the restart an OLDER update for a pre-restart key
    * must lose — which can only happen if the pre-restart argmax state
    * was recovered, not rebuilt from the post-restart batch alone.
    */
  private def assertLatestStateSurvivesRestart(tag: String): Unit = {
    val ckpt = tempDir("graft_latest_ckpt").toString
    val input = MemoryStream[StreamEvent]
    @volatile var last: Array[(Long, Long, String)] = Array.empty
    def startQuery() = graft.api.EventOps.latestState(
        input.toDS().toDF()
          .select(col("userId"), col("eventId"), col("eventType"),
            unix_millis(col("ts")).as("at")),
        "userId", Seq("at", "eventId"), Seq("eventType"))
      .writeStream
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) =>
          last = batch.collect().map(r => (r.getAs[Long]("userId"),
            r.getAs[Long]("eventId"), r.getAs[String]("eventType")))
      }
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .start()

    val q1 = startQuery()
    try {
      input.addData(StreamEvent(1L, 100L, s"live-$tag", ts(base + 5000)))
      q1.processAllAvailable()
    } finally q1.stop()

    // restart: a STALE update for key 1 (older event time) and a fresh
    // key — key 1 must still report the pre-restart payload
    val q2 = startQuery()
    try {
      input.addData(
        StreamEvent(1L, 103L, "stale", ts(base + 1000)),
        StreamEvent(2L, 104L, s"new-$tag", ts(base + 2000)))
      q2.processAllAvailable()
    } finally q2.stop()

    assert(last.toSet == Set(
      (1L, 100L, s"live-$tag"), (2L, 104L, s"new-$tag")),
      s"argmax state lost across restart: ${last.toSet}")
  }

  test("streaming latest-state argmax survives a checkpointed restart") {
    assertLatestStateSurvivesRestart("a")
  }

  test("latest-state restart also recovers under RocksDB") {
    StateStoreVariants.withRocksDB(spark) {
      assertLatestStateSurvivesRestart("b")
    }
  }

  /** The near-dup ingest's within-watermark pair-dedup state must
    * survive a checkpointed restart: a doc whose pair emitted before
    * the stop is REPLAYED after the restart (at-least-once source) and
    * must NOT re-emit — only possible if the dedup state was recovered.
    */
  private def assertIngestDedupSurvivesRestart(): Unit = {
    val ckpt = tempDir("graft_ingest_ckpt").toString
    val corpus = Seq((10L, "a b c d e f g")).toDF("doc_id", "text")
    val idx = NearDupIngest.index(corpus, "doc_id", "text")
    val input = MemoryStream[(Long, String, Timestamp)]
    val collected =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
    def startQuery() = NearDupIngest.pairs(
        input.toDF().toDF("doc_id", "text", "ts"),
        "doc_id", "text", "ts", "1 hour", idx)
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

    // query 1: an exact copy of the corpus doc → pair (1, 10, 1000)
    val q1 = startQuery()
    try {
      input.addData((1L, "a b c d e f g", ts(base + 1000)))
      q1.processAllAvailable()
    } finally q1.stop()

    // restart: REPLAY doc 1 (must stay suppressed by recovered state)
    // plus a fresh copy under a new id — identical text ⇒ identical
    // minhash signature ⇒ guaranteed band match (a merely-similar text
    // could legitimately miss all 4 probabilistic bands)
    val q2 = startQuery()
    try {
      input.addData(
        (1L, "a b c d e f g", ts(base + 1000)),
        (2L, "a b c d e f g", ts(base + 2000)))
      q2.processAllAvailable()
    } finally q2.stop()

    import scala.jdk.CollectionConverters._
    // MULTISET compare (sorted seq, not toSet): a lost-state re-emission
    // of doc 1's pair is a DUPLICATE element — a set compare would
    // collapse it and pass the exact regression this test exists for
    assert(collected.asScala.toSeq.sorted ==
      Seq((1L, 10L, 1000L), (2L, 10L, 1000L)),
      s"ingest dedup state lost across restart: ${collected.asScala.toSeq.sorted}")
  }

  test("near-dup ingest pair-dedup state survives a checkpointed restart") {
    assertIngestDedupSurvivesRestart()
  }

  test("near-dup ingest restart also recovers under RocksDB") {
    StateStoreVariants.withRocksDB(spark) {
      assertIngestDedupSurvivesRestart()
    }
  }

  private def assertFrontierDedupSurvivesRestart(): Unit = {
    import org.apache.spark.sql.functions.col
    val ckpt = tempDir("graft_frontier_ckpt").toString
    val visitedDir = tempDir("graft_frontier_vis").toString
    Seq("https://old.org/seen").toDF("canonical_url")
      .write.mode("overwrite").parquet(s"$visitedDir/v")
    val input = MemoryStream[(Long, String, Timestamp)]
    val collected =
      new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def startQuery() = graft.streaming.FrontierGate.discoveries(
        input.toDF().toDF("doc_id", "text", "at"),
        "doc_id", "text", "at", "1 hour", s"$visitedDir/v")
      .writeStream
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) =>
          batch.collect().foreach(r => collected.add(r.getString(0)))
      }
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .start()
    def doc(id: Long, url: String, t: Long) =
      (id, s"""<a href="$url">x</a>""", ts(base + t))

    // query 1: one fresh discovery; the visited URL stays suppressed
    val q1 = startQuery()
    try {
      input.addData(
        doc(1L, "https://new.org/a", 1000),
        doc(2L, "https://old.org/seen", 2000))
      q1.processAllAvailable()
    } finally q1.stop()

    // restart: REPLAY the discovery (must stay suppressed by the
    // RECOVERED within-watermark state — same canonical URL from a
    // different doc) plus one genuinely new URL
    val q2 = startQuery()
    try {
      input.addData(
        doc(3L, "https://new.org/a", 3000),
        doc(4L, "https://new.org/b", 4000))
      q2.processAllAvailable()
    } finally q2.stop()

    import scala.jdk.CollectionConverters._
    // multiset compare: a lost-state re-emission is a duplicate element
    assert(collected.asScala.toSeq.sorted ==
      Seq("https://new.org/a", "https://new.org/b"),
      s"frontier dedup state lost across restart: " +
        s"${collected.asScala.toSeq.sorted}")
  }

  test("frontier-discovery URL-dedup state survives a checkpointed restart") {
    assertFrontierDedupSurvivesRestart()
  }

  test("frontier-discovery restart also recovers under RocksDB") {
    StateStoreVariants.withRocksDB(spark) {
      assertFrontierDedupSurvivesRestart()
    }
  }

  test("maintainIvfPqIndex recovers a crashed compact-and-swap at entry: " +
      "live absent + __old present restores, stale siblings cleared, " +
      "the fold proceeds, probes == a same-model rebuild") {
    // the batch-side recovery guarantee of the same 100TB posture the
    // streaming cases above pin: a maintain* that died between the
    // swap's two renames must not strand the index absent
    import org.apache.spark.sql.functions.col
    import graft.api.VectorOps
    val emb = Tables.embeddings(spark, sf)
    val c0 = emb.filter(col("vec_id") % 5 >= 2)
    val d1 = emb.filter(col("vec_id") % 5 === 1)
    val probes = emb.filter(col("vec_id") % 5 === 0)
    val dir = tempDir("graft-ivfpqr-").toString
    val model = VectorOps.ivfPqTrain(c0, "vec_id", "embedding",
      nCells = 4, m = 8, k = 8, seed = 7L)
    VectorOps.writeIvfPqIndex(c0, "vec_id", "embedding", model, s"$dir/ix")
    // simulate the crash window: live moved aside, fresh copy dangling
    Files.move(
      java.nio.file.Paths.get(s"$dir/ix"),
      java.nio.file.Paths.get(s"$dir/ix__old"))
    Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/ix__compacting"))
    assert(!VectorOps.maintainIvfPqIndex(d1, "vec_id", "embedding",
      s"$dir/ix", compactThreshold = 8))
    assert(!Files.exists(java.nio.file.Paths.get(s"$dir/ix__compacting")) &&
      !Files.exists(java.nio.file.Paths.get(s"$dir/ix__old")),
      "stale siblings must be cleared unconditionally")
    VectorOps.writeIvfPqIndex(c0.unionByName(d1), "vec_id", "embedding",
      model, s"$dir/full")
    def probeSet(path: String) = VectorOps.ivfPqProbe(
        probes, "vec_id", "embedding", path,
        adcX1000Threshold = -2000, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = probeSet(s"$dir/full")
    assert(want.nonEmpty && probeSet(s"$dir/ix") == want,
      "restored-then-folded index must probe like a from-scratch build")
  }

  test("maintainLineIndex recovers a crashed compact-and-swap at entry: " +
      "live absent + __old present restores, the fold proceeds, probes " +
      "== the inline dedupLinesAgainst (the eighth family's crash case)") {
    import org.apache.spark.sql.functions.{col, concat_ws, lit}
    import graft.api.TextOps
    val lined = Tables.documents(spark, sf).select(col("doc_id"),
      concat_ws("\n", lit("COMMON banner"), col("text")).as("text"))
    val c0 = lined.filter(col("doc_id") % 5 >= 2)
    val d1 = lined.filter(col("doc_id") % 5 === 1)
    val probes = lined.filter(col("doc_id") % 5 === 0)
    val dir = tempDir("graft-liner-").toString
    TextOps.writeLineIndex(c0, "doc_id", "text", s"$dir/ix")
    // simulate the crash window: live moved aside, fresh copy dangling
    Files.move(
      java.nio.file.Paths.get(s"$dir/ix"),
      java.nio.file.Paths.get(s"$dir/ix__old"))
    Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/ix__compacting"))
    assert(!TextOps.maintainLineIndex(d1, "doc_id", "text",
      s"$dir/ix", compactThreshold = 8))
    assert(!Files.exists(java.nio.file.Paths.get(s"$dir/ix__compacting")) &&
      !Files.exists(java.nio.file.Paths.get(s"$dir/ix__old")),
      "stale siblings must be cleared unconditionally")
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    val want = asSet(TextOps.dedupLinesAgainst(probes,
      lined.filter(col("doc_id") % 5 >= 1), "doc_id", "text",
      maxDocFreq = 100))
    assert(want.nonEmpty && asSet(TextOps.dedupLinesAgainstIndex(probes,
      "doc_id", "text", s"$dir/ix", maxDocFreq = 100)) == want,
      "restored-then-folded index must probe like a from-scratch build")
  }

  test("maintainEdgeIndex recovers a crashed compact-and-swap at entry: " +
      "live absent + __old present restores, the fold proceeds, ranks " +
      "== the raw-link twin (the ninth family's crash case)") {
    import spark.implicits._
    import graft.operators.PageRank
    val v1 = Seq(("a.org", "b.org"), ("b.org", "c.org")).toDF("src", "dst")
    val d1 = Seq(("c.org", "d.org")).toDF("src", "dst")
    val dir = tempDir("graft-edger-").toString
    PageRank.writeEdgeIndex(v1, "src", "dst", s"$dir/ix")
    // simulate the crash window: live moved aside, fresh copy dangling
    Files.move(
      java.nio.file.Paths.get(s"$dir/ix"),
      java.nio.file.Paths.get(s"$dir/ix__old"))
    Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/ix__compacting"))
    assert(!PageRank.maintainEdgeIndex(d1, "src", "dst", s"$dir/ix",
      compactThreshold = 8))
    assert(!Files.exists(java.nio.file.Paths.get(s"$dir/ix__compacting")) &&
      !Files.exists(java.nio.file.Paths.get(s"$dir/ix__old")),
      "stale siblings must be cleared unconditionally")
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val want = asSet(PageRank.ranksByKey(v1.union(d1), "src", "dst"))
    assert(want.nonEmpty &&
      asSet(PageRank.ranksByKeyAgainstIndex(spark, s"$dir/ix")) == want,
      "restored-then-folded index must rank like a from-scratch build")
  }

  test("maintainWeightedEdgeIndex recovers a crashed compact-and-swap " +
      "at entry: live absent + __old present restores, the fold " +
      "proceeds, weighted ranks == the raw-link twin (the tenth " +
      "family's crash case)") {
    import spark.implicits._
    import graft.operators.PageRank
    val v1 = Seq(("a.org", "b.org", 2L), ("b.org", "c.org", 1L))
      .toDF("src", "dst", "w")
    val d1 = Seq(("a.org", "b.org", 3L), ("c.org", "d.org", 4L))
      .toDF("src", "dst", "w")
    val dir = tempDir("graft-wedger-").toString
    PageRank.writeWeightedEdgeIndex(v1, "src", "dst", "w", s"$dir/ix")
    // simulate the crash window: live moved aside, fresh copy dangling
    Files.move(
      java.nio.file.Paths.get(s"$dir/ix"),
      java.nio.file.Paths.get(s"$dir/ix__old"))
    Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/ix__compacting"))
    assert(!PageRank.maintainWeightedEdgeIndex(d1, "src", "dst", "w",
      s"$dir/ix", compactThreshold = 8))
    assert(!Files.exists(java.nio.file.Paths.get(s"$dir/ix__compacting")) &&
      !Files.exists(java.nio.file.Paths.get(s"$dir/ix__old")),
      "stale siblings must be cleared unconditionally")
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val want = asSet(PageRank.weightedRanksByKey(v1.union(d1),
      "src", "dst", "w"))
    assert(want.nonEmpty &&
      asSet(PageRank.weightedRanksByKeyAgainstIndex(spark,
        s"$dir/ix")) == want,
      "restored-then-folded weighted index must rank like a " +
        "from-scratch build (the overlapping a-b weights must sum to 5)")
  }

  // ---- per-run manifests: the SUM families' append-before-commit
  // crash window, closed STRUCTURALLY (round 16). Each case simulates
  // the crash with the REAL append path — run the fold, then restore
  // the pre-fold meta, which is byte-for-byte the state a crash
  // between append and the meta commit leaves (data files present,
  // run id never committed) — and pins: (a) every read is unchanged,
  // (b) the orphan rows physically exist and WOULD corrupt totals if
  // read unfiltered (non-vacuity), (c) a retried fold's fresh run id
  // never merges with the orphan (the poison delta IS the retried
  // delta, so any double-count surfaces), (d) compaction drops the
  // orphan's bytes from disk.

  test("line-family per-run manifest: an appended-but-uncommitted run " +
      "is invisible, the retried fold cannot double-count with it, " +
      "compaction drops its bytes") {
    import org.apache.spark.sql.functions.{col, concat_ws, lit, sum => sqlSum}
    import graft.api.{IndexMaintenance, TextOps}
    val lined = Tables.documents(spark, sf).select(col("doc_id"),
      concat_ws("\n", lit("COMMON banner"), col("text")).as("text"))
    val c0 = lined.filter(col("doc_id") % 5 >= 2)
    val d1 = lined.filter(col("doc_id") % 5 === 1)
    val probes = lined.filter(col("doc_id") % 5 === 0)
    val dir = tempDir("graft-linemf-").toString
    TextOps.writeLineIndex(c0, "doc_id", "text", s"$dir/ix")
    def probeSet(path: String) = TextOps.dedupLinesAgainstIndex(probes,
        "doc_id", "text", path, maxDocFreq = 100).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    val before = probeSet(s"$dir/ix")
    val meta0 = IndexMaintenance.readMeta(spark, s"$dir/ix",
      TextOps.LineIndex, "test")
    val runs0 = meta0.runs
    TextOps.foldIntoLineIndex(d1, "doc_id", "text", s"$dir/ix")
    IndexMaintenance.writeMeta(spark, s"$dir/ix", meta0)
    assert(probeSet(s"$dir/ix") == before,
      "an uncommitted run changed a read — the crash window is open")
    // non-vacuity: the orphan rows physically exist and carry counts
    // that would inflate totals if read without the manifest filter
    val raw = spark.read.parquet(s"$dir/ix/lines")
    assert(raw.select("__run").distinct().count() == 2,
      "crash simulation vacuous — no orphan run on disk")
    val allTotal = raw.agg(sqlSum("n_docs")).head().getLong(0)
    val committedTotal = IndexMaintenance.committedOnly(
      raw.drop("__lp"), runs0).agg(sqlSum("n_docs")).head().getLong(0)
    assert(allTotal > committedTotal,
      "orphan rows carry no mass — the invisibility assertion is vacuous")
    // the RETRY folds the same delta under a fresh id: if the orphan
    // merged in, every shared line's count would double
    assert(!TextOps.maintainLineIndex(d1, "doc_id", "text", s"$dir/ix",
      compactThreshold = 8))
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    val want = asSet(TextOps.dedupLinesAgainst(probes,
      lined.filter(col("doc_id") % 5 >= 1), "doc_id", "text",
      maxDocFreq = 100))
    assert(want.nonEmpty && probeSet(s"$dir/ix") == want,
      "retried fold double-counted the orphan run (or lost the delta)")
    // compaction rewrites from committed rows only — orphan bytes gone
    TextOps.compactLineIndex(spark, s"$dir/ix", s"$dir/ixc")
    val rawC = spark.read.parquet(s"$dir/ixc/lines")
    assert(rawC.select("__run").distinct().count() == 1)
    val runs2 = IndexMaintenance.readMeta(spark, s"$dir/ix",
      TextOps.LineIndex, "test").runs
    val committedNow = IndexMaintenance.committedOnly(
        spark.read.parquet(s"$dir/ix/lines").drop("__lp"), runs2)
      .agg(sqlSum("n_docs")).head().getLong(0)
    assert(rawC.agg(sqlSum("n_docs")).head().getLong(0) == committedNow,
      "compaction kept orphan mass")
    assert(probeSet(s"$dir/ixc") == want)
  }

  test("gram-family per-run manifest: uncommitted run invisible, retry " +
      "clean, compaction drops orphan bytes") {
    import org.apache.spark.sql.functions.{col, concat_ws, lit, sum => sqlSum}
    import graft.api.{DedupOps, IndexMaintenance}
    // every doc shares one 8-token span with the probes, so per-gram
    // corpus counts are load-bearing for the span output
    val docs = Tables.documents(spark, sf).select(col("doc_id"),
      concat_ws(" ", lit("alpha beta gamma delta epsilon zeta eta theta"),
        col("text")).as("text"))
    val c0 = docs.filter(col("doc_id") % 5 >= 2)
    val d1 = docs.filter(col("doc_id") % 5 === 1)
    val probes = docs.filter(col("doc_id") % 5 === 0)
    val dir = tempDir("graft-grammf-").toString
    DedupOps.writeGramIndex(c0, "doc_id", "text", s"$dir/ix")
    // maxDocsPerGram sits between the committed corpus's count and
    // the double-counted one, so an orphan merging in FLIPS the shared
    // span off (cap exceeded) — the strongest corruption signal
    val nShared = c0.count().toInt + d1.count().toInt
    def probeSet(path: String) = DedupOps.exactSubstringSpansAgainstIndex(
        probes, "doc_id", "text", path, minCorpusDocs = 1,
        maxDocsPerGram = nShared + d1.count().toInt / 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val before = probeSet(s"$dir/ix")
    val meta0 = IndexMaintenance.readMeta(spark, s"$dir/ix",
      DedupOps.GramIndex, "test")
    val runs0 = meta0.runs
    DedupOps.foldIntoGramIndex(d1, "doc_id", "text", s"$dir/ix")
    IndexMaintenance.writeMeta(spark, s"$dir/ix", meta0)
    assert(probeSet(s"$dir/ix") == before,
      "an uncommitted gram run changed a probe — the crash window is open")
    val raw = spark.read.parquet(s"$dir/ix/grams")
    assert(raw.select("__run").distinct().count() == 2,
      "crash simulation vacuous — no orphan run on disk")
    assert(raw.agg(sqlSum("n_docs")).head().getLong(0) >
      IndexMaintenance.committedOnly(raw.drop("__gp"), runs0)
        .agg(sqlSum("n_docs")).head().getLong(0))
    // retry: same delta, fresh id — a double-count crosses the cap and
    // kills the shared span
    assert(!DedupOps.maintainGramIndex(d1, "doc_id", "text", s"$dir/ix",
      compactThreshold = 8))
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val want = asSet(DedupOps.exactSubstringSpansAgainst(probes,
      docs.filter(col("doc_id") % 5 >= 1), "doc_id", "text",
      minCorpusDocs = 1,
      maxDocsPerGram = nShared + d1.count().toInt / 2))
    assert(want.nonEmpty && probeSet(s"$dir/ix") == want,
      "retried gram fold double-counted the orphan run (or lost the delta)")
    DedupOps.compactGramIndex(spark, s"$dir/ix", s"$dir/ixc")
    assert(spark.read.parquet(s"$dir/ixc/grams")
      .select("__run").distinct().count() == 1)
    assert(probeSet(s"$dir/ixc") == want)
  }

  test("weighted-edge per-run manifest: uncommitted run invisible to " +
      "BOTH weighted consumers, retry clean, compaction drops orphan " +
      "bytes from both tables") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, sum => sqlSum}
    import graft.api.IndexMaintenance
    import graft.operators.PageRank
    val v1 = Seq(("a.org", "b.org", 2L), ("b.org", "c.org", 1L))
      .toDF("src", "dst", "w")
    val d1 = Seq(("a.org", "b.org", 3L), ("c.org", "d.org", 4L))
      .toDF("src", "dst", "w")
    val dir = tempDir("graft-wedgemf-").toString
    PageRank.writeWeightedEdgeIndex(v1, "src", "dst", "w", s"$dir/ix")
    def rankSet(path: String) =
      PageRank.weightedRanksByKeyAgainstIndex(spark, path).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    def hitsSet(path: String) =
      PageRank.weightedHitsByKeyAgainstIndex(spark, path).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val (rank0, hits0) = (rankSet(s"$dir/ix"), hitsSet(s"$dir/ix"))
    val meta0 = IndexMaintenance.readMeta(spark, s"$dir/ix",
      PageRank.WeightedEdgeIndex, "test")
    val runs0 = meta0.runs
    PageRank.foldIntoWeightedEdgeIndex(d1, "src", "dst", "w", s"$dir/ix")
    IndexMaintenance.writeMeta(spark, s"$dir/ix", meta0)
    assert(rankSet(s"$dir/ix") == rank0 && hitsSet(s"$dir/ix") == hits0,
      "an uncommitted weighted run changed a consumer — window open")
    val rawE = spark.read.parquet(s"$dir/ix/edges")
    assert(rawE.select("__run").distinct().count() == 2,
      "crash simulation vacuous — no orphan edge run on disk")
    assert(rawE.agg(sqlSum("w")).head().getLong(0) >
      IndexMaintenance.committedOnly(rawE.drop("__ep"), runs0)
        .agg(sqlSum("w")).head().getLong(0))
    // retry the SAME delta: the overlapping a-b weight must land at
    // 2+3 = 5, not 2+3+3 (orphan merged) — both consumers checked
    assert(!PageRank.maintainWeightedEdgeIndex(d1, "src", "dst", "w",
      s"$dir/ix", compactThreshold = 8))
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val wantRank = asSet(PageRank.weightedRanksByKey(v1.union(d1),
      "src", "dst", "w"))
    val wantHits = asSet(PageRank.weightedHitsByKey(v1.union(d1),
      "src", "dst", "w"))
    assert(wantRank.nonEmpty && rankSet(s"$dir/ix") == wantRank,
      "retried weighted fold double-counted the orphan (rank consumer)")
    assert(hitsSet(s"$dir/ix") == wantHits,
      "retried weighted fold double-counted the orphan (HITS consumer)")
    PageRank.compactWeightedEdgeIndex(spark, s"$dir/ix", s"$dir/ixc")
    assert(spark.read.parquet(s"$dir/ixc/edges")
      .select("__run").distinct().count() == 1)
    assert(spark.read.parquet(s"$dir/ixc/vertices")
      .select("__run").distinct().count() == 1)
    assert(rankSet(s"$dir/ixc") == wantRank &&
      hitsSet(s"$dir/ixc") == wantHits)
  }

  test("REMOVAL runs are crash-safe under each family's discipline: " +
      "an uncommitted signed run is invisible (weighted, manifest) " +
      "and a meta bump with the tombstone run missing is harmless " +
      "(set family, meta-first idempotence)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.api.IndexMaintenance
    import graft.operators.PageRank
    // weighted: crash between the signed run's append and its commit
    val v1 = Seq(("a.org", "b.org", 5L), ("b.org", "c.org", 2L))
      .toDF("src", "dst", "w")
    val dir = tempDir("graft-tombr-").toString
    PageRank.writeWeightedEdgeIndex(v1, "src", "dst", "w", s"$dir/wix")
    def rankSet(path: String) =
      PageRank.weightedRanksByKeyAgainstIndex(spark, path).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val healthy = rankSet(s"$dir/wix")
    val meta0 = IndexMaintenance.readMeta(spark, s"$dir/wix",
      PageRank.WeightedEdgeIndex, "test")
    PageRank.foldRemovalsIntoWeightedEdgeIndex(
      Seq(("a.org", "b.org", 5L)).toDF("src", "dst", "w"),
      "src", "dst", "w", s"$dir/wix")
    IndexMaintenance.writeMeta(spark, s"$dir/wix", meta0)
    assert(rankSet(s"$dir/wix") == healthy,
      "an uncommitted signed removal run changed a read")
    // the retried removal then applies exactly once
    PageRank.foldRemovalsIntoWeightedEdgeIndex(
      Seq(("a.org", "b.org", 5L)).toDF("src", "dst", "w"),
      "src", "dst", "w", s"$dir/wix")
    val want = PageRank.weightedRanksByKey(
        Seq(("b.org", "c.org", 2L)).toDF("src", "dst", "w"),
        "src", "dst", "w").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(rankSet(s"$dir/wix") == want,
      "retried removal double-applied (orphan merged) or was lost")
    // set family: the meta-first shape — a bumped layer count whose
    // tombstone run never landed reads the same graph
    val e1 = Seq(("a.org", "b.org"), ("b.org", "c.org")).toDF("src", "dst")
    PageRank.writeEdgeIndex(e1, "src", "dst", s"$dir/eix")
    def eGot() = PageRank.ranksByKeyAgainstIndex(spark, s"$dir/eix")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    val eHealthy = eGot()
    val emeta = IndexMaintenance.readMeta(spark, s"$dir/eix",
      PageRank.EdgeIndex, "test")
    IndexMaintenance.writeMeta(spark, s"$dir/eix",
      emeta.set("layers" -> (emeta.layers + 1)))
    assert(eGot() == eHealthy,
      "a bumped meta with no tombstone run changed the set-family read")
  }

  test("card-family per-run manifest: uncommitted run invisible, retry " +
      "clean (no double-count on overlapping leaves), compaction drops " +
      "orphan bytes, and the crash cannot lose the TAG manifest") {
    import org.apache.spark.sql.functions.{col, sum => sqlSum}
    import graft.api.{CardOps, IndexMaintenance}
    val docs = Tables.documents(spark, sf)
    val c0 = docs.filter(col("doc_id") % 5 >= 2)
    val d1 = docs.filter(col("doc_id") % 5 === 1)
    val dir = tempDir("graft-cardmf-").toString
    CardOps.writeCardIndex(c0, "doc_id", "text", "source", "lang",
      s"$dir/ix")
    def cardNow(path: String) = CardOps
      .datasetCardAgainstIndex(spark, path).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    val before = cardNow(s"$dir/ix")
    val meta0 = IndexMaintenance.readMeta(spark, s"$dir/ix",
      CardOps.CardIndex, "test")
    val runs0 = meta0.runs
    // crash between append and commit: fold lands, meta restored —
    // the TAGGED form, so a lost tag would also be visible
    CardOps.foldIntoCardIndex(d1, "doc_id", "text", "source", "lang",
      s"$dir/ix", tag = Some("day-1"))
    IndexMaintenance.writeMeta(spark, s"$dir/ix", meta0)
    assert(cardNow(s"$dir/ix") == before,
      "an uncommitted card run changed a read — the crash window is open")
    val raw = spark.read.parquet(s"$dir/ix/stats")
    assert(raw.select("__run").distinct().count() == 2,
      "crash simulation vacuous — no orphan run on disk")
    assert(raw.agg(sqlSum("n_docs")).head().getLong(0) >
      IndexMaintenance.committedOnly(raw, runs0)
        .agg(sqlSum("n_docs")).head().getLong(0),
      "orphan rows carry no mass — the invisibility assertion is vacuous")
    // the tag died with the uncommitted meta, so the RETRY of the same
    // logical batch must APPLY (fresh physical run, no orphan merge)
    assert(CardOps.maintainCardIndexTagged(d1, "doc_id", "text",
      "source", "lang", s"$dir/ix", tag = "day-1"),
      "retry of a crashed tagged fold must apply")
    def batchCard(d: org.apache.spark.sql.DataFrame) = graft.api.TextOps
      .datasetCard(d, "doc_id", "text", "source", "lang").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    val want = batchCard(c0.union(d1))
    assert(want.nonEmpty && cardNow(s"$dir/ix") == want,
      "retried card fold double-counted the orphan run (or lost the delta)")
    // and NOW the replay no-ops — the commit carried the tag
    assert(!CardOps.maintainCardIndexTagged(d1, "doc_id", "text",
      "source", "lang", s"$dir/ix", tag = "day-1"))
    // compaction rewrites from committed rows only — orphan bytes gone
    CardOps.compactCardIndex(spark, s"$dir/ix", s"$dir/ixc")
    val rawC = spark.read.parquet(s"$dir/ixc/stats")
    assert(rawC.select("__run").distinct().count() == 1)
    assert(cardNow(s"$dir/ixc") == want)
  }

  // ---- the crash-point matrix: every persisted index family ----------

  /** One persisted index family, driven only through its public entry
    * points. Rows split by `idCol % 6`: 0-2 build the index, 3/4/5 are
    * three deltas, and `idCol % 4 == 0` rows probe it. `commitFile` is
    * the manifest a fold commits last (`runs` for IVF-PQ's sidecar).
    */
  private case class IndexFamily(name: String,
      family: graft.api.IndexMaintenance.Family, commitFile: String,
      rows: org.apache.spark.sql.DataFrame, idCol: String,
      build: (org.apache.spark.sql.DataFrame, String) => Unit,
      fold: (org.apache.spark.sql.DataFrame, String) => Unit,
      maintain: (org.apache.spark.sql.DataFrame, String) => Boolean,
      compact: (String, String) => Unit,
      probe: String => Set[Seq[Any]])

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private lazy val indexFamilies: Seq[IndexFamily] = {
    import org.apache.spark.sql.functions.{col, concat, concat_ws, lit}
    import graft.api.{CardOps, DedupOps, TextOps, VectorOps}
    import graft.operators.PageRank
    val docs = Tables.documents(spark, sf)
    val probeDocs = docs.filter(col("doc_id") % 4 === 0)
    // every third doc shares a banner line: a banner's corpus count
    // crosses maxDocFreq only once deltas land
    val lined = docs.select(col("doc_id"), concat_ws("\n",
      concat(lit("banner "), col("doc_id") % 3), col("text")).as("text"))
    val fps = DedupOps.simhashFingerprint(docs, "doc_id", "text")
      .select(col("doc_id"), col("simhash"))
    val emb = Tables.embeddings(spark, sf)
    val planes = graft.queries.DedupQueries.lshPlanes
    val model = VectorOps.ivfPqTrain(emb.filter(col("vec_id") % 6 < 3),
      "vec_id", "embedding", nCells = 4, m = 8, k = 8, seed = 7L)
    val links = docs.select(col("doc_id"),
      concat(lit("h"), col("doc_id") % 17).as("src"),
      concat(lit("h"), (col("doc_id") * 7) % 23).as("dst"),
      (col("doc_id") % 3 + 1).as("w"))
    def probeOf(df: org.apache.spark.sql.DataFrame, idCol: String) =
      df.filter(col(idCol) % 4 === 0)
    Seq(
      IndexFamily("minhash", DedupOps.MinhashIndex, "meta", docs, "doc_id",
        DedupOps.writeMinhashIndex(_, "doc_id", "text", _),
        DedupOps.foldIntoMinhashIndex(_, "doc_id", "text", _),
        DedupOps.maintainMinhashIndex(_, "doc_id", "text", _),
        DedupOps.compactMinhashIndex(spark, _, _),
        ix => rowsOf(DedupOps.minhashPairsAgainstIndex(probeDocs, "doc_id",
          "text", ix, jaccardX1000Threshold = 0))),
      IndexFamily("fingerprint", DedupOps.FingerprintIndex, "meta", fps,
        "doc_id",
        DedupOps.writeFingerprintIndex(_, "doc_id", "simhash", 60, 3, _),
        DedupOps.foldIntoFingerprintIndex(_, "doc_id", "simhash", _),
        DedupOps.maintainFingerprintIndex(_, "doc_id", "simhash", _),
        DedupOps.compactFingerprintIndex(spark, _, _),
        ix => rowsOf(DedupOps.fingerprintPairsAgainstIndex(
          probeOf(fps, "doc_id"), "doc_id", "simhash", ix))),
      IndexFamily("gram", DedupOps.GramIndex, "meta", docs, "doc_id",
        DedupOps.writeGramIndex(_, "doc_id", "text", _, gramTokens = 3),
        DedupOps.foldIntoGramIndex(_, "doc_id", "text", _),
        DedupOps.maintainGramIndex(_, "doc_id", "text", _),
        DedupOps.compactGramIndex(spark, _, _),
        ix => rowsOf(DedupOps.exactSubstringSpansAgainstIndex(probeDocs,
          "doc_id", "text", ix, maxDocsPerGram = 40))),
      IndexFamily("CDC", DedupOps.CdcIndex, "meta", docs, "doc_id",
        DedupOps.writeCdcChunkIndex(_, "doc_id", "text", _, modulus = 8),
        DedupOps.foldIntoCdcChunkIndex(_, "doc_id", "text", _),
        DedupOps.maintainCdcChunkIndex(_, "doc_id", "text", _),
        DedupOps.compactCdcChunkIndex(spark, _, _),
        ix => rowsOf(DedupOps.cdcChunkHitsAgainstIndex(probeDocs, "doc_id",
          "text", ix))),
      IndexFamily("sign", VectorOps.SignIndex, "meta", emb, "vec_id",
        VectorOps.writeSignIndex(_, "vec_id", "embedding", planes, _),
        VectorOps.foldIntoSignIndex(_, "vec_id", "embedding", planes, _),
        VectorOps.maintainSignIndex(_, "vec_id", "embedding", planes, _),
        VectorOps.compactSignIndex(spark, _, _),
        ix => rowsOf(VectorOps.probeSignIndex(probeOf(emb, "vec_id"),
          "vec_id", "embedding", planes, ix, simX1000Threshold = 400))),
      IndexFamily("IVF-PQ", VectorOps.IvfPqIndex("vec_id"), "runs", emb,
        "vec_id",
        VectorOps.writeIvfPqIndex(_, "vec_id", "embedding", model, _,
          storeVectors = true),
        VectorOps.foldIntoIvfPqIndex(_, "vec_id", "embedding", _),
        VectorOps.maintainIvfPqIndex(_, "vec_id", "embedding", _),
        VectorOps.compactIvfPqIndex(spark, _, _),
        ix => rowsOf(VectorOps.ivfPqProbe(probeOf(emb, "vec_id"), "vec_id",
          "embedding", ix, adcX1000Threshold = -2000, nprobe = 2)) ++
          rowsOf(VectorOps.readIvfPqVectors(spark, ix))),
      IndexFamily("BM25", TextOps.Bm25Index, "meta", docs, "doc_id",
        TextOps.writeBm25Index(_, "doc_id", "text", _),
        TextOps.foldIntoBm25Index(_, "doc_id", "text", _),
        TextOps.maintainBm25Index(_, "doc_id", "text", _),
        TextOps.compactBm25Index(spark, _, _),
        ix => rowsOf(TextOps.bm25TopKAgainstIndex(
          probeDocs.select(col("doc_id").as("qid"), col("text")), "qid",
          "text", ix, "doc_id", k = 5))),
      IndexFamily("line", TextOps.LineIndex, "meta", lined, "doc_id",
        TextOps.writeLineIndex(_, "doc_id", "text", _),
        TextOps.foldIntoLineIndex(_, "doc_id", "text", _),
        TextOps.maintainLineIndex(_, "doc_id", "text", _),
        TextOps.compactLineIndex(spark, _, _),
        ix => rowsOf(TextOps.dedupLinesAgainstIndex(probeOf(lined, "doc_id"),
          "doc_id", "text", ix, maxDocFreq = 100))),
      IndexFamily("card", CardOps.CardIndex, "meta", docs, "doc_id",
        CardOps.writeCardIndex(_, "doc_id", "text", "source", "lang", _),
        CardOps.foldIntoCardIndex(_, "doc_id", "text", "source", "lang", _),
        CardOps.maintainCardIndex(_, "doc_id", "text", "source", "lang", _),
        CardOps.compactCardIndex(spark, _, _),
        ix => rowsOf(CardOps.datasetCardAgainstIndex(spark, ix))),
      IndexFamily("edge", PageRank.EdgeIndex, "meta", links, "doc_id",
        PageRank.writeEdgeIndex(_, "src", "dst", _),
        PageRank.foldIntoEdgeIndex(_, "src", "dst", _),
        PageRank.maintainEdgeIndex(_, "src", "dst", _),
        PageRank.compactEdgeIndex(spark, _, _),
        ix => rowsOf(PageRank.ranksByKeyAgainstIndex(spark, ix)) ++
          rowsOf(PageRank.hitsByKeyAgainstIndex(spark, ix))),
      IndexFamily("weighted edge", PageRank.WeightedEdgeIndex, "meta", links,
        "doc_id",
        PageRank.writeWeightedEdgeIndex(_, "src", "dst", "w", _),
        PageRank.foldIntoWeightedEdgeIndex(_, "src", "dst", "w", _),
        PageRank.maintainWeightedEdgeIndex(_, "src", "dst", "w", _),
        PageRank.compactWeightedEdgeIndex(spark, _, _),
        ix => rowsOf(PageRank.weightedRanksByKeyAgainstIndex(spark, ix)) ++
          rowsOf(PageRank.weightedHitsByKeyAgainstIndex(spark, ix))))
  }

  test("crash-point matrix: every index family recovers at its next " +
      "maintain* from a crash before the meta commit, a crash between " +
      "the swap's renames and stale siblings, and a stale writer lock " +
      "fails naming the lock file") {
    import org.apache.spark.sql.functions.col
    import graft.api.IndexMaintenance
    assert(indexFamilies.map(_.name).distinct.size == 11)
    indexFamilies.foreach { f =>
      def slice(k: Int*) = f.rows.filter((col(f.idCol) % 6).isin(k: _*))
      val ix = tempDir("graft-crashmx-").toString + "/ix"
      def path(suffix: String) = java.nio.file.Paths.get(s"$ix$suffix")
      f.build(slice(0, 1, 2), ix)

      // (1) crash after the append, before the meta commit: the real
      // fold lands its runs, then the pre-fold manifest is put back;
      // the next maintain* retries the same delta
      val committed = IndexMaintenance.readMeta(spark, ix, f.family, "test",
        f.commitFile)
      f.fold(slice(3), ix)
      IndexMaintenance.writeMeta(spark, ix, committed, f.commitFile)
      assert(!f.maintain(slice(3), ix), s"${f.name}: unexpected compaction")

      // (2) crash between the swap's two renames: the compacted copy
      // sits in __compacting, the live index was moved to __old
      f.compact(ix, s"${ix}__compacting")
      Files.move(path(""), path("__old"))
      assert(!f.maintain(slice(4), ix))
      assert(Files.exists(path("")) && !Files.exists(path("__compacting")) &&
        !Files.exists(path("__old")), s"${f.name}: swap not recovered")

      // (3) stale __compacting/__old siblings next to a healthy index,
      // behind (4) a stale writer lock, which must fail by name first
      Files.createDirectories(path("__compacting"))
      Files.createDirectories(path("__old"))
      Files.createFile(path("__writer.lock"))
      val e = intercept[IllegalStateException](f.maintain(slice(5), ix))
      assert(e.getMessage.contains(s"${ix}__writer.lock"),
        s"${f.name}: ${e.getMessage}")
      Files.delete(path("__writer.lock"))
      assert(!f.maintain(slice(5), ix))
      assert(!Files.exists(path("__compacting")) &&
        !Files.exists(path("__old")),
        s"${f.name}: stale siblings must be cleared")

      // every recovery composed: the probe equals a from-scratch build
      // over the corpus plus each delta applied exactly once
      val fresh = s"$ix-rebuild"
      f.build(slice(0, 1, 2, 3, 4, 5), fresh)
      val want = f.probe(fresh)
      assert(want.nonEmpty, s"${f.name}: empty probe — the check is vacuous")
      assert(f.probe(ix) == want,
        s"${f.name}: the recovered index probes unlike a rebuild")
    }
  }

  test("every index family fails loudly, naming the path, when a fold " +
      "or a probe meets a deleted meta (IVF-PQ: a fold meets a deleted " +
      "runs sidecar)") {
    import org.apache.spark.sql.functions.col
    indexFamilies.foreach { f =>
      val dir = tempDir("graft-nometa-").toString
      val ix = s"$dir/ix"
      f.build(f.rows.filter(col(f.idCol) % 6 < 3), ix)
      val delta = f.rows.filter(col(f.idCol) % 6 === 3)
      def assertNamed(file: String)(body: => Any): Unit = {
        val e = intercept[Exception](body)
        assert(e.getMessage.contains(s"$ix/$file"),
          s"${f.name}: unnamed error: ${e.getMessage}")
      }
      def rm(file: String): Unit = org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(s"$ix/$file"))
      rm(f.commitFile)
      assertNamed(f.commitFile)(f.fold(delta, ix))
      rm("meta")
      assertNamed("meta")(f.fold(delta, ix))
      assertNamed("meta")(f.probe(ix))
    }
  }
}
