package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.DedupOps

/** Streaming incremental fingerprint-dedup gate — the unbounded twin
  * of [[graft.api.DedupOps.fingerprintPairsAgainst]], and the
  * fingerprint-modality sibling of [[NearDupIngest]] (shingle-MinHash):
  * a stream of NEW fingerprints (text simhash, image dHash, audio
  * envelope — any `bits`-wide hash) probes a STATIC corpus's capped
  * pigeonhole block buckets and emits exact-hamming-verified pairs in
  * append mode. A doc_new appearing in the output IS the drop
  * decision, exactly as in the MinHash gate.
  *
  * Blocking, caps, and verification all come from the SAME DedupOps
  * internals the batch paths use ([[graft.api.DedupOps]]
  * `fingerprintBands` / `bandBuckets`), so stream and batch cannot
  * band differently — StreamingSpec pins row-for-row parity against
  * the batch probe on the same delta/corpus split.
  *
  * Static-side contract: the corpus index is built once per corpus
  * version and SNAPSHOTTED at author time via an eager
  * `localCheckpoint` (a stream-static join re-evaluates the static
  * side per micro-batch; un-materialized, every batch would re-band
  * the full corpus). The lineage cut is load-bearing, not an
  * optimization: a merely-`persist()`ed plan still references the
  * index path, and a fold WRITING that path makes Spark's
  * `refreshByPath` re-cache the plan with a fresh file listing — the
  * fold became visible MID-SERVE, violating the reader contract the
  * Bm25/Cdc gates document (found by the StreamingSpec
  * fold-while-serving case, round 13). A checkpointed snapshot has no
  * file-source relation for the refresh to match, so fold-invisible-
  * until-re-author holds by construction. Retire an index via
  * [[FpIndex.unpersist]]. The only streaming state is the
  * within-watermark (doc_new, doc_old) dedup.
  *
  * The trade the lineage cut buys snapshot isolation with: the
  * checkpointed blocks are NON-RECOMPUTABLE. Where a `persist()`ed
  * static side could rebuild a block lost to executor death
  * mid-serve, losing a `localCheckpoint` block permanently fails the
  * gate query — acceptable in `local[n]` (one JVM: losing an executor
  * IS losing the driver) and for restart-supervised streams (the
  * re-author rebuilds the snapshot from the index path, picking up
  * any folds that landed — the documented re-author semantics). A
  * long-lived multi-executor deployment that cannot tolerate
  * query-level restarts should instead snapshot by COPYING the index
  * slice to a path-stable location and authoring the gate against the
  * copy: same isolation (folds target the live path, not the copy),
  * executor loss recomputes from the copied files. That alternative
  * is built: pass `snapshotPath` to [[indexFromPath]] (the
  * [[GateSnapshot.toPath]] strategy — also on Gram/Line;
  * StreamingSpec pins that the copy survives an explicit unpersist
  * AND a checkpoint drain mid-serve).
  */
object FingerprintGate {

  /** The corpus-side static state: capped block buckets for candidate
    * generation, plus (doc_old, sh_old) fingerprints for the exact
    * verify — both ids + one Long per row, never payloads. Both are
    * eager lineage-cut snapshots (see the object note); releasing
    * them is the caller's job once the gate's query stops.
    */
  case class FpIndex(buckets: DataFrame, fps: DataFrame,
      bits: Int, hammingMax: Int) {
    def unpersist(): Unit = {
      graft.api.Lifecycle.releaseLocalCheckpoint(buckets)
      graft.api.Lifecycle.releaseLocalCheckpoint(fps)
      ()
    }
  }

  /** Eager author-time snapshot of a static-side frame (shared
    * [[GateSnapshot.inMemory]]): materialize, cut lineage, and
    * register the blocks as cache-owned so a
    * [[graft.BenchHarness]]-style checkpoint drain (which releases
    * thunk-private checkpoints) cannot truncate a frame a LIVE gate
    * still joins every micro-batch. [[FpIndex.unpersist]] both
    * unregisters and releases.
    */
  private def snapshot(df: DataFrame): DataFrame = GateSnapshot.inMemory(df)

  /** Build the static index from a corpus fingerprint frame
    * (idCol, fpCol). Both frames persist here — see the class note.
    */
  def index(corpusFps: DataFrame, idCol: String, fpCol: String,
      bits: Int, hammingMax: Int = 3,
      maxBucket: Int = DedupOps.DefaultMaxBucket): FpIndex = {
    // the batch entry points reject degenerate geometry and reserved
    // column collisions by name; the stream twin must too (a 2-bit
    // block layout would silently tombstone nearly every bucket)
    DedupOps.fingerprintValidate("FingerprintGate.index", idCol, fpCol,
      bits, hammingMax)
    graft.functions.SketchAggregates.register(corpusFps.sparkSession)
    val buckets = DedupOps.bandBuckets(
      DedupOps.fingerprintBands(corpusFps, idCol, fpCol, bits, hammingMax),
      idCol, maxBucket)
    FpIndex(snapshot(buckets),
      snapshot(corpusFps.select(col(idCol).as("doc_old"),
        col(fpCol).as("sh_old"))),
      bits, hammingMax)
  }

  /** Build the static gate state from a PERSISTED
    * [[graft.api.DedupOps.writeFingerprintIndex]] — the stream deploy
    * matching the batch deploy
    * ([[graft.api.DedupOps.fingerprintPairsAgainstIndex]]): geometry
    * comes off the index's own meta, layered runs reconcile ONCE at
    * graph-author time, and the reconciled frames are lineage-cut
    * snapshots (see the object note): folds landing while the gate
    * serves are invisible until re-author — StreamingSpec pins this
    * end-to-end — and compaction swaps still require quiescing (the
    * Bm25Gate/CdcGate reader contract).
    */
  def indexFromPath(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, snapshotPath: Option[String] = None): FpIndex = {
    val op = "FingerprintGate.indexFromPath"
    val m = graft.api.IndexMaintenance.readMeta(spark, indexPath,
      DedupOps.FingerprintIndex, op)
    def read(dir: String) = graft.api.IndexMaintenance.read(spark,
      indexPath, DedupOps.FingerprintIndex, m, dir, op)
    FpIndex(
      GateSnapshot.of(read("buckets").filter(col("__cs").isNotNull),
        snapshotPath.map(p => s"$p/buckets")),
      GateSnapshot.of(read("fps")
        .select(col("doc_old"), col("fp_old").as("sh_old")),
        snapshotPath.map(p => s"$p/fps")),
      m.int("bits"), m.int("hamming_max"))
  }

  /** newFps: a STREAMING frame with (idCol, fpCol, tsCol). Emits
    * (doc_new, doc_old, hamming) pairs verified at <= the index's
    * hammingMax, append mode: band map-only → stream-static join on
    * (band, bkey) → candidate explode → within-watermark pair dedup →
    * exact bit_count(xor) verify against the static fingerprints.
    */
  def pairs(newFps: DataFrame, idCol: String, fpCol: String,
      tsCol: String, delay: String, corpus: FpIndex): DataFrame = {
    val reserved = Set("band", "bkey", "pos", "col", "__cs",
      "doc_new", "doc_old", "sh_a", "sh_old", "hamming")
    Seq(idCol, fpCol, tsCol).foreach(c => require(!reserved.contains(c),
      s"FingerprintGate.pairs: column '$c' collides with a working " +
        s"column (${reserved.mkString(", ")}) — rename it first"))
    val banded = DedupOps.fingerprintBands(newFps, idCol, fpCol,
      corpus.bits, corpus.hammingMax, carry = Seq(tsCol, fpCol))
    Watermark.on(banded, tsCol, delay)
      .join(corpus.buckets, Seq("band", "bkey"))
      .select(col(idCol).as("doc_new"), col(tsCol),
        col(fpCol).as("sh_a"), explode(col("__cs")).as("doc_old"))
      .dropDuplicatesWithinWatermark("doc_new", "doc_old")
      .join(corpus.fps, Seq("doc_old"))
      .select(col("doc_new"), col("doc_old"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_old"))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= corpus.hammingMax)
  }
}
