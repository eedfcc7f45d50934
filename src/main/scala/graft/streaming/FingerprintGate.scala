package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.{DedupOps, IndexMaintenance}

/** Streaming incremental fingerprint-dedup gate — the unbounded twin
  * of [[graft.api.DedupOps.fingerprintPairsAgainst]], and the
  * fingerprint-modality sibling of [[NearDupIngest]] (shingle-MinHash):
  * a stream of NEW fingerprints (text simhash, image dHash, audio
  * envelope — any `bits`-wide hash) probes a STATIC corpus's capped
  * pigeonhole block buckets and emits exact-hamming-verified pairs in
  * append mode. A doc_new appearing in the output IS the drop
  * decision, exactly as in the MinHash gate.
  *
  * The static side is the fingerprint family's one row derivation
  * (`DedupOps.fingerprintRows`), derived from a corpus frame
  * ([[index]]) or read from a persisted index ([[indexFromPath]]) —
  * the two sources the batch probes read — and candidates verify
  * through the family's one hamming verify (`DedupOps.verifyHamming`);
  * only the candidate step is the gate's own (a within-watermark pair
  * dedup). Stream and batch cannot band or verify differently —
  * StreamingSpec pins row-for-row parity against the batch probe on
  * the same delta/corpus split.
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
  * The lineage cut makes the snapshot NON-RECOMPUTABLE; when that
  * trade is acceptable, and the path-stable copy that avoids it
  * (`snapshotPath` on [[indexFromPath]]), are [[GateSnapshot]]'s note.
  */
object FingerprintGate {

  /** The corpus-side static state: the live capped block buckets for
    * candidate generation, plus the (doc_old, fp_old) fingerprints for
    * the exact verify — both ids + one Long per row, never payloads.
    * Both are author-time snapshots (see the object note); releasing
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

  /** Build the static index from a corpus fingerprint frame
    * (idCol, fpCol), snapshotted in memory ([[GateSnapshot.inMemory]]:
    * registered cache-owned, so a checkpoint drain cannot truncate a
    * frame a LIVE gate still joins; [[FpIndex.unpersist]] both
    * unregisters and releases).
    */
  def index(corpusFps: DataFrame, idCol: String, fpCol: String,
      bits: Int, hammingMax: Int = 3,
      maxBucket: Int = DedupOps.DefaultMaxBucket): FpIndex = {
    // the batch entry points reject degenerate geometry and reserved
    // column collisions by name; the stream twin must too (a 2-bit
    // block layout would silently tombstone nearly every bucket)
    DedupOps.fingerprintValidate("FingerprintGate.index", idCol, fpCol,
      bits, hammingMax)
    author(IndexMaintenance.Corpus.derived("max_bucket" -> maxBucket,
      "bits" -> bits, "hamming_max" -> hammingMax)(
      DedupOps.fingerprintRows(corpusFps, idCol, fpCol)), None)
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
      indexPath: String, snapshotPath: Option[String] = None): FpIndex =
    author(IndexMaintenance.Corpus.indexed(spark, indexPath,
      DedupOps.FingerprintIndex, "FingerprintGate.indexFromPath"),
      snapshotPath)

  private def author(corpus: IndexMaintenance.Corpus,
      snapshotPath: Option[String]): FpIndex =
    FpIndex(
      GateSnapshot.of(corpus("buckets").filter(col("__cs").isNotNull),
        snapshotPath.map(p => s"$p/buckets")),
      GateSnapshot.of(corpus("fps"), snapshotPath.map(p => s"$p/fps")),
      corpus.meta.int("bits"), corpus.meta.int("hamming_max"))

  /** newFps: a STREAMING frame with (idCol, fpCol, tsCol). Emits
    * (doc_new, doc_old, hamming) pairs verified at <= the index's
    * hammingMax, append mode: band map-only → stream-static join on
    * (band, bkey) → candidate explode → within-watermark pair dedup →
    * the family's exact bit_count(xor) verify against the static
    * fingerprints.
    */
  def pairs(newFps: DataFrame, idCol: String, fpCol: String,
      tsCol: String, delay: String, corpus: FpIndex): DataFrame = {
    val reserved = Set("band", "bkey", "pos", "col", "__cs",
      "doc_new", "doc_old", "sh_a", "sh_b", "hamming")
    Seq(idCol, fpCol, tsCol).foreach(c => require(!reserved.contains(c),
      s"FingerprintGate.pairs: column '$c' collides with a working " +
        s"column (${reserved.mkString(", ")}) — rename it first"))
    val banded = DedupOps.fingerprintBands(newFps, idCol, fpCol,
      corpus.bits, corpus.hammingMax, carry = Seq(tsCol, fpCol))
    val cand = Watermark.on(banded, tsCol, delay)
      .join(corpus.buckets, Seq("band", "bkey"))
      .select(col(idCol).as("doc_new"), col(tsCol),
        col(fpCol).as("sh_a"), explode(col("__cs")).as("doc_old"))
      .dropDuplicatesWithinWatermark("doc_new", "doc_old")
      .join(corpus.fps.select(col("doc_old"), col("fp_old").as("sh_b")),
        Seq("doc_old"))
    DedupOps.verifyHamming(cand, "doc_new", "doc_old", corpus.hammingMax)
  }
}
