package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.api.{TextOps, VectorOps}

/** The q141 deployed retrieval shape as a STREAM: a continuous query
  * stream probes the persisted BM25 + IVF-PQ indexes per micro-batch
  * through the exact batch path ([[TextOps.hybridTopKAgainstIndexes]]
  * inside `foreachBatch` — the [[graft.api.VectorOps.ivfPqProbeEachBatch]]
  * discipline). Re-entering the batch function per micro-batch is the
  * whole design: each batch keeps BOTH prunings the deployed shape is
  * specified by — the lexical leg's `__bp` prefix-pruned contrib scan
  * (driver-side prefix collect works on a batch frame) and the
  * semantic leg's cell-directory-pruned ADC scan — so per-batch cost
  * is query-shaped and NO corpus frame appears in any batch's plan,
  * and stream-vs-batch parity is structural (same function), not
  * maintained in parallel. Retrieval is stateless per query, so there
  * is no watermark and no streaming state — the gate is pure
  * stream-static.
  *
  * FRESHNESS CONTRACT — deliberately the OPPOSITE of the dedup gates'
  * author-time snapshots: a retrieval gate wants newly folded
  * documents retrievable, so each micro-batch re-reads the indexes
  * and a [[TextOps.foldIntoBm25Index]] /
  * [[graft.api.VectorOps.foldIntoIvfPqIndex]] landing between batches
  * is VISIBLE from the next batch on (StreamingSpec pins
  * fold-then-next-batch == the batch call over the folded indexes).
  * What makes per-batch re-reads safe at batch granularity is the
  * indexes' own write discipline: IVF-PQ folds never rewrite meta
  * (frozen codebooks; codes rows are per-vector appends) and BM25
  * folds leave the baked `contrib/` stale while appending postings —
  * the flip to the new corpus is the meta's `layers` bump, one small
  * overwritten file.
  *
  * MID-BATCH FOLD ISOLATION (StreamingSpec-pinned): each batch's
  * `hybridTopKAgainstIndexes` call reads both metas and builds both
  * scans — eager parquet file listings, the driver-side `__bp`
  * prefix collect — BEFORE anything materializes, so a plain fold
  * landing between plan authoring and materialization cannot tint
  * that batch: the bm25 leg's ONE meta read chose its path while
  * layers was pre-fold (the compacted posture reads baked `contrib/`,
  * which folds never touch; a layered read's postings listing
  * predates the appended run), the IVF codes listing predates the
  * fold's appended files, and the fold flips in atomically at the
  * NEXT batch's meta reads. A fold landing between the two LEGS' plan
  * constructions (a narrower window: driver-side, microseconds) mixes
  * leg-level corpus versions — each leg still pure, the fusion
  * stale×fresh, exactly a production retrieval tier's staleness
  * blip, never an invalid ranking. The one same-leg skew window is a
  * fold under an ALREADY-LAYERED bm25 index (meta read pre-bump +
  * postings listing post-append would pair old stats with new
  * postings); serve compacted indexes (the production posture) or
  * quiesce plain folds too when serving layered. The remaining races
  * are the documented maintain-vs-reader ones: a batch reading meta
  * DURING its overwrite can fail transiently, and a compaction swap
  * deletes files mid-read. Quiesce the gate across maintain* (the
  * [[graft.api.IndexMaintenance]] reader contract); plain folds
  * between batches need no quiesce.
  */
object RetrievalGate {

  /** `sink(fused, batchId)` receives each micro-batch's fused ranking
    * — (qid, rank, idCol, rrf), exactly
    * [[TextOps.hybridTopKAgainstIndexes]]'s output on that batch's
    * queries. Returns the configured writer (caller sets
    * checkpoint/trigger and calls `.start()`). Both indexes are
    * validated at stream-author time (a missing or partially copied
    * index fails HERE with its named error, not at the first batch).
    */
  def hybridEachBatch(queries: DataFrame, qidCol: String, textCol: String,
      bm25IndexPath: String, ivfPqIndexPath: String, idCol: String,
      k: Int = 10, kPerList: Int = 10, d: Int = 64, rrfK: Long = 60L,
      nprobe: Int = 2, adcX1000Threshold: Int = -2000)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    require(queries.isStreaming,
      "RetrievalGate.hybridEachBatch: batch frames take " +
        "TextOps.hybridTopKAgainstIndexes directly")
    val s = queries.sparkSession
    graft.api.IndexMaintenance.readMeta(s, bm25IndexPath, TextOps.Bm25Index,
      "RetrievalGate")
    val model = VectorOps.readIvfPqModel(s, ivfPqIndexPath)
    require(nprobe >= 1 && nprobe <= model.coarse.k,
      s"RetrievalGate.hybridEachBatch: nprobe $nprobe outside " +
        s"[1, ${model.coarse.k}]")
    queries.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        sink(TextOps.hybridTopKAgainstIndexes(batch, qidCol, textCol,
          bm25IndexPath, ivfPqIndexPath, idCol, k, kPerList, d, rrfK,
          nprobe, adcX1000Threshold), batchId)
    }
  }
}
