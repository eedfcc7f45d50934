package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.api.{CardOps, IndexMaintenance}

/** Streaming dataset-card MAINTAINER — keep a persisted
  * [[graft.api.CardOps]] corpus-stats index current from a document
  * stream, EXACTLY ONCE: the release-accounting twin of the ingest
  * gates (they admit documents; this keeps the card those admissions
  * will be documented by). Each micro-batch folds its leaf partial
  * sums into the index through the full maintain* policy (writer
  * lock, crash recovery at entry, O(batch) fold, threshold
  * compaction), and the card is readable between batches at any time
  * via [[graft.api.CardOps.datasetCardAgainstIndex]].
  *
  * EXACTLY-ONCE, and why it needs the tag manifest: `foreachBatch` is
  * at-least-once — after a mid-batch failure the engine re-runs the
  * SAME epoch, so a plain fold would double-count the replayed batch.
  * The fold here is [[graft.api.CardOps.maintainCardIndexTagged]]
  * with tag = the epoch id: the index's meta carries a LOGICAL
  * `committed_tags` manifest next to the physical run manifest, a
  * replayed epoch whose tag already committed no-ops structurally,
  * and a crashed attempt's partial append stays invisible (fresh
  * physical `__run` per attempt, committed only with the tag). The
  * manifest survives compaction, so replay-after-compact no-ops too.
  * Net: every document stream epoch is counted exactly once no
  * matter how many times the engine delivers it — the idempotent-sink
  * discipline Structured Streaming asks of a foreachBatch writer,
  * discharged by the index's own commit protocol rather than by the
  * caller.
  *
  * Tags are per-index: two gates maintaining the SAME index path
  * would collide on epoch ids — pass a distinct `tagPrefix` per
  * stream (and note the writer lock serializes them anyway; the
  * single-writer contract still governs).
  *
  * Unlike the serving gates there is NO author-once snapshot here —
  * the gate only writes; readers take their own snapshot discipline
  * from the family contract (quiesce across a maintain* that may
  * compact).
  *
  * Returns the configured writer (caller sets checkpoint/trigger and
  * calls `.start()`; outputMode is update-free — foreachBatch sees
  * every row of each epoch once).
  */
object CardGate {

  def maintainEachBatch(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, langCol: String, indexPath: String,
      tagPrefix: String = "card", stopword: String = " the ",
      compactThreshold: Int =
        IndexMaintenance.DefaultCompactThreshold): DataStreamWriter[Row] = {
    require(docs.isStreaming,
      "CardGate.maintainEachBatch: batch frames take " +
        "CardOps.maintainCardIndex directly")
    // a missing / pre-manifest index fails HERE by name, at stream
    // author time, not at the first epoch
    IndexMaintenance.readMeta(docs.sparkSession, indexPath,
      CardOps.CardIndex, "CardGate.maintainEachBatch")
    docs.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        CardOps.maintainCardIndexTagged(batch.toDF(), idCol, textCol,
          sourceCol, langCol, indexPath, tag = s"$tagPrefix-$batchId",
          stopword = stopword, compactThreshold = compactThreshold)
        ()
    }
  }
}
