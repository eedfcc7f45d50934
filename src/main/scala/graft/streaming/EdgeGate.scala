package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.api.{IndexMaintenance, TextOps}

/** Streaming HOST-GRAPH maintainer — keep the persisted WEIGHTED edge
  * index current from the fetched-document stream, EXACTLY ONCE: the
  * missing write half of the crawl loop. [[FrontierGate]] discovers
  * URLs and [[SchedulerGate]] prioritizes them BY the weighted host
  * graph — but until this gate, that graph was maintained by batch
  * folds only, so a continuous crawl re-ranked against a host graph
  * that lagged its own fetches by a batch cycle. EdgeGate closes the
  * loop: each micro-batch of fetched pages link-extracts
  * ([[TextOps.extractLinks]] — THE shared extraction, so the graph
  * the stream builds cannot differ from the one the batch queries
  * rank), collapses to per-occurrence unit-weight host edges (the
  * anchor-count semantics of
  * [[graft.operators.PageRank.writeWeightedEdgeIndex]]), and folds
  * into the index through the full maintain* policy (writer lock,
  * crash recovery, O(batch) manifested run, threshold compaction).
  * A periodic [[SchedulerGate.author]] / `authorWith` re-snapshot
  * then picks up the accumulated folds — the fold-invisible-until-
  * re-author contract stays exactly as pinned.
  *
  * EXACTLY-ONCE: `foreachBatch` is at-least-once, and under the SUM
  * reconcile a replayed epoch would DOUBLE every one of its edge
  * weights — strictly worse than the set families, where a replay is
  * absorbed by distinct. The fold is therefore
  * [[graft.operators.PageRank.maintainWeightedEdgeIndexTagged]] with
  * tag = the epoch id: the meta's logical `committed_tags` manifest
  * makes a replayed epoch a structural no-op, a crashed attempt's
  * partial append stays invisible under its fresh physical `__run`
  * id, and the manifest survives compaction (the
  * [[graft.api.CardOps]] discipline — ONE mechanism for every
  * SUM-family streaming maintainer). Tags are per-index: pass a
  * distinct `tagPrefix` per stream feeding the same index, and note
  * the single-writer contract still governs (two concurrent
  * maintainers serialize on the writer lock at best).
  *
  * Like [[CardGate]] this gate only WRITES — no author-once snapshot
  * exists here; serving reads take the family's own contract
  * (quiesce across a maintain* that may compact).
  *
  * `docs` carries (srcHostCol: the fetched page's host, textCol: its
  * HTML). Self-links drop inside the fold (the keyed-edge
  * discipline); host-less hrefs (relative links) drop here — a
  * relative link cannot leave its host, so it IS a self-link.
  *
  * Returns the configured writer (caller sets checkpoint/trigger and
  * calls `.start()`).
  */
object EdgeGate {

  def maintainEachBatch(docs: DataFrame, srcHostCol: String,
      textCol: String, indexPath: String, tagPrefix: String = "edges",
      compactThreshold: Int =
        IndexMaintenance.DefaultCompactThreshold): DataStreamWriter[Row] = {
    require(docs.isStreaming,
      "EdgeGate.maintainEachBatch: batch frames take " +
        "PageRank.maintainWeightedEdgeIndex directly")
    // a missing / pre-manifest index fails HERE by name, at stream
    // author time, not at the first epoch
    IndexMaintenance.readMeta(docs.sparkSession, indexPath,
      graft.operators.PageRank.WeightedEdgeIndex, "EdgeGate.maintainEachBatch")
    docs.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        val links = TextOps.extractLinks(batch.toDF(), srcHostCol, textCol)
          .filter(col("host") =!= "")
          .select(col(srcHostCol), col("host"), lit(1L).as("__w1"))
        graft.operators.PageRank.maintainWeightedEdgeIndexTagged(
          links, srcHostCol, "host", "__w1", indexPath,
          tag = s"$tagPrefix-$batchId", compactThreshold = compactThreshold)
        ()
    }
  }
}
