package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.{IndexMaintenance, TextOps}

/** Streaming boilerplate-line gate — the unbounded twin of
  * [[graft.api.TextOps.dedupLinesAgainstIndex]] (line-level corpus
  * dedup, the CCNet line-wise correction): a stream of NEW documents
  * probes a STATIC corpus's over-threshold line set and emits one row
  * per boilerplate hit (idCol, pos, line) in append mode. A
  * (doc, pos) in the output IS the drop decision — the
  * [[FingerprintGate]] posture: the gate emits decisions and the sink
  * rewrites. Emitting rewritten documents instead would force a
  * streaming aggregate (re-assembly groups by doc) onto what is
  * otherwise a STATELESS plan; the per-doc fold is one `foreachBatch`
  * line in the consumer, so the gate stays watermark-free and
  * state-store-free — every micro-batch costs exactly batch-shaped
  * work: a map-only line explode and one stream-static join against a
  * boilerplate-sized snapshot.
  *
  * Line splitting and key normalization come from THE shared
  * `TextOps.linePositions` definition, and the over-threshold set is
  * the line family's one threshold (`TextOps.commonLines`) over its
  * one row derivation (`TextOps.lineRows`) — derived from a corpus
  * frame ([[fromCorpus]]) or read from a persisted index
  * ([[indexFromPath]]), the two sources every batch line probe reads
  * too — so stream and batch cannot normalize or threshold
  * differently. StreamingSpec pins row parity against the batch
  * probe's dropped lines on the same delta/corpus split.
  *
  * Static-side contract (the [[FingerprintGate]] snapshot
  * discipline): the common-line set is reconciled across layered runs
  * AND thresholded at author time, then eagerly
  * localCheckpoint-snapshotted — folds landing while the gate serves
  * are invisible until re-author, and compaction swaps require
  * quiescing (the Bm25Gate/CdcGate reader contract); the two snapshot
  * strategies are [[GateSnapshot]]'s note. Note one delta from the
  * batch probe: `maxDocFreq` BAKES into the snapshot (the set is
  * `count > maxDocFreq`); changing the threshold means re-authoring,
  * where the batch probe takes it as a read parameter.
  */
object LineGate {

  /** The authored static state: the over-threshold normalized-line
    * hash set (_kh) — one Long per boilerplate line, never line text.
    * Releasing it is the caller's job once the gate's query stops.
    */
  case class LineSet(common: DataFrame, maxDocFreq: Int) {
    def unpersist(): Unit = {
      graft.api.Lifecycle.releaseLocalCheckpoint(common)
      ()
    }
  }

  /** Author the gate state from a corpus FRAME (the
    * [[graft.api.TextOps.dedupLinesAgainst]] static side). */
  def fromCorpus(corpus: DataFrame, idCol: String, textCol: String,
      maxDocFreq: Int = 4): LineSet =
    author(IndexMaintenance.Corpus.derived()(
        TextOps.lineRows(corpus, idCol, textCol)),
      maxDocFreq, "LineGate.fromCorpus", None)

  /** Author the gate state from a PERSISTED
    * [[graft.api.TextOps.writeLineIndex]] — the stream deploy
    * matching the batch deploy: layered runs reconcile by per-line
    * SUM once at author time, the threshold applies to reconciled
    * totals, and only the over-threshold hashes snapshot
    * (boilerplate-sized, broadcast at join time). `snapshotPath`
    * picks the [[GateSnapshot]] strategy: None = localCheckpoint,
    * Some(path) = the path-stable recomputable copy.
    */
  def indexFromPath(spark: SparkSession, indexPath: String,
      maxDocFreq: Int = 4, snapshotPath: Option[String] = None): LineSet =
    author(IndexMaintenance.Corpus.indexed(spark, indexPath,
        TextOps.LineIndex, "LineGate.indexFromPath"),
      maxDocFreq, "LineGate.indexFromPath", snapshotPath)

  private def author(corpus: IndexMaintenance.Corpus, maxDocFreq: Int,
      op: String, snapshotPath: Option[String]): LineSet = {
    val common = TextOps.commonLines(maxDocFreq, op)
    LineSet(GateSnapshot.of(common(corpus("lines")), snapshotPath),
      maxDocFreq)
  }

  /** newDocs: a STREAMING frame with (idCol, textCol). Emits
    * (idCol, pos, line) boilerplate hits, append mode, stateless —
    * no watermark required (nothing is stateful; callers composing
    * downstream stateful stages declare their own).
    */
  def drops(newDocs: DataFrame, idCol: String, textCol: String,
      corpus: LineSet): DataFrame = {
    val reserved = Set("pos", "col", "line", "_line", "_kh")
    require(!reserved.contains(idCol),
      s"LineGate.drops: id column '$idCol' collides with an output/" +
        s"working column (${reserved.mkString(", ")}) — rename it first")
    TextOps.linePositions(newDocs, idCol, textCol)
      .join(corpus.common, Seq("_kh"))
      .select(col(idCol), col("pos"), col("_line").as("line"))
  }
}
