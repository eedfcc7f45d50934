package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.TextOps

/** Streaming BM25 retrieval gate — rank the top-k corpus documents for
  * every query arriving on a continuous stream, against a STATIC
  * corpus, in ONE streaming graph with NO foreachBatch:
  *
  *   - the static side is [[TextOps.bm25ContribIndex]]: the per-(term,
  *     doc) quantized contributions, the SAME materialized frame the
  *     batch ranker consumes — stream and batch scores are identical
  *     by construction, not by parallel maintenance;
  *   - query terms are a stateless per-row projection
  *     ([[TextOps.bm25QueryTerms]]: `array_distinct` inside the row,
  *     so no cross-row distinct state), joined STREAM-STATIC;
  *   - ranking is a CHAINED streaming aggregation (Spark's
  *     multiple-stateful-operators): the (window, qid, doc) score
  *     rollup feeds a (window, qid) single-pass `topk_agg`
  *     (functions.GroupedTopK ranks by score DESC, doc ASC — exactly
  *     the batch rank's order), both watermark-bounded, append mode —
  *     the WindowedCounts.topNStreaming architecture applied to
  *     retrieval.
  *
  * Self-matches (a query that is itself a corpus doc) are excluded,
  * as in the batch ranker. Output: qid, window_end, rank, doc id
  * (idCol's name), score — StreamingSpec proves row-for-row parity
  * with [[TextOps.bm25TopK]] on the same query set.
  *
  * FOLD-WHILE-SERVING CONTRACT: the persisted-index gate reads meta
  * (corpus stats n/tt/maxDl, layer count) ONCE at graph build and its
  * static side is a graph-build snapshot (cached parquet file
  * listing) — a [[TextOps.foldIntoBm25Index]] landing while the gate
  * serves is invisible to it; the gate keeps ranking against the
  * authored corpus consistently (never new postings under old stats,
  * which is why serving folds live is IMPOSSIBLE here without
  * re-authoring: BM25 folds REWRITE the meta's merged stats, unlike
  * the frozen-codebook IVF-PQ path). Re-author the gate to pick a
  * fold up; QUIESCE it across a [[TextOps.maintainBm25Index]]
  * compaction swap (the swap deletes files the cached listing still
  * points at). The CdcGate StreamingSpec fold-while-serving case pins
  * the snapshot behavior for this gate architecture.
  */
object Bm25Gate {

  def topKGate(queries: DataFrame, qidCol: String, textCol: String,
      tsCol: String, delay: String, window: String,
      corpus: DataFrame, corpusIdCol: String, corpusTextCol: String,
      k: Int = 10): DataFrame =
    gateCore(queries, qidCol, textCol, tsCol, delay, window,
      TextOps.bm25ContribIndex(corpus, corpusIdCol, corpusTextCol),
      corpusIdCol, k)

  /** [[topKGate]] fed from a PERSISTED [[TextOps.writeBm25Index]]
    * instead of building the contribution index in-process — the
    * stream deploy now matches the batch deploy
    * ([[TextOps.bm25TopKAgainstIndex]]): build the index once per
    * corpus version, gate the query stream continuously. The batch
    * probe's driver-side `__bp` prefix pruning does not apply — a
    * stream's term set is unbounded — but the layout still serves
    * the static-side scan (partition-count parallelism, `_t`-sorted
    * row groups), and the meta is REQUIRED exactly as in the batch
    * probe (a partially copied index fails loudly at graph build).
    */
  def topKGateAgainstIndex(queries: DataFrame, qidCol: String,
      textCol: String, tsCol: String, delay: String, window: String,
      indexPath: String, idCol: String, k: Int = 10): DataFrame = {
    val s = queries.sparkSession
    // layered index (in-place TextOps.foldIntoBm25Index appends): the
    // baked contrib/ is stale, so the static side derives
    // contributions from the postings runs + the meta's merged stats
    // — the batch probe's discipline, minus prefix pruning (a
    // stream's term set is unbounded). Compaction restores the baked
    // fast path. The ONE meta read is also the completeness check
    // (missing/partial index fails at graph build with a named error).
    val idx = graft.api.IndexMaintenance.read(s, indexPath, TextOps.Bm25Index,
        graft.api.IndexMaintenance.readMeta(s, indexPath, TextOps.Bm25Index,
          "Bm25Gate"), "contrib", "Bm25Gate")
      .select(col("_t"), col(idCol), col("_c"))
    gateCore(queries, qidCol, textCol, tsCol, delay, window,
      idx, idCol, k)
  }

  /** The one ranking graph behind both index sources: stream-static
    * term join → (window, qid, doc) score rollup → (window, qid)
    * single-pass `topk_agg` — chained watermark-bounded aggregates,
    * append mode.
    */
  private def gateCore(queries: DataFrame, qidCol: String,
      textCol: String, tsCol: String, delay: String, window: String,
      idx: DataFrame, corpusIdCol: String, k: Int): DataFrame = {
    require(k >= 1, s"Bm25Gate: k must be >= 1, got $k")
    graft.GraftExtensions.register(queries.sparkSession)
    val qTerms = TextOps.bm25QueryTerms(Watermark.on(queries, tsCol, delay),
      qidCol, textCol, extraCols = Seq(tsCol))
    qTerms.join(idx, Seq("_t"))
      .filter(col("_qid") =!= col(corpusIdCol))
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window),
        col("_qid"), col(corpusIdCol))
      .agg(sum(col("_c")).as("score"))
      .groupBy(col("window"), col("_qid"))
      .agg(call_function("topk_agg", lit(k), col("score"),
        col(corpusIdCol)).as("top"))
      .select(col("_qid").as("qid"),
        unix_timestamp(col("window.end")).as("window_end"),
        explode(col("top")).as("e"))
      .select(col("qid"), col("window_end"),
        col("e.rn").cast("long").as("rank"),
        col("e.key").as(corpusIdCol), col("e.cnt").as("score"))
  }
}
