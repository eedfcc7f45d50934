package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.TextOps

/** Streaming frontier discovery — the q147 crawl-loop step as a gate:
  * a continuous stream of fetched documents has its anchors extracted
  * ([[TextOps.extractLinks]] — stateless per row), canonicalized
  * ([[TextOps.canonicalUrl]] — the q86 chain, so suppression rides
  * canonical EQUIVALENCE exactly as in batch), anti-joined against a
  * PERSISTED visited set (stream-static left_anti — only URLs the
  * crawl has never scheduled survive), and deduplicated WITHIN the
  * stream by canonical URL inside the watermark (two documents in one
  * crawl window discovering the same URL must schedule one fetch, not
  * two). Output (append mode): canonical_url, host, the discovering
  * document's id, and its event time — ready for
  * [[TextOps.robotsFilter]] + [[TextOps.frontierBudget]] downstream of
  * the sink.
  *
  * Visited-side contract — the CdcGate/Bm25Gate graph-build snapshot
  * posture, which is the RIGHT one for discovery (the opposite choice
  * from [[RetrievalGate]]'s freshness): the visited parquet's file
  * listing is captured at graph author time, so rows appended to it
  * while the gate serves are invisible until re-author — a URL folded
  * into visited mid-serve can still be emitted once by a live gate
  * (at-least-once discovery; the downstream scheduler's own visited
  * check is the idempotency layer, exactly as in a production
  * crawler). Quiesce the gate across any compaction of the visited
  * set (the [[graft.api.IndexMaintenance]] reader contract). The only
  * streaming state is the within-watermark canonical-URL dedup.
  */
object FrontierGate {

  /** `visitedPath` must hold a parquet with a `canonical_url` column
    * (e.g. the canonical projection of all previously scheduled
    * URLs). A missing or column-less visited set fails at graph
    * build with a named error — silently treating it as empty would
    * re-schedule the entire crawl history.
    */
  def discoveries(docs: DataFrame, idCol: String, textCol: String,
      tsCol: String, delay: String, visitedPath: String): DataFrame = {
    require(docs.isStreaming,
      "FrontierGate.discoveries: batch frames take the q147 batch " +
        "composition (extractLinks + canonicalUrl + anti-join) directly")
    val s = docs.sparkSession
    val visited =
      try s.read.parquet(visitedPath)
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalStateException(
            s"FrontierGate: cannot read the visited set at $visitedPath " +
              "— an empty-on-error fallback would re-schedule the entire " +
              "crawl history", e)
      }
    require(visited.columns.contains("canonical_url"),
      s"FrontierGate: visited set at $visitedPath has no canonical_url " +
        s"column (found: ${visited.columns.mkString(", ")})")
    TextOps.extractLinks(Watermark.on(docs, tsCol, delay), idCol, textCol,
        extraCols = Seq(tsCol))
      .filter(col("host") =!= "")
      .select(col(idCol), col(tsCol),
        TextOps.canonicalUrl(col("href")).as("canonical_url"))
      .withColumn("host",
        regexp_extract(col("canonical_url"), TextOps.HostPattern, 1))
      .join(visited.select(col("canonical_url")), Seq("canonical_url"),
        "left_anti")
      .dropDuplicatesWithinWatermark("canonical_url")
      .select(col("canonical_url"), col("host"), col(idCol), col(tsCol))
  }
}
