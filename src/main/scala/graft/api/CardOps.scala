package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Persisted CORPUS-STATS (dataset-card) index — the ELEVENTH
  * maintained family, generalizing the LSM fold discipline from
  * retrieval structures to the ACCOUNTING a training-data release
  * ships with: [[TextOps.datasetCard]]'s per-(source, lang,
  * quality-bucket) doc/token counts, kept current at O(delta) cost
  * instead of a full-corpus rescan per report. At 100 TB the
  * difference is the whole point — the card is one map-only pass plus
  * a group-count-sized aggregate, but "one pass" over 100 TB is hours
  * of cluster time for numbers that changed by yesterday's crawl; the
  * index stores the leaf sums (SUM-additive by construction, the
  * gram/line/weighted-edge algebra with counts for weights), a day's
  * docs fold in as their own per-run partial sums, and the card
  * renders from group-count rows any time.
  *
  * Family posture (the [[IndexMaintenance]] policy verbatim):
  *   - `$path/stats` = (source, lang, quality, n_docs, n_tokens,
  *     `__run`) leaf partial sums, one appended run per fold;
  *     `$path/meta` = the SUM families' committed-run manifest
  *     ([[IndexMaintenance.Manifest.RunsTags]] — append THEN commit,
  *     orphans from crashed folds invisible to every read) plus the
  *     logical `committed_tags` manifest for the streaming maintainer
  *     below.
  *   - Reconcile is exact by SUM-additivity: the kernel's
  *     [[IndexMaintenance.Reconcile.Summed]] per-leaf aggregation,
  *     applied at read while layered ([[reconciledLeaves]]) and made
  *     durable by compaction.
  *   - Delete path = signed runs for free
  *     ([[foldRemovalsIntoCardIndex]]): a dedup pass's drops or a
  *     takedown fold in with NEGATED counts, so the card tracks the
  *     CURRENT corpus without rescan; a fully-removed leaf nets to 0
  *     docs and drops at the consumers' net-positive filter, and
  *     compaction makes the deletion durable (bytes gone,
  *     over-removal's residual balance NOT carried — the weighted
  *     family's epoch contract).
  *   - EXACTLY-ONCE streaming maintenance
  *     ([[foldIntoCardIndexTagged]] /
  *     [[graft.streaming.CardGate]]): foreachBatch re-delivers a
  *     failed micro-batch, and under plain folds a replay would
  *     double-count — the tagged fold consults the meta's logical
  *     `committed_tags` manifest and NO-OPS on a tag it has already
  *     committed, while each physical attempt still appends under a
  *     fresh `__run` id (a crashed attempt's orphan can never merge
  *     into the retry). Compaction PRESERVES the tag manifest —
  *     replay-after-compact must still no-op.
  *
  * The quality axis is [[TextOps.qualityScore]]'s bucket — the same
  * formula the batch card, the quality gate (q17) and the curriculum
  * orderer (q109) use — and the render half is
  * [[TextOps.renderCard]], shared verbatim with the batch op, so the
  * deployed card can disagree with [[TextOps.datasetCard]] only if
  * the LEAF SUMS disagree, which is exactly what the q171 fold-parity
  * oracle pins (maintained index == q158's full-corpus SQL).
  *
  * Scale shape: leaves number |sources| × |langs| × 3 — thousands of
  * rows for any real corpus — so every read is broadcast-sized; folds
  * scan ONLY the delta (one map-only scoring pass + one partial
  * aggregate); nothing in the family ever rescans the corpus.
  */
object CardOps {

  /** The card index family: `stats` = (source, lang, quality, n_docs,
    * n_tokens, `__run`) leaf partial sums, one appended run per fold,
    * one file sorted by leaf; meta = the committed-run AND tag
    * manifests. Reconcile is the signed per-leaf SUM with the
    * net-positive filter (a fully-removed leaf reads as absent).
    */
  private[graft] val CardIndex = IndexMaintenance.Family("card",
    "writeCardIndex", Seq("prefix_partitions"), "run and tag manifests",
    IndexMaintenance.Manifest.RunsTags,
    _ => Seq(IndexMaintenance.Table("stats", Seq("source", "lang", "quality"),
      1, IndexMaintenance.Reconcile.Summed(Seq("source", "lang", "quality"),
        Seq("n_docs", "n_tokens"), netPositive = true))))

  /** One fold's leaf partial sums over `df`: per (source, lang,
    * quality) doc and token counts, columns CANONICALIZED to (source,
    * lang, quality, n_docs, n_tokens) so the stored schema does not
    * depend on caller column names. ONE derivation behind write, fold
    * and removal — the two sides of a remove cannot bucket a doc
    * differently from the add that counted it.
    */
  private def leafStats(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, langCol: String, stopword: String): DataFrame =
    TextOps.qualityScore(df, idCol, textCol, stopword,
        keep = Seq(sourceCol, langCol))
      .groupBy(col(sourceCol).as("source"), col(langCol).as("lang"),
        col("quality"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))

  private def statsRun(leaves: DataFrame): IndexMaintenance.Delta =
    IndexMaintenance.Delta("stats" -> leaves)

  /** Build the card index at `path` from a corpus version: the leaf
    * partial sums land as one committed run, meta carries the run
    * manifest and an EMPTY tag manifest. Build once, fold daily
    * ([[foldIntoCardIndex]] / [[maintainCardIndex]] / the streaming
    * [[graft.streaming.CardGate]]), render any time
    * ([[datasetCardAgainstIndex]]).
    */
  def writeCardIndex(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, langCol: String, path: String,
      stopword: String = " the "): Unit =
    IndexMaintenance.write(df.sparkSession, path, CardIndex)(_ =>
      statsRun(leafStats(df, idCol, textCol, sourceCol, langCol, stopword)))

  /** Fold a DELTA of documents into a persisted [[writeCardIndex]] IN
    * PLACE with O(delta) cost: the delta's leaf partial sums land as
    * their own run under a fresh `__run` id, and the meta COMMITS the
    * run after the append (an uncommitted run is invisible).
    * `tag = Some(t)` is the exactly-once form: a tag already in the
    * meta's logical manifest makes the whole fold a NO-OP (returns
    * false), and a committed fold records it — the streaming
    * maintainer's re-delivery discipline. Single-writer per index (use
    * [[maintainCardIndex]] / [[maintainCardIndexTagged]] for the
    * locked form).
    *
    * @return true iff the fold applied (always, when untagged).
    */
  def foldIntoCardIndex(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, langCol: String, indexPath: String,
      stopword: String = " the ", tag: Option[String] = None): Boolean =
    IndexMaintenance.fold(df.sparkSession, indexPath, CardIndex,
      "foldIntoCardIndex", tag)(_ =>
      statsRun(leafStats(df, idCol, textCol, sourceCol, langCol, stopword))).isDefined

  /** The card family's DELETE path — a SIGNED run the SUM reconcile
    * absorbs for free: `df` holds the REMOVED documents (a dedup
    * pass's drops, a takedown, a license retraction) and their leaf
    * stats fold in NEGATED, so the card tracks the post-removal
    * corpus at O(removed) cost with no rescan. Removals must mirror
    * docs previously counted in — over-removal is a caller error
    * whose residual negative net reads as absent and is dropped at
    * compaction (the weighted-edge epoch contract). Crash shape = the
    * fold's (an uncommitted removal run is invisible).
    */
  def foldRemovalsIntoCardIndex(df: DataFrame, idCol: String,
      textCol: String, sourceCol: String, langCol: String,
      indexPath: String, stopword: String = " the "): Unit = {
    IndexMaintenance.fold(df.sparkSession, indexPath, CardIndex,
      "foldRemovalsIntoCardIndex")(_ =>
      statsRun(leafStats(df, idCol, textCol, sourceCol, langCol, stopword)
        .select(col("source"), col("lang"), col("quality"),
          (-col("n_docs")).as("n_docs"), (-col("n_tokens")).as("n_tokens"))))
    ()
  }

  /** Compact a layered card index back to ONE run: per-leaf sums over
    * COMMITTED rows made durable (orphans from crashed folds dropped
    * from disk; leaves whose net doc count is <= 0 dropped — signed
    * removal runs become durable deletions and over-removal's
    * residual balance does not carry), a single-run manifest and the
    * TAG MANIFEST PRESERVED (a batch re-delivered after a compaction
    * must still no-op). Identical reads before and after.
    */
  def compactCardIndex(s: org.apache.spark.sql.SparkSession,
      indexPath: String, outPath: String): Unit =
    IndexMaintenance.compact(s, indexPath, outPath, CardIndex,
      "compactCardIndex")

  /** The family's maintain* entry point ([[IndexMaintenance.maintain]]).
    * NOT reader-safe across the swap.
    *
    * @return true iff a compaction ran.
    */
  def maintainCardIndex(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, langCol: String, indexPath: String,
      stopword: String = " the ",
      compactThreshold: Int =
        IndexMaintenance.DefaultCompactThreshold): Boolean =
    IndexMaintenance.maintain(df.sparkSession, indexPath, CardIndex,
      "maintainCardIndex", compactThreshold)(_ =>
      statsRun(leafStats(df, idCol, textCol, sourceCol, langCol, stopword)))
      .contains(true)

  /** [[maintainCardIndex]] with the exactly-once tag: returns true
    * iff the fold APPLIED (the tag was new — a replayed tag no-ops
    * without touching the index, and without compacting either: a
    * no-op must be a no-op).
    */
  def maintainCardIndexTagged(df: DataFrame, idCol: String,
      textCol: String, sourceCol: String, langCol: String,
      indexPath: String, tag: String, stopword: String = " the ",
      compactThreshold: Int =
        IndexMaintenance.DefaultCompactThreshold): Boolean =
    IndexMaintenance.maintain(df.sparkSession, indexPath, CardIndex,
      "maintainCardIndex", compactThreshold, Some(tag))(_ =>
      statsRun(leafStats(df, idCol, textCol, sourceCol, langCol, stopword)))
      .isDefined

  /** Committed, reconciled leaf rows of a card index: runs filter to
    * the meta's manifest, per-leaf SUM reconcile, net-positive only
    * (a fully-removed leaf reads as absent — the delete path's
    * read-side half). Broadcast-sized by construction.
    */
  def reconciledLeaves(s: org.apache.spark.sql.SparkSession,
      indexPath: String): DataFrame =
    IndexMaintenance.read(s, indexPath, CardIndex,
      IndexMaintenance.readMeta(s, indexPath, CardIndex, "reconciledLeaves"),
      "stats", "reconciledLeaves")

  /** [[TextOps.datasetCard]] off the persisted index — identical
    * output to running the batch card over every document the index
    * has folded (minus removals), at LEAF-sized cost: the rollup and
    * the exact-ppm render run over the reconciled leaf sums
    * (counts are SUM-additive, so rollup-over-leaves ==
    * rollup-over-docs identically), through the SAME
    * [[TextOps.renderCard]] the batch op uses. No corpus scan exists
    * anywhere in the plan. `sourceCol`/`langCol` name the output
    * columns (the stored schema is canonical).
    */
  def datasetCardAgainstIndex(s: org.apache.spark.sql.SparkSession,
      indexPath: String, sourceCol: String = "source",
      langCol: String = "lang"): DataFrame =
    TextOps.renderCard(cardRolledFromIndex(s, indexPath, sourceCol,
      langCol), sourceCol, langCol)

  /** The index card's pre-render rollup (leaf sums → the four
    * grouping levels) — factored like [[TextOps.datasetCardRolled]]
    * so PlanSpec can pin its shape (stats-parquet scan only, no
    * documents scan, one Expand); [[TextOps.renderCard]]'s checkpoint
    * makes this subtree invisible in the final plan.
    */
  private[graft] def cardRolledFromIndex(
      s: org.apache.spark.sql.SparkSession, indexPath: String,
      sourceCol: String, langCol: String): DataFrame =
    reconciledLeaves(s, indexPath)
      .select(col("source").as(sourceCol), col("lang").as(langCol),
        col("quality"), col("n_docs"), col("n_tokens"))
      .rollup(col(sourceCol), col(langCol), col("quality"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        grouping(col(sourceCol)).as("_gs"),
        grouping(col(langCol)).as("_gl"),
        grouping(col("quality")).as("_gq"))
}
