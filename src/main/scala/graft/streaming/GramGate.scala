package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.DedupOps

/** Streaming exact-substring DECONTAMINATION gate — score every
  * document on a continuous stream by how much of it appears VERBATIM
  * in the corpus behind a PERSISTED
  * [[graft.api.DedupOps.writeGramIndex]], in ONE streaming graph: the
  * admission question of a training-data front door ("does this crawl
  * page quote the eval set / the training corpus?"), asked per
  * micro-batch instead of per batch job.
  *
  * The gate splits author time from serve time (the LineGate shape):
  *
  *   - [[indexFromPath]] authors a [[GramSet]] ONCE — layered runs
  *     reconcile by the kernel's per-gram SUM
  *     ([[graft.api.IndexMaintenance.read]]), the min/cap
  *     thresholds apply to the reconciled totals (the batch probes'
  *     one threshold, `DedupOps.sharedGrams`), and the resulting
  *     over-threshold gram-hash set snapshots eagerly (localCheckpoint, cache-owned — the
  *     FingerprintGate non-recomputable trade). Authoring once
  *     matters: a lazy static plan would re-scan and re-reconcile the
  *     gram table on EVERY micro-batch of the ingest hot path. Note
  *     the set's size is policy-shaped: indexing the BENCHMARKS for
  *     eval-set decontamination (the common live-gate deployment)
  *     snapshots an eval-sized set; a minCorpusDocs=1 set over a
  *     whole training corpus is token-count-sized — at that scale
  *     prefer the batch probe's prefix-pruned per-batch reads.
  *   - [[spansGate]] then grams the stream with the index's OWN meta
  *     geometry (mismatched widths would silently match nothing) and
  *     stream-static joins the authored set. The batch op's
  *     island-merge back half is a per-doc WINDOW, which streaming
  *     frames cannot run — the gate computes the SAME numbers
  *     aggregate-only: per (window, doc, pos) collapse first
  *     (delivery idempotence: a doc redelivered inside one window
  *     collapses to one position set), then ONE windowed aggregate
  *     whose sorted hit-position array folds through an integer
  *     `aggregate` HOF into (covered_tokens, n_spans) — the fold's
  *     "new island iff pos > prev_end" recurrence is mergeSpans'
  *     break condition exactly, so covered_tokens == Σ span_tokens
  *     and n_spans == the batch probe's span count (StreamingSpec
  *     pins three-way agreement incl. an in-JVM brute model, and the
  *     layered 1+1-across-runs case);
  *   - gram-less docs (fewer tokens than the gram width, or null
  *     text) union in as 0-gram rows through their OWN windowed
  *     aggregate, so late short rows are watermark-dropped exactly
  *     like late gram-ful rows (the CdcGate row-preservation
  *     contract). The stream tokenizes ONCE for both branches.
  *
  * FOLD-WHILE-SERVING CONTRACT (the gate-family snapshot contract,
  * StreamingSpec-pinned on its siblings): the authored set is a
  * SNAPSHOT — an in-place [[graft.api.DedupOps.foldIntoGramIndex]]
  * landing while the gate serves is invisible until re-author;
  * quiesce the gate across a
  * [[graft.api.DedupOps.maintainGramIndex]] compaction swap.
  *
  * Output (append): idCol, window_end, n_grams, n_hit, n_spans,
  * covered_tokens — n_grams the doc's gram count, n_hit how many of
  * them exist in the corpus at the threshold policy, n_spans /
  * covered_tokens the island-merged duplication measure (what the
  * batch probe reports as spans).
  */
object GramGate {

  /** The authored static state: the over-threshold gram-hash set
    * (__gh, one Long per gram) plus the index's gram width. Releasing
    * it is the caller's job once the gate's query stops.
    */
  case class GramSet(shared: DataFrame, gramTokens: Int) {
    def unpersist(): Unit = {
      graft.api.Lifecycle.releaseLocalCheckpoint(shared)
      ()
    }
  }

  /** Author the gate state from a persisted
    * [[graft.api.DedupOps.writeGramIndex]]: reconcile layered runs by
    * SUM, threshold the reconciled totals, snapshot. `snapshotPath`
    * picks the strategy ([[GateSnapshot]]): None (default) = eager
    * localCheckpoint (non-recomputable — the local[n]/supervised
    * trade); Some(path) = copy the reconciled set to the caller-owned
    * stable location and serve the files — executor-loss-recomputable
    * and drain-proof, same fold isolation.
    */
  def indexFromPath(spark: SparkSession, indexPath: String,
      minCorpusDocs: Int = 1, maxDocsPerGram: Int = 1000,
      snapshotPath: Option[String] = None): GramSet = {
    val op = "GramGate.indexFromPath"
    val shared = DedupOps.sharedGrams(minCorpusDocs, maxDocsPerGram, op)
    val corpus = graft.api.IndexMaintenance.Corpus.indexed(spark,
      indexPath, DedupOps.GramIndex, op)
    GramSet(GateSnapshot.of(
        shared(corpus("grams")).withColumn("_hit", lit(1L)), snapshotPath),
      corpus.meta.int("gram_tokens"))
  }

  /** docs: a STREAMING frame with (idCol, textCol, tsCol). See the
    * object doc for semantics and output columns.
    */
  def spansGate(docs: DataFrame, idCol: String, textCol: String,
      tsCol: String, delay: String, window: String,
      corpus: GramSet): DataFrame = {
    val reserved = Set("doc_id", "pos", "window", "window_end",
      "n_grams", "n_hit", "n_spans", "covered_tokens",
      "__tk", "__p", "__gh", "_hit", "_h", "_hp", "_agg", "_n")
    require(idCol != tsCol,
      s"GramGate.spansGate: id and timestamp columns are both '$idCol'")
    Seq(idCol -> "id", tsCol -> "timestamp").foreach { case (c, what) =>
      // idCol == "doc_id" is the natural name (the internal rename is
      // the identity); every other collision fails by name
      require(!reserved.contains(c) || (c == "doc_id" && what == "id"),
        s"GramGate.spansGate: $what column '$c' collides with an " +
          s"output/working column — rename it first")
    }
    val gramTokens = corpus.gramTokens
    // ONE tokenize per row serves both branches; null text splits to
    // null → size null → gram-less branch (never a crash)
    val pre = Watermark.on(docs, tsCol, delay)
      .select(col(idCol).as("doc_id"), col(tsCol),
        split(col(textCol), " ", -1).as("__tk"))
    val win = org.apache.spark.sql.functions.window(col(tsCol), window)

    val grams = DedupOps.gramPositionsTokens(pre, gramTokens,
      extraCols = Seq(tsCol))
    // the island fold over the sorted hit positions: a position p
    // starts a new span iff p > prev_end (mergeSpans' break is
    // pos − lag > k ⟺ p > lag + k), otherwise it extends the island
    // by p + k − prev_end; the summed extensions ARE Σ span_tokens
    val fold = s"""aggregate(_hp,
      named_struct('cov', 0L, 'pe', -1L, 'spans', 0L),
      (a, p) -> named_struct(
        'cov', a.cov + greatest(0L, p + ${gramTokens}L - greatest(a.pe, p)),
        'pe', greatest(a.pe, p + ${gramTokens}L),
        'spans', a.spans + IF(p > a.pe, 1L, 0L)))"""
    val scored = grams
      .join(corpus.shared, Seq("__gh"), "left")
      .groupBy(win, col("doc_id"), col("pos"))
      .agg(max(coalesce(col("_hit"), lit(0L))).as("_h"))
      .groupBy(col("window"), col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), sum(col("_h")).as("n_hit"),
        sort_array(collect_list(when(col("_h") === 1L, col("pos"))))
          .as("_hp"))
      .withColumn("_agg", expr(fold))
      .select(col("doc_id").as(idCol), col("window.end").as("window_end"),
        col("n_grams"), col("n_hit"),
        col("_agg.spans").as("n_spans"),
        col("_agg.cov").as("covered_tokens"))
    val empty = pre
      .filter(coalesce(size(col("__tk")), lit(-1)) < gramTokens)
      .groupBy(win, col("doc_id"))
      .agg(count(lit(1)).as("_n"))
      .select(col("doc_id").as(idCol), col("window.end").as("window_end"),
        lit(0L).as("n_grams"), lit(0L).as("n_hit"),
        lit(0L).as("n_spans"), lit(0L).as("covered_tokens"))
    scored.unionByName(empty)
  }
}
