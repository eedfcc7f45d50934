package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.DedupOps

/** Streaming CDC ingest gate — score every document on a continuous
  * stream by how much of it already exists in the corpus, against the
  * PERSISTED [[graft.api.DedupOps.writeCdcChunkIndex]] chunk set, in
  * ONE streaming graph:
  *
  *   - chunking is the stateless native `cdc_chunk_hashes` kernel,
  *     with the geometry read off the index's OWN meta at graph build
  *     time (the batch probe's contract: a gate can never chunk with
  *     parameters that disagree with the index it probes);
  *   - the corpus chunk set is a STREAM-STATIC left join (re-read per
  *     micro-batch, stateless by construction). The driver-side
  *     prefix-pruning of the batch probe does not apply — a stream's
  *     key set is unbounded — but the `__bp` layout still serves the
  *     scan (partition-count parallelism, `c`-sorted row groups);
  *   - per-doc rollup is a windowed streaming aggregate keyed
  *     (window(ts), doc): the kernel emits DISTINCT chunk hashes, so
  *     count(*) IS n_chunks and the hit-indicator sum IS n_hits —
  *     one aggregate, watermark-bounded state;
  *   - chunk-less docs (null text) union in as 0-chunk rows through
  *     their OWN windowed aggregate (the batch row-preservation
  *     contract), so late null-text rows are watermark-dropped
  *     exactly like late token-ful rows.
  *
  * A doc gates IDENTICALLY streaming and batch (StreamingSpec parity
  * vs [[graft.api.DedupOps.cdcChunkHitsAgainstIndex]]). Deployment:
  * build the chunk index per corpus version (batch), gate the crawl
  * stream continuously — the exact-passage sibling of the
  * NearDupIngest minhash gate.
  *
  * FOLD-WHILE-SERVING CONTRACT (StreamingSpec-pinned): the static
  * side is a GRAPH-BUILD SNAPSHOT — Spark caches the parquet file
  * listing in the authored plan, so an in-place
  * [[graft.api.DedupOps.foldIntoCdcChunkIndex]] landing while the
  * gate serves is invisible to it (the gate keeps scoring against
  * the authored chunk set, consistently; it never sees a torn state).
  * Re-author the gate to pick a fold up. COMPACTION is different: the
  * [[graft.api.DedupOps.maintainCdcChunkIndex]] swap DELETES files
  * the cached listing still points at — quiesce (stop) the gate
  * across a compaction swap, then re-author. (Contrast: the IVF-PQ
  * serving path [[graft.api.VectorOps.ivfPqProbeEachBatch]] re-reads
  * codes per micro-batch and is fold-while-serving safe — its folds
  * never rewrite meta; CDC folds bump `layers`.)
  *
  * Output: idCol, window_end, n_chunks, n_hits, hit_x1000 (append).
  * The gate is delivery-idempotent per (window, doc): a doc
  * redelivered inside one window collapses to one chunk set (the
  * right contract under at-least-once upstream delivery), and the
  * same rollup shape serves single-run and layered indexes alike —
  * compaction can never flip a stream's semantics.
  */
object CdcGate {

  def hitsGate(docs: DataFrame, idCol: String, textCol: String,
      tsCol: String, delay: String, window: String,
      indexPath: String): DataFrame = {
    val index = graft.api.IndexMaintenance.Corpus.indexed(docs.sparkSession,
      indexPath, DedupOps.CdcIndex, "CdcGate.hitsGate", reconciled = false)
    val (modulus, w) = (index.meta.int("modulus"), index.meta.int("window"))
    val corpus = index("chunks").select(col("c").as("_c"), lit(1L).as("_hit"))

    val src = Watermark.on(docs, tsCol, delay)
    // the SAME chunking front end as the batch probe (null contract
    // and kernel geometry live in one place — stream/batch parity by
    // construction, not by parallel maintenance)
    val chunked = DedupOps.cdcChunked(src, idCol, textCol, modulus, w,
      extraCols = Seq(tsCol))

    val win = org.apache.spark.sql.functions.window(col(tsCol), window)
    // ONE rollup shape for every index state: collapse per
    // (window, doc, chunk) FIRST, then count — chained
    // watermark-bounded aggregates (the Bm25Gate discipline). The
    // collapse is what makes the gate correct on a LAYERED index (a
    // chunk living in both the base and a fold run would double its
    // _hit under a plain count/sum — the batch probe is immune via
    // left_semi) AND delivery-idempotent (the kernel emits DISTINCT
    // hashes per doc, so for a single delivery the collapse changes
    // nothing; a doc redelivered inside one window collapses to one
    // chunk set instead of double-counting). One unconditional shape
    // also means compaction (layers → 1) + re-author can never flip
    // a stream's semantics — branching on the layer count here did
    // exactly that for redelivered docs (round-12 review finding).
    val scored = chunked.filter(size(col("_ch")) >= 1)
      .select(col(idCol), col(tsCol), explode(col("_ch")).as("_c"))
      .join(corpus, Seq("_c"), "left")
      .groupBy(win, col(idCol), col("_c"))
      .agg(max(coalesce(col("_hit"), lit(0L))).as("_h"))
      .groupBy(col("window"), col(idCol))
      .agg(count(lit(1)).as("n_chunks"), sum(col("_h")).as("n_hits"))
      .select(col(idCol), col("window.end").as("window_end"),
        col("n_chunks"), col("n_hits"))
    // chunk-less docs go through the SAME windowed-aggregate shape as
    // scored docs (not a stateless projection): late null-text rows are
    // watermark-dropped exactly like late token-ful rows — uniform
    // late-data semantics across both branches.
    val empty = chunked.filter(size(col("_ch")) < 1)
      .groupBy(win, col(idCol))
      .agg(count(lit(1)).as("_n"))
      .select(col(idCol), col("window.end").as("window_end"),
        lit(0L).as("n_chunks"), lit(0L).as("n_hits"))
    scored.unionByName(empty)
      .withColumn("hit_x1000",
        when(col("n_chunks") > 0,
          expr("(n_hits * 1000) div n_chunks")).otherwise(lit(0L)))
  }
}
