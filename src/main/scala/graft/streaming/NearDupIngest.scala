package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.{DedupOps, IndexMaintenance}

/** Streaming incremental near-dup ingest — the unbounded twin of q59
  * (DedupOps.minhashPairsAgainst): a stream of NEW documents probes a
  * STATIC corpus's LSH bucket index and emits the verified near-dup
  * pairs in append mode. This is the production shape of continuous
  * corpus ingestion: the corpus index is materialized once (at 100TB:
  * persisted parquet, reloaded per deploy), every micro-batch of newly
  * crawled docs bands map-only and stream-static-joins the index —
  * the corpus is never re-paired against itself, and the probe cost is
  * proportional to the delta, exactly like the batch path.
  *
  * A doc_new appearing in the output IS the drop decision: the ingest
  * sink keeps first-arrivals (no emitted pair) and drops/queues
  * near-dups (>= 1 emitted pair names the corpus doc it duplicates).
  *
  * Skew + state bounds: corpus buckets carry capped id-lists
  * ([[DedupOps.DefaultMaxBucket]] — a hot bucket blocks nothing, q21's
  * contract), so one stream row fans out to at most Bands × cap
  * candidates; the only streaming state is the within-watermark
  * (doc_new, doc_old) dedup, purged as event time advances.
  */
object NearDupIngest {

  /** The corpus-side static state: `buckets` = capped LSH bucket index
    * (band, bkey, __cs ids), `hashed` = (doc_old, hs_old) shingle sets
    * for the exact-Jaccard verify. Both tiny relative to the corpus
    * (ids + hash sets, no text). `base` is the frame actually pinned in
    * the block manager — `hashed` is a PROJECTION of it, and
    * unpersisting a non-sameResult projection is a no-op, so retiring
    * an index must go through [[CorpusIndex.unpersist]] (a long-lived
    * ingest app that rebuilds its corpus would otherwise leak one
    * full-corpus shingle cache per rebuild).
    */
  case class CorpusIndex(buckets: DataFrame, hashed: DataFrame,
      private[streaming] val base: DataFrame) {
    /** Release the cached corpus state (the persisted shingle base and
      * the persisted bucket index) when this index is retired.
      */
    def unpersist(): Unit = {
      base.unpersist()
      buckets.unpersist()
    }
  }

  /** Build the index from a static corpus frame through the minhash
    * family's one row derivation (`DedupOps.minhashRows`, the tables
    * the batch build and the inline probe derive too), so stream and
    * corpus band identically.
    *
    * Both frames are PERSISTED here: the static side of a stream-static
    * join is re-evaluated every micro-batch, so an unpersisted index
    * would re-run the full corpus shingle→minhash→bucket derivation per
    * batch — O(corpus) per batch instead of the O(delta) this operator
    * promises. The first batch materializes the cache; callers retiring
    * an index (corpus rebuild) call [[CorpusIndex.unpersist]], which
    * releases the ACTUAL persisted frames (the shingle base and the
    * buckets — `hashed` is only a projection of the base).
    */
  def index(corpus: DataFrame, idCol: String, textCol: String,
      maxBucket: Int = DedupOps.DefaultMaxBucket): CorpusIndex = {
    // the shared base is persisted FIRST so both tables (bucket
    // aggregation and verify projection) read ONE cached corpus
    // tokenize+shingle pass — two independent persists would each
    // materialize their own full-corpus scan
    val hashed = DedupOps.shingleHashed(corpus, idCol, textCol).persist()
    val rows = IndexMaintenance.Corpus.derived("max_bucket" -> maxBucket)(
      DedupOps.minhashRows(hashed, idCol))
    CorpusIndex(rows("buckets").filter(col("__cs").isNotNull).persist(),
      rows("hashed"), base = hashed)
  }

  /** newDocs: a STREAMING frame with (idCol, textCol, tsCol). Emits
    * (doc_new, doc_old, jaccard_x1000) pairs verified at >= threshold,
    * append mode. Semantics == batch
    * [[DedupOps.minhashPairsAgainst]] on the same delta/corpus split
    * (StreamingSpec asserts parity under both state stores): band
    * map-only → stream-static join on (band, bkey) → candidate
    * explode → within-watermark pair dedup (a doc's band rows all land
    * in its arrival batch, so the horizon only needs to cover one
    * batch's skew) → the family's exact-Jaccard verify
    * (`DedupOps.verifyJaccard`) against the static hash sets.
    */
  def pairs(newDocs: DataFrame, idCol: String, textCol: String,
      tsCol: String, delay: String, corpus: CorpusIndex,
      jaccardX1000Threshold: Int = 500): DataFrame = {
    // working/output names of the banding + probe pipeline — a caller
    // column shadowing one would go ambiguous deep in the streaming
    // plan or be silently clobbered; fail fast instead (the
    // simhashPairs reserved-name contract)
    val reserved = Set("hs", "band", "bkey", "pos", "col", "__mh",
      "__cs", "toks", "doc_new", "doc_old", "hs_a", "hs_b")
    Seq(idCol, tsCol).foreach(c => require(!reserved.contains(c),
      s"NearDupIngest.pairs: column '$c' collides with a working " +
        s"column (${reserved.mkString(", ")}) — rename it first"))
    val banded = DedupOps.withBandKeys(
      DedupOps.shingleHashed(newDocs, idCol, textCol, carry = Seq(tsCol)))
    val cand = Watermark.on(banded, tsCol, delay)
      .join(corpus.buckets, Seq("band", "bkey"))
      .select(col(idCol).as("doc_new"), col(tsCol), col("hs").as("hs_a"),
        explode(col("__cs")).as("doc_old"))
      .dropDuplicatesWithinWatermark("doc_new", "doc_old")
      .join(corpus.hashed.select(col("doc_old"), col("hs_old").as("hs_b")),
        Seq("doc_old"))
    DedupOps.verifyJaccard(cand, "doc_new", "doc_old", jaccardX1000Threshold)
  }
}
