package graft.queries

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** The catalog's one artifact cache: every expensive artifact several
  * queries (or several runs of one query) share — materialized stages,
  * folded and maintained indexes, IVF-PQ and BM25 indexes, published
  * shards, bucketed and z-ordered layouts — is built once through
  * [[artifact]] and reused by every later consumer.
  *
  * q21's MinHash-LSH pair list is the founding case: it feeds five
  * derived queries (q37 dedup output, q46 clusters, q58 keepers, q78
  * cross-source report, q80 degree histogram). Built independently,
  * each re-derives the whole LSH DAG — at 100TB that is five full-corpus
  * shingle+minhash scans for one logical stage, and locally it made the
  * derived queries' bench numbers order-sensitive. The first consumer
  * materializes the stage (sorted by (doc_a, doc_b) for row-group
  * pruning, exactly like `DedupOps.pipeline`); every later consumer
  * reads the tiny persisted list. A stage's owner (q21 for the pairs,
  * q112 for the hybrid ranking, ...) never reads the cache: its catalog
  * entry stays the honest end-to-end computation and the oracle.
  *
  * The contract, for every artifact:
  *  - Keyed by (SF dir, artifact name). An artifact is a pure function
  *    of its input directory and its derivation, so every session in
  *    the JVM shares it and no session object is pinned by the cache.
  *    [[OlapQueries.bucketedPair]] registers catalog tables in the
  *    calling session, so it and its layout twin
  *    [[OlapQueries.zorderedEvents]] carry the session's identity in
  *    their name.
  *  - The input directory is IMMUTABLE for the JVM lifetime. There is
  *    no content fingerprint or invalidation: regenerating a path with
  *    different data in one JVM would silently serve stale artifacts.
  *    Every harness here uses write-once dirs (the driver's SF dirs,
  *    BenchScale's one-shot scaled dirs; Bench warmup and timed runs
  *    differ by dir); a long-lived service re-deriving a mutated corpus
  *    must restart the JVM or write to an explicit output path.
  *  - Each artifact lives in its own `Lifecycle.tempDir`, deleted when
  *    the JVM exits.
  *  - Nesting-safe: a build may ask for other artifacts (the hybrid
  *    IVF-PQ ranking builds its index, the folded clusters build the
  *    folded minhash index and the corpus assignment). The map holds
  *    only a per-key build-once cell; the build runs under that cell's
  *    lock, outside any map operation.
  *  - Concurrent callers of one key run its build once; a build that
  *    throws leaves no value behind, so the next call retries it.
  *
  * Two caches stay outside on purpose: `CurationQueries.stagesCache`
  * (its owner q89 refreshes it every run, checks its frames' liveness
  * and registers their checkpoints as cache-owned) and
  * `BpeOps.modelCache` (its owner q95 refreshes it with `put`). Neither
  * is build-once.
  */
object SharedStages {

  /** A build-once holder: the value, once a build has returned one. */
  private final class Cell {
    private var value: Option[Any] = None
    def get[A](build: => A): A = synchronized {
      value.getOrElse { val v = build; value = Some(v); v }.asInstanceOf[A]
    }
  }

  private val cells = new ConcurrentHashMap[(String, String), Cell]

  /** The artifact `name` of SF dir `dir`: the first call hands `build`
    * a fresh JVM-lifetime temp dir and caches what it returns (the
    * artifact's path, or a value derived while writing it); every later
    * call returns the cached value.
    */
  private[graft] def artifact[A](dir: String, name: String)(
      build: String => A): A =
    cells.computeIfAbsent((dir, name), _ => new Cell).get {
      build(graft.api.Lifecycle.tempDir(s"graft-$name-").toString)
    }

  /** [[artifact]] for a frame persisted as one sorted parquet file. */
  private[queries] def materialized(s: SparkSession, dir: String,
      stage: String, sortCols: Seq[String])(build: => DataFrame): DataFrame =
    s.read.parquet(artifact(dir, stage) { tmp =>
      graft.jobs.Sinks.layout(build, tmp, partitionCols = Nil,
        sortCols = sortCols, numFiles = 1)
      tmp
    })

  /** q21's verified near-dup pair list (doc_a, doc_b, jaccard_x1000). */
  def minhashPairs(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "pairs", Seq("doc_a", "doc_b")) {
      graft.api.DedupOps.minhashPairs(
        Tables.documents(s, dir), "doc_id", "text",
        jaccardX1000Threshold = 500)
    }

  /** The brute hybrid-retrieval output (qid, rank, doc_id, score) —
    * q112's full computation, materialized once so q114's in-band
    * overlap oracle (which compares the IVF-PQ variant against the
    * brute result) reads the persisted frame instead of re-running
    * the broadcast corpus scan. q112's own catalog entry stays the
    * honest end-to-end computation (the q21 discipline: the stage
    * owner never reads the cache).
    */
  def hybridBrute(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "hybrid", Seq("qid", "rank")) {
      val docs = Tables.documents(s, dir)
      graft.api.TextOps.hybridTopK(docs,
        docs.filter(org.apache.spark.sql.functions.col("doc_id") % 100 === 0)
          .select(org.apache.spark.sql.functions.col("doc_id").as("qid"),
            org.apache.spark.sql.functions.col("text")),
        "doc_id", "text", "qid", k = 10)
    }

  /** The brute passage-retrieval output (qid, rank, doc_id,
    * chunk_idx, sim_x1e6) — q128's full computation, materialized for
    * q129's in-band overlap oracle (the [[hybridBrute]] rationale at
    * chunk granularity; q128's catalog entry stays the honest
    * end-to-end computation).
    */
  def passageBrute(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "passages", Seq("qid", "rank")) {
      val docs = Tables.documents(s, dir)
      graft.api.TextOps.passageTopK(docs,
        docs.filter(org.apache.spark.sql.functions.col("doc_id") % 500 === 0)
          .select(org.apache.spark.sql.functions.col("doc_id").as("qid"),
            org.apache.spark.sql.functions.col("text")),
        "doc_id", "text", "qid", k = 10)
    }

  /** The catalog-gated IVF-PQ hybrid ranking (qid, rank, doc_id,
    * rrf) — q114's operator-under-test output, materialized once so
    * q141's exact-parity contrast reads the persisted frame instead
    * of re-running the in-process BM25 contribution build per run
    * (the [[hybridBrute]] ownership discipline one level up the
    * stack: q114's catalog entry stays the honest owner of this
    * cost; q141 only needs the rows).
    */
  def hybridIvfPq(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "hybivf", Seq("qid", "rank")) {
      val docs = Tables.documents(s, dir)
      graft.api.TextOps.hybridTopKIvfPq(docs,
        docs.filter(org.apache.spark.sql.functions.col("doc_id") % 100 === 0)
          .select(org.apache.spark.sql.functions.col("doc_id").as("qid"),
            org.apache.spark.sql.functions.col("text")),
        "doc_id", "text", "qid", PipelineQueries.hybridIvfPqDir(s, dir),
        k = 10, nprobe = 3)
    }

  /** q46's transitive clusters (doc_id, cluster_id) over the shared
    * pair list — the iterative label propagation reads the persisted
    * edges, never the LSH DAG, and its own output is persisted for q58.
    */
  def clusters(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "clusters", Seq("cluster_id", "doc_id")) {
      graft.api.DedupOps.clusters(minhashPairs(s, dir))
    }
}
