package graft.queries

import java.util.concurrent.ConcurrentHashMap
import java.util.function.{Function => JFunction}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** Session-scoped materialization of stages shared by several catalog
  * queries — the "compute the pair list once" discipline
  * [[graft.api.DedupOps.pipeline]] defines, applied to the catalog
  * itself.
  *
  * q21's MinHash-LSH pair list feeds five derived queries (q37 dedup
  * output, q46 clusters, q58 keepers, q78 cross-source report, q80
  * degree histogram). Built independently, each re-derives the whole
  * LSH DAG — at 100TB that is five full-corpus shingle+minhash scans
  * for one logical stage, and locally it made the derived queries'
  * bench numbers order-sensitive. Here the first consumer materializes
  * the stage to a temp parquet (sorted by (doc_a, doc_b) for row-group
  * pruning, exactly like `DedupOps.pipeline`); every later consumer —
  * in the same session, same SF dir — reads the tiny persisted list.
  *
  * q21 itself does NOT read the cache: its catalog entry remains the
  * honest end-to-end LSH computation (and the oracle for all six).
  * The transitive-cluster stage (q46 = q58's input) is shared the same
  * way, derived from the persisted pairs rather than the raw corpus.
  *
  * Keyed by (SF dir, stage): the materialized parquet is a pure
  * function of the input directory and the derivation, so every
  * session in the JVM shares it (and no session object is ever pinned
  * in the cache); Bench warmup vs timed runs differ by dir and never
  * collide. Temp dirs are deleted by a JVM shutdown hook. Thread-safe
  * via computeIfAbsent; stage dependencies resolve BEFORE entering it.
  *
  * CONTRACT: the input directory is IMMUTABLE for the JVM lifetime.
  * The cache holds stages by path string with no content fingerprint
  * or invalidation — regenerating the same path with different data in
  * one JVM would silently serve stale pairs/clusters to q37/q46/q58/
  * q78/q80. That matches how every harness here uses it (the driver's
  * SF dirs and BenchScale's one-shot scaled temp dirs are
  * write-once); a long-lived service re-deriving a mutated corpus
  * must restart the JVM or use `DedupOps.pipeline` with an explicit
  * output path instead.
  */
object SharedStages {

  // keyed by (SF dir, stage) only: the materialized parquet is a pure
  // function of the input directory and the stage derivation, so any
  // session in this JVM can reuse it — and holding SparkSession keys
  // would pin stopped test sessions in the map for the JVM lifetime
  private val cache = new ConcurrentHashMap[(String, String), String]

  private def materialized(s: SparkSession, dir: String, stage: String,
      sortCols: Seq[String])(build: => DataFrame): DataFrame = {
    val path = cache.computeIfAbsent((dir, stage),
      new JFunction[(String, String), String] {
        def apply(k: (String, String)): String = {
          // deleted on JVM exit (the stage parquet is tiny —
          // pairs/clusters, never corpus data)
          val tmp = graft.api.Lifecycle.tempDir(s"graft-$stage-").toString
          graft.jobs.Sinks.layout(build, tmp, partitionCols = Nil,
            sortCols = sortCols, numFiles = 1)
          tmp
        }
      })
    s.read.parquet(path)
  }

  /** q21's verified near-dup pair list (doc_a, doc_b, jaccard_x1000),
    * materialized once per (session, SF dir).
    */
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
  def clusters(s: SparkSession, dir: String): DataFrame = {
    // resolve the pair stage BEFORE entering this stage's
    // computeIfAbsent: nesting computeIfAbsent calls on one
    // ConcurrentHashMap is undefined behavior (recursive-update
    // IllegalStateException when the keys land in the same bin —
    // exactly how run orders that hit clusters before any pair
    // consumer failed)
    val pairs = minhashPairs(s, dir)
    materialized(s, dir, "clusters", Seq("cluster_id", "doc_id")) {
      graft.api.DedupOps.clusters(pairs)
    }
  }
}
