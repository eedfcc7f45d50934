package graft.queries

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** MLlib-backed operators — the trained-index path of the similarity
  * layer (north star names "Structured Streaming + MLlib").
  */
object MlQueries {

  // the first consumer writes the IVF-PQ index and every later run
  // probes the SAME parquet — the index's own deployment story (build
  // once, probe per batch)
  private[graft] def ivfPqIndexDir(s: SparkSession, dir: String): String =
    SharedStages.artifact(dir, "ivfpq") { tmp =>
      val model = graft.api.VectorOps.ivfPqTrain(
        Tables.embeddings(s, dir), "vec_id", "embedding",
        nCells = 8, m = 16, k = 16, seed = 42L)
      graft.api.VectorOps.writeIvfPqIndex(
        Tables.embeddings(s, dir), "vec_id", "embedding", model, tmp)
      tmp
    }

  /** Full KMeans-IVF neighbor detail: qid, qcell, nid, cell, sim, rn.
    * MLlib KMeans (k=8, fixed seed) learns the coarse quantizer instead
    * of q24's fixed centroids; vectors carry their cluster id as the
    * pruning key and queries probe only their own cell for top-5 by
    * cosine. At 100TB the model trains on a sample, assignment is a
    * broadcast-model map, and the cell id becomes the parquet partition
    * column — scans touch 1/k of the corpus.
    */
  def neighbors(s: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val base = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(expr("dot_f(v, v)")))
      .withColumn("features", array_to_vector(col("v")))
    val model = new KMeans().setK(8).setSeed(42L).setMaxIter(5)
      .setFeaturesCol("features").setPredictionCol("cell")
      .fit(base)
    val asg = model.transform(base)
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
    val q = asg.filter(col("vec_id") >= 100 && col("vec_id") < 110)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qn"), col("cell").as("qcell"))
    broadcast(q).join(asg,
        col("cell") === col("qcell") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("qcell"), col("vec_id").as("nid"), col("cell"),
        (expr("dot_f(qv, v)") / (col("qn") * col("nrm"))).as("sim"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("sim").desc, col("nid").asc)).cast("long"))
      .filter(col("rn") <= 5)
  }

  val all: Seq[QueryDef] = Seq(

    QueryDef(
      "q30_ann_kmeans_ivf",
      "IVF ANN with TRAINED partitions (see MlQueries.neighbors for the " +
        "full detail surface). KMeans cluster ids are engine-specific, " +
        "so the catalog entry oracle-checks the INVARIANTS the index " +
        "must satisfy, computed from the real neighbor rows: 5 ranked " +
        "neighbors per query, dense rn 1..5, every neighbor in the " +
        "query's own cell, sims non-increasing with rank.",
      Some("""
SELECT vec_id AS qid,
       5::BIGINT AS n_neighbors,
       true AS rn_dense,
       true AS same_cell,
       true AS sims_sorted
FROM embeddings WHERE vec_id >= 100 AND vec_id < 110"""),
      (s, dir) =>
        neighbors(s, dir)
          .groupBy(col("qid"))
          .agg(count(lit(1)).as("n_neighbors"),
            (sum(col("rn")) === lit(15L) && max(col("rn")) === lit(5L) &&
              count(lit(1)) === lit(5L)).as("rn_dense"),
            (sum(when(col("cell") === col("qcell"), lit(1L)).otherwise(lit(0L)))
              === count(lit(1))).as("same_cell"),
            sort_array(collect_list(struct(col("rn"), col("sim")))).as("rs"))
          .withColumn("sims_sorted", expr(
            "size(rs) < 2 OR forall(sequence(1, size(rs) - 1), " +
              "i -> rs[i-1].sim >= rs[i].sim)"))
          .select("qid", "n_neighbors", "rn_dense", "same_cell", "sims_sorted"))
  ,

    QueryDef(
      "q94_ann_pq",
      "Product-quantization ANN (Jégou et al., 2011) with exact " +
        "re-rank (the FAISS IndexRefine shape): per-subspace KMeans " +
        "codebooks (m=16 subspaces × k=16 centroids over " +
        "unit-normalized 64-d vectors, deterministic seed + sorted " +
        "centroids), corpus encoded to m codes — 16 BYTES a vector at " +
        "rest, 16× smaller than the floats, the thing that makes a " +
        "100TB corpus scannable — then asymmetric-distance shortlist " +
        "(top-100 by the native codegen pq_adc kernel: m table adds " +
        "per row, raw embeddings untouched) and an exact cosine " +
        "re-rank of just those 100 candidates per query for the final " +
        "top-10. Codebooks are engine-specific (like q30), so the " +
        "oracle checks invariants computed from the real neighbor " +
        "rows: 10 ranked neighbors per query, dense rn, and recall@10 " +
        "vs the exact brute-force top-10 (computed in-band) of at " +
        "least 5/10 — the refine path holds 6–10/10 at sf0.01 AND " +
        "sf0.1, so the bound has slack for KMeans float jitter " +
        "without ever passing a broken index.",
      Some("""
SELECT vec_id AS qid,
       10::BIGINT AS n_neighbors,
       true AS rn_dense,
       true AS recall_ok
FROM embeddings WHERE vec_id >= 100 AND vec_id < 110"""),
      (s, dir) => {
        val floor = AnnFloors.floor(s, "q94_ann_pq", dir)
        pqRecallCounts(s, dir)
          .select(col("qid"), col("n_neighbors"), col("rn_dense"),
            (col("recall10") >= lit(floor.toLong)).as("recall_ok"))
      }),

    QueryDef(
      "q99_ann_ivfpq",
      "IVF-PQ: the production FAISS index architecture (IVF8,PQ16) as " +
        "a parquet layout + probe. A trained coarse quantizer routes " +
        "every vector to one of 8 cells; the codes parquet is " +
        "PARTITIONED BY cell, so a probe that routes its query to the " +
        "3 nearest cells (pq_dists on the tiny query side) reads ONLY " +
        "those directories — literal partition pruning, the MinHash " +
        "index's __bp contract for vectors — and ADC-scans 16-byte " +
        "codes inside them. The index builds ONCE per corpus (session " +
        "cache = the deployment story; the probe is the recurring " +
        "cost and is stateless, so the same function is a streaming " +
        "stream-static probe). Final top-10 = exact cosine re-rank of " +
        "the probed candidates. Oracle (q30/q94 pattern): structure + " +
        "in-band recall@10 vs the global exact top-10 >= 3/10 — " +
        "nprobe=3/8 forfeits cross-cell neighbors by design (measured " +
        "4-9/10 at sf0.001/sf0.01/sf0.1), and the bound still fails " +
        "on any broken routing, encoding, or pruning.",
      Some("""
SELECT vec_id AS qid,
       10::BIGINT AS n_neighbors,
       true AS rn_dense,
       true AS recall_ok
FROM embeddings WHERE vec_id >= 100 AND vec_id < 110"""),
      (s, dir) => ivfPqRecallHarness(s, dir, ivfPqIndexDir(s, dir),
        "q99_ann_ivfpq"))
  ,

    QueryDef(
      "q115_fold_ivfpq_probe",
      "IVF-PQ index maintenance proven end-to-end " +
        "(VectorOps.maintainIvfPqIndex) — the sixth persisted family " +
        "under the maintain* policy: v1 trains its codebooks " +
        "and encodes 80% of the vectors, the 20% delta goes through " +
        "the FULL maintain path (writer lock, recoverAtEntry, frozen-" +
        "codebook O(delta) fold — the FAISS add contract — then, at " +
        "compactThreshold 2, the compact-and-swap back to one sorted " +
        "run per cell), and the q99 recall harness runs VERBATIM (one " +
        "shared function) against the COMPACTED index: per-query " +
        "exact-cosine re-rank of the pruned ADC candidates must be " +
        "rank-dense with in-band recall@10 >= 3/10 vs the global " +
        "exact top-10. Fold and compaction introduce ZERO " +
        "approximation beyond PQ (same codebooks => same codes; " +
        "compaction is a pure re-layout — ApiSpec asserts exact " +
        "probe-set equality vs a same-model rebuild at every stage); " +
        "what this catalog row gates is the deployed composition: " +
        "maintain -> swap -> route -> prune -> ADC -> re-rank on the " +
        "driver-checked oracle.",
      Some("""
SELECT vec_id AS qid,
       10::BIGINT AS n_neighbors,
       true AS rn_dense,
       true AS recall_ok
FROM embeddings WHERE vec_id >= 100 AND vec_id < 110"""),
      (s, dir) => ivfPqRecallHarness(s, dir, foldedIvfPqDir(s, dir),
        "q115_fold_ivfpq_probe"))
  )

  /** q94's raw recall counts: PQ ADC shortlist + exact refine top-10
    * vs the in-band exact brute top-10, per-query. Split from the
    * boolean oracle mapping so `Probe ann-floors` can record the
    * measured minima the [[AnnFloors]] floors are pinned against.
    */
  private[graft] def pqRecallCounts(s: SparkSession,
      dir: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val emb = Tables.embeddings(s, dir)
    val pred = col("vec_id") >= 100 && col("vec_id") < 110
    val model = graft.api.VectorOps.pqTrain(
      emb, "vec_id", "embedding", m = 16, k = 16, seed = 42L)
    val pq = graft.api.VectorOps.pqAnnTopK(
      emb, "vec_id", "embedding", model, pred, k = 10, refine = 100)
    val exact = graft.api.VectorOps.annBruteTopK(
        emb, "vec_id", "embedding", pred, k = 10)
      .select(col("qid").as("eqid"), col("nid").as("enid"))
    pq.join(exact,
        col("qid") === col("eqid") && col("nid") === col("enid"),
        "left")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_neighbors"),
        (sum(col("rn")) === lit(55L) && max(col("rn")) === lit(10L) &&
          count(lit(1)) === lit(10L)).as("rn_dense"),
        sum(when(col("eqid").isNotNull, lit(1L)).otherwise(lit(0L)))
          .as("recall10"))
  }

  /** The q99/q115 oracle harness over ANY IVF-PQ index dir covering
    * the full embeddings corpus: pruned ADC probe (nprobe=3) ->
    * exact-cosine re-rank to top-10 -> per-query structure + in-band
    * recall@10 floor ([[AnnFloors]], pinned per SF at measured
    * minimum − 1) vs the global exact top-10. ONE function so the
    * fresh-index and folded-index rows cannot drift in what they gate.
    */
  private def ivfPqRecallHarness(s: SparkSession, dir: String,
      idx: String, floorKey: String): DataFrame = {
    val floor = AnnFloors.floor(s, floorKey, dir)
    ivfPqRecallCounts(s, dir, idx)
      .select(col("qid"), col("n_neighbors"), col("rn_dense"),
        (col("recall10") >= lit(floor.toLong)).as("recall_ok"))
  }

  /** The raw-count leg of [[ivfPqRecallHarness]] — also what
    * `Probe ann-floors` records minima from.
    */
  private[graft] def ivfPqRecallCounts(s: SparkSession, dir: String,
      idx: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val emb = Tables.embeddings(s, dir)
    val pred = col("vec_id") >= 100 && col("vec_id") < 110
    // candidates from the pruned ADC scan (threshold low enough to
    // keep every probed candidate — selection happens at re-rank)
    val cand = graft.api.VectorOps.ivfPqProbe(
        emb.filter(pred), "vec_id", "embedding", idx,
        adcX1000Threshold = -2000, nprobe = 3)
      .filter(col("vec_old") =!= col("vec_new"))
      .select(col("vec_new").as("qid"), col("vec_old").as("nid"))
    val base = graft.api.VectorOps.normalized(emb, "vec_id", "embedding")
      .withColumn("u", expr("transform(v, x -> x / nrm)"))
    val qv = base.filter(pred)
      .select(col("vec_id").as("qid2"), col("u").as("qu"))
    val nv = base.select(col("vec_id").as("nid2"), col("u").as("nu"))
    val ranked = cand
      .join(broadcast(qv), col("qid") === col("qid2"))
      .join(nv, col("nid") === col("nid2"))
      .select(col("qid"), col("nid"), expr("dot_f(qu, nu)").as("sim"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("sim").desc, col("nid").asc)).cast("long"))
      .filter(col("rn") <= 10)
    val exact = graft.api.VectorOps.annBruteTopK(
        emb, "vec_id", "embedding", pred, k = 10)
      .select(col("qid").as("eqid"), col("nid").as("enid"))
    ranked.join(exact,
        col("qid") === col("eqid") && col("nid") === col("enid"), "left")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_neighbors"),
        (sum(col("rn")) === lit(55L) && max(col("rn")) === lit(10L) &&
          count(lit(1)) === lit(10L)).as("rn_dense"),
        sum(when(col("eqid").isNotNull, lit(1L)).otherwise(lit(0L)))
          .as("recall10"))
  }

  // the MAINTAINED IVF-PQ index (the q110/q111/q113 fixture
  // pattern for the vector-codes family): codebooks train on the 80%
  // slice, v1 encodes it, the 20% delta goes through the FULL
  // maintain* policy — writer lock, crash recovery at entry, O(delta)
  // frozen-codebook fold, and (threshold 2) the compact-and-swap, so
  // the q115 oracle gates a probe over a COMPACTED index. Compaction
  // is a pure re-layout for IVF-PQ (no read-side reconcile exists),
  // so probe results are identical to the layered state ApiSpec pins
  // exactly — what the catalog row adds is the deployed composition:
  // maintain -> swap -> route -> prune -> ADC -> re-rank.
  private[graft] def foldedIvfPqDir(s: SparkSession, dir: String): String =
    SharedStages.artifact(dir, "ivfpqfold") { tmp =>
      val emb = Tables.embeddings(s, dir)
      val c0 = emb.filter(col("vec_id") % 5 =!= 0)
      val delta = emb.filter(col("vec_id") % 5 === 0)
      val model = graft.api.VectorOps.ivfPqTrain(
        c0, "vec_id", "embedding", nCells = 8, m = 16, k = 16, seed = 42L)
      graft.api.VectorOps.writeIvfPqIndex(
        c0, "vec_id", "embedding", model, tmp)
      val compacted = graft.api.VectorOps.maintainIvfPqIndex(
        delta, "vec_id", "embedding", tmp, compactThreshold = 2)
      require(compacted,
        "foldedIvfPqDir: maintain at threshold 2 must compact — the " +
          "q115 row is specified to gate a probe over a compacted index")
      tmp
    }
}
