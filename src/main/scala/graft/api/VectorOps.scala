package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorExpressions

/** Similarity-search API over caller-named embedding columns. Dot
  * products run through the codegen `dot_f` expression (left-to-right
  * double fold — bit-identical to DuckDB's list_dot_product).
  */
object VectorOps {

  /** Casts + pre-computes the L2 norm: idCol, v, nrm. */
  def normalized(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    VectorExpressions.register(df.sparkSession)
    df.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(expr("dot_f(v, v)")))
  }

  /** Global top-k most-similar PAIRS, brute force over the n² pair
    * space (recall baseline — [[lshTopKPairs]] is the scale path).
    * Output: vec_a, vec_b, rn. Ends in TakeOrderedAndProject: each
    * task keeps a local top-k, never a single-partition rank.
    */
  def cosineTopKPairs(df: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val base = normalized(df, idCol, vecCol)
    val a = base.select(col(idCol).as("vec_a"), col("v").as("va"),
      col("nrm").as("na"))
    val b = base.select(col(idCol).as("vec_b"), col("v").as("vb"),
      col("nrm").as("nb"))
    topKByCosine(a.join(b, col("vec_a") < col("vec_b")), k)
  }

  /** Global top-k of candidate (vec_a, va, na, vec_b, vb, nb) pairs by
    * cosine, ties by ids: vec_a, vec_b, rn. */
  private def topKByCosine(pairs: DataFrame, k: Int): DataFrame = {
    val ord = Seq(col("sim").desc, col("vec_a").asc, col("vec_b").asc)
    pairs
      .select(col("vec_a"), col("vec_b"),
        (expr("dot_f(va, vb)") / (col("na") * col("nb"))).as("sim"))
      .orderBy(ord: _*).limit(k)
      .withColumn("rn", row_number().over(
        Window.partitionBy(spark_partition_id()).orderBy(ord: _*)).cast("long"))
      .select("vec_a", "vec_b", "rn")
  }

  /** Random-hyperplane LSH top-k pairs: sign-signature buckets (one bit
    * per plane, map-only), similarity scored ONLY within buckets
    * (~n²/2^planes of the brute space), global top-k via
    * TakeOrderedAndProject. Output: vec_a, vec_b, rn.
    */
  def lshTopKPairs(df: DataFrame, idCol: String, vecCol: String,
      planes: Seq[Seq[Double]], k: Int): DataFrame = {
    val base = normalized(df, idCol, vecCol)
    val bucket = planes.zipWithIndex.map { case (p, j) =>
      val arr = p.map(x => s"${x}D").mkString("array(", ", ", ")")
      when(expr(s"dot_f(v, $arr)") > 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)
    val withB = base.withColumn("bucket", bucket)
    val a = withB.select(col("bucket"), col(idCol).as("vec_a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = withB.select(col("bucket"), col(idCol).as("vec_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    topKByCosine(a.join(b, Seq("bucket")).filter(col("vec_a") < col("vec_b")),
      k)
  }

  /** Embedding-cosine near-duplicate PAIRS above a similarity
    * threshold — the embedding analog of [[DedupOps.minhashPairs]],
    * feeding the same downstream consumers ([[DedupOps.clusters]],
    * keeper selection). Output: vec_a, vec_b, sim_x1000 (floor of
    * cosine × 1000, engine-exact given the `dot_f` fold).
    *
    * Candidates come from BANDED sign-signature LSH: `planes` is split
    * into bands of `rowsPerBand` hyperplanes; two vectors are
    * candidates iff some band's sign bits all agree (near-dups at
    * sim ≥ 0.95 disagree per plane with p ≈ 0.1, so 4 bands of 4 catch
    * ≈ 98.6% — a single 16-bit signature would catch only ≈ 18%).
    * Per-(band, signature) buckets aggregate through `capped_list`,
    * so one degenerate signature (e.g. a mass-duplicated embedding)
    * costs O(cap²), never O(n²) — same skew contract as minhashPairs,
    * and like it requires a BIGINT id column. Exact cosine is computed
    * for candidates only.
    */
  def nearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      planes: Seq[Seq[Double]], simX1000Threshold: Int,
      rowsPerBand: Int = 4,
      maxBucket: Int = DedupOps.DefaultMaxBucket): DataFrame = {
    require(planes.nonEmpty && planes.size % rowsPerBand == 0,
      s"nearDupPairs: ${planes.size} planes not divisible into bands of $rowsPerBand")
    graft.functions.SketchAggregates.register(df.sparkSession)
    val base = normalized(df, idCol, vecCol)
    val bands = signBands(base, idCol, planes, rowsPerBand)
    verifyCosine(DedupOps.cappedCandidatePairs(bands,
        Seq(col("band"), col("bkey")), idCol, maxBucket, "vec_a", "vec_b")
      .join(base.select(col(idCol).as("vec_a"), col("v").as("va"),
        col("nrm").as("na")), Seq("vec_a"))
      .join(base.select(col(idCol).as("vec_b"), col("v").as("vb"),
        col("nrm").as("nb")), Seq("vec_b")), "vec_a", "vec_b",
      simX1000Threshold)
  }

  /** THE exact cosine verify, written once for the self-join and both
    * probe sources: candidate pairs carrying both sides' normalized
    * vectors and norms as (va, na, vb, nb) → aCol, bCol, sim_x1000
    * (floor of cosine × 1000, >= threshold).
    */
  private def verifyCosine(pairs: DataFrame, aCol: String, bCol: String,
      simX1000Threshold: Int): DataFrame =
    pairs
      .select(col(aCol), col(bCol),
        floor(expr("dot_f(va, vb)") / (col("na") * col("nb")) * 1000)
          .cast("long").as("sim_x1000"))
      .filter(col("sim_x1000") >= simX1000Threshold)

  /** Banded sign-signature rows: (idCol, band, bkey) — the ONE
    * definition of the hyperplane banding, shared by the self-join
    * ([[nearDupPairs]]) and incremental ([[nearDupPairsAgainst]])
    * paths so delta and corpus band identically (the vector analog of
    * DedupOps.shingleHashed/withBandKeys). Only (id, band, key)
    * reaches any downstream shuffle — vectors stay behind and rejoin
    * for surviving candidates.
    */
  private def signBands(base: DataFrame, idCol: String,
      planes: Seq[Seq[Double]], rowsPerBand: Int): DataFrame = {
    val signBits = planes.zipWithIndex.map { case (p, j) =>
      val arr = p.map(x => s"${x}D").mkString("array(", ", ", ")")
      when(expr(s"dot_f(v, $arr)") > 0, lit(1 << (j % rowsPerBand)))
        .otherwise(lit(0))
    }
    val bandKeys = signBits.grouped(rowsPerBand).map(_.reduce(_ + _)).toSeq
    base
      .select(col(idCol), posexplode(array(bandKeys: _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bkey")
  }

  /** Incremental embedding dedup: near-dup pairs between a NEW batch
    * and the EXISTING corpus — the vector-space twin of
    * [[DedupOps.minhashPairsAgainst]] (q59's shape, for embedding
    * columns): [[signProbe]] over the [[signRows]] tables derived in
    * memory from `corpusDf`. Corpus band buckets aggregate to capped
    * id-lists (an over-hot signature blocks nothing — the q21 skew
    * contract), the new batch's band keys probe them, and exact cosine
    * verifies candidates only. The corpus is never re-paired against
    * itself; at 100TB the bucket index is materialized once
    * ([[writeSignIndex]]) and re-probed per ingest batch
    * ([[probeSignIndex]]). Output: vec_new, vec_old, sim_x1000.
    */
  def nearDupPairsAgainst(newDf: DataFrame, corpusDf: DataFrame,
      idCol: String, vecCol: String, planes: Seq[Seq[Double]],
      simX1000Threshold: Int, rowsPerBand: Int = 4,
      maxBucket: Int = DedupOps.DefaultMaxBucket): DataFrame =
    signProbe(newDf, idCol, vecCol, planes,
      IndexMaintenance.Corpus.derived("max_bucket" -> maxBucket,
        "rows_per_band" -> rowsPerBand)(
        signRows(normalized(corpusDf, idCol, vecCol), idCol, planes,
          "nearDupPairsAgainst")),
      simX1000Threshold, "nearDupPairsAgainst")

  /** The sign-LSH probe, ONE body for both corpus sources: delta
    * vectors band map-only with the corpus's `rows_per_band` (the
    * caller's parameter inline, the index's own meta otherwise — a
    * probe banding with another geometry would match nothing it
    * should), join the live buckets, and verify exact cosine against
    * the corpus `vectors` table. `planes` are the caller's (the LSH
    * contract: the build's own planes on every side).
    */
  private def signProbe(newDf: DataFrame, idCol: String, vecCol: String,
      planes: Seq[Seq[Double]], corpus: IndexMaintenance.Corpus,
      simX1000Threshold: Int, op: String): DataFrame = {
    val rowsPerBand = corpus.meta.int("rows_per_band")
    require(planes.nonEmpty && planes.size % rowsPerBand == 0,
      s"$op: ${planes.size} planes not divisible into bands of $rowsPerBand")
    val bNew = normalized(newDf, idCol, vecCol)
    verifyCosine(signBands(bNew, idCol, planes, rowsPerBand)
        .join(corpus("buckets").filter(col("__cs").isNotNull),
          Seq("band", "bkey"))
        .select(col(idCol).as("vec_new"), explode(col("__cs")).as("vec_old"))
        .dropDuplicates("vec_new", "vec_old")
        .join(bNew.select(col(idCol).as("vec_new"), col("v").as("va"),
          col("nrm").as("na")), Seq("vec_new"))
        .join(corpus("vectors").select(col("vec_old"), col("vo").as("vb"),
          col("no").as("nb")), Seq("vec_old")),
      "vec_new", "vec_old", simX1000Threshold)
  }

  /** The sign-LSH index family — the vector twin of
    * [[DedupOps.MinhashIndex]]: `buckets` = capped (band, bkey, `__cs`)
    * sign-signature buckets WITH over-cap tombstones, sorted by
    * (band, bkey) (no prefix partition); `vectors` = (vec_old, vo, no)
    * normalized vectors for the exact-cosine verify; meta =
    * (max_bucket, rows_per_band, layers). `planes` are the caller's
    * (the LSH contract: the build's own planes on every side).
    */
  private[graft] val SignIndex = IndexMaintenance.Family("sign",
    "writeSignIndex", Seq("max_bucket", "rows_per_band"),
    "cap/banding geometry and layer count", IndexMaintenance.Manifest.Layers,
    _ => Seq(DedupOps.bucketTable(withPrefix = false),
      IndexMaintenance.Table("vectors", Seq("vec_old"), 8)))

  /** The sign family's corpus tables — the ONE derivation behind the
    * index build/fold and the inline probe — over a normalize pass
    * ([[normalized]]), banded with the meta's rows_per_band. */
  private def signRows(base: DataFrame, idCol: String,
      planes: Seq[Seq[Double]], op: String)(
      m: IndexMaintenance.Meta): IndexMaintenance.Delta = {
    graft.functions.SketchAggregates.register(base.sparkSession)
    val rowsPerBand = m.int("rows_per_band")
    require(planes.nonEmpty && planes.size % rowsPerBand == 0,
      s"$op: ${planes.size} planes not divisible into the index's " +
        s"bands of $rowsPerBand")
    IndexMaintenance.Delta(
      "buckets" -> DedupOps.bandBucketsAll(
        signBands(base, idCol, planes, rowsPerBand), idCol,
        m.int("max_bucket")),
      "vectors" -> base.select(col(idCol).as("vec_old"), col("v").as("vo"),
        col("nrm").as("no")))
  }

  /** Materialize the corpus side of [[probeSignIndex]] to parquet
    * ([[SignIndex]]'s layout) — one normalize pass feeds both tables;
    * build once per corpus version, probe per ingest batch.
    */
  def writeSignIndex(corpus: DataFrame, idCol: String, vecCol: String,
      planes: Seq[Seq[Double]], path: String, rowsPerBand: Int = 4,
      maxBucket: Int = DedupOps.DefaultMaxBucket): Unit =
    IndexMaintenance.pinned(normalized(corpus, idCol, vecCol),
      signRows(_, idCol, planes, "writeSignIndex"))(
      IndexMaintenance.write(corpus.sparkSession, path, SignIndex,
        "max_bucket" -> maxBucket, "rows_per_band" -> rowsPerBand))

  /** Fold a DELTA of new vectors into a persisted [[writeSignIndex]]
    * IN PLACE with O(delta) write bytes — the embedding sibling of the
    * in-place [[DedupOps.foldIntoMinhashIndex]] (same reconcile, q113's
    * driver-checked hash; same crash contract).
    */
  def foldIntoSignIndex(delta: DataFrame, idCol: String, vecCol: String,
      planes: Seq[Seq[Double]], indexPath: String): Unit = {
    IndexMaintenance.pinned(normalized(delta, idCol, vecCol),
      signRows(_, idCol, planes, "foldIntoSignIndex"))(
      IndexMaintenance.fold(delta.sparkSession, indexPath, SignIndex,
        "foldIntoSignIndex"))
    ()
  }

  /** Fold-and-COMPACT variant: delta + old index merged into a fresh
    * single-layer index at `outPath` — O(index) read AND write. Folded
    * index probes == from-scratch rebuild, cap tombstones and all.
    * Delta ids disjoint from indexed ids, as in every incremental path.
    */
  def foldIntoSignIndex(delta: DataFrame, idCol: String, vecCol: String,
      planes: Seq[Seq[Double]], indexPath: String,
      outPath: String): Unit =
    IndexMaintenance.pinned(normalized(delta, idCol, vecCol),
      signRows(_, idCol, planes, "foldIntoSignIndex"))(
      IndexMaintenance.foldTo(delta.sparkSession, indexPath, outPath,
        SignIndex, "foldIntoSignIndex"))

  /** [[DedupOps.maintainMinhashIndex]]'s sign-LSH twin. Returns true
    * when this fold triggered the compaction.
    */
  def maintainSignIndex(delta: DataFrame, idCol: String, vecCol: String,
      planes: Seq[Seq[Double]], indexPath: String,
      compactThreshold: Int =
        IndexMaintenance.DefaultCompactThreshold): Boolean =
    IndexMaintenance.pinned(normalized(delta, idCol, vecCol),
      signRows(_, idCol, planes, "maintainSignIndex"))(
      IndexMaintenance.maintain(delta.sparkSession, indexPath, SignIndex,
        "maintainSignIndex", compactThreshold)).contains(true)

  /** Compact a layered sign index back to one sorted run per table.
    * Identical probe results before and after.
    */
  def compactSignIndex(s: org.apache.spark.sql.SparkSession,
      indexPath: String, outPath: String): Unit =
    IndexMaintenance.compact(s, indexPath, outPath, SignIndex,
      "compactSignIndex")

  /** [[nearDupPairsAgainst]] probing a PERSISTED index
    * ([[writeSignIndex]]): the same [[signProbe]] over the index's
    * tables (layered runs reconciled through the exact cross-run cap
    * arithmetic), banded with the `rows_per_band` the index was built
    * with — identical output to the inline path on the same split
    * (parity-tested), with no corpus re-normalization or re-banding
    * per batch. `planes` must be the build's. Output: vec_new,
    * vec_old, sim_x1000.
    */
  def probeSignIndex(newDf: DataFrame, idCol: String, vecCol: String,
      planes: Seq[Seq[Double]], indexPath: String,
      simX1000Threshold: Int): DataFrame =
    signProbe(newDf, idCol, vecCol, planes,
      IndexMaintenance.Corpus.indexed(newDf.sparkSession, indexPath,
        SignIndex, "probeSignIndex"),
      simX1000Threshold, "probeSignIndex")

  /** Brute-force cosine top-k: rows matching `queryPred` are the query
    * set (broadcast), ranked per query with deterministic ties. Output:
    * qid, nid, rn. The recall baseline — LSH/IVF prune at scale.
    */
  def annBruteTopK(df: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int): DataFrame = {
    val base = normalized(df, idCol, vecCol)
    val q = base.filter(queryPred)
      .select(col(idCol).as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val n = base.select(col(idCol).as("nid"), col("v").as("nv"),
      col("nrm").as("nn"))
    broadcast(q).join(n, col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        (expr("dot_f(qv, nv)") / (col("qn") * col("nn"))).as("sim"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("sim").desc, col("nid").asc)).cast("long"))
      .filter(col("rn") <= k)
      .select(col("qid"), col("nid"), col("rn"))
  }

  /** Int8 scalar-quantization report per vector: dimension count,
    * min/max in exact micro fixed-point, and the summed quantization
    * codes Σ floor((v−min)·255/(max−min)) — the pre-flight statistic
    * for a quantized ANN index (range sanity + code-energy check,
    * and a cheap change-detector for re-quantization).
    * Output: idCol, n_dims, mn_x1m, mx_x1m, code_sum.
    *
    * Map-only, zero shuffles; the code loop is the native codegen'd
    * `quant_code_sum` expression, not an interpreted HOF chain. The
    * float→double promotions and op order match the DuckDB oracle
    * bit-for-bit.
    */
  def quantizeStats(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    VectorExpressions.register(df.sparkSession)
    df.select(col(idCol),
      size(col(vecCol)).cast("long").as("n_dims"),
      round(array_min(col(vecCol)).cast("double") * lit(1000000d))
        .cast("long").as("mn_x1m"),
      round(array_max(col(vecCol)).cast("double") * lit(1000000d))
        .cast("long").as("mx_x1m"),
      expr(s"quant_code_sum(`$vecCol`)").as("code_sum"))
  }

  /** Trained product-quantization codebooks: `m` subspaces of `subDim`
    * dims, `k` centroids each, flattened to `m·k·subDim` doubles in
    * the [[graft.functions.PqUtil]] layout. The model is tiny (for
    * m=8, k=16, d=64: 8 KiB) — it travels as a broadcast literal, the
    * Spark analog of FAISS shipping the codebook to every shard.
    */
  final case class PqCodebooks(m: Int, k: Int, subDim: Int,
      flat: Array[Double])

  /** Train PQ codebooks: deterministic Lloyd's iterations over ALL m
    * subspaces AT ONCE — one Spark job per iteration, not one KMeans
    * fit per subspace (the per-subspace-MLlib formulation launched
    * m·iters jobs and was the slowest thing in the catalog; this is
    * ~6 small jobs total). Vectors are UNIT-NORMALIZED first, so the
    * ADC dot product approximates cosine.
    *
    * - Training set: EXACTLY the `maxTrainRows` smallest-id-hash rows
    *   (distributed top-k, bounded at any corpus size) — at 100 TB the
    *   fit sees a fixed-size sample while encode/scan stream the full
    *   corpus (the standard IVF/PQ split: train small, apply wide).
    * - Init: per subspace, the k hash-ranked training subvectors
    *   (xxhash64 of (seed, id) — seeded, reproducible).
    * - Assign: the native `pq_encode` kernel computes every
    *   subspace's nearest code for a row in one call — the SAME
    *   kernel the corpus encode uses, so train-time and apply-time
    *   assignment can never disagree.
    * - Update: centroid means in nano fixed-point (Σ round(x·1e9) as
    *   int64 / count) — integer sums are partition-order-independent,
    *   so the trained model is bit-reproducible across runs and
    *   cluster layouts (a double Σ is not). Empty cells keep their
    *   previous centroid.
    * - Centroids sorted per subspace at the end: the code assignment
    *   is a pure function of the centroid SET.
    */
  def pqTrain(df: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, seed: Long, maxTrainRows: Long = 4096L,
      iters: Int = 5): PqCodebooks = {
    require(maxTrainRows > 0 && maxTrainRows <= Int.MaxValue,
      s"pqTrain: maxTrainRows $maxTrainRows outside (0, Int.MaxValue]")
    val cached = trainSample(df, idCol, vecCol, maxTrainRows)
    try pqTrainOnSample(cached, m, k, seed, iters)
    finally { cached.unpersist(); () }
  }

  /** The cached, EXACTLY-bounded training sample shared by every
    * codebook trained over one corpus: the maxTrainRows smallest-hash
    * rows — the SampleOps.prioritySample shape (TakeOrderedAndProject:
    * each task keeps a local top-k, the driver merges). EXACTLY
    * bounded at any corpus size — a per-mille hash threshold's
    * floor-at-1 would keep ~n/1000 rows past n = 1000·maxTrainRows and
    * silently void the fixed-size-sample contract the 100TB claim
    * rests on. Factored out (round 16) so [[ivfPqTrain]] pays the
    * corpus normalize + sample pass ONCE for its two codebooks instead
    * of once per codebook — the sample is seed-independent (ordered by
    * xxhash64(id) only), so sharing it is output-identical. Caller
    * owns the unpersist.
    */
  private def trainSample(df: DataFrame, idCol: String, vecCol: String,
      maxTrainRows: Long): DataFrame = {
    require(maxTrainRows > 0 && maxTrainRows <= Int.MaxValue,
      s"pqTrain: maxTrainRows $maxTrainRows outside (0, Int.MaxValue]")
    val base = normalized(df, idCol, vecCol)
      .withColumn("u", expr("transform(v, x -> x / nrm)"))
    base
      .orderBy(xxhash64(col(idCol)).asc, col(idCol).asc)
      .limit(maxTrainRows.toInt)
      .select(col(idCol).as("_id"), col("u")).cache()
  }

  /** Lloyd training over a pre-built [[trainSample]] frame. Geometry
    * (d) derives from the SAMPLE's max dimension — for the fixed-d
    * embeddings every caller feeds this is identical to the corpus
    * max, and it keeps the whole training loop corpus-free after the
    * one sample pass (round 16: the corpus-wide max(size) here was a
    * full extra pass per codebook, two per IVF-PQ build).
    */
  private def pqTrainOnSample(cached: DataFrame, m: Int, k: Int,
      seed: Long, iters: Int): PqCodebooks = {
    // geometry guard (VERDICT r16 #7): d comes from the SAMPLE, which
    // is only sound when the corpus is fixed-dimension — a ragged
    // corpus whose max-d rows miss the sample would otherwise train
    // wrong-geometry codebooks and silently truncate longer vectors at
    // encode time. Require uniform dimension on the sample (min==max,
    // one aggregate job) and fail loudly instead.
    val dims = cached.select(min(size(col("u"))).as("_mn"),
      max(size(col("u"))).as("_mx")).head
    val (dMin, d) = (dims.getInt(0), dims.getInt(1))
    require(dMin == d,
      s"pqTrain: ragged vector dimensions in the training sample " +
        s"(min $dMin, max $d) — PQ geometry requires fixed-dimension " +
        "input; pad or split the corpus by dimension first")
    require(m > 0 && d % m == 0, s"pqTrain: dim $d not divisible by m=$m")
    val subDim = d / m
    locally {
      // init: per subspace, k seed subvectors by seeded hash rank
      val seeds = cached
        .select(col("_id"), explode(expr(s"sequence(0, ${m - 1})")).as("_s"),
          col("u"))
        .select(col("_s"),
          expr(s"slice(u, _s * $subDim + 1, $subDim)").as("_sv"),
          xxhash64(lit(seed), col("_id"), col("_s")).as("_h"), col("_id"))
        .withColumn("_rn", row_number().over(
          Window.partitionBy(col("_s")).orderBy(col("_h"), col("_id"))))
        .filter(col("_rn") <= k)
        .select(col("_s"), col("_rn"), col("_sv"))
        .collect()
      val flat = new Array[Double](m * k * subDim)
      // a row shorter than d can hash-rank into the seeds: copy what
      // exists, leave the tail 0.0 — the same missing-dims-read-0 rule
      // PqUtil.encode applies. Fewer than k sample rows leave the
      // remaining centroids at the zero vector (duplicates are inert:
      // encode's first-minimum tie-break is deterministic).
      seeds.foreach { r =>
        val s = r.getInt(0); val c = r.getInt(1) - 1
        val sv = r.getSeq[Double](2)
        var j = 0
        val lim = math.min(subDim, sv.length)
        while (j < lim) { flat((s * k + c) * subDim + j) = sv(j); j += 1 }
      }
      // Lloyd: assign all subspaces in one pass, mean-update in exact
      // nano fixed-point, collect the tiny (sub, code, dim) stats
      var it = 0
      while (it < iters) {
        val stats = cached
          .select(call_function("pq_encode", col("u"), typedLit(flat.clone()),
            lit(m), lit(k)).as("_codes"), col("u"))
          .select(posexplode(col("_codes")).as(Seq("_s", "_c")), col("u"))
          .select(col("_s"), col("_c"),
            posexplode(expr(s"slice(u, _s * $subDim + 1, $subDim)"))
              .as(Seq("_j", "_x")))
          .groupBy(col("_s"), col("_c"), col("_j"))
          .agg(sum(round(col("_x") * lit(1e9d)).cast("long")).as("_sx"),
            count(lit(1)).as("_n"))
          .collect()
        stats.foreach { r =>
          val off = (r.getInt(0) * k + r.getInt(1)) * subDim + r.getInt(2)
          flat(off) = (r.getLong(3).toDouble / r.getLong(4)) / 1e9
        }
        it += 1
      }
      // sort centroids within each subspace
      import scala.math.Ordering.Implicits.seqOrdering
      var s = 0
      while (s < m) {
        val centers = (0 until k).map { c =>
          flat.slice((s * k + c) * subDim, (s * k + c + 1) * subDim).toSeq
        }.sortBy(identity)
        var c = 0
        while (c < k) {
          var j = 0
          while (j < subDim) {
            flat((s * k + c) * subDim + j) = centers(c)(j); j += 1
          }
          c += 1
        }
        s += 1
      }
      PqCodebooks(m, k, subDim, flat)
    }
  }

  /** PQ-encode the corpus: idCol + `codes` (m ints — at rest these are
    * m BYTES per vector vs 4·d for the raw floats, a 32× compression
    * at m=8/d=64, which is what makes a 100 TB corpus scannable from
    * memory). Map-only; the argmin loop is the native codegen'd
    * `pq_encode` expression over a broadcast codebook literal.
    */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
      model: PqCodebooks): DataFrame = {
    val base = normalized(df, idCol, vecCol)
      .withColumn("u", expr("transform(v, x -> x / nrm)"))
    base.select(col(idCol),
      call_function("pq_encode", col("u"), typedLit(model.flat),
        lit(model.m), lit(model.k)).as("codes"))
  }

  /** PQ ANN top-k by asymmetric distance computation with exact
    * re-rank (the FAISS `IndexRefine` shape): queries keep their exact
    * (unit) vectors and precompute an m·k lookup table once; the
    * corpus scan reads ONLY the m-byte codes via `pq_adc` (m table
    * adds per row) and keeps a per-query shortlist of `refine`
    * candidates; the raw vectors of just those candidates are then
    * fetched for an exact cosine re-rank of the final top-k. At 100 TB
    * the full-corpus pass touches m bytes a vector and the exact math
    * touches `refine` rows a query — the compressed scan does the
    * winnowing, the floats only the finish. Broadcast the tiny query
    * side, rank per query, deterministic ties. Output: qid, nid, rn.
    */
  def pqAnnTopK(df: DataFrame, idCol: String, vecCol: String,
      model: PqCodebooks, queryPred: Column, k: Int,
      refine: Int = 100): DataFrame = {
    require(refine >= k, s"pqAnnTopK: refine $refine < k $k")
    val base = normalized(df, idCol, vecCol)
      .withColumn("u", expr("transform(v, x -> x / nrm)"))
    val enc = pqEncode(df, idCol, vecCol, model)
      .select(col(idCol).as("nid"), col("codes"))
    val q = base.filter(queryPred)
      .select(col(idCol).as("qid"), col("u").as("qu"),
        call_function("pq_lut", col("u"), typedLit(model.flat),
          lit(model.m), lit(model.k)).as("lut"))
    val shortlist = broadcast(q).join(enc, col("qid") =!= col("nid"))
      .select(col("qid"), col("qu"), col("nid"),
        call_function("pq_adc", col("codes"), col("lut"), lit(model.k))
          .as("asim"))
      .withColumn("arn", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("asim").desc, col("nid").asc)))
      .filter(col("arn") <= refine)
      .select(col("qid"), col("qu"), col("nid"))
    // exact re-rank of refine·|queries| rows: broadcast the shortlist
    // onto the corpus ids, never the corpus onto the shortlist
    broadcast(shortlist)
      .join(base.select(col(idCol).as("nid2"), col("u").as("nu")),
        col("nid") === col("nid2"))
      .select(col("qid"), col("nid"), expr("dot_f(qu, nu)").as("sim"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("sim").desc, col("nid").asc)).cast("long"))
      .filter(col("rn") <= k)
      .select(col("qid"), col("nid"), col("rn"))
  }

  /** An IVF-PQ index model: a coarse quantizer (nCells centroids over
    * the FULL vector — [[pqTrain]] with m=1) that routes vectors to
    * cells, and the PQ codebooks that compress them inside. The FAISS
    * `IVFx,PQy` architecture re-expressed as a parquet layout.
    */
  final case class IvfPqModel(coarse: PqCodebooks, pq: PqCodebooks)

  /** Train the coarse quantizer and the PQ codebooks — both via the
    * deterministic Lloyd's [[pqTrain]] (the coarse quantizer IS a
    * 1-subspace PQ over the whole vector).
    */
  def ivfPqTrain(df: DataFrame, idCol: String, vecCol: String,
      nCells: Int, m: Int, k: Int, seed: Long): IvfPqModel = {
    // one corpus normalize + sample pass feeds BOTH codebooks: the
    // sample is seed-independent, so this is output-identical to two
    // pqTrain calls while halving the corpus-side training cost
    val cached = trainSample(df, idCol, vecCol, maxTrainRows = 4096L)
    // the two codebooks are independent given the shared sample: train
    // them on concurrent driver threads (guide §2.6 — overlap
    // independent jobs) so the ~10 serial Lloyd collect round-trips
    // become ~5. Each Lloyd loop is internally deterministic, so the
    // models are bit-identical to sequential training.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val coarseF = pool.submit(
        new java.util.concurrent.Callable[PqCodebooks] {
          def call(): PqCodebooks =
            pqTrainOnSample(cached, m = 1, k = nCells, seed = seed,
              iters = 5)
        })
      val pqF = pool.submit(
        new java.util.concurrent.Callable[PqCodebooks] {
          def call(): PqCodebooks =
            pqTrainOnSample(cached, m = m, k = k, seed = seed + 1000,
              iters = 5)
        })
      IvfPqModel(coarse = coarseF.get(), pq = pqF.get())
    } finally { pool.shutdown(); cached.unpersist(); () }
  }

  /** The IVF-PQ index family: `codes` = (id, cell, codes[m]) parquet
    * PARTITIONED BY cell — a probe that routes to `nprobe` cells reads
    * ONLY those directories — plus a one-row `meta` holding both
    * codebooks, and optionally `vectors` = (vid, cell, vec), the RAW
    * input vectors under the same cell partitioning. The codebooks are
    * FROZEN (the FAISS `add` contract), so folds never rewrite `meta`
    * and the run count lives in the `runs` sidecar
    * ([[IndexMaintenance.Manifest.Sidecar]]); codes rows are per-vector
    * over disjoint ids, so no read-side reconcile exists and compaction
    * is a pure re-layout that buys file count (every fold adds up to
    * `numFiles` files per routed cell). `idCol` is the codes table's
    * sort column — the id column the build wrote.
    */
  private[graft] def IvfPqIndex(idCol: String): IndexMaintenance.Family =
    IndexMaintenance.Family("IVF-PQ", "writeIvfPqIndex",
      Seq("c_m", "c_k", "c_sub", "c_flat", "p_m", "p_k", "p_sub", "p_flat"),
      "coarse and PQ codebooks", IndexMaintenance.Manifest.Sidecar,
      m => Seq(
        IndexMaintenance.Table("codes", Seq(idCol), m.int("c_k"),
          partitionCols = Seq("cell")),
        IndexMaintenance.Table("vectors", Seq("vid"), m.int("c_k"),
          partitionCols = Seq("cell"), optional = true)))

  /** Row derivation: normalize + coarse-route + PQ-encode against the
    * index's codebooks; `vectors` rows land only where the index
    * stores them. */
  private def ivfPqRows(df: DataFrame, idCol: String, vecCol: String,
      model: IvfPqModel): IndexMaintenance.Delta =
    ivfPqTables(ivfPqRouted(df, idCol, vecCol, model), idCol, model)

  private def ivfPqRouted(df: DataFrame, idCol: String, vecCol: String,
      model: IvfPqModel): DataFrame = {
    VectorExpressions.register(df.sparkSession)
    normalized(df, idCol, vecCol)
      .withColumn("u", expr("transform(v, x -> x / nrm)"))
      .withColumn("cell",
        element_at(call_function("pq_encode", col("u"),
          typedLit(model.coarse.flat), lit(1), lit(model.coarse.k)), 1))
  }

  private def ivfPqTables(routed: DataFrame, idCol: String,
      model: IvfPqModel): IndexMaintenance.Delta = IndexMaintenance.Delta(
    "codes" -> routed.select(col(idCol), col("cell"),
      call_function("pq_encode", col("u"), typedLit(model.pq.flat),
        lit(model.pq.m), lit(model.pq.k)).as("codes")),
    "vectors" -> routed.select(col(idCol).as("vid"), col("cell"),
      col("v").as("vec")))

  private def modelOf(m: IndexMaintenance.Meta): IvfPqModel = IvfPqModel(
    coarse = PqCodebooks(m.int("c_m"), m.int("c_k"), m.int("c_sub"),
      m.doubles("c_flat")),
    pq = PqCodebooks(m.int("p_m"), m.int("p_k"), m.int("p_sub"),
      m.doubles("p_flat")))

  /** Persist the IVF-PQ index ([[IvfPqIndex]]'s layout). At rest the
    * corpus is m bytes of codes + one int per vector; with
    * `storeVectors = false` the raw embeddings stay wherever they live
    * and are only fetched for exact re-ranks.
    *
    * `storeVectors = true` additionally persists `vectors`, so an
    * exact-refine consumer ([[TextOps.passageTopKIvfPq]]) can join its
    * ADC shortlist against a cell-pruned stored-vector read instead of
    * recomputing the corpus embeddings per retrieval batch (the FAISS
    * `IndexRefineFlat` posture: codes do the winnowing, stored floats
    * only the finish); the normalize + encode frame is then persisted
    * so a costly upstream (a chunk explode + embed) runs ONCE. Folds
    * ([[foldIntoIvfPqIndex]]) keep `vectors` in sync when it exists.
    */
  def writeIvfPqIndex(df: DataFrame, idCol: String, vecCol: String,
      model: IvfPqModel, path: String,
      storeVectors: Boolean = false): Unit = {
    // both tables consume the normalize + coarse-encode frame; when
    // vectors are stored too, persist it so the upstream (possibly a
    // chunk explode + embed) runs ONCE
    val routed = ivfPqRouted(df, idCol, vecCol, model)
    val base = if (storeVectors) routed.persist() else routed
    try IndexMaintenance.write(df.sparkSession, path, IvfPqIndex(idCol),
      "c_m" -> model.coarse.m, "c_k" -> model.coarse.k,
      "c_sub" -> model.coarse.subDim, "c_flat" -> model.coarse.flat.toSeq,
      "p_m" -> model.pq.m, "p_k" -> model.pq.k, "p_sub" -> model.pq.subDim,
      "p_flat" -> model.pq.flat.toSeq)(_ => IndexMaintenance.Delta(
      ivfPqTables(base, idCol, model).rows
        .filter(storeVectors || _._1 == "codes"): _*))
    finally if (storeVectors) { base.unpersist(); () }
  }

  /** Read back the raw vectors persisted by
    * [[writeIvfPqIndex]]`(..., storeVectors = true)` as
    * (vid, cell, vec). A missing `vectors` sibling fails with a NAMED
    * error — the exact-refine path has no degraded mode that is not a
    * full-corpus recompute, and a silent fallback to one would be a
    * scale-killer hiding behind a correct answer.
    */
  def readIvfPqVectors(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    try spark.read.parquet(s"$path/vectors") catch {
      case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          s"readIvfPqVectors: no stored vectors at $path/vectors — " +
            "rebuild the index with writeIvfPqIndex(..., storeVectors " +
            "= true) so exact-refine joins stored vectors instead of " +
            "re-embedding the corpus per retrieval batch", e)
    }

  /** Fold a DELTA of new vectors into a persisted [[writeIvfPqIndex]]
    * IN PLACE with O(delta) cost on BOTH sides: a map-only encode of
    * the delta against the frozen codebooks plus a sorted-run append
    * into the existing cell-partition directories (codes AND, when the
    * index stores them, vectors — skipping those would break the
    * exact-refine contract the moment a fold lands). A folded index
    * probes identically to re-encoding corpus ∪ delta under the SAME
    * model (ApiSpec parity, exact: same codebooks ⇒ same codes ⇒ same
    * ADC sums). The honest caveat is drift, not arithmetic: codebooks
    * trained on yesterday's distribution encode a drifted corpus with
    * growing quantization error — monitor the in-band recall floor
    * (the q99/q115 oracle) and retrain+rebuild when it sags. Crash
    * consistency: [[DedupOps.foldIntoMinhashIndex]]'s contract (codes
    * rows are per-vector, so a partial append is a partially-visible
    * delta, not a wrong probe). The fold bumps the `runs` sidecar,
    * never `meta`.
    */
  def foldIntoIvfPqIndex(delta: DataFrame, idCol: String, vecCol: String,
      indexPath: String): Unit = {
    IndexMaintenance.fold(delta.sparkSession, indexPath, IvfPqIndex(idCol),
      "foldIntoIvfPqIndex")(m => ivfPqRows(delta, idCol, vecCol, modelOf(m)))
    ()
  }

  /** Compact a run-layered IVF-PQ index back to ONE sorted run per cell
    * directory — codes and, when present, the stored-vectors sibling;
    * meta re-written with the SAME codebooks; runs reset to 1. Probes
    * are identical before and after; what it buys is file count.
    * O(index) read and write.
    */
  def compactIvfPqIndex(s: org.apache.spark.sql.SparkSession,
      indexPath: String, outPath: String): Unit = {
    val codes = s.read.parquet(s"$indexPath/codes")
    val idCol = codes.columns.filterNot(Set("cell", "codes")).headOption
      .getOrElse(throw new IllegalStateException(
        s"compactIvfPqIndex: cannot find the id column in " +
          s"$indexPath/codes (columns: ${codes.columns.mkString(", ")})"))
    IndexMaintenance.compact(s, indexPath, outPath, IvfPqIndex(idCol),
      "compactIvfPqIndex")
  }

  /** [[DedupOps.maintainMinhashIndex]]'s IVF-PQ sibling: crash-recover
    * at entry, O(delta) frozen-codebook fold, compact-and-swap iff
    * post-fold runs reach `compactThreshold`. Returns true when this
    * fold compacted. NOT reader-safe across the swap (quiesce probes
    * and gates — see [[IndexMaintenance]]'s reader contract); plain
    * [[foldIntoIvfPqIndex]] remains the fold-while-serving-safe path.
    */
  def maintainIvfPqIndex(delta: DataFrame, idCol: String, vecCol: String,
      indexPath: String,
      compactThreshold: Int =
        IndexMaintenance.DefaultCompactThreshold): Boolean =
    IndexMaintenance.maintain(delta.sparkSession, indexPath,
      IvfPqIndex(idCol), "maintainIvfPqIndex", compactThreshold)(
      m => ivfPqRows(delta, idCol, vecCol, modelOf(m))).contains(true)

  /** Read back the codebooks persisted by [[writeIvfPqIndex]]. A
    * missing or empty meta (a partially copied index) fails with a
    * NAMED error — there is no degraded mode without the codebooks.
    */
  def readIvfPqModel(spark: org.apache.spark.sql.SparkSession,
      path: String): IvfPqModel =
    // a meta read touches no table, so the codes' id column is immaterial
    try modelOf(IndexMaintenance.readMeta(spark, path, IvfPqIndex(""),
      "readIvfPqModel"))
    catch {
      case e: IllegalStateException => throw new IllegalArgumentException(
        s"${e.getMessage} — not an IVF-PQ index (or a partial copy " +
          "missing its codebooks)", e)
    }
  /** Probe a persisted IVF-PQ index: each query routes to its `nprobe`
    * L2-nearest cells (ranked via the native `pq_dists` kernel on the
    * TINY query side), the cell equi-join prunes the codes parquet to
    * those partition directories, and the ADC scan + threshold runs
    * inside them — per-query cost is `nprobe/nCells` of the corpus
    * codes, never the corpus. Stateless (map + equi-join + filter), so
    * the SAME function is streaming-safe: pass a streaming `newDf` and
    * the result is an append-mode stream-static probe (the ANN twin of
    * NearDupIngest) — but an UNPRUNED one (the plan-time cell collect
    * is impossible on a streaming frame, so every micro-batch scans
    * the whole codes index via the equi-join). At corpus scale use
    * [[ivfPqProbeEachBatch]], which recovers the literal cell pruning
    * per micro-batch. Output: vec_new, vec_old, asim_x1000 (quantized
    * ADC approximate cosine; exact re-rank = join the raw vectors on
    * the shortlist, as in [[pqAnnTopK]]).
    */
  def ivfPqProbe(newDf: DataFrame, idCol: String, vecCol: String,
      indexPath: String, adcX1000Threshold: Int,
      nprobe: Int = 2): DataFrame = {
    val s = newDf.sparkSession
    VectorExpressions.register(s)
    val model = readIvfPqModel(s, indexPath)
    ivfPqProbeWith(newDf, idCol, vecCol, indexPath, model,
      adcX1000Threshold, nprobe)._1
  }

  /** [[ivfPqProbe]] that ALSO returns the batch's routed cells and the
    * model it read — for consumers whose downstream reads of the
    * index's sibling parquets (stored vectors) reuse the SAME
    * isin-literal pruning as the probe's codes scan, from the same
    * derivation (one meta read, one cell-routing job; two independent
    * derivations could silently diverge if either path drifted).
    * Batch frames only (cells are a plan-time collect).
    */
  private[graft] def ivfPqProbeAndCells(newDf: DataFrame, idCol: String,
      vecCol: String, indexPath: String, adcX1000Threshold: Int,
      nprobe: Int): (DataFrame, Seq[Int], IvfPqModel) = {
    require(!newDf.isStreaming,
      "ivfPqProbeAndCells: plan-time cell collect needs a batch frame")
    val s = newDf.sparkSession
    VectorExpressions.register(s)
    val model = readIvfPqModel(s, indexPath)
    val (probe, cells) = ivfPqProbeWith(newDf, idCol, vecCol, indexPath,
      model, adcX1000Threshold, nprobe)
    (probe, cells, model)
  }

  /** Streaming IVF-PQ probe with PER-BATCH cell pruning — the scale
    * path for stream-static ANN against a persisted index. Inside
    * `foreachBatch` each micro-batch is a plain batch frame, so the
    * batch probe's plan-time trick applies verbatim: collect the
    * batch's distinct routed cells (at most `nCells` ints) and turn
    * them into an `isin` literal the scan planner compiles to codes
    * partition-directory pruning. Per-batch cost is thus
    * `nprobe/nCells` of the corpus codes — never the corpus — where
    * the naive streaming equi-join ([[ivfPqProbe]] on a streaming
    * frame) re-scans the ENTIRE index every micro-batch.
    *
    * The model (coarse + PQ codebooks) is read ONCE at stream-author
    * time: folds ([[foldIntoIvfPqIndex]]) append codes under the
    * frozen-codebook contract and never rewrite `meta`, so the cached
    * model stays valid while each batch's fresh `read.parquet` of
    * `codes` picks up newly folded runs — fold-while-serving safe.
    *
    * `sink(probeResult, batchId)` receives the pruned probe frame for
    * each micro-batch; returns the configured writer (caller sets
    * checkpoint/trigger and calls `.start()`).
    */
  def ivfPqProbeEachBatch(newDf: DataFrame, idCol: String, vecCol: String,
      indexPath: String, adcX1000Threshold: Int, nprobe: Int = 2)(
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(newDf.isStreaming,
      "ivfPqProbeEachBatch: batch frames take the already-pruned ivfPqProbe")
    val s = newDf.sparkSession
    VectorExpressions.register(s)
    val model = readIvfPqModel(s, indexPath)
    require(nprobe >= 1 && nprobe <= model.coarse.k,
      s"ivfPqProbeEachBatch: nprobe $nprobe outside [1, ${model.coarse.k}]")
    newDf.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
       batchId: Long) =>
        sink(ivfPqProbeWith(batch, idCol, vecCol, indexPath, model,
          adcX1000Threshold, nprobe)._1, batchId)
    }
  }

  // first-nprobe cell routing over a per-row `cd` distance array
  private def cellRouteExpr(nCells: Int, nprobe: Int): String =
    s"slice(transform(array_sort(transform(sequence(0, ${nCells - 1}), " +
      s"c -> struct(element_at(cd, c + 1) AS d, c AS c))), p -> p.c), " +
      s"1, $nprobe)"

  /** Returns (probe frame, routed cells) — cells are empty for
    * streaming frames (no plan-time collect exists there). */
  private def ivfPqProbeWith(newDf: DataFrame, idCol: String,
      vecCol: String, indexPath: String, model: IvfPqModel,
      adcX1000Threshold: Int, nprobe: Int): (DataFrame, Seq[Int]) = {
    val s = newDf.sparkSession
    require(nprobe >= 1 && nprobe <= model.coarse.k,
      s"ivfPqProbe: nprobe $nprobe outside [1, ${model.coarse.k}]")
    val codes = s.read.parquet(s"$indexPath/codes")
    val q = normalized(newDf, idCol, vecCol)
      .withColumn("u", expr("transform(v, x -> x / nrm)"))
      .select(col(idCol).as("vec_new"),
        call_function("pq_lut", col("u"), typedLit(model.pq.flat),
          lit(model.pq.m), lit(model.pq.k)).as("lut"),
        call_function("pq_dists", col("u"), typedLit(model.coarse.flat),
          lit(1), lit(model.coarse.k)).as("cd"))
      // rank the nCells distances on the query row itself (array sort
      // of (dist, cell) structs — nCells is small by design), explode
      // the first nprobe cells
      .select(col("vec_new"), col("lut"),
        explode(expr(cellRouteExpr(model.coarse.k, nprobe))).as("cell"))
    // make the partition pruning LITERAL for batch probes (the MinHash
    // index's __bp precedent): the batch's distinct routed cells — at
    // most nCells ints — become an isin filter the scan planner turns
    // into directory pruning. A streaming frame cannot collect at plan
    // time, so it falls back to the bare equi-join over the full codes
    // — at scale, route streams through ivfPqProbeEachBatch, which
    // re-enters here with a BATCH micro-batch frame and prunes.
    val routed: Seq[Int] =
      if (newDf.isStreaming) Seq.empty
      else q.select(col("cell")).distinct().collect()
        .map(_.getInt(0)).toSeq
    val scanned =
      if (newDf.isStreaming) codes
      else codes.filter(col("cell").isin(routed: _*))
    val probe = q.join(scanned, Seq("cell"))
      .select(col("vec_new"), col(idCol).as("vec_old"),
        floor(call_function("pq_adc", col("codes"), col("lut"),
          lit(model.pq.k)) * 1000).cast("long").as("asim_x1000"))
      .filter(col("asim_x1000") >= adcX1000Threshold)
    (probe, routed)
  }
}
