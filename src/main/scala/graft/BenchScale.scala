package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-stress harness: proves the heavy plans grow ~LINEARLY in the
  * corpus, not just that they pass at sf0.1. Generates a one-off
  * k×-scaled copy of exactly the tables the heaviest catalog queries
  * read, times each query at base and scaled SF (min of two runs, noop
  * sink — Bench's methodology), and prints one JSON line of per-query
  * ratios. A plan that flips super-linear at scale (band-bucket
  * explosion, a broadcast that stops fitting, a sort that spills)
  * surfaces as ratio >> k; the committed run lives in SCALE.md.
  *
  * Scaling is NOT naive duplication:
  * - documents: per-copy doc_id offset AND a bijective per-copy token
  *   rename (`tok` → `tok_c<i>`), so within-copy near-dup structure is
  *   IDENTICAL to the base corpus while cross-copy shingle/gram hashes
  *   share nothing — naive copies would make every doc an exact dup of
  *   its k−1 twins and grow the pair workload O(k²) by construction,
  *   measuring an artifact instead of the engine.
  * - lineitem/orders/customer: keys offset per copy (FK-consistent),
  *   so joins grow k× on both sides with the same key selectivity.
  * - embeddings: vec_id offset per copy; q30's query set (vec_id in
  *   [100,110)) stays fixed while the indexed corpus grows k×.
  * - nation/region: dimension tables, copied as-is.
  *
  * Stage attribution: the SharedStages pair+cluster materialization
  * (which q46/q58/q78/q80 read) is timed EXPLICITLY as its own
  * `shared_stage_build` row per SF, before any query runs — it is a
  * one-shot cost that min-of-two would otherwise discard into whatever
  * query happened to trigger it first. q21 separately measures the
  * inline LSH pipeline (it never reads the cache), and the derived
  * queries measure their marginal work over the persisted stage.
  *
  * Env: SPARK_GRAFT_SF_DIR (base, default sf0.1), SPARK_GRAFT_SCALE_K
  * (default 10 → ~sf1), SPARK_GRAFT_SCALE_DIR (default: fresh temp).
  */
object BenchScale {

  /** The heaviest catalog queries (round-3 bench ranking) + q21 as the
    * shared-stage owner + the round-5/6 heavy additions (q85 passage
    * chunk-explode, q87 capped gram-position islands, q88's map-only
    * bigram rollup) + the round-7 trained-model operators (q94 PQ:
    * train is sample-capped so only encode/scan may grow; q95 BPE:
    * iterations are vocabulary-sized; q98 tokenize: vocabulary-level
    * replace application) whose 100TB claims deserve direct 10×
    * evidence, + the classifier family (q104 NB: vocabulary-sized
    * model, one id-keyed score exchange; q105 centroid: map-only
    * scoring — both should scale with the scan).
    */
  val Heavy: Seq[String] = Seq(
    "q21_dedup_minhash_lsh", "q58_keeper_by_quality", "q70_common_grams",
    "q46_dedup_clusters", "q35_revenue_by_nation", "q80_dup_graph_degrees",
    "q78_cross_source_dups", "q01_pricing_summary", "q30_ann_kmeans_ivf",
    "q83_embedding_incremental_dedup", "q85_passage_dedup",
    "q87_exact_substring_spans", "q88_bigram_lm_quality",
    "q94_ann_pq", "q95_bpe_vocab_induction", "q98_bpe_tokenize",
    "q101_text_embedding", "q102_text_semantic_dedup",
    "q104_nb_text_classifier", "q105_centroid_classifier",
    "q106_cdc_chunk_shares", "q107_cdc_incremental_dedup",
    "q108_bm25_retrieval", "q109_epoch_order",
    // round-10 layout + graph additions: q121/q122 pay their one-time
    // layout build on the first run (min-of-2 reports the post-build
    // read path — the deployment story); q123 iterates over the pair
    // stage, so its 10× cost is pair-graph-shaped
    "q121_bucketed_join", "q122_zorder_box", "q123_graph_centrality",
    // q124 is the zero-exchange entropy kernel — pure scan growth;
    // q127's digest diff join carries 16 B/row, so its growth is the
    // id-keyed exchange
    "q124_token_entropy", "q127_corpus_diff",
    // round-12: the bucket-pruned point read — scan work tracks the
    // key count, not the corpus, so the ratio should sit far below
    // q121's corpus-proportional co-located read
    "q132_bucket_pruned_read",
    // round-13: the real-decode fingerprint paths — both are map-only
    // (PlanSpec pins zero exchanges), so their 10x cost should be pure
    // scan+decode growth with no shuffle term: the decode-throughput
    // evidence for the media family; q140 rides the capped pair
    // engine on top of the video decode
    "q133_image_phash", "q139_video_phash", "q140_video_near_dup",
    // q142's claim is that only the scan-shaped aggregate grows with
    // the corpus — the window sorts only the bucket-pruned
    // ~budget-sized slice, so the 10x ratio should sit well under
    // proportional growth
    "q142_token_budget_mixture",
    // round-14: the frontier rollup — ONE host-keyed exchange
    // (PlanSpec), so 10x growth is the extract scan + the per-host
    // partition-local sorts; the OUTPUT stays budget-shaped (hosts x
    // budget = 119 rows at every SF) but the sort input is honestly
    // corpus-proportional, concentrated on 17 fixture hosts — the
    // mega-host posture measured, not argued
    "q146_frontier_budget",
    // round-14: q151 is corpus-rewriting — the df aggregate and the
    // doc-keyed re-assembly both grow with the scan (the marker join
    // stays a broadcast, PlanSpec); q152 collapses link rows to host
    // PAIRS before iterating, so its 10x growth is the one edge
    // distinct — the rounds move host-count rows (17 hosts at every
    // SF) and should be corpus-INDEPENDENT
    "q151_line_dedup", "q152_host_centrality",
    // round-14 additions: q156's two-phase global rank is scan-shaped
    // (windows per (tier, bucket), offsets are tiny broadcasts);
    // q157's fixture sources are near-uniform so the sqrt rebalance
    // keeps ~everything — its 10x cost is honestly corpus-shaped
    // (the budget prune only bites on SKEWED mixtures, unlike q142's
    // fixed budgets); q158 is one scan + one Expand aggregate over
    // group-count rows; q159 collapses links to distinct DIRECTED
    // host pairs before iterating — like q152 the rounds move
    // host-count rows, so it should be corpus-INDEPENDENT
    "q156_shard_by_tokens", "q157_temperature_mixture",
    "q158_dataset_card", "q159_host_hits")

  private def load(spark: SparkSession, dir: String, t: String): DataFrame =
    spark.read.parquet(s"$dir/$t.parquet")

  /** One scaled table = union of k key-shifted (and, for text,
    * token-renamed) copies. Offsets are 1e9 per copy — far above any
    * base key.
    */
  def scaleTables(spark: SparkSession, baseDir: String, outDir: String,
      k: Int): Unit = {
    val Off = 1000000000L
    def off(i: Int, c: String) = (col(c) + lit(i * Off)).as(c)

    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$t.parquet")

    val docs = load(spark, baseDir, "documents")
    write((0 until k).map { i =>
      val text =
        if (i == 0) col("text")
        else array_join(transform(split(col("text"), " ", -1),
          t => concat(t, lit(s"_c$i"))), " ")
      docs.select(off(i, "doc_id"), text.as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _), "documents")

    val emb = load(spark, baseDir, "embeddings")
    write((0 until k).map(i =>
      emb.select(off(i, "vec_id"), col("embedding"), col("label")))
      .reduce(_ unionByName _), "embeddings")

    val li = load(spark, baseDir, "lineitem")
    write((0 until k).map(i =>
      li.select((off(i, "l_orderkey") +: li.columns.filter(_ != "l_orderkey")
        .map(col).toSeq): _*)).reduce(_ unionByName _), "lineitem")

    val ord = load(spark, baseDir, "orders")
    write((0 until k).map(i =>
      ord.select(off(i, "o_orderkey"), off(i, "o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))).reduce(_ unionByName _), "orders")

    val cust = load(spark, baseDir, "customer")
    write((0 until k).map(i =>
      cust.select((off(i, "c_custkey") +: cust.columns.filter(_ != "c_custkey")
        .map(col).toSeq): _*)).reduce(_ unionByName _), "customer")

    // events: id/user shifted per copy, timestamps kept — k× the rows
    // over k× the users with the same time span (how traffic actually
    // grows), so the z-order box of q122 covers k× rows too
    val ev = load(spark, baseDir, "events")
    write((0 until k).map(i =>
      ev.select((off(i, "event_id") +: off(i, "user_id") +:
        ev.columns.filterNot(Set("event_id", "user_id"))
          .map(col).toSeq): _*)).reduce(_ unionByName _), "events")

    Seq("nation", "region").foreach(t => write(load(spark, baseDir, t), t))
  }

  /** Vocabulary-REALISTIC k× documents table (Heaps' law): copy i
    * renames a token TYPE t iff `pmod(xxhash64(t, i), 1000) <
    * round(500/sqrt(i))`, so the expected number of NEW types per
    * copy falls like V₁/(2√i) and the total vocabulary grows ~k^0.5
    * (β ≈ 0.5, the classic Heaps exponent) instead of the bijective
    * rename's k×. Used ONLY for the vocabulary-sensitive rows
    * (q95/q98/q101): un-renamed tokens are SHARED across copies, so
    * cross-copy shingles collide and the dedup family would measure
    * an O(k²) pair artifact on this corpus — exactly what the
    * bijective fixture exists to avoid.
    */
  def scaleDocsHeaps(spark: SparkSession, baseDir: String, outDir: String,
      k: Int): Unit = {
    val Off = 1000000000L
    val docs = load(spark, baseDir, "documents")
    (0 until k).map { i =>
      val text =
        if (i == 0) col("text")
        else {
          val p = math.round(500.0 / math.sqrt(i))
          array_join(transform(split(col("text"), " ", -1),
            t => when(pmod(xxhash64(t, lit(i)), lit(1000)) < lit(p),
              concat(t, lit(s"_c$i"))).otherwise(t)), " ")
        }
      docs.select((col("doc_id") + lit(i * Off)).as("doc_id"),
        text.as("text"), col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
  }

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val k = sys.env.getOrElse("SPARK_GRAFT_SCALE_K", "10").toInt
    val outDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR",
      Files.createTempDirectory("graft-scale-").toString)
    val spark = BenchHarness.session()

    scaleTables(spark, baseDir, outDir, k)

    BenchHarness.warmup(spark, Heavy)

    // every timed call keeps its failure: -1.0 in the row, the
    // exception's class and message in the line's build_errors
    val failures = new BenchHarness.Failures
    def timed(entry: String)(body: => Unit): Double =
      BenchHarness.timed(entry, failures)(body)
    def minOf2(entry: String)(build: () => DataFrame): Double =
      BenchHarness.minOf2(entry, failures)(build)
    def minOf2Query(entry: String, q: String, dir: String): Double =
      minOf2(entry)(() => graft.SparkEntry.queries(q)(spark, dir))

    // one-shot shared-stage build per SF (pairs parquet + clusters
    // parquet), timed before any consumer query can trigger it — this
    // is the cost min-of-two would silently discard
    def stageBuild(side: String, dir: String): Double =
      timed(s"shared_stage_build/$side")(
        graft.queries.SharedStages.clusters(spark, dir).count())
    val stageRow = {
      val base = stageBuild("base", baseDir)
      val scaled = stageBuild("scaled", outDir)
      val ratio = if (base <= 0 || scaled <= 0) -1.0
        else scaled / math.max(base, 0.15)
      ("shared_stage_build", base, scaled, ratio)
    }

    val rows = stageRow +: Heavy.map { q =>
      val base = minOf2Query(s"$q/base", q, baseDir)
      val scaled = minOf2Query(s"$q/scaled", q, outDir)
      // leak hygiene between query families (same discipline as Bench)
      BenchHarness.drainLocalCheckpoints(spark)
      // floor tiny bases: a 0.08s query is fixed-overhead-dominated and
      // its ratio measures the JVM, not the plan
      val ratio =
        if (base <= 0 || scaled <= 0) -1.0
        else scaled / math.max(base, 0.15)
      (q, base, scaled, ratio)
    }

    // ---- constant-delta probe: the O(delta) incremental-dedup claim --
    // The q59/q83 rows above scale the DELTA with the corpus (both are
    // doc_id-mod slices of one growing table), so they measure total
    // growth, not the contract "a fixed ingest batch costs the same
    // against a 10x corpus". Here the probe batch is FIXED (the base
    // dir's mod-5 slice), the corpus index is materialized per corpus
    // version (writeMinhashIndex / writeSignIndex — timed as the
    // *_index_build rows, expected ~linear), and the probe is timed
    // against each persisted index. probe ratios must stay ~flat
    // (const_delta_ok: <= 2.0 at ANY k), the direct evidence for the
    // O(delta) probe contract.
    import graft.api.{DedupOps, VectorOps}
    val idxDir = Files.createTempDirectory("graft-scale-idx-").toString
    def cRatio(base: Double, scaled: Double): Double =
      if (base <= 0 || scaled <= 0) -1.0 else scaled / math.max(base, 0.15)

    def corpusDocs(dir: String) =
      load(spark, dir, "documents").filter(col("doc_id") % 5 =!= 0)
    val deltaDocs = load(spark, baseDir, "documents")
      .filter(col("doc_id") % 5 === 0)
    val tIdxB = timed("q59_index_build/base")(DedupOps.writeMinhashIndex(
      corpusDocs(baseDir), "doc_id", "text", s"$idxDir/text_base"))
    val tIdxS = timed("q59_index_build/scaled")(DedupOps.writeMinhashIndex(
      corpusDocs(outDir), "doc_id", "text", s"$idxDir/text_scaled"))
    val tPrbB = minOf2("q59_probe_const_delta/base")(() => DedupOps.minhashPairsAgainstIndex(
      deltaDocs, "doc_id", "text", s"$idxDir/text_base"))
    val tPrbS = minOf2("q59_probe_const_delta/scaled")(() => DedupOps.minhashPairsAgainstIndex(
      deltaDocs, "doc_id", "text", s"$idxDir/text_scaled"))

    val planes = graft.queries.DedupQueries.lshPlanes
    def corpusVecs(dir: String) =
      load(spark, dir, "embeddings").filter(col("vec_id") % 5 =!= 0)
    val deltaVecs = load(spark, baseDir, "embeddings")
      .filter(col("vec_id") % 5 === 0)
    val vIdxB = timed("q83_index_build/base")(VectorOps.writeSignIndex(
      corpusVecs(baseDir), "vec_id", "embedding", planes, s"$idxDir/vec_base"))
    val vIdxS = timed("q83_index_build/scaled")(VectorOps.writeSignIndex(
      corpusVecs(outDir), "vec_id", "embedding", planes, s"$idxDir/vec_scaled"))
    val vPrbB = minOf2("q83_probe_const_delta/base")(() => VectorOps.probeSignIndex(
      deltaVecs, "vec_id", "embedding", planes, s"$idxDir/vec_base",
      simX1000Threshold = 400))
    val vPrbS = minOf2("q83_probe_const_delta/scaled")(() => VectorOps.probeSignIndex(
      deltaVecs, "vec_id", "embedding", planes, s"$idxDir/vec_scaled",
      simX1000Threshold = 400))

    // q108's headline 2.63x is the deliberately corpus-linear one-time
    // contribution-index build; this completes the q59/q83 evidence
    // pattern for retrieval: a FIXED query set probed via
    // bm25TopKAgainstIndex against the 1x and kx persisted indexes
    // must cost ~the same (prefix-pruned contrib scan + query-sized
    // join, never the index)
    import graft.api.TextOps
    val bmQueries = deltaDocs.filter(col("doc_id") % 25 === 0)
      .select(col("doc_id").as("qid"), col("text")).localCheckpoint()
    val bIdxB = timed("q108_index_build/base")(TextOps.writeBm25Index(
      corpusDocs(baseDir), "doc_id", "text", s"$idxDir/bm25_base"))
    val bIdxS = timed("q108_index_build/scaled")(TextOps.writeBm25Index(
      corpusDocs(outDir), "doc_id", "text", s"$idxDir/bm25_scaled"))
    val bPrbB = minOf2("q108_probe_const_delta/base")(() => TextOps.bm25TopKAgainstIndex(
      bmQueries, "qid", "text", s"$idxDir/bm25_base", "doc_id"))
    val bPrbS = minOf2("q108_probe_const_delta/scaled")(() => TextOps.bm25TopKAgainstIndex(
      bmQueries, "qid", "text", s"$idxDir/bm25_scaled", "doc_id"))

    // fingerprint family (round 13): index the corpus slices' image
    // dHashes (through the REAL q133 decode — the build row includes
    // the corpus decode, honestly linear), probe with a FIXED
    // checkpointed delta (decode runs once, not once per timed run),
    // fold the same delta in place — completing the q59/q83/q108/q111
    // evidence pattern for the sixth persisted family
    import graft.operators.Multimodal
    def corpusFps(dir: String) = Multimodal.imageHashes(
        Multimodal.documentsAsBmpMedia(spark, dir))
      .select(col("doc_id"), col("dhash64"))
      .filter(col("doc_id") % 5 =!= 0)
    val fpDelta = Multimodal.imageHashes(
        Multimodal.documentsAsBmpMedia(spark, baseDir))
      .select(col("doc_id"), col("dhash64"))
      .filter(col("doc_id") % 5 === 0).localCheckpoint()
    val fIdxB = timed("q138_index_build/base")(DedupOps.writeFingerprintIndex(
      corpusFps(baseDir), "doc_id", "dhash64", bits = 64, hammingMax = 6,
      s"$idxDir/fp_base"))
    val fIdxS = timed("q138_index_build/scaled")(DedupOps.writeFingerprintIndex(
      corpusFps(outDir), "doc_id", "dhash64", bits = 64, hammingMax = 6,
      s"$idxDir/fp_scaled"))
    val fPrbB = minOf2("q137_probe_const_delta/base")(() => DedupOps.fingerprintPairsAgainstIndex(
      fpDelta, "doc_id", "dhash64", s"$idxDir/fp_base"))
    val fPrbS = minOf2("q137_probe_const_delta/scaled")(() => DedupOps.fingerprintPairsAgainstIndex(
      fpDelta, "doc_id", "dhash64", s"$idxDir/fp_scaled"))

    // video family (round 14): q143 rides the q137 engine but pays the
    // RIFF AVI container walk + frame decode on the DELTA side every
    // ingest — so unlike fpDelta the decode stays INSIDE the timed
    // probe thunk (a fresh fingerprint frame per run): the honest
    // per-ingest cost is decode + probe, and with a FIXED delta both
    // are corpus-independent, so the ratio must stay ~flat. The index
    // builds include the corpus-side decode, honestly linear.
    def corpusVfps(dir: String) = Multimodal.videoFingerprints(
        Multimodal.documentsAsAviMedia(spark, dir))
      .filter(col("doc_id") % 5 =!= 0)
    def deltaVfps() = Multimodal.videoFingerprints(
        Multimodal.documentsAsAviMedia(spark, baseDir))
      .filter(col("doc_id") % 5 === 0)
    val vfIdxB = timed("q143_index_build/base")(DedupOps.writeFingerprintIndex(
      corpusVfps(baseDir), "doc_id", "vhash64", bits = 64, hammingMax = 6,
      s"$idxDir/vfp_base"))
    val vfIdxS = timed("q143_index_build/scaled")(DedupOps.writeFingerprintIndex(
      corpusVfps(outDir), "doc_id", "vhash64", bits = 64, hammingMax = 6,
      s"$idxDir/vfp_scaled"))
    val vfPrbB = minOf2("q143_probe_const_delta/base")(() => DedupOps.fingerprintPairsAgainstIndex(
      deltaVfps(), "doc_id", "vhash64", s"$idxDir/vfp_base"))
    val vfPrbS = minOf2("q143_probe_const_delta/scaled")(() => DedupOps.fingerprintPairsAgainstIndex(
      deltaVfps(), "doc_id", "vhash64", s"$idxDir/vfp_scaled"))

    // gram-count family (round 14): the q149/q150 decontamination
    // posture — a fixed delta's substring-span probe against 1x and
    // kx gram indexes must cost ~the same (the delta's gram explode
    // is fixed; the prefix-pruned count scan must not track the
    // corpus behind the index); the builds are the one-shot
    // corpus-linear gram aggregations
    val gIdxB = timed("q150_index_build/base")(DedupOps.writeGramIndex(
      corpusDocs(baseDir), "doc_id", "text", s"$idxDir/gram_base"))
    val gIdxS = timed("q150_index_build/scaled")(DedupOps.writeGramIndex(
      corpusDocs(outDir), "doc_id", "text", s"$idxDir/gram_scaled"))
    val gPrbB = minOf2("q150_probe_const_delta/base")(() => DedupOps.exactSubstringSpansAgainstIndex(
      deltaDocs, "doc_id", "text", s"$idxDir/gram_base"))
    val gPrbS = minOf2("q150_probe_const_delta/scaled")(() => DedupOps.exactSubstringSpansAgainstIndex(
      deltaDocs, "doc_id", "text", s"$idxDir/gram_scaled"))

    // line-count family (round 14): the q151/q153 boilerplate posture
    // — a fixed delta's line probe against 1x and kx line indexes must
    // cost ~the same (the delta's line explode is fixed; the
    // prefix-pruned count scan must not track the corpus behind the
    // index); docs get the q153 multi-line shape so the index holds
    // real line structure, not one line per doc
    def linedDocs(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), concat_ws("\n",
        lit("COMMON banner"), col("text"),
        concat(lit("Shared "), expr("(doc_id div 5) % 24").cast("string")))
        .as("text"))
    val linedDelta = linedDocs(deltaDocs)
    val lIdxB = timed("q153_index_build/base")(TextOps.writeLineIndex(
      linedDocs(corpusDocs(baseDir)), "doc_id", "text", s"$idxDir/line_base"))
    val lIdxS = timed("q153_index_build/scaled")(TextOps.writeLineIndex(
      linedDocs(corpusDocs(outDir)), "doc_id", "text", s"$idxDir/line_scaled"))
    val lPrbB = minOf2("q153_probe_const_delta/base")(() => TextOps.dedupLinesAgainstIndex(
      linedDelta, "doc_id", "text", s"$idxDir/line_base"))
    val lPrbS = minOf2("q153_probe_const_delta/scaled")(() => TextOps.dedupLinesAgainstIndex(
      linedDelta, "doc_id", "text", s"$idxDir/line_scaled"))

    // ---- fold-cost rows: the O(delta) MAINTENANCE claim, measured ----
    // The round-9 verdict's standing caveat was fold write
    // amplification: the compacting folds rewrite the whole index per
    // fold. The round-10 in-place folds append the delta as its own
    // layered run instead — so folding the SAME fixed delta into the
    // 1x and kx indexes built above must cost ~the same
    // (fold_const_delta rows, <= 2.0), while compacting a layered
    // index is the expected index-sized contrast (compact_cost rows,
    // ~linear). Folds MUTATE their index, so they run after the probe
    // rows, one timed run each (a repeat would fold a second layer);
    // the CDC family gets its index built here (no earlier row needed
    // it). Write amplification itself is reported as bytes: the
    // appended run vs the index it folded into.
    def dirBytes(p: String): Long = {
      val root = java.nio.file.Paths.get(p)
      if (!java.nio.file.Files.exists(root)) return 0L
      val st = java.nio.file.Files.walk(root)
      try st.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally st.close()
    }
    val cIdxB = timed("q111_index_build/base")(DedupOps.writeCdcChunkIndex(
      corpusDocs(baseDir), "doc_id", "text", s"$idxDir/cdc_base"))
    val cIdxS = timed("q111_index_build/scaled")(DedupOps.writeCdcChunkIndex(
      corpusDocs(outDir), "doc_id", "text", s"$idxDir/cdc_scaled"))
    val mhIdxBytesB = dirBytes(s"$idxDir/text_base")
    val mhIdxBytesS = dirBytes(s"$idxDir/text_scaled")
    val tFldB = timed("q110_fold_const_delta/base")(DedupOps.foldIntoMinhashIndex(
      deltaDocs, "doc_id", "text", s"$idxDir/text_base"))
    val tFldS = timed("q110_fold_const_delta/scaled")(DedupOps.foldIntoMinhashIndex(
      deltaDocs, "doc_id", "text", s"$idxDir/text_scaled"))
    val mhFoldBytesB = dirBytes(s"$idxDir/text_base") - mhIdxBytesB
    val mhFoldBytesS = dirBytes(s"$idxDir/text_scaled") - mhIdxBytesS
    val vFldB = timed("q113_fold_const_delta/base")(VectorOps.foldIntoSignIndex(
      deltaVecs, "vec_id", "embedding", planes, s"$idxDir/vec_base"))
    val vFldS = timed("q113_fold_const_delta/scaled")(VectorOps.foldIntoSignIndex(
      deltaVecs, "vec_id", "embedding", planes, s"$idxDir/vec_scaled"))
    val cFldB = timed("q111_fold_const_delta/base")(DedupOps.foldIntoCdcChunkIndex(
      deltaDocs, "doc_id", "text", s"$idxDir/cdc_base"))
    val cFldS = timed("q111_fold_const_delta/scaled")(DedupOps.foldIntoCdcChunkIndex(
      deltaDocs, "doc_id", "text", s"$idxDir/cdc_scaled"))
    val bFldB = timed("q108_fold_const_delta/base")(TextOps.foldIntoBm25Index(
      deltaDocs, "doc_id", "text", s"$idxDir/bm25_base"))
    val bFldS = timed("q108_fold_const_delta/scaled")(TextOps.foldIntoBm25Index(
      deltaDocs, "doc_id", "text", s"$idxDir/bm25_scaled"))
    val fFldB = timed("q138_fold_const_delta/base")(DedupOps.foldIntoFingerprintIndex(
      fpDelta, "doc_id", "dhash64", s"$idxDir/fp_base"))
    val fFldS = timed("q138_fold_const_delta/scaled")(DedupOps.foldIntoFingerprintIndex(
      fpDelta, "doc_id", "dhash64", s"$idxDir/fp_scaled"))
    val gFldB = timed("q150_fold_const_delta/base")(DedupOps.foldIntoGramIndex(
      deltaDocs, "doc_id", "text", s"$idxDir/gram_base"))
    val gFldS = timed("q150_fold_const_delta/scaled")(DedupOps.foldIntoGramIndex(
      deltaDocs, "doc_id", "text", s"$idxDir/gram_scaled"))
    val lFldB = timed("q153_fold_const_delta/base")(TextOps.foldIntoLineIndex(
      linedDelta, "doc_id", "text", s"$idxDir/line_base"))
    val lFldS = timed("q153_fold_const_delta/scaled")(TextOps.foldIntoLineIndex(
      linedDelta, "doc_id", "text", s"$idxDir/line_scaled"))

    // edge family (round 14): the q160/q161 host-graph posture — the
    // build pays the one link-volume-sized distinct (honestly linear
    // in link rows; the OUTPUT is host-pair-sized), folding a FIXED
    // delta's links is O(delta) and must not track the corpus, and
    // ranking over the index must not track the corpus behind it
    // either (mod-keyed fixture hosts: 10x the links, same host
    // graph — the web's shape, where pages grow far faster than
    // hosts)
    import graft.operators.PageRank
    def edgeLinksOf(dir: String) = load(spark, dir, "documents")
      .select(col("doc_id"),
        concat(lit("ex"), (col("doc_id") % 9).cast("string"),
          lit(".org")).as("src"),
        concat(lit("m"), (col("doc_id") % 29).cast("string"),
          lit(".net")).as("dst"))
    val edgeDelta = edgeLinksOf(baseDir)
      .filter(col("doc_id") % 5 === 0).localCheckpoint()
    val eIdxB = timed("q160_index_build/base")(PageRank.writeEdgeIndex(
      edgeLinksOf(baseDir).filter(col("doc_id") % 5 =!= 0),
      "src", "dst", s"$idxDir/edge_base"))
    val eIdxS = timed("q160_index_build/scaled")(PageRank.writeEdgeIndex(
      edgeLinksOf(outDir).filter(col("doc_id") % 5 =!= 0),
      "src", "dst", s"$idxDir/edge_scaled"))
    val ePrbB = minOf2("q160_probe_const_delta/base")(() =>
      PageRank.ranksByKeyAgainstIndex(spark, s"$idxDir/edge_base"))
    val ePrbS = minOf2("q160_probe_const_delta/scaled")(() =>
      PageRank.ranksByKeyAgainstIndex(spark, s"$idxDir/edge_scaled"))
    val eFldB = timed("q160_fold_const_delta/base")(PageRank.foldIntoEdgeIndex(
      edgeDelta, "src", "dst", s"$idxDir/edge_base"))
    val eFldS = timed("q160_fold_const_delta/scaled")(PageRank.foldIntoEdgeIndex(
      edgeDelta, "src", "dst", s"$idxDir/edge_scaled"))
    graft.api.Lifecycle.releaseLocalCheckpoint(edgeDelta)
    // weighted edge family (round 15): the q165 posture — the same
    // mod-keyed host graph with unit link weights (per-pair counts).
    // 10x the links means 10x the WEIGHTS but the same host-pair row
    // count, so the probe (weighted rank over the index) and the
    // fixed delta's fold must both stay flat while the one-shot build
    // tracks link volume.
    def wEdgeLinksOf(dir: String) =
      edgeLinksOf(dir).withColumn("w1", lit(1L))
    val wEdgeDelta = wEdgeLinksOf(baseDir)
      .filter(col("doc_id") % 5 === 0).localCheckpoint()
    val weIdxB = timed("q165_index_build/base")(PageRank.writeWeightedEdgeIndex(
      wEdgeLinksOf(baseDir).filter(col("doc_id") % 5 =!= 0),
      "src", "dst", "w1", s"$idxDir/wedge_base"))
    val weIdxS = timed("q165_index_build/scaled")(PageRank.writeWeightedEdgeIndex(
      wEdgeLinksOf(outDir).filter(col("doc_id") % 5 =!= 0),
      "src", "dst", "w1", s"$idxDir/wedge_scaled"))
    val wePrbB = minOf2("q165_probe_const_delta/base")(() =>
      PageRank.weightedRanksByKeyAgainstIndex(spark, s"$idxDir/wedge_base"))
    val wePrbS = minOf2("q165_probe_const_delta/scaled")(() =>
      PageRank.weightedRanksByKeyAgainstIndex(spark, s"$idxDir/wedge_scaled"))
    // weighted HITS (round 16): the directed consumer over the SAME
    // indexes — host-pair-sized rounds, so it must stay as flat as the
    // weighted-rank probe under 10x the links behind the index
    val whPrbB = minOf2("q168_probe_const_delta/base")(() =>
      PageRank.weightedHitsByKeyAgainstIndex(spark, s"$idxDir/wedge_base"))
    val whPrbS = minOf2("q168_probe_const_delta/scaled")(() =>
      PageRank.weightedHitsByKeyAgainstIndex(spark, s"$idxDir/wedge_scaled"))
    val weFldB = timed("q165_fold_const_delta/base") {
      PageRank.foldIntoWeightedEdgeIndex(
        wEdgeDelta, "src", "dst", "w1", s"$idxDir/wedge_base"); ()
    }
    val weFldS = timed("q165_fold_const_delta/scaled") {
      PageRank.foldIntoWeightedEdgeIndex(
        wEdgeDelta, "src", "dst", "w1", s"$idxDir/wedge_scaled"); ()
    }
    graft.api.Lifecycle.releaseLocalCheckpoint(wEdgeDelta)
    // card family (round 16): corpus-stats leaf sums — the build pays
    // one map-only scoring pass (honestly linear in docs; the OUTPUT
    // is leaf-count-sized), folding a FIXED delta is O(delta), and
    // the card render reads leaf rows only (corpus-INDEPENDENT: 10x
    // the docs behind the index leave the leaf set ~unchanged, so the
    // probe must sit flat like the edge-rank rounds)
    import graft.api.CardOps
    def cardDocsOf(dir: String) = load(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"), col("lang"))
    val cardDelta = cardDocsOf(baseDir)
      .filter(col("doc_id") % 7 === 0).localCheckpoint()
    val cdIdxB = timed("q171_index_build/base")(CardOps.writeCardIndex(
      cardDocsOf(baseDir).filter(col("doc_id") % 7 =!= 0),
      "doc_id", "text", "source", "lang", s"$idxDir/card_base"))
    val cdIdxS = timed("q171_index_build/scaled")(CardOps.writeCardIndex(
      cardDocsOf(outDir).filter(col("doc_id") % 7 =!= 0),
      "doc_id", "text", "source", "lang", s"$idxDir/card_scaled"))
    val cdPrbB = minOf2("q171_probe_const_delta/base")(() =>
      CardOps.datasetCardAgainstIndex(spark, s"$idxDir/card_base"))
    val cdPrbS = minOf2("q171_probe_const_delta/scaled")(() =>
      CardOps.datasetCardAgainstIndex(spark, s"$idxDir/card_scaled"))
    val cdFldB = timed("q171_fold_const_delta/base") {
      CardOps.foldIntoCardIndex(cardDelta, "doc_id", "text",
        "source", "lang", s"$idxDir/card_base"); ()
    }
    val cdFldS = timed("q171_fold_const_delta/scaled") {
      CardOps.foldIntoCardIndex(cardDelta, "doc_id", "text",
        "source", "lang", s"$idxDir/card_scaled"); ()
    }
    graft.api.Lifecycle.releaseLocalCheckpoint(cardDelta)
    // the rank probes localCheckpoint per round — drain them before
    // the compaction/throughput measurements (the Heavy-loop leak
    // hygiene rule applies to this block too); fpDelta's release must
    // precede the drain — after it the release would be a no-op on an
    // already-unpersisted frame
    graft.api.Lifecycle.releaseLocalCheckpoint(fpDelta)
    BenchHarness.drainLocalCheckpoints(spark)
    // compaction: the amortized index-sized operation the appends
    // defer — compacting the now-2-layer minhash indexes
    val tCmpB = timed("q110_compact_cost/base")(DedupOps.compactMinhashIndex(
      spark, s"$idxDir/text_base", s"$idxDir/text_base_c"))
    val tCmpS = timed("q110_compact_cost/scaled")(DedupOps.compactMinhashIndex(
      spark, s"$idxDir/text_scaled", s"$idxDir/text_scaled_c"))

    // ---- curated-stream throughput: the one-graph ingest pipeline
    // (quota -> exact dedup -> 4 gates -> verdict) fed a FIXED batch
    // against a 1x and a kx corpus behind its index sides. The claim
    // under test: per-batch stream cost is delta-dominated (models
    // broadcast; corpus joins are index-side stream-static), so
    // docs/sec should hold ~flat as the corpus behind the gates grows
    // kx. RocksDB provider (the tws quota stage requires it).
    def curatedThroughput(side: String, corpusDir: String): (Double, Long) = {
      import spark.implicits._
      val corpusDf = load(spark, corpusDir, "documents")
        .filter(col("doc_id") % 5 =!= 0)
      val idx = graft.streaming.NearDupIngest.index(corpusDf, "doc_id", "text")
      val cdcPath = Files.createTempDirectory("graft-scale-ingcdc-").toString
      graft.api.DedupOps.writeCdcChunkIndex(corpusDf, "doc_id", "text", cdcPath)
      val lmModel = graft.api.TextOps
        .bigramLmModel(corpusDf, "doc_id", "text").localCheckpoint()
      val nbModel = graft.api.ClassifyOps
        .nbModel(corpusDf, "doc_id", "text", "lang").localCheckpoint()
      val base0 = 1558000000000L
      val batch = load(spark, baseDir, "documents")
        .filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("text"), col("source"))
        .orderBy("doc_id").limit(2000).collect().zipWithIndex
        .map { case (r, i) => (r.getLong(0), r.getString(1), r.getString(2),
          new java.sql.Timestamp(base0 + i * 1000L)) }
      val dropDir = Files.createTempDirectory("graft-scale-ingdrop-")
      val ckpt = Files.createTempDirectory("graft-scale-ingck-").toString
      val outRows = new java.util.concurrent.atomic.AtomicLong
      val prevProvider = spark.conf.getOption(
        "spark.sql.streaming.stateStore.providerClass")
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val q = graft.streaming.IngestPipeline.curated(spark,
            dropDir.toString, idx, cdcPath, lmModel, nbModel,
            capPerSource = batch.length, horizon = "2 hours",
            delay = "1 hour", window = "1 hour", keepAvgQx1000 = -9000L)
          .writeStream
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                _: Long) => outRows.addAndGet(b.count()); ()
          }
          .outputMode("append").option("checkpointLocation", ckpt).start()
        def feed(name: String,
            rows: Seq[(Long, String, String, java.sql.Timestamp)]): Unit = {
          graft.jobs.Sinks.jsonl(
            rows.toDF("doc_id", "text", "source", "at").coalesce(1),
            s"$dropDir/$name")
          new java.io.File(s"$dropDir/$name").listFiles()
            .filter(_.getName.endsWith(".json")).foreach { f =>
              java.nio.file.Files.move(f.toPath,
                dropDir.resolve(s"$name-${f.getName}"))
            }
        }
        try {
          q.processAllAvailable() // graph cold-start out of the timing
          feed("b0", batch.toSeq)
          val t0 = System.nanoTime()
          q.processAllAvailable()
          val elapsed = (System.nanoTime() - t0) / 1e9
          // far-future flush closes the windows so the verdict rows
          // actually emit (sanity that the graph ran end-to-end)
          feed("fl", Seq((999999L, "flush doc", "flushsrc",
            new java.sql.Timestamp(base0 + 3L * 24 * 3600 * 1000))))
          q.processAllAvailable()
          (batch.length / elapsed, outRows.get())
        } finally q.stop()
      } catch {
        case scala.util.control.NonFatal(e) =>
          failures.record(s"curated_throughput/$side", e)
          (-1.0, 0L)
      }
      finally {
        prevProvider match {
          case Some(v) => spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass", v)
          case None => spark.conf.unset(
            "spark.sql.streaming.stateStore.providerClass")
        }
        idx.unpersist()
        // the models were localCheckpointed for the stream-static
        // joins — release their pinned blocks (the drain discipline;
        // without this the base run's models stay pinned through the
        // kx run and skew its memory envelope)
        graft.api.Lifecycle.releaseLocalCheckpoint(lmModel)
        graft.api.Lifecycle.releaseLocalCheckpoint(nbModel)
      }
    }
    val (curB, curOutB) = curatedThroughput("base", baseDir)
    val (curS, curOutS) = curatedThroughput("scaled", outDir)

    // ---- Heaps-law vocabulary fixture: the q95/q98/q101 upper bounds
    // under the bijective rename measure a 10x vocabulary; this corpus
    // grows the vocabulary ~k^0.5 (realistic Heaps growth), isolating
    // how the vocabulary-frame operators behave on a REAL corpus's
    // token statistics. Only documents is generated (these queries
    // read nothing else); dedup rows never run here (shared tokens
    // across copies would measure a cross-copy pair artifact).
    val heapsDir = Files.createTempDirectory("graft-scale-heaps-").toString
    scaleDocsHeaps(spark, baseDir, heapsDir, k)
    val vocabOf = (dir: String) => load(spark, dir, "documents")
      .select(explode(split(col("text"), " ", -1)).as("w"))
      .agg(count_distinct(col("w"))).head().getLong(0)
    val vocabRatio = {
      val b = vocabOf(baseDir)
      if (b == 0) -1.0 else vocabOf(heapsDir).toDouble / b
    }
    val heapsRows = Seq("q95_bpe_vocab_induction", "q98_bpe_tokenize",
      "q101_text_embedding",
      // q125 applies the merge chain per DISTINCT word, so its cost is
      // vocabulary-sensitive — the Heaps fixture is the honest one
      "q125_tokenizer_fit").map { q =>
      val base = minOf2Query(s"${q}_heaps/base", q, baseDir)
      val scaled = minOf2Query(s"${q}_heaps/scaled", q, heapsDir)
      val ratio = if (base <= 0 || scaled <= 0) -1.0
        else scaled / math.max(base, 0.15)
      (s"${q}_heaps", base, scaled, ratio)
    }

    // index builds are one-shot full-corpus scans: they join the
    // ~linear rows (<= 2k bound); probes and in-place folds join the
    // flat rows (<= 2.0 — the fixed delta's cost must not track the
    // corpus behind the index); compaction joins the linear rows (it
    // IS the amortized index-sized operation)
    val buildRows = Seq(
      ("q59_index_build", tIdxB, tIdxS, cRatio(tIdxB, tIdxS)),
      ("q83_index_build", vIdxB, vIdxS, cRatio(vIdxB, vIdxS)),
      ("q108_index_build", bIdxB, bIdxS, cRatio(bIdxB, bIdxS)),
      ("q111_index_build", cIdxB, cIdxS, cRatio(cIdxB, cIdxS)),
      ("q138_index_build", fIdxB, fIdxS, cRatio(fIdxB, fIdxS)),
      ("q143_index_build", vfIdxB, vfIdxS, cRatio(vfIdxB, vfIdxS)),
      ("q150_index_build", gIdxB, gIdxS, cRatio(gIdxB, gIdxS)),
      ("q153_index_build", lIdxB, lIdxS, cRatio(lIdxB, lIdxS)),
      ("q160_index_build", eIdxB, eIdxS, cRatio(eIdxB, eIdxS)),
      ("q165_index_build", weIdxB, weIdxS, cRatio(weIdxB, weIdxS)),
      ("q171_index_build", cdIdxB, cdIdxS, cRatio(cdIdxB, cdIdxS)),
      ("q110_compact_cost", tCmpB, tCmpS, cRatio(tCmpB, tCmpS)))
    val probeRows = Seq(
      ("q59_probe_const_delta", tPrbB, tPrbS, cRatio(tPrbB, tPrbS)),
      ("q83_probe_const_delta", vPrbB, vPrbS, cRatio(vPrbB, vPrbS)),
      ("q108_probe_const_delta", bPrbB, bPrbS, cRatio(bPrbB, bPrbS)),
      ("q137_probe_const_delta", fPrbB, fPrbS, cRatio(fPrbB, fPrbS)),
      ("q143_probe_const_delta", vfPrbB, vfPrbS, cRatio(vfPrbB, vfPrbS)),
      ("q150_probe_const_delta", gPrbB, gPrbS, cRatio(gPrbB, gPrbS)),
      ("q110_fold_const_delta", tFldB, tFldS, cRatio(tFldB, tFldS)),
      ("q113_fold_const_delta", vFldB, vFldS, cRatio(vFldB, vFldS)),
      ("q111_fold_const_delta", cFldB, cFldS, cRatio(cFldB, cFldS)),
      ("q108_fold_const_delta", bFldB, bFldS, cRatio(bFldB, bFldS)),
      ("q138_fold_const_delta", fFldB, fFldS, cRatio(fFldB, fFldS)),
      ("q150_fold_const_delta", gFldB, gFldS, cRatio(gFldB, gFldS)),
      ("q153_probe_const_delta", lPrbB, lPrbS, cRatio(lPrbB, lPrbS)),
      ("q153_fold_const_delta", lFldB, lFldS, cRatio(lFldB, lFldS)),
      ("q160_probe_const_delta", ePrbB, ePrbS, cRatio(ePrbB, ePrbS)),
      ("q160_fold_const_delta", eFldB, eFldS, cRatio(eFldB, eFldS)),
      ("q165_probe_const_delta", wePrbB, wePrbS, cRatio(wePrbB, wePrbS)),
      ("q165_fold_const_delta", weFldB, weFldS, cRatio(weFldB, weFldS)),
      ("q168_probe_const_delta", whPrbB, whPrbS, cRatio(whPrbB, whPrbS)),
      ("q171_probe_const_delta", cdPrbB, cdPrbS, cRatio(cdPrbB, cdPrbS)),
      ("q171_fold_const_delta", cdFldB, cdFldS, cRatio(cdFldB, cdFldS)))

    val linearRows = rows ++ buildRows ++ heapsRows
    val worst = linearRows.map(_._4).max
    import BenchHarness.num
    val qs = (linearRows ++ probeRows).map { case (q, b, s, r) =>
      s""""$q":{"base":${num(b)},"scaled":${num(s)},"ratio":${num(r)}}"""
    }.mkString("{", ",", "}")
    // linear_ok: every ratio within 2x of proportional growth (the
    // driver-verdict bound for a super-linear flag); const_delta_ok:
    // fixed-delta probes AND in-place folds stay flat REGARDLESS of k
    val ok = linearRows.forall(r => r._4 > 0 && r._4 <= 2.0 * k)
    val constOk = probeRows.forall(r => r._4 > 0 && r._4 <= 2.0)
    val foldBytes =
      s""""minhash_index_base":$mhIdxBytesB,"minhash_appended_base":$mhFoldBytesB,""" +
      s""""minhash_index_scaled":$mhIdxBytesS,"minhash_appended_scaled":$mhFoldBytesS"""
    val curated =
      s""""base_docs_per_sec":${num(curB)},"scaled_docs_per_sec":${num(curS)},""" +
      s""""ratio":${num(if (curB <= 0 || curS <= 0) -1.0 else curB / curS)},""" +
      s""""out_rows_base":$curOutB,"out_rows_scaled":$curOutS"""
    println(s"""{"metric":"scale_worst_ratio","value":$worst,"unit":"x","k":$k,"base":"$baseDir","linear_ok":$ok,"const_delta_ok":$constOk,"heaps_vocab_ratio":${num(vocabRatio)},"fold_bytes":{$foldBytes},"curated_throughput":{$curated},"queries":$qs,"build_errors":${failures.json}}""")
    spark.stop()
  }
}
