package graft

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
  * (default 10 → ~sf1), SPARK_GRAFT_SCALE_DIR (default: fresh temp,
  * deleted at exit like every other scratch dir of the run; a given
  * dir is kept).
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

  /** One `(entry, base, scaled, ratio)` row of the JSON line. */
  final case class Row(entry: String, base: Double, scaled: Double,
      ratio: Double)

  /** The two sides every row measures, base and k×-scaled, and the
    * failures their measurements raised.
    */
  final class Sides(baseDir: String, scaledDir: String,
      failures: BenchHarness.Failures) {

    /** `measure(side, dir)` on base, then on scaled. A side that throws
      * reads -1.0 with its `class: message` kept in `failures` under
      * `<entry>/<side>`; the other side still runs. The ratio is -1.0
      * when either side failed, else scaled / base with the base
      * floored at 0.15 s: a 0.08 s query is fixed-overhead-dominated
      * and its ratio measures the JVM, not the plan.
      */
    def pairRow(entry: String)(measure: (String, String) => Double): Row = {
      def side(name: String, dir: String): Double =
        try measure(name, dir)
        catch {
          case scala.util.control.NonFatal(e) =>
            failures.record(s"$entry/$name", e); -1.0
        }
      val base = side("base", baseDir)
      val scaled = side("scaled", scaledDir)
      Row(entry, base, scaled,
        if (base <= 0 || scaled <= 0) -1.0 else scaled / math.max(base, 0.15))
    }
  }

  /** One persisted-index measurement. `write` builds the index of a
    * corpus dir's slice into an index path; `probes` read a FIXED delta
    * against the index (`path => plan`, min of two runs); `fold` appends
    * the same fixed delta in place and `compact` rewrites the folded
    * index (one run each: a repeat would fold a second layer).
    */
  final case class IndexCase(build: String, write: (String, String) => Unit,
      probes: Seq[(String, String => DataFrame)] = Nil,
      fold: Option[(String, String => Unit)] = None,
      compact: Option[(String, String => Unit)] = None)

  /** Runs each case on both sides, one index per (case, side) under
    * `idxDir`, in the order build → probes → fold → compaction, so every
    * probe reads the index before the fold changes it. Returns the rows
    * that should grow ~linearly (builds, compactions), the rows that
    * should stay flat (probes, folds), and per `(build entry, side)` the
    * index bytes before its fold and the bytes the fold appended.
    */
  def runCases(cases: Seq[IndexCase], sides: Sides, idxDir: String)
      : (Seq[Row], Seq[Row], Map[(String, String), (Long, Long)]) = {
    val foldBytes = scala.collection.mutable.Map.empty[(String, String), (Long, Long)]
    val rows = cases.map { c =>
      def path(side: String) = s"$idxDir/${c.build}/$side"
      val build = sides.pairRow(c.build)((side, dir) =>
        BenchHarness.seconds(c.write(dir, path(side))))
      val probes = c.probes.map { case (entry, probe) =>
        sides.pairRow(entry)((side, _) =>
          BenchHarness.minOf2(() => probe(path(side))))
      }
      val fold = c.fold.map { case (entry, op) =>
        sides.pairRow(entry) { (side, _) =>
          val p = path(side)
          val before = dirBytes(p)
          try BenchHarness.seconds(op(p))
          finally foldBytes((c.build, side)) = (before, dirBytes(p) - before)
        }
      }
      val compact = c.compact.map { case (entry, op) =>
        sides.pairRow(entry)((side, _) => BenchHarness.seconds(op(path(side))))
      }
      (build +: compact.toSeq, probes ++ fold)
    }
    (rows.flatMap(_._1), rows.flatMap(_._2), foldBytes.toMap)
  }

  private def dirBytes(p: String): Long = {
    val f = new java.io.File(p)
    if (f.exists) org.apache.commons.io.FileUtils.sizeOfDirectory(f) else 0L
  }

  def main(args: Array[String]): Unit = {
    import graft.api.Lifecycle
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val k = sys.env.getOrElse("SPARK_GRAFT_SCALE_K", "10").toInt
    val outDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR",
      Lifecycle.tempDir("graft-scale-").toString)
    val spark = BenchHarness.session()

    scaleTables(spark, baseDir, outDir, k)

    BenchHarness.warmup(spark, Heavy)

    // every measured side keeps its failure: -1.0 in the row, the
    // exception's class and message in the line's build_errors
    val failures = new BenchHarness.Failures
    val sides = new Sides(baseDir, outDir, failures)
    def queryRow(on: Sides, entry: String, q: String): Row =
      on.pairRow(entry)((_, dir) =>
        BenchHarness.minOf2(() => graft.SparkEntry.queries(q)(spark, dir)))

    // one-shot shared-stage build per SF (pairs parquet + clusters
    // parquet), timed before any consumer query can trigger it — this
    // is the cost min-of-two would silently discard
    val stageRow = sides.pairRow("shared_stage_build")((_, dir) =>
      BenchHarness.seconds(
        graft.queries.SharedStages.clusters(spark, dir).count()))

    val rows = stageRow +: Heavy.map { q =>
      val row = queryRow(sides, q, q)
      // leak hygiene between query families (same discipline as Bench)
      BenchHarness.drainLocalCheckpoints(spark)
      row
    }

    // ---- constant-delta probe: the O(delta) incremental-dedup claim --
    // The q59/q83 rows above scale the DELTA with the corpus (both are
    // doc_id-mod slices of one growing table), so they measure total
    // growth, not the contract "a fixed ingest batch costs the same
    // against a 10x corpus". Here the probe batch is FIXED (the base
    // dir's mod-5 slice), the corpus index is materialized per corpus
    // version (timed as the *_index_build rows, expected ~linear), and
    // the probe is timed against each persisted index. probe ratios
    // must stay ~flat (const_delta_ok: <= 2.0 at ANY k), the direct
    // evidence for the O(delta) probe contract.
    //
    // ---- fold-cost rows: the O(delta) MAINTENANCE claim, measured ----
    // The round-9 verdict's standing caveat was fold write
    // amplification: the compacting folds rewrite the whole index per
    // fold. The round-10 in-place folds append the delta as its own
    // layered run instead — so folding the SAME fixed delta into the
    // 1x and kx indexes must cost ~the same (fold_const_delta rows,
    // <= 2.0), while compacting a layered index is the expected
    // index-sized contrast (compact_cost rows, ~linear). Write
    // amplification itself is reported as bytes: the appended run vs
    // the index it folded into.
    import graft.api.{CardOps, DedupOps, TextOps, VectorOps}
    import graft.operators.{Multimodal, PageRank}
    val idxDir = Lifecycle.tempDir("graft-scale-idx-").toString
    // each family indexes a dir's rows with `key % m =!= 0` and probes
    // and folds the base dir's FIXED complement slice
    def corpus(rows: String => DataFrame, key: String = "doc_id", m: Int = 5) =
      (dir: String) => rows(dir).filter(col(key) % m =!= 0)
    def delta(rows: String => DataFrame, key: String = "doc_id", m: Int = 5) =
      rows(baseDir).filter(col(key) % m === 0)
    val docs = (dir: String) => load(spark, dir, "documents")
    val (corpusDocs, deltaDocs) = (corpus(docs), delta(docs))
    val planes = graft.queries.DedupQueries.lshPlanes
    val vecs = (dir: String) => load(spark, dir, "embeddings")
    val (corpusVecs, deltaVecs) = (corpus(vecs, "vec_id"), delta(vecs, "vec_id"))
    // retrieval: a FIXED query set probed against the 1x and kx
    // persisted BM25 indexes must cost ~the same (prefix-pruned
    // contrib scan + query-sized join, never the index); the build is
    // q108's deliberately corpus-linear one-time contribution index
    val bmQueries = deltaDocs.filter(col("doc_id") % 25 === 0)
      .select(col("doc_id").as("qid"), col("text")).localCheckpoint()
    // image fingerprints go through the REAL q133 decode: the build row
    // includes the corpus decode, honestly linear; the probe delta is
    // checkpointed, so its decode runs once, not once per timed run
    val fps = (dir: String) => Multimodal.imageHashes(
        Multimodal.documentsAsBmpMedia(spark, dir))
      .select(col("doc_id"), col("dhash64"))
    val fpDelta = delta(fps).localCheckpoint()
    // video: q143 rides the q137 engine but pays the RIFF AVI container
    // walk + frame decode on the DELTA side every ingest — so unlike
    // fpDelta the decode stays INSIDE the timed probe thunk (a fresh
    // fingerprint frame per run): the honest per-ingest cost is decode
    // + probe, and with a FIXED delta both are corpus-independent
    val vfps = (dir: String) => Multimodal.videoFingerprints(
      Multimodal.documentsAsAviMedia(spark, dir))
    // lines: docs get the q153 multi-line shape so the index holds real
    // line structure, not one line per doc
    def linedDocs(df: DataFrame) =
      df.select(col("doc_id"), concat_ws("\n",
        lit("COMMON banner"), col("text"),
        concat(lit("Shared "), expr("(doc_id div 5) % 24").cast("string")))
        .as("text"))
    val linedDelta = linedDocs(deltaDocs)
    // edges: mod-keyed fixture hosts — 10x the links, same host graph
    // (the web's shape, where pages grow far faster than hosts); the
    // weighted family uses unit link weights (per-pair counts), so 10x
    // the links means 10x the WEIGHTS but the same host-pair row count
    val edges = (dir: String) => load(spark, dir, "documents")
      .select(col("doc_id"),
        concat(lit("ex"), (col("doc_id") % 9).cast("string"),
          lit(".org")).as("src"),
        concat(lit("m"), (col("doc_id") % 29).cast("string"),
          lit(".net")).as("dst"))
    val edgeDelta = delta(edges).localCheckpoint()
    val wEdges = (dir: String) => edges(dir).withColumn("w1", lit(1L))
    val wEdgeDelta = delta(wEdges).localCheckpoint()
    val cards = (dir: String) => load(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"), col("lang"))
    val cardDelta = delta(cards, m = 7).localCheckpoint()

    val cases = Seq(
      // minhash first: its compaction then runs before the rank probes
      // below pin their per-round checkpoints
      IndexCase("q59_index_build",
        (dir, p) => DedupOps.writeMinhashIndex(corpusDocs(dir), "doc_id", "text", p),
        Seq("q59_probe_const_delta" -> (p =>
          DedupOps.minhashPairsAgainstIndex(deltaDocs, "doc_id", "text", p))),
        Some("q110_fold_const_delta" -> (p =>
          DedupOps.foldIntoMinhashIndex(deltaDocs, "doc_id", "text", p))),
        // the amortized index-sized operation the appends defer
        Some("q110_compact_cost" -> (p =>
          DedupOps.compactMinhashIndex(spark, p, s"${p}_c")))),
      IndexCase("q83_index_build",
        (dir, p) => VectorOps.writeSignIndex(
          corpusVecs(dir), "vec_id", "embedding", planes, p),
        Seq("q83_probe_const_delta" -> (p => VectorOps.probeSignIndex(
          deltaVecs, "vec_id", "embedding", planes, p,
          simX1000Threshold = 400))),
        Some("q113_fold_const_delta" -> (p => VectorOps.foldIntoSignIndex(
          deltaVecs, "vec_id", "embedding", planes, p)))),
      IndexCase("q108_index_build",
        (dir, p) => TextOps.writeBm25Index(corpusDocs(dir), "doc_id", "text", p),
        Seq("q108_probe_const_delta" -> (p => TextOps.bm25TopKAgainstIndex(
          bmQueries, "qid", "text", p, "doc_id"))),
        Some("q108_fold_const_delta" -> (p =>
          TextOps.foldIntoBm25Index(deltaDocs, "doc_id", "text", p)))),
      IndexCase("q138_index_build",
        (dir, p) => DedupOps.writeFingerprintIndex(corpus(fps)(dir), "doc_id",
          "dhash64", bits = 64, hammingMax = 6, p),
        Seq("q137_probe_const_delta" -> (p =>
          DedupOps.fingerprintPairsAgainstIndex(fpDelta, "doc_id", "dhash64", p))),
        Some("q138_fold_const_delta" -> (p =>
          DedupOps.foldIntoFingerprintIndex(fpDelta, "doc_id", "dhash64", p)))),
      IndexCase("q143_index_build",
        (dir, p) => DedupOps.writeFingerprintIndex(corpus(vfps)(dir), "doc_id",
          "vhash64", bits = 64, hammingMax = 6, p),
        Seq("q143_probe_const_delta" -> (p =>
          DedupOps.fingerprintPairsAgainstIndex(delta(vfps), "doc_id", "vhash64", p)))),
      // the q149/q150 decontamination posture: the delta's gram explode
      // is fixed; the prefix-pruned count scan must not track the
      // corpus behind the index
      IndexCase("q150_index_build",
        (dir, p) => DedupOps.writeGramIndex(corpusDocs(dir), "doc_id", "text", p),
        Seq("q150_probe_const_delta" -> (p =>
          DedupOps.exactSubstringSpansAgainstIndex(deltaDocs, "doc_id", "text", p))),
        Some("q150_fold_const_delta" -> (p =>
          DedupOps.foldIntoGramIndex(deltaDocs, "doc_id", "text", p)))),
      // the q151/q153 boilerplate posture, same shape with line counts
      IndexCase("q153_index_build",
        (dir, p) => TextOps.writeLineIndex(
          linedDocs(corpusDocs(dir)), "doc_id", "text", p),
        Seq("q153_probe_const_delta" -> (p =>
          TextOps.dedupLinesAgainstIndex(linedDelta, "doc_id", "text", p))),
        Some("q153_fold_const_delta" -> (p =>
          TextOps.foldIntoLineIndex(linedDelta, "doc_id", "text", p)))),
      IndexCase("q111_index_build",
        (dir, p) => DedupOps.writeCdcChunkIndex(corpusDocs(dir), "doc_id", "text", p),
        fold = Some("q111_fold_const_delta" -> (p =>
          DedupOps.foldIntoCdcChunkIndex(deltaDocs, "doc_id", "text", p)))),
      // the q160/q161 host-graph posture: the build pays the one
      // link-volume-sized distinct (honestly linear in link rows; the
      // OUTPUT is host-pair-sized), while the fixed delta's fold and
      // ranking over the index must not track the corpus behind it
      IndexCase("q160_index_build",
        (dir, p) => PageRank.writeEdgeIndex(corpus(edges)(dir), "src", "dst", p),
        Seq("q160_probe_const_delta" -> (p =>
          PageRank.ranksByKeyAgainstIndex(spark, p))),
        Some("q160_fold_const_delta" -> (p =>
          PageRank.foldIntoEdgeIndex(edgeDelta, "src", "dst", p)))),
      // q165: the probe (weighted rank over the index) and the fixed
      // delta's fold must both stay flat while the one-shot build tracks
      // link volume; weighted HITS (q168) is the directed consumer over
      // the SAME index, host-pair-sized rounds, just as flat
      IndexCase("q165_index_build",
        (dir, p) => PageRank.writeWeightedEdgeIndex(
          corpus(wEdges)(dir), "src", "dst", "w1", p),
        Seq(
          "q165_probe_const_delta" -> (p =>
            PageRank.weightedRanksByKeyAgainstIndex(spark, p)),
          "q168_probe_const_delta" -> (p =>
            PageRank.weightedHitsByKeyAgainstIndex(spark, p))),
        Some("q165_fold_const_delta" -> { p =>
          PageRank.foldIntoWeightedEdgeIndex(wEdgeDelta, "src", "dst", "w1", p); ()
        })),
      // card: corpus-stats leaf sums — the build pays one map-only
      // scoring pass (honestly linear in docs; the OUTPUT is
      // leaf-count-sized), folding a FIXED delta is O(delta), and the
      // card render reads leaf rows only (10x the docs behind the index
      // leave the leaf set ~unchanged, so the probe must sit flat)
      IndexCase("q171_index_build",
        (dir, p) => CardOps.writeCardIndex(corpus(cards, m = 7)(dir),
          "doc_id", "text", "source", "lang", p),
        Seq("q171_probe_const_delta" -> (p =>
          CardOps.datasetCardAgainstIndex(spark, p))),
        Some("q171_fold_const_delta" -> { p =>
          CardOps.foldIntoCardIndex(cardDelta, "doc_id", "text",
            "source", "lang", p); ()
        })))
    val (caseLinear, caseFlat, caseFoldBytes) = runCases(cases, sides, idxDir)
    // the deltas and the rank probes' per-round checkpoints are all
    // locally checkpointed: one drain releases them before the
    // throughput measurement (the Heavy-loop leak hygiene rule)
    BenchHarness.drainLocalCheckpoints(spark)

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
      val cdcPath = Lifecycle.tempDir("graft-scale-ingcdc-").toString
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
      val dropDir = Lifecycle.tempDir("graft-scale-ingdrop-")
      val ckpt = Lifecycle.tempDir("graft-scale-ingck-").toString
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
    val heapsDir = Lifecycle.tempDir("graft-scale-heaps-").toString
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
      "q125_tokenizer_fit")
      .map(q => queryRow(new Sides(baseDir, heapsDir, failures), s"${q}_heaps", q))

    // index builds are one-shot full-corpus scans: they join the
    // ~linear rows (<= 2k bound); probes and in-place folds join the
    // flat rows (<= 2.0 — the fixed delta's cost must not track the
    // corpus behind the index); compaction joins the linear rows (it
    // IS the amortized index-sized operation)
    val linearRows = rows ++ caseLinear ++ heapsRows
    val probeRows = caseFlat
    val worst = linearRows.map(_.ratio).max
    import BenchHarness.num
    val qs = (linearRows ++ probeRows).map { r =>
      s""""${r.entry}":{"base":${num(r.base)},"scaled":${num(r.scaled)},"ratio":${num(r.ratio)}}"""
    }.mkString("{", ",", "}")
    // linear_ok: every ratio within 2x of proportional growth (the
    // driver-verdict bound for a super-linear flag); const_delta_ok:
    // fixed-delta probes AND in-place folds stay flat REGARDLESS of k
    val ok = linearRows.forall(r => r.ratio > 0 && r.ratio <= 2.0 * k)
    val constOk = probeRows.forall(r => r.ratio > 0 && r.ratio <= 2.0)
    val foldBytes = Seq("base", "scaled").map { side =>
      val (index, appended) = caseFoldBytes(("q59_index_build", side))
      s""""minhash_index_$side":$index,"minhash_appended_$side":$appended"""
    }.mkString(",")
    val curated =
      s""""base_docs_per_sec":${num(curB)},"scaled_docs_per_sec":${num(curS)},""" +
      s""""ratio":${num(if (curB <= 0 || curS <= 0) -1.0 else curB / curS)},""" +
      s""""out_rows_base":$curOutB,"out_rows_scaled":$curOutS"""
    println(s"""{"metric":"scale_worst_ratio","value":$worst,"unit":"x","k":$k,"base":"$baseDir","linear_ok":$ok,"const_delta_ok":$constOk,"heaps_vocab_ratio":${num(vocabRatio)},"fold_bytes":{$foldBytes},"curated_throughput":{$curated},"queries":$qs,"build_errors":${failures.json}}""")
    spark.stop()
  }
}
