package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{TextHashExpressions, TextHashing}
import graft.operators.ConnectedComponents

/** User-facing dedup API over caller-named columns. The catalog queries
  * (q15, q21, q22, q37, q46) wrap these, keeping every path under the
  * DuckDB oracle gate.
  */
object DedupOps {

  /** Exact duplicate groups by content digest. Output: sig, keeper_id,
    * n_copies. Only the 16-byte digest shuffles.
    */
  def exactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(md5(col(textCol).cast("binary")).as("sig"), col(idCol))
      .groupBy(col("sig"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Band buckets larger than this generate no candidate pairs (the
    * skew cap). Mirrored in q21's oracle SQL — keep the two in sync.
    */
  val DefaultMaxBucket = 100

  /** THE skew-cap contract, defined once for every pair generator
    * (minhash, n-gram, simhash, embedding-LSH): group by the blocking
    * key(s), aggregate ids through `capped_list` (NULL = bucket too hot
    * to block on — skipped, bounded partials), explode the capped sets
    * into ordered distinct pairs. A change to the cap semantics here is
    * the only place it can happen — the mirrored oracle SQL CTEs must
    * follow.
    */
  private[api] def cappedCandidatePairs(df: DataFrame, groupCols: Seq[Column],
      idCol: String, maxBucket: Int, aCol: String, bCol: String): DataFrame = {
    graft.functions.SketchAggregates.register(df.sparkSession)
    df.groupBy(groupCols: _*)
      .agg(call_function("capped_list", col(idCol), lit(maxBucket)).as("__ds"))
      .filter(col("__ds").isNotNull && size(col("__ds")) >= 2)
      .select(col("__ds"), explode(col("__ds")).as(aCol))
      .select(col(aCol), explode(col("__ds")).as(bCol))
      .filter(col(aCol) < col(bCol))
      .dropDuplicates(aCol, bCol)
  }

  /** doc → (idCol, carry..., hs): the shared shingle→hash front end.
    * `private[graft]` so the streaming ingest probe
    * (streaming.NearDupIngest) derives its hashes through the EXACT
    * same shingle config as the batch pair generators — LSH blocking
    * only works if both sides band identically. `carry` threads extra
    * columns (a stream's event-time) through untouched.
    */
  private[graft] def shingleHashed(df: DataFrame, idCol: String,
      textCol: String, carry: Seq[String] = Nil): DataFrame = {
    import TextHashing._
    TextHashExpressions.register(df.sparkSession)
    graft.functions.SketchAggregates.register(df.sparkSession)
    val cs = carry.map(col)
    df.select((col(idCol) +: cs :+ split(col(textCol), " ", -1).as("toks")): _*)
      .filter(size(col("toks")) >= 3)
      .select((col(idCol) +: cs :+ expr(s"shingle_hashes(toks, 3, $P)").as("hs")): _*)
  }

  /** hashed (…, hs) → + (band, bkey): 16 minhash permutations → Bands
    * band keys, one output row per (input row, band); every input
    * column is preserved. Batch pair generators project down to
    * (id, band, bkey) so payloads never ride the band shuffle; the
    * streaming probe instead carries (ts, hs) because a stream cannot
    * self-join back for the verify step.
    */
  private[graft] def withBandKeys(hashed: DataFrame): DataFrame = {
    import TextHashing._
    val keep = hashed.columns.map(col).toSeq
    hashed
      .withColumn("__mh", minhash(col("hs")))
      .select((keep :+ posexplode(array((0 until Bands).map { b =>
        concat_ws(":", (0 until RowsPerBand).map(r =>
          element_at(col("__mh"), b * RowsPerBand + r + 1)): _*)
      }: _*))): _*)
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bkey")
  }

  /** Corpus band rows → the capped (band, bkey, `__cs`) bucket index
    * of every bucket family (minhash, fingerprint, sign) — the
    * [[DefaultMaxBucket]] skew contract applied to an index that a
    * delta (batch or stream) probes — KEEPING the over-cap buckets as
    * `__cs = null` TOMBSTONE rows. Probes filter them (a null bucket
    * blocks nothing), but the PERSISTED index must record them: a fold
    * ([[foldIntoMinhashIndex]]) cannot otherwise distinguish "bucket
    * never seen" from "bucket already over cap", and would resurrect
    * a skipped bucket with only its delta members — diverging from
    * the from-scratch build the fold must reproduce. Probes are
    * tombstone-tolerant by construction (`explode(__cs)` of null
    * emits nothing).
    */
  private[graft] def bandBucketsAll(bands: DataFrame, idCol: String,
      maxBucket: Int): DataFrame =
    bands.groupBy(col("band"), col("bkey"))
      .agg(call_function("capped_list", col(idCol), lit(maxBucket)).as("__cs"))

  /** THE exact-Jaccard verify, written once for every shingle-set
    * pair path (the minhash self-join and probes, the n-gram pairs and
    * the [[graft.streaming.NearDupIngest]] gate): candidate pairs
    * carrying both sides' hash sets as `hs_a`/`hs_b` → aCol, bCol,
    * jaccard_x1000 (>= threshold).
    */
  private[graft] def verifyJaccard(pairs: DataFrame, aCol: String,
      bCol: String, jaccardX1000Threshold: Int): DataFrame =
    pairs
      .withColumn("it", size(array_intersect(col("hs_a"), col("hs_b"))).cast("long"))
      .withColumn("un", size(array_distinct(concat(col("hs_a"), col("hs_b")))).cast("long"))
      .select(col(aCol), col(bCol),
        expr("(it * 1000) div un").as("jaccard_x1000"))
      .filter(col("jaccard_x1000") >= jaccardX1000Threshold)

  /** Candidate pairs (aCol, bCol) joined to both sides' `hs` sets as
    * `hs_a`/`hs_b` (the self-join paths' verify input). */
  private def withHashSets(cand: DataFrame, hashed: DataFrame, idCol: String,
      hsCol: String): DataFrame =
    cand
      .join(hashed.select(col(idCol).as("doc_a"), col(hsCol).as("hs_a")),
        Seq("doc_a"))
      .join(hashed.select(col(idCol).as("doc_b"), col(hsCol).as("hs_b")),
        Seq("doc_b"))

  /** MinHash+LSH near-duplicate pairs with exact shingle-Jaccard
    * verification. Output: doc_a, doc_b, jaccard_x1000 (>= threshold).
    * Band keys shuffle id-only; shingle sets rejoin candidates only.
    *
    * Skew safety: candidates come from a `capped_list` aggregation per
    * (band, bucket) — a bucket with more than `maxBucket` ids evaluates
    * to NULL and yields NO pairs, so one pathological band key (10k
    * docs sharing a signature) costs O(cap²), never O(10k²). Giant
    * buckets are mass-duplication, which the O(n) digest pass
    * ([[exactDuplicates]]) catches without pair explosion — LSH's job
    * is the near-dups. Requires a BIGINT id column (as do
    * [[ngramJaccardPairs]] and [[clusters]]).
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
      jaccardX1000Threshold: Int = 500,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val hashed = shingleHashed(df, idCol, textCol)
    // one bounded shuffle replaces the unbounded bucket self-join:
    // partials carry <= cap+1 ids per bucket, pairs explode from the
    // capped set only
    val cand = cappedCandidatePairs(
      withBandKeys(hashed).select(col(idCol), col("band"), col("bkey")),
      Seq(col("band"), col("bkey")), idCol, maxBucket, "doc_a", "doc_b")
    verifyJaccard(withHashSets(cand, hashed, idCol, "hs"), "doc_a", "doc_b",
      jaccardX1000Threshold)
  }

  /** Incremental dedup: near-dup pairs between a NEW batch and the
    * EXISTING corpus (the daily-ingestion path — never re-pair the
    * corpus against itself, only the delta against the index). The
    * corpus tables are [[minhashRows]] derived in memory from
    * `corpusDf` — capped band buckets (the [[DefaultMaxBucket]] skew
    * contract: an over-hot corpus bucket blocks nothing) plus shingle
    * sets — and [[minhashProbe]] probes them exactly as
    * [[minhashPairsAgainstIndex]] probes the persisted tables: a join
    * whose build side is O(corpus buckets), carrying <= cap ids each,
    * whose probe side is only the delta, and an exact-Jaccard verify
    * over candidates only. Output: doc_new, doc_old, jaccard_x1000
    * (>= threshold).
    */
  def minhashPairsAgainst(newDf: DataFrame, corpusDf: DataFrame,
      idCol: String, textCol: String,
      jaccardX1000Threshold: Int = 500,
      maxBucket: Int = DefaultMaxBucket): DataFrame =
    minhashProbe(newDf, idCol, textCol,
      IndexMaintenance.Corpus.derived("max_bucket" -> maxBucket)(
        minhashRows(shingleHashed(corpusDf, idCol, textCol), idCol)),
      jaccardX1000Threshold, "minhashPairsAgainst")

  /** The minhash probe, ONE body for both corpus sources: the delta
    * bands map-only, its band keys join the live (non-tombstone)
    * buckets — pruned to the delta's `__bp` prefixes when the source
    * is an index (the prefix list re-derives the delta's band keys,
    * map-only over the delta — cheap by the delta-size contract) —
    * and the candidates carry the delta's shingle set into the
    * [[verifyJaccard]] against the corpus's `hashed` table.
    */
  private def minhashProbe(newDf: DataFrame, idCol: String,
      textCol: String, corpus: IndexMaintenance.Corpus,
      jaccardX1000Threshold: Int, op: String): DataFrame = {
    val reserved = Set("hs", "band", "bkey", "pos", "col", "__mh",
      "__cs", "toks", "doc_new", "doc_old", "hs_a", "hs_b", "hs_old", "__bp")
    require(!reserved.contains(idCol),
      s"$op: id column '$idCol' collides with a " +
        s"working column (${reserved.mkString(", ")}) — rename it first")
    val deltaBands = withBandKeys(shingleHashed(newDf, idCol, textCol))
    val buckets = corpus.pruned("buckets", deltaBands,
        xxhash64(col("band"), col("bkey")))
      .filter(col("__cs").isNotNull)
    verifyJaccard(deltaBands
        .join(buckets, Seq("band", "bkey"))
        .select(col(idCol).as("doc_new"), col("hs").as("hs_a"),
          explode(col("__cs")).as("doc_old"))
        .dropDuplicates("doc_new", "doc_old")
        .join(corpus("hashed").select(col("doc_old"), col("hs_old").as("hs_b")),
          Seq("doc_old")),
      "doc_new", "doc_old", jaccardX1000Threshold)
  }

  /** The minhash index family: `buckets` = the capped (band, bkey,
    * `__cs`) LSH buckets WITH over-cap tombstones, partitioned by `__bp`
    * (`xxhash64(band, bkey) mod prefix_partitions`) and (band, bkey)-
    * sorted; `hashed` = (doc_old, hs_old) shingle sets sorted by id for
    * the verify join; meta = (prefix_partitions, max_bucket, layers).
    */
  private[graft] val MinhashIndex = IndexMaintenance.Family("minhash",
    "writeMinhashIndex", Seq("prefix_partitions", "max_bucket"),
    "prefix/cap geometry and layer count", IndexMaintenance.Manifest.Layers,
    _ => Seq(bucketTable(withPrefix = true),
      IndexMaintenance.Table("hashed", Seq("doc_old"), 8)))

  /** The (band, bkey, `__cs`) bucket table shared by the minhash,
    * fingerprint and sign families. */
  private[graft] def bucketTable(withPrefix: Boolean): IndexMaintenance.Table =
    IndexMaintenance.Table("buckets", Seq("band", "bkey"), 8,
      IndexMaintenance.Reconcile.Capped,
      if (withPrefix) Some("__bp" -> xxhash64(col("band"), col("bkey")))
      else None)

  /** The minhash family's corpus tables — the ONE derivation behind
    * the index build/fold, the inline probe and the NearDupIngest gate —
    * over a shingle pass ([[shingleHashed]]): tombstones INCLUDED
    * ([[bandBucketsAll]]) — a fold must see which buckets are already
    * over cap; probes keep the live buckets. */
  private[graft] def minhashRows(hashed: DataFrame, idCol: String)(
      m: IndexMaintenance.Meta): IndexMaintenance.Delta =
    IndexMaintenance.Delta(
      "buckets" -> bandBucketsAll(withBandKeys(hashed)
        .select(col(idCol), col("band"), col("bkey")), idCol,
        m.int("max_bucket")),
      "hashed" -> hashed.select(col(idCol).as("doc_old"),
        col("hs").as("hs_old")))

  /** Materialize the corpus side of [[minhashPairsAgainstIndex]] to
    * parquet ([[MinhashIndex]]'s layout). This is the "build once,
    * probe per ingest batch" contract made literal — at 100TB the index
    * build is the one full-corpus LSH scan per corpus version
    * ([[minhashPairsAgainst]] re-derives it per CALL, NearDupIngest.index
    * per SESSION), and every daily delta pays only the probe. The `__bp`
    * layout makes the probe's index-scan term sub-linear in the INDEX: a
    * delta touching k of the P prefixes reads k/P of the bucket files,
    * and the (band, bkey) sort gives row-group min/max pruning within
    * each file. P is sized from the bucket table's bytes, one prefix per
    * scan split up to 64 ([[IndexMaintenance]]): an index smaller than a
    * split is one directory and one file, which a probe reads whole
    * without a prefix job. Both tables are tiny next to the corpus: ids
    * + 60-bit hash sets, never text.
    */
  def writeMinhashIndex(corpus: DataFrame, idCol: String, textCol: String,
      path: String, maxBucket: Int = DefaultMaxBucket): Unit =
    IndexMaintenance.pinned(shingleHashed(corpus, idCol, textCol),
      minhashRows(_, idCol))(
      IndexMaintenance.write(corpus.sparkSession, path, MinhashIndex,
        "max_bucket" -> maxBucket))

  /** N-way reconcile of LAYERED (band, bkey, `__cs`) bucket runs — the
    * [[IndexMaintenance.Reconcile.Capped]] rule: each append lands the
    * delta's capped buckets as its own run, so a key may appear once
    * per layer; one grouped pass restores the exact from-scratch
    * semantics. The arithmetic is order-free: a tombstone in ANY layer
    * means that layer alone was over cap, so the union is too;
    * otherwise the concat of the per-layer member lists IS the full
    * bucket, tombstoned iff it crosses the cap — term for term what
    * `capped_list` computes over the union corpus. Members are
    * distinct'ed, so a retried delta's duplicate run cannot inflate a
    * bucket past the cap. `collect_list` skips nulls, so tombstones
    * are detected by an explicit indicator, not by their (absent)
    * lists.
    */
  private[graft] def mergeLayeredBuckets(buckets: DataFrame,
      maxBucket: Int): DataFrame = {
    val listType = buckets.schema("__cs").dataType
    buckets.groupBy(col("band"), col("bkey"))
      .agg(max(when(col("__cs").isNull, 1).otherwise(0)).as("_tomb"),
        array_distinct(flatten(collect_list(col("__cs")))).as("_all"))
      .select(col("band"), col("bkey"),
        when(col("_tomb") === 1 || size(col("_all")) > maxBucket,
          lit(null).cast(listType))
          .otherwise(col("_all")).as("__cs"))
  }

  /** Fold a DELTA of new documents into a persisted
    * [[writeMinhashIndex]] WITHOUT re-scanning the corpus text and
    * WITHOUT rewriting the index ([[IndexMaintenance.fold]]): the
    * delta's capped buckets and shingle sets land as their OWN sorted
    * runs inside the existing `__bp` layout — write cost O(delta)
    * bytes, the daily index-maintenance operation at 100 TB. Readers
    * reconcile per-key duplicates through [[mergeLayeredBuckets]]
    * (exact fold==rebuild arithmetic, q110's driver-checked hash); the
    * `hashed` runs need none (disjoint delta ids). Periodic
    * [[compactMinhashIndex]] folds the runs back to one (append daily,
    * compact weekly).
    *
    * Crash consistency (the [[IndexMaintenance.Manifest.Layers]]
    * families): the appends and the meta rewrite are separate
    * filesystem commits. The operational contract is single-writer
    * with restore-on-failure; callers needing an atomic fold use the
    * to-`outPath` overload, which builds a FRESH directory and leaves
    * the old index untouched — O(index) writes is the price of that
    * atomicity.
    */
  def foldIntoMinhashIndex(delta: DataFrame, idCol: String,
      textCol: String, indexPath: String): Unit = {
    IndexMaintenance.pinned(shingleHashed(delta, idCol, textCol),
      minhashRows(_, idCol))(IndexMaintenance.fold(
      delta.sparkSession, indexPath, MinhashIndex, "foldIntoMinhashIndex"))
    ()
  }

  /** Fold-and-COMPACT ([[IndexMaintenance.foldTo]]): delta + old index
    * merged into a fresh single-layer index at `outPath` — O(index)
    * read AND write, the right cost class when the fold cadence is the
    * compaction cadence (small indexes, tests, one-shot migrations).
    * Identical probes to a from-scratch `writeMinhashIndex(corpus ∪
    * delta)` (DedupSpec parity).
    */
  def foldIntoMinhashIndex(delta: DataFrame, idCol: String,
      textCol: String, indexPath: String, outPath: String): Unit =
    IndexMaintenance.pinned(shingleHashed(delta, idCol, textCol),
      minhashRows(_, idCol))(IndexMaintenance.foldTo(
      delta.sparkSession, indexPath, outPath, MinhashIndex,
      "foldIntoMinhashIndex"))

  /** The maintenance policy as one call ([[IndexMaintenance.maintain]]):
    * in-place O(delta) fold, then compact-and-swap iff the post-fold
    * layer count has reached `compactThreshold`. Probes are identical
    * before and after the compaction. Returns true when this fold
    * triggered the compaction.
    */
  def maintainMinhashIndex(delta: DataFrame, idCol: String,
      textCol: String, indexPath: String,
      compactThreshold: Int =
        IndexMaintenance.DefaultCompactThreshold): Boolean =
    IndexMaintenance.pinned(shingleHashed(delta, idCol, textCol),
      minhashRows(_, idCol))(IndexMaintenance.maintain(
      delta.sparkSession, indexPath, MinhashIndex, "maintainMinhashIndex",
      compactThreshold)).contains(true)

  /** Compact a layered index back to ONE sorted run per table — O(index)
    * read and write, the amortized cost the daily O(delta) appends
    * defer; identical probe results before and after.
    */
  def compactMinhashIndex(s: org.apache.spark.sql.SparkSession,
      indexPath: String, outPath: String): Unit =
    IndexMaintenance.compact(s, indexPath, outPath, MinhashIndex,
      "compactMinhashIndex")

  /** [[minhashPairsAgainst]] probing a PERSISTED index
    * ([[writeMinhashIndex]]) instead of re-deriving the corpus side:
    * the same [[minhashProbe]] over the index's tables — identical
    * output to the inline path on the same split (parity-tested), at
    * O(delta work + index scan) per batch with NO corpus
    * shingle/minhash re-derivation. The scan is PRUNED: the delta's
    * distinct `__bp` prefixes filter the bucket parquet to the
    * directories its keys can hit, and a layered index reconciles only
    * that pruned subset. Output: doc_new, doc_old, jaccard_x1000.
    */
  def minhashPairsAgainstIndex(newDf: DataFrame, idCol: String,
      textCol: String, indexPath: String,
      jaccardX1000Threshold: Int = 500): DataFrame =
    minhashProbe(newDf, idCol, textCol,
      IndexMaintenance.Corpus.indexed(newDf.sparkSession, indexPath,
        MinhashIndex, "minhashPairsAgainstIndex"),
      jaccardX1000Threshold, "minhashPairsAgainstIndex")

  /** Passage-level (sub-document) near-dup spans — duplicate
    * PARAGRAPHS across documents (license blocks, boilerplate
    * passages, syndicated fragments) that doc-level [[minhashPairs]]
    * cannot see when the surrounding documents differ. Composition of
    * existing primitives: fixed-window non-overlapping chunks
    * ([[graft.api.TextOps.chunk]] with stride = chunkTokens) → each
    * chunk becomes a pseudo-document with the synthetic BIGINT id
    * `doc_id * maxChunksPerDoc + chunk_idx` → the standard capped
    * MinHash-LSH pair generation + exact shingle-Jaccard verify at
    * CHUNK granularity → ids decode back to (doc, chunk) spans, and
    * same-doc pairs are dropped (within-doc repetition is
    * [[graft.api.TextOps.repetitionFilter]]'s job). Output: doc_a,
    * chunk_a, doc_b, chunk_b, jaccard_x1000 with doc_a < doc_b.
    *
    * Scale shape: identical to [[minhashPairs]] with the corpus row
    * count multiplied by ~tokens/chunkTokens — the chunk explode is
    * map-only (rows never leave their input partition), band keys
    * shuffle id-only, and the same [[DefaultMaxBucket]] skew contract
    * bounds hot buckets (a license block shared by 10k docs is exactly
    * such a bucket: it blocks nothing here and belongs to the common-
    * gram / boilerplate pass, TextOps.commonGramRatio).
    *
    * Id encoding contract: requires non-negative doc ids (div/mod
    * decode; negative ids would also disagree with a floor-div oracle)
    * and fewer than `maxChunksPerDoc` chunks per document (default
    * 100k chunks ≈ 4M tokens per doc at the default chunk size —
    * beyond it, ids would collide silently; raise it for book-length
    * corpora, the headroom to Long overflow is ~9e13 docs).
    */
  def passagePairs(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 40, maxChunksPerDoc: Long = 100000L,
      jaccardX1000Threshold: Int = 500,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(chunkTokens >= 3,
      s"passagePairs: chunks of $chunkTokens tokens cannot carry a 3-token shingle")
    require(maxChunksPerDoc >= 2, "passagePairs: maxChunksPerDoc must be >= 2")
    val chunks = TextOps.chunk(df, idCol, textCol, chunkTokens,
        stride = chunkTokens)
      .select((col(idCol) * maxChunksPerDoc + col("chunk_idx")).as("__cid"),
        col("chunk_text"))
    minhashPairs(chunks, "__cid", "chunk_text", jaccardX1000Threshold,
        maxBucket)
      .select(
        expr(s"doc_a div ${maxChunksPerDoc}L").as("da"),
        (col("doc_a") % maxChunksPerDoc).as("chunk_a"),
        expr(s"doc_b div ${maxChunksPerDoc}L").as("db"),
        (col("doc_b") % maxChunksPerDoc).as("chunk_b"),
        col("jaccard_x1000"))
      .filter(col("da") =!= col("db"))
      .select(col("da").as("doc_a"), col("chunk_a"),
        col("db").as("doc_b"), col("chunk_b"), col("jaccard_x1000"))
  }

  /** Exact n-gram Jaccard pairs via a rare-gram inverted index: the
    * single-pass capped_list index bounds hot-gram postings (NULL =
    * too common to block on), so candidate generation never explodes
    * on stop-word grams. Output: doc_a, doc_b, jaccard_x1000.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 2, maxDf: Int = 20, jaccardX1000Threshold: Int = 300): DataFrame = {
    graft.functions.SketchAggregates.register(df.sparkSession)
    TextHashExpressions.register(df.sparkSession)
    val grams = df
      .select(col(idCol), split(col(textCol), " ", -1).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col(idCol),
        expr(s"shingle_hashes(toks, $n, ${TextHashing.P})").as("gs"))
    // df cap == bucket cap: a gram posting list over maxDf yields no
    // candidates (rare-gram inverted index)
    val cand = cappedCandidatePairs(
      grams.select(col(idCol), explode(col("gs")).as("g")),
      Seq(col("g")), idCol, maxDf, "doc_a", "doc_b")
    verifyJaccard(withHashSets(cand, grams, idCol, "gs"), "doc_a", "doc_b",
      jaccardX1000Threshold)
  }

  /** 60-bit SimHash + 12-bit blocking prefix. Output: idCol, simhash,
    * block. Map-only; the whole distinct→hash→majority pipeline is one
    * native codegen'd `simhash60` call (functions.SimHash60), not the
    * interpreted HOF chain it replaces.
    */
  def simhashFingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    TextHashExpressions.register(df.sparkSession)
    df.select(col(idCol),
        call_function("simhash60", split(col(textCol), " ", -1)).as("simhash"))
      .withColumn("block", shiftright(col("simhash"), 48).cast("long"))
  }

  /** SimHash near-duplicate PAIRS with GUARANTEED recall at the
    * hamming threshold: the 60-bit fingerprint splits into
    * `hammingMax + 1` disjoint blocks, and by pigeonhole any pair
    * within `hammingMax` bit flips agrees EXACTLY on at least one
    * block — so blocking on exact block values is lossless, unlike the
    * probabilistic MinHash/hyperplane bands. Candidates come from the
    * same capped bucket aggregation as [[minhashPairs]] (same skew
    * contract, BIGINT ids); the exact `bit_count(xor)` verify touches
    * candidates only. Output: doc_a, doc_b, hamming.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      hammingMax: Int = 3, maxBucket: Int = DefaultMaxBucket): DataFrame =
    simhashPairsFromFingerprints(
      simhashFingerprint(df, idCol, textCol).select(col(idCol), col("simhash")),
      idCol, hammingMax, maxBucket)

  /** [[simhashPairs]] over a pre-computed fingerprint frame
    * (idCol, simhash). The pair generation reads the fingerprints three
    * times (band explode + both verify sides) — at scale, persist or
    * materialize the frame (2 longs/doc) and call this directly rather
    * than paying three full-corpus simhash60 scans through
    * [[simhashPairs]]'s lazy lineage.
    */
  def simhashPairsFromFingerprints(fps: DataFrame, idCol: String,
      hammingMax: Int = 3, maxBucket: Int = DefaultMaxBucket): DataFrame =
    fingerprintPairs(fps, idCol, "simhash", bits = 60,
      hammingMax = hammingMax, maxBucket = maxBucket)

  /** Pigeonhole-exact hamming pairs over ANY fixed-width bit
    * fingerprint column — the [[simhashPairsFromFingerprints]] block
    * machinery generalized to `bits` in [8, 64] so 64-bit perceptual
    * image hashes (operators.Multimodal aHash/dHash) reuse the SAME
    * lossless-recall blocking and capped-bucket skew contract as the
    * 60-bit text simhash. The fingerprint splits into `hammingMax + 1`
    * disjoint blocks; any pair within `hammingMax` bit flips agrees
    * exactly on >= 1 block. Unsigned shifts throughout: a 64-bit hash
    * with the sign bit set must not smear 1s into the high block.
    * Output: doc_a, doc_b, hamming.
    */
  def fingerprintPairs(fps: DataFrame, idCol: String, fpCol: String,
      bits: Int, hammingMax: Int = 3,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    fingerprintValidate("fingerprintPairs", idCol, fpCol, bits, hammingMax)
    val bands = fingerprintBands(fps, idCol, fpCol, bits, hammingMax)
    verifyHamming(cappedCandidatePairs(bands, Seq(col("band"), col("bkey")),
        idCol, maxBucket, "doc_a", "doc_b")
      .join(fps.select(col(idCol).as("doc_a"), col(fpCol).as("sh_a")),
        Seq("doc_a"))
      .join(fps.select(col(idCol).as("doc_b"), col(fpCol).as("sh_b")),
        Seq("doc_b")), "doc_a", "doc_b", hammingMax)
  }

  /** THE exact hamming verify, written once for every fingerprint pair
    * path (the self-join, the probes and the
    * [[graft.streaming.FingerprintGate]]): candidate pairs carrying
    * both fingerprints as `sh_a`/`sh_b` → aCol, bCol, hamming
    * (<= hammingMax).
    */
  private[graft] def verifyHamming(pairs: DataFrame, aCol: String,
      bCol: String, hammingMax: Int): DataFrame =
    pairs
      .select(col(aCol), col(bCol),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= hammingMax)

  private[graft] def fingerprintValidate(op: String, idCol: String,
      fpCol: String, bits: Int, hammingMax: Int): Unit = {
    require(bits >= 8 && bits <= 64, s"$op: bits $bits outside [8, 64]")
    require(hammingMax >= 0 && bits / (hammingMax + 1) >= 4,
      s"$op: hammingMax $hammingMax leaves blocks under 4 bits at " +
        s"width $bits — blocking would degenerate to hot buckets")
    // the OUTPUT and working names are fixed; an id or fingerprint
    // column shadowing one (or the other) would go ambiguous deep in the
    // plan — fail fast instead
    val working = Seq("band", "bkey", "pos", "col", "doc_a", "doc_b",
      "doc_new", "doc_old", "sh_a", "sh_b", "hamming")
    for ((what, c, other) <- Seq(("id", idCol, fpCol),
        ("fingerprint", fpCol, idCol))) {
      val reserved = (other +: working).toSet
      require(!reserved.contains(c),
        s"$op: $what column '$c' collides with an output/working column " +
          s"(${reserved.mkString(", ")}) — rename it first")
    }
  }

  /** The pigeonhole block keys of a `bits`-wide fingerprint at
    * `hammingMax`: `hammingMax + 1` disjoint blocks (the last absorbs
    * remainder bits — any disjoint partition preserves the
    * pigeonhole). Unsigned shifts throughout: a 64-bit hash with the
    * sign bit set must not smear 1s into the high block. Shared by
    * the self-join ([[fingerprintPairs]]), the incremental probe
    * ([[fingerprintPairsAgainst]]), and the streaming gate
    * ([[graft.streaming.FingerprintGate]]) — blocking only works if
    * every consumer bands identically.
    */
  private[graft] def fingerprintBlockCols(fpCol: String, bits: Int,
      hammingMax: Int): Seq[Column] = {
    val nBlocks = hammingMax + 1
    val w = bits / nBlocks
    (0 until nBlocks).map { b =>
      val lo = w * b
      val width = if (b == nBlocks - 1) bits - lo else w
      val shifted =
        if (lo == 0) col(fpCol) else shiftrightunsigned(col(fpCol), lo)
      // a full-top block needs no mask (and (1L << 64) - 1 would wrap
      // to 0); unsigned shift already zeroed everything above it
      if (lo + width >= 64) shifted
      else shifted.bitwiseAND(lit((1L << width) - 1L))
    }
  }

  /** (id, carry..., band, bkey) rows — one per pigeonhole block. */
  private[graft] def fingerprintBands(fps: DataFrame, idCol: String,
      fpCol: String, bits: Int, hammingMax: Int,
      carry: Seq[String] = Nil): DataFrame =
    fps.select(col(idCol) +: carry.map(col) :+
        posexplode(array(fingerprintBlockCols(fpCol, bits, hammingMax): _*)): _*)
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bkey")

  /** Incremental fingerprint dedup — [[minhashPairsAgainst]]'s shape
    * for the 64-bit hash modalities (text simhash, image dHash, audio
    * envelope, video majority-dHash): a DELTA of fingerprints probes
    * the CORPUS's capped pigeonhole block buckets and verifies
    * candidates by exact bit_count(xor): [[fingerprintProbe]] over
    * the [[fingerprintRows]] tables derived in memory from `corpusFps`,
    * the body [[fingerprintPairsAgainstIndex]] runs over a persisted
    * index. The corpus is never self-paired; probe cost is
    * proportional to the delta (bands map-only, candidates bounded by
    * blocks × cap per delta row). Output: doc_new, doc_old, hamming
    * (<= hammingMax). The streaming twin is
    * [[graft.streaming.FingerprintGate]] — same row derivation, same
    * verify, StreamingSpec-pinned parity.
    *
    * PRECONDITION (here, the index twin, and the gate): `newFps`
    * carries each id AT MOST ONCE. Candidate pairs dedupe on
    * (doc_new, doc_old) and then re-join the delta by id, so a delta
    * holding the same id twice with DIFFERENT fingerprints would fan
    * each candidate back out into one verify row per fingerprint
    * while banding came only from whichever rows happened to band —
    * duplicate, inconsistent output, not an error. Deduplicating
    * here would cost the probe an extra delta shuffle and silently
    * pick an arbitrary fingerprint for an id that IS a data bug
    * upstream, so the contract is documented instead: re-emissions
    * must collapse before the probe (the gate's within-watermark
    * dedup handles exactly-once delivery of identical rows; differing
    * fingerprints for one id are upstream corruption either way).
    */
  def fingerprintPairsAgainst(newFps: DataFrame, corpusFps: DataFrame,
      idCol: String, fpCol: String, bits: Int, hammingMax: Int = 3,
      maxBucket: Int = DefaultMaxBucket): DataFrame =
    fingerprintProbe(newFps, idCol, fpCol,
      IndexMaintenance.Corpus.derived("max_bucket" -> maxBucket,
        "bits" -> bits, "hamming_max" -> hammingMax)(
        fingerprintRows(corpusFps, idCol, fpCol)),
      "fingerprintPairsAgainst")

  /** The fingerprint probe, ONE body for both corpus sources: delta
    * fingerprints band map-only with the corpus's geometry (the
    * caller's parameters inline, the index's own meta otherwise —
    * never a caller knob), the block keys join the live buckets
    * (pruned to the delta's `__bp` prefixes when the source is an
    * index), and candidates verify by exact bit_count(xor) against the
    * corpus `fps` table.
    */
  private def fingerprintProbe(newFps: DataFrame, idCol: String,
      fpCol: String, corpus: IndexMaintenance.Corpus, op: String): DataFrame = {
    val (bits, hammingMax) =
      (corpus.meta.int("bits"), corpus.meta.int("hamming_max"))
    fingerprintValidate(op, idCol, fpCol, bits, hammingMax)
    val deltaBands = fingerprintBands(newFps, idCol, fpCol, bits,
      hammingMax)
    val buckets = corpus.pruned("buckets", deltaBands,
        xxhash64(col("band"), col("bkey")))
      .filter(col("__cs").isNotNull)
    verifyHamming(deltaBands
        .join(buckets, Seq("band", "bkey"))
        .select(col(idCol).as("doc_new"), explode(col("__cs")).as("doc_old"))
        .dropDuplicates("doc_new", "doc_old")
        .join(newFps.select(col(idCol).as("doc_new"), col(fpCol).as("sh_a")),
          Seq("doc_new"))
        .join(corpus("fps").select(col("doc_old"), col("fp_old").as("sh_b")),
          Seq("doc_old")),
      "doc_new", "doc_old", hammingMax)
  }

  /** The fingerprint index family — the [[MinhashIndex]] layout applied
    * to the fingerprint modalities (text simhash, image dHash, audio
    * envelope): capped pigeonhole block `buckets` WITH over-cap
    * tombstones, `fps` = (doc_old, fp_old) — one Long per corpus row,
    * never payloads — and a meta carrying the prefix/cap geometry PLUS
    * the banding geometry (bits, hamming_max): a probe banding with
    * different geometry would be silently meaningless, so the geometry
    * lives in the index, not in caller code.
    */
  private[graft] val FingerprintIndex = IndexMaintenance.Family(
    "fingerprint", "writeFingerprintIndex",
    Seq("prefix_partitions", "max_bucket", "bits", "hamming_max"),
    "prefix/cap and banding geometry and layer count",
    IndexMaintenance.Manifest.Layers,
    _ => Seq(bucketTable(withPrefix = true),
      IndexMaintenance.Table("fps", Seq("doc_old"), 8)))

  /** The fingerprint family's corpus tables — the ONE derivation behind
    * the index build/fold, the inline probe and the FingerprintGate —
    * banded with the meta's geometry, tombstones included. Build and
    * fold pin the input: both tables consume it, so an expensive
    * upstream lineage (a real media decode) runs ONCE. */
  private[graft] def fingerprintRows(fps: DataFrame, idCol: String,
      fpCol: String)(m: IndexMaintenance.Meta): IndexMaintenance.Delta = {
    graft.functions.SketchAggregates.register(fps.sparkSession)
    IndexMaintenance.Delta(
      "buckets" -> bandBucketsAll(fingerprintBands(fps, idCol, fpCol,
        m.int("bits"), m.int("hamming_max")), idCol, m.int("max_bucket")),
      "fps" -> fps.select(col(idCol).as("doc_old"), col(fpCol).as("fp_old")))
  }

  /** Materialize the corpus side of [[fingerprintPairsAgainstIndex]]
    * ([[FingerprintIndex]]'s layout). */
  def writeFingerprintIndex(corpusFps: DataFrame, idCol: String,
      fpCol: String, bits: Int, hammingMax: Int, path: String,
      maxBucket: Int = DefaultMaxBucket): Unit = {
    fingerprintValidate("writeFingerprintIndex", idCol, fpCol, bits,
      hammingMax)
    IndexMaintenance.pinned(corpusFps.select(col(idCol), col(fpCol)),
      fingerprintRows(_, idCol, fpCol))(IndexMaintenance.write(
      corpusFps.sparkSession, path, FingerprintIndex,
      "max_bucket" -> maxBucket, "bits" -> bits, "hamming_max" -> hammingMax))
  }

  /** [[fingerprintPairsAgainst]] probing a PERSISTED
    * [[writeFingerprintIndex]]: the same [[fingerprintProbe]] over the
    * index's tables — geometry read off meta, the `__bp` prefix list
    * prunes the bucket parquet to only the directories the delta's
    * keys can hit, and layered runs reconcile through the SHARED
    * [[mergeLayeredBuckets]] cap arithmetic over just the pruned
    * subset. Identical output to the inline path on the same split
    * (DedupSpec parity); per-batch cost O(delta work + pruned buckets +
    * fps sidecar scan). Output: doc_new, doc_old, hamming.
    */
  def fingerprintPairsAgainstIndex(newFps: DataFrame, idCol: String,
      fpCol: String, indexPath: String): DataFrame =
    fingerprintProbe(newFps, idCol, fpCol,
      IndexMaintenance.Corpus.indexed(newFps.sparkSession, indexPath,
        FingerprintIndex, "fingerprintPairsAgainstIndex"),
      "fingerprintPairsAgainstIndex")

  /** Fold a DELTA of fingerprints into a persisted index IN PLACE with
    * O(delta) write bytes — the [[foldIntoMinhashIndex]] posture for
    * the fingerprint family (same crash contract). */
  def foldIntoFingerprintIndex(delta: DataFrame, idCol: String,
      fpCol: String, indexPath: String): Unit = {
    IndexMaintenance.pinned(delta.select(col(idCol), col(fpCol)),
      fingerprintRows(_, idCol, fpCol))(IndexMaintenance.fold(
      delta.sparkSession, indexPath, FingerprintIndex,
      "foldIntoFingerprintIndex"))
    ()
  }

  /** Compact a layered fingerprint index back to ONE sorted run per
    * table — the [[compactMinhashIndex]] shape. */
  def compactFingerprintIndex(s: org.apache.spark.sql.SparkSession,
      indexPath: String, outPath: String): Unit =
    IndexMaintenance.compact(s, indexPath, outPath, FingerprintIndex,
      "compactFingerprintIndex")

  /** [[maintainMinhashIndex]]'s fingerprint twin. Returns true when this
    * fold compacted. NOT reader-safe across the swap — see
    * [[IndexMaintenance]]'s reader contract.
    */
  def maintainFingerprintIndex(delta: DataFrame, idCol: String,
      fpCol: String, indexPath: String,
      compactThreshold: Int =
        IndexMaintenance.DefaultCompactThreshold): Boolean =
    IndexMaintenance.pinned(delta.select(col(idCol), col(fpCol)),
      fingerprintRows(_, idCol, fpCol))(IndexMaintenance.maintain(
      delta.sparkSession, indexPath, FingerprintIndex,
      "maintainFingerprintIndex", compactThreshold)).contains(true)
  /** Exact-substring duplicate SPANS (the ExactSubstr dedup of Lee et
    * al. 2022, "Deduplicating Training Data Makes Language Models
    * Better", arXiv:2107.06499, re-expressed for Spark): every maximal
    * token interval of a document covered by `gramTokens`-token runs
    * that also appear VERBATIM in at least `minDocs` distinct
    * documents. Complements q85's passage near-dup: passages are
    * fixed 25-token chunks matched approximately; this finds exact
    * repeats at ARBITRARY offsets (license blocks, syndicated
    * sentences) at gram resolution. Grams repeated only WITHIN one doc
    * don't count (within-doc repetition is q44's job).
    *
    * Scale shape — the hash analog of the paper's suffix array, which
    * would need a global sort of every token position at 100 TB:
    *   1. gram explode + hash60 is MAP-ONLY (one row per token), and
    *      runs ONCE: the explicit repartition on the gram hash is the
    *      single exchange both consumers sit on — the distinct +
    *      count >= minDocs aggregate AND the probe side of the
    *      existence join are hash(__gh)-clustered already, so Spark
    *      reuses the one shuffle (ReusedExchange) instead of
    *      re-exploding and re-hashing the corpus per branch;
    *   2. shared positions come back via a LEFT SEMI join — pure
    *      existence, NEVER a positions x positions pair join, so a
    *      boilerplate gram in a million docs costs postings (linear),
    *      not pairs (quadratic);
    *   3. grams in MORE than `maxDocsPerGram` distinct docs are
    *      dropped from the shared set (the q21/q29 capped-bucket
    *      contract): a license block present in 10⁶ docs would
    *      otherwise ship every occurrence's positions into the
    *      island-merge window. Recall contract: over-cap grams are
    *      corpus-wide boilerplate, which the common-grams pass (q70)
    *      identifies and strips at O(n) — this operator's job is the
    *      mid-frequency exact repeats;
    *   4. the interval merge windows only the SHARED positions per
    *      doc — output-sized, not corpus-sized.
    * Two shuffles total: the gram-hash repartition and the per-doc
    * island merge. Tokenization contract: single-space split keeping
    * empty tokens (repo-wide; mirrored by DuckDB's string_split), so
    * runs of consecutive spaces form empty-token grams that can merge
    * spans across them — callers wanting whitespace-insensitive spans
    * should normalize first ([[TextOps]] normalize). Output: doc_id,
    * span_start, span_end (token offsets, end exclusive), span_tokens.
    */
  def exactSubstringSpans(df: DataFrame, idCol: String, textCol: String,
      gramTokens: Int = 8, minDocs: Int = 2,
      maxDocsPerGram: Int = 1000): DataFrame = {
    require(gramTokens >= 2, s"exactSubstringSpans: gramTokens $gramTokens < 2")
    require(minDocs >= 2, s"exactSubstringSpans: minDocs $minDocs < 2")
    require(maxDocsPerGram >= minDocs,
      s"exactSubstringSpans: maxDocsPerGram $maxDocsPerGram < minDocs " +
        s"$minDocs — the cap would reject every shared gram")
    val grams = gramPositions(df, idCol, textCol, gramTokens)
      .repartition(col("__gh"))
    val shared = grams.select(col("__gh"), col("doc_id")).distinct()
      .groupBy(col("__gh")).agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= minDocs && col("__nd") <= maxDocsPerGram)
      .select(col("__gh"))
    mergeSpans(grams.join(shared, Seq("__gh"), "left_semi")
      .select(col("doc_id"), col("pos")), gramTokens)
  }

  /** (doc_id, pos, __gh) token-gram position rows — the ONE definition
    * of the gram hashing (single-space split keeping empty tokens,
    * hash60 of the space-joined gram), shared by the self-join
    * ([[exactSubstringSpans]]), incremental
    * ([[exactSubstringSpansAgainst]]), and persisted-index
    * ([[writeGramIndex]] / [[exactSubstringSpansAgainstIndex]]) paths
    * so corpus and delta can never gram differently.
    */
  private[graft] def gramPositions(df: DataFrame, idCol: String,
      textCol: String, gramTokens: Int,
      extraCols: Seq[String] = Nil): DataFrame =
    gramPositionsTokens(
      Spread.ifNarrow(df.select(col(idCol).as("doc_id") +:
          extraCols.map(col) :+ col(textCol).as("__txt"): _*))
        .select(col("doc_id") +: extraCols.map(col) :+
          split(col("__txt"), " ", -1).as("__tk"): _*),
      gramTokens, extraCols)

  /** [[gramPositions]] off a PRE-SPLIT frame carrying
    * (doc_id, extraCols..., __tk) — the streaming gate tokenizes once
    * for both its gram-less-branch length check and the gram explode
    * instead of paying the split twice per micro-batch. One body
    * behind both entry points.
    */
  private[graft] def gramPositionsTokens(pre: DataFrame, gramTokens: Int,
      extraCols: Seq[String] = Nil): DataFrame = {
    val extras = extraCols.map(col)
    pre.filter(size(col("__tk")) >= gramTokens)
      .select(col("doc_id") +: extras :+
        explode(sequence(lit(0), size(col("__tk")) - gramTokens)).as("__p") :+
        col("__tk"): _*)
      .select(col("doc_id") +: extras :+
        col("__p").cast("long").as("pos") :+
        TextHashing.hash60(concat_ws(" ",
          slice(col("__tk"), col("__p") + 1, lit(gramTokens))))
          .as("__gh"): _*)
  }

  /** The island-merge back half: maximal intervals over covered
    * positions — intervals [p, p+k) sorted by start merge iff
    * next − prev <= k (overlap or exact adjacency = contiguous
    * duplicated coverage). Windows only the SHARED positions per doc
    * (output-sized, not corpus-sized). Output: doc_id, span_start,
    * span_end, span_tokens.
    */
  private def mergeSpans(positions: DataFrame, gramTokens: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    positions
      .withColumn("__brk",
        when(lag(col("pos"), 1).over(w).isNull ||
          col("pos") - lag(col("pos"), 1).over(w) > gramTokens, 1L)
          .otherwise(0L))
      .withColumn("__grp", sum(col("__brk")).over(w))
      .groupBy(col("doc_id"), col("__grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + gramTokens).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_tokens"))
  }

  /** Exact-substring DECONTAMINATION spans — [[exactSubstringSpans]]'s
    * incremental posture (the q59/q91 train-vs-delta split applied to
    * ExactSubstr): every maximal token interval of a NEW document
    * covered by `gramTokens`-token runs that appear VERBATIM in at
    * least `minCorpusDocs` CORPUS documents. minCorpusDocs defaults to
    * 1 — "appears anywhere in the training corpus" is the
    * decontamination question; the self-join's minDocs >= 2 exists
    * because there a gram trivially appears in its own document.
    * Grams in more than `maxDocsPerGram` CORPUS docs are dropped (the
    * capped contract — corpus-wide boilerplate is q70's O(n) job).
    * The corpus is never self-paired and the delta never counts toward
    * the threshold; at 100 TB the corpus side is materialized once
    * ([[writeGramIndex]]) and probed per ingest batch
    * ([[exactSubstringSpansAgainstIndex]]) — the same [[gramProbe]],
    * over the index's table instead of the [[gramRows]] derived here.
    * Output: doc_id (the NEW doc), span_start, span_end, span_tokens.
    */
  def exactSubstringSpansAgainst(newDf: DataFrame, corpusDf: DataFrame,
      idCol: String, textCol: String, gramTokens: Int = 8,
      minCorpusDocs: Int = 1, maxDocsPerGram: Int = 1000): DataFrame = {
    require(gramTokens >= 2,
      s"exactSubstringSpansAgainst: gramTokens $gramTokens < 2")
    gramProbe(newDf, idCol, textCol,
      IndexMaintenance.Corpus.derived("gram_tokens" -> gramTokens)(
        gramRows(corpusDf, idCol, textCol)),
      sharedGrams(minCorpusDocs, maxDocsPerGram,
        "exactSubstringSpansAgainst"))
  }

  /** The gram probe, ONE body for both corpus sources: the delta grams
    * with the corpus's gram width, semi-joins the `shared` corpus grams
    * (pruned to the delta's `__gp` prefixes when the source is an
    * index) and island-merges the covered positions. */
  private def gramProbe(newDf: DataFrame, idCol: String, textCol: String,
      corpus: IndexMaintenance.Corpus,
      shared: DataFrame => DataFrame): DataFrame = {
    val gramTokens = corpus.meta.int("gram_tokens")
    val deltaGrams = gramPositions(newDf, idCol, textCol, gramTokens)
    mergeSpans(deltaGrams
      .join(shared(corpus.pruned("grams", deltaGrams, col("__gh"))),
        Seq("__gh"), "left_semi")
      .select(col("doc_id"), col("pos")), gramTokens)
  }

  /** THE corpus-side threshold of every gram probe and of
    * [[graft.streaming.GramGate]]: (gh, n_docs) counts → the `__gh`
    * of grams in [minCorpusDocs, maxDocsPerGram] corpus docs. The
    * bounds are checked here, before any index is read. */
  private[graft] def sharedGrams(minCorpusDocs: Int, maxDocsPerGram: Int,
      op: String): DataFrame => DataFrame = {
    require(minCorpusDocs >= 1, s"$op: minCorpusDocs $minCorpusDocs < 1")
    require(maxDocsPerGram >= minCorpusDocs,
      s"$op: maxDocsPerGram $maxDocsPerGram < " +
        s"minCorpusDocs $minCorpusDocs — the cap would reject every gram")
    _.filter(col("n_docs") >= minCorpusDocs &&
        col("n_docs") <= maxDocsPerGram)
      .select(col("gh").as("__gh"))
  }

  /** The gram-count index family — the simplest: `grams` = (gh,
    * n_docs) per-gram distinct-corpus-doc COUNTS, partitioned by
    * `__gp = gh mod prefix_partitions` and sorted by gh; meta carries
    * the gram geometry and the committed-run manifest. RAW counts are
    * stored — the probe applies min/cap thresholds at read, so one
    * index serves any (minCorpusDocs, maxDocsPerGram) policy. Reconcile
    * is EXACT BY ADDITIVITY: delta doc ids are disjoint from indexed
    * ids, so a gram's distinct-doc count is the SUM of its per-run
    * counts; the cap is a probe-side threshold, not a storage contract,
    * so no tombstones exist here.
    */
  private[graft] val GramIndex = IndexMaintenance.Family("gram",
    "writeGramIndex", Seq("gram_tokens", "prefix_partitions"),
    "gram geometry and run manifest", IndexMaintenance.Manifest.Runs,
    _ => Seq(IndexMaintenance.Table("grams", Seq("gh"), 8,
      IndexMaintenance.Reconcile.Summed(Seq("gh"), Seq("n_docs")),
      Some("__gp" -> col("gh")))))

  /** The gram family's corpus table — the ONE derivation behind the
    * index build/fold and the inline probe: per-gram distinct-doc
    * counts at the meta's gram width. */
  private def gramRows(df: DataFrame, idCol: String,
      textCol: String)(m: IndexMaintenance.Meta): IndexMaintenance.Delta =
    IndexMaintenance.Delta("grams" ->
      gramPositions(df, idCol, textCol, m.int("gram_tokens"))
        .select(col("__gh").as("gh"), col("doc_id")).distinct()
        .groupBy(col("gh")).agg(count(lit(1)).as("n_docs")))

  /** Materialize the corpus side of [[exactSubstringSpansAgainst]] to
    * parquet ([[GramIndex]]'s layout). Build once per corpus version,
    * probe per ingest batch.
    */
  def writeGramIndex(corpus: DataFrame, idCol: String, textCol: String,
      path: String, gramTokens: Int = 8): Unit = {
    require(gramTokens >= 2, s"writeGramIndex: gramTokens $gramTokens < 2")
    IndexMaintenance.write(corpus.sparkSession, path, GramIndex,
      "gram_tokens" -> gramTokens)(gramRows(corpus, idCol, textCol))
  }

  /** Fold a DELTA of new documents into a persisted [[writeGramIndex]]
    * IN PLACE with O(delta) write bytes: the delta's per-gram
    * distinct-doc counts land as their own run under a fresh `__run`
    * id that the meta — written AFTER the append — commits: a crash
    * between append and commit leaves orphan files every reader
    * filters out, and the retry's fresh id can never merge with them
    * (RecoverySpec pins it). Single-writer still governs (the lock).
    */
  def foldIntoGramIndex(delta: DataFrame, idCol: String, textCol: String,
      indexPath: String): Unit = {
    IndexMaintenance.fold(delta.sparkSession, indexPath, GramIndex,
      "foldIntoGramIndex")(gramRows(delta, idCol, textCol))
    ()
  }

  /** Compact a layered gram index back to ONE sorted run: per-gram
    * counts summed across COMMITTED runs (orphan rows from crashed
    * folds are dropped from disk here), a single-run manifest.
    * Identical probe results before and after.
    */
  def compactGramIndex(s: org.apache.spark.sql.SparkSession,
      indexPath: String, outPath: String): Unit =
    IndexMaintenance.compact(s, indexPath, outPath, GramIndex,
      "compactGramIndex")

  /** [[maintainMinhashIndex]]'s gram-count twin. NOT reader-safe across
    * the swap. */
  def maintainGramIndex(delta: DataFrame, idCol: String, textCol: String,
      indexPath: String,
      compactThreshold: Int =
        IndexMaintenance.DefaultCompactThreshold): Boolean =
    IndexMaintenance.maintain(delta.sparkSession, indexPath, GramIndex,
      "maintainGramIndex", compactThreshold)(
      gramRows(delta, idCol, textCol)).contains(true)

  /** [[exactSubstringSpansAgainst]] probing a PERSISTED
    * [[writeGramIndex]]: the delta's grams derive with the INDEX's own
    * geometry (meta-required), the delta's distinct `__gp` prefixes
    * become an `isin` literal the scan planner turns into partition-
    * directory pruning (decisive for the primary use — an eval set's
    * handful of documents touches a handful of prefixes, never the
    * corpus-wide gram table), layered runs reconcile by per-gram SUM,
    * and the min/cap thresholds apply to the reconciled totals — the
    * one [[gramProbe]]. Output identical to the inline path on the same
    * split (DedupSpec parity; q150 gates fold==rebuild on its oracle
    * hash).
    */
  def exactSubstringSpansAgainstIndex(newDf: DataFrame, idCol: String,
      textCol: String, indexPath: String, minCorpusDocs: Int = 1,
      maxDocsPerGram: Int = 1000): DataFrame = {
    val op = "exactSubstringSpansAgainstIndex"
    val shared = sharedGrams(minCorpusDocs, maxDocsPerGram, op)
    gramProbe(newDf, idCol, textCol,
      IndexMaintenance.Corpus.indexed(newDf.sparkSession, indexPath,
        GramIndex, op), shared)
  }

  /** Transitive near-dup clusters over a pair frame. Output: doc_id,
    * cluster_id (= component min). See ConnectedComponents for rounds.
    */
  def clusters(pairs: DataFrame, leftCol: String = "doc_a",
      rightCol: String = "doc_b"): DataFrame =
    ConnectedComponents.minLabel(pairs, leftCol, rightCol)
      .select(col("id").as("doc_id"), col("cluster_id"))

  /** Quality-aware keeper selection: one row per cluster, keeping the
    * member with the highest score (ties → smallest id), plus the
    * member count. Replaces min-id keeper choice when a quality signal
    * exists (keep the longest/cleanest copy, not the lexically first).
    * One hash-aggregate over the (tiny) cluster assignment — the
    * custom `latest_by` argmax on a (score, -id) struct, so no
    * per-cluster sort or window (built-in max_by's struct buffer would
    * demote the whole aggregation to SortAggregate).
    *
    * @param scored (id, cluster, score) rows — typically [[clusters]]
    *               joined to a quality column.
    */
  def keepersByScore(scored: DataFrame, idCol: String, clusterCol: String,
      scoreCol: String): DataFrame = {
    graft.functions.SketchAggregates.register(scored.sparkSession)
    scored.groupBy(col(clusterCol))
      .agg(
        call_function("latest_by", col(idCol),
          struct(col(scoreCol), -col(idCol))).as("keeper_id"),
        count(lit(1)).as("n_members"),
        max(col(scoreCol)).as("keeper_score"))
  }

  /** Incremental crawl merge with source precedence:
    * preferred ∪ (secondary ∖ content-digests(preferred)) — when the
    * same content exists in both corpora, the preferred copy wins and
    * the secondary copy never enters. The union step of a re-crawl /
    * multi-source ingest, upstream of near-dup passes.
    *
    * Content identity is the md5 digest of the text column — unhex'd
    * to its raw 16 BYTES (Spark's md5() returns a 32-char hex string;
    * joining on that would shuffle and compare 32+ bytes per row) —
    * so the anti-join shuffles 16-byte binary digests plus the
    * secondary payload, co-partitioned on the digest; the preferred
    * corpus contributes only its digest column to the join.
    */
  def unionWithPrecedence(preferred: DataFrame, secondary: DataFrame,
      textCol: String): DataFrame = {
    def dg = unhex(md5(col(textCol).cast("binary")))
    val pd = preferred.select(dg.as("_dg")).distinct()
    preferred.unionByName(
      secondary.withColumn("_dg", dg)
        .join(pd, Seq("_dg"), "left_anti")
        .drop("_dg"))
  }

  /** Corpus-version diff by content digest — the what-changed-between-
    * crawls audit ([[graft.api.EventOps.snapshotDiff]]'s discipline
    * applied to document content): per id, `added` (only in v2),
    * `removed` (only in v1), `changed` (both, digests differ),
    * `unchanged`. Presence is detected by MARKER columns, never
    * payload null-ness (a null text must not read as absence), and
    * identity is the 16-byte raw md5 digest (unhex'd — the
    * [[unionWithPrecedence]] rationale: the join and compare carry 16
    * bytes, not document bodies). One co-partitioned full-outer hash
    * join on the id; `carry` columns come back coalesced v2-first
    * (the newer crawl names the row).
    */
  def corpusDiff(v1: DataFrame, v2: DataFrame, idCol: String,
      textCol: String, carry: Seq[String] = Nil): DataFrame = {
    def side(df: DataFrame, tag: String) =
      df.select(col(idCol) +:
        (carry.map(c => col(c).as(s"${c}__$tag")) ++
          Seq(unhex(md5(col(textCol).cast("binary"))).as(s"_d$tag"),
            lit(true).as(s"_in$tag"))): _*)
    side(v1, "1").join(side(v2, "2"), Seq(idCol), "full_outer")
      .select(col(idCol) +:
        (carry.map(c => coalesce(col(s"${c}__2"), col(s"${c}__1")).as(c)) ++
          Seq(when(col("_in1").isNull, lit("added"))
            .when(col("_in2").isNull, lit("removed"))
            .when(col("_d1") === col("_d2"), lit("unchanged"))
            .otherwise(lit("changed")).as("status"))): _*)
  }

  /** The dedup pipeline's consumable output: the corpus minus every doc
    * appearing as the higher id of a near-dup pair (pair-wise form; use
    * [[clusters]] keepers for chain-exact dedup).
    */
  def dropNearDuplicates(df: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame =
    df.join(broadcast(pairs.select(col("doc_b").as(idCol)).distinct()),
      Seq(idCol), "left_anti")

  /** The three stages of the end-to-end dedup, all reading ONE
    * materialized pair list (see [[pipeline]]).
    */
  case class DedupPipeline(pairs: DataFrame, clusters: DataFrame,
      deduped: DataFrame)

  /** End-to-end dedup with the pair list computed ONCE: the LSH pair
    * scan ([[minhashPairs]]) is materialized to `pairsPath` as sorted
    * parquet, and both consumers — transitive [[clusters]] and the
    * [[dropNearDuplicates]] corpus — read the persisted list instead of
    * re-deriving the whole LSH DAG (what running q37 and q46
    * independently costs). At 100TB the pair list is tiny next to the
    * corpus, so persisting it turns clusters+keepers into two cheap
    * reads; the iterative clustering in particular re-reads its edges
    * once per round, which must never mean one LSH pass per round. The
    * in-file sort by (doc_a, doc_b) gives downstream point-reads
    * row-group pruning, and the keeper anti-join's scan prunes to the
    * single doc_b column (PlanSpec-style assertion in DedupSpec).
    */
  def pipeline(df: DataFrame, idCol: String, textCol: String,
      pairsPath: String, jaccardX1000Threshold: Int = 500,
      maxBucket: Int = DefaultMaxBucket, numFiles: Int = 8): DedupPipeline = {
    graft.jobs.Sinks.layout(
      minhashPairs(df, idCol, textCol, jaccardX1000Threshold, maxBucket),
      pairsPath, partitionCols = Nil, sortCols = Seq("doc_a", "doc_b"),
      numFiles = numFiles)
    val persisted = df.sparkSession.read.parquet(pairsPath)
    DedupPipeline(persisted, clusters(persisted),
      dropNearDuplicates(df, idCol, persisted))
  }

  // ---- content-defined-chunk incremental dedup (the exact-passage ---
  // ---- sibling of the minhash/sign probe family) --------------------

  /** (idCol, extraCols..., `_ch` = distinct CDC chunk hashes) per doc
    * — the shared front end of [[cdcChunkHits]], the index
    * build/probe, AND the streaming gate ([[graft.streaming.CdcGate]]
    * passes its event-time column through `extraCols`), via the fused
    * native `cdc_chunk_hashes` kernel. The null contract lives HERE
    * and only here: null text keeps its row with an empty array.
    */
  private[graft] def cdcChunked(df: DataFrame, idCol: String,
      textCol: String, modulus: Int, window: Int,
      extraCols: Seq[String] = Nil): DataFrame = {
    TextHashExpressions.register(df.sparkSession)
    df.select(col(idCol) +: extraCols.map(col) :+
        split(col(textCol), " ", -1).as("_tk"): _*)
      .withColumn("_ch",
        when(col("_tk").isNotNull,
          expr(s"cdc_chunk_hashes(_tk, $window, $modulus)"))
          .otherwise(expr("cast(array() as array<bigint>)")))
      .select(col(idCol) +: extraCols.map(col) :+ col("_ch"): _*)
  }

  /** Incremental exact-passage dedup: which CDC chunks of a NEW batch
    * already exist anywhere in the corpus — the content-defined twin
    * of [[minhashPairsAgainst]] (doc-level fuzzy) and the passage gate
    * (fixed windows): boundary-shift-robust, exact at chunk
    * granularity. Output per delta doc: idCol, n_chunks, n_hits
    * (chunks present in the corpus's chunk set), hit_x1000.
    *
    * Scale shape: both sides travel as 60-bit chunk hashes (never
    * text); the corpus chunk SET is a distinct over the exploded
    * postings (map-side partial distinct), the delta semi-joins it
    * co-partitioned on the hash, and the per-doc rollup keys the
    * delta id. At 100 TB the corpus side is materialized once by
    * [[writeCdcChunkIndex]] and every batch pays only
    * [[cdcChunkHitsAgainstIndex]]'s O(delta + pruned index scan).
    */
  def cdcChunkHits(newDf: DataFrame, corpus: DataFrame, idCol: String,
      textCol: String, modulus: Int = 64, window: Int = 4): DataFrame =
    cdcProbe(newDf, idCol, textCol,
      IndexMaintenance.Corpus.derived("modulus" -> modulus,
        "window" -> window)(cdcRows(corpus, idCol, textCol)))

  /** The CDC probe, ONE body for both corpus sources: the delta chunks
    * with the corpus's geometry, its chunk postings semi-join the
    * corpus chunk set (pruned to the delta's `__bp` prefixes when the
    * source is an index), and the per-doc rollup keys the delta id.
    * The prefix list re-chunks the delta (map-only, the delta-size
    * contract) rather than pinning it. */
  private def cdcProbe(newDf: DataFrame, idCol: String, textCol: String,
      corpus: IndexMaintenance.Corpus): DataFrame = {
    val delta = cdcChunked(newDf, idCol, textCol, corpus.meta.int("modulus"),
      corpus.meta.int("window"))
    val corpusSet = corpus.pruned("chunks",
        delta.select(explode(col("_ch")).as("_c")), xxhash64(col("_c")))
      .select(col("c").as("_c"))
    val hits = delta.select(col(idCol), explode(col("_ch")).as("_c"))
      .join(corpusSet, Seq("_c"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("_nh"))
    delta.select(col(idCol), size(col("_ch")).cast("long").as("n_chunks"))
      .join(hits, Seq(idCol), "left")
      .withColumn("n_hits", coalesce(col("_nh"), lit(0L)))
      .withColumn("hit_x1000",
        when(col("n_chunks") > 0,
          expr("(n_hits * 1000) div n_chunks")).otherwise(lit(0L)))
      .select(col(idCol), col("n_chunks"), col("n_hits"), col("hit_x1000"))
  }

  /** The CDC index family: `chunks` = the corpus's DISTINCT chunk
    * hashes partitioned by `__bp = xxhash64(c) mod prefix_partitions`
    * and sorted by `c` (the [[MinhashIndex]] layout applied to a plain
    * hash set); meta records prefix_partitions AND the chunking
    * parameters (modulus, window) so a probe chunks with EXACTLY the
    * index's geometry — a CDC probe against an index built with
    * different parameters would be silently meaningless. Reconcile is
    * set union; probes need none at all — the corpus set feeds a
    * duplicate-insensitive `left_semi` join ([[cdcProbe]]), so
    * compaction is pure read-amplification cleanup.
    */
  private[graft] val CdcIndex = IndexMaintenance.Family("CDC",
    "writeCdcChunkIndex", Seq("prefix_partitions", "modulus", "window"),
    "prefix and chunking geometry (modulus, window) and layer count",
    IndexMaintenance.Manifest.Layers,
    _ => Seq(IndexMaintenance.Table("chunks", Seq("c"), 8,
      IndexMaintenance.Reconcile.SetUnion(), Some("__bp" -> xxhash64(col("c"))))))

  /** The CDC family's corpus table — the ONE derivation behind the
    * index build/fold and the inline probe: the distinct chunk hashes
    * at the meta's geometry. */
  private def cdcRows(df: DataFrame, idCol: String,
      textCol: String)(m: IndexMaintenance.Meta): IndexMaintenance.Delta =
    IndexMaintenance.Delta("chunks" ->
      cdcChunked(df, idCol, textCol, m.int("modulus"), m.int("window"))
        .select(explode(col("_ch")).as("c")).distinct())

  /** Materialize the corpus side of [[cdcChunkHitsAgainstIndex]]
    * ([[CdcIndex]]'s layout). */
  def writeCdcChunkIndex(corpus: DataFrame, idCol: String, textCol: String,
      path: String, modulus: Int = 64, window: Int = 4): Unit =
    IndexMaintenance.write(corpus.sparkSession, path, CdcIndex,
      "modulus" -> modulus, "window" -> window)(cdcRows(corpus, idCol, textCol))

  /** Fold a DELTA of new documents into a persisted
    * [[writeCdcChunkIndex]] IN PLACE with O(delta) write bytes: the
    * delta's distinct chunk hashes, chunked with EXACTLY the index's
    * meta geometry, land as their own sorted run. Crash consistency:
    * [[foldIntoMinhashIndex]]'s contract.
    */
  def foldIntoCdcChunkIndex(delta: DataFrame, idCol: String,
      textCol: String, indexPath: String): Unit = {
    IndexMaintenance.fold(delta.sparkSession, indexPath, CdcIndex,
      "foldIntoCdcChunkIndex")(cdcRows(delta, idCol, textCol))
    ()
  }

  /** Fold-and-COMPACT variant: old chunk set ∪ delta chunk set
    * re-distincted into a fresh single-run index at `outPath` —
    * O(index) read and write. Probes identically to a from-scratch
    * build on corpus ∪ delta (DedupSpec parity).
    */
  def foldIntoCdcChunkIndex(delta: DataFrame, idCol: String,
      textCol: String, indexPath: String, outPath: String): Unit =
    IndexMaintenance.foldTo(delta.sparkSession, indexPath, outPath,
      CdcIndex, "foldIntoCdcChunkIndex")(cdcRows(delta, idCol, textCol))

  /** [[maintainMinhashIndex]]'s CDC twin. Returns true when this fold
    * triggered the compaction.
    */
  def maintainCdcChunkIndex(delta: DataFrame, idCol: String,
      textCol: String, indexPath: String,
      compactThreshold: Int =
        IndexMaintenance.DefaultCompactThreshold): Boolean =
    IndexMaintenance.maintain(delta.sparkSession, indexPath, CdcIndex,
      "maintainCdcChunkIndex", compactThreshold)(
      cdcRows(delta, idCol, textCol)).contains(true)

  /** Compact a layered CDC index back to one globally distinct sorted
    * run — pure read-amplification cleanup (layered and compacted
    * indexes probe identically).
    */
  def compactCdcChunkIndex(s: org.apache.spark.sql.SparkSession,
      indexPath: String, outPath: String): Unit =
    IndexMaintenance.compact(s, indexPath, outPath, CdcIndex,
      "compactCdcChunkIndex")

  /** [[cdcChunkHits]] probing a PERSISTED [[writeCdcChunkIndex]]
    * instead of re-chunking the corpus: identical output on the same
    * split (parity-tested), per-batch cost O(delta + pruned index
    * scan). The delta's distinct `__bp` prefixes prune the chunk
    * parquet to the directories its hashes can hit; the `c` sort
    * prunes row groups within them. The meta is REQUIRED — it carries
    * the chunking geometry.
    */
  def cdcChunkHitsAgainstIndex(newDf: DataFrame, idCol: String,
      textCol: String, indexPath: String): DataFrame =
    // a duplicate-insensitive left_semi: layered runs need no reconcile
    cdcProbe(newDf, idCol, textCol,
      IndexMaintenance.Corpus.indexed(newDf.sparkSession, indexPath,
        CdcIndex, "cdcChunkHitsAgainstIndex", reconciled = false))
}
