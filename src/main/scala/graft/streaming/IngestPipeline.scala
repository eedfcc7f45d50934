package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType, TimestampType}

/** The COMPOSED continuous-ingest graph — the production shape that the
  * individually-proven pieces exist for, wired as ONE streaming query:
  *
  *   jsonl drop-dir source        (Sources.jsonlStream — the crawler
  *                                 handoff format, explicit schema)
  *   → per-source horizon quota   (QuotaCap.firstNPerKeyWithinHorizonTws
  *                                 — no domain floods an ingest window;
  *                                 stateful op #1, transformWithState
  *                                 with an event-time purge timer)
  *   → exact content dedup        (Dedup.firstPerKey on the md5 digest —
  *                                 byte-identical re-crawls drop before
  *                                 paying LSH; stateful op #2,
  *                                 dropDuplicatesWithinWatermark)
  *   → corpus near-dup probe      (NearDupIngest.pairs — bands map-only,
  *                                 stream-static join against the capped
  *                                 bucket index, within-watermark pair
  *                                 dedup; stateful op #3)
  *   → append sink                (pairs; a doc_new appearing IS the
  *                                 drop decision for the ingest sink)
  *
  * Spark 4 runs this as one query graph: every stateful operator is in
  * append mode (dedup/fMGWS states chain under the
  * multi-stateful-operator support). StreamingSpec proves the
  * composition end-to-end against a batch-computed oracle of the same
  * semantics, including a checkpointed kill-and-restart mid-stream.
  *
  * STATEFUL-OPERATOR POLICY of the streaming layer (stated once, here):
  *  - `flatMapGroupsWithState` is the implementation of every stateful
  *    contract (SequenceMatch, OrderTimeoutMatcher, TxReconcile,
  *    QuotaCap, Cep); it runs on the default and the RocksDB state
  *    store alike.
  *  - `transformWithState` is used only where a downstream stateful
  *    operator needs the operator's output event-time column — the
  *    horizon quota in front of this pipeline's dedup states
  *    ([[QuotaCap.firstNPerKeyWithinHorizonTws]]). A fMGWS output
  *    carries no event-time column, so a downstream
  *    `dropDuplicatesWithinWatermark` would have no watermark to run
  *    against; tws declares `ts` as its output event time, so the
  *    source watermark propagates (Spark checks at runtime that emitted
  *    rows are not behind it, which holds: the quota emits only
  *    current-batch rows). It needs the RocksDB state store.
  *  - Watermarks: an upstream watermark on `tsCol` is inherited, and a
  *    gate's `delay` then serves only its own horizon; without one the
  *    gate declares `withWatermark(tsCol, delay)` itself
  *    ([[Watermark.on]] — Spark rejects a re-declaration after a
  *    stateful operator, and a within-watermark dedup needs one).
  *
  * Scale notes: state is one counter per ACTIVE source (quota), one
  * 16-byte digest per in-watermark doc (exact dedup), one pair key per
  * in-watermark candidate (probe dedup) — all watermark- or
  * active-set-bounded; the corpus index is the one static O(corpus)
  * artifact, persisted once per corpus version.
  */
object IngestPipeline {

  /** The drop-dir contract: one JSON object per line. */
  val DropSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("source", StringType), StructField("at", TimestampType)))

  /** The one-graph pipeline. Emits verified (doc_new, doc_old,
    * jaccard_x1000) pairs in append mode; `capPerSource`/`horizon`
    * configure the quota gate, `delay` the dedup/probe watermarks.
    */
  def pairs(spark: SparkSession, dropDir: String,
      corpus: NearDupIngest.CorpusIndex, capPerSource: Int,
      horizon: String, delay: String,
      jaccardX1000Threshold: Int = 500): DataFrame = {
    import spark.implicits._
    // ONE watermark declaration for the whole chain (multi-stateful
    // rule: re-declaring downstream fails the query; Spark propagates
    // this one through every stateful op). `delay` bounds all
    // downstream dedup state; the quota's idle horizon rides the same
    // propagated watermark.
    val docs = graft.jobs.Sources.jsonlStream(spark, dropDir, DropSchema)
      .withWatermark("at", delay)
    val admitted = QuotaCap.firstNPerKeyWithinHorizonTws(
      docs.select(col("source").as("key"), col("doc_id").as("docId"),
        col("text").as("payload"), col("at").as("ts")).as[KeyedDoc],
      capPerSource, horizon)
    // exact dedup ACROSS sources by content digest: state is the digest,
    // never the payload; first arrival (in batch order) survives. Raw
    // dropDuplicatesWithinWatermark — the Dedup.firstPerKey wrapper
    // would re-declare the watermark
    val exact = admitted.toDF()
      .withColumn("sig", md5(col("payload").cast("binary")))
      .dropDuplicatesWithinWatermark("sig")
    NearDupIngest.pairs(
      exact.select(col("docId").as("doc_id"), col("payload").as("text"),
        col("ts")),
      "doc_id", "text", "ts", delay, corpus, jaccardX1000Threshold)
  }

  /** The FULL curation stack as ONE streaming query — every scoring
    * gate this library ships, fused behind the [[pairs]] admission
    * prefix:
    *
    *   jsonl drop-dir → per-source quota (tws) → exact dedup
    *   → ONE tagged row expansion → guarded stream-static joins
    *   → ONE windowed aggregate → stateless verdict projection
    *
    * emitting one verdict row per admitted, exact-unique doc per
    * window: near-dup flag vs the LSH corpus index, CDC chunk-overlap
    * ratio vs the persisted chunk index, bigram-LM quality keep vs a
    * static model, NB classifier prediction vs a static model, and
    * the composed `keep`.
    *
    * Why ONE linear chain and not one branch per gate: a streaming
    * DataFrame referenced by several union branches is PLANNED ONCE
    * PER BRANCH — each branch gets its own quota/dedup state stores,
    * and `dropDuplicatesWithinWatermark` keeps whichever duplicate
    * its instance happens to see first (shuffle fetch order), so two
    * branches can pick DIFFERENT survivors of the same content
    * digest and the per-doc outputs silently mix two universes. The
    * tagged-union expansion keeps every stateful operator
    * single-instance: each doc expands (statelessly, one generator)
    * into tagged rows — one base/presence row, one row per CDC chunk
    * (tag 1), per distinct bigram (tag 2), per token occurrence
    * (tag 3), per LSH band (tag 4) — every gate's stream-static
    * model join is guarded by its tag, and one windowed aggregate
    * keyed (window, doc) folds all verdict inputs at once. Per-class
    * NB contributions are computed per ROW before the aggregate
    * (NbStats.contribCols), so non-classifier rows contribute exact
    * zeros.
    *
    * Exactly 3 stateful operators (quota tws, digest dedup, windowed
    * agg) — same chain length as [[pairs]], RocksDB required by the
    * tws stage. `nd_hit` is a FLAG (any verified >= threshold corpus
    * pair), not a pair count: band multiplicity can emit the same
    * candidate pair up to Bands times and a streaming aggregate
    * cannot count distinct, so the contract is max(), which is
    * multiplicity-independent. Pair DETAIL remains [[pairs]]'s job.
    *
    * Scale notes: the models (bigram LM, pivoted NB) enter as
    * broadcast joins — vocabulary-sized, no stream shuffle; the two
    * corpus-sized sides (CDC chunk set, LSH buckets + verify hashes)
    * are shuffle stream-static joins, so the expanded stream crosses
    * the wire for them plus once for the aggregate. At 100 TB, if
    * those three shuffles of the tagged stream dominate, the
    * decomposition is operational, not architectural: feed the
    * admitted+deduped stream to a bus once and run the corpus-join
    * gates as separate consumers — the per-gate logic is THIS code
    * unchanged (each gate object runs standalone).
    *
    * Output (append): doc_id, window_end, n_chunks, n_hits,
    * hit_x1000, n_bigrams, sum_q2, lm_keep, nd_hit, predicted,
    * score, keep.
    */
  def curated(spark: SparkSession, dropDir: String,
      corpus: NearDupIngest.CorpusIndex, cdcIndexPath: String,
      lmModel: DataFrame, nbModel: DataFrame,
      capPerSource: Int, horizon: String, delay: String, window: String,
      keepAvgQx1000: Long, cdcMaxHitX1000: Long = 500,
      jaccardX1000Threshold: Int = 500): DataFrame = {
    import spark.implicits._
    import graft.functions.TextHashing.{P, Bands, RowsPerBand, minhash}
    graft.functions.TextHashExpressions.register(spark)

    // ---- static model state, read driver-side at graph build time ----
    val st = graft.api.ClassifyOps.nbStats(nbModel)
    val pivoted = graft.api.ClassifyOps.nbPivoted(nbModel, st)
      .select(col("w").as("_pw") +:
        st.classes.indices.map(i => col(s"_cw$i")): _*)
    val cdcMeta = graft.api.IndexMaintenance.readMeta(spark, cdcIndexPath,
      graft.api.DedupOps.CdcIndex, "IngestPipeline")
    val (cdcMod, cdcW) = (cdcMeta.int("modulus"), cdcMeta.int("window"))
    val chunkIdx = graft.api.IndexMaintenance.read(spark, cdcIndexPath,
        graft.api.DedupOps.CdcIndex, cdcMeta, "chunks", "IngestPipeline",
        reconciled = false)
      .select(col("c").as("_ic"), lit(1L).as("_cdchit"))
    val lmV = lmModel.agg(max(col("v"))).head().getLong(0)
    val m2 = lmModel.select(col("w1").as("_mw1"), col("w2").as("_mw2"),
      col("c2").as("_mc2"))
    val m1 = lmModel.select(col("w1").as("_mw1"), col("c1").as("_mc1"))
      .distinct()

    // ---- admission prefix: identical to [[pairs]] ----
    val docs = graft.jobs.Sources.jsonlStream(spark, dropDir, DropSchema)
      .withWatermark("at", delay)
    val admitted = QuotaCap.firstNPerKeyWithinHorizonTws(
      docs.select(col("source").as("key"), col("doc_id").as("docId"),
        col("text").as("payload"), col("at").as("ts")).as[KeyedDoc],
      capPerSource, horizon)
    val exact = admitted.toDF()
      .withColumn("sig", md5(col("payload").cast("binary")))
      .dropDuplicatesWithinWatermark("sig")
      .select(col("docId").as("doc_id"), col("payload").as("text"),
        col("ts"))

    // ---- ONE stateless tagged expansion (single generator). The
    // base/chunk/bigram/token rows come from the fused native
    // `curation_rows` kernel — one codegen'd pass per doc, not three
    // interpreted transform lambdas (the q22 lesson); only the 4 band
    // structs are built in-plan (they derive from minhash16, a
    // different input, and are a static unroll — no HOF either). Null
    // text keeps its presence row via the otherwise branch. ----
    val sNull = "cast(null as string)"
    val baseOnly = s"array(named_struct('t', 0, 'w1', $sNull, " +
      s"'w2', $sNull, 'n', 0L, 'c', 0L, 'band', -1, 'bkey', $sNull))"
    val tagged = exact
      .select(col("doc_id"), col("ts"), split(col("text"), " ", -1).as("_tk"))
      .withColumn("hs", when(coalesce(size(col("_tk")), lit(-1)) >= 3,
          expr(s"shingle_hashes(_tk, 3, $P)"))
        // typedLit keeps containsNull=false, which minhash16 requires
        // (a cast-empty-array literal would widen the CASE's type)
        .otherwise(typedLit(Array.empty[Long])))
      .withColumn("__mh", minhash(col("hs")))
      .withColumn("_bands", when(size(col("hs")) >= 1,
          array((0 until Bands).map { b =>
            struct(lit(4).as("t"), lit(null).cast("string").as("w1"),
              lit(null).cast("string").as("w2"), lit(0L).as("n"),
              lit(0L).as("c"), lit(b).as("band"),
              concat_ws(":", (0 until RowsPerBand).map(r =>
                element_at(col("__mh"), b * RowsPerBand + r + 1)): _*)
                .as("bkey"))
          }: _*))
        .otherwise(expr("cast(array() as array<struct<t:int,w1:string," +
          "w2:string,n:bigint,c:bigint,band:int,bkey:string>>)")))
      .withColumn("_all", concat(
        when(col("_tk").isNotNull,
            expr(s"curation_rows(_tk, $cdcW, $cdcMod)"))
          .otherwise(expr(baseOnly)),
        col("_bands")))
    val rows = tagged
      .select(col("doc_id"), col("ts"), col("hs"), explode(col("_all")).as("e"))
      .select(col("doc_id"), col("ts"),
        when(col("e.t") === 4, col("hs")).as("hs_new"),
        col("e.t").as("_t"), col("e.w1").as("_w1"), col("e.w2").as("_w2"),
        col("e.n").as("_n"), col("e.c").as("_c"),
        col("e.band").as("band"), col("e.bkey").as("bkey"))

    // ---- guarded stream-static joins (models broadcast; corpus
    // sides shuffle) ----
    def fl2(c: org.apache.spark.sql.Column) = (length(bin(c)) - 1).cast("long")
    val joined = rows
      .join(broadcast(m2),
        col("_t") === 2 && col("_w1") === col("_mw1") &&
          col("_w2") === col("_mw2"), "left")
      .join(broadcast(m1.withColumnRenamed("_mw1", "_hw1")),
        col("_t") === 2 && col("_w1") === col("_hw1"), "left")
      .join(broadcast(pivoted),
        col("_t") === 3 && col("_w1") === col("_pw"), "left")
      .join(chunkIdx, col("_t") === 1 && col("_c") === col("_ic"), "left")
      .join(corpus.buckets.withColumnRenamed("band", "_ib")
          .withColumnRenamed("bkey", "_ik"),
        col("_t") === 4 && col("band") === col("_ib") &&
          col("bkey") === col("_ik"), "left")
      .select(Seq(col("doc_id"), col("ts"), col("hs_new"), col("_t"),
        col("_n"), col("_mc2"), col("_mc1"), col("_cdchit"),
        explode_outer(col("__cs")).as("doc_old")) ++
          st.classes.indices.map(i => col(s"_cw$i")): _*)
      .join(corpus.hashed.withColumnRenamed("doc_old", "_vid"),
        col("_t") === 4 && col("doc_old") === col("_vid"), "left")
      .withColumn("_jac", when(col("_t") === 4 && col("hs_old").isNotNull,
        expr("(cast(size(array_intersect(hs_new, hs_old)) as bigint) " +
          "* 1000) div cast(size(array_distinct(concat(hs_new, hs_old)))" +
          " as bigint)")))

    // ---- per-row verdict inputs, then ONE windowed aggregate ----
    val contribs = joined
      .select(Seq(col("doc_id"), col("ts"),
        when(col("_t") === 1, lit(1L)).otherwise(lit(0L)).as("_vnch"),
        when(col("_t") === 1, coalesce(col("_cdchit"), lit(0L)))
          .otherwise(lit(0L)).as("_vnhit"),
        when(col("_t") === 2, col("_n")).otherwise(lit(0L)).as("_vlmn"),
        when(col("_t") === 2,
            col("_n") * (fl2(coalesce(col("_mc2"), lit(0L)) + 1) -
              fl2(coalesce(col("_mc1"), lit(0L)) + lit(lmV))))
          .otherwise(lit(0L)).as("_vlmq"),
        when(col("_t") === 4 &&
            coalesce(col("_jac"), lit(-1L)) >= jaccardX1000Threshold,
          lit(1L)).otherwise(lit(0L)).as("_vnd")) ++
        st.classes.indices.map(i =>
          when(col("_t") === 3, st.contribCols(i)).otherwise(lit(0L))
            .as(s"_q$i")): _*)
    val win = org.apache.spark.sql.functions.window(col("ts"), window)
    val aggs = Seq(sum(col("_vnch")).as("n_chunks"),
      sum(col("_vnhit")).as("n_hits"),
      sum(col("_vlmn")).as("n_bigrams"), sum(col("_vlmq")).as("sum_q2"),
      max(col("_vnd")).as("nd_hit")) ++
      st.classes.indices.map(i => sum(col(s"_q$i")).as(s"_s$i"))
    val rolled = contribs.groupBy(win, col("doc_id"))
      .agg(aggs.head, aggs.tail: _*)

    val (best, predicted) = st.bestAndPredicted
    rolled
      .withColumn("hit_x1000", when(col("n_chunks") > 0,
        expr("(n_hits * 1000) div n_chunks")).otherwise(lit(0L)))
      .withColumn("lm_keep", col("n_bigrams") === 0 ||
        col("sum_q2") * 1000 >= lit(keepAvgQx1000) * col("n_bigrams"))
      .select(col("doc_id"), col("window.end").as("window_end"),
        col("n_chunks"), col("n_hits"), col("hit_x1000"),
        col("n_bigrams"), col("sum_q2"), col("lm_keep"), col("nd_hit"),
        predicted.as("predicted"), best.as("score"),
        (col("nd_hit") === 0 && col("lm_keep") &&
          col("hit_x1000") < lit(cdcMaxHitX1000)).as("keep"))
  }
}
