package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming LM quality gate — score a continuous document stream
  * against a STATIC pre-trained [[graft.api.TextOps.bigramLmModel]]
  * frame, in ONE streaming graph (no foreachBatch escape hatch):
  *
  *   - the per-doc bigram rollup is the same map-only native
  *     `bigram_counts` explode the batch scorer uses (stateless
  *     Generate);
  *   - the model joins are STREAM-STATIC left joins (stateless by
  *     construction — the static side is the persisted
  *     vocabulary-sized model parquet, re-read per micro-batch);
  *     the corpus vocabulary V is read off the static model at graph
  *     BUILD time and enters the plan as a literal, so no stream-
  *     static cross join is needed;
  *   - the per-doc re-aggregation is a WINDOWED streaming aggregate
  *     keyed (window(ts), doc_id): state is one partial row per
  *     in-watermark doc, emitted on window close in append mode —
  *     watermark-bounded, never corpus-bounded;
  *   - docs under 2 tokens (including null text, the batch ANSI
  *     contract) bypass the aggregate and union in as immediate
  *     keep=true rows.
  *
  * Same quantized integer arithmetic as the batch scorer, so a doc
  * scores IDENTICALLY streaming and batch (StreamingSpec parity).
  * This is the streaming half of the q91 deployment: train once per
  * corpus version (batch, persisted), gate the ingest stream against
  * it continuously.
  *
  * Output: idCol, window_end, n_bigrams, sum_q2, keep (append mode).
  */
object LmGate {

  def score(docs: DataFrame, idCol: String, textCol: String,
      tsCol: String, delay: String, window: String, model: DataFrame,
      keepAvgQx1000: Long = -9000L): DataFrame = {
    graft.GraftExtensions.register(docs.sparkSession)
    // V is a property of the static model — one driver-side read at
    // build time (the model is vocabulary-sized parquet, this is a
    // 1-row max), entering the plan as a literal
    val v = model.agg(max(col("v"))).head().getLong(0)
    val m2 = model.select(col("w1").as("_w1"), col("w2").as("_w2"),
      col("c2").as("_c2"))
    val m1 = model.select(col("w1").as("_w1"), col("c1").as("_c1")).distinct()

    val toks = Watermark.on(docs, tsCol, delay).select(col(idCol), col(tsCol),
        split(col(textCol), " ", -1).as("_toks"))
      .withColumn("_m", coalesce(size(col("_toks")), lit(-1)))

    def fl2(c: org.apache.spark.sql.Column) = (length(bin(c)) - 1).cast("long")
    val scored = toks.filter(col("_m") >= 2)
      .select(col(idCol), col(tsCol),
        explode(expr("bigram_counts(_toks)")).as("_p"))
      .select(col(idCol), col(tsCol), col("_p.w1").as("_w1"),
        col("_p.w2").as("_w2"), col("_p.n").as("_n"))
      .join(m2, Seq("_w1", "_w2"), "left")
      .join(broadcast(m1), Seq("_w1"), "left")
      .select(col(idCol), col(tsCol),
        (col("_n") * (fl2(coalesce(col("_c2"), lit(0L)) + 1) -
          fl2(coalesce(col("_c1"), lit(0L)) + lit(v)))).as("_q"),
        col("_n"))
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window),
        col(idCol))
      .agg(sum(col("_q")).as("sum_q2"), sum(col("_n")).as("n_bigrams"))
      .select(col(idCol), col("window.end").as("window_end"),
        col("n_bigrams"), col("sum_q2"))
    // same windowed-aggregate shape as the scored branch so late
    // short/null-text rows are watermark-dropped uniformly
    val short = toks.filter(col("_m") < 2)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window),
        col(idCol))
      .agg(count(lit(1)).as("_n"))
      .select(col(idCol), col("window.end").as("window_end"),
        lit(0L).as("n_bigrams"), lit(0L).as("sum_q2"))
    scored.unionByName(short)
      .withColumn("keep",
        col("n_bigrams") === 0 ||
          col("sum_q2") * 1000 >= lit(keepAvgQx1000) * col("n_bigrams"))
  }
}
