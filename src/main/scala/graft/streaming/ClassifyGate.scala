package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.ClassifyOps

/** Streaming classifier gate — predict a class for every document on
  * a continuous stream against a STATIC pre-trained
  * [[graft.api.ClassifyOps.nbModel]] frame, in ONE streaming graph
  * (the [[LmGate]] architecture, applied to the supervised filter):
  *
  *   - class list, priors, and per-class denominators are read off
  *     the static model at graph BUILD time and enter the plan as
  *     literals (class-count-sized — the LmGate literal-v precedent);
  *   - the token explode is stateless (Generate), the pivoted
  *     vocabulary model is a STREAM-STATIC broadcast left join
  *     (re-read per micro-batch, stateless by construction);
  *   - the per-doc per-class rollup is a WINDOWED streaming aggregate
  *     keyed (window(ts), doc): one partial row per in-watermark doc,
  *     emitted on window close in append mode — watermark-bounded
  *     state, never corpus-bounded;
  *   - null-text docs union in with the prior-only prediction through
  *     their OWN windowed aggregate (the batch ANSI row-preservation
  *     contract), so late null-text rows are watermark-dropped
  *     exactly like late token-ful rows.
  *
  * The scoring arithmetic is the SAME `NbStats` machinery the batch
  * scorer uses, so a doc classifies identically streaming and batch
  * (ClassifySpec parity).  Deployment: train once per corpus version
  * (batch, persisted parquet), gate the ingest stream continuously —
  * the supervised sibling of the LmGate perplexity filter.
  *
  * [[graft.api.ClassifyOps.centroidClassify]] needs no gate: its plan
  * is map-only (model as literals), so the SAME function applied to a
  * streaming frame is already a valid stateless streaming stage
  * (ClassifySpec proves stream/batch parity directly on it).
  *
  * Output: idCol, window_end, predicted, score (append mode).
  */
object ClassifyGate {

  def nbGate(docs: DataFrame, idCol: String, textCol: String,
      tsCol: String, delay: String, window: String,
      model: DataFrame): DataFrame = {
    val st = ClassifyOps.nbStats(model)
    val pivoted = ClassifyOps.nbPivoted(model, st)

    val toks = Watermark.on(docs, tsCol, delay).select(col(idCol), col(tsCol),
        split(col(textCol), " ", -1).as("_toks"))
      .withColumn("_m", coalesce(size(col("_toks")), lit(-1)))

    val win = org.apache.spark.sql.functions.window(col(tsCol), window)
    val aggs = st.rollupAggs
    val perClass = toks.filter(col("_m") >= 1)
      .select(col(idCol), col(tsCol), explode(col("_toks")).as("_w"))
      .join(broadcast(pivoted), col("_w") === pivoted("w"), "left")
      .groupBy(win, col(idCol))
      .agg(aggs.head, aggs.tail: _*)
    val (best, predicted) = st.bestAndPredicted
    val scored = perClass.select(col(idCol),
      col("window.end").as("window_end"),
      predicted.as("predicted"), best.as("score"))

    val (nc, np) = st.nullPrediction
    // same windowed-aggregate shape as the scored branch so late
    // null-text rows are watermark-dropped uniformly (and duplicate
    // ids collapse per (window, id) exactly as the scored branch does)
    val nulls = toks.filter(col("_m") < 1)
      .groupBy(win, col(idCol))
      .agg(count(lit(1)).as("_n"))
      .select(col(idCol), col("window.end").as("window_end"),
        lit(nc).as("predicted"), lit(np).as("score"))
    scored.unionByName(nulls)
  }
}
