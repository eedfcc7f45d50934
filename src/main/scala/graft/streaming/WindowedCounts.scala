package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Streaming twins of the windowed-aggregation queries (W1-W7 +
  * R1/R2): watermarked event-time windows with incremental state, and
  * the per-window top-N finisher.
  */
object WindowedCounts {

  /** W1-analog: sliding event-time count per key. Append mode emits a
    * (window, key, cnt) row once the watermark passes window end —
    * the reference's window-close firing (HotItems.scala:53-55).
    */
  def slidingCount(events: DataFrame, tsCol: String, keyCol: String,
      duration: String, slide: String, watermarkDelay: String): DataFrame =
    slidingCountKeys(events, tsCol, Seq(keyCol), duration, slide,
      watermarkDelay)

  /** [[slidingCount]] for any number of key columns — including zero
    * (global counts) and composite keys: the streaming twins of
    * Jobs.marketingByChannel (channel, behavior), Jobs.marketingTotal
    * (no key), and Jobs.adClicksByProvince. The batch side uses the
    * two-level SlidingCounts shape; here the per-window Expand is the
    * correct form — it feeds incremental per-(window, keys) state.
    * Output: window_end (epoch sec), keyCols..., cnt.
    */
  def slidingCountKeys(events: DataFrame, tsCol: String,
      keyCols: Seq[String], duration: String, slide: String,
      watermarkDelay: String): DataFrame = {
    // same caller-name contract as the batch twin (SlidingCounts):
    // window_end and cnt are the fixed output names, __wc_w the
    // working alias — collide loudly here, not ambiguously downstream
    require(keyCols.size == keyCols.distinct.size &&
        keyCols.forall(n =>
          n != "window_end" && n != "cnt" && !n.startsWith("__wc_")),
      s"slidingCountKeys: key columns $keyCols must be distinct and may " +
        "not use the reserved names window_end, cnt, or __wc_*")
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), duration, slide).as("__wc_w") +:
        keyCols.map(col): _*)
      .agg(count(lit(1)).as("cnt"))
      .select(unix_timestamp(col("__wc_w.end")).as("window_end") +:
        (keyCols.map(col) :+ col("cnt")): _*)
  }

  /** R1/R2-analog: grouped top-N over closed windows. Streaming can't
    * rank inside an append-mode agg, so the rank runs per micro-batch
    * in foreachBatch — the Spark-idiomatic form of the reference's
    * windowEnd-keyed TopN process function (HotItems.scala:111-155).
    * Returns the rank transform to apply inside foreachBatch.
    */
  def topNPerWindow(n: Int, keyCol: String)(batch: DataFrame): DataFrame =
    batch.withColumn("rn", row_number().over(
        Window.partitionBy(col("window_end"))
          .orderBy(col("cnt").desc, col(keyCol).asc)).cast("long"))
      .filter(col("rn") <= n)

  /** R1 streaming-NATIVE top-N: ranked rows come out of the aggregate
    * itself, not a per-micro-batch rank. Two chained event-time
    * aggregations (count per (window,key), then a bounded topk_agg per
    * window) — Spark's multiple-stateful-operator support emits the
    * final ranked rows once the watermark closes the window, which IS
    * the reference's windowEnd-timer firing (HotItems.scala:111-155).
    * State per window is k entries in the final agg; partials ship <= k
    * entries per mapper.
    */
  def topNStreaming(events: DataFrame, tsCol: String, keyCol: String,
      duration: String, slide: String, watermarkDelay: String,
      n: Int): DataFrame = {
    graft.GraftExtensions.register(events.sparkSession)
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), duration, slide), col(keyCol))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("window"))
      // call_function, not an expr string: caller key columns with
      // spaces/dots/reserved words must resolve as identifiers
      .agg(call_function("topk_agg", lit(n), col("cnt"), col(keyCol)).as("top"))
      .select(unix_timestamp(col("window.end")).as("window_end"),
        explode(col("top")).as("e"))
      .select(col("window_end"), col("e.key").as(keyCol),
        col("e.cnt").as("cnt"), col("e.rn").as("rn"))
  }

  /** K2-analog side-output convention: split one tagged stream into
    * per-tag sinks inside a single foreachBatch pass (SURVEY.md §4.2
    * item 4). The batch is cached once so N sinks don't recompute the
    * lineage N times.
    */
  def splitByTag[T](tags: Seq[String], tagCol: String)(
      sink: (String, DataFrame) => Unit)(batch: DataFrame, id: Long): Unit = {
    batch.persist()
    try tags.foreach(t => sink(t, batch.filter(col(tagCol) === t)))
    finally batch.unpersist()
  }
}
