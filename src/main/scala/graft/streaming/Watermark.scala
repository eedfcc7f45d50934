package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark

/** The streaming layer's one watermark rule (policy in
  * [[IngestPipeline]]'s Scaladoc): every gate and stateful operator
  * that needs a watermark on `tsCol` gets it through [[on]].
  */
private[streaming] object Watermark {

  /** `ds` with a watermark on `tsCol`: the upstream one when the column
    * already carries `spark.watermarkDelayMs` metadata (Spark rejects a
    * re-declared watermark after a stateful operator, so `delay` then
    * only sizes the caller's own horizon), else `withWatermark(tsCol,
    * delay)`. The metadata rides aliases, typed views, stream-static
    * joins, explode, `dropDuplicatesWithinWatermark` and a
    * transformWithState event-time output; a flatMapGroupsWithState
    * output drops it, so the stage after one declares afresh.
    */
  def on[T](ds: Dataset[T], tsCol: String, delay: String): Dataset[T] =
    if (ds.schema.exists(f => f.name.equalsIgnoreCase(tsCol) &&
        f.metadata.contains(EventTimeWatermark.delayKey))) ds
    else ds.withWatermark(tsCol, delay)
}
