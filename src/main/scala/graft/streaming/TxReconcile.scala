package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode}

/** J2/F5: dual-stream reconciliation — the reference's `TxPayMatch`
  * CoProcessFunction over connected keyed streams with one ValueState
  * per side and ±5s flush timers (TxMacthDetect.scala:42-98), rebuilt
  * as a union of tagged events + one `flatMapGroupsWithState`.
  *
  * The two hash exchanges converging on one stateful operator in the
  * reference become a single exchange on the unioned stream — same
  * co-location guarantee, one fewer shuffle.
  *
  * Output tags: "matched" (both sides seen), "unmatched_pay" /
  * "unmatched_receipt" (other side missing when the event-time timer
  * fires) — the reference's main + two side outputs as one tagged
  * stream (side-output convention, SURVEY.md §4.2 item 4).
  */
/** State for TxReconcile (public: Catalyst codegen). */
case class SideState(payId: Long, payMs: Long, hasPay: Boolean,
    receiptId: Long, receiptMs: Long, hasReceipt: Boolean)

object TxReconcile {

  private implicit val sideEnc: org.apache.spark.sql.Encoder[SideState] = Encoders.product[SideState]
  private implicit val outEnc: org.apache.spark.sql.Encoder[TxResult] = Encoders.product[TxResult]
  private implicit val strEnc: org.apache.spark.sql.Encoder[String] = Encoders.STRING

  def reconcile(events: Dataset[TxEvent], toleranceMs: Long)
      : Dataset[TxResult] = {
    events
      .groupByKey(_.txKey)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(machine(toleranceMs) _)
  }

  private def machine(toleranceMs: Long)(txKey: String,
      events: Iterator[TxEvent], state: GroupState[SideState])
      : Iterator[TxResult] = {
    if (state.hasTimedOut) {
      val out = state.getOption.map { s =>
        if (s.hasPay) TxResult(txKey, "unmatched_pay", s.payId, -1L)
        else TxResult(txKey, "unmatched_receipt", -1L, s.receiptId)
      }
      state.remove()
      return out.iterator
    }
    var s = state.getOption.getOrElse(
      SideState(-1L, -1L, false, -1L, -1L, false))
    val out = Seq.newBuilder[TxResult]
    events.toSeq.sortBy(e => (e.tsMs, e.eventId)).foreach { e =>
      if (e.side == 0) { s = s.copy(payId = e.eventId, payMs = e.tsMs, hasPay = true) }
      else { s = s.copy(receiptId = e.eventId, receiptMs = e.tsMs, hasReceipt = true) }
      if (s.hasPay && s.hasReceipt) {
        out += TxResult(txKey, "matched", s.payId, s.receiptId)
        s = SideState(-1L, -1L, false, -1L, -1L, false)
      }
    }
    if (s.hasPay || s.hasReceipt) {
      state.update(s)
      val base = if (s.hasPay) s.payMs else s.receiptMs
      state.setTimeoutTimestamp(base + toleranceMs)
    } else {
      state.remove()
    }
    out.result().iterator
  }
}
