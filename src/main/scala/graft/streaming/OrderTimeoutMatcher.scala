package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode}

/** F3/J4: order-payment timeout detection — the reference's
  * `OrderPayMatch` KeyedProcessFunction with event-time timers
  * (OrderTimeoutWithoutCep.scala:33-97) and the CEP-with-timeout
  * variant (OrderTimeout.scala:33-45), rebuilt on
  * `flatMapGroupsWithState` + EventTimeTimeout.
  *
  * Outcomes (the 4-label superset, SURVEY.md §2.7 F3):
  *  - "payed successfully"       pay within `timeoutMs` of create
  *  - "payed but already timeout" pay after the deadline
  *  - "payed but no create log"  pay with no/later create
  *  - "order timeout"            create with no pay by watermark deadline
  *
  * State is O(1) per in-flight key and cleared on resolution; the
  * event-time timer is the watermark-driven GroupState timeout — the
  * same mechanism the reference builds from Flink timer services.
  */
/** State for OrderTimeoutMatcher (public: Catalyst codegen). */
case class Pending(createMs: Long, hasCreate: Boolean,
    payMs: Long, hasPay: Boolean)

object OrderTimeoutMatcher {

  private implicit val pendingEnc: org.apache.spark.sql.Encoder[Pending] = Encoders.product[Pending]
  private implicit val outEnc: org.apache.spark.sql.Encoder[OrderOutcome] = Encoders.product[OrderOutcome]
  private implicit val longEnc: org.apache.spark.sql.Encoder[Long] = Encoders.scalaLong

  /** `creates`/`pays` discriminated by eventType ("create" / "pay"). */
  def detect(events: Dataset[StreamEvent], timeoutMs: Long)
      : Dataset[OrderOutcome] = {
    events
      .groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(machine(timeoutMs) _)
  }

  private def resolve(p: Pending, timeoutMs: Long): OrderOutcome = {
    val msg =
      if (!p.hasPay) "order timeout"
      else if (!p.hasCreate || p.payMs < p.createMs) "payed but no create log"
      else if (p.payMs - p.createMs <= timeoutMs) "payed successfully"
      else "payed but already timeout"
    OrderOutcome(0L, if (p.hasCreate) p.createMs else -1L, msg)
  }

  private val NoOrder = Pending(-1L, false, -1L, false)

  /** `p` with the earliest create and the earliest pay of `events`. */
  private def absorb(p: Pending, events: Seq[StreamEvent]): Pending =
    events.foldLeft(p) { (q, e) =>
      if (e.eventType == "create" && (!q.hasCreate || e.tsMs < q.createMs))
        q.copy(createMs = e.tsMs, hasCreate = true)
      else if (e.eventType == "pay" && (!q.hasPay || e.tsMs < q.payMs))
        q.copy(payMs = e.tsMs, hasPay = true)
      else q
    }

  /** Timer at create+timeout (ref :55); lone pays flush at +timeout too. */
  private def deadline(p: Pending, timeoutMs: Long): Long =
    (if (p.hasCreate) p.createMs else p.payMs) + timeoutMs

  private def machine(timeoutMs: Long)(userId: Long,
      events: Iterator[StreamEvent], state: GroupState[Pending])
      : Iterator[OrderOutcome] = {
    if (state.hasTimedOut) {
      val out = state.getOption.map(p => resolve(p, timeoutMs).copy(userId = userId))
      state.remove()
      return out.iterator
    }
    val held = state.getOption
    val batch = events.toSeq
    val p = absorb(held.getOrElse(NoOrder), batch)
    // The watermark passed the held order's deadline before its timeout
    // batch ran (a data batch came first, and Spark rejects a timeout
    // behind the watermark): emit that timeout now; this batch's events,
    // all ahead of the watermark, open the next order — what the
    // timeout batch would have left.
    lazy val expired =
      held.filter(deadline(_, timeoutMs) < state.getCurrentWatermarkMs())
    val (emit, next) =
      // Resolved: emit now, clear state (ref :58-69 match-and-clear).
      if (p.hasCreate && p.hasPay) (Some(p), None)
      else if (expired.isDefined)
        (expired, Some(absorb(NoOrder, batch)).filter(q => q.hasCreate || q.hasPay))
      else (None, Some(p))
    next match {
      case Some(q) =>
        state.update(q)
        state.setTimeoutTimestamp(deadline(q, timeoutMs))
      case None => state.remove()
    }
    emit.map(o => resolve(o, timeoutMs).copy(userId = userId)).iterator
  }
}
