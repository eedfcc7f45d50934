package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode}

/** F1/J3: consecutive-failure detector — the reference's
  * `LoginWarning` KeyedProcessFunction (LoginFail.scala:51-105) and its
  * CEP twin `fail next fail within N` (LoginFailWithCep.scala:28-36),
  * rebuilt as a `flatMapGroupsWithState` state machine.
  *
  * Semantics: for each key, every adjacent (in event time) pair of
  * "fail" events no more than `gapMs` apart emits a warning. Strict
  * contiguity (CEP `next`) holds because only fail events are fed in.
  *
  * Scale: state is O(1) per key (last fail only); the single shuffle is
  * the groupByKey hash exchange — identical boundary structure to the
  * reference's keyBy (SURVEY.md §3).
  */
/** State for SequenceMatch: the last fail seen per key (public: Catalyst
  * codegen instantiates it). */
case class LastFail(eventId: Long, tsMs: Long)

object SequenceMatch {

  private implicit val lastFailEnc: org.apache.spark.sql.Encoder[LastFail] = Encoders.product[LastFail]
  private implicit val warnEnc: org.apache.spark.sql.Encoder[FailWarning] = Encoders.product[FailWarning]
  private implicit val longEnc: org.apache.spark.sql.Encoder[Long] = Encoders.scalaLong

  def consecutiveFails(fails: Dataset[StreamEvent], gapMs: Long)
      : Dataset[FailWarning] = {
    fails
      .groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(detect(gapMs) _)
  }

  private def detect(gapMs: Long)(userId: Long, events: Iterator[StreamEvent],
      state: GroupState[LastFail]): Iterator[FailWarning] = {
    // Within a micro-batch events are unordered; event-time order is the
    // reference's parallelism-1 total order (SURVEY.md §1.1).
    val sorted = events.toSeq.sortBy(e => (e.tsMs, e.eventId))
    var last = state.getOption
    val out = Seq.newBuilder[FailWarning]
    sorted.foreach { e =>
      last.foreach { lf =>
        if (e.tsMs - lf.tsMs <= gapMs && e.tsMs >= lf.tsMs)
          out += FailWarning(userId, lf.eventId, e.eventId, lf.tsMs, e.tsMs)
      }
      last = Some(LastFail(e.eventId, e.tsMs))
    }
    last.foreach(state.update)
    out.result().iterator
  }
}
