package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState,
  GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode,
  TimerValues, ValueState}

/** Streaming per-key quota — the unbounded twin of the q84 capability
  * (SampleOps.capPerKey): admit at most `cap` records per key over the
  * stream's lifetime, the crawl-throttling / source-balancing gate of
  * a continuous ingest ("no domain contributes more than N documents
  * to this collection window").
  *
  * Semantics delta vs batch, stated like Dedup.firstPerKey's: the
  * batch cap keeps the hash-PRIORITY top-N per key (a pure function of
  * the final corpus); a stream cannot know the global priority order,
  * so the streaming contract is FIRST-N-ARRIVALS-WIN (within a batch,
  * event-time order breaks ties — the same unordered-micro-batch
  * discipline as SequenceMatch). A post-hoc batch capPerKey over the
  * admitted set re-establishes the deterministic selection if needed.
  *
  * Scale: state is ONE counter (a long) per key, never the admitted
  * rows; the single shuffle is the groupByKey exchange. Counters for
  * retired keys persist for the stream's lifetime in [[firstNPerKey]];
  * [[firstNPerKeyWithinHorizon]] is the bounded-state variant — the
  * counter purges once a key goes idle past the event-time horizon, so
  * state size is bounded by the ACTIVE key set (the property that
  * keeps a 100TB ingest's state store finite), at the price of the
  * quota resetting for keys that fall silent.
  */
case class KeyedDoc(key: String, docId: Long, payload: String,
    ts: java.sql.Timestamp)

object QuotaCap {

  private implicit val cntEnc: org.apache.spark.sql.Encoder[Long] = Encoders.scalaLong
  private implicit val keyEnc: org.apache.spark.sql.Encoder[String] = Encoders.STRING
  private implicit val docEnc: org.apache.spark.sql.Encoder[KeyedDoc] = Encoders.product[KeyedDoc]

  /** First `cap` arrivals per key pass; everything after is dropped. */
  def firstNPerKey(docs: Dataset[KeyedDoc], cap: Int): Dataset[KeyedDoc] = {
    require(cap > 0, s"firstNPerKey: cap must be positive, got $cap")
    docs.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(admit(cap) _)
  }

  /** Arrival order within a micro-batch: event time, then id —
    * micro-batches hand rows over unordered, and this matches the
    * reference's parallelism-1 total-order discipline.
    */
  private val arrivalOrd: Ordering[KeyedDoc] =
    Ordering.by((d: KeyedDoc) => (d.ts.getTime, d.docId))

  /** Single streaming pass over a key's batch: the first `k` rows in
    * arrival order (ascending) AND the max event time over EVERY row.
    * A bounded max-heap of size k replaces sort-the-whole-batch, so
    * per-key memory is O(cap) even when one pathological key owns the
    * entire micro-batch; k = 0 degrades to a pure activity-max drain.
    */
  private def takeFirstK(batch: Iterator[KeyedDoc],
      k: Int): (Seq[KeyedDoc], Long) = {
    var maxTs = Long.MinValue
    val heap = scala.collection.mutable.PriorityQueue.empty[KeyedDoc](arrivalOrd)
    batch.foreach { d =>
      maxTs = math.max(maxTs, d.ts.getTime)
      if (k > 0) {
        if (heap.size < k) heap.enqueue(d)
        else if (arrivalOrd.lt(d, heap.head)) { heap.dequeue(); heap.enqueue(d) }
      }
    }
    // max-heap dequeues largest-first; reverse restores arrival order
    (heap.dequeueAll.reverse.toSeq, maxTs)
  }

  private def admit(cap: Int)(key: String, batch: Iterator[KeyedDoc],
      state: GroupState[Long]): Iterator[KeyedDoc] = {
    var n = state.getOption.getOrElse(0L)
    if (n >= cap) {
      // quota already exhausted — drain without buffering
      Iterator.empty
    } else {
      val admitted = takeFirstK(batch, cap - n.toInt)._1
      n += admitted.length
      state.update(n)
      admitted.iterator
    }
  }

  // ---- token-budget admission (the q142 mixture, streaming) -----------

  /** Whitespace token count of a payload — the SAME unit as the batch
    * mixture (`size(split(text, ' ', -1))`: an empty payload counts
    * 1, so every doc costs >= 1 token and budget arithmetic can never
    * admit unboundedly).
    */
  private def nTok(d: KeyedDoc): Long =
    if (d.payload == null) 1L else d.payload.split(" ", -1).length.toLong

  /** Single streaming pass over a key's batch for a TOKEN budget:
    * admit docs in arrival order while the tokens admitted BEFORE
    * each doc are still under `remaining` (fill-to-budget — the
    * crossing doc is admitted, the overshoot bounded by one doc; the
    * q142 law on the arrival order). Bounded memory: every doc costs
    * >= 1 token, so at most `remaining` docs can still be admitted —
    * the candidate heap is capped there and the rest of the batch
    * drains heap-free ([[takeFirstK]]'s discipline in token units).
    * Returns (admitted docs in arrival order, their token sum).
    */
  private def takeToBudget(batch: Iterator[KeyedDoc],
      remaining: Long): (Seq[KeyedDoc], Long) = {
    val k = math.min(remaining, Int.MaxValue.toLong).toInt
    val candidates = takeFirstK(batch, k)._1
    val out = scala.collection.mutable.ArrayBuffer.empty[KeyedDoc]
    var used = 0L
    val it = candidates.iterator
    while (it.hasNext && used < remaining) {
      val d = it.next()
      out += d
      used += nTok(d)
    }
    (out.toSeq, used)
  }

  /** Streaming TOKEN-budget quota — the unbounded twin of the q142
    * batch mixture ([[graft.api.SampleOps.tokenBudgetSample]]): admit
    * each key's docs while the TOKENS admitted before them are under
    * `budget`, then drop everything after — per-source admission
    * control in the unit production mixtures are specified in
    * (a long-doc source exhausts its share in fewer docs, which the
    * doc-count [[firstNPerKey]] cannot express).
    *
    * Semantics delta vs batch, the [[firstNPerKey]] statement: the
    * batch mixture fills the budget in deterministic id-hash order (a
    * pure function of the final corpus); a stream fills it in ARRIVAL
    * order (event time then id within a micro-batch). Both obey the
    * same laws — every admitted doc starts under budget, admitted
    * token mass lands in [budget, budget + max doc), the admitted set
    * is a prefix of the respective order — StreamingSpec pins them.
    * State is ONE Long (admitted tokens) per key.
    */
  def tokenBudgetPerKey(docs: Dataset[KeyedDoc],
      budget: Long): Dataset[KeyedDoc] = {
    require(budget > 0, s"tokenBudgetPerKey: budget must be positive, got $budget")
    docs.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(admitTokens(budget) _)
  }

  private def admitTokens(budget: Long)(key: String,
      batch: Iterator[KeyedDoc],
      state: GroupState[Long]): Iterator[KeyedDoc] = {
    val used = state.getOption.getOrElse(0L)
    if (used >= budget) Iterator.empty
    else {
      val (admitted, tokens) = takeToBudget(batch, budget - used)
      state.update(used + tokens)
      admitted.iterator
    }
  }

  /** Horizon-quota state: admitted count + latest activity seen, so
    * the purge timer is MONOTONE (an out-of-order batch must never
    * move it backward). Public: Catalyst codegen instantiates it.
    */
  case class QuotaState(n: Long, lastMs: Long)

  private implicit val qsEnc: org.apache.spark.sql.Encoder[QuotaState] =
    Encoders.product[QuotaState]

  /** [[firstNPerKey]] with a purge horizon: the counter evicts via
    * event-time timeout once the key has been idle for `delay` past
    * the watermark — bounded state, quota-per-activity-burst
    * semantics. `docs` must carry the event-time in `ts`.
    *
    * Semantics delta vs [[firstNPerKey]]: under EventTimeTimeout,
    * Spark drops rows at or behind the current watermark BEFORE the
    * state function runs, so LATE data is neither admitted nor counted
    * here (the unbounded variant, which declares no watermark, admits
    * it) — the usual bounded-state trade, same as
    * `dropDuplicatesWithinWatermark`.
    *
    * A watermark already declared upstream on `ts` (e.g.
    * [[SchedulerGate]], whose FrontierGate stage declares it) is
    * inherited, and `delay` then only arms the purge timer. Purge
    * safety is monotone in the watermark delay: a tighter upstream
    * delay only makes the watermark pass a retired key's horizon
    * sooner, and rows behind the watermark never reach the state
    * function, so a purged key cannot be re-admitted.
    */
  def firstNPerKeyWithinHorizon(docs: Dataset[KeyedDoc], cap: Int,
      delay: String): Dataset[KeyedDoc] = {
    require(cap > 0, s"firstNPerKeyWithinHorizon: cap must be positive, got $cap")
    Watermark.on(docs, "ts", delay).groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(admitWithTimeout(cap, delay) _)
  }

  /** The horizon quota on `transformWithState` — the COMPOSABLE
    * variant. A fMGWS output carries no event-time column, so NOTHING
    * stateful can run after [[firstNPerKeyWithinHorizon]] in one query
    * graph; this one declares `ts` as its output event-time column
    * (the API fMGWS never had), so the upstream watermark propagates
    * and downstream dedup/join states chain legally —
    * streaming.IngestPipeline is the consumer. Same contract as the
    * fMGWS variant: first-N per activity burst, counter purged once
    * the key idles past `delay` (an event-time timer re-armed to
    * latest-activity + horizon; stale timers from earlier re-arms are
    * ignored by the staleness guard, the monotone-timer discipline).
    *
    * Requirements inherited from `transformWithState`: the RocksDB
    * state store provider, and a watermark DECLARED UPSTREAM by the
    * caller (this stage must not re-declare — one declaration per
    * chain). Spark validates emitted rows against the watermark at
    * runtime (UpdateEventTimeWatermarkColumn), which this operator
    * satisfies by construction: it emits only current-batch rows.
    */
  def firstNPerKeyWithinHorizonTws(docs: Dataset[KeyedDoc], cap: Int,
      delay: String): Dataset[KeyedDoc] = {
    require(cap > 0, s"firstNPerKeyWithinHorizonTws: cap must be positive, got $cap")
    // timers take absolute millis, so the horizon string ("2 hours")
    // parses once here — day/time intervals only (a calendar month is
    // not a fixed duration)
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
      org.apache.spark.unsafe.types.UTF8String.fromString(delay))
    require(iv.months == 0,
      s"firstNPerKeyWithinHorizonTws: '$delay' uses calendar months")
    val ms = iv.days * 86400000L + iv.microseconds / 1000L
    docs.groupByKey(_.key)
      .transformWithState(new HorizonQuotaProcessor(cap, ms), "ts",
        OutputMode.Append())
  }

  /** [[firstNPerKeyWithinHorizonTws]]'s state machine: QuotaState in a
    * named ValueState + a real event-time timer per key (vs fMGWS's
    * single implicit timeout slot). Re-arm = delete the previous
    * timer, register at latest-activity + horizon; the expiry handler
    * re-checks staleness before purging so an undeleted older timer
    * can never reset an active key's quota early.
    */
  private class HorizonQuotaProcessor(cap: Int, horizonMs: Long)
      extends StatefulProcessor[String, KeyedDoc, KeyedDoc] {
    @transient private var st: ValueState[QuotaState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[QuotaState]("quota", qsEnc, TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[KeyedDoc],
        timerValues: TimerValues): Iterator[KeyedDoc] = {
      val prev = if (st.exists()) st.get() else QuotaState(0L, Long.MinValue)
      val k = math.max(0L, cap - prev.n).toInt
      val (admitted, batchMax) = takeFirstK(rows, k)
      // monotone re-arm (the fMGWS variant's discipline): latest
      // activity EVER, never backward
      val lastMs = math.max(prev.lastMs, batchMax)
      st.update(QuotaState(prev.n + admitted.length, lastMs))
      if (prev.lastMs != Long.MinValue && prev.lastMs != lastMs) {
        getHandle.deleteTimer(prev.lastMs + horizonMs)
      }
      if (lastMs != Long.MinValue) getHandle.registerTimer(lastMs + horizonMs)
      admitted.iterator
    }

    override def handleExpiredTimer(key: String, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[KeyedDoc] = {
      // staleness guard: purge only if this timer reflects the LATEST
      // activity (an older, undeleted timer must not clear a key that
      // has been active since)
      if (st.exists() &&
          expiredTimerInfo.getExpiryTimeInMs() >= st.get().lastMs + horizonMs) {
        st.clear()
      }
      Iterator.empty
    }
  }

  private def admitWithTimeout(cap: Int, horizon: String)(key: String,
      batch: Iterator[KeyedDoc], state: GroupState[QuotaState]): Iterator[KeyedDoc] = {
    if (state.hasTimedOut) {
      // idle past the horizon: purge the counter — the next burst from
      // this key starts a fresh quota
      state.remove()
      Iterator.empty
    } else {
      val prev = state.getOption.getOrElse(QuotaState(0L, Long.MinValue))
      // one bounded pass whether exhausted (k = 0: pure activity-max
      // drain) or under quota: the heap holds at most cap - n rows and
      // the activity max covers EVERY row, admitted or dropped
      val k = math.max(0L, cap - prev.n).toInt
      val (admitted, batchMax) = takeFirstK(batch, k)
      // monotone re-arm: latest activity EVER, not just this batch's —
      // an out-of-order batch must not pull the purge timer backward
      // and reset the quota early. (Rows reaching this function are
      // already > watermark, so the timer always lands ahead of it.)
      val lastMs = math.max(prev.lastMs, batchMax)
      state.update(QuotaState(prev.n + admitted.length, lastMs))
      state.setTimeoutTimestamp(lastMs, horizon)
      admitted.iterator
    }
  }
}
