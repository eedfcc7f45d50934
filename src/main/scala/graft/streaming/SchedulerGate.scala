package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.TextOps

/** The streaming CRAWL SCHEDULER — the whole front door composed as
  * ONE gate, closing the loop the batch pieces prove individually:
  * q147 discovery ([[FrontierGate]]), q148/q166 robots compliance
  * ([[TextOps.robotsFilter]] — map-only, so it runs on a streaming
  * frame), q146's politeness budget (per-(host, time-window) fetch
  * cap — the [[QuotaCap.firstNPerKey]] discipline with cost = 1), and
  * q162's deployed host priority (the maintained edge index's
  * PageRank, authored as a static snapshot). A crawler subscribes to
  * the output and fetches: each emitted row is a never-scheduled,
  * robots-allowed canonical URL within its host's window budget,
  * carrying its host's link-graph rank.
  *
  *   fetched docs (stream)
  *   → extract + canonicalize + visited anti-join + within-watermark
  *     dedup                       ([[FrontierGate.discoveries]];
  *                                  stateful op #1, dedup state)
  *   → robots verdict + keep allowed  (broadcast rule arrays —
  *                                  map-only, stateless)
  *   → per-(host, window) fetch budget
  *                                  ([[QuotaCap.firstNPerKeyWithinHorizon]]
  *                                  on key = host × window start;
  *                                  stateful op #2 and the
  *                                  LAST stateful op — nothing
  *                                  downstream needs the watermark, so
  *                                  the no-event-time-output limitation
  *                                  of fMGWS is moot here)
  *   → stream-static LEFT join of the authored rank snapshot
  *     (host-count-sized broadcast; LEFT because a frontier's whole
  *     point is NEW hosts — they carry a null rank, the scheduler's
  *     cold-start tier, rather than silently vanishing)
  *
  * SEMANTICS DELTA vs the batch q154/q162 scheduler, stated like
  * [[QuotaCap.firstNPerKey]]'s: the batch budget keeps each host's
  * MOST-REFERENCED URLs (a pure function of the final extraction);
  * a stream cannot know final in-link counts, so the streaming budget
  * is FIRST-N-ARRIVALS-WIN per (host, window) — within a micro-batch,
  * event-time order breaks ties. Both obey the same politeness law
  * (at most `budgetPerWindow` fetches per host per window); the
  * in-link priority is recoverable downstream by re-ranking the
  * emitted window with the batch op. StreamingSpec pins row-for-row
  * parity against the equivalent batch composition on a split where
  * the budget does not bind, the budget law where it does, the
  * fold-while-serving snapshot contract for the rank side, and the
  * quota-state expiry below (state rows for a closed window are GONE
  * once the watermark passes, read back through the state-store
  * reader, under both state stores).
  *
  * QUOTA-STATE LIFECYCLE (bounded, by construction): the budget
  * counter is keyed by host × window-start, so every elapsed
  * politeness window mints fresh keys per active host — a
  * continuous crawl under a lifetime-state quota would leak
  * ~hosts × windows counters forever (1M hosts × 24 windows/day ≈
  * 10^7 dead keys/day). The budget therefore runs on the HORIZON
  * quota ([[QuotaCap.firstNPerKeyWithinHorizon]]) with horizon =
  * `window` + `delay`: a (host, window) key's events all carry ts
  * inside the window, so once the watermark passes
  * last-activity + window + delay, every row that could still mint
  * that key is behind the watermark and is dropped BEFORE the state
  * function — the purged counter can never re-admit, and the
  * at-most-`budgetPerWindow`-per-(host, window) law is preserved
  * exactly. State size is bounded by the ACTIVE (host, window) set.
  * The one semantics delta vs a lifetime counter: rows later than
  * `window` + `delay` are dropped at the quota stage rather than
  * admitted (upstream discovery already stops deduplicating them at
  * `delay` — the usual bounded-state late-data trade).
  *
  * SNAPSHOT CONTRACT (the gate-family author-once posture, and the
  * same trade as [[GramGate]]): [[author]] reads the edge index and
  * the rules ONCE — the rank snapshot and the grouped rule arrays
  * localCheckpoint eagerly (cache-owned), so a
  * [[graft.operators.PageRank.foldIntoEdgeIndex]] landing while the
  * gate serves is INVISIBLE until re-author (a scheduler wants a
  * stable priority epoch per crawl cycle), and no micro-batch ever
  * re-runs the rank iteration. Quiesce across any maintain* that may
  * compact, per the [[graft.api.IndexMaintenance]] reader contract.
  *
  * Output (append): canonical_url, host, idCol (the discovering doc),
  * tsCol, window_start, host_rank (nullable for unranked hosts).
  */
object SchedulerGate {

  /** The authored static state: per-host robots rule arrays + the
    * host-rank snapshot off the edge index. Releasing it is the
    * caller's job once the gate's query stops.
    */
  case class SchedulerState(rules: DataFrame, ranks: DataFrame) {
    def unpersist(): Unit = {
      graft.api.Lifecycle.releaseLocalCheckpoint(rules)
      graft.api.Lifecycle.releaseLocalCheckpoint(ranks)
      ()
    }
  }

  /** Author the scheduler's static inputs ONCE: snapshot the (host,
    * prefix, allow) rules frame (e.g. [[TextOps.parseRobots]] output)
    * and rank the persisted
    * [[graft.operators.PageRank.writeEdgeIndex]] host graph — both
    * localCheckpoint eagerly (the rank iteration must never run
    * inside a micro-batch). A missing/meta-less index fails HERE by
    * name, at author time, not mid-stream. Rules columns must be
    * (host, prefix, allow) — parseRobots' output contract.
    */
  def author(spark: SparkSession, rules: DataFrame, edgeIndexPath: String,
      iterations: Int = 5): SchedulerState =
    authorWith(rules, graft.operators.PageRank
      .ranksByKeyAgainstIndex(spark, edgeIndexPath, iterations)
      .select(col("key").as("host"), col("rank").as("host_rank")))

  /** [[author]] from ANY precomputed (host, host_rank) frame — e.g.
    * `weightedRanksByKeyAgainstIndex` output off the WEIGHTED edge
    * index when the queue should order by anchor VOLUME (q167's
    * deployed signal) instead of graph position, or an externally
    * blended priority. Same author-once snapshot semantics: both
    * frames materialize here and stay fixed until re-author.
    */
  def authorWith(rules: DataFrame, ranks: DataFrame): SchedulerState = {
    val r = rules.select(col("host"), col("prefix").cast("string"),
        col("allow").cast("boolean"))
      .localCheckpoint()
    graft.api.Lifecycle.registerCacheOwned(r)
    val rk = ranks.select(col("host"), col("host_rank")).localCheckpoint()
    graft.api.Lifecycle.registerCacheOwned(rk)
    SchedulerState(r, rk)
  }

  /** Millisecond span of a day/time interval string — calendar months
    * are rejected (not a fixed duration, so no exact horizon exists).
    */
  private def intervalMs(spec: String, what: String): Long = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
      org.apache.spark.unsafe.types.UTF8String.fromString(spec))
    require(iv.months == 0,
      s"SchedulerGate.schedule: '$spec' ($what) uses calendar months — " +
        "pass a fixed day/time interval")
    iv.days * 86400000L + iv.microseconds / 1000L
  }

  /** docs: a STREAMING frame with (idCol: Long doc ids, textCol,
    * tsCol). `window` is the politeness cycle ("1 hour": at most
    * `budgetPerWindow` fetches per host per hour); `visitedPath` per
    * [[FrontierGate.discoveries]]. The (host, window) counter is
    * purged once the watermark passes its horizon (see the
    * quota-state lifecycle note above).
    */
  def schedule(docs: DataFrame, idCol: String, textCol: String,
      tsCol: String, delay: String, window: String, visitedPath: String,
      state: SchedulerState, budgetPerWindow: Int): DataFrame = {
    require(budgetPerWindow >= 1,
      s"SchedulerGate.schedule: budgetPerWindow must be >= 1, got " +
        s"$budgetPerWindow")
    // horizon = window + delay: once the watermark passes a (host,
    // window) key's last activity by this much, no row for that window
    // can still be live (every candidate ts < window end <= activity +
    // window <= watermark), so the purge is semantics-preserving
    val horizon =
      s"${intervalMs(window, "window") + intervalMs(delay, "delay")} milliseconds"
    val s = docs.sparkSession
    import s.implicits._
    val disc = FrontierGate.discoveries(docs, idCol, textCol, tsCol,
      delay, visitedPath)
    // map-only robots verdict over the canonical URL (the form q148
    // enforces on raw hrefs; a canonical URL is still scheme://host/
    // path, so HostPattern and the path strip apply unchanged)
    val verdicts = TextOps.robotsFilter(disc, idCol,
      "canonical_url", state.rules, extraCols = Seq("host", tsCol))
    // per-(host, politeness-window) fetch budget: the QuotaCap
    // first-N-arrivals discipline with cost = 1 per fetch, under the
    // bounded-state HORIZON variant (key lifecycle note above). The
    // key carries the host and the window start verbatim, so neither
    // needs recomputing from the payload after the quota stage.
    val win = org.apache.spark.sql.functions.window(col(tsCol), window)
    val keyed = verdicts.filter(col("allowed"))
      .withColumn("_w", win)
      .select(
        concat(col("host"), lit("|"),
          col("_w").getField("start").cast("long").cast("string")).as("key"),
        col(idCol).cast("long").as("docId"),
        col("canonical_url").as("payload"),
        col(tsCol).as("ts"))
      .as[KeyedDoc]
    // the quota inherits FrontierGate's watermark on tsCol (`ts` is its
    // alias); the horizon only arms the purge timer
    val budgeted = QuotaCap.firstNPerKeyWithinHorizon(keyed,
      budgetPerWindow, horizon).toDF()
    // host = the key minus its trailing "|<window-start>" (hosts come
    // from HostPattern and cannot contain '/' but may contain anything
    // else, so strip by LENGTH of the last segment, not by regex);
    // window_start = that last segment, stored as epoch seconds
    budgeted
      .withColumn("_wsSec", substring_index(col("key"), "|", -1))
      .select(col("payload").as("canonical_url"),
        expr("substring(key, 1, length(key) - length(_wsSec) - 1)")
          .as("host"),
        col("docId").as(idCol), col("ts").as(tsCol),
        timestamp_seconds(col("_wsSec").cast("long")).as("window_start"))
      .join(broadcast(state.ranks), Seq("host"), "left")
      .select(col("canonical_url"), col("host"), col(idCol), col(tsCol),
        col("window_start"), col("host_rank"))
  }
}
