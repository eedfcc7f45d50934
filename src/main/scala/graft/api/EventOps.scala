package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Behavior-analytics API over an event log — the analyses the
  * reference's domain (e-commerce user behavior, SURVEY.md §0) is
  * ultimately for: funnel conversion, cohort retention, and event-type
  * transition structure. All column names are caller-supplied; outputs
  * use fixed, documented names.
  *
  * Scale notes: every stage keys on the user column, so successive
  * aggregations/joins are co-partitioned (one logical shuffle domain);
  * final outputs are aggregates over tiny result spaces (stages,
  * cohort×offset, type×type) with map-side partial aggregation.
  */
object EventOps {

  /** Strict ordered funnel: a user reaches stage i when they have an
    * event of `stages(i)` at-or-after their stage-(i-1) reach time
    * (stage 0 = earliest occurrence). Returns one row per stage:
    * (step, stage, n_users). A later event of an earlier stage never
    * un-reaches a user — semantics are first-reach, monotone.
    *
    * Each stage is a co-partitioned join+min-agg on the user key; the
    * event scan pushes the stage's type filter down to parquet. No
    * window functions, no driver-side iteration over data — the loop
    * is over the (constant) stage list.
    */
  def funnel(df: DataFrame, userCol: String, tsCol: String,
      typeCol: String, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    // internal names so caller columns named "u"/"t" can't collide
    val ev = df.select(col(userCol).as("_fu"), col(tsCol).as("_ft"),
      col(typeCol).as("_fk"))
    // reached(i): DataFrame(_fu, _rt = first time the user completed
    // stages 0..i in order)
    val first = ev.filter(col("_fk") === stages.head)
      .groupBy(col("_fu")).agg(min(col("_ft")).as("_rt"))
    val reached = stages.tail.scanLeft(first) { (prev, stage) =>
      ev.filter(col("_fk") === stage)
        .join(prev, "_fu")
        .filter(col("_ft") >= col("_rt"))
        .groupBy(col("_fu")).agg(min(col("_ft")).as("_rt"))
    }
    // ONE final exchange, not one per stage: tag each reach-frame and
    // count in a single grouped aggregate (map-side partials emit at
    // most |stages| rows per task)
    reached.zipWithIndex.map { case (r, i) =>
      r.select(lit(i).as("step"), lit(stages(i)).as("stage"))
    }.reduce(_.unionByName(_))
      .groupBy(col("step"), col("stage"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Cohort retention: users are cohorted by their first active day;
    * output is (cohort_day, day_offset, n_users) — how many of each
    * cohort were active `day_offset` days after their first day.
    * `dayCol` is any integral day index the caller derives (epoch
    * days, etc.).
    *
    * Two exchanges: distinct active (user, day) pairs, then the
    * per-user min — both on the user key, co-partitioned. The final
    * rollup collapses to cohort×offset cardinality with partial aggs.
    */
  def retention(df: DataFrame, userCol: String, dayCol: String): DataFrame = {
    val days = df.select(col(userCol).as("u"), col(dayCol).as("d")).distinct()
    val cohort = days.groupBy(col("u")).agg(min(col("d")).as("cohort_day"))
    days.join(cohort, "u")
      .select(col("cohort_day"), (col("d") - col("cohort_day")).as("day_offset"))
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** First-order transition counts: for each user's event sequence
    * (ordered by `tsCol`, ties by `tieCol`), count consecutive
    * (prev_type, next_type) pairs across all users. The Markov-chain
    * view of behavior — which actions follow which.
    *
    * One exchange on the user key; the lag window is PARTITIONED BY
    * user (never global — the PlanSpec scale-killer), then the pair
    * count collapses to |types|² rows map-side.
    */
  def transitions(df: DataFrame, userCol: String, tsCol: String,
      tieCol: String, typeCol: String): DataFrame = {
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    df.select(col(userCol), col(tsCol), col(tieCol), col(typeCol))
      .withColumn("prev_type", lag(col(typeCol), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col(typeCol).as("next_type"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Latest-state compaction (CDC "latest wins" upsert): one row per
    * key, carrying the order and value columns of that key's greatest
    * `orderCols` tuple. The CDC-merge primitive — a change log becomes
    * current state.
    *
    * Deliberately an argmax aggregation, NOT a rank window: the window
    * form sorts every partition's full history; the aggregate keeps one
    * row per key per task (map-side partial agg), so only |keys|
    * candidate rows cross the one shuffle — at 100 TB the change log
    * streams through without ever being sorted. The argmax is the
    * custom `latest_by` (TypedImperativeAggregate → ObjectHashAggregate)
    * rather than built-in `max_by`, whose struct-typed declarative
    * buffer would force the whole aggregation into SortAggregate — a
    * per-task sort of the full change log. `orderCols` must be a total
    * order (include a unique tiebreaker) for a deterministic result.
    */
  def latestState(df: DataFrame, keyCol: String, orderCols: Seq[String],
      valueCols: Seq[String]): DataFrame = {
    require(orderCols.nonEmpty, "latestState needs at least one order column")
    graft.GraftExtensions.register(df.sparkSession)
    val carried = (orderCols ++ valueCols).distinct
    df.groupBy(col(keyCol))
      .agg(call_function("latest_by", struct(carried.map(col): _*),
        struct(orderCols.map(col): _*)).as("_last"))
      .select(col(keyCol) +: carried.map(c => col("_last").getField(c).as(c)): _*)
  }

  /** Keyed diff of two snapshots: full-outer join on `keyCol`, each
    * compare column exposed as `old_<c>` / `new_<c>`, plus a `status`
    * of added / removed / changed / unchanged (null-safe compare).
    * Presence is tracked with marker columns, not null-ness of payload
    * columns, so legitimately-null values never misclassify a row.
    *
    * One shuffle per side on the same key (co-partitioned full-outer
    * hash join); at 100 TB both snapshots stream — nothing is
    * collected or broadcast.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, keyCol: String,
      cmpCols: Seq[String]): DataFrame = {
    require(cmpCols.nonEmpty, "snapshotDiff needs at least one compare column")
    val o = oldDf.select(
      col(keyCol) +: cmpCols.map(c => col(c).as(s"old_$c")): _*)
      .withColumn("_in_old", lit(true))
    val n = newDf.select(
      col(keyCol) +: cmpCols.map(c => col(c).as(s"new_$c")): _*)
      .withColumn("_in_new", lit(true))
    val changed = cmpCols
      .map(c => !(col(s"old_$c") <=> col(s"new_$c")))
      .reduce(_ || _)
    o.join(n, Seq(keyCol), "full_outer")
      .withColumn("status",
        when(col("_in_old").isNull, lit("added"))
          .when(col("_in_new").isNull, lit("removed"))
          .when(changed, lit("changed"))
          .otherwise(lit("unchanged")))
      .drop("_in_old", "_in_new")
  }

  /** Half-life-decayed activity counts: per key, `n_events` and
    * `decayed_x1m` = Σ 1048576 >> min(age_halflives, 20), where
    * age_halflives = (max(ts) − ts) / halfLife, in whole half-lives.
    * "Hotness" that an old burst can't dominate.
    *
    * The decay weight is a right-shifted integer — not exp()/pow() —
    * so the sum is exact int64 arithmetic: identical across engines,
    * partitionings, and re-runs (a float Σexp(−λΔt) is none of those).
    * The reference clock is the one-row global max, broadcast back;
    * the weighted count then partial-aggregates map-side into the
    * single |keys|-row shuffle.
    */
  def decayedCounts(df: DataFrame, keyCol: String, tsUsCol: String,
      halfLifeDays: Int = 1, maxHalfLives: Int = 20): DataFrame = {
    require(halfLifeDays >= 1 && maxHalfLives >= 0 && maxHalfLives <= 62)
    val us = col(tsUsCol)
    val now = df.agg(max(us).as("_now"))
    val hlUs = 86400000000L * halfLifeDays
    df.select(col(keyCol), us.as("_us"))
      .crossJoin(broadcast(now))
      .withColumn("_hl",
        least(expr(s"(_now - _us) div ${hlUs}L"), lit(maxHalfLives.toLong)))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("shiftright(1048576L, cast(_hl AS int))")).as("decayed_x1m"))
  }

  /** Per-user inter-arrival statistics + a bot heuristic: gap stats
    * over consecutive event times (ordered by `tsUsCol`, ties by
    * `tieCol`) and `suspected_bot` = at least `minEvents` events whose
    * gaps all fall within `toleranceUs` of each other (machine-regular
    * cadence). Single-event users get null gap stats and a false flag.
    *
    * One exchange total: the lag window partitions by user, and the
    * per-user aggregate reuses that hash partitioning (no second
    * shuffle — same key domain).
    */
  def interArrival(df: DataFrame, userCol: String, tsUsCol: String,
      tieCol: String, minEvents: Int, toleranceUs: Long): DataFrame = {
    val w = Window.partitionBy(col(userCol))
      .orderBy(col("_us").asc, col("_tie").asc)
    df.select(col(userCol), col(tsUsCol).as("_us"), col(tieCol).as("_tie"))
      .withColumn("_gap", col("_us") - lag(col("_us"), 1).over(w))
      .groupBy(col(userCol))
      .agg(count(lit(1)).as("n_events"),
        min(col("_gap")).as("min_gap_us"),
        max(col("_gap")).as("max_gap_us"),
        sum(col("_gap")).as("_sum_gap"),
        count(col("_gap")).as("_n_gap"))
      .withColumn("avg_gap_us",
        when(col("_n_gap") > 0, expr("_sum_gap div _n_gap")))
      .withColumn("suspected_bot",
        // coalesce: with minEvents <= 1 a single-event user's gap terms
        // are null and `true && null` is null — the contract is a
        // non-nullable false flag
        coalesce(col("n_events") >= minEvents &&
          col("max_gap_us") - col("min_gap_us") <= toleranceUs,
          lit(false)))
      .drop("_sum_gap", "_n_gap")
  }

  /** Dense daily activity series: per-key counts with every missing day
    * between the key's first and last active day filled with an
    * explicit 0 row — the regularization step before any time-series
    * model or day-over-day comparison (a missing row and a zero row
    * mean different things downstream). `dayCol` is any integral day
    * index. Output: keyCol, day, n_events.
    *
    * The day grid explodes from the TINY per-key (min, max) span frame
    * — |keys| rows in, |keys|·span out — never from the event log; the
    * counts join is co-partitioned on (key, day) with the grid side
    * broadcast when small. Nothing event-sized is ever exploded.
    */
  def gapFill(df: DataFrame, keyCol: String, dayCol: String): DataFrame = {
    val days = df.select(col(keyCol).as("_k"), col(dayCol).cast("long").as("_d"))
    val counts = days.groupBy(col("_k"), col("_d"))
      .agg(count(lit(1)).as("n_events"))
    val grid = days.groupBy(col("_k"))
      .agg(min(col("_d")).as("_d0"), max(col("_d")).as("_d1"))
      .select(col("_k"), explode(sequence(col("_d0"), col("_d1"))).as("_d"))
    grid.join(counts, Seq("_k", "_d"), "left")
      .select(col("_k").as(keyCol), col("_d").as("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
  }

  /** Distribution-drift report between two frames of the same numeric
    * column (reference vs current — yesterday vs today, train vs
    * serve): fixed-width histogram buckets, per-bucket counts and
    * per-million proportions, and a `drifted` flag where the
    * proportion moved more than `driftPpm`. The PSI-style pipeline
    * health check, minus the log term — proportions and deltas stay
    * exact integers, so the report is engine- and partitioning-
    * independent (and hash-oracle-able, which a float PSI is not).
    *
    * Bucket = clamp(floor(v / bucketWidth), 0, maxBucket) — with a
    * power-of-two width the division is exact IEEE, identical across
    * engines; the lower clamp keeps negative values from minting
    * unbounded distinct buckets (the ≤ maxBucket+1-row contract).
    * Buckets empty on one side surface with count 0 (full outer), so
    * "new mass appeared where there was none" is visible.
    *
    * Each side collapses map-side to ≤ maxBucket+1 rows before its
    * single shuffle; totals ride along as one-row broadcasts.
    */
  def distributionDrift(refDf: DataFrame, curDf: DataFrame,
      valueCol: String, bucketWidth: Double, maxBucket: Int,
      driftPpm: Long = 50000L): DataFrame = {
    require(bucketWidth > 0 && maxBucket >= 0)
    def counts(d: DataFrame, as: String) = d
      .select(greatest(
        least(floor(col(valueCol) / bucketWidth), lit(maxBucket)), lit(0))
        .cast("long").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as(as))
    val ref = counts(refDf, "n_ref")
    val cur = counts(curDf, "n_cur")
    val refTot = ref.agg(sum(col("n_ref")).as("_tr"))
    val curTot = cur.agg(sum(col("n_cur")).as("_tc"))
    ref.join(cur, Seq("bucket"), "full_outer")
      .na.fill(0L, Seq("n_ref", "n_cur"))
      .crossJoin(broadcast(refTot))
      .crossJoin(broadcast(curTot))
      .select(col("bucket"), col("n_ref"), col("n_cur"),
        expr("(n_ref * 1000000) div _tr").as("p_ref_ppm"),
        expr("(n_cur * 1000000) div _tc").as("p_cur_ppm"))
      .withColumn("drifted",
        abs(col("p_cur_ppm") - col("p_ref_ppm")) > driftPpm)
  }

  /** Per-key winsorized statistics: values are capped at the key's
    * exact p-quantile and summed — the standard tail-taming transform
    * before averaging heavy-tailed metrics (one pathological row can't
    * move the aggregate). Output: key, n, cap_micro, n_clipped,
    * sum_winsorized_micro.
    *
    * Values go through micro fixed-point; the quantile is the one
    * float step (Spark `percentile` and DuckDB `quantile_cont` share
    * the interpolation formula bit-for-bit — the q34 precedent), then
    * floor()ed back to an exact integer cap so the clip and sum are
    * pure int64 — partitioning- and engine-independent. The per-key
    * cap frame is tiny and broadcasts back; both aggregations collapse
    * map-side. At 100 TB swap the exact percentile for
    * approx_percentile (q47's rank-space-bounded t-digest) if the sort
    * cost bites.
    */
  def winsorizedStats(df: DataFrame, keyCol: String, valueCol: String,
      p: Double = 0.95): DataFrame = {
    require(p > 0 && p < 1, "p must be in (0, 1)")
    winsorizedWithCap(df, keyCol, valueCol,
      floor(expr(s"percentile(_vm, ${p}d)")).cast("long"))
  }

  /** [[winsorizedStats]] with the cap from `approx_percentile` (the GK
    * sketch) instead of the exact sort-based percentile — the 100 TB
    * path: bounded-memory, mergeable, map-side-partial quantiles; rank
    * error <= 1/accuracy. Same output columns; cap_micro is the
    * approx cap, clip and sum stay pure int64 against it. The catalog
    * (q82) verifies the approx cap AND the derived clip/sum stats
    * in-band against exact ±0.01-rank envelopes (q47's rank-space
    * precedent: a value-space bound would flake on sparse tails).
    */
  def winsorizedStatsApprox(df: DataFrame, keyCol: String, valueCol: String,
      p: Double = 0.95, accuracy: Int = 10000): DataFrame = {
    require(p > 0 && p < 1, "p must be in (0, 1)")
    winsorizedWithCap(df, keyCol, valueCol,
      floor(expr(s"approx_percentile(_vm, ${p}d, $accuracy)")).cast("long"))
  }

  /** Shared winsorize body: ONE definition of the micro fixed-point
    * projection, the broadcast cap join, and the int64 clip/sum — the
    * exact and approx paths differ only in the cap aggregate, and
    * q82's envelope check assumes their clip/sum semantics are
    * identical, which this sharing makes true by construction.
    * `capAgg` aggregates the `_vm` micro-unit column to the int64 cap.
    */
  private def winsorizedWithCap(df: DataFrame, keyCol: String,
      valueCol: String, capAgg: Column): DataFrame = {
    val base = df.select(col(keyCol).as("_k"),
      round(col(valueCol) * lit(1000000d)).cast("long").as("_vm"))
    val caps = base.groupBy(col("_k")).agg(capAgg.as("cap_micro"))
    base.join(broadcast(caps), "_k")
      .groupBy(col("_k"), col("cap_micro"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("_vm") > col("cap_micro"), 1L).otherwise(0L))
          .as("n_clipped"),
        sum(least(col("_vm"), col("cap_micro"))).as("sum_winsorized_micro"))
      .select(col("_k").as(keyCol), col("n"), col("cap_micro"),
        col("n_clipped"), col("sum_winsorized_micro"))
  }

  /** Robust per-key outlier report over a double column, in exact
    * integer arithmetic: values become micro-units (round(v·10⁶), a
    * per-row deterministic double op), then mean and mean-absolute-
    * deviation are integer divisions and an outlier is
    * |v − mean| > k·MAD. No float aggregation anywhere, so the result
    * is independent of partitioning and engine — stddev-based z-scores
    * are not. Output: key, n, mean_micro, mad_micro, n_outliers.
    *
    * Three passes over the (pruned) key+value columns, each collapsing
    * map-side to |keys| rows; the tiny stats frames broadcast back.
    */
  def robustOutliers(df: DataFrame, keyCol: String, valueCol: String,
      k: Int = 4): DataFrame = {
    val base = df.select(col(keyCol).as("_k"),
      round(col(valueCol) * lit(1000000d)).cast("long").as("_vm"))
    val stats = base.groupBy(col("_k"))
      .agg(sum(col("_vm")).as("_s"), count(lit(1)).as("_n"))
      .select(col("_k"), expr("_s div _n").as("mean_micro"))
    val dev = base.join(broadcast(stats), "_k")
      .withColumn("_ad", abs(col("_vm") - col("mean_micro")))
    val mad = dev.groupBy(col("_k"))
      .agg(expr("sum(_ad) div count(1)").as("mad_micro"))
    // the final aggregate carries EVERYTHING (mean/mad are constant per
    // key → max), so no |keys|-row assembly joins re-inline the stats
    // subtree — the static plan stays at the three aggregation shuffles
    dev.join(broadcast(mad), "_k")
      .groupBy(col("_k"))
      .agg(count(lit(1)).as("n"),
        max(col("mean_micro")).as("mean_micro"),
        max(col("mad_micro")).as("mad_micro"),
        sum(when(col("_ad") > lit(k.toLong) * col("mad_micro"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .select(col("_k").as(keyCol), col("n"), col("mean_micro"),
        col("mad_micro"), col("n_outliers"))
  }

  /** Per-key mergeable aggregate STATE: keyCol, n_rows, sum_v, sum_v2
    * — the count + first two integer moments of `value`. The triple is
    * associative and commutative, which is the whole point: a
    * maintained corpus statistic is updated by MERGING the persisted
    * state with the delta batch's partials ([[mergeAggState]]) — cost
    * O(|delta| + |keys|) per ingest — while a recompute pays a full
    * corpus rescan every time. At 100 TB the corpus is read ONCE ever;
    * each arriving batch touches only itself and the |keys|-row state.
    * All-integer sums → exact, engine-independent, order-independent.
    */
  def aggState(df: DataFrame, keyCol: String, value: Column): DataFrame =
    df.select(col(keyCol), value.cast("long").as("_v"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_rows"), sum(col("_v")).as("sum_v"),
        sum(col("_v") * col("_v")).as("sum_v2"))

  /** Merge two [[aggState]] frames (state ⊕ delta): component-wise sum
    * per key. Keys present on one side pass through (full-outer via
    * union + re-aggregate — one |keys|-sized shuffle, corpus untouched).
    */
  def mergeAggState(state: DataFrame, deltaState: DataFrame,
      keyCol: String): DataFrame =
    state.unionByName(deltaState)
      .groupBy(col(keyCol))
      .agg(sum(col("n_rows")).as("n_rows"), sum(col("sum_v")).as("sum_v"),
        sum(col("sum_v2")).as("sum_v2"))

  /** Per-key mergeable DISTINCT-COUNT state: keyCol, `hll_sk` (a
    * Datasketches HLL binary) — the maintained statistic [[aggState]]'s
    * moment triple cannot express: count-distinct is not a sum, so
    * moments cannot fold it, but HLL sketches union losslessly (same
    * registers a one-shot build over the union would converge to).
    * Persist per corpus version, merge each delta batch's partials in
    * ([[mergeDistinctState]]) — the O(|delta| + |keys| × KB) ingest
    * cost, never a corpus rescan. Estimates carry the usual HLL error
    * (~1.6% at default lgK); q118's oracle bounds them in-band against
    * exact counts (the q100 posture — estimates are engine-specific,
    * so value-level cross-engine hashing is impossible by design).
    */
  def distinctState(df: DataFrame, keyCol: String, value: Column): DataFrame =
    df.groupBy(col(keyCol)).agg(hll_sketch_agg(value).as("hll_sk"))

  /** Merge two [[distinctState]] frames (state ⊕ delta): per-key HLL
    * union — associative and duplicate-insensitive (an element in both
    * sides sets the same registers), so merge-equals-recompute holds
    * at the register level. Same |keys|-sized union + re-aggregate
    * shape as [[mergeAggState]].
    */
  def mergeDistinctState(state: DataFrame, deltaState: DataFrame,
      keyCol: String): DataFrame =
    state.unionByName(deltaState)
      .groupBy(col(keyCol))
      .agg(hll_union_agg(col("hll_sk")).as("hll_sk"))

  /** Read a [[distinctState]] out as per-key estimates: keyCol,
    * distinct_est (long).
    */
  def distinctEstimate(state: DataFrame, keyCol: String): DataFrame =
    state.select(col(keyCol),
      hll_sketch_estimate(col("hll_sk")).cast("long").as("distinct_est"))

  /** Per-key mergeable QUANTILE state: keyCol, `kll_sk` (a
    * Datasketches KLL-doubles binary) — the third maintained statistic
    * in the family: [[aggState]] folds moments, [[distinctState]]
    * folds cardinality, this folds the whole VALUE DISTRIBUTION.
    * Quantiles are not sums and not duplicate-insensitive, but KLL
    * sketches are fully mergeable with the rank-error guarantee
    * preserved across ANY merge tree (Karnin–Lang–Liberty, FOCS'16:
    * ±ε normalized rank at O(1/ε·log log 1/δ) space — ~1.65% at the
    * default k=200), so a persisted per-key state absorbs each delta
    * batch's partials at O(|delta| + |keys| × KB-sketch) with no
    * corpus rescan. KLL compaction is randomized (coin-flip row
    * retention), so estimates are run-dependent BY DESIGN — oracles
    * must bound them in-band in RANK space (q47's discipline; q119
    * guards at ±0.05 rank, 3× the k=200 error bound). Until a key's
    * stream exceeds k items the sketch stores them all and quantiles
    * are exact order statistics — which is what makes small fixtures
    * deterministic.
    */
  def quantileState(df: DataFrame, keyCol: String, value: Column): DataFrame =
    df.groupBy(col(keyCol))
      .agg(call_function("kll_sketch_agg_double", value.cast("double"))
        .as("kll_sk"))

  /** Merge two [[quantileState]] frames (state ⊕ delta): per-key KLL
    * merge. Same |keys|-sized union + re-aggregate shape as
    * [[mergeAggState]]/[[mergeDistinctState]]; the merged sketch
    * carries the SAME rank-error guarantee as a one-shot build over
    * the concatenated stream (mergeability is the KLL theorem, not an
    * approximation of it).
    */
  def mergeQuantileState(state: DataFrame, deltaState: DataFrame,
      keyCol: String): DataFrame =
    state.unionByName(deltaState)
      .groupBy(col(keyCol))
      .agg(call_function("kll_merge_agg_double", col("kll_sk"))
        .as("kll_sk"))

  /** Read a [[quantileState]] out as per-key quantile estimates:
    * keyCol, q_0 … q_{n-1} (double — each an actual stream element
    * whose normalized rank is within the sketch's ε of the requested
    * quantile).
    */
  def quantileEstimate(state: DataFrame, keyCol: String,
      qs: Seq[Double]): DataFrame =
    state.select(col(keyCol) +: qs.zipWithIndex.map { case (q, i) =>
      call_function("kll_sketch_get_quantile_double", col("kll_sk"),
        lit(q)).as(s"q_$i")
    }: _*)

  /** Per-key mergeable HEAVY-HITTERS state: keyCol, mg_cap (the
    * Misra–Gries capacity — part of the state, so a fold can never
    * silently mix geometries), mg_delta, mg_items (the ≤capacity
    * (key, est) counters, est DESC / key ASC) — the fourth maintained
    * statistic: [[aggState]] folds moments, [[distinctState]]
    * cardinality, [[quantileState]] the distribution, this folds the
    * HOT KEYS. Built on the `heavy_hitters` Misra–Gries aggregate
    * whose merge guarantees hold for ANY update/merge tree, so the
    * theorem set q56 checks (under-count ≤ delta, recall above delta,
    * delta·(cap+1) ≤ N) survives persistence and folding verbatim.
    */
  def heavyHittersState(df: DataFrame, keyCol: String, item: Column,
      capacity: Int): DataFrame = {
    graft.GraftExtensions.register(df.sparkSession)
    df.groupBy(col(keyCol))
      .agg(call_function("heavy_hitters", lit(capacity), item).as("_hh"))
      .select(col(keyCol), lit(capacity).as("mg_cap"),
        col("_hh.delta").as("mg_delta"), col("_hh.items").as("mg_items"))
  }

  /** Merge two [[heavyHittersState]] frames (state ⊕ delta): per-key
    * `heavy_hitters_merge` — the SAME counter/trim algebra the base
    * aggregate uses distributed, applied to persisted summaries. The
    * capacity is read from the STATE FRAMES themselves (the
    * geometry-from-the-artifact contract every persisted index
    * follows); mixed capacities fail loudly — MG summaries of
    * different capacities have incomparable deltas and cannot fold.
    * Each maintenance round costs O(|keys| × capacity); the corpus
    * behind the state is never rescanned.
    */
  def mergeHeavyHittersState(state: DataFrame, deltaState: DataFrame,
      keyCol: String): DataFrame = {
    graft.GraftExtensions.register(state.sparkSession)
    val caps = state.select(col("mg_cap"))
      .unionByName(deltaState.select(col("mg_cap")))
      .distinct().collect().map(_.getInt(0))
    require(caps.length == 1,
      "mergeHeavyHittersState: capacity mismatch across states " +
        s"(${caps.sorted.mkString(", ")}) — Misra-Gries summaries of " +
        "different capacities cannot fold; rebuild one side")
    val cap = caps.head
    state.unionByName(deltaState)
      .groupBy(col(keyCol))
      .agg(call_function("heavy_hitters_merge", lit(cap),
        col("mg_delta"), col("mg_items")).as("_hh"))
      .select(col(keyCol), lit(cap).as("mg_cap"),
        col("_hh.delta").as("mg_delta"), col("_hh.items").as("mg_items"))
  }

  /** STRICT-contiguity sequence matches — the batch formulation of
    * [[graft.streaming.Cep.matchPattern]] with `strict = true` (CEP
    * `next`, ref LoginFailWithCep.scala:28-36's `.next` chain): over
    * each user's TOTAL event stream ordered by (`tsCol`, `idCol`), a
    * match is a run of CONSECUTIVE rows whose types equal `types`,
    * with the last event within `horizon` (same unit as `tsCol`) of
    * the first. Any intervening event of another type between steps
    * kills the partial — fail–success–fail is NOT a match — which is
    * exactly why the whole match is k ADJACENT rows and one `lead()`
    * window pass computes it: one exchange on the user key, one sort,
    * no self-join (the oracle's rn-self-join spelling is the O(pairs)
    * contrast). CepSpec pins parity with the streaming engine on the
    * same events.
    *
    * Output: (user, step1_event .. stepK_event, first_ts, last_ts)
    * with the caller's `userCol` name preserved.
    */
  // both CEP formulations stage internal temp columns on the input
  // frame; a caller column with one of these names would be silently
  // overwritten, so the collision is rejected by name instead
  private def requireNoReservedCols(df: DataFrame, op: String): Unit = {
    val reserved = df.columns.filter(_.matches("^_(ch|nx|k\\d+|i\\d+|t\\d+)$"))
    require(reserved.isEmpty,
      s"$op: input columns [${reserved.mkString(", ")}] collide with " +
        "reserved internal temp names (_ch, _nx, _k<i>, _i<i>, _t<i>) — " +
        "rename them before calling")
  }

  def strictSequence(df: DataFrame, userCol: String, tsCol: String,
      idCol: String, typeCol: String, types: Seq[String],
      horizon: Long): DataFrame = {
    require(types.size >= 2, "strictSequence needs at least two steps")
    requireNoReservedCols(df, "strictSequence")
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol).asc, col(idCol).asc)
    val withLeads = types.indices.tail.foldLeft(df) { (acc, i) =>
      acc.withColumn(s"_k$i", lead(col(typeCol), i).over(w))
        .withColumn(s"_i$i", lead(col(idCol), i).over(w))
        .withColumn(s"_t$i", lead(col(tsCol), i).over(w))
    }
    val last = types.size - 1
    val stepsMatch = types.indices.tail
      .map(i => col(s"_k$i") === types(i))
      .foldLeft(col(typeCol) === types.head)(_ && _)
    withLeads
      .filter(stepsMatch && col(s"_t$last") - col(tsCol) <= horizon)
      .select(col(userCol) +:
        (col(idCol).as("step1_event") +: types.indices.tail.map(i =>
          col(s"_i$i").as(s"step${i + 1}_event"))) :+
        col(tsCol).as("first_ts") :+ col(s"_t$last").as("last_ts"): _*)
  }

  /** SESSION-GAP funnel matches — the batch formulation of
    * [[graft.streaming.Cep.withinSession]] with `strict = false`
    * (relaxed `followedBy` under a per-step gap bound): a match
    * chains one event per step where each step's event is the
    * EARLIEST event of that type strictly after the previous step's
    * event (by (`tsCol`, `idCol`) order) and within `gap` of it —
    * the engine's greedy first-acceptable-event advance, where a
    * nearer-but-never-completing next step genuinely kills the match
    * (the partial advanced into it and timed out), so "first within
    * gap, then require ITS chain to complete" is the semantics, not
    * an approximation.
    *
    * Plan shape: filter to the funnel's types (pushed to the scan),
    * then ONE exchange on the user key and k−1 stacked window passes
    * over the SAME (ts, id) DESC ordering (one sort; each pass
    * attaches to step-i rows the nearest following step-(i+1) row's
    * chain struct via `last(..., ignoreNulls)` over the preceding
    * frame). No joins, no per-pair blowup — the oracle's LATERAL
    * spelling is the contrast.
    *
    * Output shape matches [[strictSequence]].
    */
  def sessionFunnel(df: DataFrame, userCol: String, tsCol: String,
      idCol: String, typeCol: String, types: Seq[String],
      gap: Long): DataFrame = {
    require(types.size >= 2, "sessionFunnel needs at least two steps")
    require(types.distinct.size == types.size,
      "sessionFunnel steps must be distinct types (a row can carry " +
        "only one step's chain); repeated-type sequences are " +
        "strictSequence or streaming Cep territory")
    requireNoReservedCols(df, "sessionFunnel")
    // the id-chain element type follows the caller's idCol (hardcoding
    // long would fail analysis — or worse, miscast — on string ids)
    val idArrayType = org.apache.spark.sql.types.ArrayType(
      df.schema(idCol).dataType)
    val ev = df.filter(col(typeCol).isin(types: _*))
    // rows strictly AFTER the current one in ascending (ts, id) order
    // are exactly the PRECEDING rows under descending order
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol).desc, col(idCol).desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val k = types.size
    // chain struct on a step-i row: ok (its suffix completes within
    // per-step gaps), ids (step i..k event ids), last ts of step k
    val seeded = ev.withColumn("_ch",
      when(col(typeCol) === types(k - 1),
        struct(lit(true).as("ok"), array(col(idCol)).as("ids"),
          col(tsCol).as("lt"))))
    val chained = (k - 2 to 0 by -1).foldLeft(seeded) { (acc, i) =>
      val nxt = last(
        when(col(typeCol) === types(i + 1),
          struct(col(tsCol).as("ts"), col("_ch").as("ch"))),
        ignoreNulls = true).over(w)
      acc.withColumn("_nx", nxt)
        .withColumn("_ch",
          when(col(typeCol) === types(i),
            struct(
              (col("_nx").isNotNull &&
                col("_nx.ts") <= col(tsCol) + gap &&
                coalesce(col("_nx.ch.ok"), lit(false))).as("ok"),
              concat(array(col(idCol)),
                coalesce(col("_nx.ch.ids"),
                  array().cast(idArrayType))).as("ids"),
              col("_nx.ch.lt").as("lt")))
            .otherwise(col("_ch")))
        .drop("_nx")
    }
    chained
      .filter(col(typeCol) === types.head && col("_ch.ok"))
      .select(col(userCol) +:
        types.indices.map(i =>
          element_at(col("_ch.ids"), i + 1).as(s"step${i + 1}_event")) :+
        col(tsCol).as("first_ts") :+ col("_ch.lt").as("last_ts"): _*)
  }
}
