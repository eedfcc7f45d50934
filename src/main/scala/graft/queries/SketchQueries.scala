package graft.queries

import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Queries driving the custom TypedImperativeAggregates — the two
  * SURVEY.md §4.2 must-build aggregation surfaces exercised end-to-end.
  */
object SketchQueries {

  val all: Seq[QueryDef] = Seq(

    QueryDef(
      "q27_topk_agg",
      "R1 via single-pass topk_agg aggregate (vs q02's WindowExec rank): " +
        "per-(window,item) counts then ONE hash-aggregate per window keeping " +
        "a bounded k-buffer — map-side partials ship <= k entries per " +
        "(window, mapper), no per-partition sort. Same rows as q02, so the " +
        "oracle doubles as an equivalence proof of the two formulations.",
      Some(ReferenceQueries.slidingOracle(
        "(SELECT ts, props FROM events WHERE event_type = 'view')",
        "json_extract(props, '$.k')::BIGINT", "item_id", 5, 12, Some(3))),
      (s, dir) => {
        graft.GraftExtensions.register(s)
        val counts = Tables.events(s, dir)
          .filter(col("event_type") === "view")
          .select(col("ts"),
            get_json_object(col("props"), "$.k").cast("long").as("item_id"))
          .groupBy(window(col("ts"), "60 minutes", "5 minutes"), col("item_id"))
          .agg(count(lit(1)).as("cnt"))
          .select(unix_timestamp(col("window.end")).as("window_end"),
            col("item_id"), col("cnt"))
        counts
          .groupBy(col("window_end"))
          .agg(expr("topk_agg(3, cnt, item_id)").as("top"))
          .select(col("window_end"), explode(col("top")).as("e"))
          .select(col("window_end"), col("e.key").as("item_id"),
            col("e.cnt").as("cnt"), col("e.rn").as("rn"))
      }),

    QueryDef(
      "q40_hot_items_two_level",
      "R1/W1 third formulation: tumbling 5-min pre-aggregation, then " +
        "bucket-level expansion into the 12 overlapping hour windows, " +
        "final sum + rank. The direct form (q02) expands EVENTS 12x " +
        "before the aggregate; this expands post-aggregate BUCKETS 12x " +
        "- shuffle volume drops from O(events-per-mapper x 12) partials " +
        "to O(buckets x items) + O(buckets x 12), decisive when events " +
        ">> buckets (100TB). Same oracle as q02 = equivalence proof.",
      Some(ReferenceQueries.slidingOracle(
        "(SELECT ts, props FROM events WHERE event_type = 'view')",
        "json_extract(props, '$.k')::BIGINT", "item_id", 5, 12, Some(3))),
      (s, dir) => {
        val buckets = Tables.events(s, dir)
          .filter(col("event_type") === "view")
          .select(col("ts"),
            get_json_object(col("props"), "$.k").cast("long").as("item_id"))
          .groupBy(window(col("ts"), "5 minutes"), col("item_id"))
          .agg(count(lit(1)).as("bcnt"))
          .select(unix_timestamp(col("window.end")).as("bend"),
            col("item_id"), col("bcnt"))
        val counts = buckets
          .select(col("item_id"), col("bcnt"),
            explode(array((0 until 12).map(k =>
              col("bend") + lit(k * 300L)): _*)).as("window_end"))
          .groupBy(col("window_end"), col("item_id"))
          .agg(sum(col("bcnt")).as("cnt"))
        counts
          .withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("window_end"))
              .orderBy(col("cnt").desc, col("item_id").asc)).cast("long"))
          .filter(col("rn") <= 3)
      }),

    QueryDef(
      "q28_uv_bloom",
      "A7 Bloom-bitmap UV (ref UvWithBloom.scala:62-103) as a mergeable " +
        "aggregate: fixed 2^18-bit bitmap per day-window, OR-merge partials, " +
        "occupancy-inversion estimate. The estimate is engine-specific, so " +
        "the oracle checks it in-band: exact count rides along " +
        "(verification column) and bloom_ok asserts " +
        "|bloom-exact| <= max(2, 10% of exact) as a hashed predicate; " +
        "tighter accuracy and merge laws live in SketchSpec.",
      Some("""
SELECT epoch(time_bucket(INTERVAL '1 day', ts::TIMESTAMP) + INTERVAL '1 day')::BIGINT AS window_end,
       count(DISTINCT user_id) AS uv_exact,
       true AS bloom_ok
FROM events GROUP BY 1"""),
      (s, dir) => {
        graft.GraftExtensions.register(s)
        // exact count is computed in its OWN aggregation and joined on
        // the (tiny) per-day result: a combined agg with countDistinct
        // would Expand-duplicate every event through the interpreted
        // ObjectHashAggregate the typed bloom aggregate forces (~10x
        // slower); split, the bloom path sees each row once and the
        // distinct dedup stays in whole-stage codegen.
        val ev = Tables.events(s, dir)
          .select(window(col("ts"), "1 day").as("w"), col("user_id"))
        val bloom = ev.groupBy(col("w"))
          .agg(expr("bloom_distinct(user_id, 262144)").as("uv_bloom"))
        val exact = ev.distinct().groupBy(col("w"))
          .agg(count(lit(1)).as("uv_exact"))
        bloom.join(exact, Seq("w"))
          .select(unix_timestamp(col("w.end")).as("window_end"),
            col("uv_exact"),
            (abs(col("uv_bloom") - col("uv_exact")) <=
              greatest(lit(2.0), col("uv_exact") * lit(0.10))).as("bloom_ok"))
      }),

    QueryDef(
      "q56_heavy_hitters",
      "Misra-Gries frequent-items summary (heavy_hitters aggregate): " +
        "bounded 48-counter sketch of item frequency per event_type over " +
        "RAW rows - partials ship <= 48 counters per (group, mapper), " +
        "never per-key rows; the 100TB hot-key finder. The sketch " +
        "content is partition-dependent, so the oracle checks the " +
        "THEOREM set in-band (mg_ok): every estimate under-counts by at " +
        "most delta, every key above delta is present, and " +
        "delta*(capacity+1) <= N - invariants of the merge algebra " +
        "(Agarwal et al., PODS'12), so the check holds under ANY " +
        "partitioning. Exact per-group row/key counts ride along as the " +
        "deterministic output.",
      Some("""
SELECT event_type, count(*) AS n_events,
       count(DISTINCT json_extract(props, '$.k')::BIGINT) AS n_keys,
       true AS mg_ok
FROM events GROUP BY event_type"""),
      (s, dir) => {
        graft.GraftExtensions.register(s)
        val cap = 48
        val ev = Tables.events(s, dir)
          .select(col("event_type"),
            get_json_object(col("props"), "$.k").cast("long").as("k"))
        val exact = ev.groupBy(col("event_type"), col("k"))
          .agg(count(lit(1)).as("cnt"))
        val sk = ev.groupBy(col("event_type"))
          .agg(expr(s"heavy_hitters($cap, k)").as("hh"),
            count(lit(1)).as("n_events"))
          .select(col("event_type"), col("n_events"),
            col("hh.delta").as("delta"), col("hh.items").as("items"))
        val est = sk.select(col("event_type"),
            explode(col("items")).as("it"))
          .select(col("event_type"), col("it.key").as("k"),
            col("it.est").as("est"))
        // MG only under-counts, so sketch keys are a subset of exact
        // keys: a left join from exact covers both directions.
        exact.join(est, Seq("event_type", "k"), "left")
          .join(broadcast(sk.select(col("event_type"), col("n_events"),
            col("delta"))), Seq("event_type"))
          .groupBy(col("event_type"))
          .agg(max(col("n_events")).as("n_events"),
            count(lit(1)).as("n_keys"),
            (every(when(col("est").isNull, col("cnt") <= col("delta"))
              .otherwise(col("est") <= col("cnt") &&
                col("cnt") - col("est") <= col("delta"))) &&
              max(col("delta") * (cap + 1)) <= max(col("n_events")))
              .as("mg_ok"))
      }),

    QueryDef(
      "q75_cms_freq",
      "Count-Min point-frequency sketch (cms_sketch aggregate + cms_est " +
        "probe): one 4x1024 counter grid over ALL item keys - fixed " +
        "32KB state, partials merge by element-wise add, so the grid is " +
        "identical under ANY partitioning (no randomness). The top-10 " +
        "hottest items (deterministic tie-break) probe the sketch; " +
        "cms_ok asserts the one-sided guarantee est >= exact and the " +
        "collision bound est - exact <= max(16, N/64) in-band, exact " +
        "counts ride along as the hashed output. Completes the sketch " +
        "family: Bloom/HLL (distinct), MG (heavy keys), t-digest " +
        "(quantiles), CMS (per-key frequency).",
      Some("""
WITH e AS (SELECT json_extract(props, '$.k')::BIGINT AS item FROM events),
x AS (SELECT item, count(*) AS n_exact FROM e GROUP BY 1)
SELECT item, n_exact, true AS cms_ok
FROM x ORDER BY n_exact DESC, item LIMIT 10"""),
      (s, dir) => {
        graft.GraftExtensions.register(s)
        val keyed = Tables.events(s, dir)
          .select(get_json_object(col("props"), "$.k").cast("long").as("item"))
        val sketch = keyed.agg(expr("cms_sketch(1024, 4, item)").as("sk"),
          count(lit(1)).as("n_total"))
        val probes = keyed.groupBy(col("item"))
          .agg(count(lit(1)).as("n_exact"))
          .orderBy(col("n_exact").desc, col("item").asc).limit(10)
        probes.crossJoin(broadcast(sketch))
          .select(col("item"), col("n_exact"),
            (expr("cms_est(sk, item, 1024, 4)") >= col("n_exact") &&
              expr("cms_est(sk, item, 1024, 4)") - col("n_exact") <=
                greatest(lit(16L), expr("n_total div 64"))).as("cms_ok"))
      }),

    QueryDef(
      "q100_hll_sketch_rollup",
      "Mergeable HLL sketch COLUMNS (Spark's Datasketches surface — " +
        "hll_sketch_agg / hll_union_agg / hll_sketch_estimate): " +
        "per-day distinct-user sketches, THEN the all-time distinct " +
        "estimate computed by UNIONING the daily sketches — the " +
        "re-aggregation pattern q25's approx_count_distinct cannot " +
        "express (its estimate is final). This is how a 100TB metrics " +
        "store works: persist a sketch per (day, dimension) partition " +
        "once, answer any rollup later by merging KB-sized sketches, " +
        "never rescanning events. Estimates are engine-specific, so " +
        "the oracle is in-band (q25's pattern): exact counts ride " +
        "along, approx_ok asserts the estimate within max(2, 10%); " +
        "the total row (window_end = 0) bound-checks the UNIONED " +
        "estimate against the global exact count.",
      Some("""
SELECT epoch(time_bucket(INTERVAL '1 day', ts::TIMESTAMP) + INTERVAL '1 day')::BIGINT AS window_end,
       count(DISTINCT user_id) AS uv_exact,
       true AS approx_ok
FROM events GROUP BY 1
UNION ALL
SELECT 0::BIGINT, count(DISTINCT user_id), true FROM events"""),
      (s, dir) => {
        val ev = Tables.events(s, dir)
        // materialize the daily sketches ONCE: both union branches
        // consume `daily`, and without the checkpoint each re-derives
        // the full events scan + sketch build — the exact rescan the
        // query's own claim rules out (q103's embed-once discipline)
        val daily = ev
          .groupBy(window(col("ts"), "1 day"))
          .agg(hll_sketch_agg(col("user_id")).as("sk"),
            countDistinct(col("user_id")).as("uv_exact"))
          .select(unix_timestamp(col("window.end")).as("window_end"),
            col("sk"), col("uv_exact"))
          .localCheckpoint()
        val dailyOut = daily.select(col("window_end"), col("uv_exact"),
          (abs(hll_sketch_estimate(col("sk")) - col("uv_exact")) <=
            greatest(lit(2.0), col("uv_exact") * lit(0.10))).as("approx_ok"))
        // the all-time row merges the DAILY SKETCHES — events are not
        // rescanned for the estimate; the exact column (verification
        // only) is the one global pass
        val total = daily.agg(hll_union_agg(col("sk")).as("sk"))
          .crossJoin(broadcast(
            ev.agg(countDistinct(col("user_id")).as("uv_exact"))))
          .select(lit(0L).as("window_end"), col("uv_exact"),
            (abs(hll_sketch_estimate(col("sk")) - col("uv_exact")) <=
              greatest(lit(2.0), col("uv_exact") * lit(0.10))).as("approx_ok"))
        dailyOut.unionByName(total)
      })
  )
}
