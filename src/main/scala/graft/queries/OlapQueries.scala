package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{QueryDef, Tables}

/** Beyond-reference OLAP surface: sessionization (the reference has no
  * session windows — SURVEY.md §2.4 — but any user-behavior engine needs
  * them) and grouped subtotals.
  */
object OlapQueries {

  private val dec = DecimalType(18, 2)

  val all: Seq[QueryDef] = Seq(

    QueryDef(
      "q31_sessionization",
      "Gap-based sessionization via native session_window (30-min gap): " +
        "per-user sessions with event count + duration. Exactly-at-gap " +
        "events MERGE (verified empirically; oracle breaks on gap > " +
        "30min to match). One exchange on user_id; at scale session " +
        "assembly is a sort within partitions, no window-function " +
        "fan-out. Streaming twin comes free (session_window + watermark).",
      Some("""
WITH o AS (SELECT user_id, epoch_us(ts) AS us FROM events),
l AS (SELECT user_id, us,
             CASE WHEN lag(us) OVER w IS NULL
                    OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS brk
      FROM o WINDOW w AS (PARTITION BY user_id ORDER BY us)),
g AS (SELECT user_id, us,
             sum(brk) OVER (PARTITION BY user_id ORDER BY us
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM l)
SELECT user_id, min(us) AS sess_start_us, max(us) - min(us) AS dur_us,
       count(*) AS n_events
FROM g GROUP BY user_id, sid"""),
      (s, dir) =>
        // start/duration come from the events' own min/max timestamps,
        // not from session_window bounds — window.end bakes in the gap
        // constant, so deriving dur as end-start-gap would silently
        // break if the gap parameter ever changes without a paired
        // oracle edit. min/max aggregates are gap-independent.
        Tables.events(s, dir)
          .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
          .agg(count(lit(1)).as("n_events"),
            min(unix_micros(col("ts"))).as("sess_start_us"),
            (max(unix_micros(col("ts"))) -
              min(unix_micros(col("ts")))).as("dur_us"))
          .select(col("user_id"), col("sess_start_us"), col("dur_us"),
            col("n_events"))),

    QueryDef(
      "q33_asof_join",
      "As-of join (operators.AsOfJoin): each purchase matched to the " +
        "most recent view by the same user at or before it. Spark-side " +
        "is the single-sort union+window form — O(|L|+|R|) shuffle, no " +
        "pair explosion; the oracle is the O(pairs) join+rank spelling " +
        "of the same semantics (greatest view ts, then greatest view " +
        "event_id).",
      Some("""
WITH v AS (SELECT user_id, epoch_us(ts) AS us, event_id FROM events WHERE event_type = 'view'),
p AS (SELECT user_id, epoch_us(ts) AS us, event_id FROM events WHERE event_type = 'purchase'),
j AS (SELECT p.event_id AS purchase_id, p.user_id, p.us AS purchase_us,
             v.us AS view_us, v.event_id AS view_id,
             row_number() OVER (PARTITION BY p.event_id
                                ORDER BY v.us DESC, v.event_id DESC) AS rn
      FROM p JOIN v ON p.user_id = v.user_id AND v.us <= p.us)
SELECT purchase_id, user_id, purchase_us, view_us, view_id
FROM j WHERE rn = 1"""),
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("user_id"), expr("ts_ns div 1000").as("us"),
            col("event_id"), col("event_type"))
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("us"), col("event_id"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("us"),
            col("event_id").as("purchase_id"))
        graft.operators.AsOfJoin.asOf(
            purchases, views, keys = Seq("user_id"), tsCol = "us",
            tieCol = "event_id", rightPayload = Seq("us", "event_id"))
          .select(col("purchase_id"), col("user_id"),
            col("us").as("purchase_us"),
            col("right_us").as("view_us"),
            col("right_event_id").as("view_id"))
      }),

    QueryDef(
      "q34_value_percentiles",
      "Exact interpolated percentiles (p50/p95/p99) of event value per " +
        "type — Spark `percentile` and DuckDB `quantile_cont` share the " +
        "interpolation formula (verified bit-identical at sf0.01). Sort-" +
        "based aggregate, one exchange on 5 groups; the approx_percentile " +
        "t-digest is the swap-in at 100TB if exactness is negotiable.",
      Some("""
SELECT event_type,
       quantile_cont(value, 0.5) AS p50,
       quantile_cont(value, 0.95) AS p95,
       quantile_cont(value, 0.99) AS p99
FROM events GROUP BY event_type"""),
      (s, dir) =>
        Tables.events(s, dir)
          .groupBy(col("event_type"))
          .agg(expr("percentile(value, array(0.5, 0.95, 0.99))").as("p"))
          .select(col("event_type"), element_at(col("p"), 1).as("p50"),
            element_at(col("p"), 2).as("p95"),
            element_at(col("p"), 3).as("p99"))),

    QueryDef(
      "q47_percentiles_approx",
      "The q34 t-digest swap-in, delivered: approx_percentile (bounded " +
        "memory, mergeable — the 100TB path) next to the exact " +
        "percentile, with the estimate hash-checked in-band like " +
        "q25/q28 — in RANK space, the metric the GK sketch actually " +
        "bounds: each approx quantile must lie between the exact " +
        "quantiles at ±0.01 rank (a value-space bound would flake on " +
        "sparse tails, where adjacent order statistics are far apart). " +
        "The oracle computes the exact columns and expects the " +
        "predicate uniformly true.",
      Some("""
SELECT event_type,
       quantile_cont(value, 0.5) AS p50,
       quantile_cont(value, 0.95) AS p95,
       quantile_cont(value, 0.99) AS p99,
       true AS approx_ok
FROM events GROUP BY event_type"""),
      (s, dir) => {
        // ex holds exact quantiles at the targets AND at the ±0.01 rank
        // guard positions: [.5,.95,.99, .49,.51, .94,.96, .98, 1.0]
        def between(ap: org.apache.spark.sql.Column, lo: Int, hi: Int) =
          ap >= element_at(col("ex"), lo) && ap <= element_at(col("ex"), hi)
        Tables.events(s, dir)
          .groupBy(col("event_type"))
          .agg(expr("percentile(value, " +
              "array(0.5, 0.95, 0.99, 0.49, 0.51, 0.94, 0.96, 0.98, 1.0))")
              .as("ex"),
            expr("approx_percentile(value, array(0.5, 0.95, 0.99), 10000)")
              .as("ap"))
          .select(col("event_type"),
            element_at(col("ex"), 1).as("p50"),
            element_at(col("ex"), 2).as("p95"),
            element_at(col("ex"), 3).as("p99"),
            (between(element_at(col("ap"), 1), 4, 5) &&
              between(element_at(col("ap"), 2), 6, 7) &&
              between(element_at(col("ap"), 3), 8, 9)).as("approx_ok"))
      }),

    QueryDef(
      "q48_rolling_7d_features",
      "Time-RANGE rolling features (the other half of q36's ROWS " +
        "frames): per user, count and decimal-exact value sum over the " +
        "trailing 7 event-time days at every event. RANGE frames peer " +
        "rows by the microsecond order key, so ties aggregate " +
        "identically in both engines. One exchange on user_id, " +
        "in-partition sort — same scale shape as q36.",
      Some("""
SELECT event_id, user_id, epoch_us(ts) AS us,
       count(*) OVER w AS cnt_7d,
       (sum(value::DECIMAL(18,3)) OVER w)::DOUBLE AS sum_7d
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)"""),
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id")).orderBy(col("us").asc)
          .rangeBetween(-604800000000L, Window.currentRow)
        Tables.events(s, dir)
          .select(col("event_id"), col("user_id"), col("value"),
            expr("ts_ns div 1000").as("us"))
          .select(col("event_id"), col("user_id"), col("us"),
            count(lit(1)).over(w).as("cnt_7d"),
            sum(col("value").cast(DecimalType(18, 3))).over(w)
              .cast("double").as("sum_7d"))
      }),

    QueryDef(
      "q35_revenue_by_nation",
      "4-way join customer ⋈ orders ⋈ lineitem ⋈ nation (TPC-H Q5 " +
        "shape): lineitem⋈orders is the one big shuffle join (both sides " +
        "large, equi on orderkey); customer and nation broadcast. " +
        "Decimal-exact revenue per nation.",
      Some("""
SELECT n_name,
       sum(l_extendedprice::DECIMAL(18,2) * (1 - l_discount::DECIMAL(18,2)))::DOUBLE AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name"""),
      (s, dir) =>
        Tables.lineitem(s, dir)
          .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(Tables.customer(s, dir)),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(s, dir)),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(sum(col("l_extendedprice").cast(dec) *
              (lit(1) - col("l_discount").cast(dec)))
              .cast("double").as("revenue"),
            count(lit(1)).as("n_items"))),

    QueryDef(
      "q36_user_running_stats",
      "Per-user running features (training-pipeline staple): cumulative " +
        "event count, running value sum, and gap to the previous event — " +
        "lag/cumsum window functions over (user_id, ts). One exchange on " +
        "user_id, in-partition sort; value sums in DECIMAL for cross-" +
        "engine exactness, time in integer microseconds.",
      Some("""
SELECT event_id, user_id,
       count(*) OVER w AS n_so_far,
       (sum(value::DECIMAL(18,3)) OVER w)::DOUBLE AS value_sum,
       COALESCE(epoch_us(ts) - lag(epoch_us(ts)) OVER w, -1) AS gap_us
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING)"""),
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val ord = Window.partitionBy(col("user_id"))
          .orderBy(col("us").asc, col("event_id").asc)
        val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, dir)
          .select(col("event_id"), col("user_id"), col("value"),
            expr("ts_ns div 1000").as("us"))
          .select(col("event_id"), col("user_id"),
            count(lit(1)).over(cum).as("n_so_far"),
            sum(col("value").cast(DecimalType(18, 3))).over(cum)
              .cast("double").as("value_sum"),
            coalesce(col("us") - lag(col("us"), 1).over(ord), lit(-1L))
              .as("gap_us"))
      }),

    QueryDef(
      "q37_dedup_materialize",
      "The dedup pipeline's OUTPUT: the corpus with near-duplicates " +
        "removed — every doc that appears as the higher doc_id of a " +
        "q21 MinHash-LSH pair (jaccard >= 0.5) is dropped, keeping the " +
        "lowest-id representative per duplicate chain. This is what a " +
        "training job actually consumes; the pair list is the " +
        "intermediate (read from the SHARED materialized pair stage). " +
        "Left-anti join against the (small) pair side. " +
        "NOTE: pair-wise dropping can under-drop transitive chains " +
        "whose middle link is absent (A~C, B~C but no A~B keeps both " +
        "A and B) — q46's connected-components clustering is the " +
        "chain-exact keeper selection.",
      DedupQueries.all.find(_.name == "q21_dedup_minhash_lsh").get.oracle
        .map(pairSql => s"""
WITH pairs AS ($pairSql),
dup AS (SELECT DISTINCT doc_b FROM pairs)
SELECT d.doc_id, length(d.text) AS text_len
FROM documents d LEFT JOIN dup ON d.doc_id = dup.doc_b
WHERE dup.doc_b IS NULL"""),
      (s, dir) => {
        val pairs = SharedStages.minhashPairs(s, dir)
        graft.api.DedupOps.dropNearDuplicates(
            Tables.documents(s, dir), "doc_id", pairs)
          .select(col("doc_id"), length(col("text")).cast("long").as("text_len"))
      }),

    QueryDef(
      "q49_data_quality_report",
      "Data-quality report (Deequ-style constraint checking, the gate " +
        "before any training run): row counts, null counts, domain " +
        "violations, and referential-integrity orphan counts as one " +
        "(metric, value) frame. Each check is a partial-aggregated " +
        "scan or an anti-join on the FK — at 100TB the counts shuffle " +
        "O(1) partials and the orphan checks are plain equi-joins, so " +
        "the report costs one pass per table.",
      Some("""
SELECT 'lineitem_rows' AS metric, count(*)::BIGINT AS value FROM lineitem
UNION ALL
SELECT 'lineitem_null_orderkey', count(*) FILTER (WHERE l_orderkey IS NULL)::BIGINT FROM lineitem
UNION ALL
SELECT 'lineitem_qty_out_of_domain', count(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50)::BIGINT FROM lineitem
UNION ALL
SELECT 'lineitem_orphan_orders', count(*)::BIGINT
FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderkey IS NULL
UNION ALL
SELECT 'orders_rows', count(*)::BIGINT FROM orders
UNION ALL
SELECT 'orders_orphan_customer', count(*)::BIGINT
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_custkey IS NULL"""),
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        val ord = Tables.orders(s, dir)
        val cust = Tables.customer(s, dir)
        // all per-table checks ride ONE aggregation per table (then
        // unpivot via stack) — six separate global aggs would cost six
        // exchanges for what one scan can count
        val liStats = li.agg(
            count(lit(1)).as("n"),
            count(when(col("l_orderkey").isNull, 1)).as("nn"),
            count(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1))
              .as("nd"))
          .selectExpr("stack(3, 'lineitem_rows', n, " +
            "'lineitem_null_orderkey', nn, " +
            "'lineitem_qty_out_of_domain', nd) AS (metric, value)")
        val ordStats = ord.agg(count(lit(1)).as("n"))
          .selectExpr("stack(1, 'orders_rows', n) AS (metric, value)")
        def orphan(name: String, left: org.apache.spark.sql.DataFrame,
            rightKey: org.apache.spark.sql.DataFrame,
            cond: org.apache.spark.sql.Column) =
          left.join(rightKey, cond, "left_anti")
            .agg(count(lit(1)).as("value"))
            .select(lit(name).as("metric"), col("value"))
        liStats
          .unionAll(orphan("lineitem_orphan_orders", li,
            ord.select(col("o_orderkey")),
            col("l_orderkey") === col("o_orderkey")))
          .unionAll(ordStats)
          .unionAll(orphan("orders_orphan_customer", ord,
            cust.select(col("c_custkey")),
            col("o_custkey") === col("c_custkey")))
      }),

    QueryDef(
      "q51_range_band_join",
      "Point-in-interval lookup (IP-geo / price-band shape) as a " +
        "BUCKETIZED range join: each irregular [lo,hi) band explodes " +
        "to its covering fixed-width buckets, the probe side computes " +
        "its bucket map-only, and the join becomes a broadcast HASH " +
        "equi-join on bucket + residual filter. The naive BETWEEN " +
        "theta-join plans as BroadcastNestedLoop — every (row, band) " +
        "pair scanned; PlanSpec asserts the rewrite really produces a " +
        "hash join. Quadratic band edges i²·5 are exact in double.",
      Some("""
WITH bands AS (
  SELECT i::BIGINT AS band_id, (i*i*5)::DOUBLE AS lo, ((i+1)*(i+1)*5)::DOUBLE AS hi
  FROM generate_series(0, 9) t(i))
SELECT band_id, lo, hi, count(*) AS cnt,
       sum(value::DECIMAL(18,2))::DOUBLE AS value_sum
FROM events JOIN bands ON value >= lo AND value < hi
GROUP BY band_id, lo, hi"""),
      (s, dir) => {
        import s.implicits._
        val g = 32.0
        val bands = (0 until 10).map(i =>
          (i.toLong, i * i * 5.0, (i + 1) * (i + 1) * 5.0))
          .toDF("band_id", "lo", "hi")
        val expanded = bands.withColumn("bkt",
          explode(sequence(floor(col("lo") / g), floor(col("hi") / g))))
        Tables.events(s, dir)
          .withColumn("bkt", floor(col("value") / g))
          .join(broadcast(expanded), Seq("bkt"))
          .filter(col("value") >= col("lo") && col("value") < col("hi"))
          .groupBy(col("band_id"), col("lo"), col("hi"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("value").cast(dec)).cast("double").as("value_sum"))
      }),

    QueryDef(
      "q38_text_normalize",
      "Text normalization (training-corpus cleaning): lowercase, strip " +
        "non-alphanumerics, collapse whitespace — the canonical form fed " +
        "to tokenizers/dedup. Simple character classes only, so Java " +
        "regex (Spark) and RE2 (DuckDB) agree. Map-only, codegen'd.",
      Some("""
SELECT doc_id,
       trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                           ' +', ' ', 'g')) AS norm_text,
       length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                  ' +', ' ', 'g'))) AS norm_len
FROM documents"""),
      (s, dir) => {
        val norm = graft.api.TextOps.normalize(col("text"))
        Tables.documents(s, dir)
          .select(col("doc_id"), norm.as("norm_text"),
            length(norm).cast("long").as("norm_len"))
      }),

    QueryDef(
      "q32_rollup_revenue",
      "ROLLUP subtotals over (returnflag, linestatus) revenue — grouping-" +
        "sets surface. Catalyst expands to one Expand + hash aggregate " +
        "(still partial+final, one exchange). grouping() markers rendered " +
        "as '(all)' so both engines agree on subtotal rows without " +
        "cross-engine NULL-ordering hazards.",
      Some("""
SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN '(all)' ELSE l_returnflag END AS rf,
       CASE WHEN GROUPING(l_linestatus) = 1 THEN '(all)' ELSE l_linestatus END AS ls,
       sum(l_quantity::DECIMAL(18,2))::DOUBLE AS sum_qty,
       count(*) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)"""),
      (s, dir) =>
        Tables.lineitem(s, dir)
          .rollup(col("l_returnflag"), col("l_linestatus"))
          .agg(sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"),
            count(lit(1)).as("n"),
            grouping(col("l_returnflag")).as("g_rf"),
            grouping(col("l_linestatus")).as("g_ls"))
          .select(
            when(col("g_rf") === 1, lit("(all)"))
              .otherwise(col("l_returnflag")).as("rf"),
            when(col("g_ls") === 1, lit("(all)"))
              .otherwise(col("l_linestatus")).as("ls"),
            col("sum_qty"), col("n"))),

    QueryDef(
      "q57_json_extract",
      "Semi-structured columns: events.props is a JSON string; " +
        "from_json parses it ONCE into a typed struct (schema-on-read - " +
        "malformed rows become NULL, never a crash), then per-item " +
        "grouped stats. At 100TB parse-once beats N get_json_object " +
        "re-parses of the same blob, the projection prunes to the " +
        "parsed fields, and all aggregates are exact integers.",
      Some("""
SELECT json_extract(props, '$.k')::BIGINT AS item,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       min(event_id) AS first_event,
       max(event_id) AS last_event
FROM events GROUP BY 1"""),
      (s, dir) =>
        Tables.events(s, dir)
          .select(
            from_json(col("props"),
              org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField("k",
                  org.apache.spark.sql.types.LongType))))
              .getField("k").as("item"),
            col("user_id"), col("event_id"))
          .groupBy(col("item"))
          .agg(count(lit(1)).as("n_events"),
            countDistinct(col("user_id")).as("n_users"),
            min(col("event_id")).as("first_event"),
            max(col("event_id")).as("last_event"))),

    QueryDef(
      "q61_funnel_conversion",
      "Strict ordered funnel (EventOps.funnel): users reaching " +
        "view -> click -> purchase, each stage at-or-after the user's " +
        "previous-stage first-reach time. Per-stage co-partitioned " +
        "join + min-agg on user_id (one shuffle domain); each stage's " +
        "type filter pushes to the parquet scan; output is 3 rows.",
      Some("""
WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_type FROM events),
s0 AS (SELECT user_id, min(us) AS t FROM e WHERE event_type = 'view' GROUP BY 1),
s1 AS (SELECT e.user_id, min(e.us) AS t FROM e JOIN s0 USING (user_id)
       WHERE e.event_type = 'click' AND e.us >= s0.t GROUP BY 1),
s2 AS (SELECT e.user_id, min(e.us) AS t FROM e JOIN s1 USING (user_id)
       WHERE e.event_type = 'purchase' AND e.us >= s1.t GROUP BY 1)
SELECT 0 AS step, 'view' AS stage, count(*) AS n_users FROM s0
UNION ALL SELECT 1, 'click', count(*) FROM s1
UNION ALL SELECT 2, 'purchase', count(*) FROM s2"""),
      (s, dir) =>
        graft.api.EventOps.funnel(
          Tables.events(s, dir), "user_id", "ts", "event_type",
          Seq("view", "click", "purchase"))),

    QueryDef(
      "q62_retention_cohorts",
      "Cohort retention (EventOps.retention): users cohorted by first " +
        "active day; n_users active at each day offset per cohort. Two " +
        "exchanges, both on user_id (distinct active days, per-user " +
        "min), then a partial-agg rollup to cohort x offset rows.",
      Some("""
WITH d AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
c AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY 1)
SELECT cohort_day, day - cohort_day AS day_offset, count(*) AS n_users
FROM d JOIN c USING (user_id)
GROUP BY 1, 2"""),
      (s, dir) =>
        graft.api.EventOps.retention(
          Tables.events(s, dir)
            .select(col("user_id"),
              expr("ts_ns div 1000 div 86400000000").as("day")),
          "user_id", "day")),

    QueryDef(
      "q63_event_transitions",
      "First-order behavior transitions (EventOps.transitions): counts " +
        "of consecutive (prev, next) event-type pairs per user, ordered " +
        "by (event time, event_id). The lag window is PARTITIONED BY " +
        "user_id — never a global window — and the pair count collapses " +
        "to |types|^2 rows with map-side partial aggregation.",
      Some("""
WITH o AS (SELECT user_id, epoch_us(ts) AS us, event_id, event_type FROM events),
l AS (SELECT event_type AS next_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY us, event_id) AS prev_type
      FROM o)
SELECT prev_type, next_type, count(*) AS n_pairs
FROM l WHERE prev_type IS NOT NULL
GROUP BY 1, 2"""),
      (s, dir) =>
        graft.api.EventOps.transitions(
          Tables.events(s, dir), "user_id", "ts", "event_id",
          "event_type")),

    QueryDef(
      "q121_bucketed_join",
      "Co-located fact⋈fact join over BUCKETED tables (Sinks." +
        "bucketedTable): lineitem and orders are written ONCE bucketed " +
        "by their join key (8 buckets here; thousands at 100TB — the " +
        "layout investment), and the join then sort-merge-joins " +
        "co-located buckets with ZERO exchange on either side — the " +
        "repeated fact⋈fact join no broadcast can save, paid for at " +
        "write time instead of on every query (PlanSpec asserts the " +
        "single-exchange plan against the plain-parquet contrast; the " +
        "remaining sorts are bucket-local, SPARK-28595). The only " +
        "shuffle left is the 5-group priority rollup. Decimal-exact " +
        "revenue; " +
        "results are layout-independent, so the oracle is the plain " +
        "join. Tables build once per session+SF (the index-build " +
        "discipline) — every rerun pays only the read side, which is " +
        "the deployment story.",
      Some("""
SELECT o_orderpriority,
       sum(l_extendedprice::DECIMAL(18,2) * (1 - l_discount::DECIMAL(18,2)))::DOUBLE AS revenue,
       count(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1"""),
      (s, dir) => {
        val (li, ord) = bucketedPair(s, dir)
        s.table(li).hint("merge")
          .join(s.table(ord), col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(sum(col("l_extendedprice").cast(dec) *
              (lit(1) - col("l_discount").cast(dec)))
              .cast("double").as("revenue"),
            count(lit(1)).as("n_items"))
      }),

    QueryDef(
      "q132_bucket_pruned_read",
      "Point-ish read through the SAME bucketed layout q121 joins " +
        "over (one write serves both access patterns): look up a " +
        "handful of orders and their lineitems by key. The lookup " +
        "keys arrive as literal IN filters on the BUCKET column, so " +
        "the planner prunes to the buckets those keys hash to at " +
        "plan time — both scans read a strict subset of the 8 " +
        "buckets' files (PlanSpec asserts SelectedBucketsCount < 8 " +
        "on BOTH sides), and the merge join stays co-located and " +
        "exchange-free exactly as in q121. At 100 TB with thousands " +
        "of buckets this is the difference between a key lookup " +
        "scanning ~1/buckets of the fact table and scanning all of " +
        "it; the scan work tracks the KEY COUNT, not the corpus " +
        "(SCALE row). Keys derive deterministically (5 smallest " +
        "orderkeys divisible by 7 — a bounded 5-long driver collect " +
        "standing in for the request's keys); decimal-exact revenue, " +
        "layout-independent results, so the oracle is the plain join " +
        "with the same key CTE.",
      Some("""
WITH k AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 7 = 0
           ORDER BY o_orderkey LIMIT 5)
SELECT o_orderkey, o_orderpriority, count(*) AS n_items,
       sum(l_extendedprice::DECIMAL(18,2) * (1 - l_discount::DECIMAL(18,2)))::DOUBLE AS revenue
FROM orders JOIN k USING (o_orderkey)
JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY 1, 2"""),
      (s, dir) => {
        val (li, ord) = bucketedPair(s, dir)
        // literal keys are what make bucket pruning PLAN-TIME: an IN
        // over the bucketing column compiles to an optionalBucketSet
        // on the scan; a join against a keys frame would not prune
        val keys = s.table(ord).filter(col("o_orderkey") % 7 === 0)
          .select(col("o_orderkey")).orderBy(col("o_orderkey")).limit(5)
          .collect().map(_.getLong(0)).toSeq
        s.table(li).filter(col("l_orderkey").isin(keys: _*)).hint("merge")
          .join(s.table(ord).filter(col("o_orderkey").isin(keys: _*)),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderkey"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n_items"),
            sum(col("l_extendedprice").cast(dec) *
                (lit(1) - col("l_discount").cast(dec)))
              .cast("double").as("revenue"))
      }),

    QueryDef(
      "q122_zorder_box",
      "2-D box query over the Z-ORDERED layout (Sinks.zorderedLayout + " +
        "the native morton2 expression): events written once ordered by " +
        "the interleaved-bit Morton key of (user_id, time), so every " +
        "file and row group covers a tight box in both dimensions and " +
        "parquet min/max stats prune a predicate on EITHER axis — the " +
        "data-skipping layout for the 100TB table serving both " +
        "'this user' and 'this hour' reads without being written " +
        "twice (a single-column sort prunes only its leading column; " +
        "LayoutSpec measures the row-group skipping contrast). Bounds " +
        "are inlined literals (integer percentiles of the O(1) " +
        "min/max), so both filters reach the scan as PushedFilters " +
        "(PlanSpec asserts). Exact integer/min/max outputs; results " +
        "are layout-independent, so the oracle is the plain filter — " +
        "same bound arithmetic via scalar subqueries.",
      Some("""
WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_type, value FROM events),
b AS (SELECT min(user_id) AS umn, max(user_id) AS umx,
             min(us) AS tmn, max(us) AS tmx FROM e)
SELECT event_type, count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       min(value) AS v_min, max(value) AS v_max
FROM e, b
WHERE user_id BETWEEN umn + (umx - umn) * 30 // 100
                  AND umn + (umx - umn) * 45 // 100
  AND us BETWEEN tmn + (tmx - tmn) * 30 // 100
             AND tmn + (tmx - tmn) * 45 // 100
GROUP BY 1"""),
      (s, dir) => {
        val (path, uMin, uMax, tMin, tMax) = zorderedEvents(s, dir)
        def lo(mn: Long, mx: Long) = mn + (mx - mn) * 30 / 100
        def hi(mn: Long, mx: Long) = mn + (mx - mn) * 45 / 100
        s.read.parquet(path)
          .filter(col("user_id").between(lo(uMin, uMax), hi(uMin, uMax)) &&
            col("us").between(lo(tMin, tMax), hi(tMin, tMax)))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            countDistinct(col("user_id")).as("n_users"),
            min(col("value")).as("v_min"), max(col("value")).as("v_max"))
      }),

    QueryDef(
      "q130_strict_sequence",
      "STRICT-contiguity CEP sequence over the full event stream " +
        "(EventOps.strictSequence == streaming.Cep Pattern strict=true, " +
        "CepSpec-pinned parity): view -> click -> purchase as three " +
        "CONSECUTIVE per-user events (ordered by event-time µs then " +
        "event_id) with the purchase within 24h of the view. Any " +
        "intervening event of another type kills the partial — " +
        "fail-success-fail is NOT a match, the semantic q08's relaxed " +
        "lag-over-errors row never gated. Strictness makes the match " +
        "k adjacent rows, so the Spark side is ONE lead() window pass " +
        "(one exchange on user_id, one sort, no self-join); the " +
        "oracle is the O(pairs) rn-self-join spelling.",
      Some("""
WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type,
        row_number() OVER (PARTITION BY user_id
                           ORDER BY epoch_us(ts), event_id) AS rn
      FROM events)
SELECT a.user_id, a.event_id AS step1_event, b.event_id AS step2_event,
       c.event_id AS step3_event, a.us AS first_ts, c.us AS last_ts
FROM o a JOIN o b ON a.user_id = b.user_id AND b.rn = a.rn + 1
 JOIN o c ON a.user_id = c.user_id AND c.rn = a.rn + 2
WHERE a.event_type = 'view' AND b.event_type = 'click'
  AND c.event_type = 'purchase' AND c.us - a.us <= 86400000000"""),
      (s, dir) =>
        graft.api.EventOps.strictSequence(
          Tables.events(s, dir)
            .select(col("user_id"), col("event_id"),
              expr("ts_ns div 1000").as("us"), col("event_type")),
          "user_id", "us", "event_id", "event_type",
          Seq("view", "click", "purchase"), horizon = 86400000000L)),

    QueryDef(
      "q131_session_funnel",
      "SESSION-GAP CEP funnel (EventOps.sessionFunnel == streaming." +
        "Cep.withinSession relaxed, CepSpec-pinned parity): view -> " +
        "click -> purchase where each step is the EARLIEST event of " +
        "its type strictly after the previous step and within 24h of " +
        "IT (deadline advances per accepted step — the session " +
        "contract, not q130's fixed from-start horizon; a " +
        "slow-but-continuous funnel matches at any total span). " +
        "Greedy first-acceptable advance is the engine semantic: a " +
        "nearer click whose own purchase never arrives within gap " +
        "kills the match. Spark side: type filter pushed to the scan, " +
        "one exchange on user_id, k-1 stacked last(ignoreNulls) " +
        "window passes over one DESC sort — no joins; the oracle is " +
        "the LATERAL first-match spelling.",
      Some("""
WITH v AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events
           WHERE event_type = 'view'),
c AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events
      WHERE event_type = 'click'),
p AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events
      WHERE event_type = 'purchase')
SELECT v.user_id, v.event_id AS step1_event, fc.cid AS step2_event,
       fp.pid AS step3_event, v.us AS first_ts, fp.pus AS last_ts
FROM v,
  LATERAL (SELECT c.event_id AS cid, c.us AS cus FROM c
           WHERE c.user_id = v.user_id
             AND (c.us > v.us OR (c.us = v.us AND c.event_id > v.event_id))
             AND c.us <= v.us + 86400000000
           ORDER BY c.us, c.event_id LIMIT 1) fc,
  LATERAL (SELECT p.event_id AS pid, p.us AS pus FROM p
           WHERE p.user_id = v.user_id
             AND (p.us > fc.cus OR (p.us = fc.cus AND p.event_id > fc.cid))
             AND p.us <= fc.cus + 86400000000
           ORDER BY p.us, p.event_id LIMIT 1) fp"""),
      (s, dir) =>
        graft.api.EventOps.sessionFunnel(
          Tables.events(s, dir)
            .select(col("user_id"), col("event_id"),
              expr("ts_ns div 1000").as("us"), col("event_type")),
          "user_id", "us", "event_id", "event_type",
          Seq("view", "click", "purchase"), gap = 86400000000L))
  )

  /** Bucketed lineitem/orders external tables: the first consumer pays
    * the one-time layout shuffle, every later run joins co-located
    * buckets — which IS the bucketing deployment story. Table names
    * carry the session and dir hashes so distinct sessions/SFs never
    * collide in a shared catalog.
    */
  def bucketedPair(s: org.apache.spark.sql.SparkSession,
      dir: String): (String, String) = {
    val sfx = java.lang.Integer.toHexString(dir.hashCode) + "_" +
      java.lang.Integer.toHexString(System.identityHashCode(s))
    SharedStages.artifact(dir, s"bucketed-$sfx") { tmp =>
      val li = s"graft_li_$sfx"
      val ord = s"graft_ord_$sfx"
      graft.jobs.Sinks.bucketedTable(
        Tables.lineitem(s, dir), li, s"$tmp/lineitem", 8, "l_orderkey")
      graft.jobs.Sinks.bucketedTable(
        Tables.orders(s, dir), ord, s"$tmp/orders", 8, "o_orderkey")
      (li, ord)
    }
  }

  /** Z-ORDERED events layout (the [[bucketedPair]] discipline for the
    * data-skipping layout), built once per session+SF; returns the path
    * plus the integer min/max of both layout dimensions so callers
    * inline bound LITERALS — a filter built from a join would never
    * reach the scan as a PushedFilter.
    */
  def zorderedEvents(s: org.apache.spark.sql.SparkSession,
      dir: String): (String, Long, Long, Long, Long) = {
    val sid = java.lang.Integer.toHexString(System.identityHashCode(s))
    SharedStages.artifact(dir, s"zorder-$sid") { root =>
      val src = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
          expr("ts_ns div 1000").as("us"), col("event_type"), col("value"))
      val path = s"$root/events"
      graft.jobs.Sinks.zorderedLayout(src, path, "user_id", "us",
        numFiles = 8)
      val r = src.agg(min(col("user_id")), max(col("user_id")),
        min(col("us")), max(col("us"))).head()
      (path, r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
  }
}
