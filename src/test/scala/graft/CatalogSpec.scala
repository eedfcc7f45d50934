package graft

import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Per-operator invariants over the sf0.001 corpus. The DuckDB oracle
  * (scripts/check_oracle.py, driver gate) is the exact check; these
  * tests lock in structural semantics and determinism.
  */
class CatalogSpec extends SparkSpec {

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("session honors the SPARK_GRAFT_ANSI lane toggle") {
    // proves the env var actually reaches the forked test JVM — a
    // green ANSI-lane run is meaningless if the toggle silently
    // defaulted to false inside the fork
    val want = sys.env.getOrElse("SPARK_GRAFT_ANSI", "false")
    assert(spark.conf.get("spark.sql.ansi.enabled") == want)
  }

  test("catalog is well-formed: unique names, oracle keys subset") {
    val names = SparkEntry.catalog.map(_.name)
    assert(names.distinct.size == names.size)
    assert(SparkEntry.oracleSql.keySet.subsetOf(names.toSet))
  }

  test("EVERY catalog query carries a DuckDB oracle (no rows-only checks)") {
    // engine-specific outputs (sketches, trained models) verify via
    // in-band exact columns / invariants — there is no excuse for a
    // catalog entry the driver can't hash-check
    val missing = SparkEntry.catalog.filter(_.oracle.isEmpty).map(_.name)
    assert(missing.isEmpty, s"queries without oracle: $missing")
  }

  test("every query runs and returns rows at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("SharedStages.artifact: a build may build other keys") {
    // 64 inner keys inside one outer build: in one ConcurrentHashMap,
    // nested computeIfAbsent calls landing in the outer key's bin fail
    val dir = s"nest-${System.nanoTime}"
    val outer = graft.queries.SharedStages.artifact(dir, "outer") { _ =>
      (1 to 64).map(i =>
        graft.queries.SharedStages.artifact(dir, s"inner$i")(_ => i)).sum
    }
    assert(outer == (1 to 64).sum)
    assert(graft.queries.SharedStages.artifact(dir, "inner7")(_ => -1) == 7)
  }

  test("SharedStages.artifact: concurrent callers of one key build it once") {
    val dir = s"conc-${System.nanoTime}"
    val builds = new java.util.concurrent.atomic.AtomicInteger
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val calls = (1 to 4).map(_ => pool.submit(() => {
        start.await()
        graft.queries.SharedStages.artifact(dir, "once") { _ =>
          builds.incrementAndGet()
          Thread.sleep(100)
          "built"
        }
      }))
      start.countDown()
      assert(calls.map(_.get()) == Seq.fill(4)("built"))
      assert(builds.get == 1)
    } finally pool.shutdown()
  }

  test("SharedStages.artifact: a failed build is retried, then cached") {
    val dir = s"retry-${System.nanoTime}"
    var builds = 0
    def call(result: => String) =
      graft.queries.SharedStages.artifact(dir, "flaky") { _ =>
        builds += 1
        result
      }
    intercept[IllegalStateException](call(throw new IllegalStateException))
    assert(call("second") == "second")
    assert(call("third") == "second")
    assert(builds == 2)
  }

  test("q138 releases its index build's checkpoint") {
    // a cold key: a fresh copy of the fixture, so the invocation builds
    // the folded fingerprint index; only the probe's own delta
    // checkpoint may stay pinned (Bench/Verify drain it between
    // queries). Spark tracks persisted RDDs weakly and a GC would
    // release an unreachable one, so a poller holds every checkpointed
    // RDD it sees: what stays persisted is what the code never released.
    val cold = tempDir("graft-coldsf-").toFile
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(sf), cold)
    def checkpointed = spark.sparkContext.getPersistentRDDs.values
      .filter(BenchHarness.isLocallyCheckpointed)
    val before = checkpointed.map(_.id).toSet
    val seen = java.util.concurrent.ConcurrentHashMap
      .newKeySet[org.apache.spark.rdd.RDD[_]]()
    @volatile var polling = true
    val poller = new Thread(() =>
      while (polling) { checkpointed.foreach(seen.add); Thread.sleep(1) })
    poller.start()
    try assert(SparkEntry.queries("q138_fold_fingerprint_probe")(spark,
      cold.toString).count() > 0)
    finally { polling = false; poller.join() }
    checkpointed.foreach(seen.add)
    val pinned = seen.asScala.filter(r => !before(r.id) &&
      r.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE)
    pinned.foreach(_.unpersist(blocking = false))
    assert(pinned.size == 1, s"new local checkpoints: ${pinned.map(_.id)}")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q02 hot items: at most 3 per window, rank contiguous, counts ranked") {
    val rows = run("q02_hot_items_topn")
      .select("window_end", "cnt", "rn").collect()
    val byWindow = rows.groupBy(_.getLong(0))
    byWindow.foreach { case (_, ws) =>
      assert(ws.length <= 3)
      val sorted = ws.sortBy(_.getLong(2))
      assert(sorted.map(_.getLong(2)).toSeq == (1L to sorted.length))
      assert(sorted.map(_.getLong(1)).toSeq.reverse.sorted.reverse ==
        sorted.map(_.getLong(1)).toSeq) // cnt non-increasing with rank
    }
  }

  test("q02 is deterministic across runs") {
    val a = run("q02_hot_items_topn").collect().map(_.toString).sorted
    val b = run("q02_hot_items_topn").collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("q03 page views sum to total view events") {
    val total = Tables.events(spark, sf)
      .filter(col("event_type") === "view").count()
    val summed = run("q03_page_views").agg(sum("pv")).head().getLong(0)
    assert(summed == total)
  }

  test("q04 uv bounded by distinct users") {
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(run("q04_unique_visitors").agg(max("uv")).head().getLong(0) <= users)
  }

  test("q08 warnings respect the 1h bound and ordering") {
    run("q08_login_fail_consecutive").collect().foreach { r =>
      val first = r.getAs[Long]("first_ts"); val last = r.getAs[Long]("last_ts")
      assert(last >= first && last - first <= 3600)
    }
  }

  test("q09 one outcome per user, labels from the reference set") {
    val msgs = Set("payed successfully", "payed but already timeout",
      "payed but no create log", "order timeout")
    val rows = run("q09_order_timeout").collect()
    assert(rows.map(_.getAs[Long]("user_id")).distinct.length == rows.length)
    rows.foreach(r => assert(msgs.contains(r.getAs[String]("result_msg"))))
  }

  test("q10 reconcile tags consistent with side counts") {
    run("q10_tx_reconcile").collect().foreach { r =>
      val (p, c) = (r.getAs[Long]("pay_cnt"), r.getAs[Long]("receipt_cnt"))
      r.getAs[String]("tag") match {
        case "matched"           => assert(p > 0 && c > 0)
        case "unmatched_pay"     => assert(p > 0 && c == 0)
        case "unmatched_receipt" => assert(p == 0 && c > 0)
      }
    }
  }

  test("q13 interval join lag within [0, 1800]s") {
    run("q13_view_purchase_interval_join").collect().foreach { r =>
      val lag = r.getAs[Long]("lag_sec")
      assert(lag >= 0 && lag <= 1800)
    }
  }

  test("q15 dedup partitions the corpus") {
    val total = Tables.documents(spark, sf).count()
    assert(run("q15_dedup_exact").agg(sum("n_copies")).head().getLong(0) == total)
  }

  test("q17 quality buckets cover all docs") {
    val total = Tables.documents(spark, sf).count()
    assert(run("q17_quality_score").count() == total)
    val buckets = run("q17_quality_score").select("quality")
      .distinct().collect().map(_.getString(0)).toSet
    assert(buckets.subsetOf(Set("high", "medium", "low")))
  }

  test("q18 predicts only known languages") {
    val langs = Set("en", "es", "de", "zh", "fr")
    run("q18_lang_id").select("pred_lang").distinct().collect()
      .foreach(r => assert(langs.contains(r.getString(0))))
  }

  test("q20 ann: exactly 10 ranked neighbors per query, no self-match") {
    val rows = run("q20_ann_cosine_topk").collect()
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    byQ.foreach { case (q, ns) =>
      assert(ns.length == 10, s"qid=$q has ${ns.length}")
      assert(ns.map(_.getAs[Long]("rn")).sorted.toSeq == (1L to 10L))
      ns.foreach(r => assert(r.getAs[Long]("nid") != q))
    }
    assert(byQ.keySet == (0L until 50L).toSet)
  }
}
