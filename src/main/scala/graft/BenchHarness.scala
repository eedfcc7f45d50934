package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The ONE benchmark methodology, shared by [[Bench]] (per-round driver
  * bench) and [[BenchScale]] (10× scale-stress): same session config,
  * same noop sink, same warmup, same timing discipline. SCALE.md's
  * comparability claim ("Bench's methodology") is true by construction
  * because both mains call these.
  */
object BenchHarness {

  /** ANSI-SQL lane toggle: `SPARK_GRAFT_ANSI=true` runs every session
    * (bench, verify, tests) under `spark.sql.ansi.enabled=true` —
    * Spark 4's strict arithmetic/cast semantics. The catalog is
    * ANSI-clean (the whole suite + all 116 hash oracles pass in both
    * lanes); the default stays non-ANSI so round-over-round bench
    * numbers remain comparable.
    */
  def ansiEnabled: String = sys.env.getOrElse("SPARK_GRAFT_ANSI", "false")

  /** Cluster-job-shaped local session: AQE on, shuffle partitions =
    * core count (not 200), codegen compile failures THROW (a silent
    * interpreted fallback would invalidate every number).
    */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.fallback", "false")
      .config("spark.sql.ansi.enabled", ansiEnabled)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** noop sink: every output row is fully computed and then discarded.
    * count() would let Catalyst prune the projection, so map-only
    * queries would time scan+count instead of their real work.
    */
  def exec(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** JIT/codegen warmup on the smallest SF so per-query numbers measure
    * the plan, not first-call classloading. A query that fails here is
    * named on stderr; its timed runs record the failure.
    */
  def warmup(spark: SparkSession, names: Iterable[String],
      warmDir: String = "/root/testdata/sf0.001"): Unit =
    names.foreach { q =>
      try exec(SparkEntry.queries(q)(spark, warmDir))
      catch {
        case NonFatal(e) => System.err.println(
          s"warmup: $q failed — ${e.getClass.getName}: ${e.getMessage}")
      }
    }

  /** Failed timed calls, `class: message` keyed by bench entry — the
    * full bench line's `build_errors` object. */
  final class Failures {
    private val byEntry =
      scala.collection.mutable.LinkedHashMap.empty[String, String]
    def record(entry: String, e: Throwable): Unit = synchronized {
      byEntry(entry) = s"${e.getClass.getName}: ${e.getMessage}"
    }
    def json: String = synchronized {
      byEntry.map { case (k, m) => "\"" + k + "\":" + jsonString(m) }
        .mkString("{", ",", "}")
    }
  }

  /** THE timed call of both benches: wall seconds of `body`, or -1.0
    * when it throws — the failure kept under `entry` in `failures`,
    * never discarded. */
  def timed(entry: String, failures: Failures)(body: => Unit): Double = {
    val t0 = System.nanoTime()
    try { body; (System.nanoTime() - t0) / 1e9 }
    catch { case NonFatal(e) => failures.record(entry, e); -1.0 }
  }

  /** `n` timed runs of a plan thunk, raw times in order. A failed run
    * short-circuits to a single -1.0 (its cause in `failures`). The
    * raw array is part of the bench artifact (bench_out.json `runs`):
    * a one-off 6× outlier under host load is then self-diagnosing
    * instead of reading as a regression.
    */
  def timedRuns(entry: String, n: Int, failures: Failures)(
      build: () => DataFrame): Seq[Double] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (out.size < n && (out.isEmpty || out.last >= 0))
      out += timed(entry, failures)(exec(build()))
    out.toSeq
  }

  /** min over raw runs: JIT/GC jitter at local scale is larger than
    * most plan differences; the min is the steady-state cost of the
    * plan itself. -1.0 marks a failed query.
    */
  def minOfRuns(rs: Seq[Double]): Double =
    if (rs.isEmpty || rs.exists(_ < 0)) -1.0 else rs.min

  /** min of two timed runs of a plan thunk (BenchScale's per-SF rows
    * and const-delta probes; Bench proper uses three runs and reports
    * the raw array too).
    */
  def minOf2(entry: String, failures: Failures)(
      build: () => DataFrame): Double =
    minOfRuns(timedRuns(entry, 2, failures)(build))

  /** Leak signature on a raw run array: strictly monotone-increasing
    * with meaningful growth (≥1.2× first→last and ≥0.2s absolute).
    * Jitter is symmetric; state accreting across invocations in one
    * session only grows (the round-7 q89 localCheckpoint class). A
    * single sample of this signature is also what a CONTENDED machine
    * produces when load ramps during the three runs (the r10 q14/q39
    * false accusation), which is why [[adjudicateLeaks]] requires the
    * signature to reproduce before the artifact names a suspect.
    */
  def monotoneLeak(rs: Seq[Double]): Boolean =
    rs.size >= 3 && rs.forall(_ >= 0) &&
      rs.zip(rs.tail).forall { case (a, b) => b > a } &&
      rs.last >= rs.head * 1.2 && rs.last - rs.head >= 0.2

  /** Self-adjudicating leak flagging: a candidate (first-pass
    * [[monotoneLeak]] hit) is confirmed only if a FRESH retest of the
    * same thunk reproduces the monotone signature. A real leak leaks
    * again — the retest ramps exactly like the first pass. Contention
    * noise is time-local — the odds the machine ramps again during
    * that query's retest are the odds the first hit was wrong.
    * Returns (confirmed, retest arrays for the artifact — an empty
    * map means no candidate needed adjudication).
    */
  def adjudicateLeaks(candidates: Seq[String],
      retest: String => Seq[Double]): (Seq[String], Map[String, Seq[Double]]) = {
    val retests = candidates.map(k => k -> retest(k)).toMap
    (candidates.filter(k => monotoneLeak(retests(k))), retests)
  }

  // ---- cross-round drift adjudication (VERDICT r12 "what's wrong" #1) ----
  //
  // The within-run monotoneLeak heuristic is blind to CONTENTION THAT IS
  // UNIFORM across a query's three runs: the r12 driver artifact shipped
  // q91 at [4.99, 4.53, 4.65] — 7.5x over r11's 0.602 — and no retest
  // fired because nothing ramped. The judge's clean run measured 0.631s:
  // a phantom regression survived adjudication. The fix is a SECOND
  // heuristic keyed on the previous round's committed per-query mins:
  // any query whose current min drifts >2x over its prior min is
  // retested after the loop exactly like a leak suspect, and the retest
  // ships in-band so the artifact self-adjudicates.

  /** Per-query steady-state mins out of a bench artifact string. Two
    * shapes: a FULL bench line carries a `"queries"` object of scalar
    * mins (bench_out.json, or a driver artifact whose `parsed` field
    * captured the line); a driver artifact whose stdout tail TRUNCATED
    * mid-line (the r12 BENCH_r12.json shape — 2000-char `tail`, parsed
    * null) still carries per-query raw RUN arrays for the suffix of the
    * alphabetical query loop, so the fallback mins each intact
    * `"name":[...]` array (a leading partial array has no intact
    * `"name":[` prefix and is skipped). Escaped quotes (`\"` inside the
    * artifact's JSON-string tail) are normalized first, and the
    * query-keyed non-runs objects (`leak_retests`, `build_errors`,
    * `probe_jst`) are STRIPPED before the fallback scan, including a
    * headless remainder the tail cut — their entries would otherwise
    * be ingested as that query's runs (ADVICE r13).
    */
  def parseBenchMins(text: String): Map[String, Double] = {
    val t = text.replace("\\\"", "\"")
    val qObj = """"queries"\s*:\s*\{([^}]*)\}""".r
    val pair = """"([A-Za-z0-9_]+)"\s*:\s*(-?[0-9.]+)""".r
    qObj.findFirstMatchIn(t) match {
      case Some(m) =>
        pair.findAllMatchIn(m.group(1))
          .map(p => p.group(1) -> p.group(2).toDouble).toMap
      case None =>
        // a tail that starts INSIDE the object the line emits just
        // before `drained_checkpoints` (probe_jst; leak_retests before
        // r17), its `"name":{` prefix cut off, leads with that
        // object's headless remainder: drop it up to its first `}`
        val body = t.substring(
          """"tail"\s*:\s*"""".r.findFirstMatchIn(t).fold(0)(_.end))
        val cut = """^[^{]*?\}(?=\s*,\s*"drained_checkpoints")""".r
          .findPrefixMatchOf(body).fold(0)(_.end)
        // then strip every known query-keyed NON-RUNS object before the
        // fallback scan (ADVICE r13): leak_retests (retest run arrays),
        // build_errors and probe_jst (job/stage/task counts — r17)
        // would otherwise be ingested as that query's run times
        val runsText =
          """"(?:leak_retests|build_errors|probe_jst)"\s*:\s*\{[^}]*\}""".r
            .replaceAllIn(body.substring(cut), "")
        val arr = """"([A-Za-z0-9_]+)"\s*:\s*\[([\-0-9.,\sEe]+)\]""".r
        arr.findAllMatchIn(runsText).flatMap { m =>
          val runs = m.group(2).split(",").toSeq
            .flatMap(s => scala.util.Try(s.trim.toDouble).toOption)
          val mn = minOfRuns(runs)
          if (runs.nonEmpty && mn >= 0) Some(m.group(1) -> mn) else None
        }.toMap
    }
  }

  /** True iff the artifact text declares the same SF as `sfBase`
    * (e.g. "sf0.1"). Two declared forms: the bench line's
    * `"sf":"/root/testdata/sf0.1"` (string path) and the driver
    * artifact's top-level `"sf": 0.1` (number). An artifact declaring
    * NEITHER is untrusted — cross-SF mins would flag every query.
    */
  def sfMatches(text: String, sfBase: String): Boolean = {
    val asPath = """"sf"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(text)
      .map(m => java.nio.file.Paths.get(m.group(1)).getFileName.toString)
    val asNum = """"sf"\s*:\s*([0-9.]+)""".r.findFirstMatchIn(text)
      .map(m => "sf" + m.group(1))
    (asPath.toSeq ++ asNum.toSeq).contains(sfBase)
  }

  /** Previous-round per-query mins for drift comparison, best source
    * first: (1) `bench_out.json` — the full line left by the most
    * recent bench run on this checkout (driver or judge; gitignored
    * but persistent), (2) the highest-numbered committed
    * `BENCH_r{N}.json` driver artifact (tail-parse). Both are
    * SF-gated. Returns (mins, source label) — empty mins disables
    * drift adjudication rather than guessing.
    */
  def loadPriorMins(sfDir: String, cwd: String = "."): (Map[String, Double], String) = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val sfBase = Paths.get(sfDir).getFileName.toString
    def readIfUseful(p: java.nio.file.Path): Option[Map[String, Double]] =
      scala.util.Try(new String(Files.readAllBytes(p), "UTF-8")).toOption
        .filter(sfMatches(_, sfBase)).map(parseBenchMins).filter(_.nonEmpty)
    val sidecar = Paths.get(cwd, "bench_out.json")
    val fromSidecar =
      if (Files.exists(sidecar)) readIfUseful(sidecar).map((_, "bench_out.json"))
      else None
    fromSidecar.orElse {
      val rx = """BENCH_r(\d+)\.json""".r
      val artifacts = scala.util.Try {
        val st = Files.list(Paths.get(cwd))
        try st.iterator().asScala.toSeq finally st.close()
      }.getOrElse(Seq.empty)
        .flatMap { p =>
          p.getFileName.toString match {
            case rx(n) => Some((n.toInt, p))
            case _ => None
          }
        }.sortBy(-_._1)
      artifacts.view.flatMap { case (_, p) =>
        readIfUseful(p).map((_, p.getFileName.toString))
      }.headOption
    }.getOrElse((Map.empty, "none"))
  }

  /** Queries whose current min drifted ≥`factor` over the prior
    * round's min (and by ≥`absFloor` seconds absolute, so sub-100ms
    * jitter never flags). `*_build` rows (shared_stage_build, the
    * `*_index_build` entries) are excluded — cold one-shot builds
    * legitimately vary with cache state and run only once, so a
    * retest could not reproduce their cost anyway. Failed rows (-1)
    * are excluded — they ship in `failed` already.
    */
  def driftCandidates(current: Seq[(String, Double)], prior: Map[String, Double],
      factor: Double = 2.0, absFloor: Double = 0.2): Seq[String] =
    current.collect { case (k, cur)
      if !k.endsWith("_build") && cur >= 0 &&
        prior.get(k).exists(p => p > 0 && cur >= p * factor && cur - p >= absFloor) => k
    }.sorted

  /** Drift twin of [[adjudicateLeaks]]: each candidate is retested in
    * a cleaned state and confirmed only if the RETEST min still drifts
    * ≥`factor` over the prior min — uniform contention in the main
    * loop (the q91 phantom) vanishes on a quiet retest, a real plan
    * regression reproduces. A retest that FAILS (-1) stays confirmed:
    * a query that passed the main loop but dies on retest is exactly
    * what the artifact must not hide.
    */
  def adjudicateDrifts(candidates: Seq[String], prior: Map[String, Double],
      retest: String => Seq[Double], factor: Double = 2.0,
      absFloor: Double = 0.2): (Seq[String], Map[String, Seq[Double]]) = {
    val retests = candidates.map(k => k -> retest(k)).toMap
    val confirmed = candidates.filter { k =>
      val m = minOfRuns(retests(k))
      m < 0 || prior.get(k).exists(p => m >= p * factor && m - p >= absFloor)
    }
    (confirmed, retests)
  }

  /** Release every locally-checkpointed RDD still pinned on the
    * context. localCheckpoint persists its RDD for the LIFE of the
    * session (the q89 round-7 lesson, generalized): a bench loop
    * re-invoking every catalog thunk 3× each creates fresh checkpoint
    * RDDs per invocation and never references the old ones again —
    * they accrete until the 8g driver heap is mostly pinned storage
    * and multi-second major GCs land on whichever query is running
    * (the r8 q56/q32/q102 third-run spikes). Draining after each
    * query's runs is semantics-free for thunk-private checkpoints: no
    * thunk invocation can see a PREVIOUS invocation's checkpoint (each
    * builds its own), and cacheManager `.persist()` caches — which ARE
    * legitimately shared across runs and queries — are left untouched
    * (`isLocallyCheckpointed` is false for them). The ONE cross-query
    * sharing shape that argument does not cover — long-lived session
    * caches of checkpointed frames (q92 reads q89's cached
    * CurationPipeline Stages) — is handled by the
    * [[graft.api.Lifecycle]] cache-owned registry: owners register
    * their live checkpoint RDD ids and the drain skips them (the
    * round-9 q92 -1.0 lesson — draining a cache-owned checkpoint
    * truncates lineage on a frame a LATER query still reads,
    * unrecoverably). The leak bound survives because owners release
    * the old run's ids on every refresh. Returns the number of RDDs
    * released so the bench artifact can report drain activity.
    */
  def drainLocalCheckpoints(spark: SparkSession): Int = {
    val pinned = spark.sparkContext.getPersistentRDDs.values
      .filter(r => isLocallyCheckpointed(r) &&
        !graft.api.Lifecycle.isCacheOwned(r.id)).toSeq
    pinned.foreach(_.unpersist(blocking = false))
    pinned.size
  }

  /** RDD.isLocallyCheckpointed is `private[rdd]` at the Scala level
    * but (like all Scala package-private members) a public method in
    * bytecode — one reflective handle keeps the drain dependent only
    * on Spark's own lifecycle flag, not on storage-level heuristics
    * that would also match legitimate `.persist()` caches.
    */
  private val locallyCheckpointedM =
    classOf[org.apache.spark.rdd.RDD[_]].getMethod("isLocallyCheckpointed")
  def isLocallyCheckpointed(rdd: org.apache.spark.rdd.RDD[_]): Boolean =
    locallyCheckpointedM.invoke(rdd).asInstanceOf[Boolean]

  /** `m` as a JSON string literal (quotes, backslashes and control
    * characters escaped).
    */
  def jsonString(m: String): String = "\"" + m.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Locale-safe fixed-ish decimal rendering for the JSON contract
    * lines: Double.toString never uses the JVM default locale, while
    * an f-interpolator `%.3f` under a comma-decimal locale would emit
    * invalid JSON.
    */
  def num(x: Double): String = (math.rint(x * 1000) / 1000).toString
}
