package graft

/** Benchmark main: runs every catalog query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line (driver contract → BENCH_r{N}.json).
  * Methodology (session config, noop sink, warmup, min-of-three with
  * raw per-run arrays) lives in [[BenchHarness]], shared with
  * [[BenchScale]].
  *
  * The one-shot SharedStages pair+cluster materialization for the
  * timed SF dir is timed EXPLICITLY as its own `shared_stage_build`
  * entry before the query loop (the BenchScale discipline): warmup
  * runs at sf0.001, so without this the build would land inside the
  * first timed consumer's run 1 and min-of-two would discard it — the
  * per-query numbers would be steady-state but the total would
  * silently exclude ~2s of real cold-start work.
  *
  * The JSON line is ALSO written to `bench_out.json` in the working
  * directory: the driver captures stdout with a bounded tail, which
  * has truncated past rounds' artifacts mid-JSON — the file copy is
  * never lossy.
  *
  * Two post-loop adjudications guard the artifact against machine
  * noise masquerading as regressions: within-run monotone ramps (leak
  * signature) and cross-round >2x drifts vs the previous round's
  * committed mins (the r12 q91 uniform-contention phantom). Both
  * retest suspects in a cleaned state and ship the retest arrays
  * in-band (`leak_retests`), naming only reproducing suspects in
  * `leak_suspects` / `drift_suspects`.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = BenchHarness.session()
    // a restricted run warms up and times only the named queries, for
    // exclusive single-query profiling
    val selected = BenchHarness.selectedQueries
    BenchHarness.warmup(spark, selected.keys)
    // the warmup alone runs every thunk once → one session's worth of
    // leaked localCheckpoint RDDs before timing even starts
    BenchHarness.drainLocalCheckpoints(spark)
    // per-entry job/stage/task counts (`probe_jst`), each covering the
    // entry's FULL timed run set
    val listener = new BenchHarness.JobListener(spark)
    val probeCounts =
      scala.collection.mutable.LinkedHashMap.empty[String, BenchHarness.JobCounts]
    def probed[A](name: String)(body: => A): A = {
      val (r, c) = listener.during(body)
      probeCounts(name) = c
      r
    }
    // A failed build or query run is a FAILED entry (-1.0, so it lands
    // in `failed`) whose exception class and message ride the full
    // line's `build_errors` under the entry's name — never a fast
    // success whose consumer then pays for the build inside its timed
    // run 1, and never a bare -1.0.
    val failures = new BenchHarness.Failures
    def timedBuild(name: String)(body: => Unit): Double =
      probed(name)(BenchHarness.timed(name, failures)(body))
    val stageBuild = timedBuild("shared_stage_build")(
      queries.SharedStages.clusters(spark, sfDir).count())
    // The lazy per-SF temp IVF-PQ indexes (session-cached by dir) are
    // built HERE as their own named *_index_build entries — the
    // BenchScale discipline. Warmup runs at sf0.001, so without this
    // q114/q129's first timed runs at the bench SF carried 9-11s of
    // one-time index construction: min-of-3 discarded it (steady
    // state was right) but the raw run arrays the adjudicator and
    // SCALE read showed a 4-8x run-1 outlier per round (VERDICT r12
    // "what's wrong" #2). Skipped when a restricted SPARK_GRAFT_ONLY
    // run doesn't time the consumer.
    val indexBuilds = Seq(
      ("q114_index_build", "q114_hybrid_retrieval_ivfpq",
        () => queries.PipelineQueries.hybridIvfPqDir(spark, sfDir)),
      ("q129_index_build", "q129_passage_retrieval_ivfpq",
        () => queries.PipelineQueries.passageIvfPqDir(spark, sfDir)),
      ("q141_index_build", "q141_hybrid_deployed_parity",
        () => queries.PipelineQueries.hybridBm25Dir(spark, sfDir)),
      ("q150_index_build", "q150_fold_gram_probe",
        () => queries.DedupQueries.foldedGramDir(spark, sfDir)),
      ("q153_index_build", "q153_fold_line_probe",
        () => queries.PipelineQueries.foldedLineDir(spark, sfDir)),
      // the session-cached BRUTE contrast stages the q114/q129 in-band
      // oracles read: built lazily on first use, which otherwise lands
      // inside the consumer's timed run 1 (q129's r13 run-1/min was
      // 3.6 with only the index pre-built — the brute passage stage
      // was the remaining cold cost)
      ("q112_stage_build", "q114_hybrid_retrieval_ivfpq",
        () => queries.SharedStages.hybridBrute(spark, sfDir).count()),
      ("q128_stage_build", "q129_passage_retrieval_ivfpq",
        () => queries.SharedStages.passageBrute(spark, sfDir).count()),
      ("q141_stage_build", "q141_hybrid_deployed_parity",
        () => queries.SharedStages.hybridIvfPq(spark, sfDir).count())
    ).collect { case (buildName, consumer, build) if selected.contains(consumer) =>
      buildName -> Seq(timedBuild(buildName)(build()))
    }
    BenchHarness.drainLocalCheckpoints(spark)
    // three timed runs per query; "queries" reports the min (the
    // steady-state plan cost), "runs" the raw per-run arrays so a
    // driver-load outlier is visible as [0.3, 6.1, 0.3], not as a
    // phantom regression. After each query's runs, drain the
    // localCheckpoint RDDs its thunks pinned (see
    // BenchHarness.drainLocalCheckpoints — without this the session
    // accretes pinned storage across 113×3 invocations and major-GC
    // pauses masquerade as per-query regressions; the r8 q56 finding).
    var drained = 0
    val raw = (("shared_stage_build" -> Seq(stageBuild)) +: indexBuilds) ++
      selected.toSeq.sortBy(_._1).map { case (name, _) =>
        val rs = probed(name)(BenchHarness.timedRuns(name, 3, failures)(
          () => SparkEntry.queries(name)(spark, sfDir)))
        drained += BenchHarness.drainLocalCheckpoints(spark)
        name -> rs
      }
    val results = raw.map { case (k, rs) => k -> BenchHarness.minOfRuns(rs) }
    val runs = raw.map { case (k, rs) =>
      "\"" + k + "\":" + rs.map(BenchHarness.num).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // A strictly monotone-increasing run array with meaningful growth
    // is a LEAK signature (state accreting across invocations in one
    // session — the round-7 q89 localCheckpoint lifecycle bug), not
    // jitter: jitter is symmetric, leaks only grow. But a CONTENDED
    // driver run produces the same single-sample signature when
    // machine load ramps during a query's three runs (the r10 q14/q39
    // false accusations — flat on a clean re-run). So the heuristic
    // self-adjudicates: each candidate is re-run once in a cleaned
    // state (drain + GC) and flagged only if the monotone signature
    // REPRODUCES — a real leak leaks again; contention is time-local.
    // Both the retest arrays and the confirmed list land in the
    // artifact so an adjudicated candidate stays visible. Retests run
    // BEFORE the cache teardown (a q92-class retest must read the
    // same warm shared stages its main-loop runs read — clearing the
    // cache first would put the full stage rebuild inside retest run 1
    // and bias adjudication toward exoneration), and the residual
    // assertion runs AFTER them so retest-created checkpoints cannot
    // escape it.
    val candidates = raw.collect {
      case (k, rs) if BenchHarness.monotoneLeak(rs) => k }
    def cleanRetest(k: String): Seq[Double] = {
      BenchHarness.drainLocalCheckpoints(spark)
      System.gc()
      val rs = BenchHarness.timedRuns(k, 3, failures)(
        () => SparkEntry.queries(k)(spark, sfDir))
      drained += BenchHarness.drainLocalCheckpoints(spark)
      rs
    }
    val (leaks, leakRetests) = BenchHarness.adjudicateLeaks(candidates, cleanRetest)
    // Cross-round drift adjudication (VERDICT r12 #1): the monotone
    // heuristic cannot see contention that is UNIFORM across a query's
    // three runs (the r12 q91 [4.99, 4.53, 4.65] phantom — 7.5x over
    // r11, flat, unretested, refuted by a clean run at 0.631s). So any
    // query whose min drifted >2x over the previous round's committed
    // mins is retested here, after the loop, in the same cleaned state
    // as a leak suspect — sharing a leak retest's array when the same
    // query tripped both heuristics. Retests must run BEFORE cache
    // teardown for the same reason leak retests do.
    val (priorMins, priorSource) = BenchHarness.loadPriorMins(sfDir)
    val driftCands = BenchHarness.driftCandidates(results, priorMins)
    val (drifts, driftRetests) = BenchHarness.adjudicateDrifts(
      driftCands, priorMins,
      k => leakRetests.getOrElse(k, cleanRetest(k)))
    val retests = leakRetests ++ driftRetests
    // Reported mins fold in successful retest runs: "min over every
    // observed run of this plan in this session" is the steady-state
    // definition, and it makes an exonerated phantom self-correcting —
    // the r12 q91 row would have shipped 0.63 (its clean retest min),
    // not 4.53, and the headline total would not carry 4s of machine
    // noise. Confirmed leaks/drifts are unaffected in spirit: their
    // retests reproduce the bad behavior, so folding cannot hide them
    // (and both lists still name them).
    val finalResults = results.map { case (k, v) =>
      val rv = retests.get(k).map(BenchHarness.minOfRuns)
      k -> (rv match {
        case Some(r) if r >= 0 && v >= 0 => math.min(v, r)
        case _ => v
      })
    }
    val qs = finalResults.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // the headline total sums only SUCCESSFUL rows: a -1.0 failure
    // marker must not subtract from (or silently shrink) the total —
    // failures are surfaced in their own array instead, so a failed
    // query can never make the round look cheaper (the r9 q92 artifact
    // bug)
    val failed = finalResults.collect { case (k, v) if v < 0 => k }
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = finalResults.collect { case (_, v) if v >= 0 => v }.sum
    // teardown: release the cache-owned Stages checkpoints (they are
    // drain-exempt by design — q92 reads q89's cached frames), then
    // assert NOTHING locally checkpointed remains pinned — a nonzero
    // count here means a new leak class (checkpoints created outside
    // query thunks and outside the registered caches)
    queries.CurationQueries.clearCache()
    drained += BenchHarness.drainLocalCheckpoints(spark)
    val residual = spark.sparkContext.getPersistentRDDs.values
      .count(BenchHarness.isLocallyCheckpointed)
    assert(residual == 0,
      s"bench teardown: $residual locally-checkpointed RDDs still " +
        "pinned after the final drain")
    val leaksJson = leaks.map("\"" + _ + "\"").mkString("[", ",", "]")
    val retestsJson = retests.toSeq.sortBy(_._1).map { case (k, rs) =>
      "\"" + k + "\":" + rs.map(BenchHarness.num).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val driftsJson = drifts.map("\"" + _ + "\"").mkString("[", ",", "]")
    // job/stage/task counts ride the FULL line + sidecar only (the
    // compact line stays small); BenchHarness.parseBenchMins strips
    // this object before its run-array fallback, like leak_retests and
    // build_errors
    val probeJson = probeCounts.map { case (k, c) =>
      "\"" + k + "\":[" + c.jobs + "," + c.stages + "," + c.tasks + "]"
    }.mkString("{", ",", "}")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"runs":$runs,"failed":$failedJson,"build_errors":${failures.json},"leak_suspects":$leaksJson,"drift_suspects":$driftsJson,"prior_source":"$priorSource","leak_retests":$retestsJson,"probe_jst":$probeJson,"drained_checkpoints":$drained,"sf":"$sfDir"}"""
    println(line)
    // COMPACT final line (VERDICT r16 #1): the full line above is
    // ~14 KB and the driver captures stdout with a bounded tail, so
    // its JSON parse has come back null since r12. This second line
    // carries the contract fields only — total, unit, per-query MINS
    // (3-decimal), failed, sf — no runs/retests (those stay in the
    // full line and the bench_out.json sidecar). Field order puts the
    // big "queries" object first and the scalars last, so even a tail
    // window too small for the whole line still shows intact
    // name:min pairs plus total/failed/sf.
    val qsCompact = finalResults
      .map { case (k, v) => "\"" + k + "\":" + BenchHarness.num(v) }
      .mkString("{", ",", "}")
    println(
      s"""{"metric":"total","unit":"sec","queries":$qsCompact,"value":$total,"failed":$failedJson,"sf":"$sfDir"}""")
    // restricted SPARK_GRAFT_ONLY dev runs must NOT overwrite the
    // sidecar: bench_out.json doubles as the next run's drift prior,
    // and a 3-query profiling run would clobber the full-catalog mins
    // the adjudication compares against
    if (BenchHarness.onlyQueries.isEmpty)
      try java.nio.file.Files.write(java.nio.file.Paths.get("bench_out.json"),
        (line + "\n").getBytes("UTF-8"))
      catch {
        case scala.util.control.NonFatal(e) => System.err.println(
          "Bench: bench_out.json not written — " +
            s"${e.getClass.getName}: ${e.getMessage}")
      }
    spark.stop()
  }
}
