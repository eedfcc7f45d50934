package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The bench leak heuristic and its self-adjudication (VERDICT r10
  * #2): a contended first pass must not ship `leak_suspects` a clean
  * retest refutes, while a REAL leak — state accreting across thunk
  * invocations in one session — must still be flagged.
  */
class BenchSpec extends SparkSpec {

  test("monotoneLeak: signature cases, including the r10 false accusations") {
    // the r10 driver-run arrays that were flagged — monotone, so they
    // ARE candidates (adjudication, not the signature, exonerates them)
    assert(BenchHarness.monotoneLeak(Seq(2.20, 2.74, 3.09)))
    assert(BenchHarness.monotoneLeak(Seq(0.97, 1.23, 4.36)))
    // the same queries' clean-run arrays: not monotone, never candidates
    assert(!BenchHarness.monotoneLeak(Seq(1.25, 0.99, 1.32)))
    assert(!BenchHarness.monotoneLeak(Seq(0.69, 0.36, 0.39)))
    // symmetric jitter, equal runs, tiny growth, failures, short arrays
    assert(!BenchHarness.monotoneLeak(Seq(1.0, 1.5, 1.2)))
    assert(!BenchHarness.monotoneLeak(Seq(1.0, 1.0, 1.0)))
    assert(!BenchHarness.monotoneLeak(Seq(0.10, 0.11, 0.13))) // < 0.2s abs
    assert(!BenchHarness.monotoneLeak(Seq(5.0, 5.2, 5.5)))    // < 1.2x ratio
    assert(!BenchHarness.monotoneLeak(Seq(1.0, 2.0, -1.0)))
    assert(!BenchHarness.monotoneLeak(Seq(1.0, 2.0)))
  }

  test("adjudicateLeaks: flat retest exonerates, monotone retest confirms") {
    val retests = Map(
      "q_contended" -> Seq(0.9, 1.0, 0.95), // machine load passed
      "q_leaky" -> Seq(1.1, 1.5, 2.0))      // leaks again on retest
    val (confirmed, recorded) = BenchHarness.adjudicateLeaks(
      Seq("q_contended", "q_leaky"), retests(_))
    assert(confirmed == Seq("q_leaky"))
    // both retest arrays are recorded for the artifact either way
    assert(recorded == retests)
    // no candidates => no retest calls, empty artifact map
    val (none, empty) = BenchHarness.adjudicateLeaks(Seq.empty,
      _ => fail("retest must not run without candidates"))
    assert(none.isEmpty && empty.isEmpty)
  }

  test("cross-round drift: the r12 q91 uniform-contention phantom is " +
      "invisible to monotoneLeak, caught by driftCandidates, retested, " +
      "and exonerated") {
    // the actual r12 driver numbers: q91 [4.99, 4.53, 4.65] — uniform
    // (non-monotone) 7.5x inflation over r11's committed 0.602 min.
    val driverRuns = Seq(4.99, 4.53, 4.65)
    assert(!BenchHarness.monotoneLeak(driverRuns),
      "uniform contention must NOT trip the within-run heuristic " +
        "(that blindness is exactly why the drift heuristic exists)")
    val prior = Map("q91_lm_score_against_model" -> 0.602,
      "q25_uv_approx" -> 0.5, "q56_heavy_hitters" -> 0.3)
    val current = Seq(
      "shared_stage_build" -> 9.9,              // excluded by design
      "q91_lm_score_against_model" -> BenchHarness.minOfRuns(driverRuns),
      "q25_uv_approx" -> 0.65,                  // 1.3x: under the bar
      "q56_heavy_hitters" -> 0.45,              // 1.5x and < 0.2s abs
      "q_new_this_round" -> 5.0,                // no prior: never flagged
      "q_failed" -> -1.0)                       // failures ship in `failed`
    assert(BenchHarness.driftCandidates(current, prior) ==
      Seq("q91_lm_score_against_model"))
    // the clean retest (judge's measured run: min 0.631) exonerates —
    // and a retest that still drifts confirms
    var retested = List.empty[String]
    val (confirmed, recorded) = BenchHarness.adjudicateDrifts(
      Seq("q91_lm_score_against_model"), prior, { k =>
        retested ::= k; Seq(1.055, 0.655, 0.631) })
    assert(retested == List("q91_lm_score_against_model"),
      "a drift candidate must actually be retested")
    assert(confirmed.isEmpty,
      s"clean retest must exonerate the phantom: $confirmed")
    assert(recorded("q91_lm_score_against_model") == Seq(1.055, 0.655, 0.631))
    val (stillBad, _) = BenchHarness.adjudicateDrifts(
      Seq("q91_lm_score_against_model"), prior,
      _ => Seq(4.8, 4.6, 4.7))
    assert(stillBad == Seq("q91_lm_score_against_model"),
      "a reproducing drift is a real regression and must stay flagged")
    // a retest that FAILS outright must stay flagged, not vanish
    val (failConfirmed, _) = BenchHarness.adjudicateDrifts(
      Seq("q91_lm_score_against_model"), prior, _ => Seq(-1.0))
    assert(failConfirmed == Seq("q91_lm_score_against_model"))
    // no candidates => retest never invoked
    val (none, empty) = BenchHarness.adjudicateDrifts(Seq.empty, prior,
      _ => fail("retest must not run without candidates"))
    assert(none.isEmpty && empty.isEmpty)
  }

  test("parseBenchMins: full bench line takes the queries object; a " +
      "truncated driver tail falls back to minning intact run arrays") {
    val fullLine = """{"metric":"total","value":9.9,"unit":"sec",""" +
      """"queries":{"shared_stage_build":1.5,"q01_pricing_summary":0.35,""" +
      """"q91_lm_score_against_model":0.602},""" +
      """"runs":{"q01_pricing_summary":[0.5,0.35,0.4],""" +
      """"q91_lm_score_against_model":[0.7,0.602,0.61]},""" +
      """"failed":[],"sf":"/root/testdata/sf0.1"}"""
    assert(BenchHarness.parseBenchMins(fullLine) == Map(
      "shared_stage_build" -> 1.5, "q01_pricing_summary" -> 0.35,
      "q91_lm_score_against_model" -> 0.602))
    // the BENCH_r12.json shape: an escaped JSON-string tail starting
    // MID-ARRAY (the partial leading array has no intact name prefix
    // and must be skipped), no "queries" object in view
    val tail = """{"n":12,"rc":0,"sf": 0.1,"tail":".62],""" +
      """\"q58_keeper_by_quality\":[0.41,0.266,0.268],""" +
      """\"q91_lm_score_against_model\":[4.99,4.53,4.65],""" +
      """\"failed\":[],\"drained_checkpoints\":77","parsed":null}"""
    val mins = BenchHarness.parseBenchMins(tail)
    assert(mins == Map("q58_keeper_by_quality" -> 0.266,
      "q91_lm_score_against_model" -> 4.53), s"got $mins")
    // a truncated tail that carries a COMPLETE leak_retests object: its
    // query-keyed numeric arrays must NOT be ingested as runs (here the
    // retest [9.9] would otherwise mask q58's real run array) — the
    // fallback strips the known non-runs object first (ADVICE r13)
    val tailWithRetests = """{"n":13,"rc":0,"sf": 0.1,"tail":".62],""" +
      """\"q58_keeper_by_quality\":[0.41,0.266,0.268]},""" +
      """\"failed\":[],\"leak_retests\":{\"q58_keeper_by_quality\":[9.9]},""" +
      """\"drained_checkpoints\":77","parsed":null}"""
    val mins2 = BenchHarness.parseBenchMins(tailWithRetests)
    assert(mins2 == Map("q58_keeper_by_quality" -> 0.266), s"got $mins2")
    // same for the r17 probe_jst job/stage/task object: [64,64,1275]
    // must not be read as a 64-second run array
    val tailWithProbe = """{"n":17,"rc":0,"sf": 0.1,"tail":".62],""" +
      """\"q58_keeper_by_quality\":[0.41,0.266,0.268]},""" +
      """\"probe_jst\":{\"q58_keeper_by_quality\":[64,64,1275]},""" +
      """\"drained_checkpoints\":77","parsed":null}"""
    val mins3 = BenchHarness.parseBenchMins(tailWithProbe)
    assert(mins3 == Map("q58_keeper_by_quality" -> 0.266), s"got $mins3")
    // a failed build ships -1.0 in `runs` and its exception in
    // `build_errors`: it must not become a prior min, and the error
    // object must not disturb the real runs
    val tailWithBuildError = """{"n":18,"rc":0,"sf": 0.1,"tail":".62],""" +
      """\"q150_index_build\":[-1.0],""" +
      """\"q58_keeper_by_quality\":[0.41,0.266,0.268]},""" +
      """\"failed\":[\"q150_index_build\"],\"build_errors\":""" +
      """{\"q150_index_build\":\"java.io.IOException: disk full\"},""" +
      """\"drained_checkpoints\":77","parsed":null}"""
    val mins4 = BenchHarness.parseBenchMins(tailWithBuildError)
    assert(mins4 == Map("q58_keeper_by_quality" -> 0.266), s"got $mins4")
    // a tail that starts INSIDE probe_jst (its `"probe_jst":{` prefix
    // cut off): the headless [j,s,t] triples must not read as runs
    val headlessProbe = """{"n":18,"rc":0,"sf": 0.1,"tail":"64,1275],""" +
      """\"q58_keeper_by_quality\":[64,64,1275]},""" +
      """\"drained_checkpoints\":77","parsed":null}"""
    val mins5 = BenchHarness.parseBenchMins(headlessProbe)
    assert(mins5.isEmpty, s"got $mins5")
  }

  test("loadPriorMins: prefers a same-SF bench_out.json sidecar, falls " +
      "back to the highest committed driver artifact, refuses cross-SF") {
    val dir = tempDir("bench-prior").toFile
    def write(name: String, text: String): Unit =
      java.nio.file.Files.write(new java.io.File(dir, name).toPath,
        text.getBytes("UTF-8"))
    try {
      val cwd = dir.getAbsolutePath
      // nothing on disk: drift adjudication disables itself
      assert(BenchHarness.loadPriorMins("/root/testdata/sf0.1", cwd) ==
        (Map.empty[String, Double], "none"))
      // driver artifacts only: highest round number wins, tail-parsed
      write("BENCH_r11.json",
        """{"n":11,"sf": 0.1,"tail":"\"q91\":[9.0,9.0,9.0]","parsed":null}""")
      write("BENCH_r12.json",
        """{"n":12,"sf": 0.1,"tail":"x],\"q91\":[0.7,0.602,0.61]","parsed":null}""")
      assert(BenchHarness.loadPriorMins("/root/testdata/sf0.1", cwd) ==
        (Map("q91" -> 0.602), "BENCH_r12.json"))
      // a same-SF sidecar (full line) outranks the artifacts
      write("bench_out.json",
        """{"metric":"total","queries":{"q91":0.631},"sf":"/root/testdata/sf0.1"}""")
      assert(BenchHarness.loadPriorMins("/root/testdata/sf0.1", cwd) ==
        (Map("q91" -> 0.631), "bench_out.json"))
      // a cross-SF sidecar is untrusted — falls through to the artifact
      write("bench_out.json",
        """{"metric":"total","queries":{"q91":0.05},"sf":"/root/testdata/sf0.01"}""")
      assert(BenchHarness.loadPriorMins("/root/testdata/sf0.1", cwd) ==
        (Map("q91" -> 0.602), "BENCH_r12.json"))
    } finally {
      dir.listFiles.foreach(_.delete())
      dir.delete()
    }
  }

  test("a REAL leak (intentionally-cached frames accreting) reproduces " +
      "through the retest and stays flagged") {
    // Runs are measured in WORK UNITS (thousands of rows digested), not
    // wall clock: the accretion ramp is then exact, and no host load
    // can bend it. The thunk leaks deliberately: every invocation caches
    // ANOTHER block and the query digests ALL blocks cached so far — run
    // i does i blocks of work, the exact accretion shape of the round-7
    // q89 localCheckpoint bug.
    val leaked = collection.mutable.ArrayBuffer.empty[DataFrame]
    def digested(df: DataFrame): Double =
      df.agg(count(sha2(col("x").cast("string"), 256))).head().getLong(0) /
        1000.0
    def block(): DataFrame = spark.range(0, 1000L, 1, 2).toDF("x")
    def leakyRun(): Double = {
      val b = block().persist()
      b.count() // materialize into pinned storage
      leaked += b
      digested(leaked.reduce(_ unionByName _))
    }
    // the cleanup Bench performs before a retest: the pinned state
    // resets, so a state-accretion leak re-accretes from zero
    def resetState(): Unit = {
      leaked.foreach(_.unpersist(blocking = true))
      leaked.clear()
    }
    try {
      val firstPass = Seq.fill(3)(leakyRun())
      assert(firstPass == Seq(1.0, 2.0, 3.0), s"work per run: $firstPass")
      assert(BenchHarness.monotoneLeak(firstPass),
        s"leaky thunk did not trip the signature: $firstPass")
      val (confirmed, retests) = BenchHarness.adjudicateLeaks(
        Seq("q_leaky"), { _ => resetState(); Seq.fill(3)(leakyRun()) })
      assert(confirmed == Seq("q_leaky"), s"real leak exonerated: " +
        s"first=$firstPass retest=${retests("q_leaky")}")
      // time-local contention on a thunk that does NOT leak: its work
      // is flat, and an injected load ramps the first pass only (the
      // machine load has passed by the retest) — a candidate, cleared
      val load = Iterator(0.0, 1.0, 2.5) ++ Iterator.continually(0.0)
      def contendedRun(): Double = digested(block()) + load.next()
      val contended = Seq.fill(3)(contendedRun())
      assert(BenchHarness.monotoneLeak(contended),
        s"the contended pass must be a candidate: $contended")
      val (cleared, _) = BenchHarness.adjudicateLeaks(Seq("q_contended"),
        _ => Seq.fill(3)(contendedRun()))
      assert(cleared.isEmpty, "time-local contention was confirmed as a leak")
    } finally resetState()
  }
}
