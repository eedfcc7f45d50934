package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** Benchmark harness entry point; `bench/run.py` builds and launches it.
  *
  * {{{
  * Main --workload behavior --data D --out O --local L --seconds 6 --trace 0
  *      --input-rows N --rates 250,1000,4000 --limit-ms 3000
  * }}}
  *
  * Starts the session, runs the workload's own set-up, measures it for
  * `--seconds`, writes what the output checks read, then `O/result.json`.
  * Set-up is counted once, cold: from JVM start to the first timed call,
  * less the untimed loading of the harness's own inputs. With
  * `--trace 1` the measurement is split: an untraced half, then a traced
  * half between two untraced passes (the baseline of the tracing overhead);
  * the traced spans give the per-layer metrics and `O/trace.json`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = a("out")
    val code =
      try { run(a, out); 0 }
      catch {
        case e: Throwable =>
          e.printStackTrace()
          Json.save(s"$out/result.json", Map("fatal" -> e.getClass.getName,
            "message" -> String.valueOf(e.getMessage)))
          1
      }
    System.exit(code)
  }

  private def run(a: Map[String, String], out: String): Unit = {
    val seconds = a("seconds").toDouble
    val tracer = new Tracer(a("trace") == "1")
    val rows = a("input-rows").toLong
    val wl: Workload = a("workload") match {
      case "behavior" => new Behavior(a("data"), s"$out/out", rows,
        a("rates").split(",").map(_.toInt).toSeq, a("limit-ms").toDouble, tracer)
      case "curation" => new Curation(a("data"), s"$out/out", rows, tracer.enabled)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    // wall time of each phase, for reading a run's cost in result.json
    val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var mark = ManagementFactory.getRuntimeMXBean.getStartTime
    def phase(name: String): Unit = {
      val now = System.currentTimeMillis()
      phases(name) = (now - mark) / 1000.0
      System.err.println(s"[perfbench] phase $name ${phases(name)} s")
      mark = now
    }
    // set-up = JVM and session start + the workload's own set-up, in JVM
    // CPU seconds (the CPU clock starts with the JVM); the wall-clock twin
    // goes to the report
    val spark = Session.start(a("local"))
    spark.range(1).count()
    val sessionCpu = Session.processCpuS()
    phase("session")
    wl.prepare(spark)
    phase("prepare")
    val setupOps = new Ops(new Tracer(false))
    val setupCpu0 = Session.processCpuS()
    wl.setup(spark, setupOps)
    val setupS = sessionCpu + Session.processCpuS() - setupCpu0
    phase("setup")
    val setupWallS = phases("session") + phases("setup")

    val ops = new Ops(tracer)
    val untraced = wl.measure(spark, ops, if (tracer.enabled) seconds / 2 else seconds)
    val rss = Session.peakRssMb()
    // the traced half sits between two untraced passes, which average out
    // the JIT warming up from one pass to the next
    val traced = if (!tracer.enabled) None else {
      val before = wl.measure(spark, ops, 0)
      tracer.start(spark)
      val m = wl.measure(spark, ops, seconds / 2)
      tracer.stop()
      val after = wl.measure(spark, ops, 0)
      Some((Seq(before, after), m))
    }
    phase("measure")

    val outOps = new Ops(new Tracer(false))
    val facts = wl.writeOutputs(spark, outOps)
    phase("outputs")
    val layers = traced.map { case (baselines, m) =>
      val baseline = baselines.map(_.primary).sum / baselines.size
      wl.layers(tracer, m, facts) ++ Map(
        "harness.trace_overhead_pct" -> (m.primary - baseline) / baseline * 100.0,
        "harness.unattributed_jobs" -> tracer.unattributedJobs.toDouble)
    }
    val all = setupOps.calls ++ ops.calls ++ outOps.calls
    Json.save(s"$out/result.json", Map(
      "workload" -> a("workload"),
      "session_cpu_s" -> sessionCpu,
      "e2e" -> (untraced.e2e ++ Map("setup_s" -> setupS, "setup_wall_s" -> setupWallS,
        "peak_rss_mb" -> rss)),
      "report" -> untraced.report,
      "facts" -> facts,
      "phases_s" -> phases,
      "per_layer" -> layers,
      "attempted" -> (all.size + untraced.units + traced.map(t => t._2.units).getOrElse(0)),
      "failed" -> all.count(!_.ok),
      "errors" -> all.filter(!_.ok).map(c => Map("call" -> c.label, "error" -> c.error)),
      "call_ms" -> ops.calls.filter(_.ok).groupBy(_.label).map { case (l, cs) =>
        l -> Stats.median(cs.map(_.ms)) }))
    if (tracer.enabled) Json.save(s"$out/trace.json", tracer.report())
    wl.teardown()
    spark.stop()
  }
}
