package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.api.DedupOps
import graft.jobs.{Jobs, Sources}
import graft.operators.{ConnectedComponents, SlidingCounts}

/** What one measured section produced. `primary` (median pass time) is what
  * the traced and untraced passes are compared on; `units` counts the
  * micro-batches that ran.
  */
final case class Measured(primary: Double, e2e: Map[String, Double],
    report: Map[String, Any], units: Int)

trait Workload {
  /** Untimed: load what the harness itself feeds the program. */
  def prepare(s: SparkSession): Unit = ()
  /** Program-side set-up on the session: warm-up and builds. */
  def setup(s: SparkSession, ops: Ops): Unit = ()
  /** Run the workload for about `seconds`; every call goes through `ops`. */
  def measure(s: SparkSession, ops: Ops, seconds: Double): Measured
  /** Untimed: write what the output checks read besides the measured
    * outputs; returns facts about them that the metrics use. */
  def writeOutputs(s: SparkSession, ops: Ops): Map[String, Double] = Map.empty
  /** Per-layer metrics over the traced section. */
  def layers(t: Tracer, m: Measured, facts: Map[String, Double]): Map[String, Double]
  def teardown(): Unit = ()
}

/** A batch workload: passes over the whole input, repeated until the time
  * is up (at least one). Nothing warms the passes up: a daily batch job
  * pays its code generation and JIT on every run, and so does the first
  * pass here. Each pass writes its results under `outDir`; the checks read
  * the last pass's.
  */
abstract class BatchWorkload(inputRows: Long) extends Workload {
  protected def pass(s: SparkSession, ops: Ops): Unit

  def measure(s: SparkSession, ops: Ops, seconds: Double): Measured = {
    val passMs = ArrayBuffer.empty[Double]
    val passCpuS = ArrayBuffer.empty[Double]
    val callMs = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var attempts = 0
    while (attempts == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      attempts += 1
      val before = ops.calls.size
      val p0 = System.nanoTime()
      val c0 = Session.processCpuS()
      pass(s, ops)
      val cpu = Session.processCpuS() - c0
      val ms = (System.nanoTime() - p0) / 1e6
      val these = ops.calls.drop(before)
      // a pass with a failed call is not a timed success
      if (these.forall(_.ok)) { passMs += ms; passCpuS += cpu; callMs ++= these.map(_.ms) }
    }
    val med = Stats.median(passMs)
    Measured(med, Map(
        "pass_cpu_s" -> Stats.median(passCpuS),
        "rows_per_s" -> inputRows / (med / 1000.0),
        "latency_p50_ms" -> Stats.median(callMs),
        "latency_p99_ms" -> Stats.pct(callMs, 99)),
      Map("passes" -> passMs.size, "pass_ms" -> passMs.toSeq, "pass_cpu_s" -> passCpuS.toSeq,
        "calls_timed" -> callMs.size, "input_rows" -> inputRows),
      0)
  }

  /** Sum of a per-span quantity over the traced spans `pick` selects. The
    * traced section is one pass (plus, for `behavior`, half a ladder). */
  protected def sumOver(t: Tracer, pick: String => Boolean)(f: (Span, Work) => Double): Double =
    t.spanList.filter(s => pick(s.name)).map(s => f(s, t.work(s.id))).sum

  protected def wallS(t: Tracer, name: String): Double =
    sumOver(t, _ == name)((s, _) => (s.end - s.start) / 1000.0)

  protected def jobs(t: Tracer, pick: String => Boolean): Double =
    sumOver(t, pick)((_, w) => w.jobs.toDouble)

  protected def sparkLayer(t: Tracer): Map[String, Double] = {
    def sum(f: Work => Double) = sumOver(t, _ => true)((_, w) => f(w))
    Map(
      "spark.jobs" -> sum(_.jobs.toDouble),
      "spark.tasks" -> sum(_.tasks.toDouble),
      "spark.task_cpu_s" -> sum(_.cpuNs / 1e9),
      "spark.shuffle_bytes" -> sum(_.shuffleWrite.toDouble),
      "spark.spill_bytes" -> sum(_.spill.toDouble),
      "spark.driver_gap_s" -> sumOver(t, _ => true)((s, _) => t.driverGapMs(s) / 1000.0),
      "Tables.scan_s" -> (sum(_.scanMs.toDouble) + t.metadataMs) / 1000.0,
      "Tables.input_bytes" -> sum(_.inputBytes.toDouble))
  }

  protected def save(ops: Ops, label: String, path: String)(df: => DataFrame): Unit =
    ops.run(label)(df.write.mode("overwrite").parquet(path))
}

object Behavior {
  /** The batch calls: the fourteen pipelines of `jobs.Jobs`, plus one
    * direct `operators` call, each as a (label, plan builder) over freshly
    * declared parquet scans. */
  def calls(s: SparkSession, dir: String): Seq[(String, () => DataFrame)] = {
    def read(n: String) = Tables.load(s, dir, n)
    def timed(n: String) = read(n).withColumn("ts", timestamp_seconds(col("timestamp")))
    def beh = timed("behavior")
    Seq[(String, () => DataFrame)](
      "jobs.hotItems" -> (() => Jobs.hotItems(beh)),
      "jobs.hotUrls" -> (() => Jobs.hotUrls(Sources.apacheLog(read("apachelog")))),
      "jobs.pageViews" -> (() => Jobs.pageViews(beh)),
      "jobs.uniqueVisitors" -> (() => Jobs.uniqueVisitors(beh)),
      "jobs.uniqueVisitorsApprox" -> (() => Jobs.uniqueVisitorsApprox(beh)),
      "jobs.marketingByChannel" -> (() => Jobs.marketingByChannel(timed("marketing"))),
      "jobs.marketingTotal" -> (() => Jobs.marketingTotal(timed("marketing"))),
      "jobs.adClicksByProvince" -> (() => Jobs.adClicksByProvince(timed("adclick"))),
      "jobs.adBlacklist" -> (() => Jobs.adBlacklist(timed("adclick"))),
      "jobs.filterWithBlacklist" -> (() => Jobs.filterWithBlacklist(timed("adclick"))),
      "jobs.loginFailWarnings" -> (() => Jobs.loginFailWarnings(read("login"))),
      "jobs.orderTimeouts" -> (() => Jobs.orderTimeouts(read("orders"))),
      "jobs.txMatch" -> (() => Jobs.txMatch(read("orders"), read("receipts"))),
      "jobs.txMatchByJoin" -> (() => Jobs.txMatchByJoin(read("orders"), read("receipts"))),
      "operators.SlidingCounts.slidingCount" -> (() => SlidingCounts.slidingCount(
        beh.filter(col("behavior") === "pv"), "ts", Seq("categoryId"), 3600L, 300L)))
  }

  val jobNames: Seq[String] =
    calls(null, "").map(_._1).filter(_.startsWith("jobs.")).map(_.stripPrefix("jobs."))
}

/** `behavior`: the reference's own job on one seeded day. The alert events
  * are replayed open-loop into the streaming twins (latency), then the
  * batch `Jobs` pipelines run once over the day's parquet, each result
  * written to parquet (throughput).
  */
final class Behavior(dataDir: String, outDir: String, inputRows: Long, rates: Seq[Int],
    limitMs: Double, tracer: Tracer) extends BatchWorkload(inputRows) {
  private val stream = new StreamPart(dataDir, s"$outDir/stream", rates, limitMs, tracer)

  override def prepare(s: SparkSession): Unit = stream.prepare(s)
  override def setup(s: SparkSession, ops: Ops): Unit = stream.setup(s, ops)

  protected def pass(s: SparkSession, ops: Ops): Unit =
    Behavior.calls(s, dataDir).foreach { case (label, plan) =>
      save(ops, label, s"$outDir/$label.parquet")(plan())
    }

  /** The ladder for `seconds` (none when 0), then one batch pass.
    * `pass_cpu_s` is the JVM CPU of both: the day's stream and batch work. */
  override def measure(s: SparkSession, ops: Ops, seconds: Double): Measured = {
    val c0 = Session.processCpuS()
    val (lat, report, batches) =
      if (seconds > 0) stream.ladder(seconds) else (Map.empty[String, Double], Map.empty[String, Any], 0)
    val streamCpu = Session.processCpuS() - c0
    val b = super.measure(s, ops, 0)
    val batchCpu = b.e2e("pass_cpu_s")
    Measured(b.primary,
      b.e2e ++ lat ++ Map("pass_cpu_s" -> (streamCpu + batchCpu), "stream_cpu_s" -> streamCpu,
        "batch_cpu_s" -> batchCpu),
      b.report ++ report, b.units + batches)
  }

  override def writeOutputs(s: SparkSession, ops: Ops): Map[String, Double] =
    stream.writeOutputs(s, ops)

  def layers(t: Tracer, m: Measured, facts: Map[String, Double]): Map[String, Double] =
    sparkLayer(t) ++ stream.layers(t) ++ Behavior.jobNames.flatMap { j =>
      Seq(s"jobs.$j.wall_s" -> wallS(t, s"jobs.$j"),
        s"jobs.$j.shuffle_bytes" -> sumOver(t, _ == s"jobs.$j")((_, w) => w.shuffleWrite.toDouble))
    } ++ Map("operators.SlidingCounts.wall_s" -> wallS(t, "operators.SlidingCounts.slidingCount"))

  override def teardown(): Unit = stream.teardown()
}

/** `curation`: MinHash pairs into connected components and keepers; a
  * MinHash index written, folded with a delta batch, compacted and probed.
  */
final class Curation(dataDir: String, outDir: String, inputRows: Long, traced: Boolean)
    extends BatchWorkload(inputRows) {
  private val index = s"$outDir/index"
  private val compacted = s"$outDir/compacted"

  private def part(s: SparkSession, p: String): DataFrame =
    Tables.documents(s, dataDir).filter(col("part") === p).drop("part")

  protected def pass(s: SparkSession, ops: Ops): Unit = {
    // declared inside each call, so reading the parquet footers belongs to it
    def base = part(s, "base")
    def probe = part(s, "probe")
    save(ops, "api.DedupOps.minhashPairs", s"$outDir/pairs.parquet")(
      DedupOps.minhashPairs(base, "doc_id", "text"))
    save(ops, "operators.ConnectedComponents.minLabel", s"$outDir/clusters.parquet")(
      ConnectedComponents.minLabel(s.read.parquet(s"$outDir/pairs.parquet"), "doc_a", "doc_b"))
    save(ops, "api.DedupOps.keepersByScore", s"$outDir/keepers.parquet")(
      DedupOps.keepersByScore(s.read.parquet(s"$outDir/clusters.parquet")
        .join(base.select(col("doc_id").as("id"), col("n_chars")), Seq("id")),
        "id", "cluster_id", "n_chars"))

    ops.run("api.DedupOps.writeMinhashIndex")(DedupOps.writeMinhashIndex(base, "doc_id", "text", index))
    ops.run("api.DedupOps.foldIntoMinhashIndex")(
      DedupOps.foldIntoMinhashIndex(part(s, "delta"), "doc_id", "text", index))
    ops.run("api.DedupOps.compactMinhashIndex")(DedupOps.compactMinhashIndex(s, index, compacted))
    save(ops, "api.DedupOps.minhashPairsAgainstIndex", s"$outDir/probe_folded.parquet")(
      DedupOps.minhashPairsAgainstIndex(probe, "doc_id", "text", compacted))
  }

  /** The from-scratch index over the same documents, probed like the folded
    * one; in traced runs also the candidate count behind the verified pairs
    * (every candidate passes a zero threshold). */
  override def writeOutputs(s: SparkSession, ops: Ops): Map[String, Double] = {
    val base = part(s, "base")
    val rebuilt = s"$outDir/rebuilt"
    ops.run("output.rebuild")(DedupOps.writeMinhashIndex(
      base.unionByName(part(s, "delta")), "doc_id", "text", rebuilt))
    save(ops, "output.probe_rebuilt", s"$outDir/probe_rebuilt.parquet")(
      DedupOps.minhashPairsAgainstIndex(part(s, "probe"), "doc_id", "text", rebuilt))
    val candidates = if (!traced) None else ops.run("output.candidates")(
      DedupOps.minhashPairs(base, "doc_id", "text", jaccardX1000Threshold = 0).count())
    val verified = ops.run("output.verified")(s.read.parquet(s"$outDir/pairs.parquet").count())
    val indexed = Tables.documents(s, dataDir).filter(col("part") =!= "probe").count()
    Map("candidate_pairs" -> candidates.getOrElse(0L).toDouble,
      "verified_pairs" -> verified.getOrElse(0L).toDouble,
      "index_bytes" -> Session.dirBytes(compacted).toDouble, "indexed_docs" -> indexed.toDouble)
  }

  def layers(t: Tracer, m: Measured, facts: Map[String, Double]): Map[String, Double] = {
    val idx = Seq("writeMinhashIndex", "foldIntoMinhashIndex", "compactMinhashIndex")
      .map(n => s"api.DedupOps.$n")
    val written = sumOver(t, idx.contains)((_, w) => w.outputBytes.toDouble)
    // SQL executions inside one minLabel call: one guard count, one per
    // round, and the write of its result
    val rounds = t.spanList.filter(_.name == "operators.ConnectedComponents.minLabel")
      .map(c => t.work(c.id).sqlExecutions.size - 2.0)
    val kernels = idx ++ Seq("api.DedupOps.minhashPairs", "api.DedupOps.minhashPairsAgainstIndex")
    sparkLayer(t) ++ Map(
      "functions.kernel_task_cpu_s" -> sumOver(t, kernels.contains)((_, w) => w.mapOnlyCpuNs / 1e9),
      "operators.ConnectedComponents.rounds" -> (if (rounds.isEmpty) 0.0 else Stats.median(rounds)),
      "operators.ConnectedComponents.spark_jobs" -> jobs(t, _ == "operators.ConnectedComponents.minLabel"),
      "operators.ConnectedComponents.wall_s" -> wallS(t, "operators.ConnectedComponents.minLabel"),
      "api.IndexMaintenance.write_s" -> wallS(t, idx(0)),
      "api.IndexMaintenance.fold_s" -> wallS(t, idx(1)),
      "api.IndexMaintenance.compact_s" -> wallS(t, idx(2)),
      "api.IndexMaintenance.probe_s" -> wallS(t, "api.DedupOps.minhashPairsAgainstIndex"),
      "api.IndexMaintenance.bytes_written" -> written,
      "api.IndexMaintenance.runs" -> sumOver(t, idx.take(2).contains)((_, _) => 1.0),
      "api.IndexMaintenance.write_amplification" -> written / facts("index_bytes"),
      "api.IndexMaintenance.index_bytes_per_doc" -> facts("index_bytes") / facts("indexed_docs"),
      "api.DedupOps.candidate_pairs" -> facts("candidate_pairs"),
      "api.DedupOps.verified_pairs" -> facts("verified_pairs"),
      "api.DedupOps.verify_ratio" -> facts("verified_pairs") / facts("candidate_pairs"))
  }
}
