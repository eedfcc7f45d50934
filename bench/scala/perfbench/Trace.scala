package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.streaming.runtime.{MicroBatchExecution, StreamExecution}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything Spark ran on behalf of one span: a harness call (span ids
  * "c<n>") or one micro-batch of a streaming query ("<query>#<batch>").
  */
final class Work {
  var jobs = 0
  var tasks = 0L
  var cpuNs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  /** The scan nodes' "scan time" SQL metric, summed over tasks. */
  var scanMs = 0L
  /** CPU of tasks in stages that read no shuffle: the map-only stages
    * where the hashing kernels run next to the scan. */
  var mapOnlyCpuNs = 0L
  val sqlExecutions = mutable.Set.empty[Long]
  val taskIntervals = ArrayBuffer.empty[(Long, Long)]
}

/** A labelled interval on the harness timeline (epoch ms). */
final case class Span(id: String, parent: String, name: String, start: Long, end: Long)

/** The traced mode: one SparkListener, one QueryExecutionListener and one
  * StreamingQueryListener, a job group per harness call and one span per
  * micro-batch. Spans and counters stay in memory until [[report]].
  * Recording covers the window between [[start]] and [[stop]]; outside it,
  * and when disabled, `span` is a plain call and nothing is registered.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private val work = new ConcurrentHashMap[String, Work]()
  private val stageOwner = new ConcurrentHashMap[Int, String]()
  private val queryNames = new ConcurrentHashMap[String, String]()
  private var stack: List[String] = Nil
  private var nextId = 0
  private var spark: SparkSession = _
  @volatile private var window = (Long.MaxValue, Long.MaxValue)
  @volatile var unattributedJobs = 0
  /** Driver-side file listing of the scans ("metadata time") of the
    * queries that finished inside the window. */
  @volatile var metadataMs = 0L

  def work(id: String): Work = work.computeIfAbsent(id, _ => new Work)

  def spanList: Seq[Span] = spans.synchronized(spans.toList)

  /** Register the listeners on `s` and open the recording window. */
  def start(s: SparkSession): Unit = if (enabled) {
    spark = s
    s.sparkContext.addSparkListener(jobListener)
    s.listenerManager.register(qeListener)
    s.streams.addListener(streamListener)
    window = (System.currentTimeMillis(), Long.MaxValue)
  }

  /** Close the recording window; events still queued keep arriving. */
  def stop(): Unit = window = (window._1, System.currentTimeMillis())

  private def recording = spark != null && window._2 == Long.MaxValue
  private def inWindow(t: Long) = t >= window._1 && t <= window._2

  /** Name a streaming query so its micro-batch spans carry the name. */
  def nameQuery(id: java.util.UUID, name: String): Unit = queryNames.put(id.toString, name)

  def span[T](name: String)(body: => T): T =
    if (!recording) body
    else {
      nextId += 1
      val id = s"c$nextId"
      val parent = stack.headOption.getOrElse("")
      val sc = spark.sparkContext
      val outerGroup = Option(sc.getLocalProperty("spark.jobGroup.id"))
      val outerDesc = Option(sc.getLocalProperty("spark.job.description"))
      sc.setJobGroup(id, name)
      stack = id :: stack
      val t0 = System.currentTimeMillis()
      try body
      finally {
        stack = stack.tail
        spans.synchronized(spans += Span(id, parent, name, t0, System.currentTimeMillis()))
        outerGroup match {
          case Some(g) => sc.setJobGroup(g, outerDesc.orNull)
          case None => sc.clearJobGroup()
        }
      }
    }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      def prop(k: String) = Option(if (p == null) null else p.getProperty(k))
      val owner = prop(StreamExecution.QUERY_ID_KEY) match {
        case Some(q) => prop(MicroBatchExecution.BATCH_ID_KEY)
          .map(b => s"${queryNames.getOrDefault(q, q)}#$b")
        case None => prop("spark.jobGroup.id").filter(_.startsWith("c"))
      }
      owner match {
        case Some(o) =>
          val w = work(o)
          w.synchronized {
            w.jobs += 1
            prop("spark.sql.execution.id").foreach(x => w.sqlExecutions += x.toLong)
          }
          e.stageIds.foreach(s => stageOwner.put(s, o))
        case None if inWindow(e.time) =>
          unattributedJobs += 1
          System.err.println(s"[perfbench] unattributed job ${e.jobId}: " +
            e.stageInfos.map(_.name).mkString(", "))
        case None => ()
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val o = stageOwner.get(e.stageId)
      val m = e.taskMetrics
      if (o != null && m != null) {
        val w = work(o)
        w.synchronized {
          w.tasks += 1
          w.cpuNs += m.executorCpuTime
          w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          w.spill += m.diskBytesSpilled + m.memoryBytesSpilled
          w.inputBytes += m.inputMetrics.bytesRead
          w.outputBytes += m.outputMetrics.bytesWritten
          if (m.shuffleReadMetrics.totalBytesRead == 0L) w.mapOnlyCpuNs += m.executorCpuTime
          e.taskInfo.accumulables.foreach { a =>
            if (a.name.contains("scan time")) a.update.foreach(v => w.scanMs += v.toString.toLong)
          }
          w.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
        }
      }
    }
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case _ => Nil
    }
    p +: (p.children ++ p.subqueries ++ inner).flatMap(nodes)
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
      if (inWindow(System.currentTimeMillis())) {
        val ms = nodes(qe.executedPlan).collect { case s: FileSourceScanExec =>
          s.metrics.get("metadataTime").map(_.value).getOrElse(0L)
        }.sum
        synchronized(metadataMs += ms)
      }
    }
    override def onFailure(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val name = queryNames.getOrDefault(p.id.toString, p.id.toString)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      if (inWindow(start)) spans.synchronized(spans += Span(s"$name#${p.batchId}", "", s"streaming.$name",
        start, start + p.batchDuration))
    }
  }

  /** Union length of intervals clipped to [lo, hi]. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }

  /** Time inside `s` with no task of its own running. */
  def driverGapMs(s: Span): Long =
    (s.end - s.start) - covered(Option(work.get(s.id)).map(_.taskIntervals.toSeq)
      .getOrElse(Nil), s.start, s.end)

  /** Spans with their self time (duration minus the part covered by child
    * spans and by the span's own tasks), and self time summed per layer.
    */
  def report(): Map[String, Any] = {
    val all = spanList
    val children = all.groupBy(_.parent)
    val rows = all.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      val tasks = Option(work.get(s.id)).map(_.taskIntervals.toSeq).getOrElse(Nil)
      val self = (s.end - s.start) - covered(kids ++ tasks, s.start, s.end)
      val w = Option(work.get(s.id))
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end, "self_ms" -> self,
        "jobs" -> w.map(_.jobs).getOrElse(0), "tasks" -> w.map(_.tasks).getOrElse(0L),
        "task_cpu_ms" -> w.map(_.cpuNs / 1000000L).getOrElse(0L))
    }
    val layerSelf = rows.groupBy(r => r("name").toString.takeWhile(_ != '.'))
      .map { case (l, rs) => l -> rs.map(_("self_ms").asInstanceOf[Long]).sum / 1000.0 }
    val spark = covered(work.values.asScala.toSeq.flatMap(_.taskIntervals.toSeq),
      Long.MinValue, Long.MaxValue) / 1000.0
    Map("spans" -> rows, "self_s_by_layer" -> (layerSelf + ("spark.tasks" -> spark)),
      "unattributed_jobs" -> unattributedJobs)
  }
}
