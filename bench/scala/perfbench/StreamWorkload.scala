package perfbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.Tables
import graft.jobs.Jobs
import graft.streaming.{OrderTimeoutMatcher, SequenceMatch, StreamEvent, TxEvent, TxReconcile}

/** The three alert streams of the day in one time-ordered replay: login
  * fails, order creates and pays, and pay/receipt pairs.
  */
final class Replay(val fails: Array[StreamEvent], val orders: Array[StreamEvent],
    val tx: Array[TxEvent]) {
  def tsMs(k: Int, i: Int): Long = k match {
    case 0 => fails(i).tsMs
    case 1 => orders(i).tsMs
    case _ => tx(i).tsMs
  }

  def event(k: Int, i: Int): Any = k match {
    case 0 => fails(i)
    case 1 => orders(i)
    case _ => tx(i)
  }

  /** (stream << 32 | index) of every event, ordered by event time. */
  val order: Array[Long] = {
    val sizes = Seq(fails.length, orders.length, tx.length)
    val all = for (k <- sizes.indices; i <- 0 until sizes(k)) yield (tsMs(k, i), k, i)
    all.sorted.map { case (_, k, i) => (k.toLong << 32) | i }.toArray
  }
}

object Replay {
  private def t(sec: Long) = new Timestamp(sec * 1000L)

  /** Rows are sorted on every column so event ids do not depend on how
    * the parquet files were split into tasks. */
  def load(s: SparkSession, dir: String): Replay = {
    def rows(name: String, cols: String*) =
      Tables.load(s, dir, name).select(cols.map(col): _*).collect().sortBy(_.mkString("\u0000"))
        .sortBy(_.getLong(0))
    val fails = rows("login", "eventTime", "userId", "eventType", "ip")
      .filter(_.getString(2) == "fail").zipWithIndex
      .map { case (r, i) => StreamEvent(r.getLong(1), i.toLong, "fail", t(r.getLong(0))) }
    val ord = rows("orders", "eventTime", "orderId", "eventType", "txId")
    val orders = ord.zipWithIndex.map { case (r, i) =>
      StreamEvent(r.getLong(1), i.toLong, r.getString(2), t(r.getLong(0))) }
    val pays = ord.filter(r => r.getString(2) == "pay" && r.getString(3).nonEmpty)
      .map(r => (r.getLong(0), 0, r.getString(3)))
    val receipts = rows("receipts", "eventTime", "txId").map(r => (r.getLong(0), 1, r.getString(1)))
    val tx = (pays ++ receipts).sorted.zipWithIndex.map { case ((sec, side, id), i) =>
      TxEvent(id, side, i.toLong, t(sec)) }
    new Replay(fails, orders, tx)
  }
}

/** One step of the rate ladder as the generator ran it. `first` is the
  * replay index of the step's first event; event j of the step was due at
  * `startMs + (j - first) * 1000 / rate`.
  */
final case class Step(rate: Int, startMs: Long, first: Int, var endMs: Long = 0L, var last: Int = 0) {
  def dueMs(j: Int): Double = startMs + (j - first) * 1000.0 / rate
}

/** The streaming half of the `behavior` workload: the replay sent open-loop
  * at each rate of a ladder into the streaming twins of the three alert
  * pipelines, with watermarks. Latency runs from the time an event was due
  * to be sent to the end of the micro-batch that consumed it.
  */
final class StreamPart(dataDir: String, outDir: String, rates: Seq[Int],
    limitMs: Double, tracer: Tracer) {
  private val names = Seq("fails", "orders", "tx")
  private val primeEvents = 300
  private val watermark = "10 minutes"
  private var replay: Replay = _
  private var inputs: Seq[MemoryStream[_]] = Nil
  @volatile private var queries: Seq[StreamingQuery] = Nil
  @volatile private var sent = 0
  private val steps = ArrayBuffer.empty[Step]
  // per stream: MemoryStream offset -> the replay indices it carried
  private val chunks = names.map(_ => new ConcurrentHashMap[Long, Array[Int]]())
  private val sentPerStream = Array.fill(names.size)(0L)
  // written by the listener thread, read after the ladder (all under `this`)
  private val consumed = Array.fill(names.size)(0L)
  private val latency = ArrayBuffer.empty[(Int, Double)] // (step, ms)
  private val batches = ArrayBuffer.empty[Long] // input rows per micro-batch
  private val state = ArrayBuffer.empty[(Long, Long, Long)] // rows, bytes, commit ms
  private val backlog = ArrayBuffer.empty[Long] // events sent but not yet consumed
  private val lagMs = ArrayBuffer.empty[Double]

  private def start(s: SparkSession): Unit = {
    implicit val sqlCtx: SQLContext = s.sqlContext
    implicit val evEnc: Encoder[StreamEvent] = Encoders.product[StreamEvent]
    implicit val txEnc: Encoder[TxEvent] = Encoders.product[TxEvent]
    // every addData is one offset; without a partition count a micro-batch
    // would read each offset as its own input partition (one task each)
    val fails = MemoryStream[StreamEvent](Session.cores)
    val orders = MemoryStream[StreamEvent](Session.cores)
    val tx = MemoryStream[TxEvent](Session.cores)
    def sink(ds: Dataset[_], name: String) = {
      val q = ds.writeStream.format("memory").queryName(name)
        .option("checkpointLocation", s"$outDir/ckpt/$name").outputMode("append").start()
      tracer.nameQuery(q.id, name)
      q
    }
    inputs = Seq(fails, orders, tx)
    queries = Seq(
      sink(SequenceMatch.consecutiveFails(fails.toDS(), 2000L), "fails"),
      sink(OrderTimeoutMatcher.detect(orders.toDS().withWatermark("ts", watermark), 900000L),
        "orders"),
      sink(TxReconcile.reconcile(tx.toDS().withWatermark("ts", watermark), 5000L), "tx"))
  }

  private def add(k: Int, rows: Seq[Any]): Long =
    inputs(k).asInstanceOf[MemoryStream[Any]].addData(rows).toString.toLong

  /** Send replay events [from, to) and remember which offsets carry them. */
  private def send(from: Int, to: Int): Unit = {
    val byStream = names.map(_ => ArrayBuffer.empty[Int])
    (from until to).foreach(j => byStream((replay.order(j) >>> 32).toInt) += j)
    byStream.zipWithIndex.foreach { case (js, k) =>
      if (js.nonEmpty) {
        val off = add(k, js.map(j => replay.event(k, (replay.order(j) & 0xffffffffL).toInt)).toSeq)
        chunks(k).put(off, js.toArray)
        sentPerStream.synchronized(sentPerStream(k) += js.size)
      }
    }
  }

  def prepare(s: SparkSession): Unit = replay = Replay.load(s, dataDir)

  /** Start the queries and prime them with the first events of the day, so
    * the ladder meets warm queries. Primed events count for the output
    * checks but not for latency. */
  def setup(s: SparkSession, ops: Ops): Unit = {
    s.streams.addListener(new LatencyListener)
    ops.run("harness.startQueries")(start(s))
    ops.run("harness.prime") {
      val n = math.min(replay.order.length, primeEvents)
      send(0, n)
      queries.foreach(_.processAllAvailable())
      sent = n
    }
  }

  /** Consumed offsets -> latency, backlog and state samples. */
  private final class LatencyListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val k = queries.indexWhere(_.id == p.id)
      if (k >= 0) {
        val end = java.time.Instant.parse(p.timestamp).toEpochMilli + p.batchDuration
        def off(json: String) = Option(json).map(_.trim.toLong).getOrElse(-1L)
        val src = p.sources.head
        val idx = (off(src.startOffset) + 1 to off(src.endOffset)).flatMap(o =>
          Option(chunks(k).get(o)).toSeq.flatMap(_.toSeq))
        val stepsNow = steps.synchronized(steps.toList)
        System.err.println(s"[perfbench] ${names(k)}#${p.batchId} rows=${p.numInputRows} ${p.durationMs}")
        StreamPart.this.synchronized {
          batches += p.numInputRows
          idx.foreach { j =>
            val st = stepsNow.lastIndexWhere(_.first <= j)
            if (st >= 0) latency += ((st, end - stepsNow(st).dueMs(j)))
          }
          consumed(k) += idx.size
          backlog += sentPerStream.synchronized(sentPerStream(k)) - consumed(k)
          p.stateOperators.foreach { o =>
            state += ((o.numRowsTotal, o.memoryUsedBytes, o.commitTimeMs))
          }
        }
      }
    }
  }

  /** The generator thread: sends every event at its due time on a fixed
    * 5 ms schedule, whatever the queries are doing. */
  private def runLadder(stepSeconds: Double): Seq[Int] = {
    val mine = ArrayBuffer.empty[Int]
    val gen = new Thread("perfbench-generator") {
      override def run(): Unit = rates.foreach { rate =>
        val t0 = System.currentTimeMillis()
        val step = Step(rate, t0, sent)
        steps.synchronized { steps += step; mine += steps.size - 1 }
        val stop = t0 + (stepSeconds * 1000).toLong
        var now = t0
        while (now < stop && sent < replay.order.length) {
          val due = math.min(replay.order.length,
            step.first + ((now - t0) * rate / 1000.0).toInt + 1)
          if (due > sent) {
            val lag = now - step.dueMs(sent)
            send(sent, due)
            StreamPart.this.synchronized(lagMs += math.max(0.0, lag))
            sent = due
          }
          Thread.sleep(5)
          now = System.currentTimeMillis()
        }
        step.endMs = now
        step.last = sent
      }
    }
    gen.start()
    gen.join()
    queries.foreach(_.processAllAvailable())
    mine.toSeq
  }

  /** Run the ladder, `seconds` in all. Returns the latency over every event
    * of the ladder, a report of each step, and the micro-batches that ran. */
  def ladder(seconds: Double): (Map[String, Double], Map[String, Any], Int) = {
    val batchesBefore = synchronized(batches.size)
    val stepIdx = runLadder(seconds / rates.size)
    // the listener sees the last batches a little after they end
    val deadline = System.currentTimeMillis() + 5000
    while (synchronized(consumed.sum) < sentPerStream.sum && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    val perStep = stepIdx.map { st =>
      val ms = synchronized(latency.filter(_._1 == st).map(_._2).toSeq)
      val step = steps(st)
      val achieved = (step.last - step.first) / ((step.endMs - step.startMs) / 1000.0)
      val p99 = Stats.pct(ms, 99)
      (step.rate, achieved, Stats.median(ms), p99, ms.size, p99 <= limitMs && ms.nonEmpty)
    }
    val met = perStep.filter(_._6)
    val all = synchronized(latency.filter(x => stepIdx.contains(x._1)).map(_._2).toSeq)
    val ran = synchronized(batches.size) - batchesBefore
    (Map("latency_p50_ms" -> Stats.median(all), "latency_p99_ms" -> Stats.pct(all, 99)),
      Map("ladder" -> perStep.map { case (r, a, p50, p99, n, good) =>
          Map("rate_eps" -> r, "achieved_eps" -> a, "latency_p50_ms" -> p50,
            "latency_p99_ms" -> p99, "samples" -> n, "meets_limit" -> good) },
        "max_rate_eps" -> met.lastOption.map(_._2).getOrElse(0.0),
        "latency_samples" -> all.size, "p99_limit_ms" -> limitMs, "micro_batches" -> ran),
      ran)
  }

  /** streaming.* over the traced micro-batches (spans "streaming.<query>"). */
  def layers(t: Tracer): Map[String, Double] = {
    val spans = t.spanList.filter(_.name.startsWith("streaming."))
    val ms = spans.map(s => (s.end - s.start).toDouble)
    val (rows, bytes, commit) = synchronized(state.toList).unzip3
    Map(
      "streaming.batch_ms_p50" -> Stats.median(ms),
      "streaming.batch_ms_p99" -> Stats.pct(ms, 99),
      "streaming.batches" -> spans.size.toDouble,
      "streaming.empty_batches" -> synchronized(batches.count(_ == 0)).toDouble,
      "streaming.jobs_per_batch" -> spans.map(s => t.work(s.id).jobs).sum / math.max(spans.size, 1).toDouble,
      "streaming.backlog_max_events" -> synchronized(backlog.maxOption.getOrElse(0L)).toDouble,
      "streaming.state_rows" -> rows.maxOption.getOrElse(0L).toDouble,
      "streaming.state_bytes" -> bytes.maxOption.getOrElse(0L).toDouble,
      "streaming.state_commit_ms" -> Stats.median(commit.map(_.toDouble)),
      "harness.generator_lag_ms_p99" -> Stats.pct(synchronized(lagMs.toList), 99))
  }

  /** Flush every timer with far-future sentinels (the watermark moves one
    * batch behind, so twice), then write each stream's output beside its
    * batch `Jobs` twin run over exactly the events that were sent.
    */
  def writeOutputs(s: SparkSession, ops: Ops): Map[String, Double] = {
    import s.implicits._
    val last = replay.order.lastOption.map(x => replay.tsMs((x >>> 32).toInt, (x & 0xffffffffL).toInt))
    val far = new Timestamp(last.getOrElse(0L) + 2L * 86400L * 1000L)
    ops.run("output.flush") {
      Seq(far, new Timestamp(far.getTime + 2L * 86400L * 1000L)).foreach { at =>
        add(0, Seq(StreamEvent(-999L, -1L, "fail", at)))
        add(1, Seq(StreamEvent(-999L, -1L, "create", at)))
        add(2, Seq(TxEvent("~sentinel", 0, -1L, at)))
        queries.foreach(_.processAllAvailable())
      }
    }
    queries.foreach(_.stop())
    def save(name: String)(df: => DataFrame): Unit =
      ops.run(s"output.$name")(df.write.mode("overwrite").parquet(s"$outDir/$name.parquet"))
    names.foreach(n => save(s"stream_$n")(s.table(n)))
    val sentIdx = replay.order.take(sent)
    def prefix(k: Int) = sentIdx.filter(x => (x >>> 32) == k).map(x => (x & 0xffffffffL).toInt)
    save("batch_fails")(Jobs.loginFailWarnings(
      prefix(0).map(replay.fails(_)).map(e => (e.userId, "", "fail", e.tsMs / 1000)).toSeq
        .toDF("userId", "ip", "eventType", "eventTime")))
    save("batch_orders")(Jobs.orderTimeouts(
      prefix(1).map(replay.orders(_)).map(e => (e.userId, e.eventType, "", e.tsMs / 1000)).toSeq
        .toDF("orderId", "eventType", "txId", "eventTime")))
    val tx = prefix(2).map(replay.tx(_))
    save("batch_tx")(Jobs.txMatch(
      tx.filter(_.side == 0).map(e => (e.eventId, "pay", e.txKey, e.tsMs / 1000)).toSeq
        .toDF("orderId", "eventType", "txId", "eventTime"),
      tx.filter(_.side == 1).map(e => (e.txKey, "alipay", e.tsMs / 1000)).toSeq
        .toDF("txId", "payChannel", "eventTime")))
    Map("events_sent" -> sent.toDouble)
  }

  def teardown(): Unit = {
    queries.foreach(q => if (q.isActive) q.stop())
    queries = Nil
    inputs = Nil
  }
}
