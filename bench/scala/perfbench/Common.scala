package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Minimal JSON writer for the harness's result and trace files. Maps keep
  * their insertion order when given as a `Seq` of pairs or a `ListMap`.
  */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case a: Array[_] => write(a.toSeq)
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def save(path: String, v: Any): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.write(write(v)) finally w.close()
  }
}

object Stats {
  /** Linear-interpolated percentile, p in [0, 100]; NaN when empty. */
  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else {
      val r = p / 100.0 * (s.length - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = pct(xs, 50)
}

/** One library call as the harness saw it. A failed call keeps its
  * exception class and has no time: it is never counted as a success.
  */
final case class Call(label: String, ms: Double, ok: Boolean, error: String)

/** Runs and records the library calls of one workload. With tracing on,
  * each call is also a span labelled with the call's name.
  */
final class Ops(tracer: Tracer) {
  val calls = ArrayBuffer.empty[Call]

  def failed: Int = calls.count(!_.ok)

  /** Time `body`; on an exception record the failure and return None. */
  def run[T](label: String)(body: => T): Option[T] = {
    val t0 = System.nanoTime()
    try {
      val v = tracer.span(label)(body)
      val ms = (System.nanoTime() - t0) / 1e6
      calls += Call(label, ms, ok = true, "")
      System.err.println(f"[perfbench] $label%s $ms%.0f ms")
      Some(v)
    } catch {
      case e: Exception =>
        calls += Call(label, Double.NaN, ok = false, e.getClass.getName)
        System.err.println(s"[perfbench] call $label failed: $e")
        None
    }
  }
}

object Session {
  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** local[nproc] session whose scratch space stays under `localDir`. */
  def start(localDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(s"$localDir/checkpoints")
    s
  }

  /** CPU time of this JVM, all threads, user + system. Time the host
    * steals from the VM does not count, so it holds still on a busy host. */
  def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(g => dirBytes(g.getPath)).sum
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
    else f.length()
  }
}
