package perfbench

import scala.collection.mutable

/** A JSON writer that escapes every string it emits. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def apply(v: Any): String = v match {
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ": " + apply(x) }
        .mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}

/** Readers of this process's /proc/self counters. */
object Proc {
  private def read(name: String): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/self/" + name)), "UTF-8")

  /** Fields of /proc/self/stat after "pid (comm) ": f(0) is field 3,
    * state; times are in ticks of 1/100 s. */
  private def stat(): Array[String] = {
    val s = read("stat")
    s.substring(s.lastIndexOf(')') + 2).split(' ')
  }

  /** CPU seconds of reaped children: cutime + cstime (fields 16, 17). */
  def childCpuS(): Double = {
    val f = stat()
    (f(13).toLong + f(14).toLong) / 100.0
  }

  /** Bytes this process passed to write() and its kin. */
  def wchar(): Long = field(read("io"), "wchar:")

  /** Peak resident set size, MB. */
  def peakRssMb(): Double = field(read("status"), "VmHWM:") / 1024.0

  private def field(text: String, key: String): Long =
    text.linesIterator.find(_.startsWith(key))
      .map(_.substring(key.length).trim.split("\\s+")(0).toLong).getOrElse(0L)
}

/** Spark-runtime counters for one operation: jobs, tasks, task time and
  * the job intervals, from a listener the benchmark registers. */
final class SparkStats extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler._
  private var jobs = 0
  private var tasks = 0
  private var runMs = 0L
  private var cpuNs = 0L
  private var gcMs = 0L
  private var shuffleBytes = 0L
  private var fetchWaitMs = 0L
  private var spillBytes = 0L
  private val jobStart = mutable.Map[Int, Long]()
  private val intervals = mutable.ArrayBuffer[(Long, Long)]()

  def reset(): Unit = synchronized {
    jobs = 0; tasks = 0; runMs = 0; cpuNs = 0; gcMs = 0; shuffleBytes = 0
    fetchWaitMs = 0; spillBytes = 0; jobStart.clear(); intervals.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1; jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => intervals += ((s, e.time)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    Option(e.taskMetrics).foreach { m =>
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
    }
  }

  /** Milliseconds of [from, to] covered by at least one job. */
  private def jobCoverMs(from: Long, to: Long): Long = {
    val xs = intervals.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = -1L; var curE = -1L
    xs.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  /** The counters since the last reset, for an op that ran in
    * [fromMs, toMs] wall-clock time. */
  def snapshot(fromMs: Long, toMs: Long): Map[String, Double] = synchronized {
    Map("jobs" -> jobs.toDouble, "tasks" -> tasks.toDouble,
      "run_s" -> runMs / 1e3, "cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3,
      "shuffle_mb" -> shuffleBytes / 1048576.0,
      "fetch_wait_s" -> fetchWaitMs / 1e3,
      "spill_mb" -> spillBytes / 1048576.0,
      "driver_s" -> (toMs - fromMs - jobCoverMs(fromMs, toMs)) / 1e3)
  }
}

/** Spans recorded around the benchmark's calls into the program; kept in
  * memory and written out when the run ends. */
final class Tracer {
  final case class Span(id: Int, name: String, op: String, parent: Int,
                        startNs: Long, endNs: Long)
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Int]()
  private var next = 0
  var op = ""

  def span[T](name: String)(body: => T): (T, Double) = {
    val id = next; next += 1
    val parent = stack.headOption.getOrElse(-1)
    stack.push(id)
    val t0 = System.nanoTime
    try {
      val r = body
      (r, (System.nanoTime - t0) / 1e9)
    } finally {
      stack.pop()
      spans += Span(id, name, op, parent, t0, System.nanoTime)
    }
  }

  def write(path: String): Unit = {
    val rows = spans.sortBy(_.id).map(s => Map("id" -> s.id, "name" -> s.name,
      "op" -> s.op, "parent" -> s.parent, "start_ns" -> s.startNs,
      "end_ns" -> s.endNs))
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      Json(rows).getBytes("UTF-8"))
  }
}
