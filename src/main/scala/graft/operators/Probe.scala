package graft.operators

import scala.util.control.NonFatal

/** One probed file's metadata — the union of the reference's two ffprobe
  * invocations (video_metadata_db.py:596-634) plus an error side-channel.
  * Absent values are None (nullable columns), NEVER omitted fields: the
  * reference's ragged-row TSV quirk is reproduced only at the export edge.
  */
case class ProbeResult(
    videoCodec: Option[String] = None,
    width: Option[Int] = None,
    height: Option[Int] = None,
    nbStreams: Option[Int] = None,
    container: Option[String] = None,
    durationRaw: Option[String] = None,
    title: Option[String] = None,
    audioCodec: Option[String] = None,
    audioChannels: Option[Int] = None,
    probeError: Option[String] = None)

/** Pluggable probe boundary (SURVEY.md §2.2). Implementations must be
  * Serializable — they ship to executors and run inside mapPartitions,
  * one instance per partition, NOT one process fork per row setup.
  */
trait Prober extends Serializable {
  def probe(path: String): ProbeResult

  /** Probe a partition's paths with at most `concurrency` subprocesses
    * in flight, results in INPUT ORDER. The pool is per-partition and
    * bounded: a sliding window of `concurrency` outstanding futures —
    * path i+c is not forked until path i's result is consumed, so the
    * process count on an executor is task_slots × concurrency, a number
    * you can capacity-plan. Probing is almost pure subprocess wait
    * (ffprobe reads a few KB of headers), so a modest pool hides fork +
    * I/O latency without oversubscribing CPU. concurrency <= 1 is the
    * plain sequential map. Worker threads are daemons: an abandoned
    * iterator (task kill, downstream limit) can't pin the executor JVM. */
  def probeAll(paths: Iterator[String], concurrency: Int): Iterator[ProbeResult] =
    if (concurrency <= 1) paths.map(probe)
    else new Iterator[ProbeResult] {
      import java.util.concurrent.{LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}
      // Workers time out when idle (allowCoreThreadTimeOut): if the
      // consumer abandons the iterator mid-partition (downstream limit,
      // task kill) pool.shutdown() is never reached, and ever-live core
      // threads would be GC roots — thousands of tasks on a long-lived
      // executor would strand thousands of parked threads. With the
      // timeout an orphaned pool drains itself in 10 s; the task-level
      // completion listener below shuts it down eagerly when Spark
      // tells us the task is over.
      private val pool = new ThreadPoolExecutor(
        concurrency, concurrency, 10L, TimeUnit.SECONDS,
        new LinkedBlockingQueue[Runnable](),
        (r: Runnable) => { val t = new Thread(r, "graft-probe"); t.setDaemon(true); t })
      pool.allowCoreThreadTimeOut(true)
      Option(org.apache.spark.TaskContext.get()).foreach(
        _.addTaskCompletionListener[Unit](_ => pool.shutdownNow()))
      private val inflight =
        new java.util.ArrayDeque[java.util.concurrent.Future[ProbeResult]]()
      private def fill(): Unit =
        while (inflight.size < concurrency && paths.hasNext) {
          val p = paths.next()
          inflight.add(pool.submit(() => probe(p)))
        }
      fill()
      override def hasNext: Boolean = !inflight.isEmpty
      override def next(): ProbeResult = {
        val r = inflight.remove().get() // probe() never throws (P3)
        fill()
        if (inflight.isEmpty) pool.shutdown()
        r
      }
    }
}

/** Real ffprobe prober: one call per file; the result comes, by key, from
  * the first video stream, the first audio stream and the format section.
  *
  * Per-row failures are captured into `probeError` (P3) so one corrupt
  * file never fails a 100 TB job; the quarantine set is a filter away.
  */
final class FfprobeProber(timeoutSec: Int = 30,
                          binary: String = "ffprobe") extends Prober {

  /** Fork one probe with a bounded wait and GUARANTEED reaping:
    *  - stdout/stderr drain on a daemon thread (a chatty probe filling
    *    the pipe buffer must not deadlock against our waitFor),
    *  - `waitFor(timeout)` bounds the wedge (truncated container, dead
    *    NFS) — the ROW quarantines, the task slot survives,
    *  - timeout escalates SIGTERM → (2 s grace) → SIGKILL
    *    (`destroyForcibly`, which a TERM-trapping child can't ignore),
    *  - the final untimed `waitFor` REAPS the dead child so no zombie
    *    pid accumulates over a multi-million-file partition. */
  private def run(cmd: Seq[String]): Seq[String] = {
    import java.util.concurrent.TimeUnit
    val pb = new ProcessBuilder(cmd: _*)
    val proc = pb.start()
    proc.getOutputStream.close()
    val out = new java.io.ByteArrayOutputStream
    val err = new java.io.ByteArrayOutputStream
    def drain(src: java.io.InputStream, dst: java.io.ByteArrayOutputStream) = {
      val t = new Thread(() => {
        try src.transferTo(dst) catch { case NonFatal(_) => () }
      }, "graft-probe-drain")
      t.setDaemon(true)
      t.start()
      t
    }
    val outT = drain(proc.getInputStream, out)
    val errT = drain(proc.getErrorStream, err)
    val finished = proc.waitFor(timeoutSec.toLong, TimeUnit.SECONDS)
    if (!finished) {
      proc.destroy()
      if (!proc.waitFor(2, TimeUnit.SECONDS)) proc.destroyForcibly()
      proc.waitFor() // reap — never leave a zombie behind
      throw new RuntimeException(s"ffprobe timeout after ${timeoutSec}s")
    }
    outT.join(1000); errT.join(1000)
    val status = proc.exitValue()
    if (status != 0) throw new RuntimeException(
      s"ffprobe exit $status: ${err.toString("UTF-8").trim.take(200)}")
    out.toString("UTF-8").split('\n').toSeq.filter(_.nonEmpty)
  }

  override def probe(path: String): ProbeResult =
    try {
      val sections = parseSections(run(Seq(binary, "-v", "error",
        "-show_entries",
        "stream=codec_type,codec_long_name,width,height,channels:format=nb_streams,format_long_name,duration:format_tags=title",
        "-of", "default", "-i", path)))
      def first(p: Map[String, String] => Boolean) = sections.find(p).getOrElse(Map.empty)
      val v = first(_.get("codec_type").contains("video"))
      val a = first(_.get("codec_type").contains("audio"))
      val f = first(_.get("").contains("FORMAT"))
      def int(kv: Map[String, String], key: String) = kv.get(key).flatMap(_.toIntOption)
      ProbeResult(
        videoCodec = v.get("codec_long_name"),
        width = int(v, "width"),
        height = int(v, "height"),
        nbStreams = int(f, "nb_streams"),
        container = f.get("format_long_name"),
        durationRaw = f.get("duration"),
        title = f.get("TAG:title"),
        audioCodec = a.get("codec_long_name"),
        audioChannels = int(a, "channels"))
    } catch {
      case NonFatal(e) => ProbeResult(probeError = Some(e.getMessage))
    }

  /** The `[NAME]` ... `[/NAME]` sections of ffprobe's default writer, in
    * output order: each section's `key=value` lines, and NAME under "". */
  private def parseSections(lines: Seq[String]): List[Map[String, String]] =
    lines.foldLeft(List.empty[Map[String, String]]) {
      case (acc, l) if l.startsWith("[/") => acc
      case (acc, l) if l.startsWith("[") => Map("" -> l.drop(1).stripSuffix("]")) :: acc
      case (kv :: done, l) if l.indexOf('=') > 0 =>
        val (k, v) = l.splitAt(l.indexOf('='))
        (kv + (k -> v.tail)) :: done
      case (acc, _) => acc
    }.reverse
}

/** Deterministic stub prober: derives every field arithmetically from a
  * numeric file id embedded in the path as "/f<id>/" (the test listings
  * put it there). Lets correctness tests and the DuckDB oracle reproduce
  * probe output without ffmpeg — the Spark-side plumbing (mapPartitions,
  * schema, quarantine) is identical to production.
  */
final class StubProber extends Prober {
  private val FileId = ".*/f(\\d+)/.*".r

  override def probe(path: String): ProbeResult = path match {
    case FileId(idStr) =>
      val id = idStr.toLong
      if (id % 29 == 0)
        ProbeResult(probeError = Some("simulated ffprobe failure"))
      else {
        val widths  = Array(640, 1280, 1920, 3840)
        val heights = Array(360, 720, 1080, 2160)
        val codecs = Array(
          "H.265 / HEVC (High Efficiency Video Coding)",
          "Alliance for Open Media AV1",
          "H.264 / AVC / MPEG-4 AVC / MPEG-4 part 10",
          "MPEG-4 part 2")
        val containers = Array(
          "Matroska / WebM", "QuickTime / MOV",
          "AVI (Audio Video Interleaved)")
        val noDim = id % 11 == 0
        val noAudio = id % 13 == 0
        ProbeResult(
          videoCodec = Some(codecs((id % 4).toInt)),
          width = if (noDim) None else Some(widths((id % 4).toInt)),
          height = if (noDim) None else Some(heights((id % 4).toInt)),
          nbStreams = Some(2 + (id % 3).toInt),
          container = Some(containers((id % 3).toInt)),
          durationRaw = if (id % 17 == 0) Some("N/A")
                        else Some(((id % 9000) + 30).toString),
          title = if (id % 5 == 0) None else Some(s"Movie ${id % 59}"),
          audioCodec = if (noAudio) None
                       else Some("AAC (Advanced Audio Coding)"),
          audioChannels = if (noAudio) None
                          else Some(Array(2, 6, 8)((id % 3).toInt)))
      }
    case _ => ProbeResult(probeError = Some(s"unparseable stub path: $path"))
  }
}
