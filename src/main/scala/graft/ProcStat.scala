package graft

/** /proc-based attribution primitives shared by the measurement mains
  * ([[Bench]], [[GateFloor]]): window-scoped CPU/IO shares that answer
  * "is this wall-clock reading impeached by co-tenant CPU or storage
  * stalls?" mechanically, at measurement time, instead of via
  * post-commit forensics. Extracted from Bench in round 15 so the gate
  * floors are produced under the SAME attribution discipline as the
  * suite rows they are subtracted from (the round-14 verdict's one
  * defective artifact was GateFloor measuring without sidecars).
  *
  * All reads are plain procfs text (Linux-only — the only driver
  * environment); any failure degrades to -1 fields, never a crash.
  */
object ProcStat {

  /** (busy, total, iowait) jiffies from /proc/stat's cpu line. iowait
    * is carried SEPARATELY because it is deliberately not in `busy`:
    * other_cpu answers "was a CPU co-tenant stealing cycles?" and a
    * disk-stalled core steals nothing. `io_wait` in the sidecar closes
    * the trichotomy: wall spike + quiet other_cpu + high io_wait =
    * storage contention, dismissible in one line (the q155 round-14
    * lesson). First 8 fields only (user nice system idle iowait irq
    * softirq steal): the kernel folds guest/guest_nice into user/nice,
    * so summing all 10 double-counts guest time on a VM-hosting box
    * (round-13 ADVICE). */
  def busyTotalIoWait(): (Long, Long, Long) =
    try {
      val line = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("/proc/stat")).get(0)
      val f = line.trim.split("\\s+").drop(1).take(8).map(_.toLong)
      val iow = if (f.length > 4) f(4) else 0L
      val idle = f(3) + iow
      (f.sum - idle, f.sum, iow)
    } catch { case scala.util.control.NonFatal(_) => (-1L, -1L, -1L) }

  /** This process's utime+stime jiffies (in local mode the executors
    * are this JVM, so this is "our" share of the window). */
  def selfJiffies(): Long =
    try {
      val s = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/self/stat")), "UTF-8")
      // comm may contain spaces/parens: fields restart after last ')'
      val rest = s.substring(s.lastIndexOf(')') + 2).split(" ")
      rest(11).toLong + rest(12).toLong // utime + stime
    } catch { case scala.util.control.NonFatal(_) => -1L }

  def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  /** PSI stall totals in usec: (cpu some, io some, io full, memory
    * some) from /proc/pressure/{cpu,io,memory}. The round-15 verdict's
    * anti-scaling tail (rows 4-19x slower at 32 cores with other_cpu
    * ~= 0, io_wait = 0, own_cpu ~= 1/32) was invisible to the
    * busy/own/iowait trichotomy because a PARKED thread burns nothing
    * in any of those columns; PSI measures the stall directly —
    * "some" = at least one runnable-or-waiting task was stalled on the
    * resource, "full" (io) = ALL non-idle tasks were. -1 on failure
    * (PSI needs CONFIG_PSI; the driver sandbox has it). */
  def psiTotals(): (Long, Long, Long, Long) =
    try {
      def total(path: String, kind: String): Long = {
        val ls = java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get(path))
        var i = 0
        while (i < ls.size) {
          val l = ls.get(i)
          if (l.startsWith(kind)) {
            val m = l.substring(l.indexOf("total=") + 6).trim
            return m.toLong
          }
          i += 1
        }
        -1L
      }
      (total("/proc/pressure/cpu", "some"),
       total("/proc/pressure/io", "some"),
       total("/proc/pressure/io", "full"),
       total("/proc/pressure/memory", "some"))
    } catch { case scala.util.control.NonFatal(_) => (-1L, -1L, -1L, -1L) }

  /** The batch-side twin of StreamDiag (round-15 verdict item 1): a
    * daemon thread that samples every live thread's state twice a
    * second while a measurement window runs and answers "when the wall
    * burned with idle CPUs, WHERE were the task threads parked?" —
    * the one question the CPU-share sidecars cannot (a parked thread
    * appears in none of other_cpu / own_cpu / io_wait).
    *
    * A sample counts as STALLED when at least one Spark task is
    * mid-flight (its worker thread's stack contains TaskRunner.run)
    * and NONE of the in-flight task threads is RUNNABLE. The modal
    * first non-JDK frame of a parked task thread is recorded as the
    * park site (e.g. the round-15 gate diagnosis's
    * ChecksumCheckpointFileManager.awaitResult). The first second of a
    * window is never sampled (sub-second rows pay zero overhead; the
    * multi-second stall rows this exists for get 10+ samples), and
    * sampling costs one getAllStackTraces per 500 ms (~1 ms each). */
  final class StallSampler extends Thread {
    private var samples = 0
    private var stalledSamples = 0
    private val sites = new java.util.HashMap[String, Integer]()
    setDaemon(true)
    setName("graft-stall-sampler")

    private def interesting(f: StackTraceElement): Boolean = {
      val c = f.getClassName
      !(c.startsWith("java.") || c.startsWith("jdk.") ||
        c.startsWith("sun.") || c.startsWith("scala.concurrent."))
    }

    override def run(): Unit =
      try {
        Thread.sleep(1000)
        while (!isInterrupted) {
          val all = Thread.getAllStackTraces
          var active = 0; var runnable = 0; var site: String = null
          val it = all.entrySet().iterator()
          while (it.hasNext) {
            val e = it.next()
            val st = e.getValue
            var isTask = false; var i = 0
            while (i < st.length && !isTask) {
              if (st(i).getClassName
                    .startsWith("org.apache.spark.executor.Executor") &&
                  st(i).getMethodName == "run") isTask = true
              i += 1
            }
            if (isTask) {
              active += 1
              if (e.getKey.getState == Thread.State.RUNNABLE) runnable += 1
              else if (site == null) {
                var j = 0
                while (j < st.length && site == null) {
                  if (interesting(st(j)))
                    site = st(j).getClassName + "." + st(j).getMethodName
                  j += 1
                }
              }
            }
          }
          synchronized {
            samples += 1
            if (active > 0 && runnable == 0) {
              stalledSamples += 1
              if (site != null) sites.merge(site, 1, (a, b) => a + b)
            }
          }
          Thread.sleep(500)
        }
      } catch { case _: InterruptedException => case scala.util.control.NonFatal(_) => }

    /** Stops the sampler; returns (stalled-sample fraction, modal park site or ""). */
    def finish(): (Double, String) = {
      interrupt()
      join()
      synchronized {
        val frac = if (samples == 0) 0.0 else stalledSamples.toDouble / samples
        var best: String = ""; var bestN = 0
        val it = sites.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          if (e.getValue > bestN) { bestN = e.getValue; best = e.getKey }
        }
        (frac, best)
      }
    }
  }

  /** One window's attribution: shares of the box's jiffies during a
    * measurement, split into this JVM's work, everyone else's, and
    * storage stall; plus the wait-attribution columns (PSI stall
    * shares of the window's wall, and the in-process parked-task
    * sampler). -1 fields mean procfs was unreadable. */
  case class Window(otherCpu: Double, ownCpu: Double, ioWait: Double,
                    load: Double, psiCpu: Double = -1.0,
                    psiIo: Double = -1.0, psiIoFull: Double = -1.0,
                    psiMem: Double = -1.0, stallFrac: Double = 0.0,
                    stallSite: String = "") {
    /** The round-14 verdict's row-wise quiet rule: a reading whose own
      * window shows co-tenant CPU above ~0.05 or storage stall above
      * ~0.02 impeaches itself and should be re-taken, not published
      * then dismissed post-commit. Unjudgeable (-1) windows are NOT
      * impeached — there is nothing to retry against. */
    def impeached: Boolean =
      otherCpu > ImpeachOtherCpu || ioWait > ImpeachIoWait
  }

  /** Impeachment thresholds (round-14 verdict "Next round" #2): chosen
    * from three rounds of forensics — every dismissed-after-commit
    * band read other_cpu 0.078–0.154, every isolated quiet rep read
    * ≤ 0.03; io_wait quiet reps read ≤ 0.01. */
  val ImpeachOtherCpu = 0.05
  val ImpeachIoWait = 0.02

  /** Run `body`, returning (its result, the window's attribution). */
  def windowed[A](body: => A): (A, Window) = {
    val (b0, t0, w0) = busyTotalIoWait(); val s0 = selfJiffies()
    val (pc0, pi0, pf0, pm0) = psiTotals()
    val wall0 = System.nanoTime()
    val sampler = new StallSampler
    sampler.start()
    var stall = (0.0, "")
    val r = try body finally stall = sampler.finish()
    val wallUs = math.max(1L, (System.nanoTime() - wall0) / 1000L).toDouble
    val (pc1, pi1, pf1, pm1) = psiTotals()
    val (b1, t1, w1) = busyTotalIoWait(); val s1 = selfJiffies()
    def psiShare(a: Long, b: Long): Double =
      if (a < 0 || b < 0) -1.0 else math.max(0L, b - a) / wallUs
    // the PSI and sampler columns do not depend on the jiffy counters,
    // so an unreadable /proc/stat blanks only the CPU shares
    val bad = b0 < 0 || b1 < 0 || s0 < 0 || s1 < 0 || t1 <= t0
    val tot = (t1 - t0).toDouble
    def share(x: Long): Double = if (bad) -1.0 else math.max(0L, x) / tot
    (r, Window(share((b1 - b0) - (s1 - s0)), share(s1 - s0), share(w1 - w0),
      loadAvg(), psiShare(pc0, pc1), psiShare(pi0, pi1), psiShare(pf0, pf1),
      psiShare(pm0, pm1), stall._1, stall._2))
  }
}
