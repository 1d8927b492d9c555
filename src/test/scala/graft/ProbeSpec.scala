package graft

import java.nio.file.{Files, Path}
import java.nio.file.attribute.PosixFilePermissions

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.FfprobeProber

/** The subprocess edge of the probe stage (SURVEY §7 risk list): bounded
  * waits, TERM→KILL escalation, zombie reaping, and the bounded
  * per-partition pool — proven against fake probe binaries, since the
  * container has no ffmpeg. The StubProber-based oracle queries never
  * touch these paths. */
class ProbeSpec extends AnyFunSuite {
  import ProbeSpec.script

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  test("timeout quarantines the row quickly instead of hanging the task slot") {
    val p = new FfprobeProber(timeoutSec = 1, binary = script("sleep 30"))
    val (r, secs) = timed(p.probe("/some/file.mkv"))
    assert(r.probeError.exists(_.contains("timeout")),
      s"expected a timeout quarantine, got $r")
    assert(secs < 10, s"timeout path took ${secs}s — the slot hung")
  }

  test("a TERM-trapping probe is KILLed (destroyForcibly escalation)") {
    // ignores SIGTERM: plain destroy() would leave it running for 30s;
    // only the forced kill can end it within the 2s grace window
    val p = new FfprobeProber(timeoutSec = 1,
      binary = script("trap '' TERM\nsleep 30"))
    val (r, secs) = timed(p.probe("/some/file.mkv"))
    assert(r.probeError.exists(_.contains("timeout")))
    assert(secs < 10, s"TERM-immune child survived ${secs}s — KILL escalation failed")
  }

  test("non-zero exit lands in probeError with the stderr tail") {
    val p = new FfprobeProber(timeoutSec = 5,
      binary = script("echo 'moov atom not found' >&2\nexit 1"))
    val r = p.probe("/some/file.mkv")
    assert(r.probeError.exists(e => e.contains("exit 1") && e.contains("moov")),
      s"stderr must reach the quarantine record, got $r")
  }

  test("realistic ffprobe output parses into every ProbeResult field") {
    // one call prints every section in ffprobe's default writer format;
    // the parse is by key, so the video stream need not come first
    val bin = script(
      """printf '[STREAM]\ncodec_long_name=AAC (Advanced Audio Coding)\ncodec_type=audio\nchannels=6\n[/STREAM]\n'
        |printf '[STREAM]\ncodec_long_name=H.264 / AVC / MPEG-4 AVC / MPEG-4 part 10\ncodec_type=video\nwidth=1920\nheight=1080\n[/STREAM]\n'
        |printf '[FORMAT]\nnb_streams=3\nformat_long_name=Matroska / WebM\nduration=5430.2\nTAG:title=Some Title\n[/FORMAT]\n'""".stripMargin)
    val r = new FfprobeProber(timeoutSec = 5, binary = bin).probe("/m.mkv")
    assert(r.probeError.isEmpty, s"unexpected error: $r")
    assert(r.videoCodec.contains("H.264 / AVC / MPEG-4 AVC / MPEG-4 part 10"))
    assert(r.width.contains(1920) && r.height.contains(1080))
    assert(r.nbStreams.contains(3))
    assert(r.container.contains("Matroska / WebM"))
    assert(r.durationRaw.contains("5430.2"))
    assert(r.title.contains("Some Title"))
    assert(r.audioCodec.contains("AAC (Advanced Audio Coding)"))
    assert(r.audioChannels.contains(6))
    // audio-less file: no audio section -> fields null, no error
    val noAudio = script(
      """printf '[STREAM]\ncodec_long_name=MPEG-4 part 2\ncodec_type=video\nwidth=640\nheight=360\n[/STREAM]\n'
        |printf '[FORMAT]\nnb_streams=1\nformat_long_name=AVI (Audio Video Interleaved)\nduration=N/A\n[/FORMAT]\n'""".stripMargin)
    val r2 = new FfprobeProber(timeoutSec = 5, binary = noAudio).probe("/m.avi")
    assert(r2.probeError.isEmpty && r2.audioCodec.isEmpty && r2.audioChannels.isEmpty)
    assert(r2.title.isEmpty && r2.durationRaw.contains("N/A"))
  }

  test("probeAll: pooled probing preserves input order") {
    // the fake echoes its last arg (the -i path) as the video codec, so
    // videoCodec carries the path back out
    val p = new FfprobeProber(timeoutSec = 10, binary = script(
      """for last; do :; done
        |sleep 0.1
        |printf '[STREAM]\ncodec_type=video\ncodec_long_name=%s\n[/STREAM]\n' "$last"""".stripMargin))
    val paths = (1 to 9).map(i => s"/f$i/movie$i.mkv")
    val got = p.probeAll(paths.iterator, concurrency = 4).toList
    assert(got.map(_.videoCodec) == paths.map(Option(_)).toList,
      "results must come back in input order, not completion order")
  }

  test("probeAll: the pool runs concurrently AND stays bounded") {
    // each probe = 1 fork x 0.6s sleep of pure wait
    val bin = script("sleep 0.6\necho x")
    val p = new FfprobeProber(timeoutSec = 10, binary = bin)
    val paths = (1 to 6).map(i => s"/f$i/m.mkv")
    val (_, seq) = timed(p.probeAll(paths.iterator, 1).toList)
    val (_, pooled) = timed(p.probeAll(paths.iterator, 6).toList)
    // 6-way pool: one wave (~0.6s) vs six sequential (~3.6s). Loaded-box
    // margin: just require a real speedup.
    assert(pooled < seq * 0.6,
      s"pool gave no speedup: sequential ${seq}s vs pooled ${pooled}s")
    // boundedness: concurrency 2 over 6 paths needs >= 3 waves of 0.6s.
    // A pool that ignored the bound would finish in ~1 wave. Lower bounds
    // are load-robust (load only slows things down).
    val (_, two) = timed(p.probeAll(paths.iterator, 2).toList)
    assert(two >= 1.5,
      s"6 probes at concurrency 2 finished in ${two}s — more than 2 in flight")
  }
}

object ProbeSpec {
  /** A fake probe binary: a shell script running `body`. */
  def script(body: String): String = {
    val f: Path = Files.createTempFile("fake-ffprobe", ".sh")
    Files.write(f, s"#!/bin/sh\n$body\n".getBytes("UTF-8"))
    Files.setPosixFilePermissions(f, PosixFilePermissions.fromString("rwxr-xr-x"))
    f.toFile.deleteOnExit()
    f.toString
  }
}
