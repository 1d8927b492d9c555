package graft

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The measurement window must not outlive its body: a sampler thread
  * left running would add its 2 Hz stack walks to every later window. */
class ProcStatSpec extends AnyFunSuite {

  private def liveSamplers =
    Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName == "graft-stall-sampler" && t.isAlive)

  test("windowed stops its stall sampler whether the body returns or throws") {
    val (r, _) = ProcStat.windowed(42)
    assert(r == 42)
    assert(liveSamplers.isEmpty, "sampler still running after a normal window")
    intercept[IllegalStateException](
      ProcStat.windowed[Unit](throw new IllegalStateException("boom")))
    assert(liveSamplers.isEmpty, "sampler still running after the body threw")
  }
}
