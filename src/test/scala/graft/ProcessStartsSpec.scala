package graft

import jdk.jfr.Recording
import org.scalatest.funsuite.AnyFunSuite

/** `ProcessStarts.during` reads its own JFR recording's dump, which holds
  * every event recorded in the JVM over its window, those of any other
  * recording included (a JVM run with `-XX:StartFlightRecording`, say). */
class ProcessStartsSpec extends AnyFunSuite {
  test("counts process starts under another JFR recording that samples threads") {
    val outer = new Recording()
    try {
      outer.enable("jdk.ExecutionSample").withPeriod(java.time.Duration.ofMillis(10))
      outer.start()
      val (spun, procs) = ProcessStarts.during {
        // keep a thread running Java code, so the outer recording has
        // execution samples inside the window
        val until = System.nanoTime() + 300L * 1000 * 1000
        var n = 0L
        while (System.nanoTime() < until) n += 1
        new ProcessBuilder("true").start().waitFor()
        n
      }
      assert(spun > 0)
      assert(procs.size == 1 && procs.head.contains("true"), procs)
    } finally outer.close()
  }
}
