package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The inspection main's shared pieces and the harness sweep-lock check. */
class InspectSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("sweep lock reads held only for a live PID") {
    val dir = Files.createTempDirectory("graft-lock")
    def heldWith(contents: Option[String]): Boolean = {
      val lock = dir.resolve("sweep.lock")
      Files.deleteIfExists(lock)
      contents.foreach(Files.writeString(lock, _))
      Watchdog.sweepLockHeld(lock)
    }
    val exited = new ProcessBuilder("true").start()
    exited.waitFor()
    try {
      assert(heldWith(Some(s"${ProcessHandle.current.pid}\n")))
      assert(!heldWith(Some(exited.pid.toString)))
      assert(!heldWith(Some("not-a-pid")))
      assert(!heldWith(None))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("finalPlan cuts the initial plan; stages profiles a warmed run") {
    val plan = Inspect.finalPlan(SparkEntry.queries("q1_pricing_summary")(spark, TestSpark.sfDir))
    assert(plan.contains("isFinalPlan=true"))
    assert(!plan.contains("Initial Plan"))
    val (_, rows, stages) = Inspect.stages(spark, TestSpark.sfDir, "q1_pricing_summary")
    assert(rows > 0)
    assert(stages.exists(_.tasks.nonEmpty), stages.map(_.name))
  }
}
