package graft

import graft.plans.MemoryDiscipline
import org.scalatest.funsuite.AnyFunSuite

/** The spill-safety boundary is pure arithmetic over this JVM's max heap —
  * pin the arithmetic and both sides of the boundary without needing a
  * SparkSession (builder options aren't readable back).
  */
class MemoryDisciplineSpec extends AnyFunSuite {

  test("bytesPerCore divides max heap by the slot count (floor, min 1)") {
    val max = Runtime.getRuntime.maxMemory()
    assert(MemoryDiscipline.bytesPerCore(1) === max)
    assert(MemoryDiscipline.bytesPerCore(7) === max / 7)
    // degenerate core counts clamp to 1 instead of dividing by zero
    assert(MemoryDiscipline.bytesPerCore(0) === max)
  }

  test("a starved ratio earns the spill knob, a rich one earns none") {
    val max = Runtime.getRuntime.maxMemory()
    // enough slots that heap-per-core is guaranteed under 512 MiB
    val starvedCores =
      (max / MemoryDiscipline.SafeBytesPerCore + 1).toInt.max(2)
    val starved = MemoryDiscipline.knobs(starvedCores)
    assert(starved ===
      Map("spark.unsafe.sorter.spill.read.ahead.enabled" -> "false",
        "spark.shuffle.spill.diskWriteBufferSize" -> "131072"))
    // one slot owning the whole heap is safe on any test JVM big enough
    // to run Spark at all (sbt forks these suites at >= 1 GiB)
    if (max >= MemoryDiscipline.SafeBytesPerCore)
      assert(MemoryDiscipline.knobs(1) === Map.empty)
  }
}
