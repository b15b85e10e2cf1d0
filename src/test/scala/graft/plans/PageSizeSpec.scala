package graft.plans

import org.scalatest.funsuite.AnyFunSuite

/** MemoryDiscipline.pageBytes: 1 MiB pages, grown to the next power of two
  * only where 8192 pages could not cover the heap.
  */
class PageSizeSpec extends AnyFunSuite {
  private val MiB = 1L << 20

  test("heaps up to 8 GiB get 1 MiB pages") {
    for (heap <- Seq(512 * MiB, 3072 * MiB, 8192 * MiB))
      assert(MemoryDiscipline.pageBytes(heap) === MiB, s"heap $heap")
  }

  test("larger heaps get the smallest power of two that 8192 pages cover") {
    assert(MemoryDiscipline.pageBytes(8192 * MiB + 1) === 2 * MiB)
    assert(MemoryDiscipline.pageBytes(32768 * MiB) === 4 * MiB)
    assert(MemoryDiscipline.pageBytes(40000 * MiB) === 8 * MiB)
    for (heap <- Seq(12000 * MiB, 32768 * MiB, 100000 * MiB)) {
      val p = MemoryDiscipline.pageBytes(heap)
      assert(java.lang.Long.bitCount(p) === 1)
      assert(p * 8192 >= heap)
      assert(p / 2 * 8192 < heap)
    }
  }
}
