package graft.plans

import graft.SparkSpec
import org.apache.spark.metrics.source.CodegenMetrics

/** The shared session carries MemoryDiscipline.CodegenCachePolicy. Under
  * Spark's 100-entry default, a plan that ran before 100+ other distinct
  * plans has been evicted and compiles again; under per-session artifact
  * isolation, the same plan compiles again in every new session. With the
  * policy, neither rerun compiles anything.
  */
class CodegenCacheSpec extends SparkSpec {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  // literals are inlined into the generated code, so every k is its own
  // class; a fresh DataFrame per run so nothing is reused but the cache
  private def run(s: org.apache.spark.sql.SparkSession, k: Int): Long =
    s.range(0, 16, 1, 1).selectExpr(s"id * $k + ${k % 7} AS v")
      .collect().map(_.getLong(0)).sum

  private def newCompiles(body: => Unit): Long = {
    val before = compiles
    body
    compiles - before
  }

  test("a plan re-run after 150 distinct plans compiles nothing new") {
    val first = run(spark, 1)
    val filled = newCompiles((2 to 151).foreach(run(spark, _)))
    assert(filled > 150, s"only $filled compiles for 150 distinct plans")
    var again = 0L
    assert(newCompiles { again = run(spark, 1) } === 0L,
      "re-running the first plan compiled again")
    assert(again === first)
  }

  test("a plan re-run in a new session compiles nothing new") {
    run(spark, 1000)
    assert(newCompiles(run(spark.newSession(), 1000)) === 0L)
  }
}
