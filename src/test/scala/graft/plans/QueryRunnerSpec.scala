package graft.plans

import graft.{SparkEntry, SparkSpec}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** The shared query runner: every queued name runs once, a throwing query
  * is captured without stopping the others, and each worker's session
  * conf stays its own.
  */
class QueryRunnerSpec extends SparkSpec {

  private val cheap = Seq("q1_agg", "q6_revenue_forecast", "a2_count",
    "a3_reduce_sum", "a10_max_min", "p3_filter")

  test("every queued registry query runs exactly once across two workers") {
    assert(cheap.forall(SparkEntry.queries.contains))
    val runs = new ConcurrentHashMap[String, AtomicInteger]()
    val out = new QueryRunner(spark, 2).run(cheap) { (s, name) =>
      runs.computeIfAbsent(name, _ => new AtomicInteger()).incrementAndGet()
      SparkEntry.queries(name)(s, sf0001).collect().length
    }
    assert(out.keySet === cheap.toSet)
    out.foreach { case (name, r) => assert(r.isRight, s"$name: $r") }
    cheap.foreach(n => assert(runs.get(n).get === 1, n))
  }

  test("a query that throws is captured and the others still complete") {
    val order = cheap.take(3) :+ "x_planted_failure" :+ cheap(3)
    val out = new QueryRunner(spark, 2).run(order) { (s, name) =>
      if (name == "x_planted_failure") throw new IllegalStateException("planted")
      SparkEntry.queries(name)(s, sf0001).count()
    }
    assert(out.keySet === order.toSet)
    assert(out("x_planted_failure").left.map(_.getMessage) === Left("planted"))
    order.filterNot(_ == "x_planted_failure")
      .foreach(n => assert(out(n).isRight, s"$n: ${out(n)}"))
  }

  test("a session conf set in one worker's query is not seen by another") {
    val key = "spark.graft.test.runnerOwner"
    // both queries hold their worker until the other has set its conf, so
    // the two run at once, on different workers
    val bothSet = new CountDownLatch(2)
    val out = new QueryRunner(spark, 2).run(Seq("a", "b")) { (s, name) =>
      s.conf.set(key, name)
      bothSet.countDown()
      assert(bothSet.await(60, TimeUnit.SECONDS), "the other worker never ran")
      (System.identityHashCode(s), s.conf.get(key))
    }
    val Seq(a, b) = Seq("a", "b").map(n => out(n).fold(e => throw e, identity))
    assert(a._1 !== b._1, "both queries ran on one session")
    assert(a._2 === "a" && b._2 === "b")
    assert(spark.conf.getOption(key).isEmpty, "a worker's conf leaked to the parent")
  }

  test("queue order scatters or LPT-sorts; never drops or duplicates names") {
    val names = (1 to 100).map(i => s"q$i")
    val scattered = QueryRunner.queueOrder(names, Map.empty)
    assert(scattered.sorted == names.sorted && scattered != names.sorted.toSeq)
    val past = names.zipWithIndex.map { case (n, i) => n -> i.toDouble }.toMap
    val lpt = QueryRunner.queueOrder(names, past)
    assert(lpt.head == "q100" && lpt.last == "q1" && lpt.sorted == names.sorted)
  }

  test("pastTimes reads bench_full.json's queries map, and is empty without one") {
    val dir = java.nio.file.Files.createTempDirectory("graft-runner-spec")
    try {
      val f = dir.resolve("bench_full.json")
      assert(QueryRunner.pastTimes(f) === Map.empty)
      java.nio.file.Files.writeString(f, """{"total":41.5,"warm":{"q1_agg":0.500000},""" +
        """"warm_norm":{},"queries":{"a2_count":0.123456,"q1_agg":1.500000,"x_bad":-1.000000}}""")
      assert(QueryRunner.pastTimes(f) ===
        Map("a2_count" -> 0.123456, "q1_agg" -> 1.5, "x_bad" -> -1.0))
    } finally {
      dir.toFile.listFiles().foreach(_.delete()); dir.toFile.delete()
    }
  }

  test("the worker count is a quarter of the cores, between 2 and 8") {
    assert(Seq(1, 4, 8, 12, 32, 64).map(QueryRunner.workers) === Seq(2, 2, 2, 3, 8, 8))
  }
}
