package graft.plans

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The one way the program runs a batch of registry queries: Bench's
  * passes and Verify's dump both go through it. At the gate scale factors
  * a query's cost is mostly per-job fixed cost, not compute, so `workers`
  * threads submit side by side on the one SparkContext. Each worker owns
  * one `newSession()` (its own SQLConf, temp views and functions, so a
  * query that sets a session conf cannot change a neighbour's plan) and one
  * FAIR pool (effective under [[GateSession.gateSf]]'s FAIR scheduler), and
  * takes the next name from one shared queue. A query that throws is
  * captured as its result; the rest still run. The sessions are built once,
  * on the constructing thread, and every [[run]] reuses them.
  */
final class QueryRunner(spark: SparkSession, workers: Int) {
  require(workers >= 1, s"workers must be >= 1, got $workers")
  private val sessions = Vector.fill(workers)(spark.newSession())

  /** Run `body` once per name, on whichever worker takes it next, and
    * return each name's value or what it threw. Returns when all have run.
    */
  def run[T](order: Seq[String])(
      body: (SparkSession, String) => T): Map[String, Either[Throwable, T]] = {
    require(order.distinct.size == order.size, "each name must be queued once")
    val queue = new ConcurrentLinkedQueue[String](order.asJava)
    val results = new ConcurrentHashMap[String, Either[Throwable, T]]()
    val threads = sessions.zipWithIndex.map { case (sess, i) =>
      val t = new Thread(() => {
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"graft-w$i")
        var name = queue.poll()
        while (name != null) {
          results.put(name, QueryRunner.attempt(body(sess, name)))
          name = queue.poll()
        }
      }, s"graft-worker-$i")
      t.start(); t
    }
    threads.foreach(_.join())
    results.asScala.toMap
  }
}

object QueryRunner {

  /** Worker count for `cpus` task slots: a quarter, at least 2, at most 8. */
  def workers(cpus: Int): Int = math.max(2, math.min(8, cpus / 4))

  /** The per-query error capture: any throwable, fatal ones included, is
    * the query's result, so one query's failure never ends a batch.
    */
  def attempt[T](body: => T): Either[Throwable, T] =
    try Right(body) catch { case e: Throwable => Left(e) }

  /** Queue order: longest-processing-time-first when a previous run's
    * per-query seconds are known (classic LPT makespan heuristic), else a
    * deterministic name-hash scatter — alphabetical order would cluster
    * the heavy x_* family into the tail, leaving one worker to run the
    * slowest query alone at the end.
    */
  def queueOrder(names: Seq[String], past: Map[String, Double]): Seq[String] =
    if (past.nonEmpty) names.sortBy(n => (-past.getOrElse(n, 0.0), n))
    else names.sortBy(n => (scala.util.hashing.MurmurHash3.stringHash(n), n))

  /** Per-query seconds of the last Bench run (by default
    * `target/bench_full.json` under the working directory), or empty when
    * there is none.
    */
  def pastTimes(file: java.nio.file.Path = java.nio.file.Paths.get("target", "bench_full.json")):
      Map[String, Double] =
    try new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readAllBytes(file))
      .get("queries").properties().asScala.map(e => e.getKey -> e.getValue.asDouble()).toMap
    catch { case _: Exception => Map.empty }
}
