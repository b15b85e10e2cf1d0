package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON writer for the harness's result file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")
}

/** Wall-clock conversion shared by every record: spans from the harness are
  * timed with nanoTime and converted to epoch milliseconds, the unit Spark's
  * listener events carry, so both kinds of interval can be merged.
  */
object Clock {
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis().toDouble
  def ms(ns: Long): Double = anchorMs + (ns - anchorNs) / 1e6
  def now(): Double = ms(System.nanoTime())
}

/** A harness-side span around one call into a layer. `op` is the operation
  * it belongs to; `parent` names the enclosing span.
  */
final case class Span(name: String, start: Double, end: Double, op: Int, parent: String) {
  def json: String = Json.obj(Seq("name" -> Json.str(name), "start" -> Json.num(start),
    "end" -> Json.num(end), "op" -> op.toString, "parent" -> Json.str(parent)))
}

/** Listeners the traced run registers, plus the spans the harness records.
  * Everything is kept in memory and written once at exit.
  */
final class Tracer {
  val spans = new ConcurrentLinkedQueue[Span]()

  private final class JobAcc(val id: Int, val group: String, val start: Double) {
    var end = 0.0
    var ok = true
    var stages = 0
    var tasks = 0
    var failed = 0
    var retried = 0
    val sums = mutable.LinkedHashMap.empty[String, Double]
    val skews = mutable.ArrayBuffer.empty[Double]
    def add(k: String, v: Double): Unit = sums(k) = sums.getOrElse(k, 0.0) + v
    def json: String = Json.obj(Seq("id" -> id.toString, "group" -> Json.str(group),
      "start" -> Json.num(start), "end" -> Json.num(end), "ok" -> ok.toString,
      "stages" -> stages.toString, "tasks" -> tasks.toString,
      "failed" -> failed.toString, "retried" -> retried.toString,
      "skews" -> Json.arr(skews.map(Json.num))) ++ sums.map { case (k, v) => k -> Json.num(v) })
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, JobAcc]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageTaskRun = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Double]]
  private val queryExecs = new ConcurrentLinkedQueue[String]()
  private val progress = new ConcurrentLinkedQueue[String]()
  private val streamsStarted = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val streamsEnded = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val DrainGroup = "perfbench-drain"
  @volatile private var drained = false

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs(e.jobId) = new JobAcc(e.jobId, group, e.time.toDouble)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.get(e.jobId).foreach { j =>
        j.end = e.time.toDouble
        j.ok = e.jobResult == JobSucceeded
        if (j.group == DrainGroup) drained = true
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = jobs.synchronized {
      val si = e.stageInfo
      for (jid <- stageJob.get(si.stageId); j <- jobs.get(jid)) {
        j.stages += 1
        stageTaskRun.remove((si.stageId, si.attemptNumber())).foreach { runs =>
          // skew = slowest task over the mean task, on stages wide enough
          // for one slow task to hold up the rest
          if (runs.size >= 2 && runs.sum > 0) j.skews += runs.max / (runs.sum / runs.size)
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
      for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
        val info = e.taskInfo
        j.tasks += 1
        if (!info.successful) j.failed += 1
        if (info.attemptNumber > 0 || info.speculative) j.retried += 1
        j.add("busy_ms", (info.finishTime - info.launchTime).toDouble)
        val m = e.taskMetrics
        if (m != null) {
          val run = m.executorRunTime.toDouble
          stageTaskRun.getOrElseUpdate((e.stageId, e.stageAttemptId),
            mutable.ArrayBuffer.empty) += run
          j.add("run_ms", run)
          j.add("cpu_ms", m.executorCpuTime / 1e6)
          j.add("deser_ms", m.executorDeserializeTime.toDouble)
          j.add("gc_ms", m.jvmGCTime.toDouble)
          // the scheduler-delay definition Spark's own UI uses
          j.add("sched_ms", math.max(0.0, (info.finishTime - info.launchTime) - run -
            m.executorDeserializeTime - m.resultSerializationTime -
            (if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0)))
          j.add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten.toDouble)
          j.add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead.toDouble)
          j.add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
          j.add("spill_mem_b", m.memoryBytesSpilled.toDouble)
          j.add("spill_disk_b", m.diskBytesSpilled.toDouble)
          j.add("input_b", m.inputMetrics.bytesRead.toDouble)
        }
      }
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper

  /** Rows out of the candidate joins: the join whose keys are the band
    * hash (MinHash banding), the hyperplane bucket (vector LSH) or the
    * shingle id of the set-similarity join's prefix index.
    */
  private def bucketJoinRows(qe: QueryExecution): Double =
    try Plans.collectWithSubqueries(qe.executedPlan) {
      case j: BaseJoinExec if j.leftKeys.exists(k => k.references.exists(a =>
          a.name == "bhash" || a.name == "bucket" || a.name == "gid")) =>
        j.metrics.get("numOutputRows").map(_.value.toDouble).getOrElse(0.0)
    }.sum catch { case _: Throwable => 0.0 }

  private def recordQe(func: String, qe: QueryExecution, ok: Boolean): Unit = {
    val t = qe.tracker
    val phases = t.phases.map { case (k, p) =>
      k -> Json.arr(Seq(Json.num(p.startTimeMs.toDouble), Json.num(p.endTimeMs.toDouble)))
    }
    val graftNs = t.rules.collect { case (k, r) if k.startsWith("graft.") => r.totalTimeNs }.sum
    queryExecs.add(Json.obj(Seq("func" -> Json.str(func), "ok" -> ok.toString,
      "phases" -> Json.obj(phases), "graft_rules_ms" -> Json.num(graftNs / 1e6),
      "bucket_join_rows" -> Json.num(bucketJoinRows(qe)))))
  }

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
      recordQe(func, qe, ok = true)
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
      recordQe(func, qe, ok = false)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      streamsStarted.add(e.runId.toString)
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      streamsEnded.add(e.runId.toString)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val durations = p.durationMs.asScala.map { case (k, v) => k -> Json.num(v.toDouble) }
      val state = p.stateOperators.map { s =>
        Json.obj(Seq("rows_total" -> s.numRowsTotal.toString,
          "rows_updated" -> s.numRowsUpdated.toString,
          "rows_removed" -> s.numRowsRemoved.toString,
          "mem_bytes" -> s.memoryUsedBytes.toString,
          "commit_ms" -> s.commitTimeMs.toString,
          "updates_ms" -> s.allUpdatesTimeMs.toString,
          "dropped_late" -> s.numRowsDroppedByWatermark.toString) ++
          s.customMetrics.asScala.map { case (k, v) => k -> v.toString })
      }
      progress.add(Json.obj(Seq("run" -> Json.str(p.runId.toString),
        "batch" -> p.batchId.toString, "start" -> Json.num(start),
        "rows" -> p.numInputRows.toString, "durations" -> Json.obj(durations),
        "state" -> Json.arr(state))))
    }
  }

  /** Wait until the listeners have seen every event of the work done so
    * far. Listener events arrive asynchronously, each bus in posting order:
    * a marker job run now ends after every earlier job and query execution
    * has been delivered, and a stream query's termination comes after all
    * of its progress events. Uses public callbacks only.
    */
  def drain(sc: org.apache.spark.SparkContext, timeoutMs: Long = 60000): Unit = {
    sc.setJobGroup(DrainGroup, "wait for listener events", interruptOnCancel = false)
    try sc.parallelize(Seq(0), 1).count() finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!(drained && streamsEnded.containsAll(streamsStarted))) {
      require(System.currentTimeMillis() < deadline, "listener events still pending")
      Thread.sleep(10)
    }
    jobs.synchronized(jobs.filterInPlace { case (_, j) => j.group != DrainGroup })
  }

  def json: String = jobs.synchronized {
    Json.obj(Seq(
      "spans" -> Json.arr(spans.asScala.map(_.json)),
      "jobs" -> Json.arr(jobs.values.map(_.json)),
      "query_execs" -> Json.arr(queryExecs.asScala),
      "progress" -> Json.arr(progress.asScala)))
  }
}
