package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Optimization-round instrumentation: run ONE query end to end (after an
  * untimed warm run of the same query so numbers are steady-state) and print
  * a job-level timeline — per-Spark-job wall, stage task-time, descriptions —
  * so a query's seconds decompose into fixture writes, stream micro-batches
  * and the final materialization without touching query code.
  *
  * Usage: runMain graft.QProfile <name1,name2,...> [repeat]
  */
object QProfile {
  def main(args: Array[String]): Unit = {
    val qnames = args(0).split(",").toSeq
    val repeats = if (args.length > 1) args(1).toInt else 1
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // default matches Bench/Verify/PlanDump (r15 advice: a 32-core default
    // here profiled under a different session geometry — shuffle
    // partitions, parIfNarrow threshold — than the bench being decomposed);
    // wide-core profiling requires an explicit SPARK_GRAFT_CPUS
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = graft.plans.GateSession.gateSf(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    case class J(id: Int, desc: String, t0: Long, var t1: Long = 0L,
      var taskTimeMs: Long = 0L, var stages: Int = 0)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    @volatile var recording = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) {
        val desc = Option(e.properties)
          .map(_.getProperty("spark.job.description", "")).getOrElse("")
        val cs = Option(e.properties)
          .map(_.getProperty("callSite.short", "")).getOrElse("")
        jobs.put(e.jobId, J(e.jobId, s"$cs | $desc".take(110), e.time))
        e.stageIds.foreach(sid => stageToJob.put(sid, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId)
        if (j != null) j.t1 = e.time
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val jid = stageToJob.getOrDefault(e.stageInfo.stageId, -1)
        val j = jobs.get(jid)
        if (j != null) {
          j.taskTimeMs += e.stageInfo.taskMetrics.executorRunTime
          j.stages += 1
          val tm = e.stageInfo.taskMetrics
          val rt = tm.executorRunTime
          // shuffle byte decomposition (r16, guide §2.3: to cut shuffle
          // bytes you must first see WHICH stage moves them): bytes written
          // by this stage's map side, bytes+ms fetched by its reduce side
          val sw = tm.shuffleWriteMetrics.bytesWritten
          val sr = tm.shuffleReadMetrics.totalBytesRead
          if (rt > 500 || sw > 10_000_000 || sr > 10_000_000)
            println(f"QPROF-STAGE j${jid}%d s${e.stageInfo.stageId}%d " +
              f"task=${rt / 1000.0}%7.2f n=${e.stageInfo.numTasks}%4d " +
              f"swMB=${sw / 1e6}%8.1f srMB=${sr / 1e6}%8.1f " +
              f"fetchWait=${tm.shuffleReadMetrics.fetchWaitTime / 1000.0}%5.2f " +
              e.stageInfo.name.take(70))
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // per-micro-batch duration breakdown (triggerExecution and its parts)
    spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = if (recording) {
        val p = e.progress
        val dm = p.durationMs
        println(s"QPROF-BATCH b${p.batchId} rows=${p.numInputRows} " +
          s"trigger=${dm.getOrDefault("triggerExecution", -1L)} " +
          s"plan=${dm.getOrDefault("queryPlanning", -1L)} " +
          s"addBatch=${dm.getOrDefault("addBatch", -1L)} " +
          s"getBatch=${dm.getOrDefault("getBatch", -1L)} " +
          s"latestOffset=${dm.getOrDefault("latestOffset", -1L)} " +
          s"walCommit=${dm.getOrDefault("walCommit", -1L)} " +
          s"commitOffsets=${dm.getOrDefault("commitOffsets", -1L)}")
      }
    })
    qnames.foreach { name =>
    val fn = SparkEntry.queries(name)
    // untimed warm run: JIT/codegen/page-cache, matching Bench's protocol
    fn(spark, sfDir).collect()
    (1 to repeats).foreach { r =>
      jobs.clear(); stageToJob.clear()
      recording = true
      val t0 = System.nanoTime()
      fn(spark, sfDir).collect()
      val wall = (System.nanoTime() - t0) / 1e9
      recording = false
      Thread.sleep(300) // let listener events drain
      println(f"QPROF $name run$r wall=$wall%.3f s")
      val js = jobs.values().toArray(Array.empty[J]).sortBy(_.t0)
      val base = if (js.nonEmpty) js.head.t0 else 0L
      var jobSum = 0L
      js.foreach { j =>
        val dur = j.t1 - j.t0
        jobSum += math.max(0L, dur)
        println(f"QPROF-JOB ${j.id}%4d @${(j.t0 - base) / 1000.0}%7.2f " +
          f"dur=${dur / 1000.0}%6.2f task=${j.taskTimeMs / 1000.0}%7.2f " +
          f"st=${j.stages}%2d ${j.desc}")
      }
      println(f"QPROF-SUM $name jobs=${js.length} jobWall=${jobSum / 1000.0}%.2f " +
        f"of wall=$wall%.2f (gap=${wall - jobSum / 1000.0}%.2f driver/planning)")
    }
    }
    spark.stop()
  }
}
