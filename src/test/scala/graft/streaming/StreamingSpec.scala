package graft.streaming

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {

  import spark.implicits._

  private def simpleSchema(fields: (String, org.apache.spark.sql.types.DataType)*) =
    org.apache.spark.sql.types.StructType(fields.map { case (n, t) =>
      org.apache.spark.sql.types.StructField(n, t) })

  test("streaming hourly counts == batch hourly counts (memory sink)") {
    // the file stream source requires a directory: stage the table file
    val dir = java.nio.file.Files.createTempDirectory("graft-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf0001/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = EventStreams.readEventStream(spark, dir.toString)
    val q = EventStreams.hourlyCounts(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("hourly_out").start()
    try {
      q.processAllAvailable()
    } finally q.stop()
    // append mode only emits windows the watermark has passed; every emitted
    // row must match the batch computation exactly.
    val streamed = spark.table("hourly_out")
      .select("hour", "event_type", "n", "sum_value")
    val batch = EventStreams.hourlyCountsBatch(Tables(spark, sf0001, "events"))
    val missing = streamed.exceptAll(batch)
    assert(missing.isEmpty, s"stream rows not in batch: ${missing.collect().mkString}")
    assert(streamed.count() > 0)
  }

  test("two-sentinel outer join emits its final cohort with noDataMicroBatches disabled") {
    // r15 advice pin: x_stream_join_{outer,full,restart} run with
    // noDataBatches=false, which is correct ONLY because their
    // choreography fires a flushing data sentinel after every watermark
    // advance. This runs the real query end-to-end (its section disables
    // no-data batches) and checks the OUTER rows — the cohort that is
    // emitted last, by the batch AFTER state eviction — against the exact
    // batch LEFT JOIN. If a future edit drops the second sentinel, the
    // final cohort goes missing and this fails.
    val out = graft.SparkEntry.queries("x_stream_join_outer")(spark, sf0001)
      .select("user_id", "n_rows", "n_matched")
    val ev = Tables(spark, sf0001, "events").where(col("user_id") < 40)
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
        col("event_type"))
    val p = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("pts"))
    val c = ev.where(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("cts"))
    val batch = p.join(c, col("cu") === col("pu") &&
        col("cts") >= col("pts") - expr("INTERVAL 30 MINUTES") &&
        col("cts") <= col("pts"), "left")
      .groupBy(col("pu").as("user_id"))
      .agg(count(lit(1)).as("n_rows"), count(col("cts")).as("n_matched"))
    assert(out.exceptAll(batch).isEmpty && batch.exceptAll(out).isEmpty,
      "streamed LEFT JOIN != batch LEFT JOIN (final cohort missing?)")
    // the unmatched (outer) population must actually be present — that is
    // the cohort only the post-eviction trigger can emit
    assert(out.where(col("n_matched") < col("n_rows")).count() > 0,
      "no outer rows emitted — the flushing sentinel contract broke")
  }

  test("x_stream_window's streamed hourly counts == the batch aggregate") {
    // the window query streams two time-split generations and one
    // far-future sentinel; every real window must be emitted (the
    // sentinel's watermark closes them all) with exact integer cents
    val out = graft.SparkEntry.queries("x_stream_window")(spark, sf0001)
    val ev = Tables(spark, sf0001, "events").where(col("user_id") < 40)
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
        col("event_type"), col("value"))
    val batch = EventStreams.hourlyCountsCents(ev)
    assert(out.exceptAll(batch).isEmpty && batch.exceptAll(out).isEmpty,
      "streamed hourly counts != batch hourly counts (a window dropped?)")
    assert(out.where(col("event_type") === "sentinel").isEmpty)
  }

  test("StreamStateGuard batch counters tag by fixture dir and drain per pass") {
    graft.plans.StreamStateGuard.drainBatchCounts() // isolate from earlier tests
    val dir = java.nio.file.Files.createTempDirectory("graft-bcount")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf0001/events.parquet"),
      dir.resolve("events.parquet"))
    val q = EventStreams.hourlyCounts(EventStreams.readEventStream(spark, dir.toString))
      .writeStream.outputMode("append").format("memory")
      .queryName("bcount_out").start()
    try q.processAllAvailable() finally q.stop()
    // listener bus is async — wait briefly for the progress event to land
    var counts = Seq.empty[(String, Long, Long)]
    val deadline = System.currentTimeMillis() + 10000
    while (counts.isEmpty && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      counts = graft.plans.StreamStateGuard.drainBatchCounts()
        .filter(_._1.startsWith("graft-bcount"))
    }
    assert(counts.nonEmpty, "no batch counted for the graft-bcount stream")
    assert(counts.head._2 >= 1, s"batch count ${counts.head}")
    // drained: a second read is empty (per-pass isolation for the bench)
    assert(graft.plans.StreamStateGuard.drainBatchCounts()
      .filterNot(_._1.startsWith("graft-bcount")).isEmpty ||
      true) // other concurrent tests may enqueue; only OUR tag must be gone
    assert(graft.plans.StreamStateGuard.drainBatchCounts()
      .filter(_._1.startsWith("graft-bcount")).isEmpty)
  }

  test("stream processes files incrementally across micro-batches") {
    val src = java.nio.file.Files.createTempDirectory("graft-incr")
    val stream = EventStreams.readEventStream(spark, src.toString)
    val q = EventStreams.hourlyCounts(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("incr_out").start()
    try {
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sf0001/events.parquet"),
        src.resolve("batch1.parquet"))
      q.processAllAvailable()
      val afterOne = spark.table("incr_out").count()
      // second batch: same events shifted far forward so the watermark
      // closes the first batch's windows
      graft.Tables(spark, sf0001, "events")
        .withColumn("ts", (col("ts") + expr("INTERVAL 1000 DAYS"))
          .cast("timestamp_ntz")) // back to the NTZ shape the stream schema declares
        .write.parquet(src.resolve("batch2").toString)
      // stage dir is watched recursively? no — write into the root
      spark.read.parquet(src.resolve("batch2").toString)
        .write.mode("append").parquet(src.toString)
      q.processAllAvailable()
      val afterTwo = spark.table("incr_out").count()
      assert(afterTwo > afterOne, s"no new rows after second batch ($afterOne -> $afterTwo)")
    } finally q.stop()
  }

  test("streaming dedup drops duplicate event_ids across files") {
    val src = java.nio.file.Files.createTempDirectory("graft-dedup")
    // same events file twice => every event_id duplicated
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf0001/events.parquet"), src.resolve("a.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf0001/events.parquet"), src.resolve("b.parquet"))
    val q = EventStreams.dedupStream(EventStreams.readEventStream(spark, src.toString))
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_out").start()
    try q.processAllAvailable() finally q.stop()
    val distinctIds = Tables(spark, sf0001, "events")
      .select("event_id").distinct().count()
    assert(spark.table("dedup_out").count() == distinctIds)
  }

  test("sessionize: gap splits sessions, values aggregate") {
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(min: Long) = new java.sql.Timestamp(t0.getTime + min * 60000)
    val events = Seq(
      EventStreams.Event(1, at(0), "view", 1.0),
      EventStreams.Event(1, at(10), "click", 2.0),
      EventStreams.Event(1, at(60), "view", 3.0), // 50min gap -> new session
      EventStreams.Event(2, at(5), "view", 4.0)).toDS()
    val sessions = EventStreams.sessionize(events, gapMinutes = 30)
      .collect().sortBy(s => (s.user_id, s.session_start.getTime))
    assert(sessions.length == 3)
    assert(sessions(0).n_events == 2 && sessions(0).sum_value == 3.0)
    assert(sessions(1).n_events == 1 && sessions(1).sum_value == 3.0)
    assert(sessions(2).user_id == 2 && sessions(2).n_events == 1)
  }

  test("emitOpen=true on a streaming Dataset fails with the real reason") {
    val src = java.nio.file.Files.createTempDirectory("graft-sess-guard")
    val schema = simpleSchema(
      "user_id" -> org.apache.spark.sql.types.LongType,
      "ts" -> org.apache.spark.sql.types.TimestampType,
      "event_type" -> org.apache.spark.sql.types.StringType,
      "value" -> org.apache.spark.sql.types.DoubleType)
    val stream = spark.readStream.schema(schema).parquet(src.toString)
      .as[EventStreams.Event]
    // previously this routed to the secondary-sort batch plan and failed at
    // analysis time with an unrelated-looking sort error
    val err = intercept[IllegalArgumentException] {
      EventStreams.sessionizeMs(stream, gapMs = 1000, emitOpen = true)
    }
    assert(err.getMessage.contains("batch-only"))
  }

  test("streaming sessionize keeps sessions whole across micro-batches") {
    import org.apache.spark.sql.functions._
    val src = java.nio.file.Files.createTempDirectory("graft-sess")
    def writeBatch(n: Int, offsetsMs: Seq[(Long, Long)]): Unit = {
      // (user_id, ts-offset-ms) rows, ts anchored at a fixed epoch
      val base = 1767225600000L // 2026-01-01T00:00:00Z in ms
      offsetsMs.map { case (u, off) =>
        (u + n * 0L, base + off) // keep user ids stable
      }.toDF("user_id", "ms")
        .select(col("user_id"), timestamp_millis(col("ms")).as("ts"),
          lit("view").as("event_type"), lit(1.0).as("value"))
        .write.mode("append").parquet(src.toString)
    }
    val schema = simpleSchema(
      "user_id" -> org.apache.spark.sql.types.LongType,
      "ts" -> org.apache.spark.sql.types.TimestampType,
      "event_type" -> org.apache.spark.sql.types.StringType,
      "value" -> org.apache.spark.sql.types.DoubleType)
    val stream = spark.readStream.schema(schema).parquet(src.toString)
      .as[EventStreams.Event]
    // 2-second event-time gap; the watermark (not wall clock) closes sessions
    val q = EventStreams.sessionizeMs(stream, gapMs = 2000, emitOpen = false)
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_out").start()
    try {
      writeBatch(1, Seq((1L, 0L), (1L, 500L)))
      q.processAllAvailable()
      // same user, event within the event-time gap -> must extend the session
      writeBatch(2, Seq((1L, 1000L)))
      q.processAllAvailable()
      assert(spark.table("sess_out").isEmpty,
        s"session emitted before the watermark passed end+gap: " +
          spark.table("sess_out").collect().mkString("; "))
      // advance the watermark far past user 1's session end + gap via
      // another user's much-later events (two batches: the first raises the
      // watermark, the second processes the resulting timeout)
      writeBatch(3, Seq((9L, 100000L)))
      q.processAllAvailable()
      writeBatch(4, Seq((9L, 100500L)))
      q.processAllAvailable()
      val rows = spark.table("sess_out")
        .where(col("user_id") === 1L).collect()
      assert(rows.length == 1, s"expected one whole session, got ${rows.toSeq}")
      assert(rows(0).getAs[Long]("n_events") == 3,
        s"session split across micro-batches: ${rows.toSeq}")
    } finally q.stop()
  }

  test("stream-stream join pairs within the window and evicts state") {
    val src = java.nio.file.Files.createTempDirectory("graft-ssj")
    val schema = simpleSchema(
      "user_id" -> org.apache.spark.sql.types.LongType,
      "ts" -> org.apache.spark.sql.types.TimestampType,
      "event_type" -> org.apache.spark.sql.types.StringType,
      "value" -> org.apache.spark.sql.types.DoubleType)
    val base = 1767225600000L // 2026-01-01T00:00:00Z
    def write(rows: Seq[(Long, Long, String, Double)]): Unit =
      rows.toDF("user_id", "ms", "event_type", "value")
        .select(col("user_id"), timestamp_millis(col("ms")).as("ts"),
          col("event_type"), col("value"))
        .write.mode("append").parquet(src.toString)
    val stream = spark.readStream.schema(schema).parquet(src.toString)
    val q = EventStreams.clickPurchaseJoin(stream, windowMinutes = 1)
      .writeStream.outputMode("append").format("memory")
      .queryName("ssj_out").start()
    try {
      write(Seq(
        (1L, base, "click", 1.0),
        (1L, base + 30000, "purchase", 5.0), // 30s after the click -> pairs
        (1L, base - 120000, "click", 1.0),   // 2.5min before -> outside window
        (2L, base, "click", 1.0)))           // no purchase -> no pair
      q.processAllAvailable()
      val pairs = spark.table("ssj_out").collect()
      assert(pairs.length == 1, s"expected one in-window pair, got ${pairs.toSeq}")
      assert(pairs(0).getAs[Long]("p_user") == 1L)
      val stateBefore = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateBefore > 0, "join state should hold buffered rows")
      // advance the watermark far past every buffered row. BOTH sides must
      // see later events — the join's global watermark is the MIN of the
      // click and purchase watermarks, so a quiet purchase side would pin
      // eviction forever. Two batches: one raises the watermark, the next
      // runs eviction against it.
      write(Seq((9L, base + 600000, "click", 0.0), (8L, base + 600000, "purchase", 0.0)))
      q.processAllAvailable()
      write(Seq((9L, base + 1200000, "click", 0.0), (8L, base + 1200000, "purchase", 0.0)))
      q.processAllAvailable()
      val stateAfter = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateAfter < stateBefore,
        s"watermark did not evict join state ($stateBefore -> $stateAfter)")
    } finally q.stop()
  }

  test("foreachBatch sink: every micro-batch lands exactly once in parquet") {
    val src = java.nio.file.Files.createTempDirectory("graft-feb-src")
    val dst = java.nio.file.Files.createTempDirectory("graft-feb-dst").toString + "/out"
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf0001/events.parquet"), src.resolve("a.parquet"))
    val stream = EventStreams.readEventStream(spark, src.toString)
    // foreachBatch is the escape hatch for sinks Spark lacks (JDBC upsert,
    // index refresh, ...): each micro-batch arrives as a plain DataFrame with
    // a monotonically increasing id for idempotent writes.
    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        seen.incrementAndGet()
        batch.select("event_id", "user_id")
          .write.mode("append").parquet(dst)
      }
      .start()
    try {
      q.processAllAvailable()
      // second file -> second micro-batch appends, doesn't clobber
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sf0001/events.parquet"), src.resolve("b.parquet"))
      q.processAllAvailable()
    } finally q.stop()
    assert(seen.get() >= 2, s"expected at least 2 micro-batches, saw ${seen.get()}")
    val landed = spark.read.parquet(dst).count()
    val perFile = Tables(spark, sf0001, "events").count()
    assert(landed == 2 * perFile, s"expected ${2 * perFile} rows, landed $landed")
  }

  test("streaming LSH index refresh: batches append, probe prunes partitions and finds near-dup") {
    val src = java.nio.file.Files.createTempDirectory("graft-vidx-src")
    val idx = java.nio.file.Files.createTempDirectory("graft-vidx").toString + "/index"
    // hash-mixed pseudo-random dims: sin-based generators produce heavily
    // correlated "twin" vectors that tie with the true near-dup
    def vec(i: Int): Seq[Double] = Seq.tabulate(16) { d =>
      val h = java.lang.Long.rotateLeft(i * 2654435761L + d * 1099511628211L, d % 31)
      math.floorMod(h, 2000L) / 1000.0 - 1.0
    }
    def writeBatch(ids: Range): Unit =
      ids.map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
        .write.mode("append").parquet(src.toString)
    val schema = simpleSchema(
      "vec_id" -> org.apache.spark.sql.types.LongType,
      "embedding" -> org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))
    val stream = spark.readStream.schema(schema).parquet(src.toString)
    val q = VectorIndexStream.indexSink(stream, idx).start()
    try {
      writeBatch(0 until 50)
      q.processAllAvailable()
      writeBatch(50 until 100) // the index must keep growing incrementally
      q.processAllAvailable()
    } finally q.stop()
    // probe with a perturbed copy (cosine ~0.97) of a SECOND-batch vector
    val probeQ = Seq((1000060L,
      vec(60).zipWithIndex.map { case (x, d) => x * (1 + (if (d % 2 == 0) 0.25 else -0.25)) }))
      .toDF("vec_id", "embedding")
    val res = VectorIndexStream.probe(spark, idx, probeQ, k = 5)
    val top = res.orderBy(col("sim").desc).collect()
    assert(top.nonEmpty, "probe returned no candidates")
    assert(top.head.getAs[Long]("vid") == 60L,
      s"expected source vector 60 as best match, got ${top.toSeq}")
    // pruning is by PATH SELECTION now: the scan's root paths must be the
    // query's own bucket dirs (<= numTables for one query), a strict
    // subset of the directories the index actually has
    // logical plan, not executedPlan: AQE wraps the physical tree in
    // AdaptiveSparkPlanExec whose collect() can't see the file scan
    def scanRootPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location.rootPaths.map(_.toString)
            case _ => Seq.empty[String]
          }
      }.flatten
    val allDirs = new java.io.File(idx).listFiles().filter(_.isDirectory)
      .flatMap(t => t.listFiles().filter(_.isDirectory)).length
    val probed = scanRootPaths(res)
    assert(probed.nonEmpty && probed.size <= 8,
      s"one query must probe at most numTables=8 bucket dirs, got ${probed.size}")
    assert(probed.size < allDirs,
      s"probe read ${probed.size} of $allDirs dirs — no pruning happened")

    // plan FLATNESS in query-set size: the r5 OR-chain predicate grew one
    // disjunct per (query x table); the path-selected scan's plan must not
    // grow with the query count (bounded by the index's own layout)
    def mkQueries(n: Int) = (0 until n)
      .map(i => (2000000L + i, vec(i % 100)))
      .toDF("vec_id", "embedding")
    val plan1 = VectorIndexStream.probe(spark, idx, mkQueries(1), k = 5)
      .queryExecution.executedPlan.toString
    val plan200 = VectorIndexStream.probe(spark, idx, mkQueries(200), k = 5)
      .queryExecution.executedPlan.toString
    assert(plan200.length <= plan1.length * 2 + 2000,
      s"probe plan grew with query count: ${plan1.length} -> ${plan200.length} chars")
    assert(plan200.sliding(4).count(_ == " OR ") <= 8,
      "probe plan contains an OR-chain predicate again")
  }

  test("sessionize over fixture events matches gaps-and-islands SQL") {
    val ev = Tables(spark, sf0001, "events")
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
        col("event_type"), col("value"))
      .as[EventStreams.Event]
    val got = EventStreams.sessionize(ev, 30)
      .groupBy("user_id").agg(count(lit(1)).as("n_sessions"))
    Tables(spark, sf0001, "events").createOrReplaceTempView("ev_tmp")
    val exp = spark.sql(
      """WITH d AS (SELECT user_id, unix_millis(ts) AS t FROM ev_tmp),
        |m AS (SELECT user_id, t, CASE WHEN t - lag(t) OVER
        |  (PARTITION BY user_id ORDER BY t) > 1800000
        |  OR lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
        |  THEN 1 ELSE 0 END AS new_s FROM d)
        |SELECT user_id, count(DISTINCT sid) AS n_sessions FROM
        |(SELECT user_id, sum(new_s) OVER (PARTITION BY user_id ORDER BY t) AS sid FROM m)
        |GROUP BY user_id""".stripMargin)
    assert(got.exceptAll(exp).isEmpty && exp.exceptAll(got).isEmpty)
  }

  test("torn checkpoint fails LOUDLY on restart — no silent duplicates") {
    // The restart matrix (agg/dedup/sessionize/interval-join) all reload
    // HEALTHY checkpoints. This pins the damaged case: delete the LATEST
    // offsets file while keeping its commit — the torn state a partial
    // rmdir or non-atomic copy leaves behind. The exactly-once claim is
    // only as strong as the failure mode here: a restart that silently
    // re-planned from the stale offset would re-emit batch data into a
    // sink whose manifest no longer matches. Spark's offset-log write
    // collides with the surviving commit and the query must DIE
    // (STREAM_FAILED / CONCURRENT_STREAM_LOG_UPDATE on 4.x), leaving the
    // sink byte-identical to its pre-damage state.
    val tmp = java.nio.file.Files.createTempDirectory("graft-torn")
    val src = tmp.resolve("src"); val out = tmp.resolve("out")
    val ckpt = tmp.resolve("ckpt")
    java.nio.file.Files.createDirectories(src)
    def feed(ids: Range): Unit =
      ids.map(i => (i.toLong, s"e$i")).toDF("event_id", "v")
        .coalesce(1).write.mode("append").parquet(src.toString)
    def runInstance(): Unit = {
      val st = spark.readStream.schema("event_id LONG, v STRING")
        .option("maxFilesPerTrigger", 1).parquet(src.toString)
      val q = st.dropDuplicates("event_id").writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    // two healthy batches so the torn state sits BEHIND a committed batch
    feed(0 until 10); runInstance()
    feed(10 until 20); runInstance()
    val before = spark.read.parquet(out.toString).count()
    assert(before == 20L)
    val offsetFiles = ckpt.resolve("offsets").toFile.listFiles()
      .filter(_.getName.forall(_.isDigit))
    assert(offsetFiles.length >= 2, "fixture: need >= 2 committed batches")
    assert(offsetFiles.maxBy(_.getName.toInt).delete())
    feed(20 until 30)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runInstance()
    }
    // pin the loud failure class, not the message prose: the condition
    // name is the stable API (SPARK-level error class)
    assert(ex.getMessage.contains("CONCURRENT_STREAM_LOG_UPDATE") ||
      ex.getMessage.contains("STREAM_FAILED"),
      s"unexpected failure mode: ${ex.getMessage.take(200)}")
    // and the sink did not move: zero rows emitted by the failed instance
    assert(spark.read.parquet(out.toString).count() == before,
      "torn-checkpoint restart emitted rows before dying")
  }
}
