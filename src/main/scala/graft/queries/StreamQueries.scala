package graft.queries

import graft.Tables
import graft.operators.Multimodal
import java.nio.file.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import org.apache.spark.sql.types.StructType
import Fixtures._

/** Streaming extensions and the file-source harness they share: each
  * query writes its own source through `OrderedSource` and drains it once.
  */
object StreamQueries {

  /** A file-source stream's input directory, written one generation at a
    * time: the first write overwrites, later ones append. The streaming
    * file source orders files by modification time, and a filesystem with
    * coarse mtime granularity can tie two sequential writes. For the
    * watermark-ordered fixtures (a later file must never carry data older
    * than the watermark an earlier file established), ordering has to be
    * explicit, not an artifact of write timing. So each generation's files
    * are stamped after every earlier generation's: in part-file name order,
    * 1 s apart, and the next generation starts at least 60 s later. Name
    * order is range-partition order (the 5-digit task index), so a
    * range-sharded generation is stamped oldest-first.
    */
  private[queries] final class OrderedSource(val path: String) {
    private val stamped = scala.collection.mutable.Set.empty[String]
    private var generations = 0
    private var clock = System.currentTimeMillis()

    /** Write `df` as the next generation; returns its file count. */
    def write(df: DataFrame): Int = {
      df.write.mode(if (generations == 0) "overwrite" else "append").parquet(path)
      generations += 1
      val fresh = new java.io.File(path).listFiles()
        .filter(f => f.isFile && f.getName.startsWith("part-") && !stamped(f.getName))
        .sortBy(_.getName)
      fresh.zipWithIndex.foreach { case (f, i) =>
        stamped += f.getName
        java.nio.file.Files.setLastModifiedTime(f.toPath,
          java.nio.file.attribute.FileTime.fromMillis(clock + i * 1000L))
      }
      clock += math.max(60000L, fresh.length * 1000L)
      fresh.length
    }

    /** `df` RANGE-partitioned on ts into sorted shards, as one generation:
      * shard k+1's minimum ts >= shard k's maximum ts, so the file source
      * ingests them oldest-first and the watermark only ever advances at
      * shard boundaries — no row arrives behind it. The shard count scales
      * with `rows` (see timeShardCount).
      */
    def writeRanged(df: DataFrame, rows: Long): Int =
      write(df.repartitionByRange(timeShardCount(rows), col("ts"))
        .sortWithinPartitions("ts"))

    /** This source as a stream of `schema` rows, `maxFiles` files per
      * trigger.
      */
    def stream(s: SparkSession, schema: StructType, maxFiles: Int): DataFrame =
      s.readStream.schema(schema).option("maxFilesPerTrigger", maxFiles)
        .parquet(path)
  }

  /** The two-generation source fixture of the stream queries whose result
    * does not depend on arrival order: `df` split by `firstHalf`. Each half
    * is written with the SOURCE's own split count — no corpus exchange
    * (the r9 repartition form still paid a full shuffle per half; the
    * source's layout is already the sharding a real stream has, and the r8
    * coalesce(1) form made the fixture write 81% of x_stream_upsert's
    * published 100x total). `write` returns the larger generation's file
    * count, so a consumer that sets maxFilesPerTrigger to it ingests about
    * one generation per trigger.
    */
  private final case class TwoGen(df: DataFrame, firstHalf: Column) {
    def write(src: OrderedSource): Int = {
      val first = src.write(df.where(firstHalf))
      math.max(1, math.max(first, src.write(df.where(!firstHalf))))
    }
  }

  /** Median and latest event time of `ev`: the watermark fixtures' split
    * point and the base their sentinels are placed from.
    */
  private def medianAndMax(ev: DataFrame): (Long, Long) = {
    val b = ev.agg(expr("approx_percentile(unix_millis(ts), 0.5)"),
      max(unix_millis(col("ts")))).first()
    (b.getLong(0), b.getLong(1))
  }

  /** A watermark query's source fixture: `ev`'s rows before the split
    * point as generation 0, the rest as generation 1, then one far-future
    * sentinel row (user -1, type "sentinel", zero value) per offset past
    * the latest event, each its own generation. A sentinel advances the
    * watermark past every real event; the queries drop it by user or
    * type. `sorted` writes each half as ONE time-sorted file: the restart
    * queries' operators drop (or throw on) rows behind the watermark, and
    * on a corpus that is not incidentally time-ordered (ScaleCheck's
    * replicated tables) an unsorted file would trail its own watermark.
    * Otherwise each half is one coalesced file. `split` returns the split
    * point and the latest event time.
    */
  private final case class TimeSplit(ev: DataFrame, sorted: Boolean,
      sentinelOffsetsMs: Seq[Long],
      split: DataFrame => (Long, Long) = medianAndMax) {
    /** Write the fixture to `src`, calling `between` after generation 0
      * (the restart queries stop their first instance there); returns the
      * split point.
      */
    def write(src: OrderedSource, between: () => Unit = () => ()): Long = {
      val (mid, maxMs) = split(ev)
      def half(df: DataFrame) = src.write(
        if (sorted) df.repartition(1).sortWithinPartitions("ts") else df.coalesce(1))
      half(ev.where(unix_millis(col("ts")) < mid))
      between()
      half(ev.where(unix_millis(col("ts")) >= mid))
      import ev.sparkSession.implicits._
      sentinelOffsetsMs.foreach(off => src.write(
        Seq((-1L, new java.sql.Timestamp(maxMs + off), "sentinel", 0.0))
          .toDF("user_id", "ts", "event_type", "value")
          .select(ev.columns.toSeq.map(col): _*).coalesce(1)))
      mid
    }

    /** Generation 0, `run` (instance A), the rest, `run` again (instance B,
      * same checkpoint); gates that both emitted rows to `out`. Returns the
      * split point and the final `out`, checkpointed.
      */
    def writeAcrossRestart(src: OrderedSource, run: () => Unit,
        out: () => DataFrame): (Long, DataFrame) = {
      var aRows = 0L
      val mid = write(src, between = () => { run(); aRows = out().count() })
      run()
      val all = out().localCheckpoint(true)
      val bRows = all.count() - aRows
      Gate.check(aRows >= 1 && bRows >= 1,
        s"restart not exercised: phase A emitted $aRows, phase B $bRows")
      (mid, all)
    }
  }

  /** Events of the users below `users`, ts as a timestamp: the watermark
    * queries' streamed population. The user filter keeps it
    * copy-0-constant under ScaleCheck replication.
    */
  private def userEvents(s: SparkSession, dir: String, users: Int,
      withValue: Boolean): DataFrame =
    Tables(s, dir, "events").where(col("user_id") < users)
      .select(Seq(col("user_id"), col("ts").cast("timestamp").as("ts"),
        col("event_type")) ++ (if (withValue) Seq(col("value")) else Nil): _*)

  /** Shard-count rule shared by the ranged fixture writer and its
    * consumers (the consuming stream sizes maxFilesPerTrigger and shuffle
    * partitions off the same number). A single sorted file serializes the
    * sort onto one core at replicated corpora; 16 shards bound the
    * micro-batch count the consuming stream pays.
    */
  private def timeShardCount(rows: Long): Int =
    math.max(2L, math.min(16L, rows / 250000L)).toInt

  /** Start the stream `writer` describes, drain every available file and
    * stop it — the one place the file-source queries run a stream to
    * completion. The section runs at `partitions` shuffle partitions: a
    * streaming agg instantiates one state store PER shuffle partition per
    * micro-batch, so 4, not 32, for the few-thousand-row subsets. See
    * withShufflePartitions for `noDataBatches`.
    */
  private def runToCompletion(s: SparkSession, ckpt: Path, partitions: Int = 4,
      noDataBatches: Boolean = true)(writer: => DataStreamWriter[_]): StreamingQuery =
    withShufflePartitions(s, partitions, noDataBatches) {
      val q = writer.option("checkpointLocation", ckpt.toString).start()
      try q.processAllAvailable() finally q.stop()
      q
    }

  /** `ds` into a memory sink named `prefix` plus a UUID, so concurrent
    * bench passes never share a table; read it back with
    * `s.table(query.name)`.
    */
  private def memorySink[T](ds: Dataset[T], prefix: String,
      mode: String = "append"): DataStreamWriter[T] =
    ds.writeStream.format("memory").outputMode(mode)
      .queryName(prefix + java.util.UUID.randomUUID().toString.replace("-", ""))

  /** The sketch-in-stream queries' shared body: `fx` streamed as its two
    * generations through a real foreachBatch sink that appends each
    * micro-batch's per-day `sketches` to a state table. Returns the stored
    * partials, one row per (day, micro-batch); the queries answer from
    * them WITHOUT rescanning raw events.
    */
  private def dayPartials(s: SparkSession, tmp: Path, fx: TwoGen)(
      sketches: Column*): DataFrame = {
    val src = new OrderedSource(tmp.resolve("src").toString)
    val state = tmp.resolve("state").toString
    val genFiles = fx.write(src)
    runToCompletion(s, tmp.resolve("ckpt")) {
      src.stream(s, s.read.parquet(src.path).schema, genFiles)
        .writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
          batch.groupBy(date_trunc("day", col("ts")).as("day"))
            .agg(sketches.head, sketches.tail: _*)
            .write.mode("append").parquet(state)
          ()
        }
    }
    s.read.parquet(state)
  }

  /** Gate shared by the order-insensitive stream sketches (CMS, HLL,
    * KMV): each day's merged-of-stream-partials (`merged` over the stored
    * partials) must equal the direct-over-raw sketch (`direct` over `ev`)
    * BYTE-FOR-BYTE, as `same` compares them, and at least one day must
    * hold more than one partial, or the cross-batch merge was never
    * exercised. Returns the day count and `n_violations`.
    */
  private def mergedEqualsDirect(stored: DataFrame, ev: DataFrame,
      merged: Seq[Column], direct: Seq[Column], same: Column): (Long, Long) = {
    val perDay = stored.groupBy("day").agg(count(lit(1)).as("n_partials"), merged: _*)
    val dayRows = perDay.join(
        ev.groupBy(date_trunc("day", col("ts")).as("day")).agg(direct.head, direct.tail: _*),
        "day")
      .select(col("n_partials"), same.as("same")).collect()
    val nDays = dayRows.length.toLong
    val nMulti = dayRows.count(_.getAs[Long]("n_partials") > 1)
    val mismatch = dayRows.count(r => !r.getAs[Boolean]("same"))
    (nDays, Gate.violations(
      (mismatch == 0) -> s"$mismatch/$nDays days: merged-of-stream-partials != direct sketch",
      (nMulti >= 1) -> "no day accumulated >1 partial — cross-batch merge not exercised"))
  }

  /** x_stream_upsert's source: the latest-wins projection, split at
    * mid-month.
    */
  private def upsertSource(s: SparkSession, dir: String) = TwoGen(
    Tables(s, dir, "events").select(col("event_id"), col("ts"), col("user_id"),
      col("event_type"), round(col("value") * 100, 0).cast("long").as("cents")),
    dayofmonth(col("ts")) <= 15)

  private def indexProbeSource(s: SparkSession, dir: String) =
    TwoGen(Tables(s, dir, "embeddings"), pmod(col("vec_id"), lit(2)) === 0)

  private def quantileSource(s: SparkSession, dir: String) = TwoGen(
    Tables(s, dir, "events").select(col("ts"),
      round(col("value") * 100, 0).cast("long").cast("double").as("v")),
    dayofmonth(col("ts")) <= 15)

  /** (ts, user_id) split by USER parity, not by day: every day's events
    * straddle both generations, so every day's sketch genuinely
    * accumulates across micro-batch boundaries.
    */
  private def userParitySource(s: SparkSession, dir: String) = TwoGen(
    Tables(s, dir, "events").select(col("ts"), col("user_id")),
    pmod(col("user_id"), lit(2)) === 0)

  private def windowSource(s: SparkSession, dir: String) =
    TimeSplit(userEvents(s, dir, 40, withValue = true), sorted = false,
      Seq(10800000L))

  private def joinOuterSource(s: SparkSession, dir: String) =
    TimeSplit(userEvents(s, dir, 40, withValue = false), sorted = false,
      Seq(10800000L, 21600000L))

  private def joinFullSource(s: SparkSession, dir: String) =
    TimeSplit(userEvents(s, dir, 30, withValue = false), sorted = false,
      Seq(10800000L, 21600000L))

  private def restartAggSource(s: SparkSession, dir: String) =
    TimeSplit(userEvents(s, dir, 25, withValue = true), sorted = true,
      Seq(10800000L))

  /** x_stream_sessionize_restart's session gap: 8 hours (see the query). */
  private val RestartGapMs = 8L * 3600000L

  private def sessionizeRestartSource(s: SparkSession, dir: String) =
    TimeSplit(userEvents(s, dir, 35, withValue = true), sorted = true,
      Seq(2 * RestartGapMs + 3600000L))

  /** x_stream_join_restart's source. Its split point is placed AT the
    * latest strictly-ordered matched pair (click strictly before purchase,
    * data-derived, so it exists at every gate SF), not at the median; see
    * the query.
    */
  private def joinRestartSource(s: SparkSession, dir: String) =
    TimeSplit(userEvents(s, dir, 20, withValue = false), sorted = true,
      Seq(10800000L, 21600000L), split = ev => {
        val clicks = ev.where(col("event_type") === "click")
          .select(col("user_id").as("cu"), col("ts").as("cts"))
        val purchases = ev.where(col("event_type") === "purchase")
          .select(col("user_id").as("pu"), col("ts").as("pts"))
        // read the max as an Option: an absent strictly-ordered matched
        // pair at some future SF/filter must surface as a diagnosable
        // fixture-precondition failure, not an opaque NPE off a null
        // aggregate
        val midRow = purchases.join(clicks,
            col("cu") === col("pu") &&
              col("cts") >= col("pts") - expr("INTERVAL 30 MINUTES") &&
              col("cts") < col("pts"))
          .agg(max(unix_millis(col("pts")))).first()
        Gate.check(!midRow.isNullAt(0),
          "fixture precondition failed: no click strictly before a " +
            "purchase within 30min for any user_id < 20 — the straddle " +
            "phase boundary cannot be placed at this SF/filter")
        (midRow.getLong(0),
          ev.agg(max(unix_millis(col("ts")))).first().getLong(0))
      })

  /** x_stream_dedup_rocksdb's events, their latest event time and their
    * unique-id count. The shard count keys on DISTINCT ids: with duplicate
    * ids a total-rows count would give the write a different shard
    * geometry.
    */
  private def dedupRocksEvents(s: SparkSession, dir: String): (DataFrame, Long, Long) = {
    val ev = Tables(s, dir, "events")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("event_type"))
    val stats = ev.agg(max(unix_millis(col("ts"))),
      countDistinct(col("event_id"))).first()
    (ev, stats.getLong(0), stats.getLong(1))
  }

  /** Per-query fixture writers/forcers keyed by query name — ScaleCheck
    * times these to publish the fixture-construction share of each scale
    * ratio (the part of the timed path that is strictly linear in data
    * and exists only because the query builds its own input), and Bench
    * runs each once before its timed passes. A stream entry calls the
    * SAME fixture function, on the same source definition, that its
    * query calls, so a fixture cell times the query's own writer: every
    * generation, its mtime stamps and its sentinels (corpus-independent,
    * so they add a constant). For x_stream_dedup_rocksdb that is phase
    * A's ranged write. x_media_dedup's entry forces the per-document PNG
    * RENDER — in production the image bytes exist, so the render is
    * fixture, and it dominates the query's 100x point (~linear
    * decode-per-row work); the audio and video entries do the same.
    */
  private[graft] def streamFixtureWriters(s: SparkSession,
      dir: String): Map[String, String => Unit] = {
    def fx(write: OrderedSource => Any): String => Unit =
      src => { write(new OrderedSource(src)); () }
    import s.implicits._
    def render(media: DataFrame => Dataset[Multimodal.MediaRow]): String => Unit =
      _ => { media(Tables(s, dir, "documents")).map(_.payload.length.toLong).reduce(_ + _); () }
    Map(
      "x_stream_upsert" -> fx(upsertSource(s, dir).write(_)),
      "x_stream_index_probe" -> fx(indexProbeSource(s, dir).write(_)),
      "x_stream_dedup_rocksdb" -> fx { src =>
        val (ev, _, nUnique) = dedupRocksEvents(s, dir)
        src.writeRanged(ev, nUnique)
      },
      "x_media_dedup" -> render(Multimodal.asImageTable(_)),
      "x_audio_dedup" -> render(Multimodal.asAudioTable(_)),
      "x_video_dedup" -> render(Multimodal.asVideoTable(_)),
      "x_stream_quantile" -> fx(quantileSource(s, dir).write(_)),
      "x_stream_window" -> fx(windowSource(s, dir).write(_)),
      "x_stream_join_outer" -> fx(joinOuterSource(s, dir).write(_)),
      "x_stream_join_full" -> fx(joinFullSource(s, dir).write(_)),
      "x_stream_restart_agg" -> fx(restartAggSource(s, dir).write(_)),
      "x_stream_sessionize_restart" -> fx(sessionizeRestartSource(s, dir).write(_)),
      "x_stream_join_restart" -> fx(joinRestartSource(s, dir).write(_)),
      "x_stream_kmv" -> fx(userParitySource(s, dir).write(_)))
  }

  /** Run `body` with spark.sql.shuffle.partitions temporarily lowered —
    * for small-subset streaming sections, where every shuffle partition
    * costs a state-store instance per micro-batch.
    *
    * noDataBatches=false additionally turns off watermark-advance-only
    * micro-batches for the section (r15 optimization: remove
    * passes that compute nothing). ONLY for queries whose choreography
    * already provides a flushing DATA trigger after every watermark
    * advance (the two-sentinel stream-stream joins): their scaladocs
    * were written assuming no-data batches never fire ("with a file
    * source and no new file, that batch would never run"), so the engine
    * default was running one extra full trigger per data batch — rows=0,
    * measured 2.0-2.5 s each under contention — purely to advance a
    * watermark the next sentinel advances anyway. Queries with a SINGLE
    * sentinel (window/restart_agg/sessionize) DO rely on the trailing
    * no-data batch to emit their last cohort and keep the default.
    */
  private[queries] def withShufflePartitions[T](s: org.apache.spark.sql.SparkSession,
      n: Int, noDataBatches: Boolean = true)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = s.conf.get(key)
    val prevNd = s.conf.get(ndKey)
    s.conf.set(key, n.toString)
    s.conf.set(ndKey, noDataBatches.toString)
    try body finally {
      s.conf.set(key, prev)
      s.conf.set(ndKey, prevNd)
    }
  }

  /** x_stream_dedup_rocksdb's full two-phase body, provider-parametric:
    * the query runs it on RocksDB; ScaleCheck times the heap/RocksDB PAIR
    * on the same corpus so the published row prices the backend tax
    * instead of asserting it (STRESSCHECK had the 3g pair
    * and the 1200m jvm_dead counterfactual, but the standard-heap
    * crossover was unmeasured).
    */
  private[graft] def streamDedupBackendRun(s: SparkSession, dir: String,
      provider: String): DataFrame = Tmp.scoped("graft-sdrocks") { tmp =>
    import graft.streaming.StateBackend
    val src = new OrderedSource(tmp.resolve("src").toString)
    val out = tmp.resolve("out").toString
    val (ev, maxMs, nUnique) = dedupRocksEvents(s, dir)
    // batch/parallelism geometry scales with the corpus (the other
    // stream queries pin tiny user_id<N populations; this one streams
    // the WHOLE events table so the state stays stress-sized): ~4
    // micro-batches regardless of scale, one state-store instance per
    // core once the corpus is big enough to use them
    val shards = timeShardCount(nUnique)
    def runInstance(): Unit = StateBackend.withProvider(s, provider) {
      val q = runToCompletion(s, tmp.resolve("ckpt"), math.min(32, shards * 2)) {
        src.stream(s, ev.schema, math.max(1, shards / 4))
          .withWatermark("ts", "60 minutes")
          .dropDuplicatesWithinWatermark("event_id")
          .writeStream.format("parquet").option("path", out)
          .outputMode("append")
      }
      Gate.check(provider != StateBackend.RocksDb ||
        StateBackend.rocksDbEngaged(q),
        "RocksDB provider configured but no rocksdb state metrics " +
          "reported — the heap provider ran instead")
    }
    // phase A: the whole corpus as RANGE-partitioned time-sorted shards
    // (the dedup operator late-filters rows behind the watermark, so
    // arrival order must follow event time — but a single sorted file
    // serializes a 10M-row sort onto one core at the 100x corpus, and
    // was the dominant term of this row's first 13.3x ScaleCheck
    // ratio). Range shard k+1's min ts >= shard k's max ts, and the
    // watermark only advances at batch boundaries, so per-shard
    // ingestion stays late-row-free at any corpus order. Every
    // event_id is first-seen here.
    src.writeRanged(ev, nUnique)
    runInstance()
    val aRows = s.read.parquet(out).count()
    Gate.check(aRows == nUnique,
      s"phase A emitted $aRows of $nUnique unique events")
    // phase B, after the kill: duplicates of the last-30-minutes slice
    // (>= reloaded watermark maxTs-60min, so NOT late — droppable only
    // via reloaded state) + one genuinely fresh sentinel row
    import s.implicits._
    src.write(ev.where(unix_millis(col("ts")) >= maxMs - 1800000L)
      .unionByName(Seq((-1L,
        new java.sql.Timestamp(maxMs + 7200000L), "sentinel"))
        .toDF("event_id", "ts", "event_type"))
      .repartition(1).sortWithinPartitions("ts"))
    runInstance()
    val all = s.read.parquet(out)
    val bRows = all.count() - aRows
    Gate.check(bRows == 1L,
      s"phase B emitted $bRows rows, expected exactly the sentinel — " +
        "in-horizon duplicates were not dropped by reloaded state")
    all.where(col("event_type") =!= "sentinel")
      .groupBy("event_type").agg(count(lit(1)).as("n_unique"))
      .orderBy("event_type").localCheckpoint(true)
  }

  val all: Seq[Q] = Seq(
    // STREAMING percentiles — the sketch-in-stream composition: per-day
    // quantile-digest PARTIALS accumulate from a real foreachBatch sink
    // (one ~2 KB graft_qsketch_state row per (day, micro-batch), appended
    // to a state table), and the final per-day p50/p90 merge the stored
    // partials WITHOUT rescanning raw events. This is x_qsketch_rollup's
    // contract carried across micro-batch boundaries: a day split across
    // batches must still answer within the 6/k rank bound, which also
    // exercises the r9 digest wire header (every stored partial
    // round-trips through parquet with its k validated on read). Gate:
    // EVERY day's merged p50/p90 bracket their true per-day ranks.
    Q("x_stream_quantile",
      """SELECT CAST(count(DISTINCT date_trunc('day', ts)) AS BIGINT) AS n_days,
        |CAST(0 AS BIGINT) AS n_violations FROM events""".stripMargin) { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      import graft.functions.GraftFunctions.{graft_qsketch_merged, graft_qsketch_state}
      val k = 256
      Tmp.scoped("graft-squant") { tmp =>
        val fx = quantileSource(s, dir)
        val ev = fx.df
        val merged = dayPartials(s, tmp, fx)(
            graft_qsketch_state(col("v"), k).as("digest"))
          .groupBy("day")
          .agg(graft_qsketch_merged(col("digest"), k, Seq(0.5, 0.9)).as("qs"),
            count(lit(1)).as("n_partials"))
          .select(col("day"), col("qs")(0).as("p50"), col("qs")(1).as("p90"),
            col("n_partials"))
        // per-day exact bracket ranks against the raw events (verification
        // only — the ANSWER path above never rescans them)
        val checked = ev.withColumn("day", date_trunc("day", col("ts")))
          .join(broadcast(merged), "day")
          .groupBy("day")
          .agg(
            (sum(when(col("v") < col("p50"), 1.0)) / count(lit(1))).as("r50lo"),
            (sum(when(col("v") <= col("p50"), 1.0)) / count(lit(1))).as("r50hi"),
            (sum(when(col("v") < col("p90"), 1.0)) / count(lit(1))).as("r90lo"),
            (sum(when(col("v") <= col("p90"), 1.0)) / count(lit(1))).as("r90hi"),
            count(lit(1)).as("n"))
          .withColumn("bound", lit(6.0 / k) + lit(1.0) / col("n"))
          .withColumn("bad",
            (greatest(col("r50lo") - 0.5, lit(0.5) - col("r50hi"), lit(0.0))
              > col("bound")) ||
            (greatest(col("r90lo") - 0.9, lit(0.9) - col("r90hi"), lit(0.0))
              > col("bound")))
        val stats = checked.agg(count(lit(1)).as("n_days"),
          coalesce(sum(when(col("bad"), 1L)), lit(0L)).as("viol")).collect()(0)
        import s.implicits._
        Seq((stats.getLong(0), Gate.violations((stats.getLong(1) == 0L) ->
          s"${stats.getLong(1)}/${stats.getLong(0)} days outside the 6/k rank bound")))
          .toDF("n_days", "n_violations")
      }
    },

    // STREAMING count-min — cms-in-stream, closing the sketch-family
    // streaming matrix (x_stream_quantile = ranks; this = per-key
    // frequency): per-(day, micro-batch) 64 KB CMS partials accumulate
    // from a real foreachBatch sink into a state table, and the per-day
    // frequency answers merge the stored partials WITHOUT rescanning raw
    // events. The fixture splits by USER parity, not by day — every day's
    // events straddle both source generations, so every day's sketch
    // genuinely accumulates across micro-batch boundaries (a day-split
    // fixture would leave each day single-partial and never exercise the
    // cross-batch merge; a "n_multi >= 1" gate pins that this one does).
    // Gate 1 is CMS's distinctive contract: elementwise add is order-
    // insensitive, so each day's merged-of-partials must equal the
    // direct-over-raw sketch BIT-IDENTICALLY — any micro-batch boundary
    // effect is a bug, not noise. Gate 2 probes 20 users against exact
    // counts on the all-time merged sketch (est >= exact always; within
    // (e/w)*N for >= 18/20 — same bounds as x_cms_rollup).
    Q("x_stream_cms",
      """SELECT CAST(count(DISTINCT date_trunc('day', ts)) AS BIGINT) AS n_days,
        |CAST(count(DISTINCT CASE WHEN user_id < 20 THEN user_id END) AS BIGINT)
        |  AS n_probes,
        |CAST(0 AS BIGINT) AS n_violations FROM events""".stripMargin) { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      import graft.functions.GraftFunctions.{graft_cms, graft_cms_merge}
      Tmp.scoped("graft-scms") { tmp =>
        val fx = userParitySource(s, dir)
        val ev = fx.df
        val stored = dayPartials(s, tmp, fx)(
          graft_cms(xxhash64(col("user_id"))).as("sketch"))
        // Gate 1: per-day merged partials == direct per-day sketch,
        // byte-for-byte; and the fixture actually split days across
        // micro-batches (n_multi >= 1) or the merge was never exercised.
        val (nDays, dayViol) = mergedEqualsDirect(stored, ev,
          Seq(graft_cms_merge(col("sketch")).as("sk")),
          Seq(graft_cms(xxhash64(col("user_id"))).as("dsk")),
          col("sk") === col("dsk"))
        // Gate 2: all-time merged sketch vs 20 probe users' exact counts.
        val allRow = stored
          .agg(graft_cms_merge(col("sketch")).as("sk")).collect()(0)
        val allSk = allRow.getAs[Array[Byte]](0)
        val (nProbes, probeViol) = SketchQueries.cmsProbes(ev, allSk, ev.count())
        import s.implicits._
        Seq((nDays, nProbes, dayViol + probeViol))
          .toDF("n_days", "n_probes", "n_violations")
      }
    },

    // STREAMING HLL — distinct-in-stream, completing the sketch-in-stream
    // matrix (quantile digest, count-min, Misra-Gries, and now HLL all
    // accumulate per-(day, micro-batch) partials from a foreachBatch sink
    // and answer from stored state without rescanning raw events).
    // Register max is order-insensitive, so HLL gets the CMS-style
    // BIT-IDENTITY gate: each day's merged-of-stream-partials must equal
    // the direct-over-raw sketch byte-for-byte, however the stream was
    // batched; the user-parity fixture split makes every day straddle
    // generations (n_multi gate). Accuracy gate: all-time merged estimate
    // within 3 x 1.6% rsd of exact, as in x_hll_rollup.
    Q("x_stream_hll",
      """SELECT CAST(count(DISTINCT date_trunc('day', ts)) AS BIGINT) AS n_days,
        |CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
        |CAST(0 AS BIGINT) AS n_violations FROM events""".stripMargin) { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      import graft.functions.GraftFunctions.{graft_hll, graft_hll_card, graft_hll_merge}
      Tmp.scoped("graft-shll") { tmp =>
        val fx = userParitySource(s, dir)
        val ev = fx.df
        val stored = dayPartials(s, tmp, fx)(
          graft_hll(xxhash64(col("user_id"))).as("sketch"))
        val (nDays, dayViol) = mergedEqualsDirect(stored, ev,
          Seq(graft_hll_merge(col("sketch")).as("sk")),
          Seq(graft_hll(xxhash64(col("user_id"))).as("dsk")),
          col("sk") === col("dsk"))
        val est = stored
          .agg(graft_hll_card(graft_hll_merge(col("sketch"))).as("est"))
          .collect()(0).getLong(0)
        val exact = ev.agg(countDistinct("user_id")).collect()(0).getLong(0)
        import s.implicits._
        Seq((nDays, exact, dayViol + Gate.violations(
          SketchQueries.hllWithin3Rsd(est, exact, "stream-merged HLL estimate"))))
          .toDF("n_days", "n_exact", "n_violations")
      }
    },

    // STREAMING KMV — the set-algebra sketch in the stream matrix (fifth
    // member after qdigest/CMS/MG/HLL): per-(day, micro-batch) graft_kmv
    // partials for TWO key populations (even users; users divisible by
    // 3) accumulate from a foreachBatch sink; per-day merged-of-partials
    // must equal the direct-over-raw sketch BYTE-FOR-BYTE (k-smallest-
    // of-union is order-insensitive and the wire form canonical — the
    // CMS/HLL identity class), and the all-time merged sketches answer
    // the OVERLAP question from stored state alone: |even ∩ div3| =
    // the div6 population, an engineered 0.25 jaccard the oracle states
    // exactly. Below capacity (gate SFs) the sketch estimates must be
    // EXACT; past it, 4-sigma bounds (the x_kmv_overlap discipline).
    Q("x_stream_kmv",
      """SELECT CAST(count(DISTINCT date_trunc('day', ts)) AS BIGINT) AS n_days,
        |CAST(count(DISTINCT CASE WHEN user_id % 2 = 0 THEN user_id END)
        |  AS BIGINT) AS n_even,
        |CAST(count(DISTINCT CASE WHEN user_id % 3 = 0 THEN user_id END)
        |  AS BIGINT) AS n_div3,
        |CAST(count(DISTINCT CASE WHEN user_id % 6 = 0 THEN user_id END)
        |  AS BIGINT) AS n_both,
        |CAST(0 AS BIGINT) AS n_violations FROM events""".stripMargin) { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      import graft.functions.GraftFunctions.{graft_kmv, graft_kmv_merge, graft_kmv_overlap, graft_kmv_stats}
      val kCap = 1024
      Tmp.scoped("graft-skmv") { tmp =>
        val fx = userParitySource(s, dir)
        val ev = fx.df
        val even = graft_kmv(when(pmod(col("user_id"), lit(2)) === 0,
          col("user_id")), kCap)
        val div3 = graft_kmv(when(pmod(col("user_id"), lit(3)) === 0,
          col("user_id")), kCap)
        val stored = dayPartials(s, tmp, fx)(even.as("sk_even"), div3.as("sk_div3"))
        val (nDays, dayViol) = mergedEqualsDirect(stored, ev,
          Seq(graft_kmv_merge(col("sk_even")).as("me"),
            graft_kmv_merge(col("sk_div3")).as("m3")),
          Seq(even.as("de"), div3.as("d3")),
          col("me") === col("de") && col("m3") === col("d3"))
        // overlap from STORED state alone: all-time merged even/div3
        // sketches -> intersection estimate vs the exact div6 population
        val o = stored.agg(graft_kmv_merge(col("sk_even")).as("ae"),
          graft_kmv_merge(col("sk_div3")).as("a3"))
          .select(graft_kmv_overlap(col("ae"), col("a3")).as("o"),
            graft_kmv_stats(col("ae")).as("se"),
            graft_kmv_stats(col("a3")).as("s3"))
          .first()
        val ov = o.getAs[scala.collection.Seq[Double]]("o")
        val exact = ev.agg(
          count_distinct(when(pmod(col("user_id"), lit(2)) === 0,
            col("user_id"))).as("ne"),
          count_distinct(when(pmod(col("user_id"), lit(3)) === 0,
            col("user_id"))).as("n3"),
          count_distinct(when(pmod(col("user_id"), lit(6)) === 0,
            col("user_id"))).as("n6")).first()
        val (nE, n3, n6) = (exact.getLong(0), exact.getLong(1), exact.getLong(2))
        def ok(est: Double, ex: Long, full: Boolean, bound: Double,
            floor: Double): Boolean =
          if (!full) est == ex.toDouble
          else math.abs(est - ex) <= math.max(bound * ex, floor)
        val eFull = o.getAs[scala.collection.Seq[Double]]("se")(1) >= kCap
        val dFull = o.getAs[scala.collection.Seq[Double]]("s3")(1) >= kCap
        import s.implicits._
        Seq((nDays, nE, n3, n6, dayViol + Gate.violations(
          ok(ov(0), nE, eFull, 0.2, 0) -> s"even-user estimate ${ov(0)} vs exact $nE",
          ok(ov(1), n3, dFull, 0.2, 0) -> s"div3-user estimate ${ov(1)} vs exact $n3",
          ok(ov(2), n6, eFull || dFull, 0.5, 20) ->
            s"even/div3 overlap estimate ${ov(2)} vs exact div6 population $n6")))
          .toDF("n_days", "n_even", "n_div3", "n_both", "n_violations")
      }
    },

    // STREAMING exactly-once across a RESTART — the durability semantic
    // every other stream query assumes, demonstrated instead of assumed:
    // the first stream instance ingests generation 1, is STOPPED, a
    // second instance starts from the SAME checkpoint after generation 2
    // lands, and the final state must equal the batch truth EXACTLY —
    // integer-cents equality is the whole gate, since any file replayed
    // across the restart double-counts and any file dropped
    // under-counts. The file source's offset log in the checkpoint is
    // the mechanism; phase tags on the stored partials pin that both
    // instances actually contributed (a silently-dead phase B would
    // otherwise look like an honest gen1-only run to the oracle).
    Q("x_stream_restart",
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
        |count(*) AS n_events,
        |CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events WHERE user_id < 40
        |GROUP BY 1 ORDER BY hour""".stripMargin) { (s, dir) =>
      Tmp.scoped("graft-srst") { tmp =>
        val src = new OrderedSource(tmp.resolve("src").toString)
        val state = tmp.resolve("state").toString
        val ev = Tables(s, dir, "events").where(col("user_id") < 40)
          .select(col("ts").cast("timestamp").as("ts"),
            round(col("value") * 100, 0).cast("long").as("cents"),
            col("user_id"))
        def runPhase(phase: String): Unit = runToCompletion(s, tmp.resolve("ckpt")) {
          src.stream(s, s.read.parquet(src.path).schema, 1)
            .writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
              batch.groupBy(date_trunc("hour", col("ts")).as("hour"))
                .agg(count(lit(1)).as("n"), sum("cents").as("c"))
                .withColumn("phase", lit(phase))
                .write.mode("append").parquet(state)
              ()
            }
        }
        // phase A: generation 1 only, then the stream instance DIES.
        // 3 files per generation: maxFilesPerTrigger=1 still exercises
        // several micro-batches per phase without paying a 32-batch
        // plan/commit tax per generation in the bench.
        src.write(ev.where(pmod(col("user_id"), lit(2)) === 0).coalesce(3))
        runPhase("A")
        // generation 2 lands while no stream is running
        src.write(ev.where(pmod(col("user_id"), lit(2)) === 1).coalesce(3))
        // phase B: a NEW instance resumes from the same checkpoint
        runPhase("B")
        val stored = s.read.parquet(state)
        val phases = stored.select("phase").distinct()
          .collect().map(_.getString(0)).toSet
        Gate.check(phases == Set("A", "B"),
          s"restart not exercised: partials from phases $phases")
        // eager: the result must detach from the tmp state files before
        // the finally below deletes them
        stored.groupBy("hour")
          .agg(sum("n").as("n_events"), sum("c").as("sum_cents"))
          .select(date_format(col("hour"), "yyyy-MM-dd HH:00").as("hour"),
            col("n_events"), col("sum_cents"))
          .orderBy("hour")
          .localCheckpoint(true)
      }
    },

    // STREAMING heavy hitters — Misra-Gries partials across micro-batch
    // boundaries (x_mg_rollup's contract carried into the stream, the
    // x_stream_cms / x_stream_quantile discipline): per-(day, batch) MG
    // summaries from a foreachBatch sink, merged per day and globally
    // WITHOUT rescanning raw events. The PODS'12 invariant is exactly
    // what makes this composition legal — merging the stored per-batch
    // partials preserves est <= exact and the (N-M)/(K+1) bound no
    // matter how the stream was batched, so the gates are the same
    // DETERMINISTIC ones as the batch rollup, over the full key
    // population. User-parity fixture split (not day) so every day's
    // summary genuinely accumulates across batches (n_multi gate).
    Q("x_stream_topk",
      """SELECT CAST(count(DISTINCT date_trunc('day', ts)) AS BIGINT) AS n_days,
        |CAST(count(DISTINCT CASE WHEN user_id % 4 = 0 THEN event_id % 8
        |  ELSE 1000 + user_id END) AS BIGINT) AS n_keys,
        |CAST(0 AS BIGINT) AS n_violations FROM events""".stripMargin) { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      import graft.functions.GraftFunctions.{graft_mg, graft_mg_merge}
      Tmp.scoped("graft-stopk") { tmp =>
        val ev = Tables(s, dir, "events")
          .select(col("ts"), col("user_id"),
            when(col("user_id") % 4 === 0, col("event_id") % 8)
              .otherwise(lit(1000L) + col("user_id")).as("k"))
        val stored = dayPartials(s, tmp,
          TwoGen(ev, pmod(col("user_id"), lit(2)) === 0))(
          graft_mg(col("k")).as("sketch"))
        val nDays = stored.select("day").distinct().count()
        val nMulti = stored.groupBy("day").agg(count(lit(1)).as("np"))
          .where(col("np") > 1).count()
        Gate.check(nMulti >= 1,
          "no day accumulated >1 partial — cross-batch merge not exercised")
        val merged = stored.agg(graft_mg_merge(col("sketch")).as("sk")).collect()(0)
        val (nKeys, violations) =
          SketchQueries.mgContract(ev, merged.getAs[Array[Byte]](0))
        import s.implicits._
        Seq((nDays, nKeys, violations))
          .toDF("n_days", "n_keys", "n_violations")
      }
    },

    // Stream-stream join, batch twin: purchases joined to the same user's
    // clicks within the preceding 30 minutes (watermarks are no-ops in
    // batch; the streaming side with state eviction is covered in
    // StreamingSpec).
    Q("x_stream_join",
      """WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase')
        |SELECT p.user_id AS user_id, count(*) AS n_pairs,
        |count(DISTINCT p.ts) AS n_purchases
        |FROM p JOIN c ON c.user_id = p.user_id
        |AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts
        |GROUP BY p.user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      graft.streaming.EventStreams.clickPurchaseJoin(Tables(s, dir, "events"), 30)
        .groupBy(col("p_user").as("user_id"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("purchase_ts")).as("n_purchases"))
        .orderBy("user_id")
    },

    // Streaming exact dedup, oracle-visible: the subset is written out TWICE
    // as two files and streamed back with maxFilesPerTrigger=1, so the
    // duplicate copy arrives in a LATER micro-batch — this exercises
    // dropDuplicatesWithinWatermark's cross-batch state, not a within-batch
    // distinct. Oracled: the deduped stream must reproduce the original
    // subset's per-type counts exactly.
    Q("x_stream_dedup",
      """SELECT event_type, count(*) AS n_unique FROM events WHERE user_id < 50
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      Tmp.scoped("graft-sdedup") { tmp =>
        val src = new OrderedSource(tmp.resolve("src").toString)
        val subset = Tables(s, dir, "events").where(col("user_id") < 50)
        src.write(subset.coalesce(1))
        src.write(subset.coalesce(1))
        val q = runToCompletion(s, tmp.resolve("ckpt")) {
          memorySink(graft.streaming.EventStreams.dedupStream(
            src.stream(s, subset.schema, 1)), "graft_stream_dedup_")
        }
        // the memory sink holds the rows — the files can go as soon as the
        // result aggregate is computed over the in-memory table
        s.table(q.name).groupBy("event_type").agg(count(lit(1)).as("n_unique"))
          .orderBy("event_type").localCheckpoint(true)
      }
    },

    // Streaming keyed dedup on the RocksDB state-store backend, across a
    // RESTART — the state-capacity path a 100 TB deployment actually runs.
    // The default heap-backed provider bounds total streaming state by
    // executor heap; RocksDB bounds it by local DISK (native memory + SST
    // files, changelog checkpointing ships per-batch deltas). Same
    // dropDuplicatesWithinWatermark operator as x_stream_dedup, but (a)
    // state lives in RocksDB, (b) the stream is KILLED after ingesting the
    // whole corpus and a second instance resumes from the checkpoint —
    // phase B replays duplicates of the most-recent corpus slice, which sit
    // ABOVE the reloaded watermark (not late-filterable): only the state
    // reloaded through RocksDB's snapshot+changelog lifecycle can drop
    // them, and the phase-B gate pins that exactly the one fresh sentinel
    // row came through. Engagement is attested from the query's own
    // rocksdb* state metrics — a silently-ignored provider conf would run
    // the heap store and fail the gate, not silently pass. STRESSCHECK
    // carries this query's heap-vs-rocksdb counterfactual at small heap;
    // ScaleCheck's backend stages time the pair at standard heap.
    Q("x_stream_dedup_rocksdb",
      """SELECT event_type, count(DISTINCT event_id) AS n_unique FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      streamDedupBackendRun(s, dir, graft.streaming.StateBackend.RocksDb)
    },

    // StreamStateGuard negative path at suite scale — the runtime guard's
    // anchor query, the way x_plan_guard anchors PlanGuard: phase A runs a
    // DELIBERATELY watermark-less dropDuplicates (the canonical
    // unbounded-state shape: every key takes a state row forever, no
    // eviction path) over 8 single-file micro-batches and gates that the
    // guard records EXACTLY ONE finding for that run (minBatches=4 over 7
    // growth observations fires once at streak 4, then the post-finding
    // reset leaves the remaining 3 batches under threshold); phase B runs
    // the watermarked twin over the same rows as time-sorted shards (the
    // watermark advances at every shard boundary, state churns instead of
    // accumulating) and gates that ITS run records nothing. Thresholds are
    // name-scoped overrides, not session conf — concurrent bench streams
    // never see them — and the intentional finding is cleared by runId so
    // suite-wide assertClean stays a real gate. Oracle: the deduped
    // per-type counts (event_ids are unique, so dedup is count-preserving
    // — the state the guard watches is per-id either way).
    Q("x_stream_state_guard",
      """SELECT event_type, count(*) AS n_unique FROM events
        |WHERE user_id < 40 GROUP BY event_type ORDER BY event_type"""
        .stripMargin) { (s, dir) =>
      import graft.plans.StreamStateGuard
      Tmp.scoped("graft-sguardq") { tmp =>
        val subset = Tables(s, dir, "events").where(col("user_id") < 40)
          .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
            col("event_type"))
        val total = subset.count()
        def runOne(src: OrderedSource, watermarked: Boolean): (String, Long) = {
          val q = runToCompletion(s, tmp.resolve(s"ckpt_$watermarked")) {
            val stream = src.stream(s, subset.schema, 1)
            memorySink(
              if (watermarked)
                stream.withWatermark("ts", "10 minutes")
                  .dropDuplicatesWithinWatermark("event_id")
              else stream.dropDuplicates("event_id"),
              "graft_sguard_")
          }
          (q.runId.toString, s.table(q.name).count())
        }
        StreamStateGuard.withThresholds("graft_sguard_", minBatches = 4,
          minRows = 20) {
          // phase A: 8 id-hashed shards — each batch adds fresh state rows,
          // no watermark ever appears, the streak forms
          val leakySrc = new OrderedSource(tmp.resolve("leaky").toString)
          leakySrc.write(subset.repartition(8, col("event_id")))
          val (leakRun, nLeak) = runOne(leakySrc, watermarked = false)
          // listener delivery is async past q.stop(): wait until the
          // guard has processed the run's TERMINATED event (FIFO bus —
          // findings for the run are then final), so both the positive
          // and the negative gate below judge a settled registry instead
          // of racing a fixed drain sleep (a fixed 500ms
          // could false-pass the emptiness gate on a slow bus)
          def awaitFinal(runId: String): Unit = {
            val deadline = System.nanoTime() + 5000000000L
            while (!StreamStateGuard.terminatedSeen(runId) &&
              System.nanoTime() < deadline) Thread.sleep(50)
            Gate.check(StreamStateGuard.terminatedSeen(runId),
              s"stream guard listener did not drain run $runId within 5s")
          }
          awaitFinal(leakRun)
          val leakFindings = StreamStateGuard.findingsFor(leakRun)
          Gate.check(leakFindings.size == 1,
            s"watermark-less dedup should record exactly one unbounded-state " +
              s"finding, got ${leakFindings.size}: $leakFindings")
          StreamStateGuard.clearRun(leakRun) // intentional — ours alone
          // phase B: same rows as range-sorted time shards, watermarked —
          // the watermark marches at shard boundaries and no streak forms
          val cleanSrc = new OrderedSource(tmp.resolve("clean").toString)
          cleanSrc.writeRanged(subset, total)
          val (cleanRun, nClean) = runOne(cleanSrc, watermarked = true)
          awaitFinal(cleanRun) // emptiness judged on a FINAL registry
          Gate.check(StreamStateGuard.findingsFor(cleanRun).isEmpty,
            "watermarked twin tripped the state guard: " +
              StreamStateGuard.findingsFor(cleanRun).mkString("; "))
          Gate.check(nLeak == total && nClean == total,
            s"dedup of unique ids must be count-preserving: " +
              s"leaky $nLeak / clean $nClean vs $total source rows")
        }
        subset.groupBy("event_type").agg(count(lit(1)).as("n_unique"))
          .orderBy("event_type").localCheckpoint(true)
      }
    },

    // Streaming CDC upsert (foreachBatch MERGE), oracle-visible: events
    // arrive in two micro-batches; each batch compacts to latest-per-user
    // with a max_by AGGREGATE (the x_cdc_latest discipline — partial
    // aggregation, never a window sort over the change stream) and merges
    // latest-wins into a keyed parquet state table, versioned per batch
    // (read state_vN, merge, write state_vN+1 — a reader never overlaps
    // the file set it replaces). The oracle states the invariant directly:
    // incremental upsert across batches == latest event per user over the
    // WHOLE table. Ties break on (ts, event_id) — a total order.
    Q("x_stream_upsert",
      """SELECT user_id, event_type AS last_type,
        |CAST(round(value * 100, 0) AS BIGINT) AS last_cents
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |  ORDER BY ts DESC, event_id DESC) AS rn FROM events) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin) { (s, dir) =>
      Tmp.scoped("graft-supsert") { tmp =>
        val src = new OrderedSource(tmp.resolve("src").toString)
        val genFiles = upsertSource(s, dir).write(src)
        val stream = src.stream(s, s.read.parquet(src.path).schema, genFiles)
        val stateRef = new java.util.concurrent.atomic.AtomicReference[String](null)
        var version = 0
        def latest(df: org.apache.spark.sql.DataFrame) = df.groupBy("user_id")
          .agg(max_by(
            struct(col("ts"), col("event_id"), col("event_type"), col("cents")),
            struct(col("ts"), col("event_id"))).as("last"))
        runToCompletion(s, tmp.resolve("ckpt")) {
          stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
            val delta = latest(batch)
            val merged = Option(stateRef.get()) match {
              case None => delta
              case Some(p) =>
                batch.sparkSession.read.parquet(p).unionByName(delta)
                  .groupBy("user_id")
                  .agg(max_by(col("last"),
                    struct(col("last.ts"), col("last.event_id"))).as("last"))
            }
            version += 1
            val out = tmp.resolve(s"state_v$version").toString
            merged.write.mode("overwrite").parquet(out)
            stateRef.set(out)
            ()
          }
        }
        s.read.parquet(stateRef.get())
          .select(col("user_id"), col("last.event_type").as("last_type"),
            col("last.cents").as("last_cents"))
          .orderBy("user_id").localCheckpoint(true)
      }
    },

    // Streaming LSH index maintenance, oracle-visible: the corpus arrives in
    // two micro-batches through the REAL foreachBatch sink (bucketed append
    // to a (table, bucket)-partitioned parquet index), then perturbed copies
    // of 20 corpus vectors probe the index — partition-pruned to the probes'
    // own buckets. GATED: each probe must retrieve its source vector.
    // Promoted to a full oracle (r5): the probe population is plain SQL and
    // the >=18/20 retrieval contract becomes a violation count pinned to 0.
    Q("x_stream_index_probe",
      """SELECT CAST(count(*) AS BIGINT) AS n_expected,
        |CAST(0 AS BIGINT) AS n_violations FROM embeddings
        |WHERE vec_id < 20""".stripMargin) { (s, dir) =>
      import graft.streaming.VectorIndexStream
      Tmp.scoped("graft-vindex") { tmp =>
        val src = new OrderedSource(tmp.resolve("src").toString)
        val fx = indexProbeSource(s, dir)
        val emb = fx.df
        val stream = src.stream(s, emb.schema, fx.write(src))
        val indexPath = tmp.resolve("index").toString
        // 2 planes (4 buckets/table): collision ~0.86 per table at cos 0.97,
        // ~0.98 OR-ed over 2 tables — deterministic here (seeded planes,
        // seeded perturbation), verified 20/20 recovered at sf0.01 and
        // sf0.1, inside the >=18 gate. 8 partition dirs (x1 file per batch,
        // thanks to the sink's key-repartition) keep the append cheap: the
        // dominant cost of a dynamic-partition append is parquet writer
        // open/commit PER DIRECTORY, not the row volume — 32 dirs cost ~2s
        // more than 8 for the same few thousand rows.
        withShufflePartitions(s, 4) {
          runToCompletion(s, tmp.resolve("ckpt")) {
            VectorIndexStream.indexSink(stream, indexPath,
              numPlanes = 2, numTables = 2)
          }
          val probes = perturbedCopies(emb, 1000000L)
          val topk = VectorIndexStream.probe(s, indexPath, probes, k = 10,
            numPlanes = 2, numTables = 2)
          val nFound = topk.where(col("vid") === col("qid") - 1000000L).count()
          import s.implicits._
          Seq((20L, Gate.violations(
            Gate.planted(nFound, 18, 20, "streaming index probe planted neighbors"))))
            .toDF("n_expected", "n_violations")
        }
      }
    },

    // STREAMING sessionization, oracle-visible: the subset arrives in two
    // time-ordered micro-batches (sessions spanning the split must merge in
    // state), then a far-future sentinel event (user -1, excluded from the
    // result) advances the event-time watermark past every session's
    // end + gap so the EventTimeTimeout closes them all deterministically.
    // Oracled against the same gaps-and-islands SQL as the batch twin.
    Q("x_stream_sessionize",
      """WITH d AS (SELECT user_id, epoch_ms(ts) AS t FROM events
        |  WHERE user_id < 30),
        |m AS (SELECT user_id, t, CASE WHEN t - lag(t) OVER
        |  (PARTITION BY user_id ORDER BY t) > 1800000
        |  OR lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
        |  THEN 1 ELSE 0 END AS new_s FROM d),
        |s AS (SELECT user_id, sum(new_s) OVER
        |  (PARTITION BY user_id ORDER BY t
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM m)
        |SELECT user_id, CAST(count(DISTINCT sid) AS BIGINT) AS n_sessions,
        |count(*) AS n_events FROM s GROUP BY user_id
        |ORDER BY user_id""".stripMargin) { (s, dir) =>
      Tmp.scoped("graft-ssess") { tmp =>
        val src = new OrderedSource(tmp.resolve("src").toString)
        // time-ordered files: a later batch must never carry data older
        // than the watermark the earlier batch established (it would be
        // dropped as late) — see OrderedSource.
        val fx = TimeSplit(userEvents(s, dir, 30, withValue = true),
          sorted = false, Seq(18000000L))
        fx.write(src)
        import s.implicits._
        val q = runToCompletion(s, tmp.resolve("ckpt")) {
          memorySink(graft.streaming.EventStreams.sessionize(
            src.stream(s, fx.ev.schema, 1).as[graft.streaming.EventStreams.Event],
            gapMinutes = 30, emitOpen = false), "graft_stream_sess_")
        }
        s.table(q.name).where(col("user_id") >= 0)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
          .orderBy("user_id").localCheckpoint(true)
      }
    },

    // STREAMING windowed aggregation, oracle-visible: the batch twin is
    // x_event_window; this runs the same tumbling-hour aggregate through a
    // real watermark + append-mode stream (two time-split micro-batches,
    // then a far-future sentinel closes every window). Sums are integer
    // cents, so cross-batch state accumulation order can't flip a rounded
    // digit — the oracle compare is exact.
    Q("x_stream_window",
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
        |event_type, count(*) AS n,
        |CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events WHERE user_id < 40
        |GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin) { (s, dir) =>
      Tmp.scoped("graft-swin") { tmp =>
        val src = new OrderedSource(tmp.resolve("src").toString)
        // sentinel 3h past the last event: watermark (1h lag) passes every
        // real window's end, so append mode emits them all; the sentinel's
        // own window never closes and never reaches the sink
        val fx = windowSource(s, dir)
        fx.write(src)
        val q = runToCompletion(s, tmp.resolve("ckpt")) {
          memorySink(graft.streaming.EventStreams.hourlyCountsCents(
            src.stream(s, fx.ev.schema, 1)), "graft_stream_win_")
        }
        s.table(q.name).where(col("event_type") =!= "sentinel")
          .orderBy("hour", "event_type").localCheckpoint(true)
      }
    },

    // STATEFUL restart — x_stream_restart's harder twin: a watermarked
    // window AGGREGATE stopped mid-corpus and resumed from its
    // checkpoint, so what must survive the restart is the STATE STORE
    // (the open boundary windows), not just the file-source offset log.
    // The fixture splits by TIME (not user parity): phase A's watermark
    // stops one hour short of the split, so the boundary windows hold
    // gen1 partial counts in state when the instance dies; phase B's
    // instance reloads that state, merges gen2's events into the same
    // windows, and the far-future sentinel flushes everything. Exact
    // integer-cents equality with the batch truth is the gate — lost
    // state under-counts every boundary window, a replay double-counts.
    // The sink is the parquet FILE sink: its _spark_metadata manifest is
    // the exactly-once ledger across instances (a memory sink dies with
    // instance A). Phase row counts pin that BOTH instances emitted.
    Q("x_stream_restart_agg",
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
        |event_type, count(*) AS n,
        |CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events WHERE user_id < 25
        |GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin) { (s, dir) =>
      Tmp.scoped("graft-srsta") { tmp =>
        val src = new OrderedSource(tmp.resolve("src").toString)
        val out = tmp.resolve("out").toString
        val fx = restartAggSource(s, dir)
        def runInstance(): Unit = runToCompletion(s, tmp.resolve("ckpt")) {
          graft.streaming.EventStreams.hourlyCountsCents(
              src.stream(s, fx.ev.schema, 1))
            .writeStream.format("parquet").option("path", out)
            .outputMode("append")
        }
        // phase A: first half by TIME, then the instance dies with the
        // boundary windows still open in state. ONE time-sorted file per
        // phase (TimeSplit's `sorted`): the windowed aggregate silently
        // DROPS rows behind the watermark. The second half and the
        // sentinel land while nothing is running.
        val (_, all) = fx.writeAcrossRestart(src, runInstance _, () => s.read.parquet(out))
        all.where(col("event_type") =!= "sentinel")
          .orderBy("hour", "event_type").localCheckpoint(true)
      }
    },

    // STATEFUL sessionization RESTART — gates the event-time-timeout
    // sessionize path (emitOpen = false, EventStreams.sessionizeMs) end
    // to end across a mid-corpus kill (that path was
    // spec-covered but never CORRECTNESS-gated; the batch-mode oracle
    // runs emitOpen = true). The fixture splits by TIME with an 8-HOUR
    // gap (the events table's per-user cadence is hours apart — median
    // ~7h — so a 30-minute gap would close every session inside phase A
    // and the restart would carry nothing): sessions straddling the
    // split are OPEN in the state store when instance A dies, instance
    // B reloads them, merges gen2 events into the same session, and the
    // far-future sentinel (> end + 2*gap for every real session) flushes
    // everything. Lost state splits a spanning session in two and flips
    // n_sessions — the exact-count oracle catches it; the spanning Gate
    // pins that the fixture actually exercised a cross-restart session
    // (at least one output session holds events from BOTH phases).
    // Parquet file sink: its _spark_metadata manifest is the
    // exactly-once ledger across instances.
    Q("x_stream_sessionize_restart",
      """WITH d AS (SELECT user_id, epoch_ms(ts) AS t FROM events
        |  WHERE user_id < 35),
        |m AS (SELECT user_id, t, CASE WHEN t - lag(t) OVER
        |  (PARTITION BY user_id ORDER BY t) > 28800000
        |  OR lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
        |  THEN 1 ELSE 0 END AS new_s FROM d),
        |s AS (SELECT user_id, sum(new_s) OVER
        |  (PARTITION BY user_id ORDER BY t
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM m)
        |SELECT user_id, CAST(count(DISTINCT sid) AS BIGINT) AS n_sessions,
        |count(*) AS n_events FROM s GROUP BY user_id
        |ORDER BY user_id""".stripMargin) { (s, dir) =>
      Tmp.scoped("graft-ssrst") { tmp =>
        val src = new OrderedSource(tmp.resolve("src").toString)
        val out = tmp.resolve("out").toString
        val fx = sessionizeRestartSource(s, dir)
        def runInstance(): Unit = runToCompletion(s, tmp.resolve("ckpt")) {
          import s.implicits._
          graft.streaming.EventStreams.sessionizeMs(
              src.stream(s, fx.ev.schema, 1).as[graft.streaming.EventStreams.Event],
              RestartGapMs, emitOpen = false)
            .writeStream.format("parquet").option("path", out)
            .outputMode("append")
        }
        // phase A: first half by time, ONE time-sorted file — the source
        // table is only incidentally time-ordered at gate SFs (ScaleCheck's
        // replicated corpora are repartitioned), and flatMapGroupsWithState
        // has NO automatic late-row filter: a second unsorted file whose
        // events trail the watermark the first file set makes
        // setTimeoutTimestamp throw (timeout below watermark). One sorted
        // file per phase = the watermark only ever advances at the phase
        // boundary, at any corpus order. The spanning sessions stay open
        // in state when this instance dies; the second half and the
        // sentinel land while nothing is running.
        val (mid, all) = fx.writeAcrossRestart(src, runInstance _,
          () => s.read.parquet(out).where(col("user_id") >= 0))
        val spanning = all.where(unix_millis(col("session_start")) < mid &&
          unix_millis(col("session_end")) >= mid).count()
        Gate.check(spanning >= 1,
          "no session crossed the restart: the open-session state path " +
            s"was not exercised (mid=$mid)")
        all.groupBy("user_id")
          .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
          .orderBy("user_id")
      }
    },

    // Stream-stream JOIN restart — the last restart-uncovered state store
    // (restart coverage spans agg, dedup-upsert, sessionize; the interval
    // join's BUFFERED-ROW state is the riskiest reload because both sides
    // hold un-evicted rows mid-corpus). Choreography: the phase boundary
    // `mid` is placed AT the latest strictly-ordered matched pair (click
    // strictly before purchase, data-derived — existence holds at every
    // gate SF): instance 1 consumes everything before that pair's
    // purchase, so the pair's CLICK enters the join's click state and the
    // instance dies holding it; instance 2 (same checkpoint) consumes the
    // rest + two flushing sentinels. The straddle gate then demands that
    // cross-phase pair in the output — it can only match if the
    // state-store reload handed instance 2 a click it never read from the
    // source. Result is the per-user LEFT JOIN aggregate; equality with
    // the batch oracle across the kill is the exactly-once claim.
    Q("x_stream_join_restart",
      """WITH p AS (SELECT user_id, ts FROM events
        |  WHERE event_type = 'purchase' AND user_id < 20),
        |c AS (SELECT user_id, ts FROM events
        |  WHERE event_type = 'click' AND user_id < 20)
        |SELECT p.user_id AS user_id, count(*) AS n_rows,
        |count(c.ts) AS n_matched
        |FROM p LEFT JOIN c ON c.user_id = p.user_id
        |AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts
        |GROUP BY p.user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      Tmp.scoped("graft-sjrst") { tmp =>
        val src = new OrderedSource(tmp.resolve("src").toString)
        val out = tmp.resolve("out").toString
        val fx = joinRestartSource(s, dir)
        // noDataBatches=false: the two flushing sentinels are the
        // watermark choreography — see withShufflePartitions
        def runInstance(): Unit = runToCompletion(s, tmp.resolve("ckpt"),
            noDataBatches = false) {
          graft.streaming.EventStreams
            .clickPurchaseLeftJoin(src.stream(s, fx.ev.schema, 1), 30)
            .writeStream.format("parquet").option("path", out)
            .outputMode("append")
        }
        // phase A: one time-sorted file (the restart queries' watermark
        // discipline); the straddle pair's click is buffered when the
        // instance stops. The second half and two flushing sentinels land
        // while nothing runs.
        val (mid, all) = fx.writeAcrossRestart(src, runInstance _,
          () => s.read.parquet(out).where(col("p_type") === "purchase"))
        val straddle = all.where(unix_millis(col("click_ts")) < mid &&
          unix_millis(col("purchase_ts")) >= mid).count()
        Gate.check(straddle >= 1,
          "no matched pair crossed the restart: the reloaded click state " +
            s"was not exercised (mid=$mid)")
        all.groupBy(col("p_user").as("user_id"))
          .agg(count(lit(1)).as("n_rows"),
            count(col("click_ts")).as("n_matched"))
          .orderBy("user_id")
      }
    },

    // Stream-stream LEFT OUTER interval join, oracle-visible END-TO-END:
    // unlike x_stream_join (inner, batch twin), this runs the real
    // watermarked stream — the outer (null-click) rows are the part batch
    // mode can't fake, because each one is a watermark assertion that no
    // matching click can still arrive, emitted exactly when the click
    // state for its window is EVICTED. Two time-split micro-batches, then
    // two far-future sentinels: the first advances both watermarks past
    // every real window, the second forces the extra trigger outer
    // results flush in (outer emission happens in the batch AFTER
    // eviction — with a file source and no new file, that batch would
    // never run). Oracle: the exact LEFT JOIN per-user matched/unmatched
    // counts in DuckDB.
    Q("x_stream_join_outer",
      """WITH p AS (SELECT user_id, ts FROM events
        |  WHERE event_type = 'purchase' AND user_id < 40),
        |c AS (SELECT user_id, ts FROM events
        |  WHERE event_type = 'click' AND user_id < 40)
        |SELECT p.user_id AS user_id, count(*) AS n_rows,
        |count(c.ts) AS n_matched
        |FROM p LEFT JOIN c ON c.user_id = p.user_id
        |AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts
        |GROUP BY p.user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      Tmp.scoped("graft-sjoin") { tmp =>
        val src = new OrderedSource(tmp.resolve("src").toString)
        val fx = joinOuterSource(s, dir)
        fx.write(src)
        // noDataBatches=false: two flushing sentinels are the choreography
        val q = runToCompletion(s, tmp.resolve("ckpt"), noDataBatches = false) {
          memorySink(graft.streaming.EventStreams.clickPurchaseLeftJoin(
            src.stream(s, fx.ev.schema, 1), 30), "graft_stream_sjo_")
        }
        s.table(q.name).where(col("p_type") === "purchase")
          .groupBy(col("p_user").as("user_id"))
          .agg(count(lit(1)).as("n_rows"), count(col("click_ts")).as("n_matched"))
          .select(col("user_id"), col("n_rows"), col("n_matched"))
          .orderBy("user_id")
          .localCheckpoint(true)
      }
    },

    // Stream-stream FULL OUTER interval join — the matrix completer:
    // matched pairs, purchase-only rows (window closed with no click),
    // AND click-only rows (no later purchase claimed the click). Same
    // fixture choreography as the left-outer query (two data files, two
    // far-future sentinels so every eviction cohort gets a flushing
    // trigger; sentinels ride both streams — the pushdown trap). Output
    // classifies per user via the riding type columns; user < 30 keeps
    // the population disjoint in size from the left query's (< 40) so a
    // wrong filter can't accidentally hash-match. Oracle: exact FULL
    // JOIN per-user matched / purchase-only / click-only counts.
    Q("x_stream_join_full",
      """WITH p AS (SELECT user_id, ts FROM events
        |  WHERE event_type = 'purchase' AND user_id < 30),
        |c AS (SELECT user_id, ts FROM events
        |  WHERE event_type = 'click' AND user_id < 30)
        |SELECT coalesce(p.user_id, c.user_id) AS user_id,
        |count(*) AS n_rows,
        |CAST(sum(CASE WHEN p.ts IS NOT NULL AND c.ts IS NOT NULL
        |  THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
        |CAST(sum(CASE WHEN c.ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_purchase_only,
        |CAST(sum(CASE WHEN p.ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_click_only
        |FROM p FULL JOIN c ON c.user_id = p.user_id
        |AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts
        |GROUP BY 1 ORDER BY user_id""".stripMargin) { (s, dir) =>
      Tmp.scoped("graft-sjfull") { tmp =>
        val src = new OrderedSource(tmp.resolve("src").toString)
        val fx = joinFullSource(s, dir)
        fx.write(src)
        // noDataBatches=false: two flushing sentinels are the choreography
        val q = runToCompletion(s, tmp.resolve("ckpt"), noDataBatches = false) {
          memorySink(graft.streaming.EventStreams.clickPurchaseFullJoin(
            src.stream(s, fx.ev.schema, 1), 30), "graft_stream_sjf_")
        }
        s.table(q.name)
          .where(col("p_type") === "purchase" || col("c_type") === "click")
          .groupBy(coalesce(col("p_user"), col("c_user")).as("user_id"))
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("purchase_ts").isNotNull &&
              col("click_ts").isNotNull, 1L).otherwise(0L)).as("n_matched"),
            sum(when(col("click_ts").isNull, 1L).otherwise(0L))
              .as("n_purchase_only"),
            sum(when(col("purchase_ts").isNull, 1L).otherwise(0L))
              .as("n_click_only"))
          .orderBy("user_id")
          .localCheckpoint(true)
      }
    },

    // Stream-STATIC enrichment join — the standard streaming-ingest shape:
    // every micro-batch of facts joins a broadcast dimension (customer ->
    // nation here) with NO streaming state (unlike stream-stream joins,
    // nothing is buffered or watermarked; the static side is just a
    // broadcast each batch). Complete-mode count+cents aggregate makes the
    // result independent of how files split into micro-batches, so the
    // DuckDB oracle compare is exact with zero ordering choreography.
    Q("x_stream_enrich",
      """SELECT n.n_name AS nation, count(*) AS n,
        |CAST(sum(CAST(round(e.value * 100, 0) AS BIGINT)) AS BIGINT)
        |  AS sum_cents
        |FROM events e
        |JOIN customer c ON e.user_id = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY 1 ORDER BY nation""".stripMargin) { (s, dir) =>
      Tmp.scoped("graft-senrich") { tmp =>
        val src = new OrderedSource(tmp.resolve("src").toString)
        val ev = Tables(s, dir, "events")
          .select(col("user_id"), col("value"))
        // two files -> two micro-batches under maxFilesPerTrigger=1
        src.write(ev.where(col("user_id") % 2 === 0).coalesce(1))
        src.write(ev.where(col("user_id") % 2 =!= 0).coalesce(1))
        // materialize the dimension ONCE (r15: a static side of a stream
        // join re-executes per micro-batch — each trigger was re-running
        // the customer⋈nation join before rebuilding the broadcast; the
        // standard practice at any scale is to pin the dimension)
        val dim = broadcast(Tables(s, dir, "customer")
          .join(Tables(s, dir, "nation"),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("n_name").as("nation"))
          .localCheckpoint(true))
        val q = runToCompletion(s, tmp.resolve("ckpt")) {
          memorySink(src.stream(s, ev.schema, 1)
            .join(dim, col("user_id") === col("c_custkey"))
            .groupBy("nation")
            .agg(count(lit(1)).as("n"),
              sum(round(col("value") * 100, 0).cast("bigint")).as("sum_cents")),
            "graft_stream_enrich_", "complete")
        }
        s.table(q.name).orderBy("nation").localCheckpoint(true)
      }
    }
  )
}
