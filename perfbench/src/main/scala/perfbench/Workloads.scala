package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import graft.Tables
import graft.functions.GraftFunctions
import graft.operators.{ConnectedComponents, Dedup, Similarity}
import graft.streaming.{EventStreams, StateBackend}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** The 22 TPC-H analogues, run one after another through SparkEntry. */
final class Tpch extends Workload {
  private val entry = graft.SparkEntry.queries
  private val names = entry.keys.filter(_.matches("q\\d+_.*")).toSeq
    .sortBy(_.drop(1).takeWhile(_.isDigit).toInt)
  require(names.size == 22, s"expected the 22 TPC-H analogues, found ${names.mkString(",")}")

  /** The first query once: the session's first-query costs. Each query's
    * own first-execution costs (code generation, JIT) stay in the timed
    * round, as in any fresh job that runs these queries; a second, warm
    * round would double the run.
    */
  override def warmup(h: Harness): Unit = entry(names.head)(h.spark, h.data).collect()

  def round(h: Harness): Unit = names.foreach { n =>
    h.op(n) { id =>
      val df = h.span("queries.build", id)(entry(n)(h.spark, h.data))
      Some((df.collect(), df.schema))
    }
  }

  def check(h: Harness, out: String): Seq[(String, String)] = {
    val dir = s"$out/tpch_results"
    h.writeReferences(dir)
    val oracles = graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.write(Paths.get(dir, "oracle_sql.json"),
      Json.obj(oracles.map { case (k, v) => k -> Json.str(v) }).getBytes("UTF-8"))
    Seq("tpch_results" -> Json.str(dir))
  }
}

/** Near-duplicate and similarity operators over a document corpus and a
  * vector corpus: four operator calls per round.
  */
final class CorpusDedup extends Workload {
  private final case class Inputs(docs: DataFrame, emb: DataFrame, queries: DataFrame)
  private var full: Inputs = _
  private var knnPlanes, knnTables, annPlanes, annTables = 0

  /** The corpus tables, or with `part` only that part file of each. */
  private def load(h: Harness, part: Option[String]): Inputs = {
    def table(name: String) = part match {
      case None => Tables(h.spark, h.data, name)
      case Some(p) => Tables(h.spark, s"${h.data}/$name.parquet", p)
    }
    // the vector operators expect persisted inputs
    def vectors(name: String) = table(name).select("vec_id", "embedding")
      .persist(StorageLevel.MEMORY_AND_DISK)
    Inputs(table("documents").select("doc_id", "text"), vectors("embeddings"),
      vectors("queries"))
  }

  override def prepare(h: Harness): Unit = {
    full = load(h, None)
    val (n, nq) = (full.emb.count(), full.queries.count())
    // the schedules x_knn_join and x_ann_bipartite derive for these sizes
    knnPlanes = Similarity.adaptivePlanes(n, targetOccupancy = 8)
    knnTables = Similarity.tablesForRecall(knnPlanes, cosine = 0.97)
    annPlanes = Similarity.adaptivePlanesBipartite(nq, n, targetOccupancy = 4)
    annTables = Similarity.tablesForRecall(annPlanes, cosine = 0.97)
  }

  /** One round over the first part file of each table, with the full
    * corpus's LSH schedules: the same plans and kernels as a timed round,
    * compiled and warmed on an eighth of the data.
    */
  override def warmup(h: Harness): Unit = {
    val in = load(h, Some("part-00000"))
    try calls(h, in) finally Seq(in.emb, in.queries).foreach(_.unpersist())
  }

  private def call(h: Harness, name: String)(body: => DataFrame): Unit =
    h.op(name) { id =>
      val df = h.span(s"operators.$name", id)(body)
      Some((df.collect(), df.schema))
    }

  private def calls(h: Harness, in: Inputs): Unit = {
    var pairs: DataFrame = null
    // the exact set-similarity join, not Dedup.minhashPairs: the MinHash
    // kernel's double-hashed family misses planted pairs of Jaccard above
    // 0.94 on some seeds, so a run would fail its recall check by chance
    call(h, "ppjoin_pairs") {
      pairs = Dedup.ppjoinPairs(in.docs, "doc_id", "text", shingleK = 3, threshold = 0.8)
      pairs
    }
    call(h, "cc_clusters")(ConnectedComponents.clusters(pairs, "id1", "id2"))
    call(h, "knn_join")(Similarity.knnJoin(in.emb, "vec_id", "embedding", k = 10,
      numPlanes = knnPlanes, numTables = knnTables))
    call(h, "ann_join")(Similarity.annJoin(in.queries, in.emb, "vec_id", "embedding", k = 3,
      numPlanes = annPlanes, numTables = annTables, maxOccupancy = 16,
      contentSeededSplit = true))
  }

  def round(h: Harness): Unit = calls(h, full)

  def check(h: Harness, out: String): Seq[(String, String)] =
    Seq("corpus_outputs" -> Json.obj(h.writeReferences(s"$out/corpus_outputs")
      .map { case (k, v) => k -> Json.str(v) }))

  /** Each kernel alone, as a projection into the no-op sink over cached
    * inputs, so scan and decode stay out of the kernel's time.
    */
  override def probes(h: Harness): Seq[(String, Double)] = {
    import GraftFunctions._
    GraftFunctions.register(h.spark)
    val text = full.docs.persist(StorageLevel.MEMORY_AND_DISK)
    val sh = text.select(graft_shingles(graft.functions.TextFunctions.tokens(col("text")), 3)
      .as("s")).persist(StorageLevel.MEMORY_AND_DISK)
    val vec = full.emb.select(col("embedding").cast("array<double>").as("v"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    Seq(text, sh, vec).foreach(_.count())
    def noop(df: DataFrame): Double = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.sorted.apply(1)
    val r = Seq(
      "functions.shingles_s" ->
        noop(text.select(graft_shingles(graft.functions.TextFunctions.tokens(col("text")), 3))),
      "functions.minhash_s" -> noop(sh.select(graft_minhash(col("s"), 64))),
      "functions.hyperplane_sig_s" ->
        noop(vec.select(graft_hyperplanes(col("v"), knnPlanes, knnTables))),
      "functions.cosine_s" -> noop(vec.select(graft_cosine(col("v"), col("v")))))
    Seq(text, sh, vec).foreach(_.unpersist())
    r
  }
}

/** Time-sorted event shards arriving one at a time into three stateful
  * stream queries (hourly windowed counts, sessionization, watermarked
  * dedup) on the RocksDB state store. One operation = one shard's arrival
  * until all three queries have processed it.
  */
final class StreamState extends Workload {
  private val gapMinutes = 30
  private val warmupShards = 4
  private var shards: Seq[Path] = Nil

  override def prepare(h: Harness): Unit =
    shards = Files.list(Paths.get(h.data, "shards")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)

  private final class Sink {
    val rows = new ConcurrentLinkedQueue[Row]()
    val schema = new AtomicReference[StructType]()
    val fn: (DataFrame, Long) => Unit = (df, _) => {
      schema.set(df.schema)
      df.collect().foreach(rows.add)
    }
  }

  def round(h: Harness): Unit = {
    val spark = h.spark
    import spark.implicits._
    val dir = Paths.get(h.work, "stream", s"round-${h.round}")
    val src = dir.resolve("src")
    Files.createDirectories(src)
    val sinks = Seq("counts", "sessions", "dedup").map(_ -> new Sink).toMap
    // one state-store partition per operator: at this input size the
    // per-trigger cost is commit-bound, and each extra partition adds a
    // RocksDB commit to every micro-batch of every query
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    val started: Seq[StreamingQuery] = try StateBackend.withProvider(spark, StateBackend.RocksDb) {
      val ev = EventStreams.readEventStream(spark, src.toString)
      val outs = Seq(
        "counts" -> EventStreams.hourlyCounts(ev),
        "sessions" -> EventStreams.sessionize(
          ev.select("user_id", "ts", "event_type", "value").as[EventStreams.Event],
          gapMinutes, emitOpen = false).toDF(),
        "dedup" -> EventStreams.dedupStream(ev).select("event_id"))
      outs.map { case (k, df) =>
        df.writeStream.foreachBatch(sinks(k).fn)
          .option("checkpointLocation", dir.resolve(s"ckpt-$k").toString)
          .queryName(s"perfbench_${k}_${h.round}")
          .start()
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", partitions)
    val feed = if (h.kind == "warmup") shards.take(warmupShards) else shards
    val first = h.ops.size
    try feed.foreach { f =>
      h.op("micro_batch") { _ =>
        // the file source skips dot-files, so the rename is the arrival
        val tmp = src.resolve("." + f.getFileName)
        Files.copy(f, tmp)
        Files.move(tmp, src.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
        started.foreach(_.processAllAvailable())
        None
      }
    } finally started.foreach(_.stop())
    val owners = h.ops.drop(first).toSeq
    sinks.foreach { case (k, s) =>
      h.output(s"stream_$k", s.rows.asScala.toArray, s.schema.get, owners)
    }
    deleteTree(dir)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(x => Files.deleteIfExists(x))

  /** Each stream output must equal its batch twin over the same input,
    * restricted to what the final watermark has let the stream emit.
    */
  def check(h: Harness, out: String): Seq[(String, String)] = {
    val spark = h.spark
    import spark.implicits._
    val ev = EventStreams.normalize(spark.read.parquet(Paths.get(h.data, "shards").toString))
    val maxMs = ev.agg(max(unix_millis(col("ts")))).first().getLong(0)
    val hourMs = 3600L * 1000
    val gapMs = gapMinutes * 60L * 1000
    // windows close when the watermark (max event time - 1 h) reaches their end
    val counts = EventStreams.hourlyCountsBatch(ev).where(
      unix_millis(to_timestamp(col("hour"), "yyyy-MM-dd HH:mm")) + 2 * hourMs <= maxMs)
    // a user's last session closes by timeout once the watermark (max event
    // time - gap) passes its end + gap; earlier ones close on the next event
    val sessions = EventStreams.sessionizeBatchMs(
      ev.select("user_id", "ts", "event_type", "value").as[EventStreams.Event], gapMs).toDF()
      .withColumn("__last", max("session_end").over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")) === col("session_end"))
      .where(!col("__last") || unix_millis(col("session_end")) + 2 * gapMs < maxMs)
      .drop("__last")
    val dedup = ev.select("event_id").distinct()
    val twins = Seq("stream_counts" -> counts, "stream_sessions" -> sessions,
      "stream_dedup" -> dedup)
    val verdicts = twins.map { case (k, twin) =>
      val want = h.digest(twin.collect())
      val got = h.reference(k).map(r => h.digest(r._1)).getOrElse("missing")
      if (want != got) h.ops.filter(o => o.kind != "warmup" && o.ok).foreach { o =>
        o.ok = false
        o.note = s"$k differs from its batch twin"
      }
      k -> Json.str(if (want == got) "ok" else s"mismatch: stream $got batch $want")
    }
    verdicts
  }
}
