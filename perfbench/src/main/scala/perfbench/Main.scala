package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** One client operation: a query, an operator call or one arrival of stream
  * input. `ok` turns false when the call throws or its output check fails.
  */
final class Op(val id: Int, val name: String, val round: Int, val kind: String,
    val start: Double, val end: Double, val rows: Int, var ok: Boolean, var note: String) {
  def json: String = Json.obj(Seq("id" -> id.toString, "name" -> Json.str(name),
    "round" -> round.toString, "kind" -> Json.str(kind), "start" -> Json.num(start),
    "end" -> Json.num(end), "rows" -> rows.toString, "ok" -> ok.toString,
    "note" -> Json.str(note)))
}

/** Runs a workload's rounds as one closed-loop client and records every
  * operation. Round kinds: "warmup" (untimed), "timed" (the end-to-end
  * window, listeners off), "reference" (as many rounds again, listeners
  * off) and "traced" (listeners on, per-layer numbers).
  */
final class Harness(val spark: SparkSession, val data: String, val work: String) {
  val ops = mutable.ArrayBuffer.empty[Op]
  val rounds = mutable.ArrayBuffer.empty[String]
  var tracer: Option[Tracer] = None
  var kind = "warmup"
  var round = 0
  private var nextId = 0
  private val refs = mutable.LinkedHashMap.empty[String, (String, Array[Row], StructType)]

  /** Time one operation. `body` gets the op id and returns the output to
    * check for round-to-round consistency, if the op has one of its own.
    */
  def op(name: String)(body: Int => Option[(Array[Row], StructType)]): Unit = {
    val id = nextId
    nextId += 1
    spark.sparkContext.setJobGroup(s"perfbench-op-$id", name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val (out, err) =
      try (body(id), "")
      catch { case e: Throwable => (None, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
    val t1 = System.nanoTime()
    spark.sparkContext.clearJobGroup()
    val o = new Op(id, name, round, kind, Clock.ms(t0), Clock.ms(t1),
      out.map(_._1.length).getOrElse(0), err.isEmpty, err)
    ops += o
    out.foreach { case (rows, schema) => output(name, rows, schema, Seq(o)) }
  }

  /** Harness-side span around a call into a layer, child of the op
    * (traced rounds only).
    */
  def span[T](name: String, opId: Int)(body: => T): T = tracer match {
    case None => body
    case Some(t) =>
      val t0 = System.nanoTime()
      try body finally t.spans.add(Span(name, Clock.ms(t0), Clock.now(), opId, "op"))
  }

  /** Order-insensitive digest of a result: sorted row renderings. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(s => md.update((s + "\n").getBytes(StandardCharsets.UTF_8)))
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  /** Compare an output with the first timed round's output under `key`;
    * a difference fails `owners`. Warm-up outputs are not compared.
    */
  def output(key: String, rows: Array[Row], schema: StructType, owners: Seq[Op]): Unit =
    if (kind != "warmup") {
      val h = digest(rows)
      refs.get(key) match {
        case None => refs(key) = (h, rows, schema)
        case Some((ref, _, _)) if ref != h => owners.foreach { o =>
          o.ok = false
          o.note = s"output of $key differs from its first timed round ($h vs $ref)"
        }
        case _ => ()
      }
    }

  def reference(key: String): Option[(Array[Row], StructType)] =
    refs.get(key).map { case (_, r, s) => (r, s) }

  /** Write every reference output as parquet for the checks run outside
    * the JVM; returns key -> directory.
    */
  def writeReferences(dir: String): Map[String, String] = refs.map { case (k, (_, rows, schema)) =>
    val path = s"$dir/$k"
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(path)
    k -> path
  }.toMap

  def runRound(w: Workload): Unit = {
    val t0 = Clock.now()
    w.round(this)
    rounds += Json.obj(Seq("round" -> round.toString, "kind" -> Json.str(kind),
      "start" -> Json.num(t0), "end" -> Json.num(Clock.now())))
    round += 1
  }
}

/** A workload: the operations of one round, and the output checks that run
  * after the timed window.
  */
trait Workload {
  /** Untimed preparation inside set-up (input counts, caches). */
  def prepare(h: Harness): Unit = ()
  /** The untimed warm-up that ends set-up: one round unless overridden. */
  def warmup(h: Harness): Unit = h.runRound(this)
  def round(h: Harness): Unit
  /** Check outputs; returns extra entries for the result file. */
  def check(h: Harness, out: String): Seq[(String, String)]
  /** Traced-run-only probes of single kernels; name -> seconds. */
  def probes(h: Harness): Seq[(String, Double)] = Nil
}

object Main {
  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(s"--$k")
    require(i >= 0 && i + 1 < args.length, s"missing --$k")
    args(i + 1)
  }

  def session(cpus: Int, work: String): SparkSession =
    // the same public calls Bench.main makes; no FAIR pools, since one
    // client thread never runs two jobs at once
    graft.plans.ShuffleDiscipline.gateLocal(
      graft.plans.MemoryDiscipline.spillSafe(SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .config("spark.sql.extensions", "graft.functions.GraftExtensions")
        .config("spark.sql.queryExecutionListeners", "graft.plans.JoinBlowupListener")
        .config("spark.sql.streaming.streamingQueryListeners",
          "graft.plans.StreamStateGuard"), cpus))
      .getOrCreate()

  private def vmHwmMb(): Double =
    try {
      val re = """VmHWM:\s+(\d+)\s*kB""".r
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .collectFirst { case re(kb) => kb.toDouble / 1024 }.getOrElse(Double.NaN)
    } catch { case _: Throwable => Double.NaN }

  private def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  private def heapCommittedMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / 1048576.0

  /** Heap the program holds live: heap in use after a full collection,
    * forced once the measured windows are over.
    */
  private def heapLiveMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val data = arg(args, "data")
    val work = arg(args, "work")
    val seconds = arg(args, "seconds").toDouble
    val traced = arg(args, "trace") == "1"
    val spawnMs = arg(args, "spawn-ms").toDouble
    val mainMs = Clock.now()
    val cpus = Runtime.getRuntime.availableProcessors()
    val w: Workload = workload match {
      case "tpch" => new Tpch
      case "corpus_dedup" => new CorpusDedup
      case "stream_state" => new StreamState
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up: session build, then the untimed warm-up
    val tSession = System.nanoTime()
    val spark = session(cpus, work)
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - tSession) / 1e9
    val h = new Harness(spark, data, work)
    val tWarm = System.nanoTime()
    w.prepare(h)
    w.warmup(h)
    val warmupS = (System.nanoTime() - tWarm) / 1e9

    // timed window: whole rounds until `seconds` have passed
    def window(kind: String, minRounds: Int): Int = {
      h.kind = kind
      val t0 = System.nanoTime()
      var n = 0
      while (n < minRounds || (System.nanoTime() - t0) / 1e9 < seconds) {
        h.runRound(w)
        n += 1
      }
      n
    }
    val timedRounds = window("timed", 1)
    val heapMb = heapCommittedMb()
    val peakRssMb = vmHwmMb()

    // traced run: as many rounds again with the listeners registered,
    // between two untraced reference windows (rounds keep getting faster
    // as the JIT warms, so one reference on each side cancels that drift
    // out of the tracing overhead)
    val traceJson = if (!traced) None else {
      window("reference", timedRounds)
      val t = new Tracer
      h.tracer = Some(t)
      spark.sparkContext.addSparkListener(t.sparkListener)
      spark.listenerManager.register(t.qeListener)
      spark.streams.addListener(t.streamListener)
      val g0 = gcMs()
      window("traced", timedRounds)
      val gcTracedMs = gcMs() - g0
      t.drain(spark.sparkContext)
      spark.streams.removeListener(t.streamListener)
      spark.listenerManager.unregister(t.qeListener)
      spark.sparkContext.removeSparkListener(t.sparkListener)
      h.tracer = None
      window("reference", timedRounds)
      val probes = w.probes(h)
      Some(Json.obj(Seq("events" -> t.json,
        "gc_ms" -> Json.num(gcTracedMs),
        "heap_live_mb" -> Json.num(heapLiveMb()),
        "probes" -> Json.obj(probes.map { case (k, v) => k -> Json.num(v) }))))
    }

    val checks = w.check(h, work)
    val conf = spark.sparkContext.getConf
    val regime = Seq(
      "master" -> Json.str(conf.get("spark.master")),
      "xmx_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "heap_committed_mb" -> Json.num(heapMb),
      "local_dir" -> Json.str(conf.get("spark.local.dir", "spark-default")),
      "jdk" -> Json.str(System.getProperty("java.version")),
      "gc" -> Json.str(ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName)
        .mkString("+")),
      "spark" -> Json.str(spark.version),
      "mem_knobs" -> Json.str(conf.getOption("spark.unsafe.sorter.spill.read.ahead.enabled")
        .map(_ => "spill-safe").getOrElse("default")))
    val result = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "regime" -> Json.obj(regime),
      "setup" -> Json.obj(Seq("spawn_ms" -> Json.num(spawnMs), "main_ms" -> Json.num(mainMs),
        "session_s" -> Json.num(sessionS), "warmup_s" -> Json.num(warmupS))),
      "cpus" -> cpus.toString,
      "peak_rss_mb" -> Json.num(peakRssMb),
      "rounds" -> Json.arr(h.rounds),
      "ops" -> Json.arr(h.ops.map(_.json)),
      "checks" -> Json.obj(checks)) ++ traceJson.map("trace" -> _))
    Files.write(Paths.get(work, "result.json"), result.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
