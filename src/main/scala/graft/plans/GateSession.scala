package graft.plans

import org.apache.spark.sql.SparkSession

/** The one place graft's gate sessions are configured. Bench, Verify,
  * QProfile, PlanDump and ScaleCheck build on it, and so does the test
  * session, so a listener or extension added here reaches every gated
  * run and every spec. Each caller adds only its own difference
  * (ScaleCheck's shuffle codec).
  *
  * Three layers, each the one below plus one policy:
  *   - [[base]]: geometry and semantics — `local[cores]` with one shuffle
  *     partition per core, no UI, UTC, nanosecond parquet timestamps read
  *     as longs, the [[graft.functions.GraftExtensions]] plan linter, and
  *     the [[JoinBlowupListener]] / [[StreamStateGuard]] listeners.
  *   - [[builder]]: plus [[MemoryDiscipline.spillSafe]], the session
  *     memory policy. ScaleCheck stops here: its >1000x corpora hold tens
  *     of GB of live shuffle that must stay on disk.
  *   - [[gateSf]]: plus [[ShuffleDiscipline.gateLocal]], shuffle scratch on
  *     tmpfs, and the FAIR scheduler, under which [[QueryRunner]]'s workers
  *     share the cores instead of queueing behind the biggest query, for
  *     the mains that run at the gate scale factors.
  */
object GateSession {
  def base(cores: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.ui.enabled", "false")
    // Tables' NTZ -> TIMESTAMP cast for events.ts is value-identity only
    // under a UTC session
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // every gated plan runs under the scale-killer plan linter
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .config("spark.sql.queryExecutionListeners",
      "graft.plans.JoinBlowupListener")
    .config("spark.sql.streaming.streamingQueryListeners",
      "graft.plans.StreamStateGuard")

  def builder(cores: Int): SparkSession.Builder =
    MemoryDiscipline.spillSafe(base(cores), cores)

  def gateSf(cores: Int): SparkSession.Builder =
    ShuffleDiscipline.gateLocal(builder(cores))
      .config("spark.scheduler.mode", "FAIR")
}
