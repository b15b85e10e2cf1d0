package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-checkable query: a Spark implementation plus (optionally) an
  * equivalent ANSI SQL text the driver runs in DuckDB over the same parquet
  * tables. Column names/aliases MUST match between the two — the driver
  * sorts columns by name before hashing values.
  *
  * Queries with `oracle = None` get a weaker rows-only check (used for
  * seeded-randomness ops and ops whose semantics aren't SQL-expressible).
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def apply(name: String, sql: String)(run: (SparkSession, String) => DataFrame): Q =
    Q(name, run, Some(sql))
}

/** Self-GATING attestation for rows-only queries. A rows-only entry only
  * shows the driver `spark_rows`, so an in-row recall/count check alone
  * can't turn the scoreboard red — a broken kernel would still emit a
  * green-looking stats row. `Gate` closes that: it materializes the (tiny)
  * stats frame, evaluates the attestation predicate on every row, and
  * THROWS on any violation. Verify catches per-query throwables and skips
  * the parquet dump, so a failed attestation surfaces as `err` in
  * CORRECTNESS instead of a silent pass.
  */
object Gate {
  import org.apache.spark.sql.{Column, Row}
  import org.apache.spark.sql.functions.{coalesce, lit}

  /** Evaluate `ok` on every row of `df`; throw if any row fails (or the
    * frame is empty — an empty attestation attests nothing). Returns the
    * already-materialized rows as a local DataFrame so callers don't pay
    * for the computation twice.
    */
  def apply(df: DataFrame, ok: Column, what: String): DataFrame = {
    val rows = df.withColumn("__gate_ok", coalesce(ok, lit(false))).collect()
    if (rows.isEmpty)
      throw new IllegalStateException(s"self-attestation failed [$what]: empty result")
    val bad = rows.filter(r => !r.getBoolean(r.fieldIndex("__gate_ok")))
    if (bad.nonEmpty)
      throw new IllegalStateException(
        s"self-attestation failed [$what]: ${bad.take(3).mkString("; ")}")
    val trimmed = rows.map(r => Row.fromSeq(r.toSeq.dropRight(1)))
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(trimmed: _*), df.schema)
  }

  /** Driver-side gate for queries that already hold their attested values
    * as plain Scala — same failure contract as `apply`.
    */
  def check(cond: Boolean, what: => String): Unit =
    if (!cond) throw new IllegalStateException(s"self-attestation failed: $what")

  /** Evaluate each `(holds, what)` condition once and throw, as `check`
    * does, naming every one that fails. Returns the query's `n_violations`
    * value: the failed-condition count, so 0 whenever it returns.
    */
  def violations(conds: (Boolean, String)*): Long = {
    val failed = conds.collect { case (false, what) => what }
    if (failed.nonEmpty)
      throw new IllegalStateException(s"self-attestation failed: ${failed.mkString("; ")}")
    failed.size.toLong
  }

  /** The planted-recall condition: at least `need` of `of` planted items found. */
  def planted(found: Long, need: Long, of: Long, what: String): (Boolean, String) =
    (found >= need) -> s"$what: $found/$of planted, need >= $need"
}

/** Temp dirs for query-local write fixtures and streaming checkpoints.
  * Prefers the RAM-backed /dev/shm when present: these dirs hold tiny,
  * deliberately transient data, but streaming commit/offset logs fsync
  * once per micro-batch and dynamic-partition appends open a parquet
  * writer per directory — on a disk-backed /tmp that metadata I/O
  * dominates the queries' own work. Falls back to the JVM default
  * temp dir when no tmpfs is available.
  */
object Tmp {
  // Roundtrip queries (a12/s4/s6/s8) return frames that lazily READ the
  // dir they wrote, so they can't delete it inline — sweep every dir this
  // JVM created on exit instead. tmpfs is RAM: a leak there would persist
  // until reboot, not until a disk cleanup. Bounded: one entry per
  // fixture-writing query per session.
  private val created = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      created.forEach { p =>
        try delete(p) catch { case _: Exception => () }
      }))
  }

  private def delete(root: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, Path}
    if (Files.exists(root)) {
      Files.walk(root).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
    }
  }

  def dir(prefix: String): java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val p =
      if (java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm))
        java.nio.file.Files.createTempDirectory(shm, prefix)
      else java.nio.file.Files.createTempDirectory(prefix)
    created.add(p)
    p
  }

  /** Run `body` in a fresh temp dir and delete the dir when it returns.
    * Bench and verify sweeps re-run the fixture-writing queries every
    * round, and their sources, checkpoints and state tables would
    * otherwise pile up in tmpfs. A query's result must not read the dir
    * lazily: detach it first (localCheckpoint, or collected rows).
    */
  def scoped[T](prefix: String)(body: java.nio.file.Path => T): T = {
    val p = dir(prefix)
    try body(p) finally delete(p)
  }
}
