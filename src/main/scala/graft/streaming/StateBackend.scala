package graft.streaming

import org.apache.spark.sql.SparkSession

/** Streaming state-store backend selection (SURVEY §2.9 extension surface —
  * the reference has no streaming; this is the knob a real deployment turns
  * when stateful-query state outgrows executor heap).
  *
  * The default HDFSBackedStateStoreProvider keeps EVERY store's loaded
  * version as an on-heap map — state capacity is bounded by executor heap,
  * and a keyed-dedup or large-join state in the tens of millions of rows
  * per partition OOMs the executor (measured: see STRESSCHECK's
  * x_stream_dedup_rocksdb hdfs counterfactual cell). RocksDB keeps state
  * in native memory + local disk with an SST/changelog file lifecycle, so
  * state capacity is bounded by DISK — the 100 TB-scale answer. Changelog
  * checkpointing is enabled with it: per-batch uploads ship only the
  * delta (the changelog), snapshots upload asynchronously in maintenance,
  * so commit latency is O(batch delta) instead of O(total state).
  *
  * Checkpoint files: every micro-batch writes four small files (source
  * log, offset WAL, state changelog, commit log). Spark's default
  * checkpoint file manager writes them through Hadoop's FileContext, and
  * without the native-hadoop library Hadoop's local filesystem forks a
  * shell for each `chmod`/`stat`, about 20 processes and 45-50 ms per
  * file. [[CheckpointFilePolicy]] selects Spark's FileSystem-based manager
  * instead, which writes through the session's `file:` FileSystem. That
  * filesystem is [[graft.plans.PosixLocalFileSystem]] ([[graft.plans.LocalFs.Policy]]),
  * which sets modes in the JVM, so a checkpoint file forks no shell. The
  * policy stays even so: FileContext's local filesystem builds its own
  * stock `RawLocalFileSystem`, which the `fs.file.impl` setting does not
  * reach, and replacing it would take a second delegate class plus a
  * replacement for its `stat` calls. Both policies are part of the
  * session memory policy, [[graft.plans.MemoryDiscipline.spillSafe]].
  */
object StateBackend {

  val RocksDb: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Spark's default — package-private class, so the NAME is pinned here
    * rather than referenced; used by the stress counterfactual only.
    */
  val HeapBacked: String =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"

  /** Spark settings that write checkpoint files through Hadoop's
    * FileSystem API (`FileSystemBasedCheckpointFileManager`, Spark's own)
    * rather than FileContext. It writes a temporary file and renames it
    * into place, as FileContext does, and on a JVM without native Hadoop
    * it forks no shell under [[graft.plans.LocalFs.Policy]]; the
    * checkpoint layout, including the state store's `.changelog.crc`
    * checksum files, is unchanged.
    *
    * Why it is safe here:
    *   - Every checkpoint this program writes is a local directory, and a
    *     rename within one local directory is an atomic rename(2).
    *   - One property is weaker: FileContext renames atomically without
    *     overwriting, while this manager checks that the target is absent
    *     and then renames. The difference only shows when two live
    *     instances write one checkpoint. The program never runs two: the
    *     restart queries stop their first instance before starting the
    *     second, and Spark lets only one run of a query (one checkpoint)
    *     be active per JVM.
    */
  private[graft] val CheckpointFilePolicy: Map[String, String] = Map(
    "spark.sql.streaming.checkpointFileManagerClass" ->
      "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val ChangelogKey =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  /** Run `body` with the given state-store provider (plus changelog
    * checkpointing when RocksDB); restores the session's previous settings
    * after. The provider conf is read at STREAM START, so scoping the
    * `.start()` call inside `body` is sufficient — and a restarted query
    * must use the SAME provider its checkpoint was created under (the
    * state format is provider-specific).
    */
  def withProvider[T](s: SparkSession, provider: String)(body: => T): T = {
    val prevP = s.conf.getOption(ProviderKey)
    val prevC = s.conf.getOption(ChangelogKey)
    s.conf.set(ProviderKey, provider)
    s.conf.set(ChangelogKey, (provider == RocksDb).toString)
    try body
    finally {
      def restore(key: String, prev: Option[String]): Unit = prev match {
        case Some(v) => s.conf.set(key, v)
        case None => s.conf.unset(key)
      }
      restore(ProviderKey, prevP)
      restore(ChangelogKey, prevC)
    }
  }

  /** True when the query's latest progress reports RocksDB-specific state
    * custom metrics — the engagement attestation (a silently-ignored conf
    * would leave the heap provider running and the gate red).
    */
  def rocksDbEngaged(q: org.apache.spark.sql.streaming.StreamingQuery): Boolean = {
    val prog = q.lastProgress
    prog != null && prog.stateOperators.nonEmpty && {
      val it = prog.stateOperators(0).customMetrics.keySet().iterator()
      var found = false
      while (it.hasNext && !found) found = it.next().startsWith("rocksdb")
      found
    }
  }
}
