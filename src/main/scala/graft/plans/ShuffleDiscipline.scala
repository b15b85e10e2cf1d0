package graft.plans

import org.apache.spark.sql.SparkSession

/** Shuffle scratch-dir discipline (optimization round 15, guide §2.1/§7.4).
  *
  * Finding: jstack sampling of a steady-state bench run showed ~40% of busy
  * executor samples inside `BypassMergeSortShuffleWriter.write`, most parked
  * in `FileOutputStream.open0`. Every SQL exchange here runs at <=200 reduce
  * partitions (bench pins spark.sql.shuffle.partitions = cpus), under the
  * default `spark.shuffle.sort.bypassMergeThreshold`, so each map task
  * creates one file per reduce partition — thousands of tiny file CREATES
  * per exchange, all on the sandbox's virtio root disk where create/fsync
  * latency dwarfs the bytes (total live shuffle at gate SF is a few hundred
  * MB).
  *
  * Fix: point `spark.local.dir` at a tmpfs scratch dir (/dev/shm) for the
  * gate-SF mains (Bench/Verify/QProfile/PlanDump), where file metadata cost
  * disappears and the bytes trivially fit. Measured A/B on x_knn_join
  * (warm, local[32], 2 runs each): default /tmp 5.5s -> tmpfs 2.3-3.0s.
  *
  * The alternative fix — forcing the serialized-sort writer via
  * `bypassMergeThreshold=2` so each map task writes ONE file (the code path
  * a >200-partition production shuffle takes anyway) — was measured and
  * REJECTED for the gate mains: with file creation already free on tmpfs,
  * UnsafeShuffleWriter's per-row copy+sort costs more than it saves
  * (x_knn_join 2.3s -> 5.5s; its verify join-back shuffles wide
  * array<double> rows). ScaleCheck keeps Spark defaults end to end: its
  * >1000x corpora hold 16-29 GB of live shuffle that must stay on disk and
  * off the JVM's RAM, and its committed cells must remain comparable.
  *
  * NOT a result-affecting knob: shuffle scratch placement changes where
  * intermediate bytes live, never what any query computes. Overridable via
  * GRAFT_LOCAL_DIR (set it to a disk path to reproduce the slow-disk
  * baseline); falls back to Spark's default when no tmpfs is writable.
  */
object ShuffleDiscipline {

  /** Gate-SF live shuffle tops out at a few hundred MB; demand an order
    * of magnitude more before trusting a tmpfs with it — a box with a
    * container-default small /dev/shm (64 MB is common) must fall back
    * to Spark's default local dir rather than ENOSPC mid-bench.
    */
  private val MinTmpfsFreeBytes: Long = 8L << 30

  /** tmpfs bytes are RAM bytes: /dev/shm's usable space measures the
    * mount's CAPACITY, not whether the box can actually afford to back it
    * (r15 advice, medium) — a box with a big /dev/shm but little available
    * memory would turn shuffle+spill into RAM pressure and an OOM kill
    * mid-run. Require MemAvailable (the kernel's own "allocatable without
    * swapping" estimate, which already accounts for reclaimable page
    * cache) to also clear the same 8 GiB bar. Unreadable /proc/meminfo
    * (non-Linux) fails CLOSED — no tmpfs without evidence of headroom.
    */
  private[plans] def memAvailableBytes(
      meminfo: java.nio.file.Path =
        java.nio.file.Paths.get("/proc/meminfo")): Option[Long] =
    try {
      val re = """MemAvailable:\s+(\d+)\s*kB""".r
      scala.io.Source.fromFile(meminfo.toFile).getLines()
        .collectFirst { case re(kb) => kb.toLong * 1024L }
    } catch { case _: Throwable => None }

  /** Sweep tmpfs residue from CRASHED prior runs (r15 advice): a SIGKILL
    * skips the shutdown hook, leaving RAM-backed graft-blockmgr* dirs
    * behind. Age-gated at 2 h — gate-SF mains finish in minutes, so
    * anything older is residue, while a concurrently RUNNING main's dir
    * is always younger. Own-process dirs are created after this sweep.
    */
  private def sweepStale(shm: java.nio.file.Path): Unit =
    try {
      val cutoff = System.currentTimeMillis() - 2L * 3600 * 1000
      val ds = java.nio.file.Files.newDirectoryStream(shm, "graft-blockmgr*")
      try ds.forEach { d =>
        try if (java.nio.file.Files.getLastModifiedTime(d).toMillis < cutoff) {
          java.nio.file.Files.walk(d)
            .sorted(java.util.Comparator.reverseOrder())
            .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
        } catch { case _: Throwable => () }
      } finally ds.close()
    } catch { case _: Throwable => () }

  /** Gate-SF shuffle scratch on tmpfs. Env override GRAFT_LOCAL_DIR wins;
    * otherwise /dev/shm when writable with >=8 GiB usable AND >=8 GiB of
    * actually-available RAM; otherwise leave Spark's default. The dir is
    * per-process and swept on exit; stale dirs from crashed runs are
    * swept at startup.
    */
  def gateLocal(builder: SparkSession.Builder): SparkSession.Builder =
    sys.env.get("GRAFT_LOCAL_DIR").orElse {
      val shm = java.nio.file.Paths.get("/dev/shm")
      if (java.nio.file.Files.isDirectory(shm) &&
          java.nio.file.Files.isWritable(shm) &&
          shm.toFile.getUsableSpace >= MinTmpfsFreeBytes &&
          memAvailableBytes().exists(_ >= MinTmpfsFreeBytes)) {
        sweepStale(shm)
        val d = java.nio.file.Files.createTempDirectory(shm, "graft-blockmgr")
        // blockmgr subdirs are cleaned by Spark's shutdown hook; this sweeps
        // the parent so repeated runs don't accumulate empty dirs on tmpfs
        Runtime.getRuntime.addShutdownHook(new Thread(() =>
          try {
            java.nio.file.Files.walk(d)
              .sorted(java.util.Comparator.reverseOrder())
              .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
          } catch { case _: Throwable => () }))
        Some(d.toString)
      } else None
    }.map(d => builder.config("spark.local.dir", d)).getOrElse(builder)
}
