package graft.plans

import org.apache.spark.sql.SparkSession

/** The session memory policy every benchmarked and gated session shares:
  * heap-proportional spill-safety knobs, plus a generated-class cache that
  * holds the program's plan working set ([[CodegenCachePolicy]]),
  * Tungsten pages sized to the program's small tasks ([[pageBytes]]), and
  * local files written without Hadoop's forked shells. Without the
  * native-hadoop library, Hadoop's local filesystem forks a `chmod` shell
  * for every file it creates and every directory it makes.
  * [[LocalFs.Policy]] makes the `file:` filesystem set modes in the JVM;
  * it covers every FileSystem-API caller, including the checkpoint files
  * of streaming queries. Those go through the FileSystem API only because
  * [[graft.streaming.StateBackend.CheckpointFilePolicy]] selects Spark's
  * FileSystem-based checkpoint file manager: Spark's default manager uses
  * FileContext, whose local filesystem builds its own stock
  * `RawLocalFileSystem` and so still forks about 20 shells per file.
  *
  * Spill safety is the fix for a JVM-death mode a memory-pressure stress
  * run reproduced deterministically (NOTES round 12):
  * when a hash aggregate spills and then merges its spill files, every
  * open [[org.apache.spark.util.collection.unsafe.sort.UnsafeSorterSpillReader]]
  * allocates read-ahead buffers of
  * `spark.unsafe.sorter.spill.reader.buffer.size` (1 MiB default, doubled
  * by ReadAheadInputStream) OUTSIDE the memory manager's accounting. At a
  * healthy heap-per-core ratio that's noise; at a small one (observed: 3g
  * heap / 32 cores on x_embed_dedup's banding aggregate, and 8g / 32 on
  * x_knn_join's 1000x verify merge) the buffers are G1 humongous
  * allocations churning on a nearly-full heap, and the task dies with
  * OutOfMemoryError at `ReadAheadInputStream.<init>` instead of degrading
  * to disk — the exact failure the spill contract exists to prevent.
  *
  * The discipline: below [[SafeBytesPerCore]] of heap per task slot, turn
  * read-ahead off — the reader falls back to ONE plain buffered stream of
  * `spark.unsafe.sorter.spill.reader.buffer.size` (whose floor Spark pins
  * at 1 MiB, so the buffer itself can't shrink further), halving the
  * per-reader footprint and killing the dedicated read-ahead threads'
  * churn. Above it, leave Spark's defaults — read-ahead is a real win
  * when spill merges are disk-bound and heap is plentiful. On a
  * production cluster the same rule applies per executor
  * (executor-memory / executor-cores); 512 MiB/core is the boundary the
  * two observed failures bracket (96 MiB/core died, 2 GiB/core never has;
  * 256 MiB/core died once at 1000x).
  *
  * The WRITE-side twin (found by the same stress at 1200m/32 = 37
  * MiB/core on x_video_dedup's signature aggregate): every
  * [[org.apache.spark.util.collection.unsafe.sort.UnsafeSorterSpillWriter]]
  * allocates a `spark.shuffle.spill.diskWriteBufferSize` byte array (1
  * MiB default) at construction — i.e. AT THE MOMENT the memory manager
  * decided the heap was full and asked the aggregate to spill. 32 tasks
  * spilling together ask for 32 unaccounted 1 MiB G1-humongous buffers
  * on a heap that by definition has none to give, and the task dies at
  * `UnsafeSorterSpillWriter.<init>` instead of degrading (observed with
  * GCLocker retry storms). Under the same boundary the buffer shrinks to
  * 128 KiB — not humongous, 1/8 the footprint, and spill write
  * throughput is not the bottleneck on a heap this tight.
  */
object MemoryDiscipline {
  private[graft] val SafeBytesPerCore: Long = 512L * 1024 * 1024

  /** Heap-per-core this JVM actually has, given `cores` task slots. */
  private[graft] def bytesPerCore(cores: Int): Long =
    Runtime.getRuntime.maxMemory() / math.max(cores, 1)

  /** Entries in Spark's JVM-wide generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`). Spark's default of 100 is far
    * below this program's plan working set, so every repeated plan paid
    * Janino compilation and a fresh JIT warm-up again. Measured as the
    * `CodegenMetrics.METRIC_COMPILATION_TIME.getCount` delta over one
    * Bench warm-up pass at sf0.1 (local[4], 8g heap, 233 queries, under
    * [[CodegenCachePolicy]] so nothing is evicted): 3209 distinct classes.
    * 8192 is the smallest power of two with at least 2x headroom over it.
    *
    * Spark reads the size once, when the JVM first generates code, so it
    * only takes effect on a session built before any plan has run.
    */
  private[graft] val CodegenCacheEntries: Int = 8192

  /** Spark settings that let one JVM compile each plan once, whatever the
    * heap: the cache size above, and one executor-side classloader for all
    * sessions. The cache is keyed by (context classloader, source), and
    * Spark 4's per-session artifact isolation gives every session its own
    * executor classloader — each Bench worker session and each streaming
    * query's cloned session — so tasks compiled the same plan again in
    * every session. The program adds no session artifacts (jars, files),
    * so isolation has nothing to isolate here.
    */
  private[graft] val CodegenCachePolicy: Map[String, String] = Map(
    "spark.sql.codegen.cache.maxEntries" -> CodegenCacheEntries.toString,
    "spark.sql.artifact.isolation.enabled" -> "false")

  /** Tungsten page size (`spark.buffer.pageSize`) for a heap of
    * `heapBytes`: 1 MiB, unless one task could then not address the whole
    * heap through TaskMemoryManager's 8192-entry page table; then the
    * smallest power of two that can.
    *
    * Spark's default divides the heap by cores and a safety factor of 16
    * (16 MiB at 3g and 4 cores, its 64 MiB cap from about 8g), and every
    * hash aggregate, sorter and hashed relation takes at least one whole
    * page per task, zeroed, however few rows its partition holds. The
    * program's operator calls run many small tasks, so those pages were
    * mostly empty; they were live at young collections, got tenured, and
    * stayed in the old generation until a full GC. Each repeated call
    * raised the resident peak: on the benchmark's corpus_dedup workload
    * (3g heap, local[4]) a second round added about 400 MB to it. With
    * 1 MiB pages, and ppjoinPairs' checkpoints on disk, it adds 110-220 MB.
    */
  private[graft] def pageBytes(heapBytes: Long): Long = {
    val need = math.max(1L << 20, (heapBytes + 8191) / 8192)
    java.lang.Long.highestOneBit(need - 1) << 1
  }

  private val SpillSafetyPair =
    Map("spark.unsafe.sorter.spill.read.ahead.enabled" -> "false",
      "spark.shuffle.spill.diskWriteBufferSize" -> (128 * 1024).toString)

  /** The knobs a given core count earns on this JVM: empty at a healthy
    * heap-per-core ratio, the spill-safety pair under [[SafeBytesPerCore]].
    */
  private[graft] def knobs(cores: Int): Map[String, String] =
    if (bytesPerCore(cores) < SafeBytesPerCore) SpillSafetyPair
    else Map.empty

  /** Apply the session memory policy to `builder`: always the
    * [[CodegenCachePolicy]], the checkpoint file policy, the local
    * filesystem ([[LocalFs.Policy]]) and this JVM's [[pageBytes]]; the
    * spill-safety knobs too when its heap-per-core sits
    * under the safe boundary. Call with the same core count passed to
    * `local[n]`.
    */
  def spillSafe(builder: SparkSession.Builder,
      cores: Int): SparkSession.Builder = {
    val pages = Map("spark.buffer.pageSize" ->
      pageBytes(Runtime.getRuntime.maxMemory()).toString)
    (CodegenCachePolicy ++ graft.streaming.StateBackend.CheckpointFilePolicy ++
        LocalFs.Policy ++ pages ++ knobs(cores)).foldLeft(builder) {
      case (b, (k, v)) => b.config(k, v)
    }
  }
}
