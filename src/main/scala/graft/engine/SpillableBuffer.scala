package graft.engine

import java.io.{BufferedInputStream, BufferedOutputStream, File, FileInputStream,
  FileOutputStream, ObjectInputStream, ObjectOutputStream}

/** A re-iterable, append-once buffer that holds up to `maxInMemory` elements
  * on heap and spills the remainder to a local temp file (Java
  * serialization). The miniature analogue of Spark's
  * ExternalAppendOnlyUnsafeRowArray, for typed cogroup callbacks where the
  * values aren't UnsafeRows: a hot key's group no longer has to fit in
  * executor memory — task memory is bounded by `maxInMemory` elements, and
  * re-iteration (once per probe row in a nested-loop join) replays the heap
  * prefix then streams the spill file sequentially, so total spill I/O is
  * proportional to the join output, which a hot-key cross product already
  * pays by definition.
  *
  * Usage contract: append everything, then `seal()`, then any number of
  * `iterator` calls; `close()` deletes the spill file (register it on the
  * task-completion listener — consumers may stop mid-iteration).
  */
final class SpillableBuffer[T](maxInMemory: Int) {
  private val mem = new scala.collection.mutable.ArrayBuffer[T]()
  private var file: File = _
  private var out: ObjectOutputStream = _
  private var spilledCount = 0L
  private var isSealed = false
  // readers opened by iterator that haven't drained yet — a consumer that
  // stops early (limit, take) abandons its stream; close() sweeps these so
  // the fd doesn't live until GC
  private val openReaders = new scala.collection.mutable.ArrayBuffer[ObjectInputStream]()

  def spilled: Boolean = file != null
  def size: Long = mem.length + spilledCount

  def append(t: T): Unit = {
    require(!isSealed, "append after seal()")
    if (mem.length < maxInMemory) mem += t
    else {
      if (out == null) {
        // No deleteOnExit: the JVM-global DeleteOnExitHook entry is never
        // removed even after close() deletes the file, so a long-lived
        // executor joining many hot keys would grow that list without
        // bound. close() (wired to the task-completion listener) is the
        // cleanup path.
        file = File.createTempFile("graft-spill-", ".bin")
        out = new ObjectOutputStream(new BufferedOutputStream(
          new FileOutputStream(file), 1 << 16))
      }
      try out.writeObject(t)
      catch { case e: java.io.NotSerializableException =>
        throw new IllegalArgumentException(
          s"SpillableBuffer spill requires java.io.Serializable values; " +
            s"${e.getMessage} is not — raise maxInMemory past the group size " +
            "or make the value type Serializable", e)
      }
      spilledCount += 1
      // reset the back-reference table periodically or the stream itself
      // retains every written object on heap, defeating the spill
      if (spilledCount % 1000 == 0) out.reset()
    }
  }

  def seal(): SpillableBuffer[T] = {
    if (out != null) { out.flush(); out.close(); out = null }
    isSealed = true
    this
  }

  /** Replays heap elements then the spill file. Each call re-opens the file
    * (sequential read); safe to call any number of times after seal().
    */
  def iterator: Iterator[T] = {
    require(isSealed, "iterator before seal()")
    val heapIt = mem.iterator
    if (file == null) heapIt
    else heapIt ++ new Iterator[T] {
      private val in = new ObjectInputStream(new BufferedInputStream(
        new FileInputStream(file), 1 << 16))
      openReaders += in
      private var read = 0L
      def hasNext: Boolean = {
        val h = read < spilledCount
        if (!h) { in.close(); openReaders -= in }
        h
      }
      def next(): T = { read += 1; in.readObject().asInstanceOf[T] }
    }
  }

  def close(): Unit = {
    if (out != null) { out.close(); out = null }
    openReaders.foreach(r => try r.close() catch { case _: Exception => () })
    openReaders.clear()
    if (file != null) { file.delete(); file = null }
    mem.clear()
  }
}
