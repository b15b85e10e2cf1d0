package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The ordered-source protocol the file-source stream queries rely on:
  * the streaming file source ingests files in modification-time order, so
  * a generation written later must never be ingested before an earlier
  * one, and a range-sharded generation must be ingested in range order.
  */
class OrderedSourceSpec extends SparkSpec {

  import PipelineQueries.OrderedSource

  private def partFiles(path: String): Seq[java.io.File] =
    new java.io.File(path).listFiles().toSeq
      .filter(f => f.isFile && f.getName.startsWith("part-"))

  private def rows(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).select(col("id"),
      timestamp_seconds(col("id") * 60).as("ts"))

  test("each file is stamped after every earlier generation's and the file before it") {
    Tmp.scoped("graft-ordtest") { tmp =>
      val src = new OrderedSource(tmp.resolve("src").toString)
      val gens = Seq(
        () => src.writeRanged(rows(0, 300), 300),
        () => src.write(rows(300, 400).repartition(3)),
        () => src.write(rows(400, 401).coalesce(1)))
      var seen = Set.empty[String]
      val byGen = gens.map { g =>
        val n = g()
        val fresh = partFiles(src.path).filterNot(f => seen(f.getName))
          .sortBy(_.getName)
        seen ++= fresh.map(_.getName)
        assert(fresh.size === n, "write must return the generation's file count")
        fresh.map(f => java.nio.file.Files.getLastModifiedTime(f.toPath).toMillis)
      }
      assert(byGen.map(_.size) === Seq(2, 3, 1))
      // at least 1 s apart in (generation, name) order: ordered even on a
      // filesystem with one-second mtime granularity, and a range-sharded
      // generation is ingested in range order
      val order = byGen.flatten
      order.zip(order.tail).foreach { case (a, b) =>
        assert(b - a >= 1000L, s"mtimes out of protocol order: $order")
      }
    }
  }

  test("maxFilesPerTrigger=1 sees only generation 0's rows in its first batch") {
    Tmp.scoped("graft-ordtest") { tmp =>
      val src = new OrderedSource(tmp.resolve("src").toString)
      // generation 1 holds the EARLIER event times, so a stream that ran
      // ahead of the protocol would show them in batch 0
      src.write(rows(500, 600).coalesce(1))
      src.write(rows(0, 500).repartition(4))
      val batches = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long)]()
      val q = src.stream(spark, rows(0, 1).schema, 1).writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          val r = b.agg(min("id"), max("id")).first()
          batches.put(id, (r.getLong(0), r.getLong(1)))
          ()
        }
        .option("checkpointLocation", tmp.resolve("ckpt").toString).start()
      try q.processAllAvailable() finally q.stop()
      assert(batches.size === 5)
      assert(batches.get(0L) === ((500L, 599L)),
        s"first batch must be generation 0 exactly: ${batches.get(0L)}")
    }
  }
}
