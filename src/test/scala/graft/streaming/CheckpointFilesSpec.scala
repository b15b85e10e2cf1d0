package graft.streaming

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import scala.jdk.CollectionConverters._

/** The checkpoint file policy (StateBackend.CheckpointFilePolicy) is what
  * sessions resolve, both the spec session and a session built by
  * MemoryDiscipline.spillSafe, and a stateful RocksDB stream stopped and
  * restarted on one checkpoint under it still answers exactly once, with
  * the state store's checksum files in place.
  */
class CheckpointFilesSpec extends SparkSpec {

  import spark.implicits._

  private def managerOf(s: SparkSession): Class[_] = {
    val dir = java.nio.file.Files.createTempDirectory("ckptmgr")
    CheckpointFileManager.create(new Path(dir.toString),
      s.sessionState.newHadoopConf()).getClass
  }

  test("the spec session and a spillSafe-built session resolve the FileSystem-based manager") {
    val shared = managerOf(spark)
    // a second session on the running context, with the spillSafe
    // settings applied to it; the shared session stays the default
    val built = try
      graft.plans.MemoryDiscipline.spillSafe(SparkSession.builder(), 4).create()
    finally {
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
    assert(Seq(shared, managerOf(built)) ==
      Seq.fill(2)(classOf[FileSystemBasedCheckpointFileManager]))
  }

  test("a RocksDB dedup stream restarted on one checkpoint equals its batch twin") {
    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00").getTime
    def events(ids: Range) = ids.map(i =>
      (i.toLong, new java.sql.Timestamp(base + i * 60000L), s"t${i % 3}"))
      .toDF("event_id", "ts", "event_type")
    // phase B repeats every phase-A id with its original time, inside the
    // watermark: only the state reloaded from the checkpoint drops them
    val phaseA = events(0 until 60)
    val phaseB = events(60 until 120).union(phaseA)
    val tmp = java.nio.file.Files.createTempDirectory("ckptrestart")
    val src = tmp.resolve("src").toString
    val ckpt = tmp.resolve("ckpt")

    // foreachBatch keeps every batch's output as delivered, so a batch
    // replayed after the restart would show up twice
    def run(phase: DataFrame): Seq[(Long, String)] = {
      phase.repartition(2).write.mode("append").parquet(src)
      val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
      StateBackend.withProvider(spark, StateBackend.RocksDb) {
        val q = spark.readStream.schema(phaseA.schema)
          .option("maxFilesPerTrigger", "1").parquet(src)
          .withWatermark("ts", "4 hours")
          .dropDuplicatesWithinWatermark("event_id")
          .writeStream.outputMode("append")
          .foreachBatch { (df: DataFrame, _: Long) =>
            df.select("event_id", "event_type").collect()
              .foreach(r => out.add((r.getLong(0), r.getString(1))))
          }
          .option("checkpointLocation", ckpt.toString).start()
        try {
          q.processAllAvailable()
          assert(StateBackend.rocksDbEngaged(q), "no rocksdb metrics")
        } finally q.stop()
      }
      out.asScala.toSeq
    }

    val outA = run(phaseA)
    val outB = run(phaseB)
    val want = phaseB.dropDuplicates("event_id").select("event_id", "event_type")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(outA.size == 60 && outB.size == 60,
      s"phase A emitted ${outA.size} rows, phase B ${outB.size}")
    assert((outA ++ outB).sorted == want, "restarted stream diverged from its batch twin")

    val changelogCrcs = java.nio.file.Files.walk(ckpt.resolve("state")).iterator()
      .asScala.count(_.getFileName.toString.endsWith(".changelog.crc"))
    assert(changelogCrcs > 0, s"no *.changelog.crc files under $ckpt/state")
  }
}
