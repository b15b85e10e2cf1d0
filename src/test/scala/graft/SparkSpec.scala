package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one per JVM — Test/fork gives one
  * JVM for the whole test run).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf0001 = "/root/testdata/sf0.001"
  lazy val sf001 = "/root/testdata/sf0.01"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // every spec runs under the scale-killer plan linter (plans.PlanGuard)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.queryExecutionListeners",
        "graft.plans.JoinBlowupListener")
      .config("spark.sql.streaming.streamingQueryListeners",
        "graft.plans.StreamStateGuard")
      // the production codegen cache policy, without the rest of
      // MemoryDiscipline.spillSafe: the spill pair depends on heap-per-core
      // and would change what the spill specs exercise
      .config(graft.plans.MemoryDiscipline.CodegenCachePolicy)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
