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
    // the gate mains' shared settings (plan linter, listeners, UTC, ...)
    // plus the production codegen cache, checkpoint file and local
    // filesystem policies, without the rest of MemoryDiscipline.spillSafe:
    // the spill pair depends on heap-per-core and would change what the
    // spill specs exercise. Hadoop caches the file: filesystem per JVM,
    // so this first session fixes its class for every later one.
    val s = graft.plans.GateSession.base(8)
      .appName("graft-test")
      .config(graft.plans.MemoryDiscipline.CodegenCachePolicy)
      .config(graft.streaming.StateBackend.CheckpointFilePolicy)
      .config(graft.plans.LocalFs.Policy)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
