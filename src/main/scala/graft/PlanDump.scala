package graft

import java.nio.file.{Files, Paths}

/** Optimization-round instrumentation: dump `.explain("formatted")` for every
  * SparkEntry query (or a name-filtered subset) to one file per query, plus a
  * one-line-per-query plan-shape summary (exchange count, join strategies,
  * scan pushdown presence) on stdout. Building a query's DataFrame executes
  * any eager fixture/stream work in its body, so a full sweep costs about a
  * Verify pass — run it with the same session configuration as Bench so the
  * dumped plans are the plans the bench times.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val outDir = if (args.nonEmpty) args(0) else "plans/r15/sweep"
    val only: Option[Set[String]] =
      if (args.length > 1) Some(args(1).split(",").toSet) else None
    val spark = graft.plans.GateSession.gateSf(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.write(Paths.get(outDir, s"$name.txt"),
            plan.getBytes("UTF-8"))
          // "Exchange hashpartitioning/rangepartitioning/..." = shuffle;
          // BroadcastExchange counted separately
          val ex = "(?m)\\) Exchange ".r.findAllIn(plan).length
          val bex = "\\) BroadcastExchange".r.findAllIn(plan).length
          val smj = "SortMergeJoin".r.findAllIn(plan).length
          val bhj = "BroadcastHashJoin".r.findAllIn(plan).length
          val shj = "ShuffledHashJoin".r.findAllIn(plan).length
          val bnl = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
          val cart = "CartesianProduct".r.findAllIn(plan).length
          val wscg = "WholeStageCodegen".r.findAllIn(plan).length
          println(s"PLAN $name ex=$ex bex=$bex smj=$smj bhj=$bhj shj=$shj " +
            s"bnl=$bnl cart=$cart wscg=$wscg len=${plan.length}")
        } catch { case e: Throwable =>
          println(s"PLAN-ERR $name ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).take(120))
        }
      }
    spark.stop()
  }
}
