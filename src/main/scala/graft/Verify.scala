package graft
import graft.plans.{GateSession, QueryRunner}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare. The queries run
  * concurrently on [[graft.plans.QueryRunner]], the worker pool Bench
  * times, so the layout Bench measures is the layout whose results are
  * checked. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query names] — the optional
    // filter is for local iteration only; the driver passes two args.
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GateSession.gateSf(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val queries = SparkEntry.queries
    val names = queries.keys.filter(n => only.forall(_.contains(n))).toSeq
    new QueryRunner(spark, QueryRunner.workers(cpus))
      .run(QueryRunner.queueOrder(names, QueryRunner.pastTimes())) { (s, name) =>
        queries(name)(s, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }.toSeq.sortBy(_._1).foreach { case (name, r) =>
        r.left.foreach(e => System.err.println(s"[verify] $name failed: ${e.getMessage}"))
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
