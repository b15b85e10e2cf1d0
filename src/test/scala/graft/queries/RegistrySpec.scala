package graft.queries

import graft.SparkSpec

/** Driver-contract registry invariants. The concrete failure this guards
  * against happened in round 8: a second Q("x_bucketed_join") added in a
  * different file silently SHADOWED the original (SparkEntry.queries is a
  * Map built last-wins), so the board showed one fewer query than the
  * source defined and an existing query's implementation was replaced
  * without any test noticing.
  */
class RegistrySpec extends SparkSpec {

  private def registries: Seq[(String, Seq[Q])] = Seq(
    "CoreQueries" -> CoreQueries.all,
    "RelationalQueries" -> RelationalQueries.all,
    "ApproxQueries" -> ApproxQueries.all,
    "PipelineQueries" -> PipelineQueries.all,
    "CorpusQueries" -> CorpusQueries.all)

  test("query names are globally unique (no cross-file shadowing)") {
    val names = registries.flatMap { case (file, qs) => qs.map(q => q.name -> file) }
    val dups = names.groupBy(_._1).filter(_._2.size > 1)
    assert(dups.isEmpty,
      s"duplicate query names (last silently wins in SparkEntry.queries): " +
        dups.map { case (n, fs) => s"$n in ${fs.map(_._2).mkString("+")}" }.mkString(", "))
    assert(graft.SparkEntry.queries.size === names.size)
  }

  test("every oracle belongs to a registered query; oracle SQL is non-empty") {
    val names = registries.flatMap(_._2).map(_.name).toSet
    val oracles = graft.SparkEntry.oracleSql
    assert(oracles.keySet.subsetOf(names))
    assert(oracles.values.forall(_.trim.nonEmpty))
  }

  test("every fixture writer is keyed by a registered query") {
    // ScaleCheck and Bench look fixture cells up by query name; a key
    // that names no query times a writer nothing runs
    val keys = PipelineQueries.streamFixtureWriters(spark, sf0001).keySet
    assert(keys.nonEmpty)
    assert(keys.subsetOf(graft.SparkEntry.queries.keySet),
      s"unregistered fixture keys: ${keys -- graft.SparkEntry.queries.keySet}")
  }
}
