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
    "DedupQueries" -> DedupQueries.all,
    "VectorQueries" -> VectorQueries.all,
    "TextQueries" -> TextQueries.all,
    "MediaQueries" -> MediaQueries.all,
    "PipelineQueries" -> PipelineQueries.all,
    "SketchQueries" -> SketchQueries.all,
    "StreamQueries" -> StreamQueries.all,
    "GraphQueries" -> GraphQueries.all,
    "CorpusQueries" -> CorpusQueries.all)

  test("the registry holds exactly the pinned 233 query names") {
    // SHA-256 of the sorted names, comma-joined, taken from the suite
    // before the extension queries were split into family objects:
    // moving a query between families keeps it, dropping or renaming
    // one fails here. Every consumer reads the names through a Map
    // (SparkEntry.queries / oracleSql) or sorts them (Bench), so the
    // registry's concatenation order is not part of the contract.
    val names = registries.flatMap(_._2).map(_.name)
    assert(names.size === 233)
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(names.sorted.mkString(",").getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    assert(digest === "fdf54444e0ddc591b2f5f5bccf1204e5a4487d27ab211aec92054e8270f7c072")
  }

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
    val keys = StreamQueries.streamFixtureWriters(spark, sf0001).keySet
    assert(keys.nonEmpty)
    assert(keys.subsetOf(graft.SparkEntry.queries.keySet),
      s"unregistered fixture keys: ${keys -- graft.SparkEntry.queries.keySet}")
  }
}
