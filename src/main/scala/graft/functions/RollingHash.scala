package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** FNV-1a rolling document fingerprint as a native Catalyst expression.
  *
  * Why an Expression and not a UDF: doGenCode keeps the hash inside
  * whole-stage codegen — no serialization boundary, no boxing, vectorized
  * over the scan batch — which is the difference between a fingerprint pass
  * being free vs dominating a 100 TB scan. (Reference analogue: vega
  * computes all row logic via serialized closures, SURVEY §2.9.)
  */
case class RollingHash(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"rolling_hash requires a string argument, got ${child.dataType.catalogString}")

  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash"

  private final val Offset = 1469598103934665603L
  private final val Prime = 1099511628211L

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    var h = Offset
    var i = 0
    while (i < bytes.length) {
      h = (h ^ (bytes(i) & 0xffL)) * Prime
      i += 1
    }
    h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val b = ctx.freshName("bytes")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      s"""
         |byte[] $b = $c.getBytes();
         |long $h = ${Offset}L;
         |for (int $i = 0; $i < $b.length; $i++) {
         |  $h = ($h ^ ($b[$i] & 0xffL)) * ${Prime}L;
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}

/** Session registration for graft's native functions. */
object GraftFunctions {

  private[functions] def intArg(e: Expression): Int =
    e.eval().asInstanceOf[Number].intValue()

  // weak keys: sessions must stay collectable; idempotence avoids the
  // per-query re-registration (and its registry-replace warning) that showed
  // up as measurable floor across a 98-query bench run
  private val registered = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  def register(spark: SparkSession): Unit = registered.synchronized {
    if (registered.contains(spark)) return
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction(
      "rolling_hash", exprs => RollingHash(exprs.head), "built-in")
    reg.createOrReplaceTempFunction(
      "graft_cosine", exprs => CosineSimilarity(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "graft_minhash", exprs => MinHashSignature(exprs(0), intArg(exprs(1))), "built-in")
    reg.createOrReplaceTempFunction(
      "graft_simhash", exprs => SimHash64(exprs.head), "built-in")
    reg.createOrReplaceTempFunction(
      "graft_hyperplane",
      exprs => HyperplaneSignature(exprs(0), intArg(exprs(1))), "built-in")
    reg.createOrReplaceTempFunction(
      "graft_shingles", exprs => ShingleSet(exprs(0), intArg(exprs(1))), "built-in")
    reg.createOrReplaceTempFunction(
      "graft_nearest_centroid",
      exprs => NearestCentroid(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "graft_nearest2_centroids",
      exprs => Nearest2Centroids(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "graft_nearest_centroid_l2",
      exprs => NearestCentroidL2(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "graft_hyperplanes",
      exprs => HyperplaneSignatures(exprs(0), intArg(exprs(1)), intArg(exprs(2))), "built-in")
    reg.createOrReplaceTempFunction(
      "graft_hyperplane_probes",
      exprs => HyperplaneProbes(exprs(0), intArg(exprs(1)), intArg(exprs(2)),
        intArg(exprs(3))), "built-in")
    reg.createOrReplaceTempFunction(
      "graft_topk",
      exprs => TopKByScore(exprs(0), exprs(1), intArg(exprs(2))), "built-in")
    reg.createOrReplaceTempFunction(
      "graft_project",
      exprs => RandomProjection(exprs(0), intArg(exprs(1))), "built-in")
    reg.createOrReplaceTempFunction(
      "graft_qsketch",
      exprs => QuantileSketch(exprs(0), exprs(1), exprs(2))
        .toAggregateExpression(), "built-in")
    reg.createOrReplaceTempFunction(
      "graft_qsketch_state",
      exprs => QuantileSketchState(exprs(0), exprs(1))
        .toAggregateExpression(), "built-in")
    reg.createOrReplaceTempFunction(
      "graft_qsketch_merged",
      exprs => QuantileSketchMerged(exprs(0), exprs(1), exprs(2))
        .toAggregateExpression(), "built-in")
    reg.createOrReplaceTempFunction(
      "graft_hll",
      exprs => HllBuild(exprs(0)).toAggregateExpression(), "built-in")
    reg.createOrReplaceTempFunction(
      "graft_hll_merge",
      exprs => HllMerge(exprs(0)).toAggregateExpression(), "built-in")
    reg.createOrReplaceTempFunction(
      "graft_hll_card",
      exprs => HllCardinality(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction(
      "graft_cms",
      exprs => CmsBuild(exprs(0)).toAggregateExpression(), "built-in")
    reg.createOrReplaceTempFunction(
      "graft_cms_merge",
      exprs => CmsMerge(exprs(0)).toAggregateExpression(), "built-in")
    reg.createOrReplaceTempFunction(
      "graft_cms_query",
      exprs => CmsQuery(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "graft_sorted_intersect",
      exprs => SortedLongIntersect(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "graft_mg",
      exprs => MgBuild(exprs(0),
        if (exprs.length > 1) intArg(exprs(1)) else MisraGries.K)
        .toAggregateExpression(), "built-in")
    reg.createOrReplaceTempFunction(
      "graft_mg_merge",
      exprs => MgMerge(exprs(0)).toAggregateExpression(), "built-in")
    reg.createOrReplaceTempFunction(
      "graft_mg_query",
      exprs => MgQuery(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "graft_mg_stats",
      exprs => MgStats(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction(
      "graft_kmv",
      exprs => KmvBuild(exprs(0),
        if (exprs.length > 1) intArg(exprs(1)) else KmvSketch.K)
        .toAggregateExpression(), "built-in")
    reg.createOrReplaceTempFunction(
      "graft_kmv_merge",
      exprs => KmvMerge(exprs(0)).toAggregateExpression(), "built-in")
    reg.createOrReplaceTempFunction(
      "graft_kmv_stats",
      exprs => KmvStats(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction(
      "graft_kmv_overlap",
      exprs => KmvOverlap(exprs(0), exprs(1)), "built-in")
    // Spark's own runtime-filter expressions, surfaced for EXPLICIT
    // semi-join prefilters (Catalyst injects them only under its own
    // InjectRuntimeFilter heuristics; a pipeline author building a
    // fact-table prefilter wants them on demand)
    reg.createOrReplaceTempFunction(
      "graft_bloom_agg",
      exprs => new org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(exprs(0), exprs(1), exprs(2))
        .toAggregateExpression(), "built-in")
    reg.createOrReplaceTempFunction(
      "graft_might_contain",
      exprs => org.apache.spark.sql.catalyst.expressions
        .BloomFilterMightContain(exprs(0), exprs(1)), "built-in")
    // mark registered only once every registration succeeded — a partial
    // failure (session shutting down, registry error) must stay retryable
    registered.add(spark)
  }

  /** Column wrappers (require register(spark) first in the session). */
  def rolling_hash(c: Column): Column = call_function("rolling_hash", c)
  def graft_cosine(a: Column, b: Column): Column = call_function("graft_cosine", a, b)
  def graft_minhash(s: Column, numHashes: Int): Column =
    call_function("graft_minhash", s, org.apache.spark.sql.functions.lit(numHashes))
  def graft_simhash(th: Column): Column = call_function("graft_simhash", th)
  def graft_hyperplane(v: Column, numPlanes: Int): Column =
    call_function("graft_hyperplane", v, org.apache.spark.sql.functions.lit(numPlanes))
  def graft_shingles(tokens: Column, k: Int): Column =
    call_function("graft_shingles", tokens, org.apache.spark.sql.functions.lit(k))
  def graft_nearest_centroid(v: Column, centroids: Column): Column =
    call_function("graft_nearest_centroid", v, centroids)
  def graft_nearest2_centroids(v: Column, centroids: Column): Column =
    call_function("graft_nearest2_centroids", v, centroids)
  def graft_nearest_centroid_l2(v: Column, centroids: Column): Column =
    call_function("graft_nearest_centroid_l2", v, centroids)
  def graft_hyperplane_probes(v: Column, numPlanes: Int, numTables: Int,
      nProbes: Int): Column =
    call_function("graft_hyperplane_probes", v,
      org.apache.spark.sql.functions.lit(numPlanes),
      org.apache.spark.sql.functions.lit(numTables),
      org.apache.spark.sql.functions.lit(nProbes))

  def graft_hyperplanes(v: Column, numPlanes: Int, numTables: Int): Column =
    call_function("graft_hyperplanes", v,
      org.apache.spark.sql.functions.lit(numPlanes),
      org.apache.spark.sql.functions.lit(numTables))
  def graft_topk(id: Column, score: Column, k: Int): Column =
    call_function("graft_topk", id, score, org.apache.spark.sql.functions.lit(k))
  def graft_project(v: Column, outDim: Int): Column =
    call_function("graft_project", v, org.apache.spark.sql.functions.lit(outDim))
  def graft_qsketch_state(v: Column, k: Int): Column =
    call_function("graft_qsketch_state", v,
      org.apache.spark.sql.functions.lit(k))
  def graft_qsketch_merged(state: Column, k: Int, ps: Seq[Double]): Column =
    call_function("graft_qsketch_merged", state,
      org.apache.spark.sql.functions.lit(k),
      org.apache.spark.sql.functions.array(
        ps.map(p => org.apache.spark.sql.functions.lit(p)): _*))
  def graft_hll(hash: Column): Column = call_function("graft_hll", hash)
  def graft_hll_merge(sketch: Column): Column =
    call_function("graft_hll_merge", sketch)
  def graft_hll_card(sketch: Column): Column =
    call_function("graft_hll_card", sketch)
  def graft_cms(hash: Column): Column = call_function("graft_cms", hash)
  def graft_cms_merge(sketch: Column): Column =
    call_function("graft_cms_merge", sketch)
  def graft_cms_query(sketch: Column, hash: Column): Column =
    call_function("graft_cms_query", sketch, hash)
  def graft_sorted_intersect(a: Column, b: Column): Column =
    call_function("graft_sorted_intersect", a, b)
  def graft_mg(key: Column): Column = call_function("graft_mg", key)
  def graft_mg(key: Column, k: Int): Column =
    call_function("graft_mg", key, org.apache.spark.sql.functions.lit(k))
  def graft_mg_merge(sketch: Column): Column =
    call_function("graft_mg_merge", sketch)
  def graft_mg_query(sketch: Column, key: Column): Column =
    call_function("graft_mg_query", sketch, key)
  def graft_mg_stats(sketch: Column): Column =
    call_function("graft_mg_stats", sketch)
  def graft_kmv(key: Column): Column = call_function("graft_kmv", key)
  def graft_kmv(key: Column, k: Int): Column =
    call_function("graft_kmv", key, org.apache.spark.sql.functions.lit(k))
  def graft_kmv_merge(sketch: Column): Column =
    call_function("graft_kmv_merge", sketch)
  def graft_kmv_stats(sketch: Column): Column =
    call_function("graft_kmv_stats", sketch)
  def graft_kmv_overlap(a: Column, b: Column): Column =
    call_function("graft_kmv_overlap", a, b)
  def graft_qsketch(v: Column, k: Int, ps: Seq[Double]): Column =
    call_function("graft_qsketch", v,
      org.apache.spark.sql.functions.lit(k),
      org.apache.spark.sql.functions.array(
        ps.map(p => org.apache.spark.sql.functions.lit(p)): _*))
  def graft_bloom_agg(v: Column, estItems: Long, numBits: Long): Column =
    call_function("graft_bloom_agg", v,
      org.apache.spark.sql.functions.lit(estItems),
      org.apache.spark.sql.functions.lit(numBits))
  def graft_might_contain(bloom: Column, v: Column): Column =
    call_function("graft_might_contain", bloom, v)
}

/** Cluster-wide injection point: `.withExtensions(new GraftExtensions)`
  * on a session builder — or
  * spark.sql.extensions=graft.functions.GraftExtensions (what
  * graft.plans.GateSession sets).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftFunctions.{intArg => ia}

  override def apply(e: SparkSessionExtensions): Unit = {
    def inject(name: String, clazz: Class[_], builder: Seq[Expression] => Expression): Unit =
      e.injectFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(clazz.getName, name),
        builder))
    inject("rolling_hash", classOf[RollingHash], exprs => RollingHash(exprs.head))
    inject("graft_cosine", classOf[CosineSimilarity],
      exprs => CosineSimilarity(exprs(0), exprs(1)))
    inject("graft_minhash", classOf[MinHashSignature],
      exprs => MinHashSignature(exprs(0), ia(exprs(1))))
    inject("graft_simhash", classOf[SimHash64], exprs => SimHash64(exprs.head))
    inject("graft_hyperplane", classOf[HyperplaneSignature],
      exprs => HyperplaneSignature(exprs(0), ia(exprs(1))))
    inject("graft_shingles", classOf[ShingleSet],
      exprs => ShingleSet(exprs(0), ia(exprs(1))))
    inject("graft_nearest_centroid", classOf[NearestCentroid],
      exprs => NearestCentroid(exprs(0), exprs(1)))
    inject("graft_nearest_centroid_l2", classOf[NearestCentroidL2],
      exprs => NearestCentroidL2(exprs(0), exprs(1)))
    inject("graft_nearest2_centroids", classOf[Nearest2Centroids],
      exprs => Nearest2Centroids(exprs(0), exprs(1)))
    inject("graft_hyperplanes", classOf[HyperplaneSignatures],
      exprs => HyperplaneSignatures(exprs(0), ia(exprs(1)), ia(exprs(2))))
    inject("graft_topk", classOf[TopKByScore],
      exprs => TopKByScore(exprs(0), exprs(1), ia(exprs(2))))
    inject("graft_project", classOf[RandomProjection],
      exprs => RandomProjection(exprs(0), ia(exprs(1))))
    inject("graft_qsketch_state", classOf[QuantileSketchState],
      exprs => QuantileSketchState(exprs(0), exprs(1)).toAggregateExpression())
    inject("graft_qsketch_merged", classOf[QuantileSketchMerged],
      exprs => QuantileSketchMerged(exprs(0), exprs(1), exprs(2)).toAggregateExpression())
    inject("graft_hll", classOf[HllBuild],
      exprs => HllBuild(exprs(0)).toAggregateExpression())
    inject("graft_hll_merge", classOf[HllMerge],
      exprs => HllMerge(exprs(0)).toAggregateExpression())
    inject("graft_hll_card", classOf[HllCardinality],
      exprs => HllCardinality(exprs(0)))
    inject("graft_cms", classOf[CmsBuild],
      exprs => CmsBuild(exprs(0)).toAggregateExpression())
    inject("graft_cms_merge", classOf[CmsMerge],
      exprs => CmsMerge(exprs(0)).toAggregateExpression())
    inject("graft_cms_query", classOf[CmsQuery],
      exprs => CmsQuery(exprs(0), exprs(1)))
    inject("graft_sorted_intersect", classOf[SortedLongIntersect],
      exprs => SortedLongIntersect(exprs(0), exprs(1)))
    inject("graft_mg", classOf[MgBuild],
      exprs => MgBuild(exprs(0),
        if (exprs.length > 1) GraftFunctions.intArg(exprs(1)) else MisraGries.K)
        .toAggregateExpression())
    inject("graft_mg_merge", classOf[MgMerge],
      exprs => MgMerge(exprs(0)).toAggregateExpression())
    inject("graft_mg_query", classOf[MgQuery],
      exprs => MgQuery(exprs(0), exprs(1)))
    inject("graft_mg_stats", classOf[MgStats],
      exprs => MgStats(exprs(0)))
    inject("graft_qsketch", classOf[QuantileSketch],
      exprs => QuantileSketch(exprs(0), exprs(1), exprs(2)).toAggregateExpression())
    // Plan linter: fail fast on 100 TB scale-killers (un-partitioned Window
    // over a large input, big-both-sides cartesian) — see plans.PlanGuard.
    e.injectOptimizerRule(graft.plans.PlanGuard.apply)
  }
}
