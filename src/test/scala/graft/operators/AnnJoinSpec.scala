package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class AnnJoinSpec extends SparkSpec {

  private def ring(n: Int, dim: Int): Seq[(Long, Seq[Double])] =
    (0 until n).map { i =>
      // well-separated deterministic directions: one-hot-ish with a tail
      val v = Array.tabulate(dim)(d =>
        if (d == i % dim) 4.0 else 0.1 * ((i * 31 + d * 7) % 5))
      (i.toLong, v.toSeq)
    }

  test("annJoin: identical twins rank top-1 at sim 1.0; k bound holds") {
    import spark.implicits._
    val right = ring(40, 8).toDF("id", "v")
    val left = right.select((col("id") + 1000L).as("id"), col("v"))
    val topk = Similarity.annJoin(left, right, "id", "v", k = 2,
      numPlanes = 8, numTables = 8)
    val rows = topk.select("qid", "vid", "sim")
      .as[(Long, Long, Double)].collect()
    val byQ = rows.groupBy(_._1)
    assert(byQ.size === 40, s"${byQ.size} left rows returned")
    assert(byQ.values.forall(_.length <= 2), "per-left k bound broken")
    for ((q, rs) <- byQ) {
      val best = rs.maxBy(r => (r._3, -r._2))
      assert(best._2 === q - 1000L && best._3 === 1.0,
        s"twin of $q not top-1: $rs")
    }
  }

  test("ring with twins: near-dup pairs and knn sims match brute-force cosine") {
    // a corpus with exact twins (sim 1.0), near-pairs and occupancy-cap
    // pressure: embeddingNearDup must return exactly the pairs at
    // brute-force cosine >= 0.99, every knnJoin row must carry the
    // brute-force cosine rounded to 4 places, and every twin must be its
    // partner's top-1 at 1.0
    import spark.implicits._
    val base = ring(60, 8)
    val twins = base.take(20).map { case (i, v) => (i + 1000L, v) }
    val all = base ++ twins
    val vecsDf = all.toDF("id", "v")
    val planes = 6; val tables = 8; val cap = 8 // cap low enough to fire
    val byId = all.toMap
    def cosine(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    def round4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

    val truth = (for {
      (i, a) <- all; (j, b) <- all if i < j && cosine(a, b) >= 0.99
    } yield (i, j)).toSet
    val dup = Dedup.embeddingNearDup(vecsDf, "id", "v", threshold = 0.99,
      numPlanes = planes, numTables = tables, maxOccupancy = cap,
      contentSeededSplit = true)
      .select("id1", "id2").as[(Long, Long)].collect()
    assert(dup.length === dup.toSet.size, "duplicate near-dup pairs")
    assert(dup.toSet === truth)

    val knn = Similarity.knnJoin(vecsDf, "id", "v", k = 3,
      numPlanes = planes, numTables = tables, maxOccupancy = cap)
      .select("qid", "vid", "sim").as[(Long, Long, Double)].collect()
    assert(knn.nonEmpty)
    for ((q, v, sim) <- knn)
      assert(sim === round4(cosine(byId(q), byId(v))), s"($q, $v) sim $sim")
    val byQ = knn.groupBy(_._1)
    // ids i and i + 40 share a vector too, so a twin ties at 1.0 for top-1
    for ((t, _) <- twins; (q, partner) <- Seq((t - 1000L, t), (t, t - 1000L))) {
      val rows = byQ.getOrElse(q, Array.empty[(Long, Long, Double)])
      assert(rows.map(_._3).maxOption.contains(1.0), s"$q has no 1.0 neighbor")
      assert(rows.contains((q, partner, 1.0)), s"twin $partner not top-1 for $q")
    }
  }

  test("collisionJoinPartitions: session floor, linear growth, cap") {
    // gate SF: the banded stream fits the session layout -> floor
    assert(Similarity.collisionJoinPartitions(32, 2020, 8, 64) === 32)
    // the measured 1000x knn regime (2M vectors, 15 tables, 64-dim):
    // 2 x 2e6 x 15 x 560 B ~= 33.6 GB -> ~263 partitions at 128 MB
    val at1000x = Similarity.collisionJoinPartitions(32, 2000000L, 15, 64)
    assert(at1000x > 200 && at1000x < 300, s"got $at1000x")
    // scales linearly with the corpus, capped at 20000
    assert(Similarity.collisionJoinPartitions(32, 2000000000L, 15, 64) === 20000)
    // degenerate inputs stay at the floor
    assert(Similarity.collisionJoinPartitions(32, 0L, 15, 64) === 32)
    assert(Similarity.collisionJoinPartitions(200, 2020, 8, 0) === 200)
  }

  test("adaptive collision parallelism engaged: outputs identical under a 1-partition session") {
    // force the derived count past the session's so the explicit
    // same-key repartition engages, and pin output equality vs the
    // non-adaptive path (partitioning must never change results). A
    // child session: the shared one's conf stays untouched.
    val one = spark.newSession()
    one.conf.set("spark.sql.shuffle.partitions", "1")
    import one.implicits._
    val vecsDf = ring(50, 8).toDF("id", "v")
    val proj = vecsDf.select(col("id").cast("long").as("id"),
      col("v").cast("array<double>").as("v")).persist()
    try {
      // 1 KiB target forces the derived count far past the 1-partition
      // session, so the explicit repartition is actually in the plan
      val adaptive = Similarity.lshVectorCollisions(
        proj, 6, 8, 8, targetPartitionBytes = 1024L)
      assert(adaptive.rdd.getNumPartitions > 1,
        "adaptive repartition did not engage")
      val adaptiveSet = adaptive.select("id1", "id2").distinct()
      val fixed = Similarity.lshVectorCollisions(
        proj, 6, 8, 8, adaptiveParts = false)
        .select("id1", "id2").distinct()
      assert(adaptiveSet.except(fixed).count() === 0)
      assert(fixed.except(adaptiveSet).count() === 0)
    } finally proj.unpersist()
  }

  test("the collision joins fail fast on unpersisted input") {
    import spark.implicits._
    val vecs = ring(10, 8).toDF("id", "v")
    val self = intercept[IllegalArgumentException](
      Similarity.lshVectorCollisions(vecs, 6, 8))
    assert(self.getMessage.contains("vecs must be persisted"))
    val l = vecs.select(col("id").as("lid"), col("v").as("lv")).persist()
    try {
      // other rows: a renamed projection of vecs would resolve to l's cache
      val r = ring(12, 8).toDF("rid", "rv")
      val cross = intercept[IllegalArgumentException](
        Similarity.bipartiteVectorCollisions(l, r, 6, 8, 0))
      assert(cross.getMessage.contains("r must be persisted"))
    } finally l.unpersist()
  }

  test("annJoin: left and right are genuinely asymmetric (no self pairs, right-only ids)") {
    import spark.implicits._
    val right = ring(30, 8).toDF("id", "v")
    val left = ring(10, 8).map { case (i, v) => (i + 500L, v) }.toDF("id", "v")
    val topk = Similarity.annJoin(left, right, "id", "v", k = 3,
      numPlanes = 8, numTables = 8)
    val (qids, vids) = (topk.select("qid").as[Long].collect().toSet,
      topk.select("vid").as[Long].collect().toSet)
    assert(qids.forall(_ >= 500L), "right-side id leaked into qid")
    assert(vids.forall(_ < 500L), "left-side id leaked into vid")
  }

  test("a null first vector sizes the bucket join from the session floor instead of throwing") {
    import spark.implicits._
    val base = ring(20, 8)
    // one partition with the null row first: the dimension probe reads it
    // (size(null) is null under ANSI, so an unguarded getInt throws)
    val withNull = ((99L, null: Seq[Double]) +: base).toDF("id", "v").coalesce(1)
    val knn = Similarity.knnJoin(withNull, "id", "v", k = 2)
      .select("qid", "vid").as[(Long, Long)].collect()
    assert(knn.nonEmpty && knn.forall(p => p._1 != 99L && p._2 != 99L))
    // both sides null-first: the probe falls through left, then right, to 0
    val ann = Similarity.annJoin(withNull, withNull, "id", "v", k = 1)
      .select("qid", "vid", "sim").as[(Long, Long, Double)].collect()
    assert(ann.map(_._1).toSet === base.map(_._1).toSet)
    assert(ann.forall(r => r._2 != 99L && r._3 == 1.0), "twin not top-1")
  }
}
