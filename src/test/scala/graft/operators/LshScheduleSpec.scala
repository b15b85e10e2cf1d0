package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The r8 LSH schedule retune, pinned: adaptivePlanes' occupancy targeting,
  * tablesForRecall's Charikar recall contract, and the LSH collision
  * join's worst-case occupancy split. These are the knobs the knn/dedup 100x scale
  * curves stand on (SCALECHECK.json) — a regression here shows up as a
  * quadratic pair count long before any oracle fails.
  */
class LshScheduleSpec extends SparkSpec {

  import spark.implicits._

  test("adaptivePlanes targets occupancy: bounds, growth, monotonicity") {
    // small corpora clamp to the 8-plane floor (256 buckets)
    assert(Similarity.adaptivePlanes(100, targetOccupancy = 8) == 8)
    // n/target buckets, rounded up to the next power of two:
    // 20000/8 = 2500 -> 4096 buckets -> 12 planes
    assert(Similarity.adaptivePlanes(20000, targetOccupancy = 8) == 12)
    // a verifier's tighter target buys more planes at the same n
    assert(Similarity.adaptivePlanes(20000, targetOccupancy = 2) >
      Similarity.adaptivePlanes(20000, targetOccupancy = 8))
    // the 24-plane cap (16M buckets): beyond it occupancy grows linearly
    // and the maxOccupancy split becomes the binding bound (NOTES r8)
    assert(Similarity.adaptivePlanes(1L << 40, targetOccupancy = 2) == 24)
    // monotone non-decreasing in n
    val seq = Seq(1L, 1000L, 10000L, 100000L, 1000000L, 100000000L)
      .map(Similarity.adaptivePlanes(_, targetOccupancy = 8))
    assert(seq == seq.sorted)
  }

  test("adaptivePlanesBipartite: geomean sizing, degenerates to symmetric") {
    // equal sides == the symmetric rule, at any n
    for (n <- Seq(100L, 20000L, 1000000L))
      assert(Similarity.adaptivePlanesBipartite(n, n, targetOccupancy = 4)
        == Similarity.adaptivePlanes(n, targetOccupancy = 4))
    // 10:1 asymmetry sizes between the two per-side schedules
    val lo = Similarity.adaptivePlanes(20000, targetOccupancy = 4)
    val hi = Similarity.adaptivePlanes(200000, targetOccupancy = 4)
    val bp = Similarity.adaptivePlanesBipartite(200000, 20000,
      targetOccupancy = 4)
    assert(lo <= bp && bp <= hi, s"$lo <= $bp <= $hi")
    // sqrt(200020 * 20000) ~ 63k -> 63k/4 buckets -> 16384 -> 14 planes
    assert(Similarity.adaptivePlanesBipartite(200020, 20000,
      targetOccupancy = 4) == 14)
    // monotone in either side
    assert(Similarity.adaptivePlanesBipartite(1000000, 20000, 4) >=
      Similarity.adaptivePlanesBipartite(200000, 20000, 4))
  }

  test("tablesForRecall meets the Charikar recall contract") {
    // recall of an OR over T tables: 1 - (1 - p1)^T with
    // p1 = (1 - acos(c)/pi)^planes. Whenever the returned T is inside the
    // clamp range, the contract must hold at exactly that T.
    for (planes <- 8 to 24; cosine <- Seq(0.90, 0.95, 0.97)) {
      val t = Similarity.tablesForRecall(planes, cosine)
      val p1 = math.pow(1.0 - math.acos(cosine) / math.Pi, planes)
      val recall = 1.0 - math.pow(1.0 - p1, t)
      if (t < 32) // 32 is the clamp, not a contract violation
        assert(recall >= 0.98, s"planes=$planes cos=$cosine T=$t recall=$recall")
      assert(t >= 8 && t <= 32)
    }
    // the scaladoc example: planes=12 at cosine 0.97 needs 9 tables, not
    // the 13 the old planes+1 coupling would have used
    assert(Similarity.tablesForRecall(12, 0.97) == 9)
    // more planes -> lower per-table collision -> at least as many tables
    val ts = (8 to 24).map(Similarity.tablesForRecall(_, 0.95))
    assert(ts == ts.sorted)
  }

  test("maxOccupancy splits a pathological hot bucket, bounding pair work") {
    // 240 vectors all on the SAME direction: every table has one bucket of
    // occupancy 240, the worst case the splitter exists for. Distinct
    // magnitudes keep ids distinct; hyperplane signs ignore magnitude.
    val n = 240
    val hot = (0 until n).map(i => (i.toLong, Array(1.0, 2.0, 3.0, 4.0 + i)))
      .toDF("id", "v").persist()
    val tables = 4
    def pairs(maxOccupancy: Int) =
      Similarity.lshVectorCollisions(hot, 8, tables, maxOccupancy)
        .select("id1", "id2").distinct()
    val uncapped = pairs(0).count()
    assert(uncapped == n.toLong * (n - 1) / 2) // full clique, every pair
    val m = 120 // forces ceil(240/120) = 2 sub-buckets per table
    val capped = pairs(m)
    val cappedCount = capped.count()
    // per-table work is bounded by 2 sub-buckets of ~n/2: at most
    // 2 * (n/2 choose 2) pairs per table (+ hash slack), OR'd over tables.
    // The point is the ORDER: ~n*m/2 per table, not n^2/2.
    assert(cappedCount < uncapped,
      s"cap did not reduce the clique: $cappedCount vs $uncapped")
    assert(cappedCount <= tables.toLong * 2 * (n / 2).toLong * (n / 2 - 1) / 2)
    // deterministic: the sub-split is seeded xxhash64(id, t), no RNG
    assert(capped.count() == cappedCount)
    // a pair split apart in one table still collides in another with high
    // probability (seeded by t, splits decorrelate): the OR keeps most of
    // the clique reachable — check coverage rather than any single pair
    assert(cappedCount >= uncapped / 2,
      s"cap destroyed recall: $cappedCount of $uncapped pairs survive")
    hot.unpersist()
  }

  test("content-seeded occupancy split never separates identical vectors") {
    // A hot bucket mixing identical-vector GROUPS (ids 0-59: 20 groups of
    // 3 sharing a vector) with 180 distinct same-direction vectors. With
    // the id-seeded split an identical pair can land in different
    // sub-buckets (probabilistic recovery); with the content seed the
    // group's rows share every sub-bucket by construction, so ALL
    // C(3,2)*20 identical pairs must survive ANY cap value.
    val groups = (0 until 60).map { i =>
      (i.toLong, Array(1.0, 2.0, 3.0, 4.0 + (i / 3)))
    }
    val distinct = (60 until 240).map { i =>
      (i.toLong, Array(1.0, 2.0, 3.0, 104.0 + i))
    }
    val hot = (groups ++ distinct).toDF("id", "v").persist()
    for (cap <- Seq(4, 16, 60)) {
      val capped = Similarity.lshVectorCollisions(hot, 8, 4,
        maxOccupancy = cap, contentSeededSplit = true)
        .select("id1", "id2").distinct()
      val identicalPairs = capped
        .where(col("id1") < 60 && col("id2") < 60 &&
          (col("id1") / 3).cast("long") === (col("id2") / 3).cast("long"))
        .count()
      assert(identicalPairs == 60L,
        s"cap=$cap recovered $identicalPairs of 60 identical pairs")
    }
    hot.unpersist()
  }

  test("knnJoin emits each undirected pair to both endpoints, no self-edges") {
    // 20 vectors in two well-separated clusters of 10 — every row's
    // neighbors must come from its own cluster at k=3
    val vecs = (0 until 20).map { i =>
      val base = if (i < 10) Array(10.0, 0.0, 0.0) else Array(0.0, 10.0, 0.0)
      (i.toLong, base.zipWithIndex.map { case (x, d) => x + (i % 10) * 0.01 * d })
    }.toDF("vec_id", "embedding")
    val knn = Similarity.knnJoin(vecs, "vec_id", "embedding", k = 3,
      numPlanes = 2, numTables = 4).collect()
    assert(knn.forall(r => r.getLong(0) != r.getLong(1)), "self-edge")
    val byQ = knn.groupBy(_.getLong(0))
    assert(byQ.forall(_._2.length <= 3), "row exceeded k")
    // symmetrized: qid 0's cluster-mates see it back (pair fed both heaps)
    assert(byQ.keySet.size == 20, "some row got no neighbors")
    knn.foreach { r =>
      val (q, v) = (r.getLong(0), r.getLong(1))
      assert((q < 10) == (v < 10), s"cross-cluster neighbor $q -> $v")
    }
  }
}
