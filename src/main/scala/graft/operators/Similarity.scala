package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (array<float>).
  *
  * Baseline: brute-force cosine top-k — a broadcast of the (small) query set
  * against the full corpus; one pass, no shuffle of the corpus side. Scale
  * paths: hyperplane LSH (data-oblivious, OR-amplified over L tables) and
  * IVF (learned coarse quantizer, nprobe inverted lists per query).
  *
  * Top-k everywhere is the bounded-heap aggregate graft_topk
  * (functions.TopKByScore) — partial aggregation keeps the exchange at
  * O(partitions * k) rows instead of shuffling every scored candidate into
  * one reducer per query, which is what a Window.partitionBy(qid) rank does.
  */
object Similarity {

  /** Cosine similarity between two array<double> columns — pure higher-order
    * functions (zip_with + aggregate), fully codegen'd, no UDF.
    */
  def cosine(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0d), (acc, v) => acc + v)
    def norm(x: Column): Column = sqrt(dot(x, x))
    dot(a, b) / (norm(a) * norm(b))
  }

  /** The heap aggregate keys ids as longs; a non-integral id column would
    * cast to NULL and silently drop every row — fail loudly instead.
    */
  private def requireIntegralId(df: DataFrame, idCol: String): Unit = {
    import org.apache.spark.sql.types._
    df.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case other => throw new IllegalArgumentException(
        s"id column '$idCol' must be integral for graft_topk, got " +
          s"${other.catalogString}; derive a long id first (hash or zipWithIndex)")
    }
  }

  /** Bounded-heap top-k per query over pre-scored candidates
    * (qid, vid:long, sim:double) -> (qid, vid, sim) best-first. Shared by
    * every ANN path here and by streaming.VectorIndexStream.probe.
    */
  private[graft] def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    import graft.functions.GraftFunctions.graft_topk
    scored
      .groupBy("qid")
      .agg(graft_topk(col("vid").cast("long"), col("sim").cast("double"), k).as("tk"))
      .select(col("qid"), explode(col("tk")).as("e"))
      .select(col("qid"), col("e.vid").as("vid"), col("e.sim").as("sim"))
  }

  /** Brute-force cosine top-k: every query vector against the whole corpus.
    * Queries are broadcast (they're small); corpus is scanned once, and the
    * only exchange carries <= partitions * k heap rows per query.
    * Returns (qid, vid, sim) with sim rounded to 4 for stable ordering.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    requireIntegralId(corpus, idCol)
    val c = corpus.select(col(idCol).cast("long").as("vid"),
      col(vecCol).cast("array<double>").as("cv"))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).cast("array<double>").as("qv"))
    val scored = c.crossJoin(broadcast(q))
      .withColumn("sim",
        round(graft.functions.GraftFunctions.graft_cosine(col("cv"), col("qv")), 4))
    topKPerQuery(scored, k)
  }

  /** IVF-style ANN: a deterministic Lloyd's k-means coarse quantizer
    * (seeded from the nlist lowest-id vectors, fixed iteration count — no
    * RNG, so the index is identical on every cluster), then search only the
    * nprobe nearest inverted lists per query.
    *
    * Scale shape: the assignment step is a NARROW projection — centroids are
    * an (nlist x dim) literal baked into graft_nearest_centroid, so each
    * Lloyd's iteration costs one corpus scan plus a partially-aggregated
    * groupBy(cid, pos) whose exchange carries only nlist * dim * partitions
    * rows. (Round-1 review flagged the previous crossJoin + window argmin:
    * it replicated the corpus x nlist and full-shuffled it by vid per
    * iteration — 1.6 PB/iteration at 100 TB. This plan exchanges no corpus
    * row at any point; the search side is a broadcast-hash probe join.)
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nlist: Int = 16, nprobe: Int = 4,
      iterations: Int = 3, quantizeStorage: Boolean = false): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    requireIntegralId(corpus, idCol)
    import graft.functions.GraftFunctions.{graft_cosine, graft_nearest_centroid}
    val spark = corpus.sparkSession
    import spark.implicits._
    // The projected corpus feeds every Lloyd's iteration plus the final
    // index — persist it so fit doesn't re-scan the source per pass.
    val c = corpus.select(col(idCol).cast("long").as("vid"),
      col(vecCol).cast("array<double>").as("cv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {

    val centroids = fitCentroids(c, nlist, iterations)
    def centroidLit: Column = typedlit(centroids.map(_.toSeq).toSeq)

    // ---- index: final narrow assignment of each vector to its list.
    // quantizeStorage composes the two scale levers: IVF cuts the CANDIDATE
    // count (nprobe/nlist of the corpus per query), int8 cuts the BYTES per
    // candidate 4x. Assignment always runs at full precision (list quality
    // is set once at build time; the rounding error belongs in the scored
    // residual, not the partition boundary), and queries stay full-precision
    // (asymmetric distance) — cosine's per-vector scale invariance means no
    // scale factor is stored.
    val assigned = c.withColumn("cid", graft_nearest_centroid(col("cv"), centroidLit))
    // the quantized index column stays array<tinyint> — that is what a
    // persisted index would store; the cast to double happens only inside
    // the scoring expression (a no-op on the full-precision path)
    val index =
      if (quantizeStorage)
        assigned.select(col("vid"), quantizeInt8(col("cv")).as("cv"), col("cid"))
      else assigned

    // ---- search: nprobe nearest lists per query. The query side is tiny,
    // so the centroid ranking is a small local crossJoin (nqueries x nlist
    // rows) — the corpus-side work is a broadcast-hash join on cid.
    val q = queries.select(col(idCol).as("qid"), col(vecCol).cast("array<double>").as("qv"))
    val probes = probeLists(q, centroids, nprobe)
    val scored = index.join(broadcast(probes), "cid")
      .withColumn("sim",
        round(graft_cosine(col("cv").cast("array<double>"), col("qv")), 4))
    // Materialize the (tiny) top-k result eagerly so the corpus cache can be
    // released instead of squatting for the rest of the session — the
    // finally releases it even when fit/search throws mid-flight.
    topKPerQuery(scored, k).localCheckpoint(true)
    } finally c.unpersist()
  }

  /** Lloyd's k-means over a projected (vid:long, cv:array<double>) frame —
    * the coarse-quantizer fit shared by ivfTopK and ProductQuantizer's
    * IVF-PQ composition. Centroids live on the driver (nlist x dim doubles
    * — a few KB). Each pass is ONE narrow job: every partition computes
    * nlist partial (sum-vector, count) pairs against the broadcast
    * centroids, combined by treeAggregate (depth 2, so a 1000-executor
    * cluster merges partials in a tree, not on the driver). Zero shuffle of
    * the corpus, zero replication — the same update shape Spark MLlib's
    * k-means uses.
    * Seeding: the nlist lowest-id vectors. orderBy+limit compiles to
    * TakeOrderedAndProject — a per-partition bounded heap of nlist rows
    * merged on the driver, NOT a global sort — and unlike a bare limit()
    * (nondeterministic under partition racing) the result is identical on
    * every cluster layout, which the fixed-iteration fit depends on.
    * (A hash-spread sample — orderBy(xxhash64(vid)) — was tried and
    * MEASURED WORSE here: recall vs brute-force truth fell 0.8+ -> 0.62
    * on the fixture corpus at the same nlist/nprobe/iterations; with few
    * Lloyd's iterations, seed placement dominates list quality, and
    * k-means++-style spreading would cost a pass per seed.)
    */
  private[operators] def fitCentroids(c: DataFrame, nlist: Int,
      iterations: Int, cacheSample: Boolean = false): Array[Array[Double]] = {
    val spark = c.sparkSession
    import spark.implicits._
    // cacheSample: set when `c` is a SAMPLE filter over a much larger
    // frame (semanticNearDup's ~1% fit subset) — without it the seed and
    // EVERY Lloyd iteration re-run the filter over the full parent
    // (1+iterations corpus scans; measured 3.5s of x_semdedup's 14s at
    // the 100x ScaleCheck corpus). The sample is shuffled across the full
    // core count (the filtered RDD inherits the parent's mostly-empty
    // partitioning, serializing the Lloyd kernel onto a few threads) and
    // persisted once; the seed's takeOrdered doubles as the cache
    // materialization. When `c` is the full, typically already-cached
    // corpus, the flag stays OFF: the extra shuffle + second cache copy
    // cost more than the rescans they save (regenerating the five
    // fit-path scale rows with it unconditionally ON added 0.3-0.9s to
    // every sf0.1 base cell).
    val (vecRdd, seedRows, cleanup) =
      if (cacheSample) {
        val idVec = c.select("vid", "cv").as[(Long, Seq[Double])].rdd
          .map { case (id, v) => (id, v.toArray) }
          .repartition(spark.sparkContext.defaultParallelism)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        (idVec.map(_._2),
          idVec.takeOrdered(nlist)(Ordering.by(_._1)).map(_._2),
          () => { idVec.unpersist(blocking = false); () })
      } else
        (c.select("cv").as[Seq[Double]].rdd.map(_.toArray),
          c.orderBy("vid").limit(nlist).select("cv").collect()
            .map(_.getSeq[Double](0).toArray),
          () => ())
    var centroids: Array[Array[Double]] = seedRows
    require(centroids.nonEmpty,
      s"fitCentroids: corpus has no rows with a non-null vector — cannot seed $nlist centroids")

    try for (_ <- 1 to iterations) {
      val dim = centroids.map(_.length).max
      // Centroid norms are iteration constants: broadcast them next to the
      // codebook so the per-row argmax is a bare dot product.
      val bc = spark.sparkContext.broadcast(
        (centroids, graft.functions.VectorOps.inverseNorms(centroids)))
      val (sums, counts) = vecRdd.treeAggregate(
        (Array.ofDim[Double](nlist, dim), new Array[Long](nlist)))(
        seqOp = { case ((s, n), v) =>
          val (cb, inv) = bc.value
          val cid = graft.functions.VectorOps.nearestCentroidDotArr(v, cb, inv)
          val row = s(cid)
          var d = 0
          while (d < v.length && d < dim) { row(d) += v(d); d += 1 }
          n(cid) += 1
          (s, n)
        },
        combOp = { case ((s1, n1), (s2, n2)) =>
          var i = 0
          while (i < nlist) {
            val a = s1(i); val b = s2(i)
            var d = 0
            while (d < dim) { a(d) += b(d); d += 1 }
            n1(i) += n2(i)
            i += 1
          }
          (s1, n1)
        },
        depth = 2)
      bc.destroy()
      // Empty clusters keep their previous centroid.
      centroids = centroids.indices.toArray.map { i =>
        if (counts(i) == 0) centroids(i)
        else sums(i).map(_ / counts(i))
      }
    } finally cleanup()
    centroids
  }

  /** Public coarse-quantizer fit over a raw (id, vec) frame: the fitted
    * centroid array a caller threads into BOTH ivfAdcTopK and
    * candidateCount, so the attested IVF layout is the searched layout by
    * construction (an independent re-fit can differ in final ulps — the
    * treeAggregate combine order follows shuffle-fetch arrival — and flip
    * a near-tie vector's list). Fitting once also halves the k-means cost
    * of an attested search.
    */
  def fitCoarseCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, iterations: Int,
      cacheSample: Boolean = false): Array[Array[Double]] = {
    requireIntegralId(corpus, idCol)
    val c = corpus.select(col(idCol).cast("long").as("vid"),
      col(vecCol).cast("array<double>").as("cv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try fitCentroids(c, nlist, iterations, cacheSample) finally c.unpersist()
  }

  /** Rank the coarse centroids per query and keep the nprobe nearest lists:
    * (qid, qv) -> (qid, qv, cid). The crossJoin is (nqueries x nlist) —
    * driver-small by the query-set contract — and the Window is partitioned
    * by qid (PlanGuard-clean).
    */
  private[operators] def probeLists(q: DataFrame,
      centroids: Array[Array[Double]], nprobe: Int): DataFrame = {
    import graft.functions.GraftFunctions.graft_cosine
    val spark = q.sparkSession
    import spark.implicits._
    val centDf = spark.createDataset(
      centroids.toSeq.zipWithIndex.map { case (a, i) => (i, a.toSeq) })
      .toDF("cid", "centroid")
    q.crossJoin(broadcast(centDf))
      .withColumn("csim", graft_cosine(col("qv"), col("centroid")))
      .withColumn("crn", row_number().over(
        Window.partitionBy("qid").orderBy(col("csim").desc, col("cid"))))
      .where(col("crn") <= nprobe)
      .select("qid", "qv", "cid")
  }

  /** Plane count so the EXPECTED bucket occupancy n/2^planes lands in
    * (target/2, target]. Occupancy is the false-candidate budget: within-
    * bucket pair work per table is ~n*occupancy/2, so holding occupancy
    * ~constant as n grows is what keeps the LSH join shuffle-linear.
    * The r7 formula targeted occupancy 16 for every caller; the knn/dedup
    * scale curves (ScaleCheck r7: pair count grew 22.6x at 10x data) showed
    * the right target is caller-specific — a near-dup VERIFIER wants
    * occupancy ~2 (every sub-threshold cohabitant is pure verify waste,
    * recall comes from the signature, not the crowd), while a knn-GRAPH
    * builder needs occupancy*tables ≳ a few*k so heaps actually fill.
    * maxPlanes 24 (16M buckets) replaces r7's 16, which silently re-entered
    * occupancy-grows-linearly mode past n ~= 1M.
    */
  def adaptivePlanes(n: Long, targetOccupancy: Int, minPlanes: Int = 8,
      maxPlanes: Int = 24): Int = {
    val buckets = math.max(1L, n / math.max(1, targetOccupancy))
    val p = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, buckets - 1))
    math.max(minPlanes, math.min(maxPlanes, p))
  }

  /** Plane count for a BIPARTITE schedule: adaptivePlanes over the
    * GEOMETRIC MEAN of the side counts. Per-bucket cross-pair volume is
    * (nl/2^p)(nr/2^p) = (sqrt(nl*nr)/2^p)^2, so the geometric mean is
    * exactly the side count whose symmetric occupancy matches the
    * cross-pair density — one rule that degenerates to adaptivePlanes(n)
    * when the sides are equal. Sizing from the SMALL side alone
    * underprunes: at the 100x ScaleCheck corpus with |ingest| = 10x
    * |index|, index-sized (13 planes, 10 tables) ran the x_ann_ingest
    * join at 11.0s / 11.4 pairs per ingest row vs 8.2s / 10.6 at the
    * geomean schedule (14, 11); two planes deeper still (18, 15) pays
    * more in hashing and banded-row volume than the 2.8-pairs/row stream
    * saves (NOTES round 9).
    */
  def adaptivePlanesBipartite(nl: Long, nr: Long, targetOccupancy: Int,
      minPlanes: Int = 8, maxPlanes: Int = 24): Int =
    adaptivePlanes(math.round(math.sqrt(nl.toDouble * nr.toDouble)),
      targetOccupancy, minPlanes, maxPlanes)

  /** Table count from the recall CONTRACT instead of r7's planes+1 coupling:
    * a cosine-c pair survives one table with p1 = (1 - acos(c)/pi)^planes
    * (Charikar hyperplane collision), so targetRecall over T OR'd tables
    * needs T >= ln(1-recall)/ln(1-p1). planes+1 overshot at exactly the
    * scale where occupancy was shrinking (hash work and banded rows grow
    * with T for no contracted recall) — e.g. planes=12 needs 9 tables for
    * 0.98 recall at cosine 0.97, not 13. Clamped to [minTables, 32].
    */
  def tablesForRecall(planes: Int, cosine: Double, targetRecall: Double = 0.98,
      minTables: Int = 8): Int = {
    val p1 = math.pow(1.0 - math.acos(cosine) / math.Pi, planes)
    val t = math.ceil(math.log(1.0 - targetRecall) / math.log1p(-p1)).toInt
    math.max(minTables, math.min(32, t))
  }

  /** Partition count for the banded-with-vector bucket join (guide §2.2:
    * derive partitioning from input size, never from a constant tuned to
    * one box). The collision join's two inputs each carry n x tables wide
    * rows; under a session partition count pinned to the CORE count (the
    * local default) the per-task sort share grows linearly with the
    * corpus — measured at the 1000x ScaleCheck corpus (2M vectors, 15
    * tables, 64-dim): ~33 GB across 32 partitions is a ~1 GB/task
    * external sort against ~0.6 GB/task of execution memory, i.e. a
    * multi-pass spill on every task (the knn verify cell read 981 s
    * there), while at <=100x the same join fits and was A/B-fast. Sizing
    * the exchange at ~128 MB/partition keeps the per-task sort in memory
    * at ANY corpus; the floor is the session count, so at gate SF (and
    * any corpus whose banded stream fits the session layout) the plan is
    * bit-identical to before. Row-size model: 4 key/id longs + the
    * payload array (8 B/element + header) — an overestimate is harmless
    * (smaller partitions), an underestimate reintroduces the spill.
    */
  private[graft] def collisionJoinPartitions(sessionParts: Int, nRows: Long,
      numTables: Int, dim: Int,
      targetPartitionBytes: Long = 128L << 20): Int = {
    val rowBytes = 48L + 8L * math.max(1, dim)
    val streamBytes =
      2L * math.max(0L, nRows) * math.max(1, numTables) * rowBytes
    val needed = streamBytes / math.max(1L, targetPartitionBytes) + 1
    math.max(sessionParts, math.min(20000L, needed).toInt)
  }

  /** The session's shuffle partition count and the (rows, dim) of a
    * projected vector frame — the inputs collisionJoinPartitions needs.
    * Two cheap jobs over the caller-persisted frame (count + one-row
    * head); an empty frame, or a null first vector (size(null) is null
    * under ANSI), sizes as dim 0 -> session floor.
    */
  private def vectorStats(vecs: DataFrame, vecCol: String): (Long, Int) = {
    val n = vecs.count()
    (n, firstDim(vecs, vecCol).getOrElse(0))
  }

  /** Fail fast on an unpersisted input to a multi-pass operator stage:
    * without the cache each pass re-runs the frame's whole lineage. */
  private def requirePersisted(df: DataFrame, name: String): Unit =
    require(df.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      s"$name must be persisted: the collision join reads it in several passes")

  /** Length of the first row's vector; None when the frame is empty or
    * that vector is null. */
  private def firstDim(vecs: DataFrame, vecCol: String): Option[Int] = {
    val d = vecs.select(size(col(vecCol)).as("d")).head(1)
    if (d.nonEmpty && !d(0).isNullAt(0)) Some(d(0).getInt(0)) else None
  }

  /** Per-collision LSH self-join rows (id1, id2, v1, v2): every distinct
    * (table, bucket, sub) cohabitation of two ids, id1 < id2, NOT
    * deduplicated across tables — a pair sharing several buckets appears
    * once per collision, carrying both vectors.
    *
    * r16 verify-shape change (guide §2.3/§8: make every shuffle but the
    * last move a lightweight proxy — or, when the payload must meet the
    * pair, move it ONCE, on the smallest stream). The old production
    * shape banded ids-only, deduplicated pairs, then attached vectors by
    * two join-backs — whose id2-side exchange streamed pairs x (ids +
    * vector). Candidate volume is occupancy x tables x corpus: at the
    * 100x ScaleCheck corpus that exchange moved ~7.3 GB (13.8M pairs x
    * ~530 B) vs ~2.6 GB for BOTH banded-with-vector sides here (n x
    * tables x 548 B each); at 1000x the old verify stage was 331 s of
    * the 423 s row — the pair-side payload exchange was the scale wall.
    * Scoring inside the bucket join makes the vector ride the (t,
    * bucket, sub) exchange at n*tables rows and the pair stream carry
    * only (id1, id2, score). Measured interleaved A/B at 100x (knnJoin
    * end-to-end, same box phases): 14-21 s -> 7.3-8.0 s, outputs
    * set-identical (except() both ways = 0).
    *
    * Cost shift, priced: each collision is scored (vs once per distinct
    * pair after the old dedup) — at the adaptive schedules the collision
    * stream is ~1.01x the distinct pairs (measured 13.819M vs 13.806M at
    * 100x), because OR'd tables rarely re-collide a pair; and callers
    * dedup AFTER scoring (same deterministic score on every copy).
    *
    * No cache: both join sides recompute signatures from the
    * caller-cached vecs frame — two extra narrow passes (~0.9 s at 100x)
    * instead of caching n x tables vector-bearing rows (~16 GB at
    * 1000x). The bucket join is left UNHINTED: the planner's sort-merge
    * spills gracefully, measured equal to a shuffle_hash hint at 100x,
    * and hash-building wide n*tables rows per partition is the one shape
    * that could OOM at >1000x.
    *
    * Skew guard: adaptivePlanes bounds the EXPECTED occupancy, but real
    * embedding corpora cluster — one hot orthant can hold a bucket whose
    * occupancy^2 pair work dwarfs the rest of the table. Buckets over
    * maxOccupancy are split by a per-table secondary hash of a seed into
    * ~maxOccupancy-sized sub-buckets, bounding within-bucket work at
    * n*maxOccupancy/2 per table worst-case. A pair split apart in one
    * table still collides in the others (the sub-hash is seeded by t, so
    * splits decorrelate across tables). The seed is the row id, or with
    * `contentSeededSplit` a hash of the VECTOR: bit-identical vectors
    * then share every sub-bucket by construction, so exact-recovery
    * contracts over identical content (x_embed_dedup's n_expected ==
    * n_found) survive with the cap on.
    *
    * Precondition: `vecs` is persisted (checked) — the size probe, the
    * occupancy aggregate and both join sides each re-read it.
    */
  private[graft] def lshVectorCollisions(vecs: DataFrame, numPlanes: Int,
      numTables: Int, maxOccupancy: Int = 0,
      contentSeededSplit: Boolean = false,
      adaptiveParts: Boolean = true,
      targetPartitionBytes: Long = 128L << 20): DataFrame = {
    requirePersisted(vecs, "vecs")
    import graft.functions.GraftFunctions.graft_hyperplanes
    def banded(): DataFrame = vecs.select(col("id"),
      (if (contentSeededSplit) xxhash64(col("v")) else col("id")).as("__ck"),
      col("v"),
      posexplode(graft_hyperplanes(col("v"), numPlanes, numTables))
        .as(Seq("t", "bucket")))
    def side(idN: String, vN: String): DataFrame = {
      val withSub =
        if (maxOccupancy <= 0) banded().withColumn("sub", lit(0L))
        else {
          // third narrow pass: the oversized-bucket list (ids only —
          // column-pruned from the vecs cache)
          val over = vecs.select(
            posexplode(graft_hyperplanes(col("v"), numPlanes, numTables))
              .as(Seq("t", "bucket")))
            .groupBy("t", "bucket").agg(count(lit(1)).as("occ"))
            .where(col("occ") > maxOccupancy)
          banded().join(broadcast(over), Seq("t", "bucket"), "left")
            .withColumn("sub", when(col("occ").isNull, lit(0L)).otherwise(
              pmod(xxhash64(col("__ck"), col("t")),
                ceil(col("occ") / maxOccupancy).cast("long"))))
            .drop("occ")
        }
      withSub.select(col("t"), col("bucket"), col("sub"),
        col("id").as(idN), col("v").as(vN))
    }
    // Scale-adaptive bucket-join parallelism (see collisionJoinPartitions):
    // an explicit same-key repartition of BOTH sides satisfies the join's
    // clustered distribution (no extra exchange vs the implicit one), and
    // only engages when the derived count exceeds the session's — at gate
    // SF the plan is unchanged.
    val sessionParts =
      vecs.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val parts = if (!adaptiveParts) sessionParts else {
      val (n, dim) = vectorStats(vecs, "v")
      collisionJoinPartitions(sessionParts, n, numTables, dim,
        targetPartitionBytes)
    }
    def widen(df: DataFrame): DataFrame =
      if (parts > sessionParts)
        df.repartition(parts, col("t"), col("bucket"), col("sub"))
      else df
    widen(side("id1", "v1"))
      .join(widen(side("id2", "v2")), Seq("t", "bucket", "sub"))
      .where(col("id1") < col("id2"))
      .select("id1", "id2", "v1", "v2")
  }

  /** Bipartite analog of [[lshVectorCollisions]]: per-collision (lid, rid,
    * lv, rv) rows across projected (lid, lv) / (rid, rv) frames, not
    * deduplicated. Skew buckets split on the COMBINED occupancy with the
    * same t-seeded sub hash; with `contentSeededSplit` a cross-side pair
    * of bit-identical vectors (the twin-contract population) shares every
    * sub-bucket by construction, which makes the exact twin gate
    * structural rather than probabilistic and lets the cap drop
    * aggressively (the cap bounds the cohabitant pair stream, the
    * bipartite curve's cost axis).
    *
    * Precondition: `l` and `r` are persisted (checked) — the counts, the
    * occupancy aggregate and the join sides each re-read them.
    */
  private[graft] def bipartiteVectorCollisions(l: DataFrame, r: DataFrame,
      numPlanes: Int, numTables: Int, maxOccupancy: Int,
      contentSeededSplit: Boolean = false): DataFrame = {
    requirePersisted(l, "l")
    requirePersisted(r, "r")
    import graft.functions.GraftFunctions.graft_hyperplanes
    def banded(df: DataFrame, idName: String, vecName: String): DataFrame =
      df.select(col(idName).as("id"),
        (if (contentSeededSplit) xxhash64(col(vecName)) else col(idName))
          .as("ck"),
        col(vecName).as("vv"),
        posexplode(graft_hyperplanes(col(vecName), numPlanes, numTables))
          .as(Seq("t", "bucket")))
    def bandedIds(df: DataFrame, vecName: String): DataFrame =
      df.select(posexplode(graft_hyperplanes(col(vecName), numPlanes, numTables))
        .as(Seq("t", "bucket")))
    val over =
      if (maxOccupancy <= 0) None
      else Some(bandedIds(l, "lv").unionByName(bandedIds(r, "rv"))
        .groupBy("t", "bucket").agg(count(lit(1)).as("occ"))
        .where(col("occ") > maxOccupancy))
    def side(df: DataFrame, idName: String, vecName: String,
        idOut: String, vOut: String): DataFrame = {
      val b = banded(df, idName, vecName)
      val withSub = over match {
        case None => b.withColumn("sub", lit(0L))
        case Some(o) =>
          b.join(broadcast(o), Seq("t", "bucket"), "left")
            .withColumn("sub", when(col("occ").isNull, lit(0L)).otherwise(
              pmod(xxhash64(col("ck"), col("t")),
                ceil(col("occ") / maxOccupancy).cast("long"))))
            .drop("occ")
      }
      withSub.select(col("t"), col("bucket"), col("sub"),
        col("id").as(idOut), col("vv").as(vOut))
    }
    // Scale-adaptive bucket-join parallelism, combined-side sizing (same
    // rationale as lshVectorCollisions).
    val sessionParts =
      l.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val parts = {
      val nl = l.count()
      val nr = r.count()
      val dim = firstDim(l, "lv").orElse(firstDim(r, "rv")).getOrElse(0)
      // nl + nr wide rows per table across the two exchanges combined —
      // the same 2 x n x tables volume the self-join model uses
      collisionJoinPartitions(sessionParts, (nl + nr + 1) / 2,
        math.max(1, numTables), dim)
    }
    def widen(df: DataFrame): DataFrame =
      if (parts > sessionParts)
        df.repartition(parts, col("t"), col("bucket"), col("sub"))
      else df
    widen(side(l, "lid", "lv", "lid", "lv"))
      .join(widen(side(r, "rid", "rv", "rid", "rv")), Seq("t", "bucket", "sub"))
      .select("lid", "rid", "lv", "rv")
  }

  /** k-NN self-join: the top-k cosine neighbors for EVERY corpus row — the
    * large-query-set regime where the broadcast-query contract of
    * bruteForceTopK / ivfTopK / adcTopK does not hold (queries == corpus,
    * so neither side is driver-small). This is the graph-builder behind
    * semantic dedup and clustering: LSH-bucketed candidate generation
    * (ids-only through the exchange), pair dedup, full-precision verify by
    * join-back-by-id, then the bounded-heap top-k per row. Each undirected
    * pair is scored ONCE and feeds both endpoints' heaps.
    *
    * Scale: work is sum over buckets of occupancy^2 — callers must scale
    * numPlanes via adaptivePlanes so occupancy stays bounded in expectation
    * as the corpus grows, and maxOccupancy bounds it worst-case under skew.
    * Contract: this surfaces the HIGH-cosine regime (hyperplane collision
    * probability decays as (1 - theta/pi)^planes, so ~uncorrelated rows
    * rarely share buckets); rows with no bucket cohabitant return fewer
    * than k neighbors — the standard ANN near-neighbor-graph contract, not
    * a defect.
    *
    * Verify-join shape, r16 (guide §2.3/§8 — supersedes the r7 ids-only +
    * two-join-back plan): scoring runs INSIDE the bucket self-join
    * (lshVectorCollisions), so vectors ride the (t, bucket, sub)
    * exchanges at n*tables rows and the pair stream carries only
    * (id1, id2, sim) into the dedup. The old id2-side join-back streamed
    * pairs x (ids + vector) — with pairs ~ occupancy*tables*n/2 that
    * exchange was ~3x the banded sides at 100x (7.3 GB vs 2.6 GB) and
    * 78-93% of the ScaleCheck row at 1000-1400x. Pair dedup moves AFTER
    * scoring (per-pair sim is deterministic, so max over collision
    * copies IS the value) — measured 2x end-to-end at 100x, outputs
    * set-identical.
    */
  def knnJoin(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      numPlanes: Int = 8, numTables: Int = 8, maxOccupancy: Int = 64): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    requireIntegralId(corpus, idCol)
    import graft.functions.GraftFunctions.graft_cosine
    val vecs = corpus.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val scored = lshVectorCollisions(vecs, numPlanes, numTables, maxOccupancy)
        .select(col("id1"), col("id2"),
          round(graft_cosine(col("v1"), col("v2")), 4).as("sim"))
        .groupBy("id1", "id2").agg(max("sim").as("sim"))
      symmetricTopK(scored, k).localCheckpoint(true)
    } finally vecs.unpersist()
  }

  /** knnJoin's symmetric heap tail (also timed alone by ScaleCheck's
    * verify stage): each undirected scored pair (id1, id2, sim) feeds BOTH endpoints'
    * heaps via one inline explode — r7's self-unionByName evaluated the
    * whole upstream subtree twice (ReuseExchange dedupes the shuffles,
    * not the post-join map work), doubling the dominant per-pair cost.
    * Expects the pair stream already deduplicated on (id1, id2).
    */
  private[graft] def symmetricTopK(scored: DataFrame, k: Int): DataFrame = {
    val sym = scored.select(explode(array(
      struct(col("id1").as("qid"), col("id2").as("vid"), col("sim")),
      struct(col("id2").as("qid"), col("id1").as("vid"), col("sim")))).as("e"))
      .select(col("e.qid").as("qid"), col("e.vid").as("vid"), col("e.sim").as("sim"))
    topKPerQuery(sym, k)
  }

  /** Bipartite ANN join: top-k RIGHT-side cosine neighbors for EVERY left
    * row when BOTH sides are large — the batch-vs-index regime (today's
    * ingest against yesterday's corpus), where neither lshTopK's
    * broadcast-query contract nor knnJoin's self-join shape applies.
    * knnJoin's r16 discipline on two frames: banded-with-vector exchange
    * per side (n_side*tables rows), cross-side bucket join with the
    * cosine scored inline, pair dedup AFTER scoring, bounded-heap top-k
    * per left id. maxOccupancy splits skew buckets on the COMBINED
    * occupancy with the same t-seeded sub-hash — a cross pair separated
    * by one table's split still collides in the others.
    */
  def annJoin(left: DataFrame, right: DataFrame, idCol: String,
      vecCol: String, k: Int, numPlanes: Int = 8, numTables: Int = 8,
      maxOccupancy: Int = 64, contentSeededSplit: Boolean = false): DataFrame = {
    graft.functions.GraftFunctions.register(left.sparkSession)
    requireIntegralId(left, idCol)
    requireIntegralId(right, idCol)
    import graft.functions.GraftFunctions.graft_cosine
    val l = left.select(col(idCol).cast("long").as("lid"),
      col(vecCol).cast("array<double>").as("lv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val r = right.select(col(idCol).cast("long").as("rid"),
      col(vecCol).cast("array<double>").as("rv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // r16 verify-shape change (see knnJoin / lshVectorCollisions):
      // score inside the cross-side bucket join — vectors ride the
      // (t, bucket, sub) exchanges at n_side*tables rows, and the pair
      // stream carries only (qid, vid, sim) into the dedup; dedup moves
      // AFTER scoring (per-pair sim deterministic, max == the value).
      val scored = bipartiteVectorCollisions(l, r, numPlanes, numTables,
        maxOccupancy, contentSeededSplit)
        .select(col("lid").as("qid"), col("rid").as("vid"),
          round(graft_cosine(col("lv"), col("rv")), 4).as("sim"))
        .groupBy("qid", "vid").agg(max("sim").as("sim"))
      topKPerQuery(scored, k).localCheckpoint(true)
    } finally { l.unpersist(); r.unpersist() }
  }

  /** Scalar int8 quantization of an array<double> vector: per-vector
    * symmetric max-abs scaling, `round(v / maxabs * 127)` stored as
    * array<tinyint> — 4x fewer bytes than float32 (16x vs double) in scan,
    * cache, and shuffle. Cosine is invariant to per-vector scale, so the
    * scale factor never needs to be stored or re-applied for similarity
    * search: cos(quant(v), q) ~= cos(v, q) with error bounded by the
    * 1/254 rounding step per dimension. Pure higher-order functions —
    * codegen'd, no UDF.
    */
  def quantizeInt8(vec: Column): Column = {
    val maxAbs = aggregate(vec, lit(0.0d), (acc, v) => greatest(acc, abs(v)))
    // zip_with against array_repeat(maxAbs, ...) evaluates the max-abs
    // aggregate ONCE per row (as an argument), then streams it alongside
    // each element. Referencing maxAbs inside a transform() lambda instead
    // would inline the whole aggregate into the lambda body — re-evaluated
    // per ELEMENT, O(dim^2) per vector — and CSE does not reach inside
    // higher-order-function lambdas.
    zip_with(vec, array_repeat(greatest(maxAbs, lit(1e-12d)), size(vec)),
      (v, m) => round(v / m * 127).cast("tinyint"))
  }

  /** Brute-force cosine top-k over an int8-QUANTIZED corpus, asymmetric
    * (queries stay full-precision — they're tiny, and asymmetric distance
    * loses half the quantization error for free). This is the memory-bound
    * scale path: at 100 TB of float32 embeddings the scan is I/O-bound, and
    * the int8 corpus reads 4x fewer bytes for ~1e-3 cosine error; compose
    * with ivfTopK's inverted lists to also cut the candidate count. Same
    * exchange shape as bruteForceTopK: O(partitions * k) heap rows, no
    * corpus shuffle.
    */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    requireIntegralId(corpus, idCol)
    val c = corpus.select(col(idCol).cast("long").as("vid"),
      quantizeInt8(col(vecCol).cast("array<double>")).as("cv8"))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).cast("array<double>").as("qv"))
    val scored = c.crossJoin(broadcast(q))
      .withColumn("sim", round(graft.functions.GraftFunctions.graft_cosine(
        col("cv8").cast("array<double>"), col("qv")), 4))
    topKPerQuery(scored, k)
  }

  /** LSH-bucketed approximate top-k, OR-amplified over numTables independent
    * hyperplane signatures: a candidate is any corpus vector sharing ANY
    * table's bucket with the query. Each table's bucket join touches
    * ~corpus/2^planes vectors per query; duplicates across tables are
    * collapsed before the final heap. Single-table recall at cosine 0.95 is
    * ~0.4 — eight OR'd tables clear 0.95+ (measured in-query by x_ann_lsh).
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, numPlanes: Int = 8, numTables: Int = 8,
      nProbes: Int = 1): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    requireIntegralId(corpus, idCol)
    import graft.functions.GraftFunctions.{graft_cosine, graft_hyperplanes, graft_hyperplane_probes}
    // The corpus row (vector included) is duplicated numTables-fold by the
    // posexplode — acceptable HERE, unlike in Dedup.embeddingNearDup, because
    // the duplicates never reach an exchange: generate -> project -> broadcast-
    // hash probe on (t, bucket) run inside ONE whole-stage pipeline, so each
    // duplicate exists transiently per-row and non-matching candidates die at
    // the probe. (Dedup's bucket join is a corpus-corpus SHUFFLE join — there
    // the exploded rows ride the wire, so it bands ids only and joins vectors
    // back; doing that here would mean broadcasting an unbounded candidate
    // set or shuffling the corpus by vid to re-attach vectors.)
    val c = corpus.select(col(idCol).cast("long").as("vid"),
      col(vecCol).cast("array<double>").as("cv"))
      .select(col("vid"), col("cv"),
        posexplode(graft_hyperplanes(col("cv"), numPlanes, numTables))
          .as(Seq("t", "bucket")))
    // Multi-probe (nProbes > 1): the QUERY side also probes, per table, the
    // nProbes-1 cheapest margin perturbations of its signature (Lv et al.
    // VLDB'07 — see VectorOps.hyperplaneProbes). The recall a plain schedule
    // buys with more tables, multi-probe buys with more lookups into the
    // same tables: corpus-side work (hashes per vector, index copies) stays
    // at numTables while only the driver-small broadcast side fans out —
    // the right trade whenever the corpus dwarfs the query set, i.e.
    // exactly the broadcast-query contract this operator already has.
    // probe layout is table-major, so table id = pos / nProbes.
    val q = queries.select(col(idCol).as("qid"), col(vecCol).cast("array<double>").as("qv"))
      .select(col("qid"), col("qv"),
        posexplode(graft_hyperplane_probes(col("qv"), numPlanes, numTables, nProbes))
          .as(Seq("pos", "bucket")))
      .select(col("qid"), col("qv"), (col("pos") / nProbes).cast("int").as("t"),
        col("bucket"))
    // Score at candidate generation (both vectors are in hand), then collapse
    // multi-table duplicates keyed by (qid, vid) — cheaper than carrying the
    // vectors through a distinct and re-joining them back.
    val scored = c.join(broadcast(q), Seq("t", "bucket"))
      .withColumn("sim", round(graft_cosine(col("cv"), col("qv")), 4))
      .groupBy("qid", "vid").agg(max("sim").as("sim"))
    topKPerQuery(scored, k)
  }
}
