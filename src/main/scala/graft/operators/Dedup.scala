package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines.
  *
  * Scale design: every variant is shuffle-linear — a groupBy on a content
  * key (exact), or an LSH band-bucket join (MinHash/SimHash) that only ever
  * compares documents sharing a bucket. Nothing here is O(n²) in the corpus;
  * the quadratic step is confined to within-bucket candidate pairs, whose
  * size is controlled by the band/row parameters.
  */
object Dedup {

  /** Exact dedup: keep the lowest-id row per fingerprint. ONE shuffle on the
    * md5 key (window rank), not the groupBy + semi-join double shuffle — at
    * 100 TB that halves the dominant cost of hash-dedup.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(fingerprintMd5(col(textCol))).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** MinHash + LSH near-dup candidate pairs with exact Jaccard verification.
    *
    * Pipeline: tokens -> k-shingles -> numHashes MinHash signature -> band
    * keys -> explode -> self-join per (band, bhash) bucket -> distinct pairs
    * -> verify Jaccard on the true shingle sets.
    *
    * Returns (id1, id2, jaccard) with id1 < id2, jaccard >= threshold.
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, numHashes: Int = 64, numBands: Int = 16,
      threshold: Double = 0.8): DataFrame = {
    require(numBands > 0 && numHashes % numBands == 0,
      s"numHashes ($numHashes) must be a positive multiple of numBands ($numBands)" +
        " - rowsPerBand 0 would put the whole corpus in one bucket (O(n^2) join)")
    graft.functions.GraftFunctions.register(df.sparkSession)
    val rowsPerBand = numHashes / numBands
    // Persist the shingle table: it feeds the banding pass AND both sides of
    // the verification join — without it the corpus is tokenized+shingled
    // three times. MEMORY_AND_DISK so huge corpora spill instead of OOM.
    val sh = df.select(col(idCol).as("id"),
      graft.functions.GraftFunctions.graft_shingles(tokens(col(textCol)), shingleK).as("s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Band keys only — the shingle sets do NOT ride through the explode and
    // the bucket join (numBands-fold duplication of the widest column is the
    // thing that kills this at scale). Signature via the native kernel.
    // Persist the banded rows: the self-join's two sides are alias-renamed
    // copies of this subtree, and exchange reuse does NOT unify them — the
    // 64-hash signature pass (the numHashes x shingles kernel) would run
    // TWICE (NOTES round 9, 100x corpus: 9.1s for the join stage vs
    // 3.3s for one banding pass). The candidate set is materialized
    // eagerly (it is banding SURVIVORS — tiny) so the banded cache can be
    // released before the verify joins run.
    val banded = sh
      .select(col("id"),
        explode(minhashBands(
          graft.functions.GraftFunctions.graft_minhash(col("s"), numHashes),
          numBands, rowsPerBand)).as("bk"))
      .select(col("id"), col("bk.band"), col("bk.bhash"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = banded.select(col("band"), col("bhash"), col("id").as("id1"))
    val b = banded.select(col("band"), col("bhash"), col("id").as("id2"))
    val candidates = a.join(b, Seq("band", "bhash"))
      .where(col("id1") < col("id2"))
      .select("id1", "id2")
      .dropDuplicates("id1", "id2")
      .localCheckpoint(true)
    banded.unpersist(blocking = false)
    // Verify candidates on the true shingle sets, joined back by id —
    // UNHINTED, unlike the vector-op verifies (knnJoin/annJoin/
    // embeddingNearDup, where the candidate stream is structurally
    // occupancy x tables x corpus and the corpus side carries a
    // shuffle_hash hint). Here candidates are banding SURVIVORS — actual
    // near-dups, typically orders of magnitude fewer than the corpus
    // (25.6k pairs vs 500k docs at the 100x ScaleCheck corpus) — and the
    // best plan is AQE's runtime broadcast of the candidate side, which
    // streams the fat shingle table without shuffling it; a static hash
    // hint would force that 1 GB exchange (measured +0.4s on the minhash
    // row when this briefly carried one).
    // ONE set kernel, not two: |x ∩ y| = |x| + |y| - |x ∪ y| on sets —
    // the same integer numerator either way, hence the same double and
    // the same >= t decision (the ppjoin verify discipline).
    val result = candidates
      .join(sh.select(col("id").as("id1"), col("s").as("s1")), "id1")
      .join(sh.select(col("id").as("id2"), col("s").as("s2")), "id2")
      .withColumn("u", size(array_union(col("s1"), col("s2"))).cast("double"))
      .withColumn("jaccard",
        (size(col("s1")) + size(col("s2")) - col("u")) / col("u"))
      .where(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
    // Materialize the (small) pair list eagerly so the corpus-sized shingle
    // cache can be released NOW instead of squatting on executor memory for
    // the rest of the session (round-1 review: cache hygiene).
    val out = result.localCheckpoint(true)
    sh.unpersist()
    out
  }

  /** SimHash near-dup candidate pairs: 64-bit signature, 4x16-bit band
    * bucketing, hamming-distance verification.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val hashed = df
      .withColumn("__th", tokenHashes(col(textCol)))
      .select(col(idCol).as("id"),
        graft.functions.GraftFunctions.graft_simhash(col("__th")).as("h"))
    hammingPairs(hashed, maxHamming)
  }

  /** Hamming near-dup pairs over ANY (id, h: bigint) 64-bit signature
    * frame — the banding machinery shared by text simhash and image dHash:
    * 4x16-bit bands, a pair is a candidate when any band matches exactly
    * (guaranteed for hamming <= 3 by pigeonhole; probabilistic above),
    * then the exact popcount distance verifies. Signatures are 8 bytes, so
    * unlike the vector paths the hash RIDES the band join — there is no
    * cheaper key to carry.
    *
    * maxOccupancy: the bands are FIXED 16-bit keys (65536 buckets each),
    * so past ~65k rows expected occupancy — and the occupancy^2 pair
    * stream — grows linearly with n (quadratic total): the 1000x wall
    * the adaptive-plane LSH paths don't have. Oversized buckets split by
    * a sub-hash seeded by the SIGNATURE itself (content-seeded, the r9
    * LSH discipline): bit-identical signatures — true duplicates, whose
    * C(g,2) pairs are the output — can never be separated, while a
    * near-pair (distance 1..maxHamming) split in one band still collides
    * through the other bands' OR. Default 64 never fires at gate-SF
    * occupancies.
    */
  def hammingPairs(hashed0: DataFrame, maxHamming: Int,
      maxOccupancy: Int = 64, alignCols: Seq[String] = Nil): DataFrame =
    hammingCandidates(hashed0, maxOccupancy, alignCols)
      .dropDuplicates(alignCols ++ Seq("id1", "id2"))
      .withColumn("hamming", hammingDist(col("h1"), col("h2")))
      .where(col("hamming") <= maxHamming)
      .select((alignCols ++ Seq("id1", "id2", "hamming")).map(col): _*)

  /** The RAW banded candidate stream behind [[hammingPairs]] — band-join
    * output with id1 < id2, BEFORE the (id1,id2) dedup and the popcount
    * verify. This is the row volume the JoinBlowupListener observes on
    * the band join, exposed so evidence harnesses can publish the
    * candidate count and its redundancy (candidates per banded input
    * row) on the row where the curve lives: OR-banding carries every
    * true match once per matching band × position, so a duplicate-dense
    * corpus legitimately reads tens-of-× here while staying output-bound.
    */
  def hammingCandidates(hashed0: DataFrame,
      maxOccupancy: Int = 64, alignCols: Seq[String] = Nil): DataFrame = {
    // The signature frame is 16 bytes/row, but its LINEAGE carries the
    // expensive part (PNG render+decode for image dHash, tokenize+simhash
    // for text), and the band join consumes it up to three times
    // (occupancy aggregate + both join sides). Pin the tiny frame ONCE —
    // measured at the 100x corpus: x_media_dedup re-rendered the whole
    // 500k-image table per consumption without this.
    //
    // alignCols: position columns that must MATCH for two rows to pair
    // (video frame index; a shard or channel key would compose the same
    // way). They join the band key rather than post-filtering: each
    // position gets its own bucket space, so the candidate stream never
    // carries cross-position pairs at all — at 8 frames/video that is
    // ~9x less popcount work than filtering after a shared-bucket join.
    // Output carries the align columns; pairs dedupe per position.
    val hashed = hashed0.localCheckpoint(true)
    val ac = alignCols.map(col)
    val keyCols = alignCols ++ Seq("band", "bkey")
    val banded0 = hashed.select(ac ++ Seq(col("id"), col("h"),
      explode(simhashBands("h")).as("bk")): _*)
      .select(ac ++ Seq(col("id"), col("h"), col("bk.band"), col("bk.bkey")): _*)
    val banded =
      if (maxOccupancy <= 0) banded0.withColumn("sub", lit(0L))
      else {
        val over = banded0.groupBy(keyCols.map(col): _*)
          .agg(count(lit(1)).as("occ"))
          .where(col("occ") > maxOccupancy)
        banded0.join(broadcast(over), keyCols, "left")
          .withColumn("sub", when(col("occ").isNull, lit(0L)).otherwise(
            pmod(xxhash64(col("h"), col("band")),
              ceil(col("occ") / maxOccupancy).cast("long"))))
          .drop("occ")
      }
    val joinCols = keyCols :+ "sub"
    val a = banded.select((joinCols.map(col) ++
      Seq(col("id").as("id1"), col("h").as("h1"))): _*)
    val b = banded.select((joinCols.map(col) ++
      Seq(col("id").as("id2"), col("h").as("h2"))): _*)
    a.join(b, joinCols)
      .where(col("id1") < col("id2"))
  }

  /** Exact-duplicate collapse for single-hash near-dup families: (id, rep)
    * where `rep` is the lowest id sharing the row's signature — the ppjoin
    * identity-collapse discipline applied to hash fingerprints (image
    * dHash, audio spectral hash; videos use the multi-frame variant in
    * Multimodal.videoExactGroups). A class of g identical signatures
    * forms C(g,2) pairs NO banding can split — identical signatures land
    * in identical buckets by design, and hammingPairs' occupancy splitter
    * is content-seeded precisely so it can never separate them (see
    * MediaDedupSpec's hot-clique case). Collapse first, near-pair
    * REPRESENTATIVES only, answer intra-class pairs from group
    * membership in O(n). One hash-keyed window exchange.
    */
  def exactHashGroups(hashed: DataFrame): DataFrame =
    hashed.select(col("id"),
      min(col("id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("h")))
        .as("rep"))

  /** Exact n-gram Jaccard between given document pairs (the verification
    * primitive; also useful standalone over a candidate list).
    */
  def jaccardOfPairs(pairs: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, shingleK: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val sh = docs.select(col(idCol).as("__id"),
      graft.functions.GraftFunctions.graft_shingles(tokens(col(textCol)), shingleK).as("__s"))
    // unhinted: caller-provided pair lists are usually verify-sized — let
    // AQE pick broadcast at runtime (see minhashPairs' verify join-back)
    pairs
      .join(sh.withColumnRenamed("__id", "id1").withColumnRenamed("__s", "s1"), "id1")
      .join(sh.withColumnRenamed("__id", "id2").withColumnRenamed("__s", "s2"), "id2")
      .withColumn("__u", size(array_union(col("s1"), col("s2"))).cast("double"))
      .withColumn("jaccard",
        (size(col("s1")) + size(col("s2")) - col("__u")) / col("__u"))
      .drop("s1", "s2", "__u")
  }

  /** EXACT set-similarity self-join via prefix filtering (the AllPairs /
    * PPJoin family — Bayardo et al., WWW'07; Xiao et al., WWW'08): ALL
    * pairs with shingle-set Jaccard >= threshold, with zero false
    * negatives — the deterministic complement to minhashPairs, for
    * pipelines whose dedup contract is "every pair above t, guaranteed"
    * rather than probabilistic recall.
    *
    * The prefix theorem: order every document's shingles by one GLOBAL
    * total order; two sets with Jaccard >= t must share at least one
    * token among each side's first (|s| - ceil(t*|s|) + 1) tokens. So the
    * inverted-index join only ever runs on that PREFIX, and by choosing
    * the order rarest-document-frequency-first the prefix tokens are
    * exactly the ones with the smallest df^2 join fan-out — the frequent
    * shingles (the quadratic hazard of a naive token join) never enter
    * the index at all.
    *
    * Scale shape (no O(n^2) anywhere, no broadcast dictionary): one
    * aggregate for global shingle dfs, one shingle-keyed shuffle into a
    * per-doc rank aggregate (ppjoinAgg), the prefix-confined inverted
    * join, then the exact verify join-back by id on compact gid sets
    * (AQE broadcasts the survivor-sized candidate list). The
    * prefix length uses floor(t*|s|) rather than ceil: mathematically
    * >= the tight bound regardless of FP rounding of t*|s|, so float
    * error can only ever ADD a candidate, never lose a pair. The same
    * one-sided discipline puts a -1e-9 slack on the length filter
    * (Jaccard >= t forces min|s| >= t*max|s|) and on the POSITIONAL
    * filter (PPJoin's second idea): a shared prefix token at ranks
    * (i, j) caps the possible overlap at 1 + min(|x|-i, |y|-j), and
    * J >= t needs overlap >= t/(1+t)*(|x|+|y|) — occurrences that can't
    * reach it are dropped BEFORE the pair ever exists. Measured at the
    * 100x ScaleCheck corpus this is the difference between a 4.7M- and
    * a ~1M-pair verify stream (NOTES round 9), and the verify join-back is
    * the operator's dominant stage — the ranks ride the join for free
    * since the prefix already computed them.
    *
    * Returns (id1, id2, jaccard) with id1 < id2, jaccard >= threshold —
    * bit-identical to brute force (PpjoinSpec pins set equality).
    */
  def ppjoinPairs(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, threshold: Double = 0.8): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold ($threshold) must be in (0, 1] - at 0 the prefix is the " +
        "whole document and the join degenerates to the full inverted index")
    graft.functions.GraftFunctions.register(df.sparkSession)
    // No persist on the shingle frame: since the verify moved to the
    // collapsed gid frame, ppjoinAgg is its ONLY consumer — the old
    // MEMORY_AND_DISK pin just wrote a corpus-sized array table nobody
    // read twice.
    val sh = df.select(col(idCol).as("id"),
      graft.functions.GraftFunctions.graft_shingles(tokens(col(textCol)), shingleK).as("s"))
    val agg = ppjoinAgg(sh)
    // Identity collapse (the prefix join's FREQUENCY LEVER, r9 verdict #1):
    // documents with bit-identical shingle sets — exact duplicates, the
    // one corpus shape that makes the prefix-inverted lists quadratic
    // with every candidate surviving every filter (J = 1 passes anything)
    // — are grouped to ONE representative before the join. A g-member
    // group then costs the prefix stage one doc instead of g, its g^2
    // candidate pairs never exist, and the C(g,2) output rows (jaccard
    // exactly 1) are emitted by a constant-cost expansion instead of the
    // verify kernel. Exactness is preserved by construction: J depends
    // only on the set, so a member pair's jaccard IS its rep pair's, and
    // within-group pairs are identically 1 >= t. Grouped by the `sorted`
    // struct array ITSELF, not a fingerprint — a 64-bit hash would trade
    // the operator's zero-false-anything contract for a collision
    // lottery — and the exchange is ONE corpus pass of the same arrays
    // the verify join already ships per candidate pair (NOTES round 9,
    // skewed corpus, 50k distinct + 8k-copy block = 32M true pairs: collapsed
    // 28.1s vs per-doc 64.7s, and the per-doc gap grows with g^2 while
    // the collapsed path is output-bound).
    val groups = identityGroups(agg)
    val candidates = freezeOnDisk(ppjoinCandidatesFromAgg(groups, threshold))
    ppjoinVerifyExpand(groups, candidates, threshold)
  }

  /** Eager local checkpoint of one of ppjoinPairs' stage frames, stored
    * DISK_ONLY: the frozen rows live in the block manager's local files,
    * not as deserialized rows on the heap. A MEMORY_AND_DISK checkpoint
    * outlives several young collections while the later stages read it,
    * so it is tenured, and its blocks are only released once a full GC
    * lets the ContextCleaner see the dead checkpoint — every call left its
    * frames in the old generation, and repeated calls raised the
    * process's resident peak round by round. The frames hold one row per
    * document or candidate pair and each is read only a few times, so
    * reading them back from local files costs little.
    */
  private def freezeOnDisk(df: DataFrame): DataFrame =
    df.localCheckpoint(eager = true,
      org.apache.spark.storage.StorageLevel.DISK_ONLY)

  /** ppjoinPairs' verify + expansion stage over the collapsed group frame —
    * factored out so ScaleCheck can time the verify term alone (the
    * per-stage decomposition the r9 verdict demands on the set-join rows).
    *
    * Exact verification on each rep's GID set, not its shingle strings:
    * the gid relabeling is a bijection, so |intersection| and |union| are
    * identical to the string sets' — same integers, same double, same
    * >= t decision — while the arrays are 8-byte longs with a ~3x
    * smaller join payload than UTF8 shingles. The arrays are sorted
    * ascending once per GROUP (array_sort on longs), so each candidate
    * PAIR intersects via the graft_sorted_intersect merge kernel —
    * O(|x|+|y|) long compares, no per-pair hash-set build (array_union's
    * cost shape) and no per-pair allocation. Unhinted — same AQE
    * broadcast rationale as minhashPairs' verify join-back.
    */
  private[graft] def ppjoinVerifyExpand(groups: DataFrame,
      candidates: DataFrame, threshold: Double): DataFrame = {
    import graft.functions.GraftFunctions.graft_sorted_intersect
    val gids = groups.select(col("id"),
      array_sort(transform(col("sorted"), x => x.getField("gid"))).as("gs"),
      col("len"))
    val repPairs = candidates
      .join(gids.select(col("id").as("id1"), col("gs").as("g1"),
        col("len").as("l1")), "id1")
      .join(gids.select(col("id").as("id2"), col("gs").as("g2"),
        col("len").as("l2")), "id2")
      .withColumn("i",
        graft_sorted_intersect(col("g1"), col("g2")).cast("double"))
      .withColumn("jaccard", col("i") / (col("l1") + col("l2") - col("i")))
      .where(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
    // Expansion: rep pairs fan back out to member pairs (same jaccard —
    // sets identical within a group), and each multi-member group emits
    // its own C(g,2) pairs at jaccard exactly 1.0. Group ids partition
    // the corpus, so least/greatest ordering can never collide with a
    // within-group pair and every member pair is emitted exactly once.
    val expanded = repPairs
      .join(groups.select(col("id").as("id1"), col("members").as("m1")), "id1")
      .join(groups.select(col("id").as("id2"), col("members").as("m2")), "id2")
      .select(explode(col("m1")).as("a"), col("m2"), col("jaccard"))
      .select(col("a"), explode(col("m2")).as("b"), col("jaccard"))
      .select(least(col("a"), col("b")).as("id1"),
        greatest(col("a"), col("b")).as("id2"), col("jaccard"))
    val within = groups.where(size(col("members")) > 1)
      .select(posexplode(col("members")).as(Seq("i", "id1")), col("members"))
      .select(col("id1"), explode(
        slice(col("members"), col("i") + lit(2), size(col("members")))).as("id2"))
      .withColumn("jaccard", lit(1.0))
      .select("id1", "id2", "jaccard")
    freezeOnDisk(expanded.unionByName(within))
  }

  /** The identity-collapse frame: one row per DISTINCT shingle set —
    * (sorted, len, id = min member id, members = sorted member ids). The
    * rep rows feed the prefix stage directly (same schema as ppjoinAgg
    * plus `members`), so the collapse costs exactly one exchange keyed by
    * the struct array and removes every duplicate document from the
    * quadratic stages. Checkpointed: it feeds the prefix self-join sides,
    * the verify join and both expansion joins off one frozen frame.
    */
  private[graft] def identityGroups(agg: DataFrame): DataFrame =
    freezeOnDisk(agg.groupBy(col("sorted"), col("len"))
      .agg(min(col("id")).as("id"),
        sort_array(collect_list(col("id"))).as("members")))

  /** ppjoinPairs' shared per-document frame: (id, len, sorted) where
    * `sorted` is the doc's shingles as (df, gid) structs in the global
    * rarest-first order. Eagerly checkpointed — the gid relabeling
    * (monotonically_increasing_id over the df aggregate) is collision-free
    * but NOT stable across re-evaluations, and this frame feeds the
    * prefix's self-join sides AND the verify join, all of which must read
    * ONE frozen assignment (alias-renamed subtree copies re-evaluate
    * independently — the r9 banded-persist lesson). Compact 8-byte gids
    * instead of shingle strings: measured 7.7s -> 5.3s on the rank stage
    * at the 100x ScaleCheck corpus, and the verify's set kernel runs on
    * long arrays.
    */
  private[graft] def ppjoinAgg(sh: DataFrame): DataFrame = {
    // Shingle stream WITHOUT the fat set column (ids + one shingle per row).
    val ex = sh.select(col("id"), size(col("s")).as("len"),
      explode(col("s")).as("g"))
      // Shingle-keyed repartition: the df aggregate and the df-attach
      // probe both read ex hashed by g, so the aggregate runs post-shuffle
      // (partial+final in place, no exchange of its own) and the join adds
      // no exchange on either side. The two consumers do NOT share one
      // exchange, though (explain() confirms): column pruning pushes the
      // aggregate's need for g alone below the repartition, so its side
      // explodes s and ships g only, while the probe side ships (id, len,
      // g) under an inferred isnotnull(g) filter. The subtrees differ,
      // ReuseExchange cannot merge them, and the exploded stream shuffles
      // twice — once narrow (g) and once wide (id, len, g); the traced
      // benchmark corpus_dedup round shows the pair as two shuffle jobs.
      .repartition(col("g"))
    val dfreq = ex.groupBy("g").agg(count(lit(1)).as("df"))
      .withColumn("gid", monotonically_increasing_id())
    // Global rarest-first order = (df, gid): a total order on shingle
    // VALUES (gid unique), identical across documents once frozen. Rank
    // each document's shingles in it via a per-doc AGGREGATE (collect +
    // ~50-element array_sort), not a row_number window: the window sorts
    // the whole exploded stream within each exchange partition, the
    // aggregate sorts each document's own tiny array.
    // struct(df, gid) sorts field-wise = exactly (df, gid).
    // shuffle_hash on the dfreq side: without it the planner's default
    // SortMergeJoin sorts the full exploded stream by shingle STRING — at
    // the 100x ScaleCheck corpus that's a 46M-row string sort on the probe
    // side. Hash-building the distinct-shingle side (its per-partition
    // share is distinct/numPartitions — bounded at any corpus by scaling
    // the shuffle) skips both sorts.
    freezeOnDisk(ex.join(dfreq.hint("shuffle_hash"), "g")
      .groupBy("id").agg(
        array_sort(collect_list(struct(col("df"), col("gid")))).as("sorted"),
        first(col("len")).as("len")))
  }

  /** ppjoinPairs' candidate stage over the ppjoinAgg frame — factored out
    * so ScaleCheck can publish the candidate-pair volume (the quantity the
    * verify join's cost rides on) per scale.
    */
  private[graft] def ppjoinCandidatesFromAgg(agg: DataFrame,
      threshold: Double): DataFrame = {
    val prefix = agg.select(col("id"), col("len"),
      posexplode(slice(col("sorted"), lit(1),
        col("len") - floor(lit(threshold) * col("len")).cast("int") + 1)))
      .select(col("col.gid").as("gid"), col("id"), col("len"),
        (col("pos") + 1).as("rank"))
    val a = prefix.select(col("gid"), col("id").as("id1"),
      col("len").as("len1"), col("rank").as("rank1"))
    val b = prefix.select(col("gid"), col("id").as("id2"),
      col("len").as("len2"), col("rank").as("rank2"))
    // positional filter: overlap needed for J >= t is t/(1+t)*(len1+len2)
    // (real-valued lower bound of the integer ceil — one-sided, never
    // over-prunes); overlap possible from this occurrence on is
    // 1 + min(len1-rank1, len2-rank2) (ranks share ONE global order).
    val needed = lit(threshold / (1.0 + threshold)) *
      (col("len1") + col("len2")) - lit(1e-9)
    a.join(b, Seq("gid"))
      .where(col("id1") < col("id2") &&
        least(col("len1"), col("len2")).cast("double") >=
          lit(threshold) * greatest(col("len1"), col("len2")) - lit(1e-9) &&
        (lit(1) + least(col("len1") - col("rank1"),
          col("len2") - col("rank2"))).cast("double") >= needed)
      .select("id1", "id2")
      .dropDuplicates("id1", "id2")
  }

  /** Candidate count over a pre-shingled (id, s) frame — the ScaleCheck
    * pair-cell entry point. Runs the identity collapse first so the
    * published count is the verify stream the production query generates.
    */
  private[graft] def ppjoinCandidates(sh: DataFrame,
      threshold: Double): DataFrame =
    ppjoinCandidatesFromAgg(identityGroups(ppjoinAgg(sh)), threshold)

  /** EXACT bipartite set-similarity join — the R-S form of the AllPairs /
    * PPJoin family (ppjoinPairs is the self-join special case): every
    * (left, right) pair with shingle-set Jaccard >= threshold, zero false
    * negatives. The cross-corpus dedup primitive: "flag every corpus
    * document near-duplicate of a benchmark / blocklist / previously-
    * ingested document" — deterministic where a bipartite LSH would trade
    * recall for speed, which matters exactly when the contract is
    * decontamination (a missed benchmark leak is a poisoned eval).
    *
    * Same machinery as ppjoinPairs with both sides ranked in ONE global
    * rarest-first (df, gid) order — dfs are computed over the UNION of
    * both sides, because the prefix theorem needs a single total order
    * spanning them: J(x,y) >= t forces an overlap alpha >= t/(1+t)
    * (|x|+|y|) >= ceil(t*|x|) given the length filter |y| >= t*|x|, so
    * the (|x| - ceil(t*|x|) + 1)-prefixes of BOTH sides must intersect —
    * the same one-sided floor/slack discipline as the self-join. Scale
    * shape: the union df aggregate and attach ride one shingle-keyed
    * exchange (the ppjoinAgg rationale); candidates are bounded per gid
    * by (left-prefix x right-prefix) products, and rarest-first keeps
    * frequent shingles out of both prefixes — either side may be the
    * large one.
    *
    * Returns (id1 = left id, id2 = right id, jaccard >= threshold).
    */
  def crossJaccardJoin(left: DataFrame, lIdCol: String, lTextCol: String,
      right: DataFrame, rIdCol: String, rTextCol: String,
      shingleK: Int = 3, threshold: Double = 0.8): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold ($threshold) must be in (0, 1] - at 0 the prefix is the " +
        "whole document and the join degenerates to the full inverted index")
    graft.functions.GraftFunctions.register(left.sparkSession)
    def shingled(df: DataFrame, id: String, text: String, side: Int) =
      df.select(lit(side).as("side"), col(id).as("id"),
        graft.functions.GraftFunctions.graft_shingles(
          tokens(col(text)), shingleK).as("s"))
    val both = shingled(left, lIdCol, lTextCol, 0)
      .unionByName(shingled(right, rIdCol, rTextCol, 1))
    val agg = crossJaccardAgg(both)
    // identity collapse per side (the ppjoinPairs lever, keyed by (side,
    // set)): a corpus of g exact copies of a leaked benchmark doc costs
    // the prefix join one row and expands to g output pairs afterwards
    val groups = identityGroupsBySide(agg)
    val candidates = crossJaccardCandidatesFromAgg(groups, threshold)
      .localCheckpoint(true)
    crossJaccardVerifyExpand(groups, candidates, threshold)
  }

  /** crossJaccardJoin's verify + expansion over the per-side collapsed
    * frame — exact verify on sorted gid sets (the ppjoinPairs kernel
    * discipline), then the rep-pair fan-out to member pairs. No
    * within-group emission: same-side pairs are not this join's output.
    */
  private[graft] def crossJaccardVerifyExpand(groups: DataFrame,
      candidates: DataFrame, threshold: Double): DataFrame = {
    import graft.functions.GraftFunctions.graft_sorted_intersect
    val gids = groups.select(col("side"), col("id"),
      array_sort(transform(col("sorted"), x => x.getField("gid"))).as("gs"),
      col("len"))
    val repPairs = candidates
      .join(gids.where(col("side") === 0).select(col("id").as("id1"),
        col("gs").as("g1"), col("len").as("l1")), "id1")
      .join(gids.where(col("side") === 1).select(col("id").as("id2"),
        col("gs").as("g2"), col("len").as("l2")), "id2")
      .withColumn("i",
        graft_sorted_intersect(col("g1"), col("g2")).cast("double"))
      .withColumn("jaccard", col("i") / (col("l1") + col("l2") - col("i")))
      .where(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
    val result = repPairs
      .join(groups.where(col("side") === 0)
        .select(col("id").as("id1"), col("members").as("m1")), "id1")
      .join(groups.where(col("side") === 1)
        .select(col("id").as("id2"), col("members").as("m2")), "id2")
      .select(explode(col("m1")).as("id1"), col("m2"), col("jaccard"))
      .select(col("id1"), explode(col("m2")).as("id2"), col("jaccard"))
      .select("id1", "id2", "jaccard")
    result.localCheckpoint(true)
  }

  /** identityGroups keyed additionally by side — one doc may appear on
    * BOTH sides under the same id (refs drawn from the corpus), and
    * same-side grouping is what the expansion's side-filtered joins rely
    * on.
    */
  private[graft] def identityGroupsBySide(agg: DataFrame): DataFrame =
    agg.groupBy(col("side"), col("sorted"), col("len"))
      .agg(min(col("id")).as("id"),
        sort_array(collect_list(col("id"))).as("members"))
      .localCheckpoint(true)

  /** crossJaccardJoin's shared per-(side, doc) rank frame — ppjoinAgg
    * generalized by the side tag (one doc may appear on BOTH sides under
    * the same id: refs drawn from the corpus — so the grouping key is
    * (side, id)); g-keyed repartition (pruned into a narrow and a wide
    * exchange, as in ppjoinAgg), hash-built dfreq side, frozen gid
    * assignment via the eager checkpoint.
    */
  private[graft] def crossJaccardAgg(both: DataFrame): DataFrame = {
    val ex = both.select(col("side"), col("id"), size(col("s")).as("len"),
      explode(col("s")).as("g"))
      .repartition(col("g"))
    val dfreq = ex.groupBy("g").agg(count(lit(1)).as("df"))
      .withColumn("gid", monotonically_increasing_id())
    ex.join(dfreq.hint("shuffle_hash"), "g")
      .groupBy("side", "id").agg(
        array_sort(collect_list(struct(col("df"), col("gid")))).as("sorted"),
        first(col("len")).as("len"))
      .localCheckpoint(true)
  }

  /** crossJaccardJoin's candidate stage — factored out so ScaleCheck can
    * publish the candidate-pair volume (the verify join's cost axis) per
    * scale, the same cell its self-join sibling carries.
    */
  private[graft] def crossJaccardCandidatesFromAgg(agg: DataFrame,
      threshold: Double): DataFrame = {
    def prefix(side: Int) = agg.where(col("side") === side)
      .select(col("id"), col("len"),
        posexplode(slice(col("sorted"), lit(1),
          col("len") - floor(lit(threshold) * col("len")).cast("int") + 1)))
      .select(col("col.gid").as("gid"), col("id"), col("len"),
        (col("pos") + 1).as("rank"))
    val a = prefix(0).select(col("gid"), col("id").as("id1"),
      col("len").as("len1"), col("rank").as("rank1"))
    val b = prefix(1).select(col("gid"), col("id").as("id2"),
      col("len").as("len2"), col("rank").as("rank2"))
    // length + positional filters: identical math to the self-join (no
    // id1 < id2 — the sides are distinct frames)
    val needed = lit(threshold / (1.0 + threshold)) *
      (col("len1") + col("len2")) - lit(1e-9)
    a.join(b, Seq("gid"))
      .where(least(col("len1"), col("len2")).cast("double") >=
          lit(threshold) * greatest(col("len1"), col("len2")) - lit(1e-9) &&
        (lit(1) + least(col("len1") - col("rank1"),
          col("len2") - col("rank2"))).cast("double") >= needed)
      .select("id1", "id2")
      .dropDuplicates("id1", "id2")
  }

  /** Embedding-cosine near-dup pairs via hyperplane-LSH bucketing,
    * OR-amplified over numTables independent signatures: a candidate pair is
    * any two vectors sharing ANY table's bucket (same banding idea as
    * minhashPairs). A single 8-plane signature collides at cosine 0.95 with
    * probability ~(1-theta/pi)^8 ~ 0.4 — eight OR'd tables push pair recall
    * past 0.98 while the join stays bucket-confined and shuffle-linear.
    * Candidates are verified with exact cosine before thresholding.
    */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, numPlanes: Int = 8, numTables: Int = 8,
      maxOccupancy: Int = 32, contentSeededSplit: Boolean = false): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    import graft.functions.GraftFunctions.graft_cosine
    // Vectors feed the banded sides and the occupancy aggregate — persist
    // so the source isn't scanned per pass, release at the end.
    val vecs = df.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // r16 verify-shape change (see Similarity.lshVectorCollisions): the
      // exact cosine is evaluated INSIDE the bucket join, the threshold
      // filter runs on the collision stream (a verifier's filter passes
      // ~nothing, so the dedup exchange after it is survivor-sized), and
      // the pairs x vector join-back of the old ids-only shape never
      // exists. maxOccupancy splits skew-tail buckets by a per-table
      // secondary hash — for a VERIFIER the cohabitant crowd is pure
      // waste (recall comes from the signature), so the worst-case bound
      // costs essentially no recall.
      Similarity.lshVectorCollisions(vecs, numPlanes, numTables,
        maxOccupancy, contentSeededSplit)
        .withColumn("cosine", graft_cosine(col("v1"), col("v2")))
        .where(col("cosine") >= threshold)
        .select("id1", "id2", "cosine")
        .dropDuplicates("id1", "id2")
        .localCheckpoint(true)
    } finally vecs.unpersist()
  }

  /** SemDeDup-style semantic near-dup pairs (Abbas et al., arXiv:2303.09540):
    * k-means CLUSTERS are the candidate buckets instead of LSH tables — the
    * right trade when the corpus has real cluster structure (LSH planes are
    * data-oblivious; learned centroids put density boundaries where the data
    * is sparse, so a bucket holds semantic neighbors, not orthant-mates).
    *
    * Pipeline: fit nlist centroids (Lloyd's via treeAggregate — zero corpus
    * shuffle, same fit ivfTopK uses) -> assign every vector to its TOP-2
    * centroids (graft_nearest2_centroids, one narrow codegen'd projection;
    * multi-assignment is the boundary fix — a near-dup pair straddling a
    * Voronoi face still meets through either point's runner-up cluster) ->
    * within-cluster candidate pairs (ids only through the exchange) -> exact
    * cosine verify by join-back-by-id -> threshold.
    *
    * Scale: candidate work is sum over clusters of occupancy², so callers
    * scale nlist ~ n/targetOccupancy exactly like adaptivePlanes scales LSH
    * buckets; maxOccupancy splits skew-tail clusters by a secondary id-hash,
    * bounding worst-case within-cluster work at n*maxOccupancy per
    * assignment pass (a split can hide a pair ONLY in an oversized cluster —
    * the documented SemDeDup trade for k-means buckets, which unlike LSH
    * tables have no OR-amplification to absorb it; size maxOccupancy well
    * above the expected occupancy so it only fires on the skew tail).
    * The fit itself is nlist*dim driver state and iterations narrow passes.
    *
    * Returns (id1, id2, cosine) with id1 < id2, cosine >= threshold.
    */
  def semanticNearDup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.99, nlist: Int = 16, iterations: Int = 3,
      maxOccupancy: Int = 0, fitSampleMax: Int = 20000,
      refineTarget: Int = 12, refineThreshold: Double = Double.NaN): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    import graft.functions.GraftFunctions.{graft_cosine, graft_hyperplanes}
    val vecs = df.select(col(idCol).cast("long").as("vid"),
      col(vecCol).cast("array<double>").as("cv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // Fit on a bounded hash-spread subset (SemDeDup fits its clustering
      // on a corpus subset too): Lloyd's cost is passes x |fit set| x
      // nlist x dim, and with nlist scaling ~n/occupancy an unsampled fit
      // is O(n^2) — ScaleCheck measured the hump at exactly the nlist cap
      // (24x time at 100x data, fit-dominated). Bucket quality needs
      // centroids near the data's density modes, not per-point precision,
      // so a 20k-row sample is plenty; the corpus-sized work drops to the
      // ONE narrow top-2 assignment pass, linear in n once nlist caps.
      // Deterministic subset (id-hash filter), so the fitted layout — and
      // the oracle-gated recall — is reproducible run to run. No-op at
      // gate SFs (n <= fitSampleMax there).
      val n = vecs.count()
      val fitSet =
        if (n <= fitSampleMax) vecs
        else vecs.where(pmod(xxhash64(col("vid")),
          lit((n + fitSampleMax - 1) / fitSampleMax)) === 0)
      val centroids = Similarity.fitCentroids(fitSet, nlist, iterations,
        cacheSample = n > fitSampleMax)
      // (id, cid) assignment rows — array_distinct because a 1-centroid fit
      // repeats the winner; only ids ride the bucket exchange.
      // Within-cluster LSH refinement: nlist caps (the fit/assign cost
      // wall), so beyond the cap the expected cluster occupancy — and the
      // occupancy^2 pair stream — grows linearly with n. A p-plane
      // hyperplane signature INSIDE each cluster restores bounded
      // occupancy: p = log2(expOcc/refineTarget), i.e. exactly enough
      // planes to land occupancy back at refineTarget. Recall stays a
      // contract, not luck: at threshold 0.99 (theta/pi ~ 0.032) one
      // p=3..4 signature keeps a true pair with prob ~0.88-0.91, and the
      // top-2 multi-assignment gives two DECORRELATED shots — the
      // signature table is chosen by cid (cid mod 4), so a pair's two
      // shared clusters usually hash it with different planes —
      // compounding to ~0.99 per pair. Choosing the table by cid (not by
      // assignment rank) is load-bearing: both endpoints of a pair in
      // cluster c must use c's planes or their signatures are
      // incomparable.
      val expOcc = 2.0 * n / nlist
      // Recall-capped plane budget: occupancy sizing alone keeps the plane
      // count fixed as threshold drops, but the collision angle theta
      // grows — the same p planes then cost far more per-pair recall. Cap
      // p so the two-decorrelated-shot survival 1-(1-p1)^2 stays >= 0.97
      // (p1 = (1-theta/pi)^p, Charikar), the same contract-first sizing
      // tablesForRecall applies to table counts. At the default 0.99
      // threshold the cap is 4 (today's schedule untouched); at 0.95 it
      // is 1, and by ~0.9 refinement shuts off rather than silently
      // dropping pairs — occupancy is then bounded by maxOccupancy alone.
      // refineThreshold (diagnostic knob): lets a candidate-counting pass
      // (verify threshold -1 = pass-through) size the refinement planes
      // from the PRODUCTION threshold, so the counted candidate volume is
      // the one the real query generates.
      val refT = if (refineThreshold.isNaN) threshold else refineThreshold
      val thetaFrac =
        math.acos(math.max(-1.0, math.min(1.0, refT))) / math.Pi
      val p1Min = 1.0 - math.sqrt(1.0 - 0.97)
      val pCap =
        if (thetaFrac <= 0.0) 12
        else math.max(0, math.floor(math.log(p1Min) / math.log1p(-thetaFrac)).toInt)
      val refinePlanes = math.max(0, math.min(math.min(12, pCap),
        math.ceil(math.log(expOcc / math.max(1, refineTarget)) / math.log(2)).toInt))
      val sigTables = 4
      // Top-2 assignment via a BROADCAST codebook + batched kernel, not a
      // typedlit expression: the literal shipped the 2 MB codebook inside
      // every task binary and ran the kernel row-at-a-time (L3-bound —
      // each row re-streams the whole codebook). The broadcast rides the
      // torrent once per executor, and nearest2CentroidsBatch loads each
      // codebook row once per 16-query block (~1.5-2x on the operator's
      // most expensive narrow stage, bit-identical assignments). Rows
      // whose dim differs from the codebook's (degenerate input) route
      // through the per-row path for the general-path semantics.
      val session = df.sparkSession
      import session.implicits._
      val bcCb = session.sparkContext.broadcast(
        (centroids, graft.functions.VectorOps.l2Norms(centroids)))
      // Null-vector rows drop from assignment (the old expression path's
      // explode(null) did the same); null ELEMENTS drop too — a vector
      // with missing dimensions has no meaningful cosine to verify.
      val assigned0 = vecs.select(col("vid"), col("cv"))
        .where(col("cv").isNotNull && !exists(col("cv"), x => x.isNull))
        .as[(Long, Array[Double])]
        .mapPartitions { it =>
          val (cb, norms) = bcCb.value
          val dim = if (cb.nonEmpty) cb(0).length else 0
          val batch = 16
          val ids = new Array[Long](batch)
          val vs = new Array[Array[Double]](batch)
          val best = new Array[Int](batch)
          val second = new Array[Int](batch)
          it.grouped(batch).flatMap { chunk =>
            var m = 0
            val out = scala.collection.mutable.ArrayBuffer
              .empty[(Long, Array[Double], Int)]
            chunk.foreach { case (id, v) =>
              if (v.length == dim) { ids(m) = id; vs(m) = v; m += 1 }
              else {
                // degenerate dim: per-row path, general semantics
                val r = graft.functions.VectorOps.nearest2Centroids(
                  new org.apache.spark.sql.catalyst.util.GenericArrayData(
                    v.map(x => x: Any)),
                  new org.apache.spark.sql.catalyst.util.GenericArrayData(
                    cb.map(row => new org.apache.spark.sql.catalyst.util
                      .GenericArrayData(row.map(x => x: Any)): Any)))
                out += ((id, v, r.getInt(0)))
                if (r.getInt(1) != r.getInt(0)) out += ((id, v, r.getInt(1)))
              }
            }
            graft.functions.VectorOps.nearest2CentroidsBatch(
              vs, m, cb, norms, best, second)
            var b = 0
            while (b < m) {
              out += ((ids(b), vs(b), best(b)))
              if (second(b) != best(b)) out += ((ids(b), vs(b), second(b)))
              b += 1
            }
            out
          }
        }.toDF("id", "cv", "cid")
      // The assignment pass (n x nlist kernel work — the operator's
      // single most expensive narrow stage) feeds the occupancy aggregate
      // AND both join sides: persist it or it runs three times.
      val assigned =
        (if (refinePlanes == 0) assigned0.withColumn("sig", lit(0L))
         else assigned0.withColumn("sig", element_at(
           graft_hyperplanes(col("cv"), refinePlanes, sigTables),
           (pmod(col("cid"), lit(sigTables)) + 1).cast("int"))))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val bucketed =
        if (maxOccupancy <= 0) assigned.withColumn("sub", lit(0L))
        else {
          val over = assigned.groupBy("cid", "sig")
            .agg(count(lit(1)).as("occ"))
            .where(col("occ") > maxOccupancy)
          // Sub-hash seeded by cid: a pair sharing BOTH clusters (source and
          // runner-up) gets independent splits in each — the same
          // decorrelation lshCandidatePairs gets from seeding by table.
          assigned.join(broadcast(over), Seq("cid", "sig"), "left")
            .withColumn("sub", when(col("occ").isNull, lit(0L)).otherwise(
              pmod(xxhash64(col("id"), col("cid")),
                ceil(col("occ") / maxOccupancy).cast("long"))))
            .drop("occ")
        }
      // Verify-join shape: OPPOSITE of lshCandidatePairs' ids-only + two
      // join-backs, deliberately. There the banded rows are n x T tables
      // (T up to 22) and candidate dups across tables are re-verified
      // T-fold without the pre-verify dedup — ids-only wins. Here the
      // multiplicity is exactly 2 (top-2 clusters), so vectors ride the
      // bucket exchange at 2n rows TOTAL, the joined pair stream hits the
      // inline cosine filter WITHOUT ever being shuffled (a dedup
      // verifier's filter passes ~nothing), and dropDuplicates runs on
      // survivors, not candidates. Measured at the 100x ScaleCheck
      // corpus: the ids-only shape shuffled 19.5M candidate pairs into
      // two vector joins (~40s); this shape exchanges 2n vector-bearing
      // rows (~200 MB) and streams the pairs (NOTES round 8).
      val a = bucketed.select(col("cid"), col("sig"), col("sub"),
        col("id").as("id1"), col("cv").as("v1"))
      val b = bucketed.select(col("cid"), col("sig"), col("sub"),
        col("id").as("id2"), col("cv").as("v2"))
      val result = a.join(b, Seq("cid", "sig", "sub"))
        .where(col("id1") < col("id2"))
        .withColumn("cosine", graft_cosine(col("v1"), col("v2")))
        .where(col("cosine") >= threshold)
        .select("id1", "id2", "cosine")
        .dropDuplicates("id1", "id2")
      val out = result.localCheckpoint(true)
      assigned.unpersist()
      out
    } finally vecs.unpersist()
  }
}
