package graft.queries

import graft.SparkSpec

/** Plan-shape assertions: the 100 TB contract is about WHICH plan runs,
  * not just the small-SF result — a regression that silently swaps a
  * broadcast join for a cartesian product, or un-pushes a scan filter,
  * would stay green on every value-checking gate. These specs pin the
  * plan properties the queries were designed around.
  */
class PlanShapeSpec extends SparkSpec {

  private def plan(name: String): String = {
    val df = graft.SparkEntry.queries(name)(spark, sf0001)
    df.queryExecution.executedPlan.toString
  }

  test("q6: every predicate reaches the parquet scan") {
    val p = plan("q6_revenue_forecast")
    assert(p.contains("PushedFilters:"), "no pushdown section in scan")
    assert(p.contains("GreaterThanOrEqual(l_shipdate") || p.contains("IsNotNull(l_shipdate"),
      s"shipdate range not pushed:\n$p")
    // column pruning: the scan must not read join keys the query never uses
    assert(!p.contains("l_partkey"), "scan reads l_partkey — pruning regressed")
  }

  test("q8: all seven dimension joins broadcast; no nested-loop anywhere") {
    val p = plan("q8_market_share")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 5, s"expected >=5 broadcast joins, found $broadcasts")
    assert(!p.contains("CartesianProduct"), "cartesian product in q8 plan")
    assert(!p.contains("BroadcastNestedLoopJoin"), "nested-loop join in q8 plan")
  }

  test("q19: OR-of-conjunctions keeps the single broadcast join") {
    val p = plan("q19_or_predicates")
    assert(p.contains("BroadcastHashJoin"), "part join not broadcast")
    assert(!p.contains("SortMergeJoin"), "OR predicate degraded q19 to SMJ")
    assert(!p.contains("CartesianProduct"), "OR predicate degraded q19 to cartesian")
  }

  test("ANN top-k paths carry no per-query Window") {
    // the round-1 scale-killer: Window.partitionBy(qid) funnels the whole
    // scored corpus into one partition per query; graft_topk keeps the
    // exchange at O(partitions x k)
    for (q <- Seq("x_ann_bruteforce")) {
      val p = plan(q)
      assert(p.contains("graft_topk"), s"$q lost the bounded-heap aggregate")
      assert(!p.contains("Window"), s"$q re-grew a Window:\n$p")
    }
  }

  test("quantized ANN: bounded heap, one qid exchange, corpus never shuffles") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Similarity
    val emb = graft.Tables(spark, sf0001, "embeddings")
    val qt = Similarity.quantizedTopK(emb, emb.where(col("vec_id") < 3),
      "vec_id", "embedding", 5)
    val p = qt.queryExecution.executedPlan.toString
    assert(p.contains("graft_topk"), "quantized path lost the bounded-heap aggregate")
    assert(!p.contains("Window"), s"quantized path grew a Window:\n$p")
    // exactly ONE hash shuffle — the heap aggregate's O(partitions*k) qid
    // exchange; the int8 corpus itself must never ride an exchange
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles == 1, s"expected 1 shuffle exchange, found $shuffles:\n$p")
    // (ivfTopK's and ivfAdcTopK's plans are not assertable here: they
    // localCheckpoint eagerly, so the returned frame is a checkpoint scan —
    // the composed IVF+int8 and IVF-PQ paths are pinned by value instead:
    // PipelineSpec's recall + candidate-pruning bounds and the in-query
    // gates of x_ann_quantized / x_ann_ivfpq.)
  }

  test("q1: partial aggregation before the exchange") {
    val p = plan("q1_agg")
    // two HashAggregates (partial + final) around one shuffle
    val aggs = "HashAggregate".r.findAllIn(p).length
    assert(aggs >= 2, s"expected partial+final aggregate, found $aggs")
  }

  test("x_cdc_latest: compaction is an aggregate, never a window sort") {
    // the whole point of max_by over row_number()=1: partial aggregation
    // shrinks each map task to one row per key BEFORE the exchange; a
    // Window plan would shuffle and sort every change record
    val p = plan("x_cdc_latest")
    assert(!p.contains("Window"), s"compaction re-grew a Window:\n$p")
    val aggs = "ObjectHashAggregate|HashAggregate|SortAggregate".r.findAllIn(p).length
    assert(aggs >= 2, s"expected partial+final aggregate, found $aggs")
  }

  test("w2: both frames share one Window exec (one shuffle, one sort)") {
    // same partitioning and compatible ordering -> Catalyst fuses the ROWS
    // and RANGE frames; two Window nodes would mean a second sort pass
    val p = plan("w2_rolling_frames")
    val windows = "Window ".r.findAllIn(p).length
    assert(windows <= 2, s"rolling frames split across $windows Window execs:\n$p")
  }

  test("w4: all three distribution functions share one Window exec") {
    // count node HEADERS ("Window [") so the assertion can demand exactly
    // one exec — a bare "Window" substring also matches WindowGroupLimit
    // and would let a split ntile-vs-rank plan slip under a <=2 bound
    val p = plan("w4_ntile")
    val windows = "Window \\[".r.findAllIn(p).length
    assert(windows == 1, s"ntile/percent_rank/cume_dist split across $windows Window execs:\n$p")
  }

  test("x_global_ids: ordinal assignment never funnels rows through a Window") {
    // zipWithIndex's whole reason to exist: a row_number() window with no
    // partitionBy funnels every ROW through one task. (The final global
    // aggregate's SinglePartition exchange is fine — partial aggregation
    // reduces each partition to one row first, asserted below.)
    val p = plan("x_global_ids")
    assert(!p.contains("Window"), s"global ids re-grew a Window:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"checksum aggregate lost its partial phase:\n$p")
  }

  test("x_span_dedup: fingerprints aggregate partially before the exchange") {
    val p = plan("x_span_dedup")
    val aggs = "HashAggregate|ObjectHashAggregate|SortAggregate".r.findAllIn(p).length
    assert(aggs >= 2, s"expected partial+final aggregate in span dedup, found $aggs:\n$p")
  }

  test("x_cohort_retention: one PARTITIONED window, no join-back") {
    // the first-touch min is a window over user_id (one exchange), not an
    // aggregate joined back to the events (two); and the window must keep
    // its partition spec — a global window here is the scale-killer
    // PlanGuard exists to refuse
    val p = plan("x_cohort_retention")
    val windows = "Window \\[".r.findAllIn(p).length
    assert(windows == 1, s"expected exactly 1 Window exec, got $windows:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"cohort plan re-grew a join-back:\n$p")
  }

  test("x_quality_filter: single scan, partial agg, no window/join") {
    val p = plan("x_quality_filter")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected 1 documents scan, got $scans")
    val aggs = "HashAggregate|ObjectHashAggregate|SortAggregate".r.findAllIn(p).length
    assert(aggs >= 2, s"expected partial+final aggregate, found $aggs")
    assert(!p.contains("Window ["), s"quality filter re-grew a window:\n$p")
    assert(!p.contains("Join"), s"quality filter re-grew a join:\n$p")
  }

  test("x_incremental_agg: merges stay aggregate-shaped (no window sort)") {
    val p = plan("x_incremental_agg")
    assert(!p.contains("Window ["), s"incremental agg re-grew a window:\n$p")
    assert(!p.contains("CartesianProduct"), s"state merge went cartesian:\n$p")
  }

  test("x_hybrid_search: no corpus-sized window; rank windows run after the top-50 cut") {
    val p = plan("x_hybrid_search")
    // each arm is corpus-scan + TakeOrdered; the ONLY windows allowed are
    // the post-cut rank windows over <= 50 rows (fed by a TakeOrdered)
    assert(p.contains("TakeOrderedAndProject"),
      s"hybrid arms lost the TakeOrdered top-k shape:\n$p")
    assert(!p.contains("CartesianProduct"),
      "hybrid fuse went cartesian (the 1-row query-vector join must broadcast)")
  }

  test("x_snapshot_diff: versions meet in an equi-join on pre-digested rows") {
    val p = plan("x_snapshot_diff")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"),
      s"snapshot diff lost its equi-join:\n$p")
    assert(!p.contains("CartesianProduct"), "snapshot diff went cartesian")
    // the digest is computed BELOW the join (md5 in a pre-join projection):
    // in the plan-tree string children print AFTER their parent, so every
    // md5 must appear after the first Join node — an md5 BEFORE it would
    // mean the digest is computed above the join, i.e. text rode the
    // exchange
    val joinAt = p.indexOf("Join")
    val md5At = p.indexOf("md5")
    assert(joinAt > 0 && md5At > joinAt,
      s"md5 evaluated above the join — text rode the exchange:\n$p")
  }

  test("x_bfs_distance: per-sweep joins stay equi-joins, no window") {
    val p = plan("x_bfs_distance")
    assert(!p.contains("Window ["), s"BFS re-grew a window:\n$p")
    assert(!p.contains("CartesianProduct"), "BFS sweep went cartesian")
  }

  test("sortedSuccessorEdges: lead() semantics on strided ids, no Window") {
    // the r14 hygiene item: the chain/ring fixture builders used to run
    // lead() over an unpartitioned window (one-task funnel at a 1000x
    // corpus). The rank-join replacement must (a) keep exact next-in-
    // SORTED-order semantics across the strided copy-id layouts ScaleCheck
    // materializes — id+k arithmetic would shatter at every copy boundary
    // — and (b) carry no Window exec anywhere in its plan.
    import spark.implicits._
    val ids = Seq(1L, 2L, 3L, 1048576L, 1048577L, 1048578L).toDF("id")
    val edges = CorpusQueries.sortedSuccessorEdges(spark, ids, Seq(1, 2))
    val got = edges.as[(Long, Long)].collect().toSet
    val expected = Set( // lead(1) then lead(2) over sorted order
      (1L, 2L), (2L, 3L), (3L, 1048576L), (1048576L, 1048577L),
      (1048577L, 1048578L),
      (1L, 3L), (2L, 1048576L), (3L, 1048577L), (1048576L, 1048578L))
    assert(got == expected, s"edges diverged from lead() semantics: $got")
    val p = edges.queryExecution.executedPlan.toString
    assert(!p.contains("Window ["), s"rank-join fixture re-grew a window:\n$p")
  }

  test("x_stream_enrich: the dimension join broadcasts (batch twin)") {
    // the streaming plan joins each micro-batch against the same broadcast;
    // asserting on the batch twin keeps the spec synchronous
    import org.apache.spark.sql.functions._
    val dim = graft.Tables(spark, sf0001, "customer")
      .join(graft.Tables(spark, sf0001, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("nation"))
    val p = graft.Tables(spark, sf0001, "events")
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy("nation").count()
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"enrichment join not broadcast:\n$p")
  }

  test("withShufflePartitions restores partitions AND noDataMicroBatches") {
    // r15 optimization: the two-sentinel stream joins run their sections
    // with noDataBatches=false; a leaked override would silently change
    // every later watermark query's trigger schedule in the same session
    val pKey = "spark.sql.shuffle.partitions"
    val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val p0 = spark.conf.get(pKey)
    val nd0 = spark.conf.get(ndKey)
    val seen = StreamQueries.withShufflePartitions(spark, 3,
      noDataBatches = false) {
      (spark.conf.get(pKey), spark.conf.get(ndKey))
    }
    assert(seen == (("3", "false")), s"section confs not applied: $seen")
    assert(spark.conf.get(pKey) == p0, "shuffle partitions leaked")
    assert(spark.conf.get(ndKey) == nd0, "noDataMicroBatches leaked")
    // exception path restores too
    intercept[RuntimeException] {
      StreamQueries.withShufflePartitions(spark, 5, noDataBatches = false) {
        throw new RuntimeException("boom")
      }
    }
    assert(spark.conf.get(pKey) == p0 && spark.conf.get(ndKey) == nd0,
      "confs leaked after exception")
  }
}
