package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sketch and rollup extensions: percentiles, stored quantile / HLL /
  * count-min / Misra-Gries rollups, bloom prefilter, DP release, statistics.
  */
object SketchQueries {

  /** HLL accuracy of the stored and streamed rollups: within 3 x 1.6% rsd. */
  private[queries] def hllWithin3Rsd(est: Long, exact: Long, what: String): (Boolean, String) =
    (math.abs(est - exact) <= math.max(3, 3 * 0.016 * exact)) ->
      s"$what $est outside 3-rsd of exact $exact"

  /** The count-min probe contract of the stored and streamed rollups: users
    * 0..19's estimates from `sketch` never fall below their exact counts in
    * `ev`, and at most 2 exceed (e/w)*N. Returns (probes, `n_violations`).
    */
  private[queries] def cmsProbes(ev: DataFrame, sketch: Array[Byte], nTotal: Long): (Long, Long) = {
    import graft.functions.GraftFunctions.graft_cms_query
    val probes = ev.where(col("user_id") < 20)
      .groupBy("user_id").agg(count(lit(1)).as("exact"))
      .withColumn("est", graft_cms_query(lit(sketch), xxhash64(col("user_id"))))
      .collect()
    val under = probes.count(r => r.getAs[Long]("est") < r.getAs[Long]("exact"))
    val bound = math.E / graft.functions.CountMin.W * nTotal
    val over = probes.count(r =>
      r.getAs[Long]("est") > r.getAs[Long]("exact") + bound)
    (probes.length.toLong, Gate.violations(
      (under == 0) -> s"$under probe estimates BELOW exact — breaks the one-sided bound",
      (over <= 2) -> s"$over/${probes.length} probe estimates above the (e/w)*N bound"))
  }

  /** The PODS'12 Misra-Gries contract of the stored and streamed rollups,
    * read off the merged summary's own (n, m, K): n is `ev`'s row count and
    * EVERY key `k` (not a probe subset) has est <= exact, exact - est <=
    * (N-M)/(K+1), and is present above that bound. Returns (keys, `n_violations`).
    */
  private[queries] def mgContract(ev: DataFrame, sk: Array[Byte]): (Long, Long) = {
    import graft.functions.GraftFunctions.{graft_mg_query, graft_mg_stats}
    val st = ev.sparkSession.range(1).select(graft_mg_stats(lit(sk)).as("st"))
      .collect()(0).getAs[scala.collection.Seq[Long]]("st")
    val (n, m, k) = (st(0), st(1), st(2))
    val bound = (n - m).toDouble / (k + 1)
    val total = ev.count()
    Gate.check(n == total,
      s"merged state absorbed $n increments, raw stream has $total")
    val bad = ev.groupBy("k").agg(count(lit(1)).as("exact"))
      .withColumn("est", graft_mg_query(lit(sk), col("k")))
      .agg(
        coalesce(sum(when(col("est") > col("exact"), 1L)), lit(0L)),
        coalesce(sum(when((col("exact") - col("est")).cast("double")
          > lit(bound), 1L)), lit(0L)),
        coalesce(sum(when(col("exact").cast("double") > lit(bound) &&
          col("est") === 0, 1L)), lit(0L)),
        count(lit(1))).collect()(0)
    val (over, outside, absent) = (bad.getLong(0), bad.getLong(1), bad.getLong(2))
    (bad.getLong(3), Gate.violations(
      (over == 0) -> s"$over keys OVERcounted — MG must be one-sided",
      (outside == 0) -> s"$outside keys outside the deterministic (N-M)/(K+1) bound",
      (absent == 0) -> s"$absent heavy keys missing from the merged summary"))
  }

  val all: Seq[Q] = Seq(
    // Exact percentiles (linear interpolation in both engines) — sort+window
    // plan (operators.Percentiles), not the builtin `percentile` aggregate
    // whose per-group value buffer is the dataset itself at 100 TB.
    // UNROUNDED outputs on purpose: the interpolation `lower + (upper -
    // lower) * frac` is bit-identical to DuckDB's quantile_cont (see
    // Percentiles scaladoc), so raw doubles hash-match exactly — while
    // round(x, 2) does NOT: Spark rounds the exact binary value and DuckDB
    // the shortest decimal repr, which disagree whenever the value's repr
    // lands on a half-cent (52724.244999999995 prints as "52724.245" ->
    // DuckDB .25, Spark .24; struck at sf0.001). Rounding here traded a
    // bit-exact value for a boundary lottery.
    Q("x_percentiles",
      """SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS p50,
        |quantile_cont(l_extendedprice, 0.9) AS p90
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      graft.operators.Percentiles.exact(
        Tables(s, dir, "lineitem"), "l_returnflag", "l_extendedprice", Seq(0.5, 0.9))
        .select(col("l_returnflag"), col("p50"), col("p90"))
        .orderBy("l_returnflag")
    },

    // Approximate percentile sketch (GK): the fixed-size mergeable path when
    // exactness isn't required. GATED in-row against the exact sort-based
    // value; relative error must be inside the accuracy bound. The exact
    // baseline is confined to ONE group — x_percentiles already pays for the
    // full exact computation, so re-running all groups here doubled the
    // bench cost for zero extra signal.
    // Promoted to a full oracle (r5): the exact p50 is bit-reproducible in
    // DuckDB (quantile_cont — same interpolation x_percentiles already
    // proves bit-identical) and the 1%-of-exact sketch contract becomes a
    // violation count pinned to 0. The sketch's own estimate stays
    // gate-side (GK-internal).
    Q("x_approx_percentiles",
      """SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS exact_p50,
        |CAST(0 AS BIGINT) AS n_violations
        |FROM lineitem WHERE l_returnflag = 'R'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      val li = Tables(s, dir, "lineitem").where(col("l_returnflag") === "R")
      val exact = graft.operators.Percentiles.exact(
        li, "l_returnflag", "l_extendedprice", Seq(0.5))
        .select(col("l_returnflag"), col("p50").as("exact_p50"))
      val approx = li.groupBy("l_returnflag")
        .agg(expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("approx_p50"))
      Gate(exact.join(approx, "l_returnflag")
        .select(col("l_returnflag"), col("exact_p50"),
          (abs(col("approx_p50") - col("exact_p50")) / col("exact_p50") <= 0.01)
            .as("within_bound"))
        .orderBy("l_returnflag"),
        col("within_bound"),
        "approx_percentile p50 must sit within 1% of the exact value")
        .select(col("l_returnflag"), col("exact_p50"),
          (!col("within_bound")).cast("long").as("n_violations"))
    },

    // Incremental aggregate maintenance: three "daily" batches fold into a
    // running per-key state via additive full-outer merges — the
    // materialized-view pattern that replaces recomputing the world when
    // 100 TB grows by 100 GB a day. The oracle is the DIRECT full
    // recompute, so the incremental path must be value-identical to
    // starting over; integer cents keep the sums order-free exact.
    Q("x_incremental_agg",
      """SELECT event_type, count(*) AS n_events,
        |CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      val ev = Tables(s, dir, "events")
        .select(col("event_type"), col("ts"),
          round(col("value") * 100, 0).cast("long").as("cents"))
      def batchAgg(b: org.apache.spark.sql.DataFrame) =
        b.groupBy("event_type").agg(count(lit(1)).as("n_events"),
          sum("cents").as("sum_cents"))
      val batches = Seq(
        ev.where(dayofmonth(col("ts")) <= 10),
        ev.where(dayofmonth(col("ts")).between(11, 20)),
        ev.where(dayofmonth(col("ts")) >= 21))
      val state = batches.map(batchAgg).reduce { (acc, delta) =>
        acc.withColumnRenamed("n_events", "n0").withColumnRenamed("sum_cents", "s0")
          .join(delta, Seq("event_type"), "full_outer")
          .select(col("event_type"),
            (coalesce(col("n0"), lit(0L)) + coalesce(col("n_events"), lit(0L)))
              .as("n_events"),
            (coalesce(col("s0"), lit(0L)) + coalesce(col("sum_cents"), lit(0L)))
              .as("sum_cents"))
      }
      state.orderBy("event_type")
    },

    // Quantile-digest rollup — the rank-statistics twin of x_hll_rollup:
    // per-day centroid digests (graft_qsketch_state, ~2 KB binary each)
    // are WRITTEN to parquet, read back, and merged
    // (graft_qsketch_merged) into all-time p50/p90 without rescanning raw
    // events. Unlike HLL the merge is order-sensitive inside its error
    // bound, so the gate is the same bracketed-rank contract
    // x_grouped_quantiles pins: the true rank of each estimate must fall
    // within ~6/k (+1/n granularity) of its target.
    Q("x_qsketch_rollup",
      """SELECT CAST(count(DISTINCT date_trunc('day', ts)) AS BIGINT) AS n_days,
        |CAST(0 AS BIGINT) AS n_violations FROM events""".stripMargin) { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      import graft.functions.GraftFunctions.{graft_qsketch_merged, graft_qsketch_state}
      val k = 256
      val ev = Tables(s, dir, "events")
        .select(col("ts"), round(col("value") * 100, 0).cast("long")
          .cast("double").as("v"))
      val m = Tmp.scoped("graft-qsk") { tmp =>
        val rollup = tmp.resolve("daily").toString
        ev.groupBy(date_trunc("day", col("ts")).as("day"))
          .agg(graft_qsketch_state(col("v"), k).as("digest"))
          .write.mode("overwrite").parquet(rollup)
        s.read.parquet(rollup).agg(
          graft_qsketch_merged(col("digest"), k, Seq(0.5, 0.9)).as("qs"),
          count(lit(1)).as("n_days")).collect()(0)
      }
      val (p50, p90) = (m.getSeq[Double](0)(0), m.getSeq[Double](0)(1))
      val nDays = m.getLong(1)
      val ranks = ev.agg(
        (sum(when(col("v") < p50, 1.0)) / count(lit(1))).as("r50lo"),
        (sum(when(col("v") <= p50, 1.0)) / count(lit(1))).as("r50hi"),
        (sum(when(col("v") < p90, 1.0)) / count(lit(1))).as("r90lo"),
        (sum(when(col("v") <= p90, 1.0)) / count(lit(1))).as("r90hi"),
        count(lit(1)).as("n")).collect()(0)
      val bound = 6.0 / k + 1.0 / ranks.getLong(4)
      val err50 = math.max(0.0, math.max(ranks.getDouble(0) - 0.5, 0.5 - ranks.getDouble(1)))
      val err90 = math.max(0.0, math.max(ranks.getDouble(2) - 0.9, 0.9 - ranks.getDouble(3)))
      import s.implicits._
      Seq((nDays, Gate.violations((err50 <= bound && err90 <= bound) ->
        f"merged digest rank error outside bound: err50=$err50%.4f err90=$err90%.4f bound=$bound%.4f")))
        .toDF("n_days", "n_violations")
    },

    // Mergeable-HLL rollup: per-day user sketches (graft_hll, 4 KB binary
    // each) are WRITTEN to parquet — a sketch rollup table — read back,
    // and merged (graft_hll_merge) into the all-time distinct estimate
    // without rescanning raw events. This is the re-aggregation pattern
    // approx_count_distinct can't express (its sketch never leaves the
    // aggregation). Two gates: (1) merged-of-stored == direct-over-raw
    // EXACTLY — register max is associative/commutative, so the rollup
    // path must be bit-identical; (2) the estimate is within 3 x 1.6%
    // rsd of the true cardinality. The oracle pins the SQL-computable
    // population (days, exact users) and both gates as violation counts.
    Q("x_hll_rollup",
      """SELECT CAST(count(DISTINCT date_trunc('day', ts)) AS BIGINT) AS n_days,
        |CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
        |CAST(0 AS BIGINT) AS n_violations FROM events""".stripMargin) { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      import graft.functions.GraftFunctions.{graft_hll, graft_hll_card, graft_hll_merge}
      val ev = Tables(s, dir, "events")
      val merged = Tmp.scoped("graft-hll") { tmp =>
        val rollup = tmp.resolve("daily").toString
        ev.groupBy(date_trunc("day", col("ts")).as("day"))
          .agg(graft_hll(xxhash64(col("user_id"))).as("sketch"))
          .write.mode("overwrite").parquet(rollup)
        s.read.parquet(rollup).agg(
          graft_hll_card(graft_hll_merge(col("sketch"))).as("est"),
          count(lit(1)).as("n_days"))
          .collect()(0)
      }
      val direct = ev.agg(
        graft_hll_card(graft_hll(xxhash64(col("user_id")))).as("est"),
        countDistinct("user_id").as("exact")).collect()(0)
      val (mergedEst, nDays) = (merged.getLong(0), merged.getLong(1))
      val (directEst, exact) = (direct.getLong(0), direct.getLong(1))
      import s.implicits._
      Seq((nDays, exact, Gate.violations(
        (mergedEst == directEst) ->
          s"stored-rollup merge ($mergedEst) != direct sketch ($directEst)",
        hllWithin3Rsd(mergedEst, exact, "HLL estimate"))))
        .toDF("n_days", "n_exact", "n_violations")
    },

    // Count-min rollup — the per-key-FREQUENCY member of the stored-
    // sketch family (HLL = distinct, qsketch = ranks): per-day 64 KB
    // sketches written to parquet, read back, merged (elementwise ADD, so
    // merged-of-stored must equal direct-over-raw BIT-IDENTICALLY — gate
    // 1 compares the binary states), then 20 probe users' estimates
    // checked against their exact counts: est >= exact ALWAYS (the
    // one-sided count-min guarantee — any violation is a bug, not
    // noise), and within the (e/w)*N error bound for >= 18/20 probes
    // (each row exceeds it with probability ~e^-d ~ 1.8%). Oracle pins
    // the SQL-computable population and zero violations.
    Q("x_cms_rollup",
      """SELECT CAST(count(DISTINCT date_trunc('day', ts)) AS BIGINT) AS n_days,
        |CAST(count(DISTINCT CASE WHEN user_id < 20 THEN user_id END) AS BIGINT)
        |  AS n_probes,
        |CAST(0 AS BIGINT) AS n_violations FROM events""".stripMargin) { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      import graft.functions.GraftFunctions.{graft_cms, graft_cms_merge}
      val ev = Tables(s, dir, "events")
      Tmp.scoped("graft-cms") { tmp =>
        val rollup = tmp.resolve("daily").toString
        ev.groupBy(date_trunc("day", col("ts")).as("day"))
          .agg(graft_cms(xxhash64(col("user_id"))).as("sketch"))
          .write.mode("overwrite").parquet(rollup)
        val stored = s.read.parquet(rollup)
        val merged = stored.agg(graft_cms_merge(col("sketch")).as("sk"),
          count(lit(1)).as("n_days")).collect()(0)
        val direct = ev.agg(graft_cms(xxhash64(col("user_id"))).as("sk"),
          count(lit(1)).as("n")).collect()(0)
        val (mergedSk, nDays) = (merged.getAs[Array[Byte]](0), merged.getLong(1))
        val (directSk, nTotal) = (direct.getAs[Array[Byte]](0), direct.getLong(1))
        val mergeViolations = Gate.violations(
          java.util.Arrays.equals(mergedSk, directSk) ->
            ("stored-rollup cms merge differs from the direct sketch " +
              "(elementwise add must be order-insensitive)"))
        // probe users 0..19 present in the corpus: exact counts vs the
        // MERGED sketch's estimates
        val (nProbes, probeViolations) = cmsProbes(ev, mergedSk, nTotal)
        import s.implicits._
        Seq((nDays, nProbes, mergeViolations + probeViolations))
          .toDF("n_days", "n_probes", "n_violations")
      }
    },

    // Misra-Gries heavy-hitters rollup — the FOURTH stored-sketch member
    // (HLL = distinct, qdigest = ranks, CMS = per-key frequency, MG =
    // WHICH keys are frequent): per-day summaries (graft_mg, K=64, ~1 KB)
    // written to parquet, merged (graft_mg_merge) and probed without
    // rescanning raw events. The key stream is deliberately SKEWED (every
    // user_id%4==0 event collapses onto event_id%8 -> 8 keys carrying
    // ~3% of N each; the rest spread over 1000+user_id) because uniform
    // keys have no heavy hitters to find. Unlike CMS there is NO
    // probability to budget and NO bit-identity to pin (MG state is
    // order-sensitive): the gates are the PODS'12 DETERMINISTIC
    // invariants read off the merged state's own (n, m) — est <= exact
    // ALWAYS, exact - est <= (N-M)/(K+1), and every key above that bound
    // PRESENT — plus n == total increments. Any violation is a bug.
    Q("x_mg_rollup",
      """SELECT CAST(count(DISTINCT date_trunc('day', ts)) AS BIGINT) AS n_days,
        |CAST(count(DISTINCT CASE WHEN user_id % 4 = 0 THEN event_id % 8
        |  ELSE 1000 + user_id END) AS BIGINT) AS n_keys,
        |CAST(0 AS BIGINT) AS n_violations FROM events""".stripMargin) { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      import graft.functions.GraftFunctions.{graft_mg, graft_mg_merge}
      val ev = Tables(s, dir, "events")
        .select(date_trunc("day", col("ts")).as("day"),
          when(col("user_id") % 4 === 0, col("event_id") % 8)
            .otherwise(lit(1000L) + col("user_id")).as("k"))
      Tmp.scoped("graft-mg") { tmp =>
        val rollup = tmp.resolve("daily").toString
        ev.groupBy("day").agg(graft_mg(col("k")).as("sketch"))
          .write.mode("overwrite").parquet(rollup)
        val stored = s.read.parquet(rollup)
        val merged = stored.agg(graft_mg_merge(col("sketch")).as("sk"),
          count(lit(1)).as("n_days")).collect()(0)
        val (sk, nDays) = (merged.getAs[Array[Byte]](0), merged.getLong(1))
        // key count is bounded: 8 heavy + user domain
        val (nKeys, violations) = mgContract(ev, sk)
        import s.implicits._
        Seq((nDays, nKeys, violations))
          .toDF("n_days", "n_keys", "n_violations")
      }
    },

    // Differentially-private-style noisy release: per-type counts with
    // Laplace(1/eps) noise via the inverse CDF over a SEEDED md5-derived
    // uniform — the x_dsir_sample Gumbel discipline applied to aggregate
    // release, so the artifact is reproducible and fully oracled (one ln
    // over one identically-ordered double expression, bit-identical both
    // engines). Production DP draws the uniform from a CSPRNG — the
    // derivation here is the portable stand-in that makes the pipeline
    // shape testable; only the noisy column and epsilon are released.
    Q("x_dp_release",
      """WITH c AS (SELECT event_type, count(*) AS n FROM events GROUP BY 1),
        |u AS (SELECT event_type, n,
        |  (CAST(concat('0x', substr(md5(event_type), 1, 15)) AS BIGINT)
        |    + 0.5) / 1152921504606846976.0 AS u FROM c)
        |SELECT event_type,
        |round(n + (-10.0) * (CASE WHEN u < 0.5 THEN -1.0 ELSE 1.0 END)
        |  * ln(1.0 - 2.0 * abs(u - 0.5)), 4) AS noisy_count,
        |0.1 AS epsilon
        |FROM u ORDER BY event_type""".stripMargin) { (s, dir) =>
      val c = Tables(s, dir, "events")
        .groupBy("event_type").agg(count(lit(1)).as("n"))
      val u = c.withColumn("u",
        (conv(substring(md5(col("event_type").cast("binary")), 1, 15), 16, 10)
          .cast("long") + lit(0.5)) / lit(1152921504606846976.0))
      u.select(col("event_type"),
          round(col("n") + lit(-10.0)
            * when(col("u") < 0.5, lit(-1.0)).otherwise(lit(1.0))
            * log(lit(1.0) - lit(2.0) * abs(col("u") - lit(0.5))), 4)
            .as("noisy_count"),
          lit(0.1).as("epsilon"))
        .orderBy("event_type")
    },

    // Exact quantile transform (percent_rank normalization) — the
    // feature-engineering primitive that maps a value to its corpus
    // percentile. The textbook percent_rank() is a window over the WHOLE
    // table ordered by value — unpartitioned, the 100 TB killer. The
    // scale shape here: aggregate counts per DISTINCT value (the cents
    // domain is bounded — ~10k values regardless of row count), run the
    // cumulative window over that domain-sized frame, and broadcast-join
    // the cdf back. Tie semantics match percent_rank exactly: pr =
    // rows-strictly-less / (n-1), identical integer division to DOUBLE
    // in both engines, so the decile histogram is a full-value oracle.
    Q("x_quantile_transform",
      """WITH d AS (SELECT CAST(round(value * 100, 0) AS BIGINT) AS x
        |  FROM events),
        |r AS (SELECT x, percent_rank() OVER (ORDER BY x) AS pr FROM d),
        |b AS (SELECT least(CAST(floor(pr * 10) AS BIGINT), 9) AS decile,
        |  x FROM r)
        |SELECT decile, count(*) AS n,
        |CAST(sum(x % 999983) AS BIGINT) AS checksum
        |FROM b GROUP BY decile ORDER BY decile""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val d = Tables(s, dir, "events")
        .select(round(col("value") * 100, 0).cast("long").as("x"))
      val counts = d.groupBy("x").agg(count(lit(1)).as("c"))
      val n = d.count()
      // cumulative rows strictly below each distinct value — the window
      // runs over the VALUE DOMAIN (bounded), never the corpus
      val w = Window.orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cdf = counts
        .withColumn("below", sum("c").over(w) - col("c"))
        .withColumn("pr", col("below").cast("double") / (n - 1).toDouble)
        .select(col("x"), col("pr"))
      d.join(broadcast(cdf), "x")
        .select(least(floor(col("pr") * 10).cast("long"), lit(9L))
          .as("decile"), col("x"))
        .groupBy("decile").agg(count(lit(1)).as("n"),
          sum(col("x") % 999983).as("checksum"))
        .orderBy("decile")
    },

    // Robust outlier statistics — median / MAD (median absolute
    // deviation), the quality-filtering primitive that survives the
    // heavy tails that break mean/stddev z-scores: med and MAD are both
    // EXACT percentile aggregates over integer cents (Spark `percentile`
    // == DuckDB `median`, both interpolate the even-count midpoint
    // identically on integers), so the outlier count at the classic
    // 3-MAD fence is a full-value oracle with no tolerance. Two
    // aggregate passes (med, then MAD over |x - med|), scalar-broadcast
    // between them — no window, no sort of the data.
    Q("x_robust_stats",
      """WITH d AS (SELECT CAST(round(value * 100, 0) AS BIGINT) AS x
        |  FROM events),
        |m AS (SELECT median(x) AS med FROM d),
        |a AS (SELECT median(abs(x - med)) AS mad FROM d, m)
        |SELECT CAST(count(*) AS BIGINT) AS n, (SELECT med FROM m) AS med,
        |(SELECT mad FROM a) AS mad,
        |CAST(sum(CASE WHEN abs(x - (SELECT med FROM m))
        |  > 3 * (SELECT mad FROM a) THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_outliers
        |FROM d""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir, "events")
        .select(round(col("value") * 100, 0).cast("long").as("x"))
      val med = d.agg(expr("percentile(x, 0.5)")).first().getDouble(0)
      val mad = d.agg(expr(s"percentile(abs(x - $med), 0.5)"))
        .first().getDouble(0)
      d.agg(count(lit(1)).as("n"), lit(med).as("med"), lit(mad).as("mad"),
        coalesce(sum(when(abs(col("x") - med) > 3 * mad, 1L).otherwise(0L)),
          lit(0L)).as("n_outliers"))
    },

    // Bloom-prefiltered semi join — the 100 TB shuffle-reduction pattern
    // made explicit: build a bloom filter over the (small) qualifying-key
    // set, broadcast it, and drop non-matching fact rows AT THE SCAN,
    // before they reach the join exchange. Catalyst's InjectRuntimeFilter
    // does this only under its own heuristics; graft_bloom_agg /
    // graft_might_contain (Spark's own runtime-filter expressions,
    // registered) put it in the pipeline author's hands. Correctness does
    // NOT depend on the bloom: false positives are removed by the exact
    // semi join behind it, so the result equals the plain semi join and
    // the oracle is FULL, not rows-only.
    Q("x_bloom_prefilter",
      """WITH big AS (SELECT l_orderkey FROM lineitem
        |  GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
        |SELECT count(*) AS n_items, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT l_orderkey FROM big)""".stripMargin) { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      import graft.functions.GraftFunctions.{graft_bloom_agg, graft_might_contain}
      val li = Tables(s, dir, "lineitem")
      val big = li.groupBy("l_orderkey").agg(sum("l_quantity").as("q"))
        .where(col("q") > 250).select(col("l_orderkey").as("big_key"))
        .localCheckpoint(true) // feeds both the bloom build and the exact join
      // materialize the (100 KB) bloom on the driver and push it as a
      // literal — might_contain requires a constant/scalar-subquery bloom,
      // which is also how Catalyst's own runtime filters ship it to the
      // scan side
      val bloomBytes = big.agg(
        graft_bloom_agg(xxhash64(col("big_key")), 100000L, 800000L).as("bf"))
        .first().getAs[Array[Byte]]("bf")
      li.where(graft_might_contain(lit(bloomBytes), xxhash64(col("l_orderkey"))))
        .join(big, col("l_orderkey") === col("big_key"), "left_semi")
        .agg(count(lit(1)).as("n_items"), round(sum("l_quantity"), 2).as("sum_qty"))
    }
  )
}
