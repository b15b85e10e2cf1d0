package graft.queries

import graft.Tables
import org.apache.spark.sql.functions._

/** SURVEY.md §2.7 sampling and §2.9 approximate/partial actions.
  *
  * Sampling is seeded inside Spark but not reproducible in DuckDB, so those
  * queries are rows-only checks (driver contract). The approximate actions'
  * FINAL value equals the exact answer — the reference's own tests assert the
  * same (vega tests/test_rdd.rs:534-587) — so they do get a full oracle.
  */
object ApproxQueries {

  val all: Seq[Q] = Seq(

    // Mergeable grouped quantile sketch (graft_qsketch) over a
    // HIGH-cardinality key — the regime Percentiles.exact refuses (its
    // driver-side rank locator is for few huge groups). One partial-
    // aggregated pass, k doubles per group through the exchange, nothing
    // on the driver. GATED on the sketch's actual contract: for every
    // group, the TRUE rank of each estimate (one distributed verify pass)
    // must sit within the sketch's rank-error bound of the target.
    // Promoted to a full oracle (r5): the OUTPUT is the sketch's contract
    // itself — the group count and the count of rank-bound violations,
    // which a correct sketch makes exactly 0. DuckDB recomputes the group
    // count and pins violations to the literal 0, so a sketch whose
    // estimate drifts outside [fraction(v < est), fraction(v <= est)] ±
    // bound flips n_violations to nonzero and the hash compare goes red.
    // The sketch-internal max-error diagnostics stay gate-checked but are
    // no longer output columns (they are sketch-dependent, not
    // SQL-reproducible).
    Q("x_grouped_quantiles",
      """SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_groups,
        |CAST(0 AS BIGINT) AS n_violations FROM lineitem""".stripMargin) { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      import graft.functions.GraftFunctions.graft_qsketch
      val k = 128
      val li = Tables(s, dir, "lineitem")
      val est = li.groupBy("l_partkey")
        .agg(graft_qsketch(col("l_extendedprice").cast("double"), k,
          Seq(0.5, 0.9)).as("qs"))
        .select(col("l_partkey"),
          element_at(col("qs"), 1).as("p50"), element_at(col("qs"), 2).as("p90"))
      // BRACKETED rank check: on tied data the CDF jumps, so an exactly
      // correct estimate inside a tie run can sit far from p measured as
      // fraction(v <= est) alone — e.g. exact p50 on a 5-way tie reads
      // 0.8. An estimate is wrong only if p falls OUTSIDE
      // [fraction(v < est), fraction(v <= est)] by more than the bound.
      def lo(est: org.apache.spark.sql.Column) =
        sum(when(col("v") < est, 1.0).otherwise(0.0)) / count(lit(1))
      def hi(est: org.apache.spark.sql.Column) =
        sum(when(col("v") <= est, 1.0).otherwise(0.0)) / count(lit(1))
      val ranks = li
        .select(col("l_partkey"), col("l_extendedprice").cast("double").as("v"))
        .join(est, "l_partkey")
        .groupBy("l_partkey")
        .agg(lo(col("p50")).as("r50lo"), hi(col("p50")).as("r50hi"),
          lo(col("p90")).as("r90lo"), hi(col("p90")).as("r90hi"),
          count(lit(1)).as("n"))
        .withColumn("err50",
          greatest(col("r50lo") - 0.5, lit(0.5) - col("r50hi"), lit(0.0)))
        .withColumn("err90",
          greatest(col("r90lo") - 0.9, lit(0.9) - col("r90hi"), lit(0.0)))
      // bound: ~2/k from centroid width, +1/n rank granularity (a group of
      // 3 values can only realize ranks at thirds)
      val bound = lit(6.0 / k) + lit(1.0) / col("n")
      val summary = ranks.agg(
        count(lit(1)).as("n_groups"),
        round(max(col("err50")), 4).as("max_err50"),
        round(max(col("err90")), 4).as("max_err90"),
        sum(when(col("err50") > bound || col("err90") > bound, 1L)
          .otherwise(0L)).as("n_violations"))
      Gate(summary, col("n_groups") > 100 && col("n_violations") === 0,
        "grouped quantile sketch rank error outside bound")
        .select(col("n_groups"), col("n_violations"))
    },

    // R1: sample(withReplacement=false, fraction) (partitionwise_sampled_rdd.rs,
    // tests/test_rdd.rs:325-351). The exact seeded draw is legitimately out
    // of the SQL oracle's reach (Spark's XORShift stream is not reproducible
    // in DuckDB), but the DERIVED invariant is: a 10% Bernoulli sample of n
    // rows lands within 6 sigma of 0.1n (sigma = sqrt(p(1-p)/n)) — any
    // sampler bug that biases the rate (all rows, no rows, wrong fraction,
    // per-partition double-draw) moves n_violations off 0 and hash-reds.
    Q("r1_sample",
      """SELECT CAST(count(*) AS BIGINT) AS n_total,
        |CAST(0 AS BIGINT) AS n_violations FROM lineitem""".stripMargin) { (s, dir) =>
      import s.implicits._
      val li = Tables(s, dir, "lineitem")
      val total = li.count()
      val sampled = li.sample(withReplacement = false, 0.1, seed = 42).count()
      val tol = 6.0 * math.sqrt(0.1 * 0.9 / total)
      Seq((total, Gate.violations((math.abs(sampled.toDouble / total - 0.1) <= tol) ->
        s"10% Bernoulli sample took $sampled of $total (tol ±${tol * 100}%)")))
        .toDF("n_total", "n_violations")
    },

    // R2: take_sample — exact-size sample (rdd.rs:717-783). Derived
    // invariants the oracle CAN check: exactly `num` rows come back, and
    // every sampled key exists in the source (anti-join count 0) — a
    // sampler that pads, truncates, or fabricates keys goes red.
    Q("r2_take_sample",
      "SELECT CAST(100 AS BIGINT) AS n_taken, CAST(0 AS BIGINT) AS n_missing") { (s, dir) =>
      import s.implicits._
      val keys = Tables(s, dir, "lineitem").select("l_orderkey")
      val taken = keys.rdd.takeSample(withReplacement = false, num = 100, seed = 42)
      val takenDf = s.createDataset(taken.map(_.getLong(0)).toSeq).toDF("l_orderkey")
      val missing = takenDf.join(keys, Seq("l_orderkey"), "left_anti").count()
      Seq((taken.length.toLong, missing)).toDF("n_taken", "n_missing")
    },

    // R3: random_split(weights, seed) (rdd.rs:623-672). Derived invariants:
    // the splits PARTITION the input as a MULTISET — for every distinct
    // row, its count in split A plus split B equals its count in the table
    // (lineitem has duplicate (orderkey, linenumber) pairs, so a naive
    // "no row in both splits" join is wrong; the per-row count identity is
    // the real disjointness+completeness statement) — and the 70/30
    // weights hold within Bernoulli slack. Overlap, loss, duplication, or
    // bias all move a violation count off 0.
    Q("r3_random_split",
      """SELECT CAST(count(*) AS BIGINT) AS n_total,
        |CAST(0 AS BIGINT) AS n_violations FROM lineitem""".stripMargin) { (s, dir) =>
      import s.implicits._
      val li = Tables(s, dir, "lineitem").select("l_orderkey", "l_linenumber")
      val keys = Seq("l_orderkey", "l_linenumber")
      // ONE pass per frame: count and multiset fingerprint ride the same
      // aggregate (r15 optimization, guide §1.2 "don't compute things
      // twice" — the previous shape ran count() and the fingerprint as
      // separate actions, six full scans for three frames).
      def countFp(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
        val r = df.agg(count(lit(1)),
          coalesce(sum(hash(keys.map(col): _*).cast("long")), lit(0L))).first()
        (r.getLong(0), r.getLong(1))
      }
      val (total, liFp) = countFp(li)
      val splits = li.randomSplit(Array(0.7, 0.3), seed = 42)
      // Exact per-row multiset identity costs three full groupBys — run it
      // at gate scale (<=100k rows: the driver's sf0.01 correctness SF).
      // At bench scale the check is an additive multiset FINGERPRINT
      // (sum of per-row hashes, aggregate-only, no extra shuffle):
      // strictly weaker against adversarial cancellation, decisive against
      // any real splitter bug (drop/dup/overlap moves the sum).
      val (countFps, counts) = {
        val cf = splits.map(countFp)
        (cf, cf.map(_._1))
      }
      val partitioned: (Boolean, String) = if (total <= 100000L) {
        def byRow(df: org.apache.spark.sql.DataFrame, as: String) =
          df.groupBy(keys.map(col): _*).agg(count(lit(1)).as(as))
        val bad = byRow(li, "n_all")
          .join(byRow(splits(0), "n_a"), keys, "left")
          .join(byRow(splits(1), "n_b"), keys, "left")
          .where(coalesce(col("n_a"), lit(0L)) + coalesce(col("n_b"), lit(0L))
            =!= col("n_all"))
          .count()
        (bad == 0L) -> s"randomSplit multiset-partition violations $bad"
      } else {
        (countFps(0)._2 + countFps(1)._2 == liFp) ->
          "randomSplit multiset fingerprint differs from the input's"
      }
      Seq((total, Gate.violations(partitioned,
        (counts.sum == total) -> s"randomSplit sizes ${counts.mkString(",")} of $total",
        (math.abs(counts(0).toDouble / total - 0.7) <= 0.05) ->
          s"randomSplit first split ${counts(0)} of $total is not 70% ± 5%")))
        .toDF("n_total", "n_violations")
    },

    // count_approx (rdd.rs:1030-1056; partial/count_evaluator.rs) — the final
    // value of the PartialResult equals the exact count.
    Q("x_count_approx", "SELECT count(*) AS n_rows FROM lineitem") { (s, dir) =>
      import s.implicits._
      val pr = Tables(s, dir, "lineitem").rdd.countApprox(60000L, 0.95)
      Seq(pr.getFinalValue().mean.toLong).toDF("n_rows")
    },

    // count_by_value_approx (rdd.rs:466-499; grouped_count_evaluator.rs)
    Q("x_count_by_value_approx",
      """SELECT l_returnflag AS value, count(*) AS cnt FROM lineitem
        |GROUP BY l_returnflag ORDER BY value""".stripMargin) { (s, dir) =>
      import s.implicits._
      val m = Tables(s, dir, "lineitem").select("l_returnflag")
        .rdd.map(_.getString(0)).countByValueApprox(60000L, 0.95)
        .getFinalValue()
      s.createDataset(m.map { case (v, bd) => (v, bd.mean.toLong) }.toSeq)
        .toDF("value", "cnt").orderBy("value")
    },

    // HLL++ approximate distinct count (the 100 TB path for cardinality —
    // exact countDistinct is a full shuffle of the distinct keys; the sketch
    // is a fixed-size mergeable buffer). Promoted to a full oracle (r5):
    // DuckDB recomputes the exact cardinality and the 3x-rsd accuracy
    // contract becomes a violation count pinned to 0; the HLL++ estimate
    // itself stays gate-side (register-layout-dependent).
    Q("x_approx_distinct",
      """SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact,
        |CAST(0 AS BIGINT) AS n_violations FROM lineitem""".stripMargin) { (s, dir) =>
      import s.implicits._
      val r = Tables(s, dir, "lineitem").agg(
        countDistinct(col("l_orderkey")).as("exact"),
        approx_count_distinct(col("l_orderkey"), rsd = 0.02).as("approx")).first()
      val (exact, approx) = (r.getLong(0), r.getLong(1))
      val relErr = math.abs(approx - exact).toDouble / exact
      Seq((exact, Gate.violations((relErr <= 0.06) -> // 3x rsd — generous, deterministic sketch
        s"HLL estimate $approx vs exact $exact: rel_err $relErr exceeds 3x rsd")))
        .toDF("exact", "n_violations")
    }
  )
}
