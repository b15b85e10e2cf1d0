package graft.queries

import graft.Tables
import org.apache.spark.sql.functions._

/** Relational pipeline extensions: splits and sampling, cohorts and
  * funnels, range / as-of / fuzzy joins, gap-fill, sessions, SCD2, upserts.
  */
object PipelineQueries {

  val all: Seq[Q] = Seq(
    // Deterministic hash-based train/test split — THE reproducible-pipeline
    // split (same row always lands in the same side, no RNG state to carry,
    // new data doesn't reshuffle old assignments). Sides must partition the
    // corpus (n_train + n_test == n_docs, overlap provably 0 by
    // construction) and hold ~90/10. Promoted to a full oracle (r5): the
    // corpus count is plain SQL and the partition+ratio contract becomes a
    // violation count pinned to 0; the exact train/test counts stay
    // gate-side (Spark-internal xxhash64).
    Q("x_hash_split",
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |CAST(0 AS BIGINT) AS n_violations FROM documents""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val tagged = docs.withColumn("__bucket", pmod(xxhash64(col("doc_id")), lit(10)))
      val r = tagged.agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("__bucket") < 9, 1L).otherwise(0L)).as("n_train"),
        sum(when(col("__bucket") >= 9, 1L).otherwise(0L)).as("n_test")).first()
      val (n, tr, te) = (r.getLong(0), r.getLong(1), r.getLong(2))
      import s.implicits._
      Seq((n, Gate.violations(
        (n > 0 && tr + te == n && tr.toDouble / n >= 0.85 && tr.toDouble / n <= 0.95) ->
          s"hash split broke: $tr train + $te test of $n docs")))
        .toDF("n_docs", "n_violations")
    },

    // Source mixing by largest-remainder apportionment (Hamilton's method):
    // allocate a fixed training budget of 100 document slots across sources
    // proportionally to their token mass — the corpus-mixing step of every
    // multi-source training run. ALL integer arithmetic (floor quotas via
    // integer DIV, remainders ranked exactly), so the allocation is
    // bit-identical in both engines — no pow()/float temperature lottery.
    // Scale shape: the per-source stats frame has source-cardinality rows
    // (tiny by definition), so the global remainder rank is a 20-row
    // window, never a corpus-sized one.
    Q("x_source_mix",
      """WITH tok AS (SELECT source,
        |  CAST(sum(len(list_filter(string_split(lower(text), ' '),
        |    t -> t <> ''))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t FROM tok),
        |base AS (SELECT source, n_tokens,
        |  (100 * n_tokens) // t AS q0, (100 * n_tokens) % t AS rem
        |  FROM tok, tot),
        |lo AS (SELECT CAST(100 - sum(q0) AS BIGINT) AS leftover FROM base),
        |rk AS (SELECT source, n_tokens, q0,
        |  row_number() OVER (ORDER BY rem DESC, source) AS rnk FROM base)
        |SELECT source, n_tokens,
        |  CAST(q0 + CASE WHEN rnk <= (SELECT leftover FROM lo) THEN 1 ELSE 0 END
        |    AS BIGINT) AS quota
        |FROM rk ORDER BY source""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ws = filter(split(lower(col("text")), " "), t => t =!= "")
      val tok = Tables(s, dir, "documents")
        .select(col("source"), size(ws).as("nt"))
        .groupBy("source").agg(sum("nt").cast("long").as("n_tokens"))
      val tot = tok.agg(sum("n_tokens").as("t"))
      val base = tok.crossJoin(broadcast(tot))
        .withColumn("q0", expr("(100 * n_tokens) DIV t"))
        .withColumn("rem", expr("(100 * n_tokens) % t"))
      val leftover = base.agg((lit(100L) - sum("q0")).as("leftover"))
      base
        .withColumn("rnk",
          row_number().over(Window.orderBy(col("rem").desc, col("source"))))
        .crossJoin(broadcast(leftover))
        .select(col("source"), col("n_tokens"),
          (col("q0") + when(col("rnk") <= col("leftover"), 1L).otherwise(0L))
            .as("quota"))
        .orderBy("source")
    },

    // Stratified sampling: deterministic n-per-group head (training-mix
    // balancing). Fully oracle-able via window rank.
    Q("x_stratified_sample",
      """SELECT source, doc_id FROM (SELECT source, doc_id,
        |row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |FROM documents) t WHERE rn <= 5 ORDER BY source, doc_id""".stripMargin) { (s, dir) =>
      graft.operators.Sampling.stratifiedHead(
        Tables(s, dir, "documents"), "source", "doc_id", 5)
        .select("source", "doc_id").orderBy("source", "doc_id")
    },

    // Cohort retention: users grouped by first-activity week, activity
    // counted at week offsets — the canonical product-analytics rollup.
    // Plan shape for 100 TB: the per-user first touch comes from a
    // PARTITIONED window min (one exchange on user_id, no agg+join-back
    // second shuffle), then one aggregate on (cohort, offset). Week starts
    // are ISO Mondays in both engines, and the offset divides an exact
    // multiple of 7 days — integer arithmetic end to end.
    Q("x_cohort_retention",
      """WITH a AS (SELECT user_id,
        |  date_trunc('week', min(ts) OVER (PARTITION BY user_id)) AS cohort,
        |  CAST(datediff('day',
        |    date_trunc('week', min(ts) OVER (PARTITION BY user_id)),
        |    date_trunc('week', ts)) // 7 AS BIGINT) AS week_offset
        |  FROM events)
        |SELECT cohort, week_offset,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM a GROUP BY cohort, week_offset
        |ORDER BY cohort, week_offset""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
      Tables(s, dir, "events")
        .select(col("user_id"), col("ts"), min("ts").over(w).as("first_ts"))
        .select(col("user_id"),
          date_trunc("week", col("first_ts")).as("cohort"),
          (datediff(date_trunc("week", col("ts")),
            date_trunc("week", col("first_ts"))) / 7).cast("long")
            .as("week_offset"))
        .groupBy("cohort", "week_offset")
        .agg(countDistinct("user_id").as("n_users"))
        .orderBy("cohort", "week_offset")
    },

    // Range (interval) join via bucket decomposition: clicks inside each
    // purchase's 30-minute attribution window. Same truth as x_stream_join's
    // inequality join, but planned as an EQUI-join on (user, time-bucket) —
    // the shape that survives when neither side broadcasts (a bare range
    // predicate would plan a nested-loop join).
    Q("x_range_join",
      """WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase')
        |SELECT p.user_id AS user_id, count(*) AS n_pairs
        |FROM p JOIN c ON c.user_id = p.user_id
        |AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts
        |GROUP BY p.user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      val ev = Tables(s, dir, "events")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), unix_millis(col("ts")).as("pt"))
      val windows = ev.where(col("event_type") === "purchase")
        .select(col("user_id"),
          (unix_millis(col("ts")) - 1800000L).as("w_start"),
          unix_millis(col("ts")).as("w_end"))
      graft.operators.RangeJoin.pointInInterval(clicks, windows, "user_id",
          "pt", "w_start", "w_end", Seq.empty, bucketWidth = 1800000L)
        .groupBy("user_id").agg(count(lit(1)).as("n_pairs"))
        .orderBy("user_id")
    },

    // Interval-OVERLAP join (intervals x intervals, the shape
    // point-in-interval can't express): each user's per-day view-activity
    // window joined to their purchase-activity windows wherever the two
    // CLOSED intervals intersect — co-active periods, the
    // sessions-vs-sessions / attribution-window-collision primitive.
    // RangeJoin.intervalOverlap buckets BOTH sides, equi-joins on
    // (user, bucket), and emits each pair exactly once at the bucket
    // holding max(start, start) — no pair-dedup shuffle. Full oracle:
    // DuckDB recomputes the pair list + overlap length with a plain
    // inequality join (fine at oracle SF; the bucketed equi-join is the
    // shape that survives when neither side broadcasts).
    Q("x_overlap_join",
      """WITH v AS (SELECT user_id, date_trunc('day', ts) AS day_v,
        |  min(epoch_ms(ts)) AS vs, max(epoch_ms(ts)) AS ve FROM events
        |  WHERE event_type = 'view' GROUP BY 1, 2),
        |p AS (SELECT user_id, date_trunc('day', ts) AS day_p,
        |  min(epoch_ms(ts)) AS ps, max(epoch_ms(ts)) AS pe FROM events
        |  WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT v.user_id AS user_id, day_v, day_p,
        |CAST(least(ve, pe) - greatest(vs, ps) AS BIGINT) AS overlap_ms
        |FROM v JOIN p ON v.user_id = p.user_id
        |  AND vs <= pe AND ps <= ve
        |ORDER BY user_id, day_v, day_p""".stripMargin) { (s, dir) =>
      val ev = Tables(s, dir, "events")
      def windows(tpe: String, day: String, a: String, b: String) =
        ev.where(col("event_type") === tpe)
          .groupBy(col("user_id"), date_trunc("day", col("ts")).as(day))
          .agg(min(unix_millis(col("ts"))).as(a),
            max(unix_millis(col("ts"))).as(b))
      val pairs = graft.operators.RangeJoin.intervalOverlap(
        windows("view", "day_v", "vs", "ve"),
        windows("purchase", "day_p", "ps", "pe"),
        "user_id", "vs", "ve", "ps", "pe", bucketWidth = 3600000L)
      pairs.select(col("user_id"), col("day_v"), col("day_p"),
          (least(col("ve"), col("pe")) - greatest(col("vs"), col("ps")))
            .as("overlap_ms"))
        .orderBy("user_id", "day_v", "day_p")
    },

    // As-of (point-in-time) join: each purchase gets the same user's most
    // recent click value at-or-before purchase time — no future leakage.
    // Oracled against DuckDB's native ASOF LEFT JOIN.
    Q("x_asof_join",
      """WITH p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts, max(value) AS click_value FROM events
        |      WHERE event_type = 'click' GROUP BY user_id, ts)
        |SELECT p.user_id AS user_id, count(*) AS n_purchases,
        |count(c.click_value) AS n_matched,
        |round(coalesce(sum(c.click_value), 0), 2) AS sum_click_value
        |FROM p ASOF LEFT JOIN c
        |ON p.user_id = c.user_id AND p.ts >= c.ts
        |GROUP BY p.user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      val ev = Tables(s, dir, "events")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"))
      val clicks = ev.where(col("event_type") === "click")
        .groupBy("user_id", "ts").agg(max("value").as("click_value"))
      graft.operators.AsofJoin
        .asofBackward(purchases, clicks, "user_id", "ts", Seq("click_value"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_purchases"),
          count(col("click_value")).as("n_matched"),
          round(coalesce(sum("click_value"), lit(0.0)), 2).as("sum_click_value"))
        .orderBy("user_id")
    },

    // Blocked fuzzy-match join (record linkage): the entity-resolution
    // primitive — a "dirty" feed whose keys are unusable joins back to the
    // master table by STRING similarity, made tractable by blocking: an
    // equi-join on a cheap blocking key bounds the candidate set, then
    // codegen'd levenshtein verifies each candidate (never corpus x
    // corpus). Fixture: 25 master names with one mid-string typo (the
    // blocking key — a digit span the typo can't touch — survives) plus 5
    // ghost records matching nothing. lev<=1 identifies the unique source
    // deterministically: fixing the typo'd position forces the rest to
    // match exactly. At 100 TB block sizing is the knob — |block_dirty| x
    // |block_master| per key must stay bounded (multi-pass blocking with
    // a second key ORs in recall, same shape as LSH tables).
    Q("x_fuzzy_join",
      """WITH dirty AS (
        |  SELECT c_custkey + 1000000 AS d_key,
        |    concat(substr(c_name, 1, 9), 'X', substr(c_name, 11)) AS d_name
        |  FROM customer WHERE c_custkey < 25
        |  UNION ALL
        |  SELECT 2000000 + r.range,
        |    concat('Ghost#00', CAST(r.range AS VARCHAR)) FROM range(5) r),
        |m AS (SELECT d.d_key, c.c_custkey,
        |    levenshtein(d.d_name, c.c_name) AS dist
        |  FROM dirty d JOIN customer c
        |  ON substr(d.d_name, 12, 4) = substr(c.c_name, 12, 4)
        |  WHERE levenshtein(d.d_name, c.c_name) <= 1)
        |SELECT d_key, c_custkey, dist FROM m
        |ORDER BY d_key""".stripMargin) { (s, dir) =>
      import s.implicits._
      val cust = Tables(s, dir, "customer")
      val typod = cust.where(col("c_custkey") < 25)
        .select((col("c_custkey") + 1000000L).as("d_key"),
          concat(substring(col("c_name"), 1, 9), lit("X"),
            substring(col("c_name"), 11, 100)).as("d_name"))
      val ghosts = (0 until 5)
        .map(k => (2000000L + k, s"Ghost#00$k")).toDF("d_key", "d_name")
      val dirty = typod.unionByName(ghosts)
      dirty.join(cust,
        substring(col("d_name"), 12, 4) === substring(col("c_name"), 12, 4))
        .where(levenshtein(col("d_name"), col("c_name")) <= 1)
        .select(col("d_key"), col("c_custkey"),
          levenshtein(col("d_name"), col("c_name")).cast("long").as("dist"))
        .orderBy("d_key")
    },

    // Time-series gap fill with last-observation-carried-forward: build
    // each key's complete hourly grid (sequence/generate_series between
    // its observed min and max hour — the explode is bounded by span, not
    // corpus), left-join the observed hourly sums, then LOCF via
    // last(ignoreNulls) over a key-partitioned running frame. The first
    // grid hour is an observed hour by construction, so the fill is
    // total. Integer cents keep the oracle exact; the output aggregates
    // per user so no raw timestamp column crosses the engine boundary.
    Q("x_gapfill",
      """WITH h AS (SELECT user_id, date_trunc('hour', ts) AS hour,
        |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events WHERE user_id < 10 GROUP BY 1, 2),
        |span AS (SELECT user_id, min(hour) AS h0, max(hour) AS h1
        |  FROM h GROUP BY user_id),
        |grid AS (SELECT user_id,
        |  unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM span),
        |j AS (SELECT g.user_id, g.hour, h.cents FROM grid g
        |  LEFT JOIN h USING (user_id, hour)),
        |f AS (SELECT user_id, hour, cents,
        |  last_value(cents IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY hour ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS cents_filled FROM j)
        |SELECT user_id, count(*) AS n_hours,
        |count(*) FILTER (WHERE cents IS NULL) AS n_filled,
        |CAST(sum(cents_filled) AS BIGINT) AS total_cents
        |FROM f GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("hour")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val h = Tables(s, dir, "events").where(col("user_id") < 10)
        .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hour"))
        .agg(sum(round(col("value") * 100, 0).cast("long")).as("cents"))
      val grid = h.groupBy("user_id")
        .agg(min("hour").as("h0"), max("hour").as("h1"))
        .select(col("user_id"),
          explode(sequence(col("h0"), col("h1"),
            expr("interval 1 hour"))).as("hour"))
      grid.join(h, Seq("user_id", "hour"), "left")
        .withColumn("cents_filled",
          last(col("cents"), ignoreNulls = true).over(w))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_hours"),
          count(when(col("cents").isNull, 1)).as("n_filled"),
          sum("cents_filled").as("total_cents"))
        .orderBy("user_id")
    },

    // Sequential path mining — top event TRIGRAMS over each user's
    // time-ordered journey (the frequent-subsequence primitive behind
    // next-action models and journey analytics; x_funnel asks about ONE
    // fixed pattern, this ranks all of them). Order inside a user is
    // (ts, event_id) in both engines — ts alone can tie, and a tied
    // window order is the classic silent cross-engine divergence. The
    // window partitions by user (bounded by one user's history, never
    // corpus-wide); the trigram count is one aggregate; the top-20 cut
    // orders by (n DESC, path) — a total order, no float anywhere.
    Q("x_event_paths",
      """WITH s AS (SELECT event_type AS e,
        |  lead(event_type, 1) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS e2,
        |  lead(event_type, 2) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS e3 FROM events),
        |t AS (SELECT e || '>' || e2 || '>' || e3 AS path FROM s
        |  WHERE e2 IS NOT NULL AND e3 IS NOT NULL)
        |SELECT path, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY path
        |ORDER BY n DESC, path LIMIT 20""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("e"))
        .withColumn("e2", lead(col("e"), 1).over(w))
        .withColumn("e3", lead(col("e"), 2).over(w))
        .where(col("e2").isNotNull && col("e3").isNotNull)
        .select(concat_ws(">", col("e"), col("e2"), col("e3")).as("path"))
        .groupBy("path").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path"))
        .limit(20)
    },

    // Time-decayed aggregation — exponential recency weighting
    // (engagement scores, freshness-weighted counts): each event
    // contributes cents * exp(-0.1 * age_days). Float discipline: the
    // decay factor is QUANTIZED per event (floor(exp * 1e9) as BIGINT —
    // the x_lm_score floor-at-1e6 pattern, and age_days takes only ~31
    // distinct values so the ulp surface is tiny), making every term an
    // exact integer and the sum ORDER-FREE — a raw float sum would hash
    // differently under Spark's unordered partial aggregation. Overflow
    // bound: |term| <= 1e4 cents * 1e9 = 1e13; safe to ~9e5 rows per
    // group at BIGINT — document-and-assert territory past sf1.
    Q("x_time_decay",
      """WITH mx AS (SELECT max(ts) AS m FROM events),
        |d AS (SELECT event_type,
        |  date_diff('day', date_trunc('day', ts), date_trunc('day', m)) AS age,
        |  CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events, mx)
        |SELECT event_type, count(*) AS n,
        |CAST(sum(cents * CAST(floor(exp(-0.1 * age) * 1000000000) AS BIGINT))
        |  AS BIGINT) AS decayed_microcents
        |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      val ev = Tables(s, dir, "events")
      val mx = ev.agg(max("ts").as("m"))
      ev.crossJoin(broadcast(mx))
        .select(col("event_type"),
          datediff(date_trunc("day", col("m")), date_trunc("day", col("ts")))
            .as("age"),
          round(col("value") * 100, 0).cast("long").as("cents"))
        .select(col("event_type"),
          (col("cents") * floor(exp(col("age") * -0.1) * 1e9).cast("long"))
            .as("term"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("term").as("decayed_microcents"))
        .orderBy("event_type")
    },

    // Ordered-sequence funnel (view -> click -> purchase): each stage's
    // earliest qualifying timestamp must be STRICTLY after the previous
    // stage's — the product-analytics conversion funnel. The per-stage
    // tables are user-level aggregates (tiny — one row per user), so the
    // stage joins broadcast at any corpus scale; the events table is
    // scanned once per stage with the stage filter pushed to the scan.
    Q("x_funnel",
      """WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |  JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
        |  WHERE e.event_type = 'click' GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |  JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
        |  WHERE e.event_type = 'purchase' GROUP BY e.user_id)
        |SELECT (SELECT count(*) FROM v) AS n_viewed,
        |(SELECT count(*) FROM c) AS n_clicked,
        |(SELECT count(*) FROM p) AS n_converted""".stripMargin) { (s, dir) =>
      val ev = Tables(s, dir, "events")
      val v = ev.where(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("t1"))
      val c = ev.where(col("event_type") === "click")
        .join(broadcast(v), Seq("user_id"))
        .where(col("ts") > col("t1"))
        .groupBy("user_id").agg(min("ts").as("t2"))
      val p = ev.where(col("event_type") === "purchase")
        .join(broadcast(c), Seq("user_id"))
        .where(col("ts") > col("t2"))
        .groupBy("user_id").agg(min("ts").as("t3"))
      v.agg(count(lit(1)).as("n_viewed"))
        .crossJoin(c.agg(count(lit(1)).as("n_clicked")))
        .crossJoin(p.agg(count(lit(1)).as("n_converted")))
    },

    // Conversion funnel: users whose FIRST view precedes their first click
    // precedes their first purchase — one partial-aggregated groupBy(user)
    // carrying three conditional mins, then a single-row rollup; no join,
    // no window, epoch-ms on both sides (monotone, tie-stable). The classic
    // behavioral-analytics shape at any scale.
    Q("x_event_funnel",
      """WITH f AS (SELECT user_id,
        |  min(epoch_ms(ts)) FILTER (event_type = 'view') AS v,
        |  min(epoch_ms(ts)) FILTER (event_type = 'click') AS c,
        |  min(epoch_ms(ts)) FILTER (event_type = 'purchase') AS p
        |  FROM events GROUP BY user_id)
        |SELECT count(*) AS n_users,
        |CAST(sum(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_viewed,
        |CAST(sum(CASE WHEN v < c THEN 1 ELSE 0 END) AS BIGINT) AS n_clicked_after,
        |CAST(sum(CASE WHEN v < c AND c < p THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_converted
        |FROM f""".stripMargin) { (s, dir) =>
      def firstTs(t: String) =
        min(when(col("event_type") === t, unix_millis(col("ts")))).as(t.take(1))
      Tables(s, dir, "events")
        .groupBy("user_id")
        .agg(firstTs("view"), firstTs("click"), firstTs("purchase"))
        .agg(count(lit(1)).as("n_users"),
          sum(when(col("v").isNotNull, 1L).otherwise(0L)).as("n_viewed"),
          sum(when(col("v") < col("c"), 1L).otherwise(0L)).as("n_clicked_after"),
          sum(when(col("v") < col("c") && col("c") < col("p"), 1L).otherwise(0L))
            .as("n_converted"))
    },

    // Deterministic per-group sampling — "bottom-k by portable hash": each
    // group keeps the k rows with the smallest md5-derived priority. Fully
    // reproducible (no RNG state, append-stable: a row's priority never
    // changes) AND fully oracled — the 13-hex-digit priority is a 52-bit
    // integer both engines compute identically. The Spark plan is the
    // graft_topk bounded heap through partial aggregation (O(groups × k)
    // exchange); the window+row_number form the oracle uses would shuffle
    // the whole table into one partition per group at scale.
    Q("x_group_sample",
      """WITH pr AS (SELECT c_mktsegment, c_custkey,
        |  CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 1, 13))
        |    AS BIGINT) AS prio
        |  FROM customer),
        |rk AS (SELECT c_mktsegment, c_custkey, row_number() OVER
        |  (PARTITION BY c_mktsegment ORDER BY prio, c_custkey) AS r FROM pr)
        |SELECT c_mktsegment, c_custkey FROM rk WHERE r <= 5
        |ORDER BY c_mktsegment, c_custkey""".stripMargin) { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      import graft.functions.GraftFunctions.graft_topk
      // 13 hex digits = 52 bits: exact in a double, so the negated score
      // the heap ranks on is bit-identical to the oracle's integer order
      val prio = conv(substring(md5(col("c_custkey").cast("string")
        .cast("binary")), 1, 13), 16, 10).cast("long")
      Tables(s, dir, "customer")
        .select(col("c_mktsegment"), col("c_custkey"),
          (-prio.cast("double")).as("score"))
        .groupBy("c_mktsegment")
        .agg(graft_topk(col("c_custkey"), col("score"), 5).as("sample"))
        .select(col("c_mktsegment"),
          explode(col("sample").getField("vid")).as("c_custkey"))
        .orderBy("c_mktsegment", "c_custkey")
    },

    // Deterministic training-order shuffle + sharding: the epoch-order step
    // of a training-data pipeline. A seeded content hash gives every doc a
    // 52-bit priority (portable md5, the x_group_sample discipline); shard
    // comes from an INDEPENDENT hex span of the same digest (digits 14-15,
    // so shard and within-shard order don't correlate), and the within-
    // shard sequence is a row_number over (priority, id). The permutation
    // is a pure function of (seed, doc_id) — reproducible across engines,
    // cluster layouts and retries, which is the whole point (a .orderBy
    // (rand()) epoch can never be re-materialized after a failure). At
    // 100 TB: shard count scales with the corpus (1 shard ~ 1 output
    // file), the window partitions by shard so no task ever sees more
    // than corpus/shards rows, and the oracle's seq*id checksum pins the
    // EXACT permutation, not just shard populations.
    Q("x_train_shuffle",
      """WITH pr AS (SELECT doc_id,
        |  CAST(concat('0x', substr(md5(concat('42#', CAST(doc_id AS VARCHAR))),
        |    1, 13)) AS BIGINT) AS prio,
        |  CAST(concat('0x', substr(md5(concat('42#', CAST(doc_id AS VARCHAR))),
        |    14, 2)) AS BIGINT) % 16 AS shard
        |  FROM documents),
        |rk AS (SELECT shard, doc_id, row_number() OVER
        |  (PARTITION BY shard ORDER BY prio, doc_id) AS seq FROM pr)
        |SELECT shard, count(*) AS n_docs,
        |CAST(sum(seq * doc_id) AS BIGINT) AS order_checksum
        |FROM rk GROUP BY shard ORDER BY shard""".stripMargin) { (s, dir) =>
      val digest = md5(concat(lit("42#"), col("doc_id").cast("string")).cast("binary"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("shard").orderBy("prio", "doc_id")
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          conv(substring(digest, 1, 13), 16, 10).cast("long").as("prio"),
          pmod(conv(substring(digest, 14, 2), 16, 10).cast("long"), lit(16))
            .as("shard"))
        .withColumn("seq", row_number().over(w))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("seq") * col("doc_id")).as("order_checksum"))
        .orderBy("shard")
    },

    // Gap-based sessions via flatMapGroupsWithState, oracled against the
    // classic gaps-and-islands SQL (ms-truncated epochs on both sides).
    Q("x_sessionize",
      """WITH d AS (SELECT user_id, epoch_ms(ts) AS t FROM events),
        |m AS (SELECT user_id, t, CASE WHEN t - lag(t) OVER
        |  (PARTITION BY user_id ORDER BY t) > 1800000
        |  OR lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
        |  THEN 1 ELSE 0 END AS new_s FROM d),
        |s AS (SELECT user_id, sum(new_s) OVER
        |  (PARTITION BY user_id ORDER BY t
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM m)
        |SELECT user_id, CAST(count(DISTINCT sid) AS BIGINT) AS n_sessions,
        |count(*) AS n_events FROM s GROUP BY user_id
        |ORDER BY user_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val ev = Tables(s, dir, "events")
        .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
          col("event_type"), col("value"))
        .as[graft.streaming.EventStreams.Event]
      graft.streaming.EventStreams.sessionize(ev, gapMinutes = 30)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
        .orderBy("user_id")
    },

    // SCD type-2 interval construction from a changelog: each change opens
    // a validity interval that the NEXT change (in (ts, event_id) order)
    // closes; the latest row stays open (null valid_to). One shuffle on the
    // entity key; tie-safe via event_id.
    Q("x_scd2",
      """SELECT user_id, ts AS valid_from,
        |lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |  AS valid_to,
        |event_type AS state
        |FROM events ORDER BY user_id, valid_from""".stripMargin) { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      Tables(s, dir, "events")
        .select(col("user_id"), col("ts").as("valid_from"),
          lead(col("ts"), 1).over(w).as("valid_to"),
          col("event_type").as("state"))
        .orderBy("user_id", "valid_from")
    },

    // MERGE-style upsert (the batch CDC apply): base table + changeset of
    // updates/deletes/inserts, reconciled in ONE full-outer shuffle join on
    // the key — no per-row lookups, no driver loop. A small changeset would
    // broadcast; this one is ~10% of the base, so the shuffle join is the
    // honest 100 TB plan. Deletes drop, updates win over base, inserts pass
    // through, untouched base rows survive — all checked by the oracle.
    Q("x_merge_upsert",
      """WITH upd AS (SELECT o_orderkey, o_totalprice + 100 AS price, 'U' AS op
        |  FROM orders WHERE o_orderkey % 10 = 0 AND o_orderkey % 20 <> 0),
        |del AS (SELECT o_orderkey, CAST(NULL AS DOUBLE) AS price, 'D' AS op
        |  FROM orders WHERE o_orderkey % 20 = 0),
        |ins AS (SELECT o_orderkey + 100000000 AS o_orderkey,
        |  o_totalprice AS price, 'I' AS op
        |  FROM orders WHERE o_orderkey % 30 = 0),
        |chg AS (SELECT * FROM upd UNION ALL SELECT * FROM del
        |  UNION ALL SELECT * FROM ins),
        |merged AS (
        |  SELECT coalesce(c.o_orderkey, b.o_orderkey) AS k,
        |    CASE WHEN c.op = 'D' THEN NULL
        |         WHEN c.op IS NOT NULL THEN c.price
        |         ELSE b.o_totalprice END AS price,
        |    CASE WHEN c.op = 'D' THEN 0 ELSE 1 END AS keep
        |  FROM orders b FULL OUTER JOIN chg c ON b.o_orderkey = c.o_orderkey)
        |SELECT count(*) AS n_rows,
        |CAST(sum(CAST(round(price * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0
        |  AS total_price
        |FROM merged WHERE keep = 1""".stripMargin) { (s, dir) =>
      val base = Tables(s, dir, "orders")
      val upd = base.where(col("o_orderkey") % 10 === 0 && col("o_orderkey") % 20 =!= 0)
        .select(col("o_orderkey"), (col("o_totalprice") + 100).as("price"),
          lit("U").as("op"))
      val del = base.where(col("o_orderkey") % 20 === 0)
        .select(col("o_orderkey"), lit(null).cast("double").as("price"),
          lit("D").as("op"))
      val ins = base.where(col("o_orderkey") % 30 === 0)
        .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
          col("o_totalprice").as("price"), lit("I").as("op"))
      val chg = upd.unionByName(del).unionByName(ins)
        .withColumnRenamed("o_orderkey", "c_key")
      base.join(chg, col("o_orderkey") === col("c_key"), "full_outer")
        .select(
          when(col("op") === "D", lit(null).cast("double"))
            .when(col("op").isNotNull, col("price"))
            .otherwise(col("o_totalprice")).as("price"),
          when(col("op") === "D", lit(0)).otherwise(lit(1)).as("keep"))
        .where(col("keep") === 1)
        .agg(count(lit(1)).as("n_rows"),
          (sum(round(col("price") * 100, 0).cast("bigint")).cast("double")
            / 100.0).as("total_price"))
    }
  )
}
