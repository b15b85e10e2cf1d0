package graft.queries

import graft.Tables
import graft.operators.Bpe
import org.apache.spark.sql.functions._

/** Corpus-preparation extensions beyond the other families: global ordinal
  * assignment, cross-document span-level dedup, URL parsing, one-pass
  * profiling, and BPE tokenizer-merge training. All DuckDB-oracled except
  * BPE (iterative argmax is not SQL-expressible; it is self-GATING
  * instead — lossless round-trip, monotone compression, non-increasing
  * merge weights — so a broken kernel turns the driver entry red).
  */
object CorpusQueries {

  /** Restore scan parallelism when the input is MORE THAN 2x narrower
    * than the session's core count (r15 optimization; threshold fixed per
    * r15 advice — the old min(8, cores) bar left an 8-partition scan 4x
    * under-parallelized at local[32], and its doc claimed cores): the
    * gate-SF tables are single-row-group files — one scan task — which
    * serializes any per-row kernel that follows. The half-cores fraction
    * is deliberate: a scan within 2x of the core count keeps every core
    * busy once the kernel stage has a few waves, and skipping the
    * full-text exchange there costs less than the residual imbalance —
    * ScaleCheck's materialized corpora and a 100 TB deployment arrive in
    * >= cores splits, where the helper stays a no-op (unlike the
    * unconditional Fixtures.par, whose cost is already priced
    * into committed SCALECHECK cells). df.rdd is one extra physical
    * planning of the scan subtree, paid once per query build — measured
    * in the per-query floor, not the kernel path.
    */
  private def parIfNarrow(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= math.max(1, target / 2)) df
    else df.repartition(target)
  }

  /** The positional 8-gram fingerprint stream (doc_id, pos, g) — the
    * two-lane 62-bit fingerprint of x_span_dedup, with the gram's start
    * position kept (pos is 0-based and engine-local; consumers only ever
    * use position DIFFERENCES, which are base-invariant).
    */
  private[graft] def gramPositions(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val toks = filter(split(lower(col("text")), " "), t => t =!= "")
    // single-file local fixture = one scan partition; the per-token md5 +
    // rolling-gram transforms below are the heavy term, so restore
    // parallelism first when the scan is narrow
    parIfNarrow(Tables(s, dir, "documents"))
      .select(col("doc_id"), toks.as("ts"))
      .where(size(col("ts")) >= 8)
      .select(col("doc_id"), expr(
        "transform(ts, x -> CAST(conv(substr(md5(x), 1, 15), 16, 10) AS BIGINT))")
        .as("h"))
      .select(col("doc_id"),
        expr("transform(h, x -> x div 1073741824L)").as("t1"),
        expr("transform(h, x -> x % 1073741824L)").as("t2"))
      .select(col("doc_id"), posexplode(expr(
        """transform(sequence(1, size(t1) - 7), i ->
          |  pmod(t1[i-1]*31 + t1[i]*37 + t1[i+1]*41 + t1[i+2]*43
          |    + t1[i+3]*47 + t1[i+4]*53 + t1[i+5]*59 + t1[i+6]*61,
          |    2147483647L) * 2147483648L
          |  + pmod(t2[i-1]*31 + t2[i]*37 + t2[i+1]*41 + t2[i+2]*43
          |    + t2[i+3]*47 + t2[i+4]*53 + t2[i+5]*59 + t2[i+6]*61,
          |    2147483647L))""".stripMargin)).as(Seq("pos", "g")))
  }

  /** x_novelty's distinct (doc, 8-gram-fingerprint) frame — factored out
    * so ScaleCheck can publish its cardinality as the row's growth-term
    * cell (r9 verdict #5: the curve's cost axis is this count; the
    * query's three exchanges are all keyed on it).
    */
  private[graft] def noveltyGrams(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    gramPositions(s, dir).select("doc_id", "g").dropDuplicates("doc_id", "g")

  /** Edges (src = id, dst = k-th next id in SORTED order) for each k in
    * `skips`, built WITHOUT `lead()` over an unpartitioned window (r14
    * verdict hygiene: that window funnels the whole ids frame through one
    * task at a 1000x corpus). Instead the x_global_ids discipline: global
    * dense rank via range-partition + local sort + zipWithIndex (parallel,
    * driver state is P longs), then a hash-parallel rank+k equi-join.
    * Semantics stay identical to lead(k): strided ScaleCheck copy ids keep
    * their true sorted-order successor, which id+k ARITHMETIC would not
    * (it shatters the chain at every copy boundary).
    */
  private[graft] def sortedSuccessorEdges(s: org.apache.spark.sql.SparkSession,
      ids: org.apache.spark.sql.DataFrame,
      skips: Seq[Int]): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val ranked = ids.repartitionByRange(col("id"))
      .sortWithinPartitions("id")
      .select("id").as[Long].rdd.zipWithIndex().toDF("id", "rid")
    skips.map { k =>
      // inner join == lead's isNotNull filter: the last k ranks drop out
      ranked.join(
        ranked.select(col("id").as("dst"), (col("rid") - k).as("rid")),
        "rid")
        .select(col("id").as("src"), col("dst"))
    }.reduce(_ unionByName _)
  }

  /** x_triangles' chain+skip edge fixture — factored out so ScaleCheck can
    * feed the same edges to Triangles.wedgeCount (the row's growth-term
    * cell: the wedge stream is the operator's cost axis).
    */
  private[graft] def triangleEdges(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val ids = Tables(s, dir, "documents").select(col("doc_id").as("id"))
    sortedSuccessorEdges(s, ids, Seq(1, 2))
  }

  def all: Seq[Q] = Seq(

    // Global contiguous row ids WITHOUT the row_number()-over-everything
    // anti-pattern: a no-partition window funnels the whole table through
    // ONE task, which is exactly what dies at 100 TB. zipWithIndex instead
    // range-partitions + sorts locally (parallel), then runs one O(P)
    // count job and a narrow map that adds each partition's offset —
    // driver state is P longs, never rows. The checksum sum(rid *
    // o_orderkey) pins EVERY key to its exact rank (any swap changes it);
    // sum_rid = n(n-1)/2 pins contiguity.
    Q("x_global_ids",
      """WITH r AS (SELECT o_orderkey,
        |  row_number() OVER (ORDER BY o_orderkey) - 1 AS rid FROM orders)
        |SELECT count(*) AS n_rows,
        |  CAST(sum(rid) AS BIGINT) AS sum_rid,
        |  CAST(sum(((rid % 2147483647) * (o_orderkey % 2147483647)) % 2147483647)
        |    AS BIGINT) AS checksum FROM r""".stripMargin) { (s, dir) =>
      import s.implicits._
      val sorted = Tables(s, dir, "orders").select(col("o_orderkey"))
        .repartitionByRange(col("o_orderkey"))
        .sortWithinPartitions("o_orderkey")
      // Rank-pinning checksum, overflow-proof: each factor is reduced mod
      // the Mersenne prime 2^31-1 BEFORE the product (each term < 2^62,
      // never wraps a BIGINT), so Spark's wrapping long sum and DuckDB's
      // HUGEINT sum agree at any SF — a raw sum(rid*o_orderkey) silently
      // wraps on the Spark side around sf1 (~1.35e19 > Long.MAX) while
      // DuckDB errors on the BIGINT cast. The term sum itself stays under
      // Long.MAX up to ~4e9 rows (sf ~2700 for orders).
      val p = lit(2147483647L)
      sorted.as[Long].rdd.zipWithIndex()
        .toDF("o_orderkey", "rid")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("rid")).as("sum_rid"),
          sum(((col("rid") % p) * (col("o_orderkey") % p)) % p).as("checksum"))
    },

    // Cross-document repeated spans — the exact-substring form of
    // training-data dedup (Lee et al. 2022 use suffix arrays; the
    // shuffle-native equivalent is fingerprinted sliding windows).
    // Every 8-token window is hashed to a 60-bit fingerprint — the first
    // 15 hex digits of its md5 cast to BIGINT, the SAME derivation in
    // both engines, so the shuffle carries 8-byte longs instead of
    // 32-char hex strings (4x+ less key weight on a ~90-grams/doc
    // exchange; the r9 change that moved this row off the family-worst
    // list). Fingerprint collisions merge spans identically in both
    // engines (identical hash function => identical counts), so the
    // oracle equality is exact by construction, not collision-free luck.
    // Spans seen in >1 distinct document are the dedup candidates. One
    // corpus scan, one exchange on the fingerprint — both sides of the
    // 100 TB story.
    Q("x_span_dedup",
      """WITH toks AS (SELECT doc_id,
        |  list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
        |  FROM documents),
        |th AS (SELECT doc_id, list_transform(ts, x ->
        |  CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT)) AS h
        |  FROM toks WHERE len(ts) >= 8),
        |lanes AS (SELECT doc_id,
        |  list_transform(h, x -> x // 1073741824) AS t1,
        |  list_transform(h, x -> x % 1073741824) AS t2 FROM th),
        |grams AS (SELECT doc_id,
        |  ((t1[i]*31 + t1[i+1]*37 + t1[i+2]*41 + t1[i+3]*43 + t1[i+4]*47
        |    + t1[i+5]*53 + t1[i+6]*59 + t1[i+7]*61) % 2147483647) * 2147483648
        |  + ((t2[i]*31 + t2[i+1]*37 + t2[i+2]*41 + t2[i+3]*43 + t2[i+4]*47
        |    + t2[i+5]*53 + t2[i+6]*59 + t2[i+7]*61) % 2147483647) AS g
        |  FROM lanes, UNNEST(range(1, len(t1) - 6)) AS u(i)),
        |dup AS (SELECT g, count(DISTINCT doc_id) AS nd FROM grams GROUP BY g
        |  HAVING count(DISTINCT doc_id) > 1)
        |SELECT count(*) AS n_dup_spans,
        |  CAST(coalesce(sum(nd), 0) AS BIGINT) AS n_span_docs FROM dup""".stripMargin) { (s, dir) =>
      // Fingerprint = ONE md5 per TOKEN (60 bits, split into two 30-bit
      // halves), then an 8-term integer polynomial per lane mod the
      // Mersenne prime 2^31-1, lanes packed into a 62-bit key. The
      // previous shape re-concatenated each 8-gram and md5'd the ~50-byte
      // string — NOTES round 9, at the 100x corpus, measured the gram stream at
      // 7.4s with md5 and 6.5s even with xxhash64 (the STRING BUILDING,
      // not the digest, was the cost); per-token hash + polynomial runs
      // the same stream in 2.9s. All arithmetic is overflow-safe BIGINT
      // (terms < 2^36, lane sums < 2^39, packed key < 2^62) and integer-
      // exact in both engines: Spark pmod == DuckDB % on these
      // non-negative operands, Spark `div` == DuckDB `//`, and Spark's
      // 0-based t1[i-1] lines up with DuckDB's 1-based t1[i]. The 62-bit
      // space keeps collision honesty (~46M grams at 100x => ~1e-4
      // expected collisions; a 31-bit single lane would produce ~250k
      // false dup spans).
      val toks = filter(split(lower(col("text")), " "), t => t =!= "")
      Tables(s, dir, "documents")
        .select(col("doc_id"), toks.as("ts"))
        .where(size(col("ts")) >= 8)
        .select(col("doc_id"), expr(
          "transform(ts, x -> CAST(conv(substr(md5(x), 1, 15), 16, 10) AS BIGINT))")
          .as("h"))
        .select(col("doc_id"),
          expr("transform(h, x -> x div 1073741824L)").as("t1"),
          expr("transform(h, x -> x % 1073741824L)").as("t2"))
        .select(col("doc_id"), explode(expr(
          """transform(sequence(1, size(t1) - 7), i ->
            |  pmod(t1[i-1]*31 + t1[i]*37 + t1[i+1]*41 + t1[i+2]*43
            |    + t1[i+3]*47 + t1[i+4]*53 + t1[i+5]*59 + t1[i+6]*61,
            |    2147483647L) * 2147483648L
            |  + pmod(t2[i-1]*31 + t2[i]*37 + t2[i+1]*41 + t2[i+2]*43
            |    + t2[i+3]*47 + t2[i+4]*53 + t2[i+5]*59 + t2[i+6]*61,
            |    2147483647L))""".stripMargin)).as("g"))
        .groupBy("g").agg(countDistinct(col("doc_id")).as("nd"))
        .where(col("nd") > 1)
        .agg(count(lit(1)).as("n_dup_spans"),
          coalesce(sum(col("nd")), lit(0L)).as("n_span_docs"))
    },

    // Per-document n-gram novelty profile — the document-level view of
    // the span machinery above: for every doc (>= 8 tokens), the share of
    // its DISTINCT 8-gram fingerprints that also occur in at least one
    // OTHER document. The per-doc score is the curation signal (drop or
    // downweight highly-duplicated docs; Lee et al. 2022 measure exactly
    // this distribution before/after dedup), where x_span_dedup only
    // reports the corpus totals. Same 62-bit two-lane fingerprint (one
    // md5 per token + integer polynomial) so the oracle equality is
    // exact by construction; plan is three shuffle-linear exchanges
    // (distinct (doc, gram) -> gram-partitioned doc-count window ->
    // per-doc aggregate), no joins.
    Q("x_novelty",
      """WITH toks AS (SELECT doc_id,
        |  list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
        |  FROM documents),
        |th AS (SELECT doc_id, list_transform(ts, x ->
        |  CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT)) AS h
        |  FROM toks WHERE len(ts) >= 8),
        |lanes AS (SELECT doc_id,
        |  list_transform(h, x -> x // 1073741824) AS t1,
        |  list_transform(h, x -> x % 1073741824) AS t2 FROM th),
        |grams AS (SELECT DISTINCT doc_id,
        |  ((t1[i]*31 + t1[i+1]*37 + t1[i+2]*41 + t1[i+3]*43 + t1[i+4]*47
        |    + t1[i+5]*53 + t1[i+6]*59 + t1[i+7]*61) % 2147483647) * 2147483648
        |  + ((t2[i]*31 + t2[i+1]*37 + t2[i+2]*41 + t2[i+3]*43 + t2[i+4]*47
        |    + t2[i+5]*53 + t2[i+6]*59 + t2[i+7]*61) % 2147483647) AS g
        |  FROM lanes, UNNEST(range(1, len(t1) - 6)) AS u(i)),
        |nd AS (SELECT doc_id, g, count(*) OVER (PARTITION BY g) AS docs
        |  FROM grams)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |round(CAST(sum(CASE WHEN docs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |  / count(*), 4) AS dup_share
        |FROM nd GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val grams = noveltyGrams(s, dir)
      // gram-partitioned doc-count window (count(*) over distinct
      // (doc, g) rows == count of distinct docs per gram), then the
      // per-doc aggregate — no join back, the dup flag rides the window.
      val w = org.apache.spark.sql.expressions.Window.partitionBy("g")
      grams.withColumn("docs", count(lit(1)).over(w))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          round(sum(when(col("docs") > 1, 1).otherwise(0)).cast("double") /
            count(lit(1)), 4).as("dup_share"))
        .orderBy("doc_id")
    },

    // Contamination TRIAGE — the composition x_kmv_overlap exists for:
    // estimate SHINGLE-space overlap between a corpus and a benchmark
    // from two KB-sized sketches, and make the flag/clear decision
    // BEFORE paying for the exact decontamination join (x_cross_dedup's
    // machinery). Same corpus fixture as x_cross_dedup (docs + 20
    // injected " graftdup" leaks; refs = doc_id < 50 drawn FROM the
    // corpus — a true leak, shared-shingle ratio ~1), plus a NEGATIVE
    // control: the same refs under an injective "_x" token remap
    // (disjoint vocabulary — zero shared shingles, and distinct strings
    // hash to distinct sample points a.s., so the sketch intersection
    // is exactly empty). Gates: corpus/ref estimates within 0.2 rel
    // (k=1024 => 6.4 sigma), the leak DECISION fires (est_shared >
    // 0.5 x exact ref shingles — robust at every SF: the intersection
    // sample count stays >= ~10 even when theta ~ 1e-3), and the
    // control stays silent (< 0.1 x). Exact counts ride the oracle;
    // decisions ride n_violations.
    Q("x_contamination_triage",
      """WITH corpus AS (
        |  SELECT doc_id, lower(text) AS text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, lower(text) || ' graftdup' FROM documents
        |  WHERE doc_id < 20),
        |tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
        |sh AS (SELECT doc_id, CASE WHEN len(t) >= 3 THEN
        |  list_distinct(list_transform(generate_series(1, len(t)-2),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        |  ELSE [array_to_string(t, ' ')] END AS s FROM tok),
        |cg AS (SELECT DISTINCT unnest(s) AS g FROM sh),
        |rg AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id < 50)
        |SELECT (SELECT count(*) FROM cg) AS n_corpus,
        |(SELECT count(*) FROM rg) AS n_refs,
        |(SELECT count(*) FROM cg JOIN rg USING (g)) AS n_shared,
        |CAST(0 AS BIGINT) AS n_viol""".stripMargin) { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      import graft.functions.GraftFunctions._
      import graft.functions.TextFunctions.tokens
      val kCap = 1024
      val docs = Tables(s, dir, "documents").select("doc_id", "text")
      val injected = Fixtures.nearCopies(docs, 1000000L)
      def gstream(df: org.apache.spark.sql.DataFrame) = df.select(
        explode(graft_shingles(tokens(col("text")), 3)).as("g"))
      // NOT persisted: caching the corpus-sized exploded gram stream costs
      // more than re-running the tokenize+shingle explode (measured at
      // 100x — MEMORY_AND_DISK materialization of 46M string rows lost to
      // recompute); the scan-count fix is in the exact arm below, which
      // pays ONE distinct-shuffle instead of two distincts + a join
      val corpusG = gstream(docs.unionByName(injected))
      val refsG = gstream(docs.where(col("doc_id") < 50))
      // negative control: injective vocab remap => disjoint shingles
      val controlG = gstream(docs.where(col("doc_id") < 50)
        .select(col("doc_id"), concat_ws(" ",
          transform(split(col("text"), " "),
            w => concat(w, lit("_x")))).as("text")))
      val sk = corpusG.agg(graft_kmv(xxhash64(col("g")), kCap).as("skc"))
        .crossJoin(refsG.agg(graft_kmv(xxhash64(col("g")), kCap).as("skr")))
        .crossJoin(controlG.agg(graft_kmv(xxhash64(col("g")), kCap).as("skx")))
        .select(graft_kmv_overlap(col("skc"), col("skr")).as("leak"),
          graft_kmv_overlap(col("skc"), col("skx")).as("ctrl"))
        .first()
      // exact attestation in ONE gram-keyed exchange: tag each stream,
      // OR the flags per distinct gram (map-side partial agg collapses
      // duplicates before the shuffle), then three sums in one scalar
      // aggregate — where two distinct()s + a join paid three corpus-sized
      // shuffles, this pays one
      val flags = corpusG.select(col("g"), lit(1).as("c"), lit(0).as("r"))
        .unionByName(refsG.select(col("g"), lit(0).as("c"), lit(1).as("r")))
        .groupBy("g").agg(max("c").as("c"), max("r").as("r"))
      val tot = flags.agg(
        sum("c").as("nc"), sum("r").as("nr"),
        sum(col("c") * col("r")).as("ns")).first()
      val (nC, nR, nShared) = (tot.getLong(0), tot.getLong(1), tot.getLong(2))
      val leak = sk.getAs[scala.collection.Seq[Double]]("leak")
      val ctrl = sk.getAs[scala.collection.Seq[Double]]("ctrl")
      def relOk(est: Double, exact: Long) =
        math.abs(est - exact) <= 0.2 * exact
      val viols = Seq(
        !relOk(leak(0), nC),
        !relOk(leak(1), nR),
        leak(2) <= 0.5 * nR,  // the leak decision must FIRE
        ctrl(2) >= 0.1 * nR   // the control must stay silent
      ).count(identity).toLong
      import s.implicits._
      Seq((nC, nR, nShared, viols))
        .toDF("n_corpus", "n_refs", "n_shared", "n_viol")
    },

    // Pareto curation shortlist (d=3 skyline, maximize all): the documents
    // no other document beats-or-ties on EVERY axis and strictly beats on
    // one — quality (alpha-character fraction), novelty (distinct-token
    // fraction), recency (ingest order; doc_id IS the ingest sequence —
    // documents carries no timestamp column). The multi-criteria "which
    // docs are not strictly obsoleted" curation cut. The 2D prefix-min
    // decomposition (x_skyline) does not generalize past two dims, so this
    // exercises operators.Skyline.skylineGrid: quantile grid + driver
    // cell-dominance pruning over cell IDs (suffix-OR DP, never rows) +
    // per-cell local fronts in one exchange + an output-bound broadcast
    // anti-join verify. The oracle is the brute-force NOT EXISTS dominance
    // statement — O(n^2) is fine at oracle SF, and stating it that way is
    // the point: the grid must agree with the definition, not with a
    // parallel reimplementation of itself. Dims are rounded to 4dp in
    // BOTH engines BEFORE dominance so the predicate sees bit-identical
    // values.
    Q("x_pareto_curation",
      """WITH pts AS (
        |  SELECT doc_id,
        |    round(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
        |      / n_chars, 4) AS quality,
        |    round(CAST(length(list_distinct(str_split_regex(trim(text), '\s+'))) AS DOUBLE)
        |      / length(str_split_regex(trim(text), '\s+')), 4) AS novelty,
        |    CAST(doc_id AS DOUBLE) AS recency
        |  FROM documents WHERE n_chars > 0)
        |SELECT doc_id, quality, novelty, recency FROM pts a
        |WHERE NOT EXISTS (SELECT 1 FROM pts b
        |  WHERE b.quality >= a.quality AND b.novelty >= a.novelty
        |    AND b.recency >= a.recency
        |    AND (b.quality > a.quality OR b.novelty > a.novelty
        |      OR b.recency > a.recency))
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val toks = split(trim(col("text")), "\\s+")
      // single-file local fixture = one scan partition; the quality/novelty
      // expressions (regex strip + tokenize + distinct per doc) are the
      // heavy term, so restore parallelism before them when the scan is
      // narrow (no-op on pre-split corpora — see parIfNarrow)
      val pts = parIfNarrow(Tables(s, dir, "documents").where(col("n_chars") > 0))
        .select(col("doc_id"),
          round(length(regexp_replace(col("text"), "[^A-Za-z]", ""))
            .cast("double") / col("n_chars"), 4).as("quality"),
          round(size(array_distinct(toks)).cast("double") / size(toks), 4)
            .as("novelty"),
          col("doc_id").cast("double").as("recency"))
      graft.operators.Skyline.skylineGrid(pts, "doc_id",
          Seq("quality", "novelty", "recency"), gridBits = 3)
        .orderBy("doc_id")
    },

    // MAXIMAL duplicated spans per document — the span machinery's
    // third view (x_span_dedup: corpus totals; x_novelty: per-doc dup
    // share; this: per-doc SPAN EXTENTS — where the duplication sits and
    // how long it runs, the unit the Lee et al. 2022 exact-substring
    // dedup pipeline actually removes). A gram is cross-doc duplicated
    // when it occurs in >1 distinct document; per doc, duplicated gram
    // START POSITIONS merge into islands wherever the gap is <= 7 (two
    // 8-gram token ranges overlap or touch exactly when their starts
    // differ by <= 7), and an island from start a to end b covers
    // b - a + 8 contiguous tokens — islands are then provably disjoint
    // in token space, so the per-doc covered_tokens sum is exact. Plan:
    // the positional gram stream, one g-keyed aggregate for cross-doc
    // counts, a hot-gram join back, a doc-partitioned lag window
    // (gaps-and-islands), two aggregates — shuffle-linear, every window
    // partitioned.
    Q("x_span_maximal",
      """WITH toks AS (SELECT doc_id,
        |  list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
        |  FROM documents),
        |th AS (SELECT doc_id, list_transform(ts, x ->
        |  CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT)) AS h
        |  FROM toks WHERE len(ts) >= 8),
        |lanes AS (SELECT doc_id,
        |  list_transform(h, x -> x // 1073741824) AS t1,
        |  list_transform(h, x -> x % 1073741824) AS t2 FROM th),
        |gp AS (SELECT doc_id, i AS pos,
        |  ((t1[i]*31 + t1[i+1]*37 + t1[i+2]*41 + t1[i+3]*43 + t1[i+4]*47
        |    + t1[i+5]*53 + t1[i+6]*59 + t1[i+7]*61) % 2147483647) * 2147483648
        |  + ((t2[i]*31 + t2[i+1]*37 + t2[i+2]*41 + t2[i+3]*43 + t2[i+4]*47
        |    + t2[i+5]*53 + t2[i+6]*59 + t2[i+7]*61) % 2147483647) AS g
        |  FROM lanes, UNNEST(range(1, len(t1) - 6)) AS u(i)),
        |hot AS (SELECT g FROM gp GROUP BY g
        |  HAVING count(DISTINCT doc_id) > 1),
        |dp AS (SELECT doc_id, pos FROM gp JOIN hot USING (g)),
        |m AS (SELECT doc_id, pos, CASE WHEN lag(pos) OVER
        |  (PARTITION BY doc_id ORDER BY pos) IS NULL
        |  OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 7
        |  THEN 1 ELSE 0 END AS ni FROM dp),
        |isl AS (SELECT doc_id, pos, sum(ni) OVER
        |  (PARTITION BY doc_id ORDER BY pos
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS iid FROM m),
        |sp AS (SELECT doc_id, iid, max(pos) - min(pos) + 8 AS tokens
        |  FROM isl GROUP BY doc_id, iid)
        |SELECT doc_id, count(*) AS n_spans,
        |CAST(max(tokens) AS BIGINT) AS max_span_tokens,
        |CAST(sum(tokens) AS BIGINT) AS covered_tokens
        |FROM sp GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val gp = gramPositions(s, dir)
      val hot = gp.groupBy("g")
        .agg(count_distinct(col("doc_id")).as("nd"))
        .where(col("nd") > 1)
        .select("g")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("pos")
      val spans = gp.join(hot, "g")
        .select("doc_id", "pos")
        .withColumn("prev", lag(col("pos"), 1).over(w))
        .withColumn("ni",
          when(col("prev").isNull || col("pos") - col("prev") > 7, 1L)
            .otherwise(0L))
        .withColumn("iid", sum(col("ni")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .groupBy("doc_id", "iid")
        .agg((max(col("pos")) - min(col("pos")) + 8).as("tokens"))
      spans.groupBy("doc_id")
        .agg(count(lit(1)).as("n_spans"),
          max(col("tokens")).as("max_span_tokens"),
          sum(col("tokens")).as("covered_tokens"))
        .orderBy("doc_id")
    },

    // Corpus-overlap estimation via KMV/theta sketches — the two-sketch
    // set-algebra member of the stored-sketch family (contamination
    // triage: estimate |corpus_A ∩ corpus_B| from two KB-sized summaries
    // BEFORE paying for the exact decontamination join). Fixture: A =
    // ids with doc_id%10 < 6, B = ids with doc_id%10 >= 4 — engineered
    // 20%-of-union overlap whose exact counts the oracle states in SQL.
    // The sketch estimates are NOT SQL-reproducible (splitmix64), so the
    // output carries exact counts + a violation counter: below capacity
    // the sketch must be EXACT (count == size, theta == 1 set ops); past
    // capacity the estimates must land inside generous-but-meaningful
    // error bounds (k=128 -> RSE 8.9%; bounds at ~4 sigma). The stored
    // per-source shard -> merge path must be BIT-IDENTICAL to the direct
    // build (k-smallest-of-union is order-insensitive and the wire form
    // canonical) — gated in-query.
    Q("x_kmv_overlap",
      """WITH a AS (SELECT DISTINCT doc_id FROM documents WHERE doc_id % 10 < 6),
        |b AS (SELECT DISTINCT doc_id FROM documents WHERE doc_id % 10 >= 4)
        |SELECT (SELECT count(*) FROM a) AS n_a,
        |(SELECT count(*) FROM b) AS n_b,
        |(SELECT count(*) FROM a JOIN b USING (doc_id)) AS n_inter,
        |(SELECT count(*) FROM (SELECT doc_id FROM a UNION SELECT doc_id FROM b) u)
        |  AS n_union,
        |CAST(0 AS BIGINT) AS n_viol""".stripMargin) { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      import graft.functions.GraftFunctions._
      val k = 128
      val docs = Tables(s, dir, "documents")
      def inA = pmod(col("doc_id"), lit(10)) < 6
      def inB = pmod(col("doc_id"), lit(10)) >= 4
      val sk = docs.agg(
        graft_kmv(when(inA, col("doc_id")), k).as("ska"),
        graft_kmv(when(inB, col("doc_id")), k).as("skb"))
        .crossJoin(docs.agg(
          count_distinct(when(inA, col("doc_id"))).as("n_a"),
          count_distinct(when(inB, col("doc_id"))).as("n_b"),
          count_distinct(when(inA && inB, col("doc_id"))).as("n_inter"),
          count_distinct(col("doc_id")).as("n_union")))
      // stored-shard merge path: per-source sketches unioned back must be
      // byte-identical to the one-pass build
      val mergedBytes = docs.where(inA).groupBy("source")
        .agg(graft_kmv(col("doc_id"), k).as("sk"))
        .agg(graft_kmv_merge(col("sk")).as("m"))
        .first().getAs[Array[Byte]](0)
      val row = sk.select(col("n_a"), col("n_b"), col("n_inter"),
        col("n_union"), col("ska"),
        graft_kmv_overlap(col("ska"), col("skb")).as("o"))
        .withColumn("est_a", element_at(col("o"), 1))
        .withColumn("est_b", element_at(col("o"), 2))
        .withColumn("est_i", element_at(col("o"), 3))
        .withColumn("est_u", element_at(col("o"), 4))
        .first()
      Gate.check(java.util.Arrays.equals(mergedBytes,
        row.getAs[Array[Byte]]("ska")),
        "per-source merge diverged from the direct build (must be " +
          "bit-identical: k-smallest-of-union, canonical wire form)")
      val (nA, nB, nI, nU) = (row.getAs[Long]("n_a"), row.getAs[Long]("n_b"),
        row.getAs[Long]("n_inter"), row.getAs[Long]("n_union"))
      // below sketch capacity every estimate is exact; past it, each
      // must sit within its relative bound (or an absolute floor)
      val exactRegime = nA < k && nB < k
      def bound(name: String, exact: Long, exactHere: Boolean, rel: Double,
          floor: Double = 0.0): (Boolean, String) = {
        val est = row.getAs[Double](name)
        if (exactHere) (est == exact.toDouble) -> s"$name=$est != exact $exact below k=$k"
        else (math.abs(est - exact) <= math.max(rel * exact, floor)) ->
          s"$name=$est off exact $exact by more than $rel relative"
      }
      val viols = Gate.violations(
        bound("est_a", nA, nA < k, 0.35),
        bound("est_b", nB, nB < k, 0.35),
        bound("est_i", nI, exactRegime, 0.5, floor = 20.0),
        bound("est_u", nU, exactRegime, 0.35))
      import s.implicits._
      Seq((nA, nB, nI, nU, viols))
        .toDF("n_a", "n_b", "n_inter", "n_union", "n_viol")
    },

    // Triangle enumeration — degree-ordered compact-forward (operators.
    // Triangles), the fourth graph-family member. Fixture: chain + skip
    // edges over the sorted doc ids (i ~ i+1, i ~ i+2 in sorted order,
    // the BFS lead() discipline), whose triangles are exactly the
    // consecutive id triples — but the ORACLE does not use the closed
    // form: it re-enumerates the triangles with a 3-way edge self-join
    // in DuckDB and pins the exact triangle SET through a product
    // checksum (mod-reduced like x_global_ids, overflow-safe to ~9e5
    // triangles per billion... terms < 1e12, sum safe past 1e6x).
    Q("x_triangles",
      """WITH ids AS (SELECT doc_id AS id,
        |  row_number() OVER (ORDER BY doc_id) AS rn FROM documents),
        |e AS (SELECT a.id AS u, b.id AS v FROM ids a JOIN ids b ON b.rn = a.rn + 1
        |  UNION ALL
        |  SELECT a.id, b.id FROM ids a JOIN ids b ON b.rn = a.rn + 2),
        |tri AS (SELECT x.u AS a, x.v AS b, y.v AS c
        |  FROM e x JOIN e y ON y.u = x.v JOIN e z ON z.u = x.u AND z.v = y.v)
        |SELECT CAST(count(*) AS BIGINT) AS n_triangles,
        |CAST(coalesce(sum(((a % 999983) * (b % 999983) % 999983)
        |  * (c % 999983) % 999983), 0) AS BIGINT) AS checksum
        |FROM tri""".stripMargin) { (s, dir) =>
      val edges = triangleEdges(s, dir)
      val p = lit(999983L)
      graft.operators.Triangles.triangles(edges)
        .agg(count(lit(1)).as("n_triangles"),
          coalesce(sum(((col("a") % p) * (col("b") % p) % p)
            * (col("c") % p) % p), lit(0L)).as("checksum"))
    },

    // k-core decomposition — iterative peeling (operators.KCore), the
    // fifth graph-family member. Fixture: every COMPLETE group of 8 doc
    // ids becomes a 4-clique (offsets 0-3) with a 4-node path hanging
    // off offset 0 (offsets 4-7) — so the 2-core has a CLOSED FORM
    // (exactly the clique members) while the answer still requires the
    // cascade: the path's inner nodes sit at degree 2 and drop only
    // AFTER their outer neighbor peels, three genuine rounds deep. A raw
    // degree threshold would keep them — the oracle distinguishes
    // peeling from filtering. Group completeness is derived from the
    // ACTUAL id population in both engines (ScaleCheck corpora stride
    // their copy ids, so arithmetic-only group bounds would plant edges
    // on ids that don't exist).
    Q("x_kcore",
      """WITH g AS (SELECT doc_id // 8 AS g, count(*) AS c FROM documents
        |  GROUP BY 1),
        |core AS (SELECT d.doc_id AS id FROM documents d
        |  JOIN g ON d.doc_id // 8 = g.g
        |  WHERE g.c = 8 AND d.doc_id % 8 <= 3)
        |SELECT CAST(count(*) AS BIGINT) AS n_core,
        |CAST(sum(id % 999983) AS BIGINT) AS checksum FROM core""".stripMargin) { (s, dir) =>
      val ids = Tables(s, dir, "documents").select(col("doc_id"))
      val groups = ids.groupBy(expr("doc_id div 8").as("g"))
        .agg(count(lit(1)).as("c"))
        .where(col("c") === 8)
        .select((col("g") * 8).as("b"))
      val pairs = (for (a <- 0 until 4; c <- (a + 1) until 4)
        yield (a, c)) ++ Seq((0, 4), (4, 5), (5, 6), (6, 7))
      val offsets = array(pairs.map { case (a, c) =>
        struct(lit(a).as("a"), lit(c).as("c")) }: _*)
      val edges = groups.select(col("b"), explode(offsets).as("o"))
        .select((col("b") + col("o.a")).as("src"),
          (col("b") + col("o.c")).as("dst"))
      graft.operators.KCore.kcore(edges, k = 2)
        .agg(count(lit(1)).as("n_core"),
          coalesce(sum(col("id") % 999983), lit(0L)).as("checksum"))
    },

    // Multi-source BFS distance — frontier-expansion iterative dataflow
    // (operators.Bfs), the third member of the graph family next to
    // PageRank (fixed-point) and connected components (pointer doubling):
    // distance from every node to its nearest seed, the primitive behind
    // label propagation and hops-from-trusted-set curation filters. The
    // fixture is the doc-id chain graph with a seed every 10 nodes, whose
    // BFS distances have an integer CLOSED FORM (min of the offsets to
    // the flanking seeds, one-sided at the chain's tail) — so the oracle
    // pins every node's exact distance through a product checksum, not
    // just the histogram.
    Q("x_bfs_distance",
      """WITH ids AS (SELECT doc_id AS id FROM documents),
        |mx AS (SELECT max(id) AS m FROM ids),
        |d AS (SELECT id, CASE WHEN id % 10 = 0 THEN 0
        |  WHEN id - (id % 10) + 10 <= m THEN least(id % 10, 10 - (id % 10))
        |  ELSE id % 10 END AS dist FROM ids, mx)
        |SELECT count(*) AS n_nodes, CAST(max(dist) AS BIGINT) AS max_dist,
        |CAST(sum(dist) AS BIGINT) AS sum_dist,
        |CAST(sum((dist * (id % 999983)) % 999983) AS BIGINT) AS checksum
        |FROM d""".stripMargin) { (s, dir) =>
      val ids = Tables(s, dir, "documents").select(col("doc_id").as("id"))
      // chain = next id in sorted order (id-layout-agnostic, the
      // x_pagerank ring discipline: ScaleCheck corpora stride their copy
      // ids, and `id+1` would shatter the chain into fragments there; at
      // the contiguous gate SFs this IS the (id, id+1) chain the closed
      // form assumes). Built via the parallel rank-join helper, not a
      // global window (r14 verdict hygiene).
      val fwd = sortedSuccessorEdges(s, ids, Seq(1))
      val edges = fwd.unionByName(
        fwd.select(col("dst").as("src"), col("src").as("dst")))
      val seeds = ids.where(col("id") % 10 === 0)
      val dist = graft.operators.Bfs.multiSourceDistance(edges, seeds,
        maxIter = 15)
      dist.agg(count(lit(1)).as("n_nodes"),
        max("dist").cast("long").as("max_dist"),
        sum("dist").cast("long").as("sum_dist"),
        sum((col("dist") * (col("id") % 999983)) % 999983).as("checksum"))
    },

    // Dataset snapshot diff — the versioning primitive every curated
    // corpus needs: classify every row across two snapshot versions as
    // added / removed / changed / unchanged by CONTENT hash, never by
    // full-text compare (the join carries (id, 16-byte digest), not
    // documents). The "new" snapshot is derived deterministically from
    // the corpus in BOTH engines (drop id%97==0, edit text of id%89==0,
    // add 50 fresh rows), so the whole classification is a full oracle.
    // Scale shape: one full-outer equi-join on the id — co-partitioned or
    // bucketed at 100 TB — followed by a 4-group aggregate; the checksum
    // (sum of id mod a prime per class) pins the exact MEMBERSHIP of each
    // class, not just its size.
    Q("x_snapshot_diff",
      """WITH old AS (SELECT doc_id, md5(text) AS h FROM documents),
        |new AS (
        |  SELECT doc_id, md5(text ||
        |    CASE WHEN doc_id % 89 = 0 THEN ' v2' ELSE '' END) AS h
        |  FROM documents WHERE doc_id % 97 <> 0
        |  UNION ALL
        |  SELECT doc_id + 5000000,
        |    md5('new doc ' || CAST(doc_id AS VARCHAR)) FROM documents
        |  WHERE doc_id < 50),
        |d AS (SELECT COALESCE(o.doc_id, n.doc_id) AS id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN o.h <> n.h THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |  FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id)
        |SELECT status, count(*) AS n,
        |  CAST(sum(id % 999983) AS BIGINT) AS id_checksum
        |FROM d GROUP BY status ORDER BY status""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val old = docs.select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
      val newer = docs.where(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"),
          md5(concat(col("text"),
            when(col("doc_id") % 89 === 0, lit(" v2")).otherwise(lit("")))
            .cast("binary")).as("h"))
        .unionByName(docs.where(col("doc_id") < 50)
          .select((col("doc_id") + 5000000L).as("doc_id"),
            md5(concat(lit("new doc "), col("doc_id").cast("string"))
              .cast("binary")).as("h")))
      old.select(col("doc_id").as("oid"), col("h").as("oh"))
        .join(newer.select(col("doc_id").as("nid"), col("h").as("nh")),
          col("oid") === col("nid"), "full_outer")
        .select(coalesce(col("oid"), col("nid")).as("id"),
          when(col("oid").isNull, "added")
            .when(col("nid").isNull, "removed")
            .when(col("oh") =!= col("nh"), "changed")
            .otherwise("unchanged").as("status"))
        .groupBy("status")
        .agg(count(lit(1)).as("n"),
          sum(col("id") % 999983).as("id_checksum"))
        .orderBy("status")
    },

    // URL parsing with the codegen'd parse_url builtin (no UDF): host,
    // path, and a query parameter, pinned exactly by the oracle's
    // closed-form reconstruction (min(path)/ref are exact strings — a
    // PATH that leaked the query string or HOST that kept the scheme
    // would hash-mismatch, not just recount).
    Q("x_url_extract",
      """SELECT source || '.example.com' AS host, count(*) AS n_docs,
        |  min('/' || lang || '/' || CAST(doc_id AS VARCHAR)) AS path_min,
        |  source AS ref_min
        |FROM documents GROUP BY source ORDER BY host""".stripMargin) { (s, dir) =>
      val url = concat(lit("https://"), col("source"), lit(".example.com/"),
        col("lang"), lit("/"), col("doc_id").cast("string"),
        lit("?ref="), col("source"))
      Tables(s, dir, "documents")
        .select(
          parse_url(url, lit("HOST")).as("host"),
          parse_url(url, lit("PATH")).as("path"),
          parse_url(url, lit("QUERY"), lit("ref")).as("ref"))
        .groupBy("host")
        .agg(count(lit(1)).as("n_docs"),
          min(col("path")).as("path_min"),
          min(col("ref")).as("ref_min"))
        .orderBy("host")
    },

    // One-pass dataset profiling: null counts, exact NDVs, ranges, and a
    // cents-exact total in a SINGLE aggregate over one scan — never a
    // per-column job loop (df.describe-style iteration reads the table
    // once per metric; at 100 TB that multiplier is the whole cost).
    // The two exact count(DISTINCT)s share one Expand: rows fan out
    // x3 (one branch per distinct set + one for the plain aggregates),
    // which is the documented price of exactness; the sketch path for
    // wide profiles is x_approx_distinct.
    Q("x_profile",
      """SELECT count(*) AS n_rows,
        |  count(l_quantity) AS qty_nn,
        |  count(DISTINCT l_quantity) AS qty_ndv,
        |  min(l_quantity) AS qty_min, max(l_quantity) AS qty_max,
        |  count(DISTINCT l_returnflag) AS flag_ndv,
        |  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
        |    AS price_cents,
        |  min(l_shipdate) AS ship_min, max(l_shipdate) AS ship_max
        |FROM lineitem""".stripMargin) { (s, dir) =>
      Tables(s, dir, "lineitem").agg(
        count(lit(1)).as("n_rows"),
        count(col("l_quantity")).as("qty_nn"),
        countDistinct(col("l_quantity")).as("qty_ndv"),
        min(col("l_quantity")).as("qty_min"),
        max(col("l_quantity")).as("qty_max"),
        countDistinct(col("l_returnflag")).as("flag_ndv"),
        sum(round(col("l_extendedprice") * 100, 0).cast("bigint")).as("price_cents"),
        min(col("l_shipdate")).as("ship_min"),
        max(col("l_shipdate")).as("ship_max"))
    },

    // Frequent items (heavy hitters) via Spark's single-pass bounded-memory
    // sketch (Karp/Shenker/Papadimitriou counters — df.stat.freqItems):
    // the 100 TB cardinality tool when exact per-key counts would shuffle
    // the whole vocabulary. The sketch's contract is one-sided (every item
    // with frequency > support appears; false positives allowed), and the
    // gate checks exactly that contract against exact counts: a missed
    // true heavy hitter turns the entry red.
    // Oracle shape (r6): the token total is plain SQL, and the sketch's
    // one-sided contract — no true heavy hitter missed — is n_missed
    // pinned to 0. The EXACT verification (full-vocabulary groupBy +
    // heavy-hitter set compare) runs only at gate scale (<=100k tokens,
    // i.e. the driver's sf0.01 correctness run): r5 benched the verify at
    // double the operator's own cost, and at 100 TB the verify IS the
    // query — the whole point of the sketch is to avoid that shuffle. At
    // bench SF the query is sketch-only (count + freqItems), which is the
    // honest cost of the operator; the contract stays driver-visible
    // because CORRECTNESS gates at sf0.01 where the exact path runs.
    Q("x_freq_items",
      """WITH toks AS (SELECT unnest(list_filter(string_split(lower(text), ' '),
        |    t -> t <> '')) AS w FROM documents)
        |SELECT CAST(count(*) AS BIGINT) AS n_tokens,
        |CAST(0 AS BIGINT) AS n_missed FROM toks""".stripMargin) { (s, dir) =>
      import s.implicits._
      val support = 0.02
      val exactVerifyMaxTokens = 100000L
      val words = Tables(s, dir, "documents")
        .select(explode(filter(split(lower(col("text")), " "), t => t =!= "")).as("w"))
      val n = words.count()
      val cand = words.stat.freqItems(Seq("w"), support)
        .collect()(0).getSeq[String](0).toSet
      val missed: Long = if (n <= exactVerifyMaxTokens) {
        // Strict threshold: freqItems' one-sided contract only covers
        // items with count STRICTLY greater than n*support, so when
        // n*support is integral (n divisible by 50 at 2%), ceil() would
        // wrongly include items at exactly the boundary and could redden
        // a correct sketch.
        val thresh = (n * support).toLong + 1
        val heavy = words.groupBy("w").agg(count(lit(1)).as("c"))
          .where(col("c") >= thresh).collect().map(_.getString(0)).toSet
        val missedSet = heavy -- cand
        Gate.violations(
          heavy.nonEmpty -> "no true heavy hitters — attestation is vacuous",
          missedSet.isEmpty -> s"freqItems missed true heavy hitters: ${missedSet.take(5)}")
      } else {
        // bench-scale: the full-vocabulary groupBy stays gate-side, but the
        // bench row keeps a MEASUREMENT (r6 advice): exact counts for just
        // the sketch's own candidate set — the isin filter cuts the shuffle
        // to candidate-matching tokens, a vanishing fraction of the corpus —
        // and every candidate must actually occur. A sketch emitting phantom
        // tokens (tokenizer drift, merge corruption) goes red here even
        // where the one-sided heavy-hitter check doesn't run.
        Gate.check(cand.nonEmpty, "freqItems returned no candidates")
        val present = words.where(col("w").isin(cand.toSeq: _*))
          .groupBy("w").agg(count(lit(1)).as("c"))
          .collect().map(_.getString(0)).toSet
        val phantom = cand -- present
        Gate.violations(phantom.isEmpty ->
          s"freqItems emitted tokens absent from the corpus: ${phantom.take(5)}")
      }
      Seq((n, missed)).toDF("n_tokens", "n_missed")
    },

    // BPE merge training (operators/Bpe.scala): 12 merges over the
    // distinct-word table. Promoted to a full oracle (r5): the FIRST
    // merge's argmax IS SQL-expressible — overlapping adjacent character
    // pairs over the initial symbolization, corpus-frequency weighted,
    // tie-broken on (count DESC, left, right) — so DuckDB recomputes
    // (top_left, top_right, top_weight) along with the merge count, the
    // vocabulary size and the weighted char total. The DEEPER iterations'
    // invariants stay self-gating (not SQL-expressible): (1) LOSSLESS —
    // every word's symbols concatenate back to the word; (2) monotone
    // compression — tokens_bpe < tokens_chars (tokens_bpe is gate-checked
    // but not an output column, since merges 2..k aren't SQL-reproducible);
    // (3) merge weights non-increasing; (4) exactly k merges trained.
    Q("x_bpe_train",
      """WITH words AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS f FROM (
        |    SELECT unnest(list_filter(string_split(lower(text), ' '),
        |      t -> t <> '')) AS w FROM documents) GROUP BY w),
        |pairs AS (
        |  SELECT substr(w, CAST(i AS INT), 1) AS l,
        |    substr(w, CAST(i AS INT) + 1, 1) AS r, f
        |  FROM words, UNNEST(range(1, length(w))) AS u(i)
        |  WHERE length(w) >= 2),
        |top AS (SELECT l, r, CAST(sum(f) AS BIGINT) AS n FROM pairs
        |  GROUP BY l, r ORDER BY n DESC, l, r LIMIT 1)
        |SELECT CAST(12 AS BIGINT) AS n_merges,
        |  (SELECT CAST(count(*) AS BIGINT) FROM words) AS n_words,
        |  (SELECT CAST(sum(f * length(w)) AS BIGINT) FROM words) AS tokens_chars,
        |  l AS top_left, r AS top_right, n AS top_weight FROM top""".stripMargin) { (s, dir) =>
      import s.implicits._
      val k = 12
      val words = Tables(s, dir, "documents")
        .select(explode(filter(split(lower(col("text")), " "), t => t =!= "")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("f"))
        .as[(String, Long)]
      // The merge loop's state is the distinct-word table — tiny next to
      // the corpus (31 words here; millions at 100 TB, still thousands of
      // times smaller) — so the loop is coalesced to match the state, and
      // each merge is one small RDD job (see Bpe.train on why not Dataset).
      val (merges, vocab) = Bpe.train(s, words, k, numPartitions = Some(4))
      val stats = vocab
        .map(v => (if (v.syms.mkString == v.word) 0L else 1L,
          // codePointCount, not String.length: the oracle's length() counts
          // codepoints, and symbolize() is codepoint-based since r6
          v.freq * v.word.codePointCount(0, v.word.length), v.freq * v.syms.length, 1L))
        .reduce((a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3, a._4 + b._4))
      vocab.unpersist()
      val (bad, tokensChars, tokensBpe, nWords) = stats
      Gate.check(bad == 0, s"$bad words fail lossless symbol round-trip")
      Gate.check(merges.length == k, s"trained ${merges.length} of $k merges")
      Gate.check(merges.forall(_.weight > 0), "non-positive merge weight")
      Gate.check(merges.iterator.zip(merges.iterator.drop(1))
        .forall { case (a, b) => a.weight >= b.weight },
        s"merge weights not non-increasing: ${merges.map(_.weight)}")
      Gate.check(tokensBpe < tokensChars,
        s"no compression: $tokensBpe >= $tokensChars")
      Seq((merges.length.toLong, nWords, tokensChars,
        merges.head.left, merges.head.right, merges.head.weight))
        .toDF("n_merges", "n_words", "tokens_chars",
          "top_left", "top_right", "top_weight")
    },

    // BPE tokenizer APPLY — the inference half of the tokenizer story:
    // train merges on 4/5 of the corpus, freeze them, and encode the
    // HELD-OUT fifth (text the trainer never saw) by replaying merges in
    // training order (standard BPE priority rule, Bpe.encode). The encode
    // side is shuffle-free by design: the merge table is tiny (k rows)
    // and rides the closure, so at 100 TB this is a pure map over the
    // corpus — exactly how a tokenizer runs in a training-data pipeline.
    // Oracle: the held-out population (token occurrences + codepoint
    // total) is plain SQL; the encoding's own contracts — LOSSLESS
    // (symbols concat back to the word), STRUCTURAL (every multi-char
    // symbol is the concatenation of some trained merge), and COMPRESSIVE
    // bounds (n_tokens <= encoded length <= char length) — become a
    // violation count pinned to 0.
    Q("x_bpe_encode",
      """WITH toks AS (SELECT unnest(list_filter(string_split(lower(text), ' '),
        |    t -> t <> '')) AS w FROM documents WHERE doc_id % 5 = 0)
        |SELECT CAST(count(*) AS BIGINT) AS n_tokens,
        |CAST(sum(length(w)) AS BIGINT) AS total_chars,
        |CAST(0 AS BIGINT) AS n_violations FROM toks""".stripMargin) { (s, dir) =>
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      def words(part: org.apache.spark.sql.DataFrame) = part
        .select(explode(filter(split(lower(col("text")), " "), t => t =!= "")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("f")).as[(String, Long)]
      val (merges, vocab) =
        Bpe.train(s, words(docs.where(col("doc_id") % 5 =!= 0)), 12,
          numPartitions = Some(4))
      vocab.unpersist()
      val mergedSyms = merges.map(m => m.left + m.right).toSet
      val stats = words(docs.where(col("doc_id") % 5 === 0)).map { case (w, f) =>
        val syms = graft.operators.Bpe.encode(w, merges)
        val lossless = syms.mkString == w
        val structural = syms.forall(sym =>
          sym.codePointCount(0, sym.length) == 1 || mergedSyms.contains(sym))
        (f, f * w.codePointCount(0, w.length), f * syms.length,
          if (lossless && structural) 0L else 1L)
      }.reduce((a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3, a._4 + b._4))
      val (nTokens, totalChars, totalBpe, bad) = stats
      Seq((nTokens, totalChars, Gate.violations(
        (bad == 0) -> s"$bad held-out words fail lossless/structural encode",
        (nTokens <= totalBpe && totalBpe <= totalChars) ->
          s"encoded total $totalBpe outside [$nTokens, $totalChars]")))
        .toDF("n_tokens", "total_chars", "n_violations")
    }
  )
}
