package graft.queries

import graft.Tables
import org.apache.spark.sql.functions._

/** SURVEY.md §2.1 sources, §2.2 actions, §2.3 per-row transforms — each
  * re-expressed as a declarative DataFrame query (Catalyst plans the scan,
  * pushdown, partial aggregation and limit strategies; see SURVEY §4).
  *
  * Reference semantics: rajasekarv/vega `src/rdd/rdd.rs` (operator rows cited
  * per query). Every aggregate column is rounded and aliased identically in
  * Spark and oracle SQL so the driver's column-sorted hash compare holds.
  */
object CoreQueries {

  val all: Seq[Q] = Seq(

    // S1/S2: Context::parallelize / make_rdd (reference src/context.rs:433-442)
    Q("s1_parallelize",
      "SELECT * FROM (VALUES (1),(2),(3),(4)) AS t(x) ORDER BY x") { (s, _) =>
      import s.implicits._
      s.createDataset(Seq(1, 2, 3, 4)).toDF("x").orderBy("x")
    },

    // S3: Context::range — vega's end is INCLUSIVE (context.rs:427).
    Q("s3_range_inclusive",
      "SELECT r AS id FROM range(1, 13) t(r) ORDER BY id") { (s, _) =>
      // vega range(1,12) => 1..12; spark.range end is exclusive, so end+1.
      s.range(1, 13).toDF("id").orderBy("id")
    },

    // S5-S7: file source scan with projection + predicate pushdown to parquet.
    Q("s7_parquet_scan",
      """SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price
        |FROM lineitem WHERE l_quantity > 45 AND l_returnflag = 'R'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      Tables(s, dir, "lineitem")
        .where(col("l_quantity") > 45 && col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice"), 2).as("price"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // A1: collect() (rdd.rs:420-434) — driver materialization preserves
    // partition-then-element order; attested on the raw collect() result
    // over a multi-partition parallelize, then oracled on the values.
    Q("a1_collect",
      "SELECT * FROM (VALUES (1),(2),(3),(4),(5),(6),(7),(8)) AS t(x) ORDER BY x") { (s, _) =>
      import s.implicits._
      val collected = s.sparkContext.parallelize(1 to 8, numSlices = 4).collect()
      Gate.check(collected.sameElements(1 to 8),
        s"collect() reordered partitions: ${collected.mkString(",")}")
      s.createDataset(collected.toSeq).toDF("x").orderBy("x")
    },

    // A2: count() (rdd.rs:436-447)
    Q("a2_count", "SELECT count(*) AS n_rows FROM lineitem") { (s, dir) =>
      Tables(s, dir, "lineitem").agg(count(lit(1)).as("n_rows"))
    },

    // A3: reduce(f) — relational form of the driver-side sum-reduce (rdd.rs:274-290)
    Q("a3_reduce_sum",
      "SELECT round(sum(l_quantity), 2) AS total_qty FROM lineitem") { (s, dir) =>
      Tables(s, dir, "lineitem").agg(round(sum("l_quantity"), 2).as("total_qty"))
    },

    // A5: aggregate(init, seq, comb) with result type != item type (rdd.rs:339-350)
    // Cents-exact mean, DECIMAL-summed: the integer-cents sum is exact and
    // order-free (double accumulation order differs between engines and
    // across partitionings), decimal(38) gives it 100 TB headroom (a long
    // cents sum overflows around 9e15), and the division chain on the
    // exact value is bit-identical — no round(), no half-cent repr lottery.
    Q("a5_aggregate_avg",
      """SELECT CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE)
        |  / 100.0 / count(*) AS avg_price,
        |count(*) AS n FROM lineitem""".stripMargin) { (s, dir) =>
      Tables(s, dir, "lineitem").agg(
        (sum(round(col("l_extendedprice") * 100, 0).cast("decimal(38,0)"))
          .cast("double") / lit(100.0) / count(lit(1))).as("avg_price"),
        count(lit(1)).as("n"))
    },

    // A6: take(num) — Catalyst CollectLimitExec runs the same incremental scan
    // vega ported (rdd.rs:559-620).
    Q("a6_take",
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_quantity LIMIT 5""".stripMargin) { (s, dir) =>
      // sort on ALL output columns: (l_orderkey, l_linenumber) is NOT
      // unique in the fixtures (118k duplicate pairs at sf0.1), so a
      // 2-column sort under-determines which row the LIMIT cuts at and
      // Spark/DuckDB may break the tie differently; with every selected
      // column in the key, remaining ties are identical rows
      Tables(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity").limit(5)
    },

    // A7: first() (rdd.rs:534-543)
    Q("a7_first",
      """SELECT l_orderkey, l_linenumber FROM lineitem
        |ORDER BY l_orderkey, l_linenumber LIMIT 1""".stripMargin) { (s, dir) =>
      Tables(s, dir, "lineitem").select("l_orderkey", "l_linenumber")
        .orderBy("l_orderkey", "l_linenumber").limit(1)
    },

    // A12: save_as_text_file + re-read round trip (rdd.rs:254-272). The sink
    // side of the contract: write one part file per partition, read back.
    Q("a12_save_roundtrip",
      "SELECT count(*) AS n_rows FROM lineitem") { (s, dir) =>
      import s.implicits._
      val out = Tmp.dir("graft-sink").toString + "/txt"
      Tables(s, dir, "lineitem").select(col("l_orderkey"))
        .as[Long].map(_.toString).write.mode("overwrite").text(out)
      s.read.textFile(out).toDF("v").agg(count(lit(1)).as("n_rows"))
    },

    // A13: is_empty (rdd.rs:1073-1078)
    Q("a13_is_empty",
      """SELECT (SELECT count(*) FROM lineitem WHERE l_quantity < 0) = 0 AS empty_neg,
        |(SELECT count(*) FROM lineitem) = 0 AS empty_all""".stripMargin) { (s, dir) =>
      import s.implicits._
      val li = Tables(s, dir, "lineitem")
      Seq((li.where(col("l_quantity") < 0).isEmpty, li.isEmpty))
        .toDF("empty_neg", "empty_all")
    },

    // P5: glom — one row per partition (rdd.rs:239-252, tests/test_rdd.rs:
    // 239-252). The partition COUNT is an execution-layout detail the SQL
    // oracle can't see (kept in the Gate), but the derived invariant is
    // oracle-checkable: per-partition lengths sum back to the table's row
    // count — a glom that drops or duplicates rows hash-reds on n_rows.
    Q("p5_glom",
      "SELECT CAST(count(*) AS BIGINT) AS n_rows FROM lineitem") { (s, dir) =>
      import s.implicits._
      val li = Tables(s, dir, "lineitem").select(col("l_orderkey"))
      val nPart = li.rdd.getNumPartitions
      val sizes = li.as[Long]
        .mapPartitions(it => Iterator.single(it.length.toLong)).collect().sorted
      // layout attestation: glom emits EXACTLY one row per partition —
      // a glom that merges or fabricates partitions moves this count
      Gate.check(sizes.length == nPart && nPart > 0,
        s"glom returned ${sizes.length} rows for $nPart partitions")
      s.createDataset(Seq(sizes.sum)).toDF("n_rows")
    },

    // S5: whole-file binary source (local_file_reader.rs bytes flavor).
    // The binary payloads themselves aren't SQL-comparable, but their
    // TOTALS are derivable: write documents.text through the text sink
    // (UTF-8 + one '\n' per row — the corpus has no embedded newlines),
    // read the files back WHOLE through the binaryFile source, and attest
    // (a) total bytes = sum(octet_length(text)) + count(*) and (b) rows
    // recovered from the raw bytes by counting newlines = count(*). A
    // reader that truncates, pads, or drops a file hash-reds. File count
    // vs the filesystem listing stays in the Gate (layout-dependent).
    Q("s5_binary_files",
      """SELECT CAST(sum(octet_length(encode(text))) + count(*) AS BIGINT) AS total_bytes,
        |CAST(count(*) AS BIGINT) AS n_docs FROM documents""".stripMargin) { (s, dir) =>
      val out = Tmp.dir("graft-bin").toString + "/txt"
      Tables(s, dir, "documents").select(col("text"))
        .write.mode("overwrite").text(out)
      val onDisk = Option(new java.io.File(out).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.startsWith("part-"))
      val files = s.read.format("binaryFile").load(out)
        .select(col("path"), col("content"))
      // n_lines: CHAR-length delta on the decoded string (length() on the
      // raw binary is bytes, on a string it's chars — don't mix the two)
      val decoded = decode(col("content"), "UTF-8")
      val stats = files.select(
        length(col("content")).as("n_bytes"),
        (length(decoded) - length(regexp_replace(decoded, "\n", ""))).as("n_lines"))
      val agged = stats.agg(
        count(lit(1)).as("n_files"),
        sum("n_bytes").as("total_bytes"),
        sum("n_lines").as("n_docs"))
      Gate(agged, col("n_files") === lit(onDisk.length.toLong) &&
        col("total_bytes") === lit(onDisk.map(_.length()).sum),
        s"binaryFile scan must match the filesystem listing of $out")
        .select(col("total_bytes"), col("n_docs"))
    },

    // A8: top(k) — TakeOrderedAndProjectExec = vega's bounded-heap top-k
    // (rdd.rs:1106-1117, utils/bounded_priority_queue.rs).
    Q("a8_top",
      """SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price
        |FROM lineitem ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        |LIMIT 10""".stripMargin) { (s, dir) =>
      Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice"), 2).as("price"))
        .orderBy(col("price").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(10)
    },

    // A9: take_ordered(k) — smallest k (rdd.rs:1124-1153)
    Q("a9_take_ordered",
      """SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price
        |FROM lineitem ORDER BY price, l_orderkey, l_linenumber
        |LIMIT 10""".stripMargin) { (s, dir) =>
      Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice"), 2).as("price"))
        .orderBy(col("price"), col("l_orderkey"), col("l_linenumber"))
        .limit(10)
    },

    // A10: max()/min() (rdd.rs:1081-1099)
    Q("a10_max_min",
      """SELECT round(max(l_extendedprice), 2) AS max_price,
        |round(min(l_extendedprice), 2) AS min_price,
        |max(l_quantity) AS max_qty, min(l_quantity) AS min_qty
        |FROM lineitem""".stripMargin) { (s, dir) =>
      Tables(s, dir, "lineitem").agg(
        round(max("l_extendedprice"), 2).as("max_price"),
        round(min("l_extendedprice"), 2).as("min_price"),
        max("l_quantity").as("max_qty"),
        min("l_quantity").as("min_qty"))
    },

    // A14/G6: count_by_value (rdd.rs:450-459)
    Q("a14_count_by_value",
      """SELECT l_returnflag AS value, count(*) AS cnt FROM lineitem
        |GROUP BY l_returnflag ORDER BY value""".stripMargin) { (s, dir) =>
      Tables(s, dir, "lineitem").groupBy(col("l_returnflag").as("value"))
        .agg(count(lit(1)).as("cnt")).orderBy("value")
    },

    // P1: map(f) — per-row computed projection (mapper_rdd.rs). No rounding:
    // the raw IEEE double is bit-identical across engines (same op order),
    // while round-to-2 diverges on exact .005 boundaries.
    Q("p1_map_project",
      """SELECT l_orderkey, l_linenumber,
        |l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))
            * (lit(1) + col("l_tax"))).as("charge"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // P2: flat_map(f) — one row per token (flatmapper_rdd.rs); word count.
    Q("p2_flatmap_wordcount",
      """SELECT word, count(*) AS cnt FROM
        |(SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
        |WHERE word <> '' GROUP BY word ORDER BY word""".stripMargin) { (s, dir) =>
      Tables(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .where(col("word") =!= "")
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .orderBy("word")
    },

    // P3: filter(p) (rdd.rs:186-197)
    Q("p3_filter",
      """SELECT event_type, count(*) AS n FROM events
        |WHERE value > 0 AND event_type IN ('click','purchase')
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      Tables(s, dir, "events")
        .where(col("value") > 0 && col("event_type").isin("click", "purchase"))
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy("event_type")
    },

    // P4: map_partitions(f) — per-partition partial sums, then a final combine;
    // equivalent to Catalyst's partial/final HashAggregate (map_partitions_rdd.rs).
    Q("p4_map_partitions",
      """SELECT round(sum(l_quantity), 2) AS total_qty, count(*) AS n
        |FROM lineitem""".stripMargin) { (s, dir) =>
      import s.implicits._
      val partials = Tables(s, dir, "lineitem")
        .select(col("l_quantity")).as[Double]
        .mapPartitions { it =>
          var sum = 0.0; var n = 0L
          while (it.hasNext) { sum += it.next(); n += 1 }
          Iterator((sum, n))
        }.toDF("part_sum", "part_n")
      partials.agg(round(sum("part_sum"), 2).as("total_qty"),
        sum("part_n").as("n"))
    },

    // A4: fold(zero)(f) — per-partition fold then driver combine, through the
    // typed Dataflow path (rdd.rs:311-322).
    Q("a4_fold",
      "SELECT round(sum(l_quantity), 2) AS total_qty FROM lineitem") { (s, dir) =>
      import s.implicits._
      val qty = Tables(s, dir, "lineitem").select(col("l_quantity")).as[Double]
      val total = new graft.engine.Dataflow(qty).fold(0.0)(_ + _)
      Seq(total).toDF("x").select(round(col("x"), 2).as("total_qty"))
    },

    // A11: for_each(f) — side-effecting action (rdd.rs:786-803); attested by
    // accumulating a row count on the executors (the distributed side effect
    // the SQL oracle can see).
    Q("a11_foreach",
      "SELECT count(*) AS n_rows FROM lineitem") { (s, dir) =>
      import s.implicits._
      val acc = s.sparkContext.longAccumulator("graft_foreach_rows")
      val keys = Tables(s, dir, "lineitem").select(col("l_orderkey")).as[Long]
      new graft.engine.Dataflow(keys).foreach(_ => acc.add(1))
      Seq(acc.value.toLong).toDF("n_rows")
    },

    // L3: partition_by_key (pair_rdd.rs:157-171) — attested via the hash
    // partitioner's invariant: after partitionByKey, every key lives in
    // exactly ONE partition, so summing per-partition DISTINCT-key counts
    // equals the global distinct-key count (both columns below must agree).
    Q("l3_partition_by_key",
      """SELECT count(DISTINCT l_suppkey) AS n_keys,
        |count(DISTINCT l_suppkey) AS n_key_slots FROM lineitem""".stripMargin) { (s, dir) =>
      import s.implicits._
      val pairs = Tables(s, dir, "lineitem")
        .select(col("l_suppkey").cast("long"), col("l_quantity")).as[(Long, Double)]
      val pd = new graft.engine.PairDataflow(pairs).partitionByKey(8)
      val slots = pd.ds.mapPartitions(it => Iterator.single(it.map(_._1).toSet.size.toLong))
        .collect().sum
      val keys = Tables(s, dir, "lineitem")
        .select(countDistinct(col("l_suppkey"))).first().getLong(0)
      Seq((keys, slots)).toDF("n_keys", "n_key_slots")
    },

    // S8: CSV parse (reference decodes CSV in user closures,
    // examples/file_read.rs:8-31; Spark's csv source replaces the hand
    // parser). Write the fixture out as CSV, read it back, aggregate.
    Q("s8_csv_roundtrip",
      """SELECT count(*) AS n_rows, CAST(sum(n_regionkey) AS BIGINT) AS sum_region
        |FROM nation""".stripMargin) { (s, dir) =>
      val out = Tmp.dir("graft-csv").toString + "/nation"
      Tables(s, dir, "nation").write.mode("overwrite").option("header", "true").csv(out)
      graft.engine.Session(s).readCsv(out, header = true)
        .agg(count(lit(1)).as("n_rows"),
          sum(col("n_regionkey").cast("long")).as("sum_region"))
    },

    // S6 variant: JSON-lines source roundtrip (the reference's path reader
    // hands raw bytes to user decoders — examples/file_read.rs; Spark's json
    // source is the schema-aware replacement). Write the fixture out as
    // JSON, read it back with an explicit schema (no inference pass at
    // scale), aggregate.
    Q("s6_json_roundtrip",
      """SELECT n_regionkey, count(*) AS n FROM nation
        |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin) { (s, dir) =>
      val out = Tmp.dir("graft-json").toString + "/nation"
      val nation = Tables(s, dir, "nation")
      nation.write.mode("overwrite").json(out)
      s.read.schema(nation.schema).json(out)
        .groupBy("n_regionkey").agg(count(lit(1)).as("n"))
        .orderBy("n_regionkey")
    },

    // S4: read_source(config, decoder) composition (src/io/mod.rs:11-16) —
    // raw text reader + user decoder closure, then a keyed count.
    Q("s4_read_source",
      """SELECT l_returnflag, count(*) AS n FROM lineitem
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      import s.implicits._
      val out = Tmp.dir("graft-src").toString + "/li"
      Tables(s, dir, "lineitem")
        .select(concat_ws("|", col("l_orderkey"), col("l_returnflag")))
        .as[String].write.mode("overwrite").text(out)
      val decoded = graft.engine.Session(s)
        .readSource(out, (line: String) => line.split('|')(1))
      decoded.ds.toDF("l_returnflag")
        .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    },

    // G1 (typed path): combine_by_key with a genuinely non-trivial combiner —
    // per-key streaming mean/variance (Welford), merged across partitions
    // with the parallel-variance formula. This is vega's Aggregator contract
    // verbatim: createCombiner/mergeValue map-side, mergeCombiners
    // reduce-side (pair_rdd.rs:20-33, aggregator.rs:7-31).
    Q("g1_combine_stats",
      """SELECT l_returnflag, count(*) AS n_items,
        |round(avg(l_quantity), 4) AS mean_qty,
        |round(var_pop(l_quantity), 4) AS var_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      import s.implicits._
      val pairs = Tables(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_quantity")).as[(String, Double)]
      val stats = new graft.engine.PairDataflow(pairs)
        .combineByKey[(Long, Double, Double)](
          v => (1L, v, 0.0),
          { case ((n, mean, m2), v) =>
            val n1 = n + 1
            val d = v - mean
            val mean1 = mean + d / n1
            (n1, mean1, m2 + d * (v - mean1))
          },
          { case ((na, ma, m2a), (nb, mb, m2b)) =>
            if (na == 0L) (nb, mb, m2b)
            else if (nb == 0L) (na, ma, m2a)
            else {
              val n = na + nb
              val d = mb - ma
              (n, ma + d * nb / n, m2a + m2b + d * d * na * nb / n)
            }
          })
      stats.ds
        .map { case (k, (n, mean, m2)) => (k, n, mean, m2 / n) }
        .toDF("l_returnflag", "n_items", "mean_raw", "var_raw")
        .select(col("l_returnflag"), col("n_items"),
          round(col("mean_raw"), 4).as("mean_qty"),
          round(col("var_raw"), 4).as("var_qty"))
        .orderBy("l_returnflag")
    },

    // The plan linter (plans.PlanGuard, injected via spark.sql.extensions
    // into every graft session) made driver-visible: a synthetic
    // scale-killer — global row_number over a frame estimated above a
    // deliberately lowered cap — must be REFUSED at planning time, and the
    // partitioned form of the same window must pass under the same cap.
    // Catching the violation is the point; the whole 157-query suite
    // running under the guard at default caps is the complementary
    // evidence that no shipped plan contains these shapes.
    Q("x_plan_guard",
      "SELECT CAST(1 AS BIGINT) AS n_caught, CAST(1 AS BIGINT) AS n_allowed") { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      def isGuard(e: Throwable): Boolean =
        e != null && (e.isInstanceOf[graft.plans.PlanGuardViolation] ||
          isGuard(e.getCause))
      val li = Tables(s, dir, "lineitem").select("l_orderkey", "l_linenumber")
      val capKey = "spark.graft.planGuard.maxWindowBytes"
      // restore whatever the session had (not just unset-to-default):
      // a session-level override must survive this query running
      val prevCap = s.conf.getOption(capKey)
      s.conf.set(capKey, "1024")
      val (caught, allowed) = try {
        val c = try {
          li.withColumn("rn", row_number().over(Window.orderBy("l_orderkey")))
            .collect()
          0L
        } catch { case e: Throwable if isGuard(e) => 1L }
        // the action must REFERENCE rn: ColumnPruning (which runs before
        // the injected guard) deletes a Window nothing reads, and a pruned
        // Window would make this arm pass vacuously
        val a = try {
          val df = li.withColumn("rn", row_number()
            .over(Window.partitionBy("l_orderkey").orderBy("l_linenumber")))
            .where(col("rn") >= 1)
          val survived = df.queryExecution.optimizedPlan.collect {
            case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
          }.nonEmpty
          df.count()
          if (survived) 1L else 0L
        } catch { case e: Throwable if isGuard(e) => 0L }
        (c, a)
      } finally prevCap.fold(s.conf.unset(capKey))(v => s.conf.set(capKey, v))
      Gate.check(caught == 1L && allowed == 1L,
        s"plan guard: caught=$caught allowed=$allowed (want 1/1)")
      Seq((caught, allowed)).toDF("n_caught", "n_allowed")
    },

    // Typed cogroup join driven THROUGH the hot-key spill path,
    // driver-visible: each l_returnflag group (~20k rows/key at sf0.01,
    // ~200k at sf0.1) exceeds the 1k-element heap cap, so the right-side
    // group provably runs through SpillableBuffer's disk path (the
    // precondition group-size > cap is asserted from the data, and the cap
    // is a 128th of the default — this is the stress, not the default
    // config). The oracle then checks every value survived the
    // serialize/spill/replay round-trip bit-exactly: a spill that drops,
    // duplicates, or corrupts a single right row moves n_rows or sum_pk.
    Q("x_spill_join",
      """SELECT l_returnflag, count(*) AS n_rows,
        |CAST(sum(l_partkey) AS BIGINT) AS sum_pk
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      import s.implicits._
      val cap = 1024
      val right = new graft.engine.PairDataflow(
        Tables(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_partkey").cast("long"))
          .as[(String, Long)])
      val left = new graft.engine.PairDataflow(
        Tables(s, dir, "lineitem").select(col("l_returnflag")).distinct()
          .as[String].map(f => (f, 1)))
      val minGroup = Tables(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(count(lit(1)).as("n")).agg(min("n")).first().getLong(0)
      Gate.check(minGroup > cap,
        s"smallest returnflag group $minGroup <= spill cap $cap — stress is vacuous")
      left.join(right, maxBufferedPerKey = cap).ds
        .map { case (k, (_, pk)) => (k, pk) }
        .toDF("l_returnflag", "l_partkey")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"), sum("l_partkey").as("sum_pk"))
        .orderBy("l_returnflag")
    },

    // P6: key_by(f) — vega emits (item, key), NOT (key, item) (rdd.rs:1059-1069)
    Q("p6_key_by",
      """SELECT n_name AS item, n_regionkey AS key FROM nation
        |ORDER BY item""".stripMargin) { (s, dir) =>
      Tables(s, dir, "nation")
        .select(col("n_name").as("item"), col("n_regionkey").as("key"))
        .orderBy("item")
    },

    // P7: map_values(f) — value transform that keeps the key partitioning
    // (pair_rdd.rs:82-91); relational: keyed aggregate then value expr.
    // Cents-exact mean: c_acctbal carries 2-decimal granularity, so the
    // integer-cents sum is exact and ORDER-FREE (a double avg()'s partial
    // accumulation order is not), and the division chain is bit-identical
    // in both engines — no rounding, no half-cent repr lottery (round()
    // diverged between Spark and DuckDB at sf0.001: exact-binary vs
    // shortest-decimal-repr rounding).
    Q("p7_map_values",
      """SELECT c_nationkey,
        |CAST(sum(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS DOUBLE)
        |  / 100.0 / count(*) AS avg_bal
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin) { (s, dir) =>
      Tables(s, dir, "customer").groupBy("c_nationkey")
        .agg((sum(round(col("c_acctbal") * 100, 0).cast("long")).cast("double")
          / lit(100.0) / count(lit(1))).as("avg_bal"))
        .orderBy("c_nationkey")
    },

    // P8: flat_map_values(f) (pair_rdd.rs:93-102) — key kept, value exploded.
    Q("p8_flat_map_values",
      """SELECT key, val FROM (SELECT doc_id AS key,
        |unnest(string_split(substr(text, 1, 40), ' ')) AS val FROM documents) t
        |WHERE val <> '' ORDER BY key, val""".stripMargin) { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id").as("key"),
          explode(split(substring(col("text"), 1, 40), " ")).as("val"))
        .where(col("val") =!= "")
        .orderBy("key", "val")
    },

    // Partitioned write + partition-pruned read: the layout primitive every
    // 100 TB pipeline leans on. GATED on the PRUNING itself: after filtering
    // to one event_type, every file the scan touches must live under that
    // type's partition directory — a pruning regression fails the query,
    // not just slows it.
    Q("x_partitioned_write",
      """SELECT count(*) AS n_clicks, round(sum(value), 2) AS sum_value
        |FROM events WHERE event_type = 'click'""".stripMargin) { (s, dir) =>
      Tmp.scoped("graft-partw") { tmp =>
        Tables(s, dir, "events")
          .write.mode("overwrite").partitionBy("event_type")
          .parquet(tmp.toString)
        val clicks = s.read.parquet(tmp.toString)
          .where(col("event_type") === "click")
        // pruning gate, two-sided: the scan must carry the partition filter
        // (inputFiles can't attest this — it lists the unpruned table), and
        // reading ONLY the click directory must reproduce the same count
        val plan = clicks.queryExecution.executedPlan.toString
        Gate.check(plan.contains("PartitionFilters") && plan.contains("= click"),
          s"partition filter missing from scan:\n${plan.take(500)}")
        val direct = s.read.parquet(tmp.resolve("event_type=click").toString).count()
        val out = clicks.agg(count(lit(1)).as("n_clicks"),
          round(sum("value"), 2).as("sum_value")).localCheckpoint(true)
        Gate.check(out.first().getLong(0) == direct,
          s"pruned scan (${out.first().getLong(0)}) != direct partition read ($direct)")
        out
      }
    },

    // Bucketed co-located join: both fact tables bucketed on the join key,
    // so the join needs NO exchange on either side — vega's partitioner-
    // aware one-to-one cogroup dependency (co_grouped_rdd.rs:103-126),
    // expressed as Spark bucketing. GATED on the plan: an exchange between
    // the bucketed scans and the join fails the query.
    Q("x_bucketed_join",
      """SELECT o_orderstatus, count(*) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_orderkey % 5 = 0 AND o_orderkey % 5 = 0
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
      s.sql("DROP TABLE IF EXISTS graft_orders_b")
      s.sql("DROP TABLE IF EXISTS graft_lineitem_b")
      Tmp.scoped("graft-buck") { tmp => try {
        // deterministic 1/5 subset: the demo is the LAYOUT (bucketed scans
        // join with no exchange), not the write throughput
        Tables(s, dir, "orders").where(pmod(col("o_orderkey"), lit(5)) === 0)
          .write.mode("overwrite").option("path", tmp.resolve("o").toString)
          .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .saveAsTable("graft_orders_b")
        Tables(s, dir, "lineitem").where(pmod(col("l_orderkey"), lit(5)) === 0)
          .write.mode("overwrite").option("path", tmp.resolve("l").toString)
          .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .saveAsTable("graft_lineitem_b")
        val joined = s.table("graft_lineitem_b")
          .join(s.table("graft_orders_b").hint("merge"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
          .orderBy("o_orderstatus")
        val out = joined.localCheckpoint(true) // finalize the adaptive plan
        // AQE plan string prints final + initial sections; check final only
        val full = joined.queryExecution.executedPlan.toString
        val plan = full.indexOf("== Initial Plan ==") match {
          case -1 => full; case i => full.substring(0, i)
        }
        val joinIdx = plan.indexOf("SortMergeJoin")
        Gate.check(joinIdx >= 0 &&
          !plan.substring(joinIdx).contains("Exchange hashpartitioning"),
          "bucketed join regressed: exchange present between scans and join")
        out
      } finally {
        s.sql("DROP TABLE IF EXISTS graft_orders_b")
        s.sql("DROP TABLE IF EXISTS graft_lineitem_b")
      } }
    },

    // Bucket PRUNING on read: an equality filter on the bucket column
    // must scan ONE bucket, not eight — at 100 TB this is the difference
    // between a point lookup and a table scan. The in-query plan gate
    // reads SelectedBucketsCount from the executed scan ("1 out of 8");
    // the value oracle pins the filtered aggregate itself, so the prune
    // is proven not to have dropped rows while it skipped files.
    Q("x_bucket_pruning",
      """SELECT count(*) AS n,
        |CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
        |  AS sum_cents
        |FROM orders WHERE o_orderkey = 32""".stripMargin) { (s, dir) =>
      s.sql("DROP TABLE IF EXISTS graft_orders_bp")
      Tmp.scoped("graft-bprune") { tmp => try {
        Tables(s, dir, "orders")
          .write.mode("overwrite").option("path", tmp.resolve("o").toString)
          .bucketBy(8, "o_orderkey")
          .saveAsTable("graft_orders_bp")
        // autoBucketedScan declines the bucketed layout when the query
        // itself doesn't exploit bucketing (this agg doesn't group on the
        // key) — and silently takes the bucket PRUNE with it, falling
        // back to an all-files scan. Pin it off for this read: the point
        // lookup wants the 1-of-8 file skip, which is the whole query.
        val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
        val prev = s.conf.get(key)
        s.conf.set(key, "false")
        try {
          val q = s.table("graft_orders_bp")
            .where(col("o_orderkey") === 32)
            .agg(count(lit(1)).as("n"),
              sum(round(col("o_totalprice") * 100, 0).cast("long"))
                .as("sum_cents"))
          val out = q.localCheckpoint(true) // finalize the adaptive plan
          val plan = q.queryExecution.executedPlan.toString
          Gate.check(plan.contains("SelectedBucketsCount: 1 out of 8"),
            "bucket pruning regressed: point filter did not select exactly " +
              "one bucket")
          out
        } finally s.conf.set(key, prev)
      } finally s.sql("DROP TABLE IF EXISTS graft_orders_bp") }
    },

    // Extension: range-sorted write — repartitionByRange + sortWithinPartitions
    // produces globally range-partitioned, locally sorted files: the layout
    // that makes parquet min/max stats actually skip data on the sort key.
    // Gated: per-file (min, max) shipdate ranges must be pairwise disjoint
    // (the property data-skipping relies on); oracled: the read-back
    // aggregate must match the source exactly.
    Q("x_sorted_write",
      """SELECT l_returnflag, count(*) AS n,
        |CAST(sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS DOUBLE)
        |  / 100.0 AS total_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      val tmp = Tmp.dir("graft-sortw")
      Tables(s, dir, "lineitem")
        .select("l_shipdate", "l_returnflag", "l_quantity")
        .repartitionByRange(8, col("l_shipdate"))
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite").parquet(tmp.toString)
      val back = s.read.parquet(tmp.toString)
      val ranges = back.groupBy(input_file_name().as("f"))
        // epoch micros: timestamp row values are java.time types under the
        // java8 datetime API — longs compare portably
        .agg(min(unix_micros(col("l_shipdate").cast("timestamp"))).as("lo"),
          max(unix_micros(col("l_shipdate").cast("timestamp"))).as("hi"))
        .collect()
        .map(r => (r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
      Gate.check(ranges.length >= 2,
        s"only ${ranges.length} output file(s) — range attestation is vacuous")
      ranges.sliding(2).foreach {
        case Array((_, prevHi), (curLo, _)) =>
          // RangePartitioner puts equal keys in one partition, so adjacent
          // file ranges may touch at a boundary but never interleave
          Gate.check(prevHi <= curLo,
            s"file ranges overlap: prev hi $prevHi > next lo $curLo")
        case _ => ()
      }
      back.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          (sum(round(col("l_quantity") * 100, 0).cast("bigint"))
            .cast("double") / 100.0).as("total_qty"))
        .orderBy("l_returnflag")
    },

    // Extension: Z-ORDER layout write — multi-dimensional data skipping.
    // A range-sort on one column (x_sorted_write) skips files only for
    // predicates on THAT column; interleaving the bits of two key columns
    // into one z-value and range-sorting on it gives BOTH columns locality,
    // so a box predicate (p in [lo,hi] AND s in [lo,hi]) prunes most
    // files from their footer min/max alone. Gated three ways: per-file
    // z-ranges pairwise disjoint (the sort actually happened), a quarter-
    // by-quarter box predicate must intersect at most half the file
    // rectangles (the skipping is real, with wide margin — measured ~1/8
    // at sf0.1), and the read-back aggregate is DuckDB-oracled (no row was
    // lost or changed by the rewrite).
    Q("x_zorder",
      """SELECT count(*) AS n_rows,
        |CAST(sum(l_partkey * 7 + l_suppkey) AS BIGINT) AS checksum
        |FROM lineitem""".stripMargin) { (s, dir) =>
      // bit-interleave two 16-bit keys: z = sum_i (p_i << 2i | s_i << 2i+1)
      def zval(p: org.apache.spark.sql.Column, q: org.apache.spark.sql.Column) =
        (0 until 16).map { i =>
          shiftleft(shiftrightunsigned(p, i).bitwiseAND(lit(1L)), 2 * i) +
            shiftleft(shiftrightunsigned(q, i).bitwiseAND(lit(1L)), 2 * i + 1)
        }.reduce(_ + _)
      val tmp = Tmp.dir("graft-zorder")
      val src = Tables(s, dir, "lineitem").select(
        pmod(col("l_partkey"), lit(65536L)).as("p"),
        pmod(col("l_suppkey"), lit(65536L)).as("q"),
        col("l_partkey"), col("l_suppkey"))
      src.withColumn("z", zval(col("p"), col("q")))
        .repartitionByRange(8, col("z"))
        .sortWithinPartitions("z")
        .write.mode("overwrite").parquet(tmp.toString)
      val back = s.read.parquet(tmp.toString)
      val files = back.groupBy(input_file_name().as("f"))
        .agg(min("z").as("zlo"), max("z").as("zhi"),
          min("p").as("plo"), max("p").as("phi"),
          min("q").as("qlo"), max("q").as("qhi"))
        .collect()
      Gate.check(files.length >= 2,
        s"only ${files.length} output file(s) — layout attestation is vacuous")
      val zr = files.map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
      zr.sliding(2).foreach {
        case Array((_, prevHi), (curLo, _)) =>
          Gate.check(prevHi <= curLo,
            s"z-ranges overlap: prev hi $prevHi > next lo $curLo")
        case _ => ()
      }
      // box predicate over the second quarter of each key's value space
      val (pLo, pHi) = (files.map(_.getLong(3)).min, files.map(_.getLong(4)).max)
      val (qLo, qHi) = (files.map(_.getLong(5)).min, files.map(_.getLong(6)).max)
      def quarter(lo: Long, hi: Long) = (lo + (hi - lo) / 4, lo + (hi - lo) / 2)
      val (bp1, bp2) = quarter(pLo, pHi)
      val (bq1, bq2) = quarter(qLo, qHi)
      val touched = files.count(r =>
        r.getLong(3) <= bp2 && r.getLong(4) >= bp1 &&
          r.getLong(5) <= bq2 && r.getLong(6) >= bq1)
      Gate.check(touched <= files.length / 2,
        s"z-order box predicate touches $touched of ${files.length} files — no skipping")
      back.agg(count(lit(1)).as("n_rows"),
        sum(col("l_partkey") * 7 + col("l_suppkey")).as("checksum"))
    },

    // Extension: small-file compaction — the №1 operational chore of any
    // long-running ingest: micro-batches leave thousands of tiny files;
    // compaction rewrites them into few large ones WITHOUT changing a row.
    // Gated on the file counts (before >= 32, after <= 4) and oracled on
    // the values surviving the rewrite bit-exactly.
    Q("x_compaction",
      """SELECT event_type, count(*) AS n,
        |CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      val tmp = Tmp.dir("graft-compact")
      val small = tmp.resolve("small").toString
      val compacted = tmp.resolve("compacted").toString
      // simulate a micro-batch landing zone: 64 small files
      Tables(s, dir, "events").select("event_type", "props")
        .repartition(64).write.mode("overwrite").parquet(small)
      val nSmall = s.read.parquet(small).inputFiles.length
      s.read.parquet(small).repartition(4)
        .write.mode("overwrite").parquet(compacted)
      val nBig = s.read.parquet(compacted).inputFiles.length
      Gate.check(nSmall >= 32 && nBig <= 4,
        s"compaction file counts off: $nSmall small -> $nBig compacted")
      s.read.parquet(compacted)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(get_json_object(col("props"), "$.k").cast("bigint")).as("sum_k"))
        .orderBy("event_type")
    },

    // Extension: semi-structured extraction — events.props is a JSON string;
    // parse with an EXPLICIT schema via from_json (schema inference over a
    // string column is a full extra scan at 100 TB) and aggregate the
    // extracted field. from_json with a literal schema is a codegen'd
    // expression — stays inside WholeStageCodegen, no UDF.
    Q("x_json_extract",
      """SELECT event_type,
        |CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      Tables(s, dir, "events")
        .select(col("event_type"),
          from_json(col("props"), "k BIGINT", Map.empty[String, String])
            .getField("k").as("k"))
        .groupBy("event_type")
        .agg(sum("k").as("sum_k"), count(lit(1)).as("n"))
        .orderBy("event_type")
    },

    // Extension: ORC roundtrip — the other columnar format Spark ships a
    // native vectorized reader for. Write a pruned projection, read back,
    // aggregate; the oracle computes the same result from the parquet
    // source, so a value corrupted anywhere in the ORC write/read path
    // fails the hash compare.
    Q("x_orc_roundtrip",
      """SELECT o_orderpriority, count(*) AS n,
        |CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE)
        |  / 100.0 AS total_price
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      val out = Tmp.dir("graft-orc").toString + "/orders"
      Tables(s, dir, "orders")
        .where(col("o_orderstatus") === "F")
        .select("o_orderpriority", "o_totalprice")
        .write.mode("overwrite").orc(out)
      s.read.orc(out)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          (sum(round(col("o_totalprice") * 100, 0).cast("bigint"))
            .cast("double") / 100.0).as("total_price"))
        .orderBy("o_orderpriority")
    },

    // Extension: Avro roundtrip — completes the io matrix's one missing
    // mainstream format (parquet/ORC/CSV/JSON/text/binary are all oracled
    // elsewhere). No spark-avro DataSource ships in this container, so
    // sources.AvroIO drives the avro-mapred Hadoop formats directly —
    // distributed one-file-per-partition write, block-splittable read.
    // Write a pruned projection (long + string + double + TIMESTAMP_NTZ,
    // the local-timestamp-micros logical type), read back, aggregate; the
    // oracle computes the same result from the parquet source, so any
    // value corrupted in the Avro write/read/type mapping fails the hash.
    // key_checksum pins row MEMBERSHIP (every o_orderkey, mod-reduced,
    // overflow-safe), not just aggregates of other columns.
    Q("x_avro_roundtrip",
      """SELECT o_orderpriority, count(*) AS n,
        |CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE)
        |  / 100.0 AS total_price,
        |CAST(sum(o_orderkey % 999983) AS BIGINT) AS key_checksum,
        |max(o_orderdate) AS last_order
        |FROM orders WHERE o_orderstatus = 'O'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      val out = Tmp.dir("graft-avro").toString + "/orders"
      graft.sources.AvroIO.write(
        Tables(s, dir, "orders")
          .where(col("o_orderstatus") === "O")
          .select("o_orderkey", "o_orderpriority", "o_totalprice", "o_orderdate"),
        out)
      graft.sources.AvroIO.read(s, out)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          (sum(round(col("o_totalprice") * 100, 0).cast("bigint"))
            .cast("double") / 100.0).as("total_price"),
          sum(col("o_orderkey") % 999983).as("key_checksum"),
          max(col("o_orderdate")).as("last_order"))
        .orderBy("o_orderpriority")
    }
  )
}
