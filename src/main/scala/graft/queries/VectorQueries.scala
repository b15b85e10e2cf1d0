package graft.queries

import graft.Tables
import graft.operators.{ProductQuantizer, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Fixtures._

/** Vector-search extensions: brute-force, LSH, IVF, int8, PQ and IVF-PQ
  * top-k, ANN joins, the k-NN self-join and hybrid lexical + vector search.
  */
object VectorQueries {

  /** Each query id's top-ranked neighbor: highest sim, lowest vid on ties. */
  private def bestNeighbor(pairs: DataFrame): DataFrame =
    pairs.withColumn("rn", row_number().over(
      Window.partitionBy("qid").orderBy(col("sim").desc, col("vid"))))
      .where(col("rn") === 1)

  val all: Seq[Q] = Seq(
    // Brute-force cosine top-10 for 5 query vectors — portable math, real
    // oracle via DuckDB list_cosine_similarity (double-cast both sides).
    Q("x_ann_bruteforce",
      """SELECT q.vec_id AS qid, e.vec_id AS vid,
        |round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |  CAST(q.embedding AS DOUBLE[])), 4) AS sim
        |FROM embeddings q, embeddings e WHERE q.vec_id < 5
        |QUALIFY row_number() OVER (PARTITION BY q.vec_id
        |  ORDER BY sim DESC, e.vec_id) <= 10
        |ORDER BY qid, sim DESC, vid""".stripMargin) { (s, dir) =>
      val emb = par(Tables(s, dir, "embeddings"))
      Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 5),
        "vec_id", "embedding", k = 10)
        .orderBy(col("qid"), col("sim").desc, col("vid"))
    },

    // LSH-bucketed approximate variant (the at-scale path), self-attesting:
    // LSH retrieves NEAR neighbors, so the recall metric uses queries that
    // have one — 20 perturbed copies (cosine ~0.97) plus 5 BLENDED probes
    // (source + 0.5x another corpus vector => cosine ~0.89, direction moved
    // by a real vector rather than per-dim scaling — the organic-neighbor
    // regime). (Recall@10 against organic brute-force truth stays the wrong
    // yardstick: this fixture's rank-2..10 "neighbors" sit at cosine ~0.3,
    // which no LSH family is meant to bucket together.) GATED: expected
    // collision over 8 OR-ed tables is ~0.99 per perturbed and ~0.94 per
    // blended probe; <22/25 means the kernel broke (a broken one scores ~0).
    // Promoted to a full oracle (r5): the probe population (20 perturbed +
    // 5 blended) is plain SQL over embeddings, and the >=22/25 recall
    // contract becomes a violation count the oracle pins to 0.
    Q("x_ann_lsh",
      """SELECT CAST(count(*) FILTER (WHERE vec_id < 20)
        |  + count(*) FILTER (WHERE vec_id < 5) AS BIGINT) AS n_expected,
        |CAST(0 AS BIGINT) AS n_violations FROM embeddings""".stripMargin) { (s, dir) =>
      val emb = par(Tables(s, dir, "embeddings"))
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val perturbed = perturbedCopies(emb, 1000000L)
      val others = emb.where(col("vec_id") >= 100 && col("vec_id") < 105)
        .select((col("vec_id") - 100).as("vec_id"), col("embedding").as("other"))
      val blended = emb.where(col("vec_id") < 5).join(others, "vec_id")
        .select((col("vec_id") + 2000000L).as("vec_id"),
          zip_with(col("embedding"), col("other"),
            (a, b) => a + lit(0.5) * b).as("embedding"))
      val queries = perturbed.unionByName(blended)
      val topk = Similarity.lshTopK(emb, queries, "vec_id", "embedding",
        k = 10, numPlanes = 8, numTables = 8)
      val nFound = topk.where(col("vid") === col("qid") - 1000000L ||
        col("vid") === col("qid") - 2000000L).count()
      import s.implicits._
      Seq((25L, Gate.violations(Gate.planted(nFound, 22, 25, "LSH top-k planted neighbors"))))
        .toDF("n_expected", "n_violations")
    },

    // Bipartite ANN join — BOTH sides large (today's ingest against
    // yesterday's index), the regime where lshTopK's broadcast-query
    // contract doesn't hold and knnJoin's self-join shape doesn't apply.
    // Left = the full corpus re-identified (+3e6) plus 20 perturbed
    // copies (+1e6); right = the corpus. Two contracts: every identical
    // re-identified row must find its twin at sim 1.0 (identical vectors
    // share every bucket in every table — deterministic, no seed luck),
    // and >=18/20 perturbed copies find their source as top-1.
    Q("x_ann_bipartite",
      """SELECT CAST(count(*) + 20 AS BIGINT) AS n_left,
        |CAST(0 AS BIGINT) AS n_violations FROM embeddings""".stripMargin) { (s, dir) =>
      val emb = par(Tables(s, dir, "embeddings"))
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val n = emb.count()
      val twins = emb.select((col("vec_id") + 3000000L).as("vec_id"), col("embedding"))
      val perturbed = perturbedCopies(emb, 1000000L)
      val left = twins.unionByName(perturbed)
      // occupancy scales with K: knn (k=10) needs ~8 so heaps fill, but at
      // k=3 occupancy 4 already yields ~4*tables candidates per left row —
      // an order of magnitude over k — and candidate pairs are the curve's
      // cost axis (published in SCALECHECK: 127/row at 100x under
      // occupancy 8). Recall is signature-contract, not crowd: the
      // tablesForRecall table count is unchanged. The occupancy cap is
      // CONTENT-seeded (r9): a twin pair is bit-identical, so no split
      // can separate it — the sim-1.0 gate is structural, not an OR-over-
      // tables recovery — which is what lets the cap drop 64 -> 16
      // (NOTES round 9, four schedules at the 100x corpus: pairs 80 -> 52 per left row,
      // annJoin 31.0s -> 14.9s; the denser occ-2/17-plane schedule cut
      // pairs to 39/row but paid more in banding than it saved).
      val planes = Similarity.adaptivePlanes(n, targetOccupancy = 4)
      val tables = Similarity.tablesForRecall(planes, cosine = 0.97)
      val topk = Similarity.annJoin(left, emb, "vec_id", "embedding",
        k = 3, numPlanes = planes, numTables = tables,
        maxOccupancy = 16, contentSeededSplit = true)
        .localCheckpoint(true)
      // top-1 per left id (topKPerQuery emits rank-ordered rows per qid)
      val top1 = bestNeighbor(topk)
      val twinOk = top1.where(col("qid") >= 3000000L &&
        col("vid") === col("qid") - 3000000L && col("sim") === 1.0).count()
      val planted = top1.where(col("qid") >= 1000000L && col("qid") < 2000000L &&
        col("vid") === col("qid") - 1000000L).count()
      import s.implicits._
      Seq((n + 20, Gate.violations(
        (twinOk == n) ->
          s"only $twinOk/$n identical twins found at sim 1.0 (deterministic contract)",
        Gate.planted(planted, 18, 20, "perturbed copies ranking their source top-1"))))
        .toDF("n_left", "n_violations")
    },

    // ASYMMETRIC bipartite ANN — the ingest-vs-index regime (r9 round-10
    // candidate #4): today's full batch (|l| = n + 20) against a curated
    // index a tenth its size (|r| = n/10, the vec_id % 10 == 0 subset).
    // The schedule is sized from the GEOMETRIC MEAN of the side counts
    // (adaptivePlanesBipartite): per-bucket cross-pair volume is
    // (nl/2^p)(nr/2^p), so sqrt(nl*nr) is the side count whose symmetric
    // occupancy matches the cross-pair density — the rule degenerates to
    // the symmetric sizing when the sides are equal. The naive per-side
    // alternative (planes from the index occupancy alone) was measured
    // WORSE at 10:1 asymmetry — 11.0s vs 8.2s at the 100x corpus, 11.4 vs
    // 10.6 pairs/ingest row (NOTES round 9; the pair stream, not the
    // hashing, is what the extra planes buy down). Gates are the
    // bipartite pair: every ingest twin of an index member must surface
    // at sim 1.0 (structural under the content-seeded cap), and >=18/20
    // perturbed copies of index members rank their source top-1.
    Q("x_ann_ingest",
      """SELECT CAST(count(*) + 20 AS BIGINT) AS n_ingest,
        |CAST(count(*) FILTER (WHERE vec_id % 10 = 0) AS BIGINT) AS n_index,
        |CAST(0 AS BIGINT) AS n_violations FROM embeddings""".stripMargin) { (s, dir) =>
      val emb = par(Tables(s, dir, "embeddings"))
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val index = emb.where(pmod(col("vec_id"), lit(10)) === 0)
      val nIdx = index.count()
      val n = emb.count()
      val ingest = emb.select((col("vec_id") + 3000000L).as("vec_id"),
        col("embedding"))
      // 20 probes with a real near-neighbor in the index: perturbed copies
      // of index members (ids 0,10,...,190 exist at every SF)
      val probes = index.where(col("vec_id") < 200)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          perturb(col("embedding")).as("embedding"))
      val planes = Similarity.adaptivePlanesBipartite(n + 20, nIdx,
        targetOccupancy = 4)
      val tables = Similarity.tablesForRecall(planes, cosine = 0.97)
      val topk = Similarity.annJoin(ingest.unionByName(probes), index,
        "vec_id", "embedding", k = 3, numPlanes = planes,
        numTables = tables, maxOccupancy = 16, contentSeededSplit = true)
        .localCheckpoint(true)
      val top1 = bestNeighbor(topk)
      val twinOk = top1.where(col("qid") >= 3000000L &&
        pmod(col("qid") - 3000000L, lit(10)) === 0 &&
        col("vid") === col("qid") - 3000000L && col("sim") === 1.0).count()
      val planted = top1.where(col("qid") >= 1000000L && col("qid") < 2000000L &&
        col("vid") === col("qid") - 1000000L).count()
      import s.implicits._
      Seq((n + 20, nIdx, Gate.violations(
        (twinOk == nIdx) -> s"only $twinOk/$nIdx in-index ingest twins found at sim 1.0",
        Gate.planted(planted, 18, 20,
          "perturbed index-member probes ranking their source top-1"))))
        .toDF("n_ingest", "n_index", "n_violations")
    },

    // Multi-probe LSH top-k (Lv et al. VLDB'07): the recall OR-amplification
    // buys with MORE TABLES, multi-probe buys with more lookups into the
    // SAME tables — each query also probes, per table, the cheapest margin
    // perturbations of its own signature (VectorOps.hyperplaneProbes). At
    // 100 TB the corpus side pays tables x hashing and tables x index
    // copies, so a (2 tables, 4 probes) schedule that matches the 8-table
    // recall contract cuts the dominant cost 4x while only the
    // driver-small broadcast query side fans out. Gates: the same >=18/20
    // planted-recall contract as the single-probe family on a QUARTER of
    // the tables, plus (at gate scale) the probing-beats-plain attestation
    // that the extra probes — not table luck — carry the recall.
    Q("x_ann_multiprobe",
      """SELECT CAST(count(*) FILTER (WHERE vec_id < 20) AS BIGINT) AS n_queries,
        |CAST(0 AS BIGINT) AS n_violations FROM embeddings""".stripMargin) { (s, dir) =>
      val emb = par(Tables(s, dir, "embeddings"))
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val queries = perturbedCopies(emb, 1000000L)
      def recovered(probes: Int): Long =
        Similarity.lshTopK(emb, queries, "vec_id", "embedding",
          k = 10, numPlanes = 8, numTables = 2, nProbes = probes)
          .where(col("vid") === col("qid") - 1000000L).count()
      val multi = recovered(4)
      val nViolations = Gate.violations(Gate.planted(multi, 18, 20,
        "multi-probe (2 tables x 4 probes) planted neighbors"))
      if (emb.count() <= AnnExactVerifyMaxRows) {
        // at gate scale, attest the probes themselves carry the recall:
        // the same 2 tables without probing must recover strictly fewer
        val plain = recovered(1)
        Gate.check(plain < multi,
          s"probing added nothing at gate scale: $multi vs $plain")
      }
      import s.implicits._
      Seq((20L, nViolations)).toDF("n_queries", "n_violations")
    },

    // IVF (learned coarse quantizer) approximate top-k: recall measured
    // against the brute-force truth — all deterministic. Promoted to a
    // full oracle (r5): the truth-set size (5 queries x top-10) is plain
    // SQL, and the >=0.8 recall contract becomes a violation count the
    // oracle pins to 0.
    Q("x_ann_ivf",
      """SELECT CAST(10 * count(*) AS BIGINT) AS n_truth,
        |CAST(0 AS BIGINT) AS n_violations FROM embeddings
        |WHERE vec_id < 5""".stripMargin) { (s, dir) =>
      val emb = par(Tables(s, dir, "embeddings"))
      val queries = emb.where(col("vec_id") < 5)
      val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
        k = 10, nlist = 16, nprobe = 6, iterations = 2)
        .select(col("qid"), col("vid"), lit(1).as("hit"))
      val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 10)
        .select(col("qid"), col("vid"))
      val r = bf.join(ivf, Seq("qid", "vid"), "left_outer")
        .agg(count(lit(1)).as("n_truth"), coalesce(sum("hit"), lit(0L)).as("n_hits")).first()
      val (total, hits) = (r.getLong(0), r.getLong(1))
      // nprobe=6/16 lists: measured recall is 1.0 on this fixture; 0.8 gives
      // probe-boundary slack while a broken distance kernel scores ~0.
      import s.implicits._
      Seq((total, Gate.violations((total > 0 && hits.toDouble / total >= 0.8) ->
        s"IVF recall $hits/$total below 0.8 vs brute-force truth")))
        .toDF("n_truth", "n_violations")
    },

    // Int8-quantized brute-force top-k (asymmetric: full-precision queries
    // against the max-abs-scaled int8 corpus). The scale argument: at 100 TB
    // of float32 embeddings the exact scan is I/O-bound, and the int8 corpus
    // reads 4x fewer bytes for ~1e-3 cosine error — compose with IVF lists
    // to also cut candidates. Oracle: the truth-set size and the 4x logical
    // byte ratio are plain SQL (embeddings is float32 = 4 bytes/dim, int8 =
    // 1); Spark recomputes bytes_int8 from the ACTUAL quantized column (so a
    // dimension-dropping quantizer goes red), and the >=0.9 recall contract
    // vs exact brute-force truth becomes a violation count pinned to 0.
    // Gate-scale switch (the x_freq_items discipline):
    // the EXACT attestation arms — brute-force truth + the composed IVF+int8
    // re-search — run only when the corpus is gate-sized (<= 1000 rows, i.e.
    // the sf0.01 correctness run, where the recall contracts stay
    // oracle-visible). At bench SF and above the query times the OPERATOR
    // (one quantized scan + heap top-k) plus the byte recompute from the
    // actual quantized column; at 100 TB the exact verify would cost more
    // than the search — the whole point of the int8 path is to avoid it.
    Q("x_ann_quantized",
      """SELECT CAST(10 * count(*) FILTER (WHERE vec_id < 5) AS BIGINT) AS n_truth,
        |CAST(sum(4 * len(embedding)) AS BIGINT) AS bytes_fp32,
        |CAST(sum(len(embedding)) AS BIGINT) AS bytes_int8,
        |CAST(0 AS BIGINT) AS n_violations FROM embeddings""".stripMargin) { (s, dir) =>
      val emb = par(Tables(s, dir, "embeddings"))
      val queries = emb.where(col("vec_id") < 5)
      val nQueries = queries.count()
      val qt = Similarity.quantizedTopK(emb, queries, "vec_id", "embedding", k = 10)
        .select(col("qid"), col("vid"), lit(1).as("hit"))
      val nCorpus = emb.count()
      val total = 10L * nQueries
      val violations: Long = if (nCorpus <= AnnExactVerifyMaxRows) {
        val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 10)
          .select(col("qid"), col("vid"))
        val hits = bf.join(qt, Seq("qid", "vid"), "left_outer")
          .agg(coalesce(sum("hit"), lit(0L))).first().getLong(0)
        // Measured recall on the fixture is 1.0 (rank-margin >> 1e-3 rounding
        // error); 0.9 leaves tie-boundary slack while a broken quantizer (sign
        // flips, saturation, dropped dims) scores far below.
        // The COMPOSED scale path — IVF lists (candidate cut) over int8
        // storage (byte cut) — is gated here too, so "composable with IVF"
        // is measured, not asserted: same 0.8 bound as x_ann_ivf's
        // full-precision path (quantization error is well inside the
        // probe-boundary slack).
        val ivfq = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
          k = 10, nlist = 16, nprobe = 6, iterations = 2, quantizeStorage = true)
          .select(col("qid"), col("vid"), lit(1).as("hit2"))
        val hits2 = bf.join(ivfq, Seq("qid", "vid"), "left_outer")
          .agg(coalesce(sum("hit2"), lit(0L))).first().getLong(0)
        Gate.violations(
          (total > 0 && hits.toDouble / total >= 0.9) ->
            s"int8 recall $hits/$total below 0.9 vs exact truth",
          (hits2.toDouble / total >= 0.8) ->
            s"IVF+int8 recall $hits2/$total below 0.8 vs exact truth")
      } else {
        // bench scale: the operator's own output shape is still measured —
        // every query must fill its heap (corpus >> k, full scan)
        val nOut = qt.count()
        Gate.violations((nOut == total) ->
          s"quantized top-k returned $nOut rows, expected $total")
      }
      val b = emb.select(
        sum(lit(4) * size(col("embedding"))).as("fp32"),
        sum(size(Similarity.quantizeInt8(col("embedding").cast("array<double>"))))
          .as("int8")).first()
      import s.implicits._
      Seq((total, b.getLong(0), b.getLong(1), violations))
        .toDF("n_truth", "bytes_fp32", "bytes_int8", "n_violations")
    },

    // Product quantization + ADC search (Jégou et al. TPAMI'11 — the
    // IVF-PQ architecture FAISS runs at billion-vector scale): 8 subspaces
    // x 16-code codebooks store each 64-dim vector as 8 bytes — 32x
    // smaller than float32, vs scalar int8's 4x. Scoring never decodes
    // the corpus: per query a (8 x 16) dot table is built once and each
    // candidate costs 8 lookups instead of 64 multiplies. Oracle: the
    // query population and BOTH byte totals are plain SQL (bytes_pq is
    // 8 * corpus rows by construction; Spark recomputes it from the
    // ACTUAL coded column, so a codebook that drops subspaces goes red),
    // and the >=18/20 planted-pair recall contract (cosine-0.97 probes,
    // same population as x_ann_lsh's perturbed arm) is a violation count
    // pinned to 0.
    Q("x_ann_pq",
      """SELECT CAST(count(*) FILTER (WHERE vec_id < 20) AS BIGINT) AS n_queries,
        |CAST(sum(4 * len(embedding)) AS BIGINT) AS bytes_fp32,
        |CAST(8 * count(*) AS BIGINT) AS bytes_pq,
        |CAST(0 AS BIGINT) AS n_violations FROM embeddings""".stripMargin) { (s, dir) =>
      val emb = par(Tables(s, dir, "embeddings"))
      val cb = ProductQuantizer.fit(emb, "embedding", "vec_id",
        m = 8, kCodes = 16, iterations = 2)
      val queries = perturbedCopies(emb, 1000000L)
      val topk = ProductQuantizer.adcTopK(emb, queries, "vec_id", "embedding",
        k = 10, prefit = Some(cb))
      val nQueries = queries.count()
      val nFound = topk.where(col("vid") === col("qid") - 1000000L).count()
      val nViolations = Gate.violations(
        Gate.planted(nFound, 18, nQueries, "PQ ADC planted neighbors"))
      val bytesFp32 = emb.agg(sum(lit(4) * size(col("embedding")))).first().getLong(0)
      val bytesPq = emb.select(ProductQuantizer.encode(col("embedding"), cb).as("codes"))
        .agg(sum(size(col("codes")))).first().getLong(0)
      import s.implicits._
      Seq((nQueries, bytesFp32, bytesPq, nViolations))
        .toDF("n_queries", "bytes_fp32", "bytes_pq", "n_violations")
    },

    // IVF-PQ — the COMPOSED architecture (FAISS IndexIVFPQ): inverted
    // lists cut CANDIDATES (each query scores ~nprobe/nlist of the
    // corpus), PQ codes cut BYTES per candidate 32x; a query touches
    // ~nprobe/nlist * 1/32 of the float32 bytes. Both fits are
    // zero-corpus-shuffle treeAggregate k-means; search is one
    // broadcast-hash join on cid + ADC lookups + the bounded-heap top-k.
    // Oracle: query population + PQ byte total are plain SQL (Spark
    // recomputes bytes from the ACTUAL coded column); the >=16/20
    // planted-pair recall (cosine-0.97 probes — two quantization layers
    // deep, so slightly looser than flat ADC's 18/20) and the <=60%
    // candidate-fraction pruning attestation are violation counts pinned
    // to 0. The candidate bound is what separates this from x_ann_pq: a
    // broken coarse quantizer that dumps everything into one probed list
    // would keep recall perfect and fail ONLY the fraction gate.
    Q("x_ann_ivfpq",
      """SELECT CAST(count(*) FILTER (WHERE vec_id < 20) AS BIGINT) AS n_queries,
        |CAST(8 * count(*) AS BIGINT) AS bytes_pq,
        |CAST(0 AS BIGINT) AS n_violations FROM embeddings""".stripMargin) { (s, dir) =>
      val emb = par(Tables(s, dir, "embeddings"))
      val cb = ProductQuantizer.fit(emb, "embedding", "vec_id",
        m = 8, kCodes = 16, iterations = 2)
      // The coarse quantizer is fitted ONCE and threaded into both the
      // search and the pruning attestation — the attested layout is the
      // searched layout by construction (an independent re-fit can differ
      // in final ulps: treeAggregate combines float partials in shuffle-
      // fetch arrival order), and the search no longer pays a
      // second k-means.
      val centroids = Similarity.fitCoarseCentroids(emb, "vec_id", "embedding",
        nlist = 16, iterations = 2)
      val queries = perturbedCopies(emb, 1000000L)
      val topk = ProductQuantizer.ivfAdcTopK(emb, queries, "vec_id", "embedding",
        k = 10, nlist = 16, nprobe = 6, iterations = 2, prefit = Some(cb),
        prefitCentroids = Some(centroids))
      val nQueries = queries.count()
      // planted-pair recall reads the (tiny) search result — cheap at any
      // scale, so it is NOT behind the gate-scale switch
      val nFound = topk.where(col("vid") === col("qid") - 1000000L).count()
      val recallViolations = Gate.violations(
        Gate.planted(nFound, 16, nQueries, "IVF-PQ planted neighbors"))
      val nCorpus = emb.count()
      // Pruning attestation (gate scale only): counts
      // every (query, candidate) pair the probed lists admit, which is a
      // corpus-sized assignment + join; at bench SF and above the coarse
      // layout's pruning was already attested at the sf0.01 gate.
      val pruneViolations = if (nCorpus <= AnnExactVerifyMaxRows) {
        val nCandidates = ProductQuantizer.candidateCount(emb, queries,
          "vec_id", "embedding", nlist = 16, nprobe = 6, iterations = 2,
          prefitCentroids = Some(centroids))
        Gate.violations((nCandidates.toDouble / (nCorpus * nQueries) <= 0.6) ->
          (s"IVF-PQ scored $nCandidates of ${nCorpus * nQueries} query-candidate " +
            "pairs — coarse lists are not pruning"))
      } else 0L
      val bytesPq = emb.select(ProductQuantizer.encode(col("embedding"), cb).as("codes"))
        .agg(sum(size(col("codes")))).first().getLong(0)
      import s.implicits._
      Seq((nQueries, bytesPq, recallViolations + pruneViolations))
        .toDF("n_queries", "bytes_pq", "n_violations")
    },

    // k-NN self-join: top-k neighbors for EVERY row — the large-query-set
    // regime (queries == corpus) where the broadcast-query contract of the
    // other ANN paths does not hold; this is the near-neighbor GRAPH
    // builder behind semantic dedup / clustering. LSH-bucketed candidates
    // (ids-only through the exchange, adaptive plane count like
    // x_dedup_embedding), one score per undirected pair feeding both
    // endpoints' heaps. Gates: >=18/20 planted cosine-0.97 pairs must be
    // their perturbed copy's TOP-1 neighbor (not merely top-k — rank is
    // what a broken heap or a sim-sign bug breaks first), no self-edges,
    // and no row exceeds k neighbors; all pinned as one violation count.
    Q("x_knn_join",
      """SELECT CAST(count(*) + 20 AS BIGINT) AS n_corpus,
        |CAST(count(*) FILTER (WHERE vec_id < 20) AS BIGINT) AS n_planted,
        |CAST(0 AS BIGINT) AS n_violations FROM embeddings""".stripMargin) { (s, dir) =>
      val emb = par(Tables(s, dir, "embeddings"))
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val injected = perturbedCopies(emb, BigOff)
      val corpus = emb.unionByName(injected)
      val n = corpus.count()
      // Occupancy-bounded like x_dedup_embedding but with a GRAPH-builder
      // target: candidates per row ~ occupancy*tables must stay ≳ a few*k
      // so the top-10 heaps fill with real near neighbors — occupancy 8
      // (not the verifier's 2), tables from the 0.98-recall contract on
      // the planted cosine-0.97 pairs. r8 retune: the r7 occupancy-16 /
      // planes+1 schedule grew candidate pairs 22.6x at 10x data
      // (NOTES round 8); this one holds pair growth ~linear while
      // the sf0.01/sf0.1 gate SFs stay at the same 8/8 the gate was
      // calibrated on.
      val planes = Similarity.adaptivePlanes(n, targetOccupancy = 8)
      val tables = Similarity.tablesForRecall(planes, cosine = 0.97)
      val knn = Similarity.knnJoin(corpus, "vec_id", "embedding", k = 10,
        numPlanes = planes, numTables = tables)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        import s.implicits._
        // Gate-scale switch: the full re-rank — top-1
        // window over every row's neighbors plus the self-edge / max-k
        // sweeps — runs only at the sf0.01 correctness gate. At bench SF
        // and above the query times the OPERATOR; the planted pairs are
        // still spot-checked with one cheap filter pass over the result
        // (in top-K, without asserting rank-1).
        if (n <= AnnExactVerifyMaxRows) {
          val top1 = bestNeighbor(knn)
          val nTop1 = top1.where(col("qid") >= BigOff &&
            col("vid") === col("qid") - BigOff).count()
          val nSelf = knn.where(col("qid") === col("vid")).count()
          val maxK = knn.groupBy("qid").count()
            .agg(coalesce(max("count"), lit(0L))).first().getLong(0)
          Seq((n, 20L, Gate.violations(
            Gate.planted(nTop1, 18, 20, "knn join planted pairs as top-1 neighbors"),
            (nSelf == 0 && maxK <= 10) ->
              s"knn join: $nSelf self-edges, max $maxK neighbors per row")))
            .toDF("n_corpus", "n_planted", "n_violations")
        } else {
          val nFound = knn.where(col("qid") >= BigOff &&
            col("vid") === col("qid") - BigOff).count()
          Seq((n, 20L, Gate.violations(
            Gate.planted(nFound, 18, 20, "knn join planted pairs in top-k"))))
            .toDF("n_corpus", "n_planted", "n_violations")
        }
      } finally knn.unpersist()
    },

    // Hybrid retrieval with reciprocal-rank fusion (Cormack et al. SIGIR'09)
    // — the two-arm search every retrieval/curation pipeline runs: a
    // LEXICAL arm (BM25, the x_bm25 scorer over the full corpus) and a
    // VECTOR arm (feature-hash embedding dot product against the query's
    // own embedding — integer-exact, so the arm's ranking is portable by
    // construction), each reduced to a top-50 ranked list, fused by
    // rrf = sum over arms of 1/(60 + rank). Scale shape: each arm is
    // corpus-scan + TakeOrdered (no global sort, no corpus-wide window —
    // the rank window runs AFTER the top-50 cut, over 50 rows); the fuse
    // is a 50x50 full-outer join. Output is all-integer (ranks + 1e6-
    // scaled floored rrf); the oracle recomputes both arms end to end in
    // DuckDB, md5 feature hashing included.
    Q("x_hybrid_search",
      """WITH tok AS (SELECT doc_id,
        |  unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS t
        |  FROM documents),
        |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
        |stats AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |n AS (SELECT count(*) AS n FROM documents),
        |tf AS (SELECT doc_id, t, count(*) AS tf FROM tok
        |  WHERE t IN ('spark','vector','stream') GROUP BY doc_id, t),
        |dfq AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
        |sc AS (SELECT tf.doc_id, tf.t,
        |  ln(1.0 + (n.n - dfq.df + 0.5) / (dfq.df + 0.5))
        |    * (tf.tf * (1.2 + 1.0))
        |    / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl)) AS s
        |  FROM tf JOIN dfq USING (t) JOIN dl USING (doc_id)
        |  CROSS JOIN stats CROSS JOIN n),
        |pv AS (SELECT doc_id,
        |  coalesce(max(CASE WHEN t = 'spark' THEN s END), 0)
        |  + coalesce(max(CASE WHEN t = 'vector' THEN s END), 0)
        |  + coalesce(max(CASE WHEN t = 'stream' THEN s END), 0) AS score
        |  FROM sc GROUP BY doc_id),
        |lex AS (SELECT doc_id,
        |  row_number() OVER (
        |    ORDER BY CAST(floor(score * 1000000000) AS BIGINT) DESC, doc_id
        |  ) AS r_lex
        |  FROM pv QUALIFY r_lex <= 50),
        |tb AS (SELECT doc_id,
        |  CAST(concat('0x', substr(md5(t), 1, 7)) AS BIGINT) % 64 AS d,
        |  1 - 2 * (CAST(concat('0x', substr(md5(t), 8, 1)) AS BIGINT) % 2) AS s
        |  FROM tok),
        |sp AS (SELECT doc_id, d, CAST(sum(s) AS BIGINT) AS v FROM tb
        |  GROUP BY doc_id, d),
        |qt AS (SELECT unnest(['spark','vector','stream']) AS t),
        |qb AS (SELECT CAST(concat('0x', substr(md5(t), 1, 7)) AS BIGINT) % 64 AS d,
        |  1 - 2 * (CAST(concat('0x', substr(md5(t), 8, 1)) AS BIGINT) % 2) AS s
        |  FROM qt),
        |qc AS (SELECT d, CAST(sum(s) AS BIGINT) AS qv FROM qb GROUP BY d),
        |dots AS (SELECT sp.doc_id, CAST(sum(sp.v * qc.qv) AS BIGINT) AS dot
        |  FROM sp JOIN qc USING (d) GROUP BY sp.doc_id
        |  HAVING sum(sp.v * qc.qv) <> 0),
        |vec AS (SELECT doc_id,
        |  row_number() OVER (ORDER BY dot DESC, doc_id) AS r_vec
        |  FROM dots QUALIFY r_vec <= 50),
        |fused AS (SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
        |  lex.r_lex, vec.r_vec,
        |  COALESCE(1.0 / (60 + lex.r_lex), 0)
        |  + COALESCE(1.0 / (60 + vec.r_vec), 0) AS rrf
        |  FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id)
        |SELECT doc_id, CAST(COALESCE(r_lex, 0) AS BIGINT) AS r_lex,
        |CAST(COALESCE(r_vec, 0) AS BIGINT) AS r_vec,
        |CAST(floor(rrf * 1000000) AS BIGINT) AS rrf_e6
        |FROM fused ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin) { (s, dir) =>
      import s.implicits._
      val w50lex = Window
        .orderBy(col("score_q").desc, col("doc_id"))
      val w50vec = Window
        .orderBy(col("dot").desc, col("doc_id"))
      val docs = Tables(s, dir, "documents")
      val qTerms = Seq("spark", "vector", "stream")
      // lexical arm — the x_bm25 scorer, unrestricted population
      val (_, sc) = TextQueries.bm25TermScores(docs, qTerms)
      val pv = sc.groupBy("doc_id").agg(
        (coalesce(max(when(col("t") === "spark", col("s"))), lit(0.0))
          + coalesce(max(when(col("t") === "vector", col("s"))), lit(0.0))
          + coalesce(max(when(col("t") === "stream", col("s"))), lit(0.0)))
          .as("score"))
      // rank key is the 1e-9-quantized score: near-equal BM25 scores become
      // exact ties (broken by doc_id in both engines), so the arm's ranking
      // no longer rides ln()/division ulp parity with the oracle engine.
      val lexRank = pv
        .withColumn("score_q", floor(col("score") * 1e9).cast("long"))
        .orderBy(col("score_q").desc, col("doc_id")).limit(50)
        .withColumn("r_lex", row_number().over(w50lex))
        .select(col("doc_id"), col("r_lex").cast("long").as("r_lex"))
      // vector arm — unnormalized feature-hash vectors, integer dot: the
      // ranking key is exact, so cross-engine rank portability is free
      val emb = graft.operators.TextEmbed.featureHash(docs, "doc_id", "text",
        dim = 64)
      val qdf = Seq((0L, qTerms.mkString(" "))).toDF("doc_id", "text")
      val qvec = graft.operators.TextEmbed.featureHash(qdf, "doc_id", "text",
        dim = 64).select(col("vec").as("qv"))
      val dots = emb.crossJoin(broadcast(qvec))
        .withColumn("dot", aggregate(zip_with(col("vec"), col("qv"),
          (a, b) => a * b), lit(0.0), (acc, x) => acc + x).cast("long"))
        .where(col("dot") =!= 0)
      val vecRank = dots.select(col("id").as("doc_id"), col("dot"))
        .orderBy(col("dot").desc, col("doc_id")).limit(50)
        .withColumn("r_vec", row_number().over(w50vec))
        .select(col("doc_id"), col("r_vec").cast("long").as("r_vec"))
      lexRank.join(vecRank, Seq("doc_id"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0) / (lit(60) + col("r_lex")), lit(0.0))
            + coalesce(lit(1.0) / (lit(60) + col("r_vec")), lit(0.0)))
        .orderBy(col("rrf").desc, col("doc_id")).limit(10)
        .select(col("doc_id"),
          coalesce(col("r_lex"), lit(0L)).cast("long").as("r_lex"),
          coalesce(col("r_vec"), lit(0L)).cast("long").as("r_vec"),
          floor(col("rrf") * 1000000).cast("long").as("rrf_e6"))
    }
  )
}
