package graft.queries

import graft.Tables
import graft.functions.TextFunctions
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._
import Fixtures._
import StreamQueries.withShufflePartitions

/** Deduplication extensions: exact, near-duplicate (MinHash, SimHash,
  * exact set-similarity, embedding LSH, SemDeDup) and incremental, plus
  * the steps after the pairs (clusters, canonical pick, leakage split).
  */
object DedupQueries {

  val all: Seq[Q] = Seq(
    // Exact dedup by content fingerprint (hash-groupBy).
    Q("x_dedup_exact",
      """SELECT source, count(*) AS n_docs, count(DISTINCT md5(lower(text))) AS n_unique
        |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      Tables(s, dir, "documents").groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(TextFunctions.fingerprintMd5(col("text"))).as("n_unique"))
        .orderBy("source")
    },

    // Exact dedup keep-first materialization: survivor count must equal the
    // distinct-fingerprint count.
    Q("x_dedup_exact_keep_first",
      """SELECT count(*) AS n_survivors FROM
        |(SELECT min(doc_id) FROM documents GROUP BY md5(lower(text))) t""".stripMargin) { (s, dir) =>
      val deduped = Dedup.exact(Tables(s, dir, "documents"), "doc_id", "text")
      deduped.agg(count(lit(1)).as("n_survivors"))
    },

    // Cross-document BOILERPLATE paragraph removal — the CCNet/RefinedWeb
    // corpus-cleaning pass between exact dedup (whole document) and
    // near-dup: paragraphs recurring across more than 10% of documents
    // (headers/footers/banners) are template noise; strip the PARAGRAPH,
    // keep the document, reassemble in original order. The fixture
    // injects two boilerplate paragraphs (a footer on every 3rd doc, a
    // header on every 5th) into the REAL documents — plain SQL, so the
    // oracle recomputes the whole rewritten corpus text-for-text: the
    // df threshold, the removal, the order-preserving reassembly, and
    // the docs-that-lost-nothing all pin exactly. The 10% threshold is
    // corpus-relative (count/10), so the contract is scale-invariant
    // under ScaleCheck replication.
    Q("x_boilerplate_removal",
      """WITH injected AS (SELECT doc_id,
        |  CASE WHEN doc_id % 5 = 0 THEN 'copyright example corp all rights reserved'
        |    || chr(10) || chr(10) ELSE '' END || text ||
        |  CASE WHEN doc_id % 3 = 0 THEN chr(10) || chr(10) ||
        |    'subscribe to our newsletter for weekly updates' ELSE '' END AS text
        |  FROM documents),
        |paras AS (SELECT doc_id,
        |  unnest(string_split(text, chr(10)||chr(10))) AS para,
        |  unnest(generate_series(1, len(string_split(text, chr(10)||chr(10))))) AS idx
        |  FROM injected),
        |bp AS (SELECT para FROM paras GROUP BY para
        |  HAVING count(DISTINCT doc_id) > (SELECT count(*)//10 FROM documents)),
        |kept AS (SELECT p.doc_id, p.para, p.idx FROM paras p
        |  LEFT JOIN bp ON p.para = bp.para WHERE bp.para IS NULL),
        |rebuilt AS (SELECT doc_id, string_agg(para, chr(10)||chr(10) ORDER BY idx) AS text
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(r.text, '') AS text
        |FROM documents d LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
        |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val maxDf = docs.count() / 10
      val injected = docs.select(col("doc_id"),
        concat(
          when(col("doc_id") % 5 === 0,
            lit("copyright example corp all rights reserved\n\n"))
            .otherwise(lit("")),
          col("text"),
          when(col("doc_id") % 3 === 0,
            lit("\n\nsubscribe to our newsletter for weekly updates"))
            .otherwise(lit(""))).as("text"))
      graft.operators.Boilerplate
        .removeParagraphs(par(injected), "doc_id", "text", maxDf)
        .orderBy("doc_id")
    },

    // MinHash+LSH near-dup. NEAR-copies (one token appended => jaccard
    // ~0.98) of the 20 lowest-id long-enough docs are injected with id+1e6
    // and every known pair must be recovered. Promoted to a full oracle
    // (r5): DuckDB recomputes n_expected (the injected-copy population is
    // plain SQL over documents) and pins n_found to that same count — the
    // recall contract jaccard-0.98 pairs must meet at 16x4 banding. The
    // banding internals (pair counts, avg jaccard) stay gate-side only:
    // they depend on Spark's xxhash64, which SQL can't reproduce.
    Q("x_dedup_minhash",
      """SELECT CAST(count(*) AS BIGINT) AS n_expected,
        |CAST(count(*) AS BIGINT) AS n_found FROM documents
        |WHERE doc_id < 20 AND len(string_split(text, ' ')) >= 20""".stripMargin) { (s, dir) =>
      val docs = par(Tables(s, dir, "documents")).select("doc_id", "text")
      val injected = nearCopies(docs.where(size(split(col("text"), " ")) >= 20), 1000000L)
      val nExpected = injected.count()
      val pairs = Dedup.minhashPairs(docs.unionByName(injected), "doc_id", "text",
        shingleK = 3, numHashes = 64, numBands = 16, threshold = 0.8)
      Gate(pairs.agg(count(lit(1)).as("n_dup_pairs"),
        coalesce(round(avg("jaccard"), 4), lit(0.0)).as("avg_jaccard"),
        lit(nExpected).as("n_expected"),
        plantedPairsFound.as("n_found")),
        col("n_expected") > 0 && col("n_found") === col("n_expected"),
        "minhash LSH must recover every injected near-copy pair")
        .select(col("n_expected"), col("n_found"))
    },

    // SimHash near-dup: 20 EXACT copies injected (identical signature =>
    // hamming 0, must land in every band bucket). Promoted to a full
    // oracle (r5) on the same contract-as-output shape as x_dedup_minhash:
    // exact copies have hamming 0 by construction, so recovery is a hard
    // requirement, not a recall target.
    Q("x_dedup_simhash",
      """SELECT CAST(count(*) AS BIGINT) AS n_expected,
        |CAST(count(*) AS BIGINT) AS n_found FROM documents
        |WHERE doc_id < 20""".stripMargin) { (s, dir) =>
      val docs = par(Tables(s, dir, "documents")).select("doc_id", "text")
      val injected = docs.where(col("doc_id") < 20)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val nExpected = injected.count()
      val pairs = Dedup.simhashPairs(docs.unionByName(injected), "doc_id", "text",
        maxHamming = 3)
      Gate(pairs.agg(count(lit(1)).as("n_dup_pairs"),
        coalesce(round(avg("hamming"), 4), lit(0.0)).as("avg_hamming"),
        lit(nExpected).as("n_expected"),
        plantedPairsFound.as("n_found")),
        col("n_expected") > 0 && col("n_found") === col("n_expected"),
        "simhash must recover every injected exact-copy pair (hamming 0)")
        .select(col("n_expected"), col("n_found"))
    },

    // Exact 3-gram Jaccard over consecutive-id pairs — fully portable math,
    // so it gets a real oracle (DuckDB list lambdas).
    Q("x_ngram_jaccard",
      """WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, CASE WHEN len(t) >= 3 THEN
        |  list_distinct(list_transform(generate_series(1, len(t)-2),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        |  ELSE [array_to_string(t, ' ')] END AS s FROM tok)
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |  / len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
        |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
        |ORDER BY id1""".stripMargin) { (s, dir) =>
      val docs = par(Tables(s, dir, "documents"))
      val pairs = docs.select(col("doc_id").as("id1"),
        (col("doc_id") + 1).as("id2"))
      Dedup.jaccardOfPairs(pairs, docs, "doc_id", "text", shingleK = 3)
        .select(col("id1"), col("id2"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("id1")
    },

    // EXACT set-similarity self-join (prefix-filtered, AllPairs/PPJoin
    // family): every pair with 3-gram Jaccard >= 0.8 — deterministic, so
    // the oracle is the FULL pair list with values, brute-forced in DuckDB
    // through an unfiltered shared-shingle inverted join (an exact
    // candidate superset; the engine's prefix filter must lose nothing
    // against it). 20 injected near-copies (one appended token, J ~ m/(m+1))
    // guarantee the result is non-trivially populated at every SF.
    Q("x_jaccard_join",
      s"""WITH corpus AS (
        |  SELECT doc_id, lower(text) AS text FROM documents
        |  UNION ALL
        |  SELECT doc_id + $BigOff, lower(text) || ' graftdup' FROM documents
        |  WHERE doc_id < 20),
        |tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
        |sh AS (SELECT doc_id, CASE WHEN len(t) >= 3 THEN
        |  list_distinct(list_transform(generate_series(1, len(t)-2),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        |  ELSE [array_to_string(t, ' ')] END AS s FROM tok),
        |inv AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
        |  FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id)
        |SELECT c.id1, c.id2,
        |round(CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
        |  / len(list_distinct(list_concat(x.s, y.s))), 4) AS jaccard
        |FROM cand c JOIN sh x ON x.doc_id = c.id1 JOIN sh y ON y.doc_id = c.id2
        |WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
        |  / len(list_distinct(list_concat(x.s, y.s))) >= 0.8
        |ORDER BY id1, id2""".stripMargin) { (s, dir) =>
      val docs = par(Tables(s, dir, "documents")).select("doc_id", "text")
      val injected = nearCopies(docs, BigOff)
      Dedup.ppjoinPairs(docs.unionByName(injected), "doc_id", "text",
        shingleK = 3, threshold = 0.8)
        .select(col("id1"), col("id2"),
          round(col("jaccard"), 4).as("jaccard"))
        .orderBy("id1", "id2")
    },

    // Cross-corpus near-dedup (decontamination): flag every corpus
    // document whose 3-gram Jaccard with ANY reference document is >=
    // 0.8 — the "remove training docs near-duplicate of an eval
    // benchmark" pipeline op. EXACT bipartite prefix join
    // (Dedup.crossJaccardJoin, the R-S AllPairs/PPJoin form): zero false
    // negatives, which is the property decontamination actually needs —
    // a missed benchmark leak is a poisoned eval, so probabilistic LSH
    // recall is the wrong contract here. Fixture: refs = docs with id <
    // 50 drawn FROM the corpus (verbatim leak: every ref matches itself
    // at J = 1) plus 20 injected " graftdup" near-copies of ref docs
    // (paraphrased leak at J ~ 0.86-0.99 for long docs). The oracle
    // re-enumerates the full (corpus x refs) truth in DuckDB and pins
    // the complete pair LIST with jaccards — organic borderline pairs
    // included, which only an exact join can promise to match.
    Q("x_cross_dedup",
      s"""WITH corpus AS (
        |  SELECT doc_id, lower(text) AS text FROM documents
        |  UNION ALL
        |  SELECT doc_id + $BigOff, lower(text) || ' graftdup' FROM documents
        |  WHERE doc_id < 20),
        |refs AS (SELECT doc_id, lower(text) AS text FROM documents
        |  WHERE doc_id < 50),
        |tc AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
        |sc AS (SELECT doc_id, CASE WHEN len(t) >= 3 THEN
        |  list_distinct(list_transform(generate_series(1, len(t)-2),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        |  ELSE [array_to_string(t, ' ')] END AS s FROM tc),
        |tr AS (SELECT doc_id, string_split(text, ' ') AS t FROM refs),
        |sr AS (SELECT doc_id, CASE WHEN len(t) >= 3 THEN
        |  list_distinct(list_transform(generate_series(1, len(t)-2),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        |  ELSE [array_to_string(t, ' ')] END AS s FROM tr),
        |ic AS (SELECT doc_id, unnest(s) AS g FROM sc),
        |ir AS (SELECT doc_id, unnest(s) AS g FROM sr),
        |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
        |  FROM ic a JOIN ir b ON a.g = b.g)
        |SELECT c.id1, c.id2,
        |round(CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
        |  / len(list_distinct(list_concat(x.s, y.s))), 4) AS jaccard
        |FROM cand c JOIN sc x ON x.doc_id = c.id1
        |  JOIN sr y ON y.doc_id = c.id2
        |WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
        |  / len(list_distinct(list_concat(x.s, y.s))) >= 0.8
        |ORDER BY id1, id2""".stripMargin) { (s, dir) =>
      val docs = par(Tables(s, dir, "documents")).select("doc_id", "text")
      val injected = nearCopies(docs, BigOff)
      val refs = docs.where(col("doc_id") < 50)
        .select(col("doc_id").as("ref_id"), col("text").as("ref_text"))
      Dedup.crossJaccardJoin(docs.unionByName(injected), "doc_id", "text",
        refs, "ref_id", "ref_text", shingleK = 3, threshold = 0.8)
        .select(col("id1"), col("id2"),
          round(col("jaccard"), 4).as("jaccard"))
        .orderBy("id1", "id2")
    },

    // Canonical-document selection — the step AFTER clustering in every
    // dedup pipeline: each near-dup cluster keeps ONE representative
    // (here: longest text, doc_id tie-break) and sheds the rest. Runs
    // the REAL distributed path (chain-decade edges -> large-star/
    // small-star CC -> per-cluster max_by) while the closed-form
    // clusters make the full (cluster, canonical, size) table
    // SQL-derivable — a row-level oracle over the selection itself, not
    // just counts. max_by on a (length, id) struct == arg_max on the
    // composite integer key in DuckDB (length*1e7 + id, collision-free
    // below 1e7 ids).
    Q("x_dedup_canonical",
      """SELECT doc_id - doc_id % 10 AS cluster,
        |CAST(arg_max(doc_id, length(text) * 10000000 + doc_id) AS BIGINT)
        |  AS canonical_id,
        |count(*) AS n_members
        |FROM documents GROUP BY 1 ORDER BY cluster""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents").select("doc_id", "text")
      val edges = chainDecadeEdges(docs)
      withShufflePartitions(s, 8) {
        val labels = graft.operators.ConnectedComponents.clusters(edges, "a", "b")
        docs.join(labels, col("doc_id") === col("id"), "left")
          .select(col("doc_id"),
            coalesce(col("cluster"), col("doc_id")).as("cluster"),
            (length(col("text")).cast("long") * 10000000L + col("doc_id"))
              .as("keyv"))
          .groupBy("cluster")
          .agg(max_by(col("doc_id"), col("keyv")).as("canonical_id"),
            count(lit(1)).as("n_members"))
          .orderBy("cluster")
      }
    },

    // Leakage-safe train/val/test split — near-dup clusters are the unit
    // of assignment (a pair straddling splits leaks paraphrases into the
    // held-out set). Runs the REAL distributed path (chain-decade edges ->
    // large-star/small-star CC -> per-CLUSTER md5-hex bucketing at
    // 80/10/10) while the closed-form clusters make every output row
    // SQL-derivable: both engines compute the identical md5 of the
    // identical salt||cluster bytes and compare the same 4 lowercase hex
    // chars against the same thresholds (0.8*16^4 = 0xcccc, 0.9*16^4 =
    // 0xe666) — a full row-level oracle over the assignment itself,
    // including group atomicity (the oracle's split is a function of
    // cluster alone, so a straddling cluster is a hash mismatch).
    Q("x_leakage_split",
      """SELECT doc_id AS id, doc_id - doc_id % 10 AS cluster,
        |CASE WHEN substring(md5('graft' ||
        |    CAST(doc_id - doc_id % 10 AS VARCHAR)), 1, 4) < 'cccc'
        |  THEN 'train'
        |WHEN substring(md5('graft' ||
        |    CAST(doc_id - doc_id % 10 AS VARCHAR)), 1, 4) < 'e666'
        |  THEN 'val'
        |ELSE 'test' END AS split
        |FROM documents ORDER BY id""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir, "documents").select("doc_id")
      val edges = chainDecadeEdges(d)
      withShufflePartitions(s, 8) {
        graft.operators.LeakageSplit.assign(d, "doc_id", edges, "a", "b",
            salt = "graft")
          .orderBy("id")
      }
    },

    // Pairs -> clusters -> representatives: the full dedup pipeline. Chains
    // of near-copies (src ~ copy1 ~ copy2, one more token per hop) are
    // injected; transitive clustering must put all three in ONE cluster even
    // if the src~copy2 similarity alone were below threshold. GATED, and
    // promoted to a full oracle (r5): the chain population is plain SQL
    // over documents, and transitivity demands every one of the 2-per-chain
    // copies land in its source's cluster — so DuckDB pins n_found to
    // n_expected.
    Q("x_dedup_clusters",
      """SELECT CAST(2 * count(*) AS BIGINT) AS n_expected,
        |CAST(2 * count(*) AS BIGINT) AS n_found FROM documents
        |WHERE doc_id < 20 AND length(text) > 200""".stripMargin) { (s, dir) =>
      val docs = par(Tables(s, dir, "documents")).select("doc_id", "text")
      def copies(off: Long, suffix: String) = docs
        .where(col("doc_id") < 20 && length(col("text")) > 200)
        .select((col("doc_id") + off).as("doc_id"),
          concat(col("text"), lit(suffix)).as("text"))
      val l1 = copies(1000000L, " zzqx")
      val l2 = copies(2000000L, " zzqx yyqk")
      val nChains = l1.count()
      val pairs = Dedup.minhashPairs(docs.unionByName(l1).unionByName(l2),
        "doc_id", "text", shingleK = 3, numHashes = 64, numBands = 16,
        threshold = 0.8)
      // pair graph is tiny (near-dup pairs only) — CC rounds are scheduler-
      // bound at 32 shuffle partitions
      val labels = withShufflePartitions(s, 8) {
        graft.operators.ConnectedComponents.clusters(pairs, "id1", "id2")
      }
      // each copy must land in its source's cluster (not merely any cluster:
      // organic near-dups may merge chains, so compare against the source's
      // own label rather than a closed-form min)
      val srcLab = labels.select(col("id").as("src"), col("cluster").as("src_cluster"))
      val okCopies = labels.where(col("id") >= 1000000L)
        .withColumn("src", pmod(col("id"), lit(1000000L)))
        .join(srcLab, "src")
        .where(col("cluster") === col("src_cluster"))
        .count()
      Gate.check(nChains > 0 && okCopies == 2 * nChains,
        s"cluster dedup linked only $okCopies/${2 * nChains} chained copies to their source")
      import s.implicits._
      Seq((2 * nChains, okCopies)).toDF("n_expected", "n_found")
    },

    // Embedding-cosine near-dup via OR-amplified hyperplane LSH: 20
    // perturbed copies (alternating +/-25% per-dim scale => cosine ~0.97,
    // above the 0.95 threshold but far enough from 1.0 that buckets
    // genuinely differ per table) are injected with id+1e6. Promoted to a
    // full oracle (r5): recovery is probabilistic (~0.99 per pair OR-ed
    // over 8 tables), so the oracle pins the SQL-computable population and
    // a violation count the >=18/20 recall contract makes exactly 0 —
    // n_found itself stays gate-side (its exact value is hash-seed luck).
    Q("x_dedup_embedding",
      """SELECT CAST(count(*) AS BIGINT) AS n_expected,
        |CAST(0 AS BIGINT) AS n_violations FROM embeddings
        |WHERE vec_id < 20""".stripMargin) { (s, dir) =>
      val emb = par(Tables(s, dir, "embeddings"))
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val injected = perturbedCopies(emb, 1000000L)
      val n = emb.count()
      // Plane count scales with the CORPUS, not a constant: fixed planes
      // mean bucket occupancy grows linearly with n and the within-bucket
      // pair work quadratically — measured 17x time at 10x data before
      // this (ScaleCheck r6). r8 retune from the r7 pair-count decomposition
      // (pairs grew 22.6x at 10x under the occupancy-16 / planes+1-tables
      // schedule): a VERIFIER wants occupancy ~2 — every sub-threshold
      // cohabitant is verify waste, recall comes from the signature — and
      // the table count comes from the 0.98-recall contract at the 0.95
      // threshold (Similarity.tablesForRecall), not planes+1. At the
      // sf0.01 gate this lands on the SAME planes=8/tables=8 the old
      // schedule used, so gate behavior is bit-identical there.
      val planes = Similarity.adaptivePlanes(n, targetOccupancy = 2)
      val tables = Similarity.tablesForRecall(planes, cosine = 0.95)
      val pairs = Dedup.embeddingNearDup(emb.unionByName(injected),
        "vec_id", "embedding", threshold = 0.95,
        numPlanes = planes, numTables = tables)
      // >= 18/20: each injected pair survives a single hyperplane table with
      // p ~0.4 and the 8-table OR lifts that to ~0.99 — one unlucky pair is
      // within seed variance, a broken kernel scores ~0.
      Gate(pairs.agg(count(lit(1)).as("n_dup_pairs"),
        lit(20L).as("n_expected"),
        plantedPairsFound.as("n_found")),
        col("n_found") >= 18,
        "embedding LSH must recover >=18/20 injected cosine-0.97 pairs")
        .select(col("n_expected"),
          (col("n_found") < 18).cast("long").as("n_violations"))
    },

    // SemDeDup-style SEMANTIC dedup (Abbas et al. arXiv:2303.09540): k-means
    // clusters as the candidate buckets instead of data-oblivious LSH
    // tables — the curation pass that removes "same meaning, different
    // words" duplicates at a high cosine threshold. 20 injected copies at
    // +/-10% alternating per-dim scale (cosine ~0.995, above the 0.99
    // threshold; direction moves ~5.7 degrees, so cluster assignment is
    // genuinely at risk on a Voronoi face — which the operator's top-2
    // multi-assignment exists to absorb). Oracle pins the SQL-computable
    // population and a violation count the >=18/20 recall contract makes
    // exactly 0; n_found itself stays gate-side (centroid-seed luck).
    // Schedule: nlist ~ n/48 caps at 4096 — fit cost n*nlist per Lloyd's
    // pass, candidate cost n*(2n/nlist), so the cap trades fit time for
    // occupancy exactly where the maxOccupancy split takes over the bound.
    Q("x_semdedup",
      """SELECT CAST(count(*) AS BIGINT) AS n_expected,
        |CAST(0 AS BIGINT) AS n_violations FROM embeddings
        |WHERE vec_id < 20""".stripMargin) { (s, dir) =>
      val emb = par(Tables(s, dir, "embeddings"))
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val injected = perturbedCopies(emb, 1000000L, scale = 0.10)
      val n = emb.count()
      val nlist = math.max(16L, math.min(4096L, n / 48)).toInt
      val pairs = Dedup.semanticNearDup(emb.unionByName(injected),
        "vec_id", "embedding", threshold = 0.99,
        nlist = nlist, iterations = 3, maxOccupancy = 384)
      // >=18/20: a pair misses only if the copy's 5.7-degree rotation exits
      // BOTH of the source's top-2 clusters AND both of its own — the
      // multi-assignment overlap makes that a tail event; a broken
      // assignment or pair kernel scores ~0.
      Gate(pairs.agg(count(lit(1)).as("n_dup_pairs"),
        lit(20L).as("n_expected"),
        plantedPairsFound.as("n_found")),
        col("n_found") >= 18,
        "semantic dedup must recover >=18/20 injected cosine-0.995 pairs")
        .select(col("n_expected"),
          (col("n_found") < 18).cast("long").as("n_violations"))
    },

    // SemDeDup pruned-corpus materialization — the paper's actual output:
    // pairs -> connected components -> keep the min-id representative per
    // duplicate group, everything else drops. Composes semanticNearDup
    // with the same CC machinery x_dedup_clusters proves for minhash.
    // The fixture is fully characterized (DuckDB brute force: ZERO
    // organic cosine>=0.99 pairs at every SF), so the gates pin the set
    // algebra exactly: survivors + dropped == corpus+injected, only
    // injected ids (>=1e6) ever drop, every dropped id's keeper is its
    // own source, and >=18/20 injected copies are pruned.
    Q("x_semdedup_prune",
      """SELECT CAST(count(*) AS BIGINT) AS n_corpus,
        |CAST(0 AS BIGINT) AS n_violations FROM embeddings""".stripMargin) { (s, dir) =>
      val emb = par(Tables(s, dir, "embeddings"))
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val injected = perturbedCopies(emb, 1000000L, scale = 0.10)
      val corpus = emb.unionByName(injected)
      val n = emb.count()
      val nlist = math.max(16L, math.min(4096L, n / 48)).toInt
      val pairs = Dedup.semanticNearDup(corpus, "vec_id", "embedding",
        threshold = 0.99, nlist = nlist, iterations = 3, maxOccupancy = 384)
      val reps = graft.operators.ConnectedComponents.representatives(
        corpus.select("vec_id"), "vec_id", pairs, "id1", "id2")
        .localCheckpoint(true)
      val stats = reps.agg(
        count(lit(1)).as("total"),
        coalesce(sum(when(col("is_representative"), 1L)), lit(0L)).as("survivors"),
        coalesce(sum(when(!col("is_representative"), 1L)), lit(0L)).as("dropped"),
        coalesce(sum(when(!col("is_representative") &&
          col("vec_id") < 1000000L, 1L)), lit(0L)).as("organic_drops"),
        coalesce(sum(when(!col("is_representative") &&
          col("cluster") =!= col("vec_id") - 1000000L, 1L)), lit(0L))
          .as("wrong_keeper")).collect()(0)
      val (total, survivors, dropped) =
        (stats.getLong(0), stats.getLong(1), stats.getLong(2))
      import s.implicits._
      Seq((n, Gate.violations(
        (total == n + 20 && survivors + dropped == total) ->
          s"prune set algebra broken: total=$total survivors=$survivors dropped=$dropped",
        (stats.getLong(3) == 0L) ->
          s"${stats.getLong(3)} organic rows pruned (fixture has zero organic pairs)",
        (stats.getLong(4) == 0L) ->
          s"${stats.getLong(4)} dropped copies kept by a non-source representative",
        Gate.planted(dropped, 18, 20, "injected copies pruned"))))
        .toDF("n_corpus", "n_violations")
    },

    // Content-defined chunking (the rsync/LBFS primitive): chunk
    // boundaries fall where a content hash of the local token hits a
    // fixed residue (here md5-derived mod 8 -> ~8-token expected
    // chunks), so an insertion near the head of a document moves only
    // the chunk it lands in — fixed-width windows (x_chunk_windows)
    // shift EVERY downstream boundary, which is exactly what makes CDC
    // the dedup-friendly storage format. Same 60-bit md5 fingerprint
    // derivation both engines use in x_novelty/x_span_dedup, so the
    // boundary positions — and hence every chunk length — are
    // bit-identical: the size histogram and the chunks-weighted id
    // checksum are a full-value oracle.
    Q("x_cdc_chunks",
      """WITH tok AS (SELECT doc_id,
        |  list_filter(string_split(lower(text), ' '), w -> w <> '') AS t
        |  FROM documents),
        |d AS (SELECT doc_id, len(t) AS n,
        |  list_filter(generate_series(1, len(t)), i ->
        |    CAST(concat('0x', substr(md5(t[i]), 1, 15)) AS BIGINT) % 8 = 0)
        |    AS bpos
        |  FROM tok WHERE len(t) >= 1),
        |b AS (SELECT doc_id, n, CASE WHEN len(bpos) > 0 AND bpos[-1] = n
        |  THEN bpos ELSE list_append(bpos, n) END AS allb FROM d),
        |l AS (SELECT doc_id, len(allb) AS n_chunks,
        |  list_transform(generate_series(1, len(allb)), j ->
        |    allb[j] - CASE WHEN j = 1 THEN 0 ELSE allb[j-1] END) AS lens
        |  FROM b),
        |c AS (SELECT doc_id, n_chunks, unnest(lens) AS clen FROM l)
        |SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |CAST(count(*) AS BIGINT) AS total_chunks,
        |CAST(sum(CASE WHEN clen <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
        |CAST(sum(CASE WHEN clen BETWEEN 3 AND 8 THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_mid,
        |CAST(sum(CASE WHEN clen > 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_long,
        |CAST(sum(clen * (doc_id % 9973)) AS BIGINT) AS checksum
        |FROM c""".stripMargin) { (s, dir) =>
      // ONE aggregate-HOF pass per document: boundary flags -> running
      // chunk length -> bucket counters, closing the trailing partial
      // chunk in the finish lambda. No positional indexing of an outer
      // array anywhere — Catalyst's projection collapse inlines an
      // indexed array's WHOLE derivation (tokenize + per-token md5) into
      // every element_at call, which turned the first formulation of
      // this query into an O(n^2-per-doc) 80s scan; the single-pass fold
      // runs in ~2s at the same SF. The per-doc checksum needs no chunk
      // lengths at all: sum(clen) == n by construction.
      val toks = filter(split(lower(col("text")), " "), w => w =!= "")
      val st = Tables(s, dir, "documents")
        .select(col("doc_id"), toks.as("t"))
        .where(size(col("t")) >= 1)
        .select(col("doc_id"), size(col("t")).as("n"), expr(
          """aggregate(
            |  transform(t, x ->
            |    CAST(conv(substr(md5(x), 1, 15), 16, 10) AS BIGINT) % 8 = 0),
            |  named_struct('run', 0L, 's', 0L, 'm', 0L, 'l', 0L),
            |  (acc, f) -> IF(f,
            |    named_struct('run', 0L,
            |      's', acc.s + IF(acc.run + 1 <= 2, 1L, 0L),
            |      'm', acc.m + IF(acc.run + 1 BETWEEN 3 AND 8, 1L, 0L),
            |      'l', acc.l + IF(acc.run + 1 > 8, 1L, 0L)),
            |    named_struct('run', acc.run + 1,
            |      's', acc.s, 'm', acc.m, 'l', acc.l)),
            |  acc -> IF(acc.run > 0,
            |    named_struct('run', 0L,
            |      's', acc.s + IF(acc.run <= 2, 1L, 0L),
            |      'm', acc.m + IF(acc.run BETWEEN 3 AND 8, 1L, 0L),
            |      'l', acc.l + IF(acc.run > 8, 1L, 0L)),
            |    acc))""".stripMargin).as("c"))
      st.agg(count(lit(1)).as("n_docs"),
        sum(col("c.s") + col("c.m") + col("c.l")).as("total_chunks"),
        sum(col("c.s")).as("n_short"),
        sum(col("c.m")).as("n_mid"),
        sum(col("c.l")).as("n_long"),
        sum(col("n") * (col("doc_id") % 9973)).as("checksum"))
    },

    // End-to-end text -> hash-embedding -> LSH near-dup composition, with a
    // DETERMINISTIC full oracle: docs with identical text embed to
    // IDENTICAL vectors (TextEmbed is a pure content function), identical
    // vectors share every LSH bucket in every table, so embeddingNearDup
    // at threshold ~1 recovers EVERY exact-dup pair with probability 1 —
    // no seed luck, no violation-count indirection. The oracle counts
    // C(g,2) over md5-fingerprint groups; the Spark side counts recovered
    // pairs whose endpoints share a fingerprint. Equality is exact in both
    // directions: a missed pair lowers n_found, a broken embedder that
    // merges distinct texts can only add pairs OUTSIDE the fingerprint
    // match (filtered), never inflate it.
    Q("x_embed_dedup",
      """SELECT CAST(sum(c * (c - 1) / 2) AS BIGINT) AS n_expected,
        |CAST(sum(c * (c - 1) / 2) AS BIGINT) AS n_found FROM
        |(SELECT count(*) AS c FROM documents GROUP BY md5(lower(text))) g""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val emb = graft.operators.TextEmbed.featureHash(
        docs, "doc_id", "text", dim = 64, normalize = true)
        .localCheckpoint(true) // feeds LSH banding + both verify sides
      val n = emb.count()
      // minTables 3, not the default floor of 8: at cosine 0.999 a single
      // table already collides a true pair with p1 ~ 0.77, so THREE OR'd
      // tables meet the 0.98 recall contract (1-(1-p1)^3 ~ 0.988) — the
      // 8-table floor exists for low-threshold schedules and was pure
      // banded-row/verify-join waste here (the exact-equality gate
      // population collides in EVERY table regardless: identical vectors
      // share every bucket).
      val planes = Similarity.adaptivePlanes(n, targetOccupancy = 2)
      val tables = Similarity.tablesForRecall(planes, cosine = 0.999,
        minTables = 3)
      // maxOccupancy ON with a CONTENT-seeded split: the occupancy
      // sub-hash is seeded by the vector's own hash, so bit-identical
      // vectors (identical texts) share every sub-bucket by construction
      // and the exact n_expected == n_found contract survives the cap.
      // Worst-case within-bucket work is bounded at occ*maxOccupancy per
      // table EXCEPT the irreducible term — an identical-content group
      // bigger than the cap can't be split, but its C(g,2) pairs are the
      // operator's output, not avoidable candidate waste.
      val pairs = Dedup.embeddingNearDup(emb, "id", "vec",
        threshold = 1.0 - 1e-9, numPlanes = planes, numTables = tables,
        maxOccupancy = 8, contentSeededSplit = true)
      val fp = docs.select(col("doc_id"),
        TextFunctions.fingerprintMd5(col("text")).as("fp"))
      val matched = pairs
        .join(fp.select(col("doc_id").as("id1"), col("fp").as("fp1")), "id1")
        .join(fp.select(col("doc_id").as("id2"), col("fp").as("fp2")), "id2")
        .where(col("fp1") === col("fp2"))
      matched.agg(count(lit(1)).as("n_found"))
        .crossJoin(fp.groupBy("fp").agg(count(lit(1)).as("c"))
          .agg(sum(col("c") * (col("c") - 1) / 2).cast("long").as("n_expected")))
        .select("n_expected", "n_found")
    },

    // Incremental (cross-batch) dedup — the shape every continuously-fed
    // corpus needs: drop an incoming doc if its fingerprint exists in the
    // HISTORICAL corpus (anti-join) or earlier in its own batch (keep-first).
    // At 100 TB the history fingerprint set is itself huge, so this is a
    // shuffle anti-join on the fingerprint — NOT a broadcast (see
    // x_bloom_prefilter for the scan-side filter that cuts the exchange).
    Q("x_incremental_dedup",
      """WITH hist AS (SELECT DISTINCT md5(lower(text)) AS fp
        |  FROM documents WHERE doc_id % 5 <> 0),
        |inc AS (SELECT doc_id, md5(lower(text)) AS fp
        |  FROM documents WHERE doc_id % 5 = 0),
        |novel AS (SELECT inc.fp FROM inc LEFT JOIN hist ON inc.fp = hist.fp
        |  WHERE hist.fp IS NULL GROUP BY inc.fp)
        |SELECT (SELECT count(*) FROM inc) AS n_incoming,
        |  count(*) AS n_new FROM novel""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.fingerprintMd5(col("text")).as("fp"))
      val hist = docs.where(col("doc_id") % 5 =!= 0).select("fp").distinct()
      val inc = docs.where(col("doc_id") % 5 === 0)
      val novel = inc.join(hist, Seq("fp"), "left_anti")
        .groupBy("fp").agg(min("doc_id")) // keep-first within the batch
      inc.agg(count(lit(1)).as("n_incoming"))
        .crossJoin(novel.agg(count(lit(1)).as("n_new")))
    }
  )
}
