package graft.queries

import graft.Tables
import org.apache.spark.sql.functions._
import Fixtures._
import StreamQueries.withShufflePartitions

/** Graph and linear-algebra extensions: connected components,
  * PageRank, PCA, the JL projection and correlation statistics.
  */
object GraphQueries {

  val all: Seq[Q] = Seq(
    // Distributed connected components (large-star/small-star) over a
    // deterministic chain graph: doc i ~ doc i+1 within each decade, so the
    // true clusters have a CLOSED FORM the SQL oracle states directly —
    // an end-to-end oracle on the iterative distributed algorithm itself
    // (chains are its worst convergence case; cliques its best).
    Q("x_cluster_cc",
      """SELECT doc_id AS id, doc_id - doc_id % 10 AS cluster
        |FROM documents ORDER BY id""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir, "documents").select("doc_id")
      // a doc left with no edge at all still labels itself below.
      // 8 shuffle partitions: CC runs ~4 rounds x several aggregate-sized
      // jobs over a doc-count-sized edge list — scheduler floor, not data.
      val edges = chainDecadeEdges(d)
      withShufflePartitions(s, 8) {
        val labels = graft.operators.ConnectedComponents.clusters(edges, "a", "b")
        d.join(labels, col("doc_id") === col("id"), "left")
          .select(col("doc_id").as("id"),
            coalesce(col("cluster"), col("doc_id")).as("cluster"))
          .orderBy("id")
      }
    },

    // PCA over the embedding column (operators.Pca) — the classic
    // whitening/energy-compaction step next to random projection
    // (data-blind), PQ and IVF: ONE treeAggregate pass accumulates
    // (n, sum, X^T X) — driver state dim + dim^2 doubles, never rows —
    // then a driver-side Jacobi eigendecomposition and a broadcast
    // projection pass. Component BYTES are float-sum-order sensitive, so
    // the gates are the linear-algebra invariants, not values:
    // orthonormal components, descending nonnegative spectrum, trace
    // identity against independently-computed per-coordinate variance,
    // and per-component PROJECTED variance == eigenvalue (a second
    // distributed pass must agree with the driver's eigensolve).
    Q("x_pca",
      """SELECT CAST(count(*) AS BIGINT) AS n_vecs,
        |CAST(max(len(embedding)) AS BIGINT) AS dim,
        |CAST(8 AS BIGINT) AS k, CAST(0 AS BIGINT) AS n_violations
        |FROM embeddings""".stripMargin) { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      val (values, comps, n) = graft.operators.Pca.fit(emb, "embedding", 64)
      val dim = comps(0).length
      var viol = 0L
      // orthonormality of the top-8 components
      for (a <- 0 until 8; b <- a until 8) {
        val dot = (0 until dim).map(d => comps(a)(d) * comps(b)(d)).sum
        if (math.abs(dot - (if (a == b) 1.0 else 0.0)) > 1e-8) viol += 1
      }
      // descending, nonnegative spectrum
      for (i <- values.indices) {
        if (values(i) < -1e-9) viol += 1
        if (i > 0 && values(i) > values(i - 1) + 1e-12) viol += 1
      }
      // trace identity vs per-coordinate variance computed independently
      // (posexplode -> per-coordinate mean/second-moment -> summed)
      val pc = emb.select(posexplode(col("embedding").cast("array<double>"))
        .as(Seq("i", "x")))
        .groupBy("i").agg(avg("x").as("m"), avg(col("x") * col("x")).as("m2"))
        .agg(sum(col("m2") - col("m") * col("m"))).first().getDouble(0)
      if (math.abs(values.sum - pc) / pc > 1e-6) viol += 1
      // projected variance along the top 3 == eigenvalues (distributed
      // pass vs driver eigensolve)
      val proj = graft.operators.Pca.project(emb, "embedding", comps.take(3))
      val pv = proj.select((0 until 3).map(i => col("proj")(i).as(s"z$i")): _*)
        .agg(
          (avg(col("z0") * col("z0")) - avg("z0") * avg("z0")).as("v0"),
          (avg(col("z1") * col("z1")) - avg("z1") * avg("z1")).as("v1"),
          (avg(col("z2") * col("z2")) - avg("z2") * avg("z2")).as("v2"))
        .first()
      for (i <- 0 until 3)
        if (math.abs(pv.getDouble(i) - values(i)) / values(i) > 1e-6) viol += 1
      import s.implicits._
      Seq((n, dim.toLong, 8L, Gate.violations((viol == 0) -> s"$viol PCA invariant violations")))
        .toDF("n_vecs", "dim", "k", "n_violations")
    },

    // Dimensionality reduction (deterministic JL random projection) — the
    // pre-ANN shrink for wide embeddings: cosine of consecutive-id pairs
    // before vs after projecting 64 -> 16 dims; the mean absolute
    // distortion must stay inside the (loose) JL bound. Promoted to a full
    // oracle (r5): the pair population is plain SQL and the JL-bound
    // contract becomes a violation count pinned to 0; the distortion
    // magnitudes stay gate-side (projection-seed-dependent floats).
    Q("x_dim_reduce",
      """SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |CAST(0 AS BIGINT) AS n_violations
        |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1""".stripMargin) { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      import graft.functions.GraftFunctions.{graft_cosine, graft_project}
      val emb = par(Tables(s, dir, "embeddings"))
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("p", graft_project(col("v"), 16))
      val a = emb.select(col("vec_id").as("id"), col("v").as("v1"), col("p").as("p1"))
      val b = emb.select((col("vec_id") - 1).as("id"), col("v").as("v2"), col("p").as("p2"))
      val r = a.join(b, "id")
        .select(graft_cosine(col("v1"), col("v2")).as("c_full"),
          graft_cosine(col("p1"), col("p2")).as("c_proj"))
        .agg(count(lit(1)).as("n_pairs"),
          round(avg(abs(col("c_full") - col("c_proj"))), 4).as("mean_abs_distortion"),
          round(max(abs(col("c_full") - col("c_proj"))), 4).as("max_abs_distortion"))
        .first()
      import s.implicits._
      Seq((r.getLong(0), Gate.violations((r.getLong(0) > 0 && r.getDouble(1) <= 0.25) ->
        s"JL projection mean distortion ${r.getDouble(1)} over ${r.getLong(0)} pairs exceeds bound")))
        .toDF("n_pairs", "n_violations")
    },

    // PageRank over a deterministic directed ring on the embeddings ids —
    // the canonical iterative-dataflow workload, exercised through
    // operators.PageRank (edges hash-partitioned once, one shuffle per
    // sweep, per-iteration localCheckpoint to cap lineage). The ring's
    // closed form makes the contract EXACT: out-degree 1 everywhere and a
    // uniform start keep the distribution exactly uniform at every sweep,
    // so after 10 iterations every rank must still equal 1/N to within
    // accumulated ulps. A broken degree count, join, or teleport term
    // breaks uniformity immediately.
    Q("x_pagerank",
      """SELECT CAST(count(*) AS BIGINT) AS n_nodes,
        |CAST(0 AS BIGINT) AS n_violations FROM embeddings""".stripMargin) { (s, dir) =>
      val ids = Tables(s, dir, "embeddings").select(col("vec_id").as("src"))
      val nTotal = ids.count()
      // Ring = each id points at the NEXT id in sorted order, wrapping at
      // the top — id-layout-agnostic (the ScaleCheck corpora stride their
      // copy ids, so `(id+1) mod n` would dangle off the id gaps). Built
      // via CorpusQueries' parallel rank-join helper plus the explicit
      // wrap edge (the old unpartitioned lead()
      // funneled the corpus-sized ids frame through one task).
      val mm = ids.agg(min("src"), max("src")).first()
      val (minId, maxId) = (mm.getLong(0), mm.getLong(1))
      val edges = CorpusQueries.sortedSuccessorEdges(
        s, ids.select(col("src").as("id")), Seq(1))
        .unionByName(s.range(1)
          .select(lit(maxId).as("src"), lit(minId).as("dst")))
      val ranks = graft.operators.PageRank.run(edges, iterations = 10)
      Gate(ranks.agg(count(lit(1)).as("n_nodes"),
        coalesce(sum(when(
          abs(col("rank") - lit(1.0 / nTotal)) > lit(1e-12), 1L)), lit(0L))
          .as("n_violations")),
        col("n_nodes") === nTotal && col("n_violations") === 0,
        s"ring PageRank must stay uniform at 1/$nTotal")
    },

    // One-pass moment/Gram matrix — the sufficient statistics for the full
    // covariance/correlation matrix and for least-squares fits, computed
    // in ONE partial-aggregated scan (the distributed-ML pattern: never
    // one pass per variable pair — 4 variables = 15 sums in a single
    // Aggregate). All-integer inputs (quantities; prices rounded to whole
    // units, discount/tax to cents) keep every sum exact. Overflow
    // contract at the 100 TB design point: every product is accumulated
    // in DECIMAL(38,0) (DuckDB's sum(BIGINT) is HUGEINT — also 128-bit),
    // so the ACCUMULATION never wraps at any scale. The dominant term,
    // sum(p*p) at ~1e10/row, exceeds 2^63 past ~9e8 lineitem rows
    // (~150 GB), so s_pp is emitted as exact hi/lo BIGINT parts
    // (hi*1e18 + lo) — exact to 1e38 total, ~1e27 rows. Every other
    // emitted BIGINT is exact while its total < 2^63; the next-worst
    // term, sum(q*p) at ~5e6/row, holds to ~1.8e12 rows (~300 TB of
    // lineitem), so the single-column form is safe there by margin.
    Q("x_corr_stats",
      """WITH v AS (SELECT CAST(l_quantity AS BIGINT) AS q,
        |  CAST(round(l_extendedprice, 0) AS BIGINT) AS p,
        |  CAST(round(l_discount * 100, 0) AS BIGINT) AS d,
        |  CAST(round(l_tax * 100, 0) AS BIGINT) AS t FROM lineitem)
        |SELECT count(*) AS n,
        |CAST(sum(q) AS BIGINT) AS s_q, CAST(sum(p) AS BIGINT) AS s_p,
        |CAST(sum(d) AS BIGINT) AS s_d, CAST(sum(t) AS BIGINT) AS s_t,
        |CAST(sum(q * q) AS BIGINT) AS s_qq,
        |CAST(sum(p * p) // 1000000000000000000 AS BIGINT) AS s_pp_hi,
        |CAST(sum(p * p) % 1000000000000000000 AS BIGINT) AS s_pp_lo,
        |CAST(sum(d * d) AS BIGINT) AS s_dd, CAST(sum(t * t) AS BIGINT) AS s_tt,
        |CAST(sum(q * p) AS BIGINT) AS s_qp, CAST(sum(q * d) AS BIGINT) AS s_qd,
        |CAST(sum(q * t) AS BIGINT) AS s_qt, CAST(sum(p * d) AS BIGINT) AS s_pd,
        |CAST(sum(p * t) AS BIGINT) AS s_pt, CAST(sum(d * t) AS BIGINT) AS s_dt
        |FROM v""".stripMargin) { (s, dir) =>
      val v = Tables(s, dir, "lineitem").select(
        col("l_quantity").cast("long").as("q"),
        round(col("l_extendedprice"), 0).cast("long").as("p"),
        round(col("l_discount") * 100, 0).cast("long").as("d"),
        round(col("l_tax") * 100, 0).cast("long").as("t"))
      def dsum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        sum(c.cast("decimal(38,0)"))
      val eLit = lit("1000000000000000000").cast("decimal(38,0)")
      val spp = dsum(col("p") * col("p"))
      v.agg(count(lit(1)).as("n"),
        sum("q").as("s_q"), sum("p").as("s_p"),
        sum("d").as("s_d"), sum("t").as("s_t"),
        dsum(col("q") * col("q")).cast("long").as("s_qq"),
        ((spp - pmod(spp, eLit)) / eLit).cast("long").as("s_pp_hi"),
        pmod(spp, eLit).cast("long").as("s_pp_lo"),
        dsum(col("d") * col("d")).cast("long").as("s_dd"),
        dsum(col("t") * col("t")).cast("long").as("s_tt"),
        dsum(col("q") * col("p")).cast("long").as("s_qp"),
        dsum(col("q") * col("d")).cast("long").as("s_qd"),
        dsum(col("q") * col("t")).cast("long").as("s_qt"),
        dsum(col("p") * col("d")).cast("long").as("s_pd"),
        dsum(col("p") * col("t")).cast("long").as("s_pt"),
        dsum(col("d") * col("t")).cast("long").as("s_dt"))
    }
  )
}
