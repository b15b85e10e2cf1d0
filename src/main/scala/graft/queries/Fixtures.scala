package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Planted data shared by the extension families: the offsets, copies
  * and graphs their self-attestations recover, and the gate-scale switch.
  */
object Fixtures {

  /** Injected-fixture id offset for the three queries ScaleCheck measures
    * past 100x (x_jaccard_join, x_cross_dedup, x_knn_join). The rest of
    * the suite injects at +1e6/+2e6, which caps structure-preserving
    * replication at ~100x of sf0.1 (ids must stay below the offsets or
    * the injected fixtures collide with replica ids); these three carry
    * the steepest curves, so THEIR fixtures live at +1e10 to leave id
    * headroom for the 1000x and 10000x corpora (10000x replica ids top
    * out near 1.05e8 under the two-hop power-of-two stride; 1e8 — the
    * r12 offset — would collide there). The offset appears verbatim in
    * each query's oracle SQL via string interpolation — one constant,
    * both arms.
    */
  private[graft] val BigOff = 10000000000L

  /** The documents/embeddings fixtures are single parquet files — one scan
    * partition — which serializes the sketch kernels onto one core. At
    * 100 TB the input arrives in thousands of splits; locally we restore
    * parallelism explicitly before compute-heavy operators.
    */
  private[queries] def par(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Recovery count shared by the media near-dup gates (two-tier protocol,
    * r12): for each injected pair (a, a + 1e6) with a < 20, the copy is
    * recovered when both sides share an exact-signature group (`groups`:
    * (id, rep)) OR their representatives appear in the near-pair list
    * (`near`: (id1, id2, ...) with id1 < id2).
    */
  private[queries] def recoveredViaGroupOrNear(groups: DataFrame, near: DataFrame): Long = {
    val cand = groups.where(col("id") < 20)
      .select(col("id").as("a"), col("rep").as("ra"))
      .join(groups.where(col("id") >= 1000000L)
        .select((col("id") - 1000000L).as("a"), col("rep").as("rb")), "a")
    val sameGroup = cand.where(col("ra") === col("rb")).count()
    val viaNear = cand.where(col("ra") =!= col("rb"))
      .join(near, least(col("ra"), col("rb")) === col("id1")
        && greatest(col("ra"), col("rb")) === col("id2"))
      .count()
    sameGroup + viaNear
  }

  /** Deterministic near-duplicate perturbation for self-attestation:
    * alternating +/-`scale` per-dim scaling. The default 25% gives cosine
    * ~0.97 to the source — above the 0.95 dedup threshold but far enough
    * from 1.0 that LSH buckets genuinely differ per table; SemDeDup's
    * 0.99 threshold plants 10% copies (cosine ~0.995).
    */
  private[graft] def perturb(vec: Column, scale: Double = 0.25): Column =
    transform(vec, (x, i) =>
      x * (lit(1.0) + lit(scale) * when(pmod(i, lit(2)) === 0, lit(1.0))
        .otherwise(lit(-1.0))))

  /** The planted vector near-copies: the embeddings below id 20,
    * `perturb`ed as doubles and re-identified at `vec_id + offset`.
    */
  private[graft] def perturbedCopies(emb: DataFrame, offset: Long,
      scale: Double = 0.25): DataFrame =
    emb.where(col("vec_id") < 20)
      .select((col("vec_id") + offset).as("vec_id"),
        perturb(col("embedding").cast("array<double>"), scale).as("embedding"))

  /** The planted text near-copies: the documents below id 20 with one
    * token (" graftdup") appended — 3-gram Jaccard m/(m+1) to the
    * source — re-identified at `doc_id + offset`.
    */
  private[graft] def nearCopies(docs: DataFrame, offset: Long): DataFrame =
    docs.where(col("doc_id") < 20)
      .select((col("doc_id") + offset).as("doc_id"),
        concat(col("text"), lit(" graftdup")).as("text"))

  /** Over a pair list (id1 < id2): its planted pairs (a, a + 1e6), a < 20. */
  private[queries] def plantedPairsFound: Column =
    coalesce(sum(when(col("id1") < 20 &&
      col("id2") === col("id1") + 1000000L, 1L)), lit(0L))

  /** The clustering queries' chain graph (a, b): doc i ~ doc i + 1 within
    * each decade, whose decade clusters the oracles state in closed form.
    * Capped at the real max id: the oracles have no row past it.
    */
  private[queries] def chainDecadeEdges(docs: DataFrame): DataFrame = {
    val maxId = docs.agg(max("doc_id")).first().getLong(0)
    docs.where(pmod(col("doc_id"), lit(10)) =!= 9 && col("doc_id") < maxId)
      .select(col("doc_id").as("a"), (col("doc_id") + 1).as("b"))
  }

  /** Gate-scale switch for the ANN family's exact attestation arms (the
    * x_freq_items discipline): brute-force truth sets,
    * composed re-searches and full re-rank checks run only when the corpus
    * is at most this many rows — which holds at the sf0.01
    * correctness gate (embeddings = 500 rows) and not at bench SF (2000)
    * or the ScaleCheck corpora, where the query times the OPERATOR. The
    * contracts stay oracle-visible because CORRECTNESS gates at sf0.01.
    */
  private[queries] val AnnExactVerifyMaxRows = 1000L
}
