package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column builders for large-scale training-data pipelines.
  *
  * Everything here is composed from `org.apache.spark.sql.functions` (codegen
  * + higher-order array functions) — no Scala UDFs — so Catalyst keeps
  * whole-stage codegen and pushdown through these expressions at 100 TB.
  */
object TextFunctions {

  /** Space-tokenizer (the fixture corpus is single-space separated). */
  def tokens(text: Column): Column = split(lower(text), " ")

  /** BPE-ish subword count: alphanumeric runs (word/punct boundaries split),
    * the usual cheap proxy for tokenizer load before a real BPE pass.
    * RE2-compatible (no lookaround) so the same regex runs in any engine.
    */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z0-9]+"), lit(0)))

  /** Punctuation character ratio. */
  def punctRatio(text: Column): Column =
    length(regexp_replace(text, "[^.!?,;:]", "")).cast("double") /
      greatest(length(text), lit(1)).cast("double")

  /** Ratio of tokens found in a stopword list (quality signal). */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val toks = tokens(text)
    size(filter(toks, t => t.isin(stopwords.map(x => x: Any): _*))).cast("double") /
      greatest(size(toks), lit(1)).cast("double")
  }

  val EnglishStopwords: Seq[String] =
    Seq("the", "a", "an", "is", "are", "of", "and", "or", "to", "in", "that", "it")

  /** Composite quality score in [0,1]: length sweet-spot, low punctuation
    * noise, presence of stopwords (natural-language-ness).
    */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast("double") / lit(500.0), lit(1.0))
    val punctScore = lit(1.0) - least(punctRatio(text) * 10, lit(1.0))
    val stopScore = least(stopwordRatio(text, EnglishStopwords) * 5, lit(1.0))
    round((lenScore + punctScore + stopScore) / 3, 4)
  }

  /** Stopword-profile language ID. Scores each candidate language by its
    * marker-token hit count; ties/no-hits fall back to 'und'. N-gram-profile
    * flavor of the classic heuristic, expressed as pure column ops so it
    * runs codegen'd over billions of docs.
    */
  val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "is", "of", "and", "to", "in", "that"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "es" -> Seq("el", "la", "los", "las", "es", "y", "que", "un"),
    "fr" -> Seq("le", "la", "les", "est", "et", "que", "une", "des"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不"))

  def langId(text: Column): Column = {
    val toks = tokens(text)
    val scored = LangMarkers.toSeq.sortBy(_._1).map { case (lang, markers) =>
      struct(size(filter(toks, t => t.isin(markers.map(x => x: Any): _*))).as("score"),
        lit(lang).as("lang"))
    }
    // array_max on (score, lang) structs: lexicographic => top score wins,
    // ties broken by lang name — deterministic.
    val best = array_max(array(scored: _*))
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Content fingerprint: md5 of lowercased text (exact-dedup key). */
  def fingerprintMd5(text: Column): Column = md5(lower(text))

  /** Word-level k-shingles (distinct), for MinHash/Jaccard. 1-based
    * element_at; guarded so short docs yield an empty set rather than a
    * descending `sequence`.
    */
  def shingles(toks: Column, k: Int): Column = {
    // bind-once wrapper: the k-gram construction indexes positions, and a
    // caller passing a DERIVED toks (split/filter of text) would have that
    // derivation inlined by projection collapse into every element_at —
    // re-tokenizing the row once per position (PlanGuard check 3, the
    // x_cdc_chunks lesson). transform(array(toks), t -> ...) evaluates
    // toks exactly once per row and the lambda indexes the materialized
    // lambda variable. This is the reference construction; the hot path
    // is the native graft_shingles kernel.
    def over(t: Column): Column =
      when(size(t) >= k,
        array_distinct(transform(sequence(lit(1), size(t) - (k - 1)),
          i => concat_ws(" ", (0 until k).map(j => element_at(t, i + lit(j))): _*))))
        .otherwise(array_distinct(array(concat_ws(" ", t))))
    element_at(transform(array(toks), t => over(t)), 1)
  }

  /** MinHash signature: numHashes seeded xxhash64 minima over the shingle
    * set. Seeding via the (shingle, seed-index) pair keeps everything inside
    * builtin codegen'd hashing — no RNG state anywhere. This is the
    * REFERENCE construction (one independent hash per family); the hot
    * path is the native graft_minhash kernel, which since r7 uses the
    * Kirsch-Mitzenmacher double-hashed family (2 string hashes per shingle
    * instead of numHashes) — same collision property, 32x less hash work,
    * different signature VALUES.
    */
  def minhashSignature(shinglesCol: Column, numHashes: Int): Column = {
    // bind-once (same rationale as shingles): a derived shinglesCol
    // referenced inside the per-hash lambda would be re-derived once per
    // hash index; binding it first evaluates it once per row
    def over(sh: Column): Column =
      transform(sequence(lit(0), lit(numHashes - 1)),
        i => coalesce(array_min(transform(sh, s => xxhash64(s, i))),
          lit(Long.MaxValue)))
    element_at(transform(array(shinglesCol), sh => over(sh)), 1)
  }

  /** LSH band keys from a MinHash signature: numBands structs of
    * (band, bhash). Equal (band, bhash) => candidate duplicate pair.
    */
  def minhashBands(sig: Column, numBands: Int, rowsPerBand: Int): Column = {
    // bind-once: a derived sig (e.g. graft_minhash(...)) referenced inside
    // the per-band lambda is re-evaluated once per band — HOF lambdas are
    // interpreted, so codegen subexpression elimination never rescues it
    def over(s: Column): Column =
      transform(sequence(lit(0), lit(numBands - 1)),
        b => struct(b.as("band"),
          xxhash64(b, slice(s, b * rowsPerBand + 1, lit(rowsPerBand))).as("bhash")))
    element_at(transform(array(sig), s => over(s)), 1)
  }

  /** 64-bit SimHash over pre-hashed tokens (`thCol` = array<bigint> of
    * xxhash64(token)): majority vote per bit.
    */
  def simhash64FromHashes(thCol: String): Column = expr(
    s"""aggregate(
       |  transform(sequence(0, 63), i ->
       |    IF(size(filter($thCol, h -> (shiftright(h, i) & CAST(1 AS BIGINT)) = 1)) * 2
       |         > size($thCol),
       |       shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))),
       |  CAST(0 AS BIGINT), (a, b) -> a | b)""".stripMargin)

  /** Token hashes feeding simhash64FromHashes — materialize once with
    * `df.withColumn("th", tokenHashes(col("text")))` then select
    * `simhash64FromHashes("th")`.
    */
  def tokenHashes(text: Column): Column = transform(tokens(text), t => xxhash64(t))

  /** Hamming distance between two simhashes. */
  def hammingDist(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** 16-bit SimHash band keys (4 bands): equal (band, bkey) on any band =>
    * candidate pair with hamming distance likely <= 3 per the pigeonhole
    * argument over 4 bands.
    */
  def simhashBands(hCol: String): Column = expr(
    s"transform(sequence(0, 3), b -> struct(b AS band," +
      s" (shiftright($hCol, b * 16) & 65535) AS bkey))")
}
