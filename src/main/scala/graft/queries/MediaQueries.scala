package graft.queries

import graft.Tables
import graft.operators.{Dedup, Multimodal}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Fixtures._

/** Multimodal extensions: rendered image, audio and video payloads, their
  * decoding and perceptual-hash near-dup recovery.
  */
object MediaQueries {

  /** The two-tier planted-copy recovery of the image and audio dedups
    * (the video-family discipline, r12) over `hashes` (doc_id, hash):
    * exact-signature collapse first — identical hashes form C(g,2)
    * band-join pairs no occupancy cap can split — then the Hamming band
    * join over the groups' REPRESENTATIVES only; an edited copy is
    * recovered via its source's group or a rep pair.
    */
  private def recoveredTwoTier(hashes: DataFrame, maxHamming: Int): Long = {
    val hashed = hashes.withColumnRenamed("doc_id", "id").localCheckpoint(true)
    val groups = Dedup.exactHashGroups(hashed).localCheckpoint(true)
    val repHashed = hashed.join(
      groups.where(col("id") === col("rep")).select("id"), Seq("id"))
    recoveredViaGroupOrNear(groups, Dedup.hammingPairs(repHashed, maxHamming))
  }

  val all: Seq[Q] = Seq(
    // Binary payload plumbing: byte totals per source are oracle-checkable;
    // the stubbed decode features are covered by the rows-only variant below.
    Q("x_media_bytes",
      """SELECT source, count(*) AS n_docs,
        |CAST(sum(octet_length(CAST(text AS BLOB))) AS BIGINT) AS total_bytes
        |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      graft.operators.Multimodal.asMediaTable(Tables(s, dir, "documents"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_bytes").cast("long").as("total_bytes"))
        .orderBy("source")
    },

    // REAL image decode (JDK ImageIO PNG codec) over rendered payloads,
    // batched per partition; n_failed must be 0 and n_dims_ok must equal
    // n_docs (decoded dims round-trip the renderer). Promoted to a full
    // oracle (r5): per-source doc counts are plain SQL, and the decode
    // contract (0 failures, every dim round-trips) pins n_failed/n_dims_ok.
    // Channel means / histogram mass stay gate-side (codec-dependent).
    Q("x_media_features",
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |CAST(0 AS BIGINT) AS n_failed,
        |CAST(count(*) AS BIGINT) AS n_dims_ok
        |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      Gate(Multimodal.featureSummary(s, par(Tables(s, dir, "documents"))),
        col("n_failed") === 0 && col("n_dims_ok") === col("n_docs"),
        "every rendered PNG must decode at the renderer's 24x16 dims")
        .select(col("source"), col("n_docs"), col("n_failed"), col("n_dims_ok"))
    },

    // REAL WAV decode (javax.sound PCM parser): per-source audio stats.
    // n_failed must be 0; duration follows the renderer's
    // 400 + (n_chars mod 400) frame contract. Promoted to a full oracle
    // (r5): the DECODED frame total must equal the renderer's closed form,
    // which DuckDB recomputes from text byte lengths — an integer-exact
    // end-to-end check on the render->WAV->parse path. RMS stays gate-side
    // (waveform-dependent float).
    Q("x_media_audio",
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |CAST(0 AS BIGINT) AS n_failed,
        |CAST(sum(400 + octet_length(CAST(text AS BLOB)) % 400) AS BIGINT)
        |  AS total_frames
        |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      val audio = Multimodal.asAudioTable(par(Tables(s, dir, "documents")))
      // duration gate: the renderer emits 400 + (n_chars mod 400) frames at
      // 8 kHz => every per-source mean sits inside [50 ms, 100 ms).
      Gate(Multimodal.extractAudioFeatures(audio)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(!col("ok"), 1L).otherwise(0L)).as("n_failed"),
          sum(col("n_frames")).cast("long").as("total_frames"),
          round(avg("duration_ms"), 2).as("avg_duration_ms"),
          round(avg("rms"), 1).as("avg_rms"))
        .orderBy("source"),
        col("n_failed") === 0 && col("avg_duration_ms").between(50.0, 100.0),
        "every rendered WAV must decode; duration must follow the renderer contract")
        .select(col("source"), col("n_docs"), col("n_failed"), col("total_frames"))
    },

    // REAL frame sampling over a multi-frame container (JDK GIF codec as
    // the video stand-in): render 8-frame GIFs, decode every 3rd frame
    // only. Promoted to a full oracle (r5): the sampled population is
    // plain SQL and every 8-frame GIF must yield exactly 3 frames at the
    // rendered dims, so n_ok pins to n_docs; mean luma stays gate-side.
    Q("x_media_frames",
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |CAST(count(*) AS BIGINT) AS n_ok FROM documents
        |WHERE doc_id < 100""".stripMargin) { (s, dir) =>
      val docs = par(Tables(s, dir, "documents")).where(col("doc_id") < 100)
        .select(col("doc_id"), col("text"))
      import s.implicits._
      val sampled = docs.as[(Long, String)].mapPartitions(_.map { case (id, text) =>
        val gif = Multimodal.renderGif(id, text, nFrames = 8)
        val frames = Multimodal.sampleFrames(gif, everyK = 3)
        (id, frames.length,
          frames.forall { case (_, w, h, _) => w == 16 && h == 12 },
          frames.map(_._4).sum / math.max(frames.length, 1))
      }).toDF("doc_id", "n_sampled", "dims_ok", "mean_luma")
      Gate(sampled.agg(count(lit(1)).as("n_docs"),
        coalesce(sum(when(col("n_sampled") === 3 && col("dims_ok"), 1L)), lit(0L))
          .as("n_ok"),
        round(avg("mean_luma"), 2).as("avg_luma")),
        col("n_docs") > 0 && col("n_ok") === col("n_docs"),
        "every 8-frame GIF must yield 3 sampled frames at the rendered dims")
        .select(col("n_docs"), col("n_ok"))
    },

    // REAL resize: decode -> Graphics2D scale to 8x8 -> re-encode -> decode
    // again; every row must come back at the target dimensions. Promoted
    // to a full oracle (r5): the resized population is plain SQL and the
    // round-trip contract pins n_found to n_expected.
    Q("x_media_resize",
      """SELECT CAST(count(*) AS BIGINT) AS n_expected,
        |CAST(count(*) AS BIGINT) AS n_found FROM documents
        |WHERE doc_id < 100""".stripMargin) { (s, dir) =>
      val imgs = Multimodal.asImageTable(
        par(Tables(s, dir, "documents")).where(col("doc_id") < 100))
      import s.implicits._
      val roundTrip = imgs.mapPartitions(_.map { r =>
        val dims = Multimodal.resizePng(r.payload, 8, 8)
          .flatMap(Multimodal.decodeImage)
          .map { case (w, h, _) => (w, h) }
        (r.doc_id, dims.exists { case (w, h) => w == 8 && h == 8 })
      }).toDF("doc_id", "dims_ok")
      Gate(roundTrip.agg(count(lit(1)).as("n_expected"),
        coalesce(sum(when(col("dims_ok"), 1L)), lit(0L)).as("n_found")),
        col("n_expected") > 0 && col("n_found") === col("n_expected"),
        "every resize must round-trip decode at the 8x8 target dims")
    },

    // Image near-dup via perceptual dHash: render -> REAL decode -> 9x8
    // difference hash -> the SAME Hamming band-bucket join text simhash
    // uses (Dedup.hammingPairs). 20 injected copies re-encode the source
    // PNG with one corner pixel inverted — same content, one edit, fresh
    // encode pass — and must land within Hamming 4 of their source
    // (deterministic: renderer, codec and hash are all pure functions).
    // This is the multimodal x dedup composition: payload bytes never
    // shuffle (hashes extracted per-partition), candidates confined to
    // 16-bit band buckets.
    Q("x_media_dedup",
      """SELECT CAST(count(*) AS BIGINT) AS n_expected,
        |CAST(0 AS BIGINT) AS n_violations FROM documents
        |WHERE doc_id < 20""".stripMargin) { (s, dir) =>
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      val images = Multimodal.asImageTable(docs)
      val injected = docs.where(col("doc_id") < 20)
        .select(col("doc_id"), col("source"), col("text"))
        .as[(Long, String, String)]
        .mapPartitions(_.map { case (id, src, text) =>
          val png = Multimodal.invertOnePixel(Multimodal.renderPng(id, text))
          Multimodal.MediaRow(id + 1000000L, src, "image/png",
            png.length.toLong, png)
        })
      val nFound = recoveredTwoTier(
        Multimodal.imageHashes(images.unionByName(injected)), maxHamming = 4)
      Seq((20L, Gate.violations(
        Gate.planted(nFound, 18, 20, "image dHash one-pixel-edited copies"))))
        .toDF("n_expected", "n_violations")
    },

    // Audio near-dup — x_media_dedup's audio twin: every doc rendered as
    // a REAL 16-bit PCM WAV, 20 injected near-copies made by a REAL gain
    // change (attenuateWav 0.5 + re-encode), spectral sign-of-band-
    // difference fingerprints (amplitude-invariant by construction), the
    // shared Hamming band join. Recovery is a hard >= 18/20 contract;
    // exact hamming 0 is expected for pure gain changes but the gate
    // allows the band-join's maxHamming=3 tolerance.
    Q("x_audio_dedup",
      """SELECT CAST(count(*) AS BIGINT) AS n_expected,
        |CAST(0 AS BIGINT) AS n_violations FROM documents
        |WHERE doc_id < 20""".stripMargin) { (s, dir) =>
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      val audio = Multimodal.asAudioTable(docs)
      val injected = docs.where(col("doc_id") < 20)
        .select(col("doc_id"), col("source"),
          octet_length(col("text")).cast("long"))
        .as[(Long, String, Long)]
        .mapPartitions(_.map { case (id, src, nChars) =>
          val wav = Multimodal.attenuateWav(
            Multimodal.renderWav(id, nChars), 0.5)
          Multimodal.MediaRow(id + 1000000L, src, "audio/wav",
            wav.length.toLong, wav)
        })
      // Audio NEEDS the two-tier collapse more than any sibling:
      // renderWav keys frequency on docId mod 400, so identical spectral
      // hashes form ~n/400-member classes whose C(g,2) pairs would
      // dominate the raw band join at any replicated corpus; a pure gain
      // change hashes IDENTICALLY (spec-pinned), so the attenuated copies
      // recover via groups.
      val nFound = recoveredTwoTier(
        Multimodal.audioHashes(audio.unionByName(injected)), maxHamming = 3)
      Seq((20L, Gate.violations(
        Gate.planted(nFound, 18, 20, "audio spectral hash attenuated copies"))))
        .toDF("n_expected", "n_violations")
    },

    // Video near-dup — completes the modality matrix (image/audio/video):
    // every doc rendered as a REAL 8-frame GIF (the frame-sequence video
    // stand-in; the JDK has no video codec), 20 injected near-copies made
    // by a REAL decode + one-pixel edit in frame 3 + re-encode
    // (invertOnePixelInFrame), per-frame dHash fingerprints. Two-tier
    // dedup, the ppjoin identity-collapse discipline applied to video:
    // (1) videoExactGroups collapses identical full signatures — the
    // corpus's big duplicate classes whose C(g,2) pairs no banding can
    // split; (2) videoPairs near-joins REPRESENTATIVES only, temporally
    // ALIGNED (>= 6 of 8 frames within 4 bits at the SAME position; a
    // shifted or re-cut sequence misaligns and must NOT match —
    // VideoDedupSpec pins that negative). A copy is recovered when it
    // shares its source's exact group OR its rep near-pairs the
    // source's rep. Hard >= 18/20 contract like the image/audio twins.
    Q("x_video_dedup",
      """SELECT CAST(count(*) AS BIGINT) AS n_expected,
        |CAST(0 AS BIGINT) AS n_violations FROM documents
        |WHERE doc_id < 20""".stripMargin) { (s, dir) =>
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      val videos = Multimodal.asVideoTable(par(docs))
      val injected = docs.where(col("doc_id") < 20)
        .select(col("doc_id"), col("source"), col("text"))
        .as[(Long, String, String)]
        .mapPartitions(_.map { case (id, src, text) =>
          val gif = Multimodal.invertOnePixelInFrame(
            Multimodal.renderGif(id, text, nFrames = 8), frame = 3)
          Multimodal.MediaRow(id + 1000000L, src, "image/gif",
            gif.length.toLong, gif)
        })
      // the hash frame feeds groups, the rep filter and the band join —
      // pin it once or the GIF render+decode re-runs per consumer
      val fh = Multimodal.videoFrameHashes(videos.unionByName(injected))
        .localCheckpoint(true)
      val groups = Multimodal.videoExactGroups(fh).localCheckpoint(true)
      val repHashes = fh.join(
        groups.where(col("doc_id") === col("rep")).select("doc_id"), Seq("doc_id"))
      val near = Multimodal.videoPairs(repHashes, maxHamming = 4, minMatchFrames = 6)
      // per injected pair (a, a+1e6): same exact group, or rep near-pair
      val nFound = recoveredViaGroupOrNear(
        groups.withColumnRenamed("doc_id", "id"),
        near.select(col("v1").as("id1"), col("v2").as("id2")))
      Seq((20L, Gate.violations(
        Gate.planted(nFound, 18, 20, "video frame-hash one-pixel-edited copies"))))
        .toDF("n_expected", "n_violations")
    }
  )
}
