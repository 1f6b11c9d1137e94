package graft
package driver

import graft.driver.Fixtures._
import graft.rules._
import org.apache.spark.sql.functions._

/** Driver queries of the media family: image, audio and video fingerprints
 * and decoding. */
object MediaQueries {
  val all: Seq[DriverQuery] = Seq(
    DriverQuery("q_image_phash", (s, dir) => {
      // rows-only (DCT arithmetic is not SQL-expressible; PhashSpec pins the
      // hash by hand-checked invariances): perceptual-hash image dedup over
      // a planted corpus — resized and JPEG-recompressed copies must land
      // within the Hamming radius through the 8-band join, no all-pairs
      val media = imageDupFixture(s, dir)
      graft.pipeline.Phash.nearDups(media, col("id"), col("data"), maxHamming = 12)
    },
      RowsOnly("the image DCT hash is not SQL-expressible", "graft.pipeline.PhashSpec")),
    DriverQuery("q_audio_phash", (s, dir) => {
      // rows-only (Goertzel/HK arithmetic is not SQL-expressible;
      // AudioPhashSpec pins the invariances): perceptual audio dedup —
      // resampled (12 kHz) and 8-bit-AIFF re-encoded copies of tonal clips
      // collapse to their originals through the same 8-band Hamming join
      // the image tier uses, no all-pairs
      val media = audioDupFixture(s, dir)
      graft.pipeline.AudioPhash.nearDups(media, col("id"), col("data"), maxHamming = 12)
    },
      RowsOnly("the audio fingerprint is not SQL-expressible", "graft.pipeline.AudioPhashSpec")),
    DriverQuery("q_multimodal_features", (s, dir) => {
      // oracle=sql (expected output computed directly): the
      // kind assignment and decode outcome are determined per row — image
      // (ImageIO) and audio (AudioSystem WAV) REAL decodes must succeed,
      // video honestly fails (no JDK codec; container parsing is
      // q_video_meta's job), feature dim is fixed at 16
      val media = graft.pipeline.Multimodal.mediaFromText(docs(s, dir), "doc_id", "text")
      graft.pipeline.Multimodal.extractFeatures(media).toDF()
        .select(col("media_id"), col("kind"), col("decodedOk"),
          size(col("feature")).as("feat_dim"))
    },
      // per-row outcome fully determined: real image/audio decodes must
      // succeed, video must honestly fail
      Sql("""SELECT doc_id AS media_id,
        |       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |            ELSE 'video' END AS kind,
        |       doc_id % 3 <> 2 AS decodedOk,
        |       CAST(16 AS INT) AS feat_dim
        |FROM documents""".stripMargin)),
    DriverQuery("q_video_meta", (s, dir) => {
      // oracle=sql (the q_url_canonicalize pattern — expected
      // output computed directly): the synthetic containers are built from
      // fixed parameters, so EVERY field of the box walk + sample-table
      // keyframe extraction is determined (isom/2000ms/64x48/avc1, 2 sync
      // samples of 16 B each); any parser drift hash-mismatches.
      // Mp4Spec additionally pins the parser against hand-built containers
      val media = graft.pipeline.Multimodal.mediaFromText(docs(s, dir), "doc_id", "text")
      val meta = graft.pipeline.Multimodal.extractVideoMeta(media)
      val frames = graft.pipeline.Multimodal.sampleKeyframes(media).toDF()
        .groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_keyframes"),
          sum(length(col("frame"))).as("keyframe_bytes"))
      meta.join(frames, Seq("media_id"), "left")
        .select(col("media_id"), col("parsed_ok"), col("brand"),
          col("duration_ms"), col("width"), col("height"), col("video_codec"),
          coalesce(col("n_keyframes"), lit(0L)).as("n_keyframes"),
          coalesce(col("keyframe_bytes"), lit(0L)).as("keyframe_bytes"))
    },
      // every video row's parse result is determined by the fixed
      // synthesis parameters — the whole box walk is pinned field by field
      Sql("""SELECT doc_id AS media_id, true AS parsed_ok, 'isom' AS brand,
        |       CAST(2000 AS BIGINT) AS duration_ms,
        |       CAST(64 AS INT) AS width, CAST(48 AS INT) AS height,
        |       'avc1' AS video_codec, CAST(2 AS BIGINT) AS n_keyframes,
        |       CAST(32 AS BIGINT) AS keyframe_bytes
        |FROM documents WHERE doc_id % 3 = 2""".stripMargin)),
    DriverQuery("q_video_frames", (s, dir) => {
      // REAL video pixel decode for the codec-free container class
      // (ADR-0002): MJPEG-in-MP4 synthesized per doc
      // (seed = doc_id, 3 solid-color JPEG frames), decoded to pixels
      // with ImageIO through the container's sample tables. The planted
      // channels are md5-derived multiples of 4 in 96..156, so a uniform
      // JPEG block round-trips EXACTLY and the oracle recomputes every
      // mean from the same md5 hex chars — the decode is hash-gated, not
      // rows-only
      val spark2 = s
      import spark2.implicits._
      val media = docs(s, dir).where(col("doc_id") % 3 === 2)
        .select(col("doc_id")).as[Long].map { id =>
          graft.pipeline.Multimodal.MediaRow(id, "video",
            graft.pipeline.Multimodal.syntheticMjpegMp4(id, nFrames = 3),
            graft.pipeline.Multimodal.MediaMeta(16, 16, "video/mp4", 120L))
        }
      graft.pipeline.Multimodal.decodeFrames(media)
    },
      // q_video_frames: the MJPEG pixel decode is fully determined — the
      // planted gray (a multiple of 4 in 96..156) is pure-DC luminance
      // that round-trips exactly at quality 1.0, so the oracle recomputes
      // every decoded mean from the same md5 hex char the synthesizer used
      Sql("""WITH f(frame_idx) AS (VALUES (1), (2), (3)),
        |v AS (SELECT doc_id, frame_idx,
        |             CAST(96 + CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR) || '#f' || CAST(frame_idx - 1 AS VARCHAR)), 2, 1)) AS INT) * 4 AS DOUBLE) AS gray
        |      FROM documents CROSS JOIN f WHERE doc_id % 3 = 2)
        |SELECT doc_id AS media_id, CAST(frame_idx AS INT) AS frame_idx,
        |       true AS decoded_ok,
        |       CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
        |       gray AS mean_r, gray AS mean_g, gray AS mean_b
        |FROM v""".stripMargin)))
}
