package graft
package queries

import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal

import QueryInputs._

/** Multimodal plumbing (beyond-reference): image, audio and video
  * decode and feature extraction — query prefix `mm`. */
private[graft] object MultimodalQueries {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("mm1_media_meta", (s, dir) =>
      Multimodal
        .asMediaTable(spreadTbl(s, dir, "documents"), "doc_id", "text")
        .select("media_id", "media_type", "n_bytes"), _ =>
      """SELECT doc_id AS media_id, 'image' AS media_type,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |FROM documents""".stripMargin),

    // Real javax.imageio decode over synthesized PNG payloads: the
    // codec round-trip is exact (lossless PNG, uniform fill), so
    // dimensions and channel means are oracle-reproducible from the
    // id arithmetic in ImageIoCodec.synthPng.
    QuerySpec("mm2_media_features", (s, dir) => {
      val media = Multimodal.asSyntheticImageTable(s, spreadTbl(s, dir, "documents"), "doc_id")
      Multimodal
        .extractImageFeatures(s, media)
        .select("media_id", "media_type", "decoded", "width", "height",
          "mean_r", "mean_g", "mean_b")
    }, _ =>
      // Mirrors ImageIoCodec.synthPng's id arithmetic: the Spark side
      // decodes real PNG bytes; the oracle recomputes what the decode
      // must yield.
      """SELECT doc_id AS media_id, 'image' AS media_type, TRUE AS decoded,
        |  CAST(16 + doc_id % 16 AS INT) AS width,
        |  CAST(16 + (doc_id // 16) % 16 AS INT) AS height,
        |  CAST(doc_id % 256 AS DOUBLE) AS mean_r,
        |  CAST((doc_id // 256) % 256 AS DOUBLE) AS mean_g,
        |  CAST((doc_id // 65536) % 256 AS DOUBLE) AS mean_b
        |FROM documents""".stripMargin),

    // Real codec thumbnail: decode → rescale → re-encode → decode; a
    // solid-fill source keeps the rescale exact, so the round-trip is
    // oracle-checkable too.
    QuerySpec("mm3_thumbnail", (s, dir) => {
      val media = Multimodal.asSyntheticImageTable(s, spreadTbl(s, dir, "documents"), "doc_id")
      val thumbs = Multimodal.resizeImages(s, media, 20, 12)
      Multimodal
        .extractImageFeatures(s, thumbs)
        .select("media_id", "decoded", "width", "height",
          "mean_r", "mean_g", "mean_b")
    }, _ =>
      """SELECT doc_id AS media_id, TRUE AS decoded,
        |  CAST(20 AS INT) AS width, CAST(12 AS INT) AS height,
        |  CAST(doc_id % 256 AS DOUBLE) AS mean_r,
        |  CAST((doc_id // 256) % 256 AS DOUBLE) AS mean_g,
        |  CAST((doc_id // 65536) % 256 AS DOUBLE) AS mean_b
        |FROM documents""".stripMargin),

    // Real javax.sound.sampled decode over synthesized WAV payloads:
    // square-wave PCM makes RMS/peak exact integers, so every feature
    // is oracle-reproducible from the id arithmetic in
    // WavCodec.synthWav.
    QuerySpec("mm4_audio_features", (s, dir) => {
      val media = Multimodal.asSyntheticAudioTable(s, spreadTbl(s, dir, "documents"), "doc_id")
      Multimodal
        .extractAudioFeatures(s, media)
        .select("media_id", "media_type", "decoded", "sample_rate",
          "channels", "bit_depth", "n_frames", "duration_ms", "rms", "peak")
    }, _ =>
      // Mirrors WavCodec.synthWav's id arithmetic: the Spark side decodes
      // real RIFF/WAV bytes; the oracle recomputes what the decode must
      // yield (square wave → rms = peak = amplitude exactly).
      """SELECT doc_id AS media_id, 'audio' AS media_type, TRUE AS decoded,
        |  CAST(8000 AS INT) AS sample_rate,
        |  CAST(1 + doc_id % 2 AS INT) AS channels,
        |  CAST(16 AS INT) AS bit_depth,
        |  CAST(400 + 2 * (doc_id % 50) AS BIGINT) AS n_frames,
        |  CAST(400 + 2 * (doc_id % 50) AS DOUBLE) / 8 AS duration_ms,
        |  CAST(((doc_id % 1000) + 1) * 16 AS DOUBLE) AS rms,
        |  CAST(((doc_id % 1000) + 1) * 16 AS INT) AS peak
        |FROM documents""".stripMargin),

    // Real audio resample: decode → decimate by 2 → re-encode →
    // decode. Keeping even frames of the ±amp square wave leaves a
    // constant +amp signal, so RMS and peak stay exactly amplitude at
    // half the rate and frame count.
    QuerySpec("mm6_audio_resample", (s, dir) => {
      val media = Multimodal.asSyntheticAudioTable(s, spreadTbl(s, dir, "documents"), "doc_id")
      val resampled = Multimodal.resampleAudio(s, media, factor = 2)
      Multimodal
        .extractAudioFeatures(s, resampled)
        .select("media_id", "decoded", "sample_rate", "channels",
          "n_frames", "duration_ms", "rms", "peak")
    }, _ =>
      // Half the rate and frames of mm4; duration unchanged
      // ((n/2) / 4 kHz = n / 8 kHz); constant-signal RMS = peak = amp.
      """SELECT doc_id AS media_id, TRUE AS decoded,
        |  CAST(4000 AS INT) AS sample_rate,
        |  CAST(1 + doc_id % 2 AS INT) AS channels,
        |  CAST(200 + doc_id % 50 AS BIGINT) AS n_frames,
        |  CAST(200 + doc_id % 50 AS DOUBLE) / 4 AS duration_ms,
        |  CAST(((doc_id % 1000) + 1) * 16 AS DOUBLE) AS rms,
        |  CAST(((doc_id % 1000) + 1) * 16 AS INT) AS peak
        |FROM documents""".stripMargin),

    // Real multi-frame GIF demux + decode, keep every 2nd frame — one
    // row per sampled frame; geometry and per-frame gray level are
    // oracle-reproducible from the id arithmetic in
    // GifFrameCodec.synthGif.
    QuerySpec("mm5_frame_sample", (s, dir) => {
      val media = Multimodal.asSyntheticVideoTable(s, spreadTbl(s, dir, "documents"), "doc_id")
      Multimodal
        .sampleFrameFeatures(s, media, every = 2)
        .select("media_id", "frame_no", "decoded", "width", "height",
          "mean_r", "mean_g", "mean_b")
    }, _ =>
      // Mirrors GifFrameCodec.synthGif's id arithmetic; the sampled
      // frame numbers are 0, 2, ... below n_frames = 4 + id % 4.
      """SELECT doc_id AS media_id, CAST(u.f AS INT) AS frame_no,
        |  TRUE AS decoded,
        |  CAST(8 + doc_id % 8 AS INT) AS width,
        |  CAST(8 + (doc_id // 8) % 8 AS INT) AS height,
        |  CAST((doc_id + 37 * u.f) % 256 AS DOUBLE) AS mean_r,
        |  CAST((doc_id + 37 * u.f) % 256 AS DOUBLE) AS mean_g,
        |  CAST((doc_id + 37 * u.f) % 256 AS DOUBLE) AS mean_b
        |FROM documents, UNNEST(range(0, CAST(4 + doc_id % 4 AS BIGINT), 2)) AS u(f)""".stripMargin),

    // Real VIDEO frame sampling: RIFF-AVI demux + per-frame JPEG
    // decode (AviMjpegFrameCodec), keep every 2nd frame. Geometry and
    // frame count are exact (container + JPEG headers) and oracle-
    // replayed from AviMjpeg.synthAvi's id arithmetic; channel means
    // are deliberately NOT in the compared output — JPEG is lossy, so
    // their tolerance contract lives in MultimodalSpec instead.
    QuerySpec("mm7_avi_frame_sample", (s, dir) => {
      val media = Multimodal.asSyntheticAviTable(s, spreadTbl(s, dir, "documents"), "doc_id")
      Multimodal
        .sampleFrameFeatures(s, media, every = 2)
        .select("media_id", "frame_no", "decoded", "width", "height")
    }, _ =>
      // Mirrors AviMjpeg.synthAvi's id arithmetic (geometry/frame count
      // are container-exact; lossy JPEG means are spec-checked, not
      // oracle-compared).
      """SELECT doc_id AS media_id, CAST(u.f AS INT) AS frame_no,
        |  TRUE AS decoded,
        |  CAST(16 + doc_id % 8 AS INT) AS width,
        |  CAST(16 + (doc_id // 8) % 8 AS INT) AS height
        |FROM documents, UNNEST(range(0, CAST(3 + doc_id % 4 AS BIGINT), 2)) AS u(f)""".stripMargin),
  )
}
