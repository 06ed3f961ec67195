package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Stores, Tables}
import graft.queries.DedupQueries.{dhashWordsSql, hammingSql}

/** Multimodal feature plumbing: container docs fanned out of the
  * corpus, decoded image luma statistics, audio envelopes and trims,
  * video frames and scene cuts.
  */
object MultimodalQueries {

  /** Scale-adaptive fan-out for the documents-scan CPU kernels (codec /
    * WARC-parse mapPartitions stages): at bench SFs the whole documents
    * table packs into ONE scan split, so every heavy per-row kernel
    * would run serially on one core. [[Tables.fanOutForCpu]]
    * repartitions to default parallelism ONLY while the estimated scan
    * task count (metadata listing, memoized) is below it — at 100 TB the
    * scan already carries thousands of tasks and the plan is unchanged.
    * `minRows` gates the cheap kernels (see fanOutForCpu): the ~20
    * us/row codec servings lose to the fan's fixed overhead at 5k rows.
    *
    * Deliberately NOT applied to the [[Stores]] parquet builds
    * except audioShingleFrame: a fanned build writes `parallelism`
    * tiny store files and every CONSUMER then pays the multi-file scan
    * forever — a one-time build saving is the wrong trade against a
    * per-serve tax. audioShingleFrame is the exception: its consumer's
    * pairing stage is heavy enough that the multi-file store scan wins.
    * Measurements: OPTIMIZATION_r21.md, SCALE.md round 21.
    */
  private[queries] def fanDocs(s: SparkSession, dir: String, df: DataFrame,
      minRows: Long = 0L): DataFrame =
    Tables.fanOutForCpu(s, df, dir, "documents", minRows)

  /** (doc_id, n_bytes, content_hash) per document, fanned out for the
    * codec kernels: the input every synthetic-container query decodes
    * from.
    */
  private def containerDocs(s: SparkSession, dir: String): Dataset[(Long, Long, String)] = {
    import s.implicits._
    fanDocs(s, dir, Tables.documents(s, dir)
      .select(col("doc_id"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        md5(col("text")).as("content_hash")), minRows = 20000L)
      .as[(Long, Long, String)]
  }

  /** Per-frame dHash bands of the SCENE-structured synthetic clips
    * (`Y4m.syntheticSceneY4m` through the REAL stream decode) — the
    * store behind `multimodal_video_scene_cuts`, materialized once
    * per corpus version like every fingerprint store.
    */
  private def videoSceneBands(s: SparkSession, dir: String): DataFrame =
    Stores.frame(s, "videoscene", dir, "documents") {
      import s.implicits._
      Tables.documents(s, dir)
        .select(col("doc_id"), md5(col("text")).as("ch"))
        .as[(Long, String)]
        .mapPartitions { it =>
          it.flatMap { case (id, ch) =>
            val v = graft.operators.Y4m.decodeY4m(
              graft.operators.Y4m.syntheticSceneY4m(ch))
              .getOrElse(sys.error(s"doc $id: synthetic scene Y4M failed to decode"))
            graft.operators.Multimodal.frameDhashRows(id, v.frames)
          }
        }
        .toDF("doc_id", "f", "b0", "b1", "b2", "b3")
    }

  val entries: Seq[NamedQuery] = Seq(

    // Multimodal metadata through the REAL decoder: each doc gets a
    // deterministic multi-frame P5 container (construction parameters =
    // the md5 arithmetic the DuckDB oracle replays), and the reported
    // width/height/n_frames are what Multimodal.decodePgmFrames reads
    // BACK from the encoded bytes — an encode->decode round trip per
    // row, partition-batched (the mapPartitions shape of the whole
    // Multimodal family), so the hash gate fails if the codec misparses
    // a header, miscounts a frame boundary, or drops a trailing frame.
    // Decoded-raster statistics through the REAL PGM codec — the
    // "compute on pixels, not on bytes" rung of the multimodal family:
    // the container round-trips through encode/decode per row
    // (mapPartitions, codec-per-partition shape) and the stats — pixel
    // count, luma sum, dark-pixel count — come from the DECODED
    // raster. All integers, so the oracle replays them exactly from
    // the synthetic construction (pixel i = hash char i mod 32; each
    // hash position covers ((w*h - j) div 32) + 1 raster cells) and
    // the hash gate covers the decoder output end to end.
    NamedQuery("multimodal_luma_stats", (s, dir) => {
      import s.implicits._
      containerDocs(s, dir)
        .mapPartitions { it =>
          it.map { case (id, nBytes, hash) =>
            val payload = graft.operators.Multimodal.syntheticPgmContainer(hash, nBytes)
            val f = graft.operators.Multimodal.decodePgmFrames(payload).head
            var sum = 0L; var dark = 0L; var i = 0
            while (i < f.pixels.length) {
              val v = f.pixels(i) & 0xff
              sum += v
              if (v < 64) dark += 1
              i += 1
            }
            (id, f.pixels.length.toLong, sum, dark)
          }
        }
        .toDF("doc_id", "n_px", "sum_luma", "n_dark")
        .orderBy(col("doc_id"))
    },
      // construction replay on the hash chars: pixel i = hash[i % 32],
      // hash position j (1-based) covers ((w*h - j) // 32) + 1 cells
      "WITH t AS (SELECT doc_id, md5(text) hs, " +
      "16 + (ascii(substr(md5(text), 1, 1)) % 8) * 4 AS wd, " +
      "16 + (ascii(substr(md5(text), 2, 1)) % 8) * 4 AS ht FROM documents) " +
      "SELECT doc_id, CAST(wd * ht AS BIGINT) AS n_px, " +
      "CAST(list_sum(list_transform(generate_series(1, 32), " +
      "j -> ascii(substr(hs, j, 1)) * ((wd * ht - j) // 32 + 1))) AS BIGINT) AS sum_luma, " +
      "CAST(list_sum(list_transform(generate_series(1, 32), " +
      "j -> CASE WHEN ascii(substr(hs, j, 1)) < 64 THEN (wd * ht - j) // 32 + 1 ELSE 0 END)) AS BIGINT) AS n_dark " +
      "FROM t ORDER BY doc_id"),

    NamedQuery("multimodal_features", (s, dir) => {
      import s.implicits._
      containerDocs(s, dir)
        .mapPartitions { it =>
          // codec init would happen here, once per partition
          it.map { case (id, nBytes, hash) =>
            val payload = graft.operators.Multimodal.syntheticPgmContainer(hash, nBytes)
            val frames = graft.operators.Multimodal.decodePgmFrames(payload)
            require(frames.nonEmpty, s"doc $id: synthetic container failed to decode")
            (id, nBytes, hash, frames.head.width, frames.head.height, frames.length)
          }
        }
        .toDF("doc_id", "n_bytes", "content_hash", "width", "height", "n_frames")
        .orderBy(col("doc_id"))
    },
      "SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, md5(text) AS content_hash, " +
      "CAST(16 + (ascii(substr(md5(text), 1, 1)) % 8) * 4 AS INT) AS width, " +
      "CAST(16 + (ascii(substr(md5(text), 2, 1)) % 8) * 4 AS INT) AS height, " +
      "CAST(octet_length(encode(text)) % 7 + 1 AS INT) AS n_frames " +
      "FROM documents ORDER BY doc_id"),

    // Audio twin of multimodal_features: each doc gets a deterministic
    // concatenated-WAV container (clip parameters = the md5 arithmetic
    // the DuckDB oracle replays), and the reported rate / channels /
    // frames / clip count / total duration are what
    // Multimodal.decodeWavFrames reads BACK from the encoded bytes — so
    // the hash gate fails if the RIFF chunk walk, fmt validation, or
    // clip-boundary detection misparses anything.
    NamedQuery("multimodal_audio", (s, dir) => {
      import s.implicits._
      containerDocs(s, dir)
        .mapPartitions { it =>
          // codec init would happen here, once per partition
          it.map { case (id, nBytes, hash) =>
            val payload = graft.operators.Multimodal.syntheticWavContainer(hash, nBytes)
            val clips = graft.operators.Multimodal.decodeWavFrames(payload)
            require(clips.nonEmpty, s"doc $id: synthetic WAV container failed to decode")
            (id, nBytes, hash, clips.head.sampleRate, clips.head.channels,
              clips.head.frames, clips.length, clips.map(_.durationMs).sum)
          }
        }
        .toDF("doc_id", "n_bytes", "content_hash", "sample_rate", "channels",
          "clip_frames", "n_clips", "total_ms")
        .orderBy(col("doc_id"))
    },
      // replays syntheticWavContainer's construction arithmetic; the
      // Spark side reports what the REAL decoder read back, so equality
      // means the decode inverted the encode exactly
      "WITH p AS (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, " +
      "md5(text) AS content_hash, " +
      "8000 * (1 + ascii(substr(md5(text), 1, 1)) % 3) AS rate, " +
      "200 + (ascii(substr(md5(text), 2, 1)) % 16) * 25 AS frames " +
      "FROM documents) " +
      "SELECT doc_id, n_bytes, content_hash, CAST(rate AS INT) AS sample_rate, " +
      "CAST(1 + n_bytes % 2 AS INT) AS channels, " +
      "CAST(frames AS INT) AS clip_frames, " +
      "CAST(n_bytes % 5 + 1 AS INT) AS n_clips, " +
      "CAST((n_bytes % 5 + 1) * ((frames * 1000) // rate) AS BIGINT) AS total_ms " +
      "FROM p ORDER BY doc_id"),

    // Silence-trim curation through the REAL WAV codec — the act-on-
    // the-signal step of audio dataset prep (dead air carries no
    // training signal but costs storage and GPU-hours; every speech
    // corpus pipeline trims it before feature extraction). Each doc's
    // synthetic clip carries GENUINE leading/trailing silence (whole
    // 16-sample windows, from the doc hash — the construction the
    // oracle replays); the operator decodes the real bytes, cuts the
    // maximal sub-threshold window runs ([[Multimodal.trimSilence]]),
    // and reports the trim accounting. Partition-batched codec kernel
    // (mapPartitions — codec init once per partition), output is one
    // row per doc; at 100 TB this is the same map-side shape as the
    // fingerprint builders.
    NamedQuery("multimodal_audio_trim", (s, dir) => {
      import s.implicits._
      fanDocs(s, dir, Tables.documents(s, dir)
        .select(col("doc_id"), md5(col("text")).as("content_hash")),
        minRows = 20000L)
        .as[(Long, String)]
        .mapPartitions { it =>
          it.map { case (id, hash) =>
            val payload = graft.operators.Multimodal.syntheticWavWithSilence(hash)
            val clips = graft.operators.Multimodal.decodeWavFrames(payload)
            require(clips.length == 1, s"doc $id: synthetic WAV failed to decode")
            val a = clips.head
            val (lead, tail, kept) = graft.operators.Multimodal.trimSilence(a)
            (id, hash, a.samples.length.toLong, lead.toLong, tail.toLong,
              kept.samples.length.toLong, kept.durationMs)
          }
        }
        .toDF("doc_id", "content_hash", "n_samples", "lead_trimmed",
          "tail_trimmed", "n_kept", "kept_ms")
        .orderBy(col("doc_id"))
    },
      // replays syntheticWavWithSilence's construction arithmetic
      // (silent runs are whole windows, the loud middle clears the
      // threshold by construction, so the codec-side trim lands
      // exactly on the planted boundaries); `lead` is a DuckDB
      // keyword -> ld/tl aliases
      "WITH p AS (SELECT doc_id, md5(text) h, " +
      "256 + (ascii(substr(md5(text), 2, 1)) % 8) * 32 frames, " +
      "(ascii(substr(md5(text), 3, 1)) % 4) * 16 ld, " +
      "(ascii(substr(md5(text), 4, 1)) % 4) * 16 tl " +
      "FROM documents) " +
      "SELECT doc_id, h AS content_hash, CAST(frames AS BIGINT) AS n_samples, " +
      "CAST(ld AS BIGINT) AS lead_trimmed, CAST(tl AS BIGINT) AS tail_trimmed, " +
      "CAST(frames - ld - tl AS BIGINT) AS n_kept, " +
      "CAST((frames - ld - tl) * 1000 // 8000 AS BIGINT) AS kept_ms " +
      "FROM p ORDER BY doc_id"),

    // Video twin of multimodal_features/_audio: each doc gets a
    // deterministic YUV4MPEG2 stream (parameters AND the luma fill =
    // the md5 arithmetic the DuckDB oracle replays), and the reported
    // dims / rate / chroma mode / frame count / duration / corner
    // pixels are what Y4m.decodeY4m reads BACK from the encoded bytes.
    // y_first is frame 0's (0,0) pixel and y_last is the LAST frame's
    // (w-1,h-1) pixel — a mis-sized chroma plane shifts every
    // subsequent frame's offset, so y_last catches exactly the class
    // of bug (plane-size arithmetic per chroma tag) that header-only
    // reporting would miss.
    // Temporal SCENE-CUT detection through the REAL Y4M stream decode
    // — the keyframe-selection primitive of video training-data
    // pipelines (sample one frame per scene instead of per stride):
    // per clip, consecutive-frame dHash hamming over the decoded luma
    // plane; a cut is ANY nonzero delta, because the scene fixture's
    // scenes are STATIC (frames within a scene are pixel-identical —
    // production tunes this threshold against motion). The fixture
    // plants 2..3 scenes per clip deterministically
    // (Y4m.syntheticSceneY4m — scene id = (f*nScenes) div nFrames),
    // so n_cuts must read exactly nScenes - 1 (invariant-pinned); the
    // oracle replays the construction + dHash algebra + lag hamming
    // with no codec (the dedup_video_phash convention: the Spark side
    // must agree THROUGH the real decoder). Bands come from the
    // memoized per-frame store; the query itself is one window on the
    // store's own doc key + a per-doc rollup.
    NamedQuery("multimodal_video_scene_cuts", (s, dir) => {
      val w = Window.partitionBy(col("doc_id")).orderBy(col("f"))
      videoSceneBands(s, dir)
        .withColumn("pb0", lag(col("b0"), 1).over(w))
        .withColumn("pb1", lag(col("b1"), 1).over(w))
        .withColumn("pb2", lag(col("b2"), 1).over(w))
        .withColumn("pb3", lag(col("b3"), 1).over(w))
        .withColumn("hm", when(col("pb0").isNotNull,
          expr("bit_count(b0 ^ pb0) + bit_count(b1 ^ pb1) + " +
            "bit_count(b2 ^ pb2) + bit_count(b3 ^ pb3)")))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_frames"),
          sum(when(col("hm") >= 1, 1L).otherwise(0L)).as("n_cuts"),
          sum(when(col("hm") >= 1, col("f").cast("long")).otherwise(0L))
            .as("cut_pos_sum"))
        .orderBy(col("doc_id"))
    },
      // scene-fill construction replay (scene = (f*ns)//nf), the
      // dedup_video_phash dHash grid/band algebra, lag hamming per
      // doc, any-nonzero cut rule (static scenes)
      "WITH vsd AS (SELECT doc_id, md5(text) ch FROM documents), " +
      "vsg AS (SELECT doc_id, ch, 16 + (ascii(substr(ch, 1, 1)) % 8) * 4 AS w, " +
      "16 + (ascii(substr(ch, 2, 1)) % 8) * 4 AS h, " +
      "6 + (ascii(substr(ch, 4, 1)) % 4) AS nf, " +
      "2 + (ascii(substr(ch, 5, 1)) % 2) AS ns FROM vsd), " +
      "vsf AS (SELECT doc_id, ch, w, h, f, (f * ns) // nf AS scene FROM vsg " +
      "CROSS JOIN (SELECT unnest(generate_series(0, 8)) f) WHERE f < nf), " +
      "vss AS (SELECT doc_id, f, gy, gx, " +
      "(ascii(substr(ch, ((idx + scene) % 32) + 1, 1)) * 31 + idx * 7 + scene * 13) % 256 AS pix " +
      "FROM (SELECT doc_id, ch, f, scene, gy, gx, " +
      "((gy * h) // 8) * w + ((gx * w) // 9) AS idx FROM vsf " +
      "CROSS JOIN (SELECT unnest(generate_series(0, 7)) gy) " +
      "CROSS JOIN (SELECT unnest(generate_series(0, 8)) gx))), " +
      "vsb AS (SELECT l.doc_id, l.f, l.gy, l.gx, " +
      "CASE WHEN l.pix > r.pix THEN 1 ELSE 0 END bt " +
      "FROM vss l JOIN vss r ON l.doc_id = r.doc_id AND l.f = r.f " +
      "AND l.gy = r.gy AND r.gx = l.gx + 1 WHERE l.gx < 8), " +
      "vsw AS (SELECT doc_id, f, " +
      s"$dhashWordsSql " +
      "FROM vsb GROUP BY doc_id, f), " +
      "vsl AS (SELECT doc_id, f, b0, b1, b2, b3, " +
      "lag(b0) OVER dw pb0, lag(b1) OVER dw pb1, " +
      "lag(b2) OVER dw pb2, lag(b3) OVER dw pb3 FROM vsw " +
      "WINDOW dw AS (PARTITION BY doc_id ORDER BY f)), " +
      "vsh AS (SELECT doc_id, f, CASE WHEN pb0 IS NULL THEN NULL ELSE " +
      s"${hammingSql("", "p")} END hm FROM vsl) " +
      "SELECT doc_id, COUNT(*) AS n_frames, " +
      "CAST(SUM(CASE WHEN hm >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts, " +
      "CAST(SUM(CASE WHEN hm >= 1 THEN f ELSE 0 END) AS BIGINT) AS cut_pos_sum " +
      "FROM vsh GROUP BY doc_id ORDER BY doc_id"),

    NamedQuery("multimodal_video", (s, dir) => {
      import s.implicits._
      containerDocs(s, dir)
        .mapPartitions { it =>
          // codec init would happen here, once per partition
          it.map { case (id, nBytes, hash) =>
            val payload = graft.operators.Y4m.syntheticY4mContainer(hash, nBytes)
            val v = graft.operators.Y4m.decodeY4m(payload).getOrElse(
              sys.error(s"doc $id: synthetic Y4M container failed to decode"))
            require(v.frames.nonEmpty, s"doc $id: zero frames decoded")
            (id, nBytes, hash, v.width, v.height, v.fpsNum, v.fpsDen,
              v.chroma, v.frames.length, v.durationMs,
              v.frames.head.pixel(0, 0),
              v.frames.last.pixel(v.width - 1, v.height - 1))
          }
        }
        .toDF("doc_id", "n_bytes", "content_hash", "width", "height",
          "fps_num", "fps_den", "chroma", "n_frames", "total_ms",
          "y_first", "y_last")
        .orderBy(col("doc_id"))
    },
      // replays syntheticY4mContainer's construction arithmetic — incl.
      // the luma fill for the two reported corner pixels; the Spark
      // side reports what the REAL y4m parser read back, so equality
      // means header parse, chroma-plane sizing, and the frame walk
      // all inverted the encode exactly
      "WITH p AS (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, " +
      "md5(text) AS content_hash, " +
      "16 + (ascii(substr(md5(text), 1, 1)) % 8) * 4 AS w, " +
      "16 + (ascii(substr(md5(text), 2, 1)) % 8) * 4 AS h, " +
      "24 + (ascii(substr(md5(text), 3, 1)) % 3) * 6 AS fn, " +
      "1 + CAST(octet_length(encode(text)) % 2 AS INT) AS fd, " +
      "CAST(octet_length(encode(text)) % 6 + 1 AS INT) AS nf " +
      "FROM documents) " +
      "SELECT doc_id, n_bytes, content_hash, " +
      "CAST(w AS INT) AS width, CAST(h AS INT) AS height, " +
      "CAST(fn AS INT) AS fps_num, CAST(fd AS INT) AS fps_den, " +
      "CASE CAST(n_bytes % 4 AS INT) WHEN 0 THEN '420' WHEN 1 THEN '422' " +
      "WHEN 2 THEN '444' ELSE 'mono' END AS chroma, " +
      "nf AS n_frames, " +
      "CAST(nf * 1000 * fd // fn AS BIGINT) AS total_ms, " +
      "CAST((ascii(substr(content_hash, 1, 1)) * 31) % 256 AS INT) AS y_first, " +
      "CAST((ascii(substr(content_hash, CAST((w * h - 1 + nf - 1) % 32 AS INT) + 1, 1)) * 31 " +
      "+ (w * h - 1) * 7 + (nf - 1) * 13) % 256 AS INT) AS y_last " +
      "FROM p ORDER BY doc_id")
  )
}
