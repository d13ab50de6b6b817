package graft.ops

import graft.{Q, U}
import graft.multimodal.{Ppm, Wav, Y4m}
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (north star, `BASELINE.json:6`): image/audio/
  * video are opaque `binary` payload columns with typed metadata. The DECODE
  * steps are real (bounded) codecs — binary PPM/P6 for images
  * ([[graft.multimodal.Ppm]]) and RIFF/WAVE PCM16 for audio
  * ([[graft.multimodal.Wav]]) — so the whole path is payload bytes → header
  * parse → pixel/sample matrix → typed features, with integer statistics
  * the DuckDB oracle verifies end to end. (JPEG/PNG/MP3 libs aren't in the
  * container; P6 and PCM WAV are the real formats that fit that
  * constraint.)
  *
  * Payloads are synthesized deterministically per document since the driver
  * testdata has no binary column — but they are then written to a parquet
  * BINARY column and READ BACK before any decode runs ([[MediaStore]]), so
  * the decode queries exercise the true storage path: column-pruned parquet
  * binary scan → header parse → pixel/sample matrix → typed features, one
  * decoder context per partition. At 100 TB only the synthesize step
  * disappears; the read side is already the production plan.
  */
object MultimodalOps {

  /** Deterministic bounded test image for `doc_id`: 8 x (1 + n_chars % 8)
    * RGB, pixel byte i = (doc_id*31 + i*7) mod 256 — closed-form integer
    * arithmetic both engines reproduce exactly.
    */
  def syntheticImage(docId: Long, nChars: Long): Ppm.Image = {
    val w = 8
    val h = 1 + (nChars % 8).toInt
    val px = new Array[Byte](w * h * 3)
    var i = 0
    while (i < px.length) {
      px(i) = ((docId * 31 + i * 7) % 256).toByte
      i += 1
    }
    Ppm.Image(w, h, 255, px)
  }

  /** Deterministic bounded test clip for `doc_id`: 64 + n_chars % 64 mono
    * PCM16 samples at 16 kHz, sample i = (doc_id*131 + i*7919) mod 65536
    * - 32768 — the large prime step wraps the 16-bit range every ~8
    * samples, so sign crossings are frequent and the zero-crossing stat is
    * non-degenerate.
    */
  def syntheticAudio(docId: Long, nChars: Long): Wav.Audio = {
    val n = (64 + nChars % 64).toInt
    val s = new Array[Short](n)
    var i = 0
    while (i < n) {
      s(i) = (((docId * 131 + i * 7919L) % 65536) - 32768).toShort
      i += 1
    }
    Wav.Audio(16000, s)
  }

  /** Deterministic bounded test clip for `doc_id`: 1 + n_chars % 5 frames
    * of 4x4 C444 YUV at 25 fps, byte i of frame f =
    * (doc_id*37 + f*101 + i*13) mod 256 — frame-dependent, so the motion
    * (frame-differencing) statistic is non-degenerate.
    */
  def syntheticVideo(docId: Long, nChars: Long): Y4m.Video = {
    val nf = (1 + nChars % 5).toInt
    val wh = 4
    val frames = Vector.tabulate(nf) { f =>
      Array.tabulate(3 * wh * wh)(i =>
        ((docId * 37 + f * 101 + i * 13) % 256).toByte)
    }
    Y4m.Video(wh, wh, 25, 1, frames)
  }

  /** n_frames metadata derived deterministically from doc length. */
  private val nFrames = (col("n_chars") % 30 + 1).cast("long")

  /** Parquet-backed media payload store: one row per document with the three
    * encoded payloads as parquet BINARY columns (`img` P6, `wav` RIFF/WAVE,
    * `y4m` YUV4MPEG2). Materialized ONCE per (session, testdata dir) under
    * the JVM temp dir (the path is kept in [[graft.MatCache]]), then every
    * decode query READS THE BINARY COLUMN BACK FROM PARQUET before
    * decoding — the actual storage path a production
    * media pipeline uses (payload bytes live in parquet; a decode job scans
    * the binary column and parses). At 100 TB the synthesize+write step
    * doesn't exist (the payloads already sit in parquet); here it stands in
    * for ingest, and the read side — column-pruned binary scan, one decoder
    * per partition, map-side stats — is exactly the production plan.
    */
  object MediaStore {
    private def storeDir(d: String): String = {
      val abs = new java.io.File(d).getAbsolutePath
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(abs.getBytes("UTF-8")).map("%02x".format(_)).mkString
      s"${sys.props("java.io.tmpdir")}/graft-media-${md.take(12)}"
    }

    def payloads(s: org.apache.spark.sql.SparkSession, d: String)
        : org.apache.spark.sql.DataFrame = {
      import s.implicits._
      val path = graft.MatCache.value(s, s"mediastore:$d") {
        val dir = storeDir(d)
        // overwrite on first use per session: the input corpus may be
        // regenerated between runs, so a stale store must never survive a
        // corpus regen (the r8 failure class)
        U.documents(s, d)
          .select(col("doc_id"), col("n_chars"))
          .as[(Long, Long)]
          .map { case (id, n) =>
            (id,
              Ppm.encode(syntheticImage(id, n)),
              Wav.encode(syntheticAudio(id, n)),
              Y4m.encode(syntheticVideo(id, n)))
          }
          .toDF("doc_id", "img", "wav", "y4m")
          .write.mode("overwrite").parquet(dir)
        dir
      }
      Tables.read(s, path)
    }
  }

  val qs: Seq[Q] = Seq(
    // Typed metadata projection for all three modalities, WITHOUT touching
    // payloads — the point of metadata columns at 100 TB is answering
    // "what's in this row" from a pure column scan while the binary stays
    // unread. Sizes are the EXACT encoded byte counts of each doc's
    // synthetic media (PPM: 11-byte header + 24h raster; WAV: canonical
    // 44-byte header + 2 bytes/sample; Y4M: 35-byte header + 54/frame) —
    // MultimodalSpec pins each formula against the real encoder's output
    // length, so metadata can never drift from what the codecs produce.
    Q(
      "q_mm_meta",
      """SELECT doc_id,
        |  CAST(8 AS BIGINT) AS img_w,
        |  CAST(1 + n_chars % 8 AS BIGINT) AS img_h,
        |  CAST(11 + 24 * (1 + n_chars % 8) AS BIGINT) AS img_bytes,
        |  CAST(64 + n_chars % 64 AS BIGINT) AS audio_samples,
        |  CAST(44 + 2 * (64 + n_chars % 64) AS BIGINT) AS audio_bytes,
        |  CAST(1 + n_chars % 5 AS BIGINT) AS video_frames,
        |  CAST(35 + 54 * (1 + n_chars % 5) AS BIGINT) AS video_bytes
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val imgH = col("n_chars") % 8 + 1
      val audioN = col("n_chars") % 64 + 64
      val videoF = col("n_chars") % 5 + 1
      U.documents(s, d)
        .select(
          col("doc_id"),
          lit(8L).as("img_w"),
          imgH.cast("long").as("img_h"),
          (lit(11) + lit(24) * imgH).cast("long").as("img_bytes"),
          audioN.cast("long").as("audio_samples"),
          (lit(44) + lit(2) * audioN).cast("long").as("audio_bytes"),
          videoF.cast("long").as("video_frames"),
          (lit(35) + lit(54) * videoF).cast("long").as("video_bytes"))
        .orderBy("doc_id")
    },

    // Frame sampling: every 5th frame index per item, exploded to rows.
    Q(
      "q_mm_frames",
      """SELECT doc_id, unnest(generate_series(0, CAST(n_chars % 30 AS BIGINT), 5)) AS frame_idx
        |FROM documents ORDER BY doc_id, frame_idx""".stripMargin) { (s, d) =>
      U.documents(s, d)
        .select(
          col("doc_id"),
          explode(sequence(lit(0L), nFrames - 1, lit(5L))).as("frame_idx"))
        .orderBy("doc_id", "frame_idx")
    },

    // REAL resize: the payload decodes through the P6 codec, then a
    // nearest-neighbor factor-2 downsample runs on the decoded pixel
    // matrix (output (y,x) samples input (2y,2x); dims ceil(w/2) x
    // ceil(h/2)) — decode -> transform -> stats, the actual media
    // pipeline shape. The oracle recomputes the resized raster in closed
    // form: resized flat index j maps to source byte
    // i = 48*(j/12) + 6*((j/3)%4) + j%3 on the 8-wide synthetic image, so
    // one wrong sample coordinate fails the hash gate.
    Q(
      "q_mm_resize",
      """WITH px AS (
        |  SELECT doc_id, n_chars,
        |    unnest(generate_series(0, 4*((1 + n_chars % 8 + 1) // 2)*3 - 1)) AS j
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, n_chars, j % 3 AS c,
        |    (doc_id*31 + (48*(j // 12) + 6*((j // 3) % 4) + (j % 3))*7) % 256 AS v
        |  FROM px)
        |SELECT doc_id,
        |  CAST(4 AS BIGINT) AS width,
        |  CAST((1 + n_chars % 8 + 1) // 2 AS BIGINT) AS height,
        |  CAST(sum(CASE WHEN c = 0 THEN v END) AS BIGINT) AS r_sum,
        |  CAST(sum(CASE WHEN c = 1 THEN v END) AS BIGINT) AS g_sum,
        |  CAST(sum(CASE WHEN c = 2 THEN v END) AS BIGINT) AS b_sum,
        |  CAST(max(v) AS BIGINT) AS max_px,
        |  CAST(min(v) AS BIGINT) AS min_px
        |FROM m GROUP BY doc_id, n_chars ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      // binary column read back FROM PARQUET (column-pruned to img only)
      MediaStore.payloads(s, d)
        .select(col("doc_id"), col("img"))
        .as[(Long, Array[Byte])]
        .mapPartitions { it =>
          it.map { case (id, payload) =>
            Ppm.stats(id, Ppm.resizeNN(Ppm.decode(payload), 2))
          }
        }
        .toDF()
        .orderBy("doc_id")
    },

    // The VIDEO modality through the REAL YUV4MPEG2 codec: synthesize a
    // genuine .y4m stream per doc (tagged ASCII header + FRAME-marked raw
    // C444 planes), decode it with a spec-shaped parser (order-free header
    // tags, unknown tags ignored, per-frame marker walk), and emit integer
    // statistics including MOTION — frame differencing, the basic temporal
    // activity feature — all recomputed closed-form by the oracle.
    Q(
      "q_mm_video_decode",
      """WITH fr AS (
        |  SELECT doc_id, unnest(generate_series(0, n_chars % 5)) AS f
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, f, unnest(generate_series(0, 47)) AS i FROM fr),
        |v AS (
        |  SELECT doc_id, f, i, (doc_id*37 + f*101 + i*13) % 256 AS v,
        |    CASE WHEN f > 0
        |         THEN abs((doc_id*37 + f*101 + i*13) % 256
        |                  - (doc_id*37 + (f-1)*101 + i*13) % 256)
        |         ELSE 0 END AS dm
        |  FROM px)
        |SELECT doc_id,
        |  CAST(max(f) + 1 AS BIGINT) AS n_frames,
        |  CAST(4 AS BIGINT) AS width,
        |  CAST(4 AS BIGINT) AS height,
        |  CAST(sum(CASE WHEN i < 16 THEN v END) AS BIGINT) AS y_sum,
        |  CAST(sum(CASE WHEN i >= 16 AND i < 32 THEN v END) AS BIGINT) AS u_sum,
        |  CAST(sum(CASE WHEN i >= 32 THEN v END) AS BIGINT) AS v_sum,
        |  CAST(max(v) AS BIGINT) AS max_b,
        |  CAST(min(v) AS BIGINT) AS min_b,
        |  CAST(sum(dm) AS BIGINT) AS motion
        |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      // a real .y4m stream in a parquet binary column, read back and decoded
      MediaStore.payloads(s, d)
        .select(col("doc_id"), col("y4m"))
        .as[(Long, Array[Byte])]
        .mapPartitions { it =>
          it.map { case (id, payload) => Y4m.stats(id, Y4m.decode(payload)) }
        }
        .toDF()
        .orderBy("doc_id")
    },

    // The AUDIO modality through the REAL RIFF/WAVE PCM16 codec: synthesize
    // a genuine mono WAV file per doc, chunk-walk decode it (fmt validated
    // before data; unknown chunks skipped — a real WAV reader), and emit
    // integer sample statistics the oracle recomputes in closed form
    // (sample i = (doc_id*131 + i*7919) % 65536 - 32768), including the
    // zero-crossing count via lag — one flipped sample byte fails the gate.
    Q(
      "q_mm_audio_decode",
      """WITH s AS (
        |  SELECT doc_id, unnest(generate_series(0, 64 + n_chars % 64 - 1)) AS i
        |  FROM documents),
        |v AS (
        |  SELECT doc_id, i, (doc_id*131 + i*7919) % 65536 - 32768 AS v FROM s),
        |z AS (
        |  SELECT doc_id, v,
        |    CASE WHEN lag(v) OVER (PARTITION BY doc_id ORDER BY i) IS NOT NULL
        |          AND ((lag(v) OVER (PARTITION BY doc_id ORDER BY i) < 0) <> (v < 0))
        |         THEN 1 ELSE 0 END AS zc
        |  FROM v)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_samples,
        |  CAST(16000 AS BIGINT) AS sample_rate,
        |  CAST(sum(v) AS BIGINT) AS sum_s,
        |  CAST(max(v) AS BIGINT) AS max_s,
        |  CAST(min(v) AS BIGINT) AS min_s,
        |  CAST(sum(v*v) AS BIGINT) AS energy,
        |  CAST(sum(zc) AS BIGINT) AS zero_cross
        |FROM z GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      // a real WAV file in a parquet binary column, read back and decoded
      MediaStore.payloads(s, d)
        .select(col("doc_id"), col("wav"))
        .as[(Long, Array[Byte])]
        .mapPartitions { it =>
          it.map { case (id, payload) => Wav.stats(id, Wav.decode(payload)) }
        }
        .toDF()
        .orderBy("doc_id")
    },

    // Per-partition batch decode through the REAL P6 codec: binary payload
    // column in, header-parsed pixel matrix out, one decoder context per
    // partition. The payload is a genuine PPM file (synthesized per doc);
    // the decoder reads width/height/maxval from the HEADER — nothing about
    // the image shape is smuggled around the binary column. The oracle
    // recomputes the per-channel pixel sums in closed-form integer
    // arithmetic (pixel i = (doc_id*31 + i*7) % 256 over an 8 x
    // (1 + n_chars % 8) RGB raster), so a single mis-parsed header byte or
    // dropped pixel fails the hash gate.
    Q(
      "q_mm_decode",
      """WITH px AS (
        |  SELECT doc_id, n_chars,
        |    unnest(generate_series(0, 8*(1 + n_chars % 8)*3 - 1)) AS i
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(8 AS BIGINT) AS width,
        |  CAST(1 + n_chars % 8 AS BIGINT) AS height,
        |  CAST(sum(CASE WHEN i % 3 = 0 THEN (doc_id*31 + i*7) % 256 END) AS BIGINT) AS r_sum,
        |  CAST(sum(CASE WHEN i % 3 = 1 THEN (doc_id*31 + i*7) % 256 END) AS BIGINT) AS g_sum,
        |  CAST(sum(CASE WHEN i % 3 = 2 THEN (doc_id*31 + i*7) % 256 END) AS BIGINT) AS b_sum,
        |  CAST(max((doc_id*31 + i*7) % 256) AS BIGINT) AS max_px,
        |  CAST(min((doc_id*31 + i*7) % 256) AS BIGINT) AS min_px
        |FROM px GROUP BY doc_id, n_chars ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      // a real P6 file in a parquet binary column, read back and decoded
      MediaStore.payloads(s, d)
        .select(col("doc_id"), col("img"))
        .as[(Long, Array[Byte])]
        .mapPartitions { it =>
          // one decoder context per partition initializes here
          it.map { case (id, payload) => Ppm.stats(id, Ppm.decode(payload)) }
        }
        .toDF()
        .orderBy("doc_id")
    }
  )
}
