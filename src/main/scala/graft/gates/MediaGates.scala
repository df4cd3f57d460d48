package graft.gates

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}

import graft.gates.Common._
import graft.ops.Multimodal

/** Oracle gates for media codecs: synthesized image, audio and video payloads decoded back. */
private[graft] object MediaGates {

  def gates: Seq[Gate] = Seq(
    // multimodal plumbing: binary payloads (text bytes stand in for media)
    // → deterministic stub features via per-partition batch transform
    Gate("q_multimodal_features", { (s, dir) =>
      val media = s.read.parquet(pq(dir, "documents"))
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      val feats = graft.ops.Multimodal.extractFeatures(media, "doc_id", "payload", dim = 8)
      feats.select(
        col("doc_id"),
        round(element_at(col("features"), 1).cast("double"), 6).as("f0"),
        round(element_at(col("features"), 8).cast("double"), 6).as("f7"))
    },
      // stub feature path: feature i = first 24 bits of md5(payload ++ ":i")
      // — fully recomputable from the text bytes (NULL text decodes as empty)
      s"""WITH h AS (SELECT doc_id,
                  md5(coalesce(text, '') || ':0') AS h0,
                  md5(coalesce(text, '') || ':7') AS h7
                FROM documents)
         SELECT doc_id,
                ${stubFeatureSql("h0")} AS f0,
                ${stubFeatureSql("h7")} AS f7
         FROM h"""),

    // image decode round-trip (REAL javax.imageio encode -> decode): per
    // doc_id, synthesize a uniform-gray PNG whose dimensions and gray level
    // are pure functions of the id, decode it back with ImageIO, and emit
    // header-parsed width (column functions on the IHDR bytes) next to the
    // decoded dimensions and integral mean luminance. DuckDB computes the
    // same values arithmetically -- the oracle verifies the codec path
    // end-to-end, not a stub.
    Gate("q_image_decode", { (s, dir) =>
      val pngs = grayPngs(s, dir, 17)
      // cached: both the decode branch and the header-metadata branch read
      // the synthesized payloads — uncached, each oracle row would pay the
      // PNG encode (and the source scan) twice
      val withMeta = Multimodal.withMediaMeta(pngs, "payload").cache()
      Multimodal
        .decodeImages(withMeta, "doc_id", "payload")
        .join(
          withMeta.select(col("doc_id"), col("media_meta")), Seq("doc_id"))
        .select(
          col("doc_id"),
          col("media_meta.width").as("hdr_width"),
          col("width"),
          col("height"),
          round(col("mean_luma"), 6).cast("long").as("mean_gray"))
    },
      """SELECT doc_id,
                CAST(1 + doc_id % 7 AS INT) AS hdr_width,
                CAST(1 + doc_id % 7 AS INT) AS width,
                CAST(1 + doc_id % 5 AS INT) AS height,
                CAST(doc_id % 256 AS BIGINT) AS mean_gray
         FROM documents WHERE doc_id % 17 = 0"""),

    // image resize round-trip (REAL bilinear Graphics2D scale + PNG
    // re-encode): synth gray PNGs -> resize to a fixed 3x2 -> decode. A
    // bilinear scale of a uniform image preserves the gray level exactly, so
    // DuckDB again recomputes the expectation arithmetically
    Gate("q_image_resize", { (s, dir) =>
      val pngs = grayPngs(s, dir, 23)
      val resized = Multimodal.resizeImages(pngs, "doc_id", "payload", 3, 2)
      Multimodal
        .decodeImages(resized, "doc_id", "payload")
        .select(
          col("doc_id"),
          col("width"),
          col("height"),
          round(col("mean_luma"), 6).cast("long").as("mean_gray"))
    },
      """SELECT doc_id,
                CAST(3 AS INT) AS width,
                CAST(2 AS INT) AS height,
                CAST(doc_id % 256 AS BIGINT) AS mean_gray
         FROM documents WHERE doc_id % 23 = 0"""),

    // perceptual image hash (dHash): REAL PNG encode -> ImageIO decode ->
    // integer-exact 9x8 pooled difference hash on synthesized gradient
    // images at two scales; the oracle re-derives every bit in closed form
    Gate("q_image_dhash", { (s, dir) =>
      val pngs = payloads(s, dir, 17) { id =>
        val sc = 1 + (id % 2).toInt
        val w = 9 * sc
        val h = 8 * sc
        val px = Array.tabulate(w * h) { i =>
          val x = i % w
          val y = i / w
          ((id * 31 + x * 7 + y * 3) % 256).toInt
        }
        Multimodal.encodeGrayPngPixels(w, h, px)
      }
      Multimodal.imageDHashes(pngs, "doc_id", "payload")
        .select(col("doc_id"), col("dhash"))
    },
      // dHash closed form: regenerate the gradient rasters, pool to the 9x8
      // grid (equal cell sizes -> the cross-multiplied comparison reduces to
      // the plain sum compare), set bit cy*8+cx iff the right cell sum is
      // larger; bit 63's mask is the usual subtraction spelling
      """WITH ids AS (SELECT doc_id, 1 + doc_id % 2 AS s FROM documents
                      WHERE doc_id % 17 = 0),
             px AS (SELECT doc_id, s, xs.x, ys.y,
                      (doc_id * 31 + xs.x * 7 + ys.y * 3) % 256 AS g
                    FROM ids,
                         (SELECT unnest(range(0, 18)) AS x) xs,
                         (SELECT unnest(range(0, 16)) AS y) ys
                    WHERE xs.x < 9 * s AND ys.y < 8 * s),
             cells AS (SELECT doc_id, x // s AS cx, y // s AS cy,
                         sum(3 * g) AS sg
                       FROM px GROUP BY 1, 2, 3),
             bits AS (SELECT l.doc_id, l.cy * 8 + l.cx AS bit
                      FROM cells l JOIN cells r
                        ON l.doc_id = r.doc_id AND r.cy = l.cy
                          AND r.cx = l.cx + 1
                      WHERE l.cx < 8 AND r.sg > l.sg),
             hashed AS (SELECT i.doc_id,
                          coalesce(sum(CASE WHEN bit = 63
                            THEN -9223372036854775807 - 1
                            ELSE (1::BIGINT << bit) END), 0)::BIGINT AS dhash
                        FROM ids i LEFT JOIN bits b ON i.doc_id = b.doc_id
                        GROUP BY 1)
         SELECT doc_id, dhash FROM hashed"""),

    // audio decode round-trip (REAL RIFF/WAV 16-bit PCM parse, pure byte
    // work): per doc_id, synthesize a two-level square wave (+A / -B
    // alternating) whose amplitudes, length, and sample rate are functions
    // of the id, encode as canonical WAV, decode back, and emit the
    // header-parsed rate (little-endian column functions) next to the
    // decoded stats. Sums accumulate losslessly in Longs and every division
    // has an exactly-representable result, so DuckDB recomputes rms /
    // mean_abs / duration bit-identically from the closed forms.
    Gate("q_audio_decode", { (s, dir) =>
      val wavs = payloads(s, dir, 19) { id =>
        val (sr, samples) = squareWave(id)
        Multimodal.encodePcmWav(sr, 1, samples)
      }
      // cached for the same reason as q_image_decode: the decode branch and
      // the header-metadata branch both read the synthesized payloads
      val withMeta = Multimodal.withMediaMeta(wavs, "payload").cache()
      Multimodal
        .decodeAudios(withMeta, "doc_id", "payload")
        .join(
          withMeta.select(col("doc_id"), col("media_meta")), Seq("doc_id"))
        .select(
          col("doc_id"),
          col("media_meta.sample_rate").as("hdr_rate"),
          col("sample_rate"),
          col("channels"),
          col("n_frames"),
          round(col("duration_ms"), 6).as("duration_ms"),
          round(col("rms"), 6).as("rms"),
          round(col("mean_abs"), 6).as("mean_abs"),
          col("peak"))
    },
      // audio round-trip: Spark really encodes + decodes WAV payloads whose
      // amplitudes/length/rate are functions of doc_id; the oracle recomputes
      // the closed forms (half the samples at +A, half at -B, so
      // rms = sqrt((A^2+B^2)/2), mean_abs = (A+B)/2 — every intermediate is
      // exactly representable, so the doubles agree bit-for-bit)
      """SELECT doc_id,
                CAST(8000 + (doc_id % 5) * 1000 AS INT) AS hdr_rate,
                CAST(8000 + (doc_id % 5) * 1000 AS INT) AS sample_rate,
                CAST(1 AS INT) AS channels,
                CAST(2 * (32 + doc_id % 16) AS INT) AS n_frames,
                round(2 * (32 + doc_id % 16) * 1000.0
                      / (8000 + (doc_id % 5) * 1000), 6) AS duration_ms,
                round(sqrt(((doc_id % 997 + 1) * (doc_id % 997 + 1)
                            + ((doc_id * 7) % 997 + 1) * ((doc_id * 7) % 997 + 1))
                           / 2.0), 6) AS rms,
                round(((doc_id % 997 + 1) + ((doc_id * 7) % 997 + 1)) / 2.0, 6) AS mean_abs,
                CAST(greatest(doc_id % 997 + 1, (doc_id * 7) % 997 + 1) AS INT) AS peak
         FROM documents WHERE doc_id % 19 = 0"""),

    // G.711 telephony-audio decode round-trip (REAL mu-law/A-law companding,
    // ITU-T spec arithmetic): per doc_id, synthesize raw companded BYTES as a
    // direct function of (id, position), wrap them in a format-7/format-6 WAV,
    // decode, and emit amplitude stats. The oracle re-derives every 16-bit
    // sample from the same byte formula with the G.711 expansion spelled in
    // SQL — the decode tables themselves are cross-checked, not just the
    // container walk. Integer sums are exact; the two divisions and the sqrt
    // are identical IEEE ops on identical inputs.
    Gate("q_audio_g711", { (s, dir) =>
      val wavs = payloads(s, dir, 29) { id =>
        val n = (24 + id % 8).toInt
        val bytes =
          Array.tabulate[Byte](n)(i => ((id * 31 + i.toLong * 7) % 256).toByte)
        Multimodal.encodeG711Wav(8000, 1, mulaw = id % 2 == 0, bytes)
      }
      Multimodal
        .decodeAudios(wavs, "doc_id", "payload")
        .select(
          col("doc_id"),
          when(col("doc_id") % 2 === 0, "mulaw").otherwise("alaw").as("law"),
          col("sample_rate"),
          col("n_frames"),
          col("peak"),
          round(col("mean_abs"), 6).as("mean_abs"),
          round(col("rms"), 6).as("rms"))
    },
      // G.711 round-trip: the oracle re-derives each companded byte from the
      // (doc_id, i) formula and expands it to 16-bit linear with the ITU-T
      // G.711 arithmetic spelled in SQL — mu-law: complement, +132-biased
      // exponent/mantissa; A-law: XOR 0x55, sign bit set = positive. Integer
      // aggregation is exact, so mean/rms doubles agree bit-for-bit.
      """WITH d AS (SELECT doc_id, 24 + doc_id % 8 AS n FROM documents
                    WHERE doc_id % 29 = 0),
              s AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM d),
              byt AS (SELECT doc_id, n,
                        CAST((doc_id * 31 + i * 7) % 256 AS INT) AS b,
                        doc_id % 2 = 0 AS mu
                      FROM s),
              dec AS (SELECT doc_id, n,
                        CASE WHEN mu THEN
                          (CASE WHEN (255 - b) >= 128 THEN -1 ELSE 1 END)
                          * ((((255 - b) % 16) * 8 + 132)
                             * CAST(pow(2, ((255 - b) // 16) % 8) AS INT) - 132)
                        ELSE
                          (CASE WHEN xor(b, 85) >= 128 THEN 1 ELSE -1 END)
                          * (CASE WHEN (xor(b, 85) // 16) % 8 = 0
                                  THEN (xor(b, 85) % 16) * 16 + 8
                                  ELSE ((xor(b, 85) % 16) * 16 + 264)
                                       * CAST(pow(2, (xor(b, 85) // 16) % 8 - 1) AS INT)
                             END)
                        END AS smp
                      FROM byt),
              agg AS (SELECT doc_id, max(n) AS nf, max(abs(smp)) AS peak,
                             sum(abs(smp)) AS sum_abs, sum(smp * smp) AS sum_sq
                      FROM dec GROUP BY doc_id)
         SELECT doc_id,
                CASE WHEN doc_id % 2 = 0 THEN 'mulaw' ELSE 'alaw' END AS law,
                CAST(8000 AS INT) AS sample_rate,
                CAST(nf AS INT) AS n_frames,
                CAST(peak AS INT) AS peak,
                round(CAST(sum_abs AS DOUBLE) / nf, 6) AS mean_abs,
                round(sqrt(CAST(sum_sq AS DOUBLE) / nf), 6) AS rms
         FROM agg"""),

    // time-domain audio features (REAL decode + one-pass ZCR / DC-offset):
    // three waveform shapes per id class — constant (no crossings, DC = A),
    // alternating ±(A,B) (every adjacent pair crosses), block wave (one
    // crossing) — exercise the sign-flip counter and the signed-sum mean.
    // All closed forms: integer crossings, dyadic DC offsets.
    Gate("q_audio_features", { (s, dir) =>
      val wavs = payloads(s, dir, 13) { id =>
        val m = 16 + (id % 8).toInt
        val a = ((id % 500) + 1).toInt
        val b = (((id * 3) % 500) + 1).toInt
        val samples = (id % 3) match {
          case 0 => Array.fill[Short](2 * m)(a.toShort)
          case 1 => Array.tabulate[Short](2 * m)(i =>
            if (i % 2 == 0) a.toShort else (-b).toShort)
          case _ => Array.tabulate[Short](2 * m)(i =>
            if (i < m) a.toShort else (-b).toShort)
        }
        Multimodal.encodePcmWav(8000, 1, samples)
      }
      Multimodal
        .decodeAudios(wavs, "doc_id", "payload")
        .select(
          col("doc_id"),
          col("n_frames"),
          col("zero_crossings"),
          round(col("dc_offset"), 6).as("dc_offset"))
    },
      // audio time-domain features: crossings and DC in closed form per
      // waveform class (constant / alternating / block)
      """SELECT doc_id,
                CAST(2 * (16 + doc_id % 8) AS INT) AS n_frames,
                CAST(CASE CAST(doc_id % 3 AS INT)
                       WHEN 0 THEN 0
                       WHEN 1 THEN 2 * (16 + doc_id % 8) - 1
                       ELSE 1 END AS BIGINT) AS zero_crossings,
                round(CASE WHEN doc_id % 3 = 0
                           THEN CAST(doc_id % 500 + 1 AS DOUBLE)
                           ELSE ((doc_id % 500 + 1)
                                 - ((doc_id * 3) % 500 + 1)) / 2.0
                      END, 6) AS dc_offset
         FROM documents WHERE doc_id % 13 = 0"""),

    // IMA ADPCM round-trip (REAL 4:1-compressed audio decode, public IMA
    // spec): per doc_id, synthesize raw packed nibble BYTES as a function
    // of (id, position) plus a block-header (predictor, step index), wrap
    // as a format-0x11 WAV, decode through the step-table recurrence, and
    // emit amplitude stats. The oracle re-derives EVERY decoded sample
    // with the same recurrence as a recursive CTE in SQL — the step/index
    // tables and clamping arithmetic are cross-engine-verified.
    Gate("q_audio_adpcm", { (s, dir) =>
      val wavs = payloads(s, dir, 61) { id =>
        val n = (16 + id % 8).toInt
        val bytes =
          Array.tabulate[Byte](n)(j => ((id * 31 + 7L * j) % 256).toByte)
        Multimodal.encodeImaAdpcmWav(
          8000,
          predictor0 = ((id % 1000) - 500).toInt,
          stepIndex0 = (id % 89).toInt,
          packedNibbles = bytes)
      }
      Multimodal
        .decodeAudios(wavs, "doc_id", "payload")
        .select(
          col("doc_id"),
          col("n_frames"),
          col("peak"),
          col("zero_crossings"),
          round(col("mean_abs"), 6).as("mean_abs"),
          round(col("rms"), 6).as("rms"))
    },
      // IMA ADPCM round-trip: every decoded sample re-derived by the spec
      // recurrence as a recursive CTE (step/index tables as literal lists —
      // emitted from the SAME Scala arrays the decoder uses)
      imaAdpcmOracleSql),

    // AIFF decode round-trip (REAL big-endian FORM/AIFF chunk walk + 80-bit
    // extended-float sample rate): the same two-level square wave as
    // q_audio_decode, but through the Apple container — the oracle recomputes
    // the closed forms, verifying the big-endian path end-to-end
    Gate("q_audio_aiff", { (s, dir) =>
      val aiffs = payloads(s, dir, 31) { id =>
        val (sr, samples) = squareWave(id)
        Multimodal.encodeAiff(sr, 1, samples)
      }
      Multimodal
        .decodeAudios(aiffs, "doc_id", "payload")
        .select(
          col("doc_id"),
          col("sample_rate"),
          col("channels"),
          col("n_frames"),
          round(col("duration_ms"), 6).as("duration_ms"),
          round(col("rms"), 6).as("rms"),
          round(col("mean_abs"), 6).as("mean_abs"),
          col("peak"))
    },
      """SELECT doc_id,
                CAST(8000 + (doc_id % 5) * 1000 AS INT) AS sample_rate,
                CAST(1 AS INT) AS channels,
                CAST(2 * (32 + doc_id % 16) AS INT) AS n_frames,
                round(2 * (32 + doc_id % 16) * 1000.0
                      / (8000 + (doc_id % 5) * 1000), 6) AS duration_ms,
                round(sqrt(((doc_id % 997 + 1) * (doc_id % 997 + 1)
                            + ((doc_id * 7) % 997 + 1) * ((doc_id * 7) % 997 + 1))
                           / 2.0), 6) AS rms,
                round(((doc_id % 997 + 1) + ((doc_id * 7) % 997 + 1)) / 2.0, 6) AS mean_abs,
                CAST(greatest(doc_id % 997 + 1, (doc_id * 7) % 997 + 1) AS INT) AS peak
         FROM documents WHERE doc_id % 31 = 0"""),

    // MP4/ISO-BMFF container-metadata round-trip (REAL box walk, ISO
    // 14496-12): synthesize a minimal conforming MP4 (ftyp + moov[mvhd +
    // n x trak[tkhd]]) whose timescale/duration/track dims are functions of
    // doc_id, parse it back, and emit the header fields a pipeline filters
    // on before any codec runs. The oracle recomputes the closed forms —
    // duration_ms is the one double, exact-integer inputs both sides.
    Gate("q_video_meta", { (s, dir) =>
      val mp4s = payloads(s, dir, 41) { id =>
        val w = 16 * (1 + (id % 8).toInt)
        val h = 16 * (1 + (id % 5).toInt)
        Multimodal.encodeMinimalMp4(
          timescale = 600 + (id % 7).toInt * 100,
          duration = 1200 + (id % 601).toInt,
          tracks = Seq.fill(1 + (id % 3).toInt)((w, h)))
      }
      Multimodal
        .videoMeta(mp4s, "doc_id", "payload")
        .select(
          col("doc_id"),
          col("brand"),
          col("timescale"),
          col("duration"),
          round(col("duration_ms"), 6).as("duration_ms"),
          col("n_tracks"),
          col("width"),
          col("height"))
    },
      """SELECT doc_id,
                'isom' AS brand,
                CAST(600 + (doc_id % 7) * 100 AS INT) AS timescale,
                CAST(1200 + doc_id % 601 AS INT) AS duration,
                round((1200 + doc_id % 601) * 1000.0
                      / (600 + (doc_id % 7) * 100), 6) AS duration_ms,
                CAST(1 + doc_id % 3 AS INT) AS n_tracks,
                CAST(16 * (1 + doc_id % 8) AS INT) AS width,
                CAST(16 * (1 + doc_id % 5) AS INT) AS height
         FROM documents WHERE doc_id % 41 = 0"""),

    // Y4M (YUV4MPEG2) video FRAME decode round-trip (REAL frame decode —
    // the yuv4mpegpipe interchange format carries raw planar YUV, so pixel
    // access needs no codec library): per doc_id, synthesize a multi-frame
    // stream whose geometry / rational fps / chroma layout / per-frame plane
    // constants are functions of the id, then really walk the FRAME records
    // and compute exact plane means for every 2nd frame (skipped frames are
    // never read — the select-every-Nth contract, now on a real container).
    // One row per sampled frame; the oracle recomputes every field in
    // closed form, mono rows with NULL chroma.
    Gate("q_y4m_frames", { (s, dir) =>
      val streams = payloads(s, dir, 37) { id =>
        val cs = (id % 4) match {
          case 0 => "420jpeg"
          case 1 => "422"
          case 2 => "444"
          case _ => "mono"
        }
        val frames = (0 until (3 + (id % 5).toInt)).map { f =>
          (((id * 13 + 7L * f) % 256).toInt,
            ((id * 5 + 11L * f) % 256).toInt,
            ((id * 3 + 17L * f) % 256).toInt)
        }
        Multimodal.encodeY4m(
          width = 4 + 2 * (id % 3).toInt,
          height = 4 + 2 * (id % 2).toInt,
          fpsNum = 24 + (id % 6).toInt,
          fpsDen = 1 + (id % 2).toInt,
          colorspace = cs,
          frames = frames)
      }
      Multimodal
        .decodeY4mFrames(streams, "doc_id", "payload", frameStride = 2)
        .select(
          col("doc_id"),
          col("width"),
          col("height"),
          col("fps_num"),
          col("fps_den"),
          col("colorspace"),
          col("n_frames"),
          col("frame_idx"),
          col("mean_y"),
          col("mean_u"),
          col("mean_v"))
    },
      // Y4M frame-decode round-trip: every sampled frame's plane means are
      // the synthesized per-frame constants — the oracle regenerates frame
      // indices with a zipped range and recomputes each field in closed form
      // (mono chroma NULL, stride-2 sampling as a parity filter)
      """WITH d AS (SELECT doc_id,
                      3 + doc_id % 5 AS n,
                      CAST(4 + 2 * (doc_id % 3) AS INT) AS w,
                      CAST(4 + 2 * (doc_id % 2) AS INT) AS h,
                      CAST(24 + doc_id % 6 AS INT) AS fn,
                      CAST(1 + doc_id % 2 AS INT) AS fd,
                      CASE CAST(doc_id % 4 AS INT)
                        WHEN 0 THEN '420jpeg' WHEN 1 THEN '422'
                        WHEN 2 THEN '444' ELSE 'mono' END AS cs
                    FROM documents WHERE doc_id % 37 = 0),
              f AS (SELECT *, unnest(range(0, n)) AS fi FROM d)
         SELECT doc_id, w AS width, h AS height, fn AS fps_num, fd AS fps_den,
                cs AS colorspace, CAST(n AS INT) AS n_frames,
                CAST(fi AS INT) AS frame_idx,
                CAST((doc_id * 13 + 7 * fi) % 256 AS DOUBLE) AS mean_y,
                CASE WHEN cs = 'mono' THEN NULL
                     ELSE CAST((doc_id * 5 + 11 * fi) % 256 AS DOUBLE)
                END AS mean_u,
                CASE WHEN cs = 'mono' THEN NULL
                     ELSE CAST((doc_id * 3 + 17 * fi) % 256 AS DOUBLE)
                END AS mean_v
         FROM f WHERE fi % 2 = 0"""),

    // Animated-GIF frame extraction round-trip (REAL multi-frame decode via
    // the JDK's ImageIO GIF plugin — LZW-compressed frames, so this is real
    // codec work, not raw bytes): per doc_id synthesize a GIF89a animation
    // of solid-gray frames, count + decode every 2nd stored frame, emit its
    // mean luminance. Solid frames survive palette quantization exactly, so
    // the oracle recomputes the gray levels in closed form.
    Gate("q_gif_frames", { (s, dir) =>
      val gifs = payloads(s, dir, 53) { id =>
        val grays = (0 until (2 + (id % 4).toInt))
          .map(f => ((id * 11 + 29L * f) % 256).toInt)
        Multimodal.encodeGifAnim(
          width = 2 + (id % 5).toInt,
          height = 2 + (id % 3).toInt,
          grays = grays)
      }
      Multimodal
        .gifFrames(gifs, "doc_id", "payload", frameStride = 2)
        .select(
          col("doc_id"),
          col("n_frames"),
          col("frame_idx"),
          col("width"),
          col("height"),
          round(col("mean_luma"), 6).cast("long").as("mean_gray"))
    },
      // GIF frame-extraction round-trip: sampled stored frames' gray levels
      // in closed form (stride-2 parity filter over regenerated indices)
      """WITH d AS (SELECT doc_id, 2 + doc_id % 4 AS n FROM documents
                    WHERE doc_id % 53 = 0),
              f AS (SELECT doc_id, n, unnest(range(0, n)) AS fi FROM d)
         SELECT doc_id,
                CAST(n AS INT) AS n_frames,
                CAST(fi AS INT) AS frame_idx,
                CAST(2 + doc_id % 5 AS INT) AS width,
                CAST(2 + doc_id % 3 AS INT) AS height,
                CAST((doc_id * 11 + 29 * fi) % 256 AS BIGINT) AS mean_gray
         FROM f WHERE fi % 2 = 0"""),

    // MJPEG-in-AVI round-trip: a REAL perceptual-codec decode (ImageIO
    // JPEG — DCT + dequantization) inside a real RIFF container. Constant
    // 16x16 frames at gray 4+8m: JPEG's DC quantization shifts the decoded
    // mean by <3 levels (PipelineOpsSpec pins the bound), so
    // floor(mean_luma/8) recovers m EXACTLY and the oracle re-derives it
    // closed-form — a lossy codec behind a lossless gate.
    Gate("q_avi_frames", { (s, dir) =>
      val avis = payloads(s, dir, 59) { id =>
        val grays = (0 until (2 + (id % 3).toInt))
          .map(f => 4 + 8 * (((id * 7 + 13L * f) % 31).toInt))
        Multimodal.encodeMjpegAvi(width = 16, height = 16, grays = grays)
      }
      Multimodal
        .aviFrames(avis, "doc_id", "payload", frameStride = 2)
        .select(
          col("doc_id"),
          col("n_frames"),
          col("frame_idx"),
          col("width"),
          col("height"),
          floor(col("mean_luma") / 8).cast("long").as("luma_bucket"))
    },
      // MJPEG-in-AVI: the JPEG DC-quantization error is < 3 luma levels on a
      // constant frame, so floor(mean/8) of gray 4+8m is exactly m — the
      // oracle recomputes m from the synthesis closed form
      """WITH d AS (SELECT doc_id, 2 + doc_id % 3 AS n FROM documents
                    WHERE doc_id % 59 = 0),
              f AS (SELECT doc_id, n, unnest(range(0, n)) AS fi FROM d)
         SELECT doc_id,
                CAST(n AS INT) AS n_frames,
                CAST(fi AS INT) AS frame_idx,
                CAST(16 AS INT) AS width,
                CAST(16 AS INT) AS height,
                CAST((doc_id * 7 + 13 * fi) % 31 AS BIGINT) AS luma_bucket
         FROM f WHERE fi % 2 = 0"""),

    // FLAC STREAMINFO round-trip (REAL bit-packed header parse, public FLAC
    // spec): synthesize a minimal header (magic + STREAMINFO) whose
    // rate/channels/bps/total-samples are functions of doc_id — total spans
    // the 36-bit field past the 32-bit line — parse it back, and emit the
    // fields an audio-curation pipeline filters on. The oracle recomputes
    // the closed forms; duration_ms is the one double, exact-integer inputs.
    Gate("q_flac_meta", { (s, dir) =>
      val flacs = payloads(s, dir, 43) { id =>
        Multimodal.encodeFlacHeader(
          sampleRate = 8000 + (id % 11).toInt * 4000,
          channels = 1 + (id % 8).toInt,
          bitsPerSample = 8 + (id % 25).toInt,
          totalSamples = 1000L + (id % 7) * 8589934592L)
      }
      Multimodal
        .flacMeta(flacs, "doc_id", "payload")
        .select(
          col("doc_id"),
          col("sample_rate"),
          col("channels"),
          col("bits_per_sample"),
          col("total_samples"),
          round(col("duration_ms"), 6).as("duration_ms"))
    },
      """SELECT doc_id,
                CAST(8000 + (doc_id % 11) * 4000 AS INT) AS sample_rate,
                CAST(1 + doc_id % 8 AS INT) AS channels,
                CAST(8 + doc_id % 25 AS INT) AS bits_per_sample,
                CAST(1000 + (doc_id % 7) * 8589934592 AS BIGINT) AS total_samples,
                round((1000 + (doc_id % 7) * 8589934592) * 1000.0
                      / (8000 + (doc_id % 11) * 4000), 6) AS duration_ms
         FROM documents WHERE doc_id % 43 = 0"""),

    // MP3/MPEG-audio frame-header round-trip (REAL Layer III bit-field
    // parse + ID3v2 syncsafe skip + frame walk, ISO 11172-3): version,
    // bitrate/rate table lookups, channel mode, and the frame-counted
    // duration, all closed forms of doc_id. The oracle spells the spec's
    // bitrate/rate tables as SQL list lookups — table semantics are
    // cross-engine-verified, not just the walk.
    Gate("q_mp3_meta", { (s, dir) =>
      val mp3s = payloads(s, dir, 47) { id =>
        Multimodal.encodeMp3(
          mpeg1 = id % 2 == 0,
          bitrateIdx = 1 + (id % 14).toInt,
          rateIdx = (id % 3).toInt,
          padding = id % 5 == 0,
          mono = id % 3 == 0,
          nFrames = 5 + (id % 9).toInt,
          id3Size = (id % 50).toInt,
          // VBR header coverage: Xing and VBRI on MPEG1 payloads (even
          // ids), the CBR Info tag on MPEG2 (odd ids, where bitrateIdx
          // >= 2 always — odd multiples of 47 are never = 0 mod 14 —
          // so the tag fits the smallest frame), a quarter untagged
          vbrTag = (id % 4) match {
            case 0 => "xing"
            case 1 => "info"
            case 2 => "vbri"
            case _ => null
          },
          vbrFrames = 100 + (id % 50).toInt)
      }
      Multimodal
        .mp3Meta(mp3s, "doc_id", "payload")
        .select(
          col("doc_id"),
          col("version"),
          col("sample_rate"),
          col("bitrate_kbps"),
          col("channels"),
          col("n_frames"),
          round(col("duration_ms"), 6).as("duration_ms"),
          col("vbr_method"),
          col("vbr_frames"),
          round(col("vbr_duration_ms"), 6).as("vbr_duration_ms"))
    },
      // MP3 metadata round-trip: the spec's Layer III bitrate/rate tables as
      // SQL list lookups; duration = frames * samples-per-frame / rate
      """SELECT doc_id,
                CASE WHEN doc_id % 2 = 0 THEN 'mpeg1' ELSE 'mpeg2' END AS version,
                CAST(list_extract(
                  CASE WHEN doc_id % 2 = 0 THEN [44100, 48000, 32000]
                       ELSE [22050, 24000, 16000] END,
                  CAST(1 + doc_id % 3 AS INT)) AS INT) AS sample_rate,
                CAST(list_extract(
                  CASE WHEN doc_id % 2 = 0
                       THEN [32, 40, 48, 56, 64, 80, 96, 112,
                             128, 160, 192, 224, 256, 320]
                       ELSE [8, 16, 24, 32, 40, 48, 56, 64,
                             80, 96, 112, 128, 144, 160] END,
                  CAST(1 + doc_id % 14 AS INT)) AS INT) AS bitrate_kbps,
                CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 2 END AS INT) AS channels,
                CAST(5 + doc_id % 9 AS INT) AS n_frames,
                round((5 + doc_id % 9)
                      * (CASE WHEN doc_id % 2 = 0 THEN 1152 ELSE 576 END) * 1000.0
                      / list_extract(
                          CASE WHEN doc_id % 2 = 0 THEN [44100, 48000, 32000]
                               ELSE [22050, 24000, 16000] END,
                          CAST(1 + doc_id % 3 AS INT)), 6) AS duration_ms,
                CASE CAST(doc_id % 4 AS INT)
                     WHEN 0 THEN 'xing' WHEN 1 THEN 'info' WHEN 2 THEN 'vbri'
                     ELSE NULL END AS vbr_method,
                CASE WHEN doc_id % 4 < 3 THEN CAST(100 + doc_id % 50 AS INT)
                     ELSE NULL END AS vbr_frames,
                CASE WHEN doc_id % 4 < 3
                     THEN round((100 + doc_id % 50)
                           * (CASE WHEN doc_id % 2 = 0 THEN 1152 ELSE 576 END) * 1000.0
                           / list_extract(
                               CASE WHEN doc_id % 2 = 0 THEN [44100, 48000, 32000]
                                    ELSE [22050, 24000, 16000] END,
                               CAST(1 + doc_id % 3 AS INT)), 6)
                     ELSE NULL END AS vbr_duration_ms
         FROM documents WHERE doc_id % 47 = 0""")
  )

  /** `(doc_id, payload)` rows for the documents with `doc_id % mod = 0`,
    * each payload synthesized from its id.
    */
  private def payloads(s: SparkSession, dir: String, mod: Int)(
      payload: Long => Array[Byte]): DataFrame = {
    val ids = s.read.parquet(pq(dir, "documents"))
      .select(col("doc_id"))
      .where(col("doc_id") % mod === 0)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("payload", BinaryType)))
    s.createDataFrame(ids.rdd.map { r =>
      val id = r.getLong(0)
      Row(id, payload(id))
    }, schema)
  }

  /** Uniform-gray PNGs whose size and gray level are functions of the id. */
  private def grayPngs(s: SparkSession, dir: String, mod: Int): DataFrame =
    payloads(s, dir, mod) { id =>
      Multimodal.encodeGrayPng(
        width = 1 + (id % 7).toInt,
        height = 1 + (id % 5).toInt,
        gray = (id % 256).toInt)
    }

  /** Sample rate and samples of a two-level square wave (+A / -B
    * alternating) whose amplitudes, length and rate are functions of the id.
    */
  private def squareWave(id: Long): (Int, Array[Short]) = {
    val sr = 8000 + (id % 5).toInt * 1000
    val ampA = ((id % 997) + 1).toInt
    val ampB = (((id * 7) % 997) + 1).toInt
    val nPairs = 32 + (id % 16).toInt
    val samples = new Array[Short](2 * nPairs)
    var i = 0
    while (i < nPairs) {
      samples(2 * i) = ampA.toShort
      samples(2 * i + 1) = (-ampB).toShort
      i += 1
    }
    (sr, samples)
  }

  /** DuckDB oracle for the IMA ADPCM decode: the spec recurrence as a
    * recursive CTE, one row per (doc, sample), with the step-size/index
    * tables emitted from the decoder's own arrays — a transcription error
    * is impossible by construction.
    */
  private def imaAdpcmOracleSql: String = {
    val steps = graft.ops.Multimodal.ImaStepTable.mkString("[", ", ", "]")
    val idxs = graft.ops.Multimodal.ImaIndexTable.mkString("[", ", ", "]")
    s"""WITH RECURSIVE d AS (
              SELECT doc_id, 16 + doc_id % 8 AS nbytes,
                     CAST(doc_id % 1000 - 500 AS INT) AS pred0,
                     CAST(doc_id % 89 AS INT) AS sidx0
              FROM documents WHERE doc_id % 61 = 0),
            rec AS (
              SELECT doc_id, nbytes, 0 AS t, pred0 AS pred, sidx0 AS sidx,
                     pred0 AS sample
              FROM d
              UNION ALL
              SELECT r.doc_id, r.nbytes, r.t + 1, q.np, q.ns, q.np
              FROM rec r,
              LATERAL (
                SELECT CASE WHEN (q1.nib & 8) != 0
                            THEN greatest(-32768, least(32767, r.pred - q2.diff))
                            ELSE greatest(-32768, least(32767, r.pred + q2.diff))
                       END AS np,
                       greatest(0, least(88, r.sidx + $idxs[(q1.nib & 7) + 1])) AS ns
                FROM LATERAL (
                  SELECT CASE WHEN r.t % 2 = 0
                              THEN CAST((r.doc_id * 31 + 7 * (r.t // 2)) % 256
                                   AS INT) & 15
                              ELSE CAST((r.doc_id * 31 + 7 * (r.t // 2)) % 256
                                   AS INT) >> 4
                         END AS nib,
                         $steps[r.sidx + 1] AS step) q1,
                LATERAL (
                  SELECT (q1.step >> 3)
                         + CASE WHEN (q1.nib & 1) != 0 THEN q1.step >> 2 ELSE 0 END
                         + CASE WHEN (q1.nib & 2) != 0 THEN q1.step >> 1 ELSE 0 END
                         + CASE WHEN (q1.nib & 4) != 0 THEN q1.step ELSE 0 END
                           AS diff) q2
              ) q
              WHERE r.t < 2 * r.nbytes),
            lagged AS (
              SELECT doc_id, sample,
                     lag(sample) OVER (PARTITION BY doc_id ORDER BY t) AS prev
              FROM rec),
            agg AS (
              SELECT doc_id, count(*) AS nf, max(abs(sample)) AS peak,
                     sum(abs(CAST(sample AS BIGINT))) AS sum_abs,
                     sum(CAST(sample AS BIGINT) * sample) AS sum_sq,
                     count(*) FILTER (WHERE (prev > 0 AND sample < 0)
                                        OR (prev < 0 AND sample > 0)) AS zc
              FROM lagged GROUP BY doc_id)
       SELECT doc_id, CAST(nf AS INT) AS n_frames, CAST(peak AS INT) AS peak,
              CAST(zc AS BIGINT) AS zero_crossings,
              round(CAST(sum_abs AS DOUBLE) / nf, 6) AS mean_abs,
              round(sqrt(CAST(sum_sq AS DOUBLE) / nf), 6) AS rms
       FROM agg"""
  }

  /** Inlined positional hex parse of the first 6 md5 digits of column
    * `hcol` scaled to [0,1) — the DuckDB spelling of `decodeStub`'s
    * feature arithmetic (24-bit dyadic fractions are exact in both
    * engines' float types, so round-6 agrees bit-for-bit).
    */
  private def stubFeatureSql(hcol: String): String = {
    val digits = (1 to 6).map { p =>
      s"(strpos('0123456789abcdef', substr($hcol, $p, 1)) - 1) * ${1L << (4 * (6 - p))}"
    }.mkString("\n                 + ")
    s"round(($digits) / 16777216.0, 6)"
  }
}
