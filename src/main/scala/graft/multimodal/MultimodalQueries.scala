package graft.multimodal

import org.apache.spark.sql.functions._
import graft.core.{Q, Tables}

/** One document payload treated as an opaque media blob. */
final case class MediaIn(doc_id: Long, data: Array[Byte])

/** Stub "decoded" media metadata. */
final case class MediaMeta(doc_id: Long, n_bytes: Long, magic: Long,
                           checksum100: Long, n_frames: Long)

/** Multimodal column plumbing (builder brief): image/audio/video as opaque
  * `binary` columns + typed metadata, decoded in batch per partition.
  *
  * The Spark-side plumbing is real — binary encoding, typed Dataset,
  * per-partition batch iteration (the Scala analogue of `mapInPandas`
  * batches), output schema. Decode comes in two tiers:
  *  - [[MediaCodecs]]: REAL pure-byte container decode for WAV/BMP/PPM
  *    (q110) — formats whose specs are public byte layouts.
  *  - [[MultimodalQueries.decodeStub]]: a deterministic stand-in for
  *    formats that need a codec library (JPEG/H.264 are not in this
  *    container); q51 keeps the stub to exercise the batch shape.
  */
object MultimodalQueries {

  /** STUB decoder — replace with a real codec (e.g. image dims, audio
    * sample rate, frame extraction). Deterministic fake: header byte,
    * 100-byte prefix checksum, fixed-stride "frame" count. */
  def decodeStub(m: MediaIn): MediaMeta = {
    val n = m.data.length.toLong
    val magic = if (n > 0) m.data(0).toLong & 0xff else -1L
    var sum = 0L
    var i = 0
    while (i < math.min(100, m.data.length)) {
      sum += m.data(i) & 0xff; i += 1
    }
    MediaMeta(m.doc_id, n, magic, sum % 65536L, n / 256L)
  }

  val all: Seq[Q] = Seq(

    // Binary ingestion → per-partition batch decode → metadata aggregation.
    // The oracle recomputes the stub's arithmetic from the UTF-8 bytes
    // (the corpus is ASCII, so codepoints == bytes).
    Q("q51_multimodal_meta",
      (s, d) => {
        val sp = s
        import sp.implicits._
        val blobs = Tables.documents(s, d)
          .selectExpr("doc_id", "encode(text, 'UTF-8') as data")
          .as[MediaIn]
        blobs.mapPartitions(_.map(decodeStub)).toDF()
          .groupBy((col("doc_id") % 10).as("shard"))
          .agg(count(lit(1)).as("n_docs"), sum("n_bytes").as("total_bytes"),
            sum("checksum100").as("sum_checksum"),
            sum("n_frames").as("total_frames"),
            countDistinct("magic").as("n_magics"))
      },
      Some("""SELECT doc_id % 10 AS shard, count(*) AS n_docs,
              CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
              CAST(sum(CASE WHEN len(text) = 0 THEN 0 ELSE
                list_reduce([0] || list_transform(
                  range(1, least(100, len(text)) + 1),
                  i -> ord(substr(text, i, 1))), (a, x) -> a + x) % 65536
                END) AS BIGINT) AS sum_checksum,
              CAST(sum(octet_length(encode(text)) // 256) AS BIGINT)
                AS total_frames,
              count(DISTINCT CASE WHEN len(text) > 0
                THEN ord(substr(text, 1, 1)) ELSE -1 END) AS n_magics
              FROM documents GROUP BY 1"""),
      doc = "binary media plumbing with stubbed per-partition decode"),

    // Frame sampling: fan a media blob out into fixed-stride frames
    // (video frame-sample / audio chunk shape): generator over the frame
    // count, per-frame feature from the frame's bytes. The explode happens
    // BEFORE the aggregation shuffle so map-side partial agg collapses the
    // fan-out, same as pro-rating.
    Q("q75_frame_sample",
      (s, d) => Tables.documents(s, d)
        .selectExpr("doc_id", "text",
          "encode(text, 'UTF-8') as data")
        .selectExpr("doc_id", "text",
          // frame k covers bytes [k*256, (k+1)*256); partial tail kept.
          // `text` rides through the explode so no second scan/join is
          // needed to recover the frame bytes
          "explode(sequence(0, int(ceil(length(data) / 256.0)) - 1))" +
            " as frame_id")
        .selectExpr("doc_id", "frame_id",
          "substring(text, frame_id * 256 + 1, 256) as frame")
        .selectExpr("doc_id", "frame_id",
          "length(frame) as frame_len",
          "cast(conv(substring(md5(frame), 1, 8), 16, 10) as bigint) % 997" +
            " as feature")
        .groupBy()
        .agg(count(lit(1)).as("n_frames"),
          countDistinct("feature").as("n_features"),
          sum("frame_len").as("bytes_covered"),
          max("frame_id").as("max_frame")),
      Some("""SELECT count(*) AS n_frames,
              count(DISTINCT feature) AS n_features,
              CAST(sum(frame_len) AS BIGINT) AS bytes_covered,
              max(frame_id) AS max_frame
              FROM (
                SELECT doc_id, frame_id,
                  len(substr(text, frame_id * 256 + 1, 256)) AS frame_len,
                  ('0x' || substr(md5(substr(text, frame_id * 256 + 1, 256)),
                    1, 8))::BIGINT % 997 AS feature
                FROM (
                  SELECT doc_id, text,
                    unnest(range(0, CAST(ceil(len(text) / 256.0) AS BIGINT)))
                    AS frame_id
                  FROM documents))"""),
      doc = "fixed-stride frame sampling over binary media columns"),

    // REAL container decode (no stub): build WAV/BMP/PPM blobs from the
    // document bytes per-partition, then decode them with the pure-byte
    // parsers in MediaCodecs. The oracle recomputes every decoded field
    // (dims, channels, sample rate, duration, payload size) from doc_id
    // and the text length directly — so the gate proves decode() inverts
    // the container encoding, not just that the pipeline runs.
    Q("q110_media_decode",
      (s, d) => {
        val sp = s
        import sp.implicits._
        Tables.documents(s, d)
          .selectExpr("doc_id", "encode(text, 'UTF-8') as data")
          .as[MediaIn]
          .mapPartitions(_.map { m =>
            val id = m.doc_id
            val blob = (id % 3).toInt match {
              case 0 =>
                val rate = 8000 * (1 + (id % 5)).toInt
                val ch = (1 + (id % 2)).toInt
                val ba = ch * 2 // 16-bit PCM
                val pcmLen = m.data.length - (m.data.length % ba)
                MediaCodecs.encodeWav(rate, ch, 16,
                  java.util.Arrays.copyOf(m.data, pcmLen))
              case 1 =>
                MediaCodecs.encodeBmp(1 + m.data.length % 64,
                  (1 + (id % 48)).toInt)
              case _ =>
                MediaCodecs.encodePpm((1 + (id % 32)).toInt,
                  1 + m.data.length % 16)
            }
            val meta = MediaCodecs.decode(blob).getOrElse(
              MediaCodecs.Meta("bad", -1, -1, -1, -1, -1, -1L, -1L))
            (meta.format, meta.width.toLong, meta.height.toLong,
              meta.channels.toLong, meta.sampleRate.toLong,
              meta.durationUs, meta.payloadBytes)
          })
          .toDF("format", "width", "height", "channels", "sample_rate",
            "duration_us", "payload_bytes")
          .groupBy("format")
          .agg(count(lit(1)).as("n"),
            sum("width").as("sum_w"), sum("height").as("sum_h"),
            sum("channels").as("sum_ch"), sum("sample_rate").as("sum_rate"),
            sum("duration_us").as("sum_dur_us"),
            sum("payload_bytes").as("sum_payload"))
      },
      Some("""SELECT format, count(*) AS n,
              CAST(sum(w) AS BIGINT) AS sum_w,
              CAST(sum(h) AS BIGINT) AS sum_h,
              CAST(sum(ch) AS BIGINT) AS sum_ch,
              CAST(sum(rate) AS BIGINT) AS sum_rate,
              CAST(sum(dur) AS BIGINT) AS sum_dur_us,
              CAST(sum(pb) AS BIGINT) AS sum_payload
              FROM (
                SELECT
                  CASE doc_id % 3 WHEN 0 THEN 'wav' WHEN 1 THEN 'bmp'
                    ELSE 'ppm' END AS format,
                  CASE doc_id % 3 WHEN 0 THEN 0
                    WHEN 1 THEN 1 + octet_length(encode(text)) % 64
                    ELSE 1 + doc_id % 32 END AS w,
                  CASE doc_id % 3 WHEN 0 THEN 0
                    WHEN 1 THEN 1 + doc_id % 48
                    ELSE 1 + octet_length(encode(text)) % 16 END AS h,
                  CASE doc_id % 3 WHEN 0 THEN 1 + doc_id % 2
                    WHEN 1 THEN 0 ELSE 3 END AS ch,
                  CASE doc_id % 3 WHEN 0 THEN 8000 * (1 + doc_id % 5)
                    ELSE 0 END AS rate,
                  CASE doc_id % 3 WHEN 0 THEN
                    ((octet_length(encode(text))
                      - octet_length(encode(text)) % ((1 + doc_id % 2) * 2))
                     * 1000000)
                    // (8000 * (1 + doc_id % 5) * (1 + doc_id % 2) * 2)
                    ELSE 0 END AS dur,
                  CASE doc_id % 3
                    WHEN 0 THEN octet_length(encode(text))
                      - octet_length(encode(text)) % ((1 + doc_id % 2) * 2)
                    WHEN 1 THEN
                      ((24 * (1 + octet_length(encode(text)) % 64) + 31)
                       // 32) * 4 * (1 + doc_id % 48)
                    ELSE (1 + doc_id % 32)
                      * (1 + octet_length(encode(text)) % 16) * 3
                    END AS pb
                FROM documents)
              GROUP BY format"""),
      doc = "real WAV/BMP/PPM container decode (pure-byte, no codec lib)"),

    // Audio FEATURE extraction, not just metadata: deterministic 16-bit
    // PCM rides a real RIFF/WAVE container; the extractor re-walks the
    // chunks ([[MediaCodecs.wavSamples16]], sign-extending int16 LE)
    // and computes per-32-sample-frame energy (sum of squares — exact
    // integers end-to-end, so the oracle recomputes the identical
    // values from the generating arithmetic without touching bytes).
    // The per-partition batch shape is the same mapInPandas-analogue as
    // q51/q110; a container-walk or sign-extension defect shifts every
    // energy sum.
    Q("q176_audio_energy",
      (s, d) => {
        val sp = s
        import sp.implicits._
        Tables.documents(s, d)
          .selectExpr("doc_id", "n_chars")
          .as[(Long, Long)]
          .mapPartitions(_.map { case (id, nChars) =>
            val n = (nChars % 256 + 64).toInt
            val pcm = new Array[Byte](2 * n)
            (0 until n).foreach { i =>
              val v = (((id * 31 + i * 17) % 2001) - 1000).toShort
              pcm(2 * i) = (v & 0xff).toByte
              pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
            }
            val blob = MediaCodecs.encodeWav(16000, 1, 16, pcm)
            val samples = MediaCodecs.wavSamples16(blob)
            val frames = samples.grouped(32).map(fr =>
              fr.foldLeft(0L)((a, x) => a + x.toLong * x)).toSeq
            (id % 10, frames.size.toLong, frames.sum,
              if (frames.isEmpty) 0L else frames.max)
          })
          .toDF("bucket", "n_frames", "energy", "max_frame")
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_frames").as("n_frames"),
            sum("energy").as("total_energy"),
            max("max_frame").as("max_frame_energy"))
      },
      Some("""WITH samp AS (SELECT doc_id, CAST(i AS BIGINT) AS i,
                ((doc_id * 31 + i * 17) % 2001) - 1000 AS s
              FROM documents,
                unnest(generate_series(0, n_chars % 256 + 63)) AS g(i)),
            fr AS (SELECT doc_id, i // 32 AS f, sum(s * s) AS e
              FROM samp GROUP BY 1, 2),
            docs AS (SELECT doc_id, doc_id % 10 AS bucket,
                count(*) AS n_frames, sum(e) AS energy, max(e) AS mx
              FROM fr GROUP BY 1, 2)
            SELECT bucket, count(*) AS n_docs,
              CAST(sum(n_frames) AS BIGINT) AS n_frames,
              CAST(sum(energy) AS BIGINT) AS total_energy,
              CAST(max(mx) AS BIGINT) AS max_frame_energy
            FROM docs GROUP BY bucket"""),
      doc = "PCM frame energy through the RIFF walk, integer-exact"),

    // Image FEATURE extraction through the real 24-bpp BMP layout:
    // deterministic per-(x,y) RGB rides the container (bottom-up rows,
    // BGR channels, 4-byte stride padding — widths 1..5 sweep every
    // padding case), the extractor undoes all three, and a 4-bucket
    // luminance histogram aggregates corpus-wide. The pixel value
    // depends on (x,y), so a row-order or padding defect moves counts
    // between buckets — the oracle recomputes from the generating
    // arithmetic alone.
    Q("q178_image_hist",
      (s, d) => {
        val sp = s
        import sp.implicits._
        Tables.documents(s, d)
          .selectExpr("doc_id").as[Long]
          .mapPartitions(_.flatMap { id =>
            val w = (1 + id % 5).toInt
            val h = (1 + id % 7).toInt
            val rgb = new Array[Byte](w * h * 3)
            (0 until h).foreach { y =>
              (0 until w).foreach { x =>
                val o = (y * w + x) * 3
                rgb(o) = (((id + 3 * x + 7 * y) % 256) & 0xff).toByte
                rgb(o + 1) = (((2 * x + 11 * y + 1) % 256) & 0xff).toByte
                rgb(o + 2) = (((5 * x + y + id % 16) % 256) & 0xff).toByte
              }
            }
            val blob = MediaCodecs.encodeBmp24(w, h, rgb)
            val px = MediaCodecs.bmpPixels24(blob)
            (0 until px.length / 3).iterator.map { i =>
              val lum = (px(3 * i) & 0xff) + (px(3 * i + 1) & 0xff) +
                (px(3 * i + 2) & 0xff)
              (lum / 192, lum.toLong)
            }
          })
          .toDF("bucket", "lum")
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_px"), sum("lum").as("sum_lum"))
      },
      Some("""WITH px AS (SELECT
                ((doc_id + 3 * x + 7 * y) % 256) +
                ((2 * x + 11 * y + 1) % 256) +
                ((5 * x + y + doc_id % 16) % 256) AS lum
              FROM documents,
                unnest(generate_series(0, CAST(doc_id % 5 AS BIGINT)))
                  AS gx(x),
                unnest(generate_series(0, CAST(doc_id % 7 AS BIGINT)))
                  AS gy(y))
            SELECT lum // 192 AS bucket, count(*) AS n_px,
              CAST(sum(lum) AS BIGINT) AS sum_lum
            FROM px GROUP BY 1"""),
      doc = "BMP pixel walk (bottom-up/BGR/stride) to luminance histogram"),

    // Image RESIZE (the remaining verb of the brief's decode /
    // feature-extract / resize / frame-sample set): nearest-neighbor
    // downscale to 4x4 over REAL decoded BMP pixels — source index
    // xs = xd*w/4 (integer floor, the canonical NN mapping), so every
    // value is reproducible arithmetic. Output is the corpus-mean
    // image: per destination cell, the luminance sum across all
    // documents — what an embedding/thumbnail stage would feed
    // downstream. Per-partition batch shape as q51/q110/q176.
    Q("q183_image_resize",
      (s, d) => {
        val sp = s
        import sp.implicits._
        Tables.documents(s, d)
          .selectExpr("doc_id").as[Long]
          .mapPartitions(_.flatMap { id =>
            val w = (8 + id % 9).toInt
            val h = (8 + id % 5).toInt
            val rgb = new Array[Byte](w * h * 3)
            (0 until h).foreach { y =>
              (0 until w).foreach { x =>
                val o = (y * w + x) * 3
                rgb(o) = (((id + 3 * x + 7 * y) % 256) & 0xff).toByte
                rgb(o + 1) = (((2 * x + 11 * y + 1) % 256) & 0xff).toByte
                rgb(o + 2) = (((5 * x + y + id % 16) % 256) & 0xff).toByte
              }
            }
            val px = MediaCodecs.bmpPixels24(
              MediaCodecs.encodeBmp24(w, h, rgb))
            for (yd <- 0 until 4; xd <- 0 until 4) yield {
              val xs = xd * w / 4
              val ys = yd * h / 4
              val o = (ys * w + xs) * 3
              val lum = (px(o) & 0xff) + (px(o + 1) & 0xff) +
                (px(o + 2) & 0xff)
              (yd * 4 + xd, lum.toLong)
            }
          })
          .toDF("cell", "lum")
          .groupBy("cell")
          .agg(count(lit(1)).as("n"), sum("lum").as("sum_lum"))
      },
      Some("""WITH cells AS (SELECT doc_id,
                yd * 4 + xd AS cell,
                (xd * (8 + doc_id % 9)) // 4 AS xs,
                (yd * (8 + doc_id % 5)) // 4 AS ys
              FROM documents,
                unnest(generate_series(0, 3)) AS gx(xd),
                unnest(generate_series(0, 3)) AS gy(yd)),
            px AS (SELECT cell,
                ((doc_id + 3 * xs + 7 * ys) % 256) +
                ((2 * xs + 11 * ys + 1) % 256) +
                ((5 * xs + ys + doc_id % 16) % 256) AS lum
              FROM cells)
            SELECT cell, count(*) AS n,
              CAST(sum(lum) AS BIGINT) AS sum_lum
            FROM px GROUP BY cell"""),
      doc = "nearest-neighbor 4x4 resize over decoded BMP pixels"),

    // BASELINE JPEG through the full T.81 pipeline (Jpeg.scala): per
    // document, a (1+id%3)x(1+id%2)-block image whose 8x8 blocks carry
    // CONSTANT per-block YCbCr from doc_id arithmetic, encoded with the
    // real encoder (FDCT, quant, Annex-K Huffman, byte stuffing) and
    // decoded by the real decoder (marker walk, canonical Huffman,
    // dequant, IDCT, fixed-point YCbCr->RGB). Constant blocks are
    // DC-only and the DC quant step of 8 makes the sample roundtrip
    // EXACT, so the oracle regenerates every pixel from the arithmetic
    // plus the same fixed-point color formula (floor-division idiom) —
    // a huffman/predictor/IDCT/stuffing defect anywhere moves the
    // sums. Per-partition batch shape as q110/q178.
    Q("q267_jpeg_decode",
      (s, d) => {
        val sp = s
        import sp.implicits._
        Tables.documents(s, d)
          .selectExpr("doc_id").as[Long]
          .mapPartitions(_.flatMap { id =>
            val wb = (1 + id % 3).toInt
            val hb = (1 + id % 2).toInt
            val w = wb * 8
            val h = hb * 8
            val planes = Array.fill(3)(new Array[Int](w * h))
            for (by <- 0 until hb; bx <- 0 until wb) {
              val yv = ((id * 5 + 17 * bx + 29 * by) % 256).toInt
              val cb = ((id + 7 * bx + 3 * by) % 256).toInt
              val cr = ((id * 3 + 11 * bx + 13 * by) % 256).toInt
              for (py <- by * 8 until by * 8 + 8;
                   px <- bx * 8 until bx * 8 + 8) {
                planes(0)(py * w + px) = yv
                planes(1)(py * w + px) = cb
                planes(2)(py * w + px) = cr
              }
            }
            val dec = Jpeg.decode(Jpeg.encode(w, h, planes)).get
            val px = Jpeg.rgb(dec)
            (0 until dec.width * dec.height).iterator.map { i =>
              val r = px(3 * i) & 0xff
              val g = px(3 * i + 1) & 0xff
              val b = px(3 * i + 2) & 0xff
              (r + g + b, r.toLong, g.toLong, b.toLong)
            }
          })
          .toDF("lum", "r", "g", "b")
          .groupBy(expr("lum DIV 192").as("bucket"))
          .agg(count(lit(1)).as("n_px"),
            sum("lum").as("sum_lum"), sum("r").as("sum_r"),
            sum("g").as("sum_g"), sum("b").as("sum_b"))
      },
      Some("""WITH blocks AS (SELECT doc_id, bx, by,
                (doc_id * 5 + 17 * bx + 29 * by) % 256 AS y,
                (doc_id + 7 * bx + 3 * by) % 256 AS cb,
                (doc_id * 3 + 11 * bx + 13 * by) % 256 AS cr
              FROM documents,
                unnest(generate_series(0, CAST(doc_id % 3 AS BIGINT)))
                  AS gx(bx),
                unnest(generate_series(0, CAST(doc_id % 2 AS BIGINT)))
                  AS gy(by)),
            fx AS (SELECT doc_id,
                y * 65536 + 91881 * (cr - 128) + 32768 AS xr,
                y * 65536 - 22554 * (cb - 128)
                  - 46802 * (cr - 128) + 32768 AS xg,
                y * 65536 + 116130 * (cb - 128) + 32768 AS xb
              FROM blocks),
            px AS (SELECT
                GREATEST(0, LEAST(255,
                  (xr - ((xr % 65536) + 65536) % 65536) // 65536)) AS r,
                GREATEST(0, LEAST(255,
                  (xg - ((xg % 65536) + 65536) % 65536) // 65536)) AS g,
                GREATEST(0, LEAST(255,
                  (xb - ((xb % 65536) + 65536) % 65536) // 65536)) AS b
              FROM fx)
            SELECT (r + g + b) // 192 AS bucket,
              64 * count(*) AS n_px,
              CAST(64 * sum(r + g + b) AS BIGINT) AS sum_lum,
              CAST(64 * sum(r) AS BIGINT) AS sum_r,
              CAST(64 * sum(g) AS BIGINT) AS sum_g,
              CAST(64 * sum(b) AS BIGINT) AS sum_b
            FROM px GROUP BY 1"""),
      doc = "baseline JPEG (T.81) encode/decode to RGB histogram, " +
        "integer-exact via DC-only blocks + fixed-point color"),

    // PNG through the full lossless pipeline (Png.scala: ImageIO's
    // writer -> CRC-validated chunk walk -> ImageIO's reader -> the
    // Image layout): per document an RGB or RGBA image of ARBITRARY
    // per-pixel values — lossless means the gate needs no DC-only
    // structure like q267; every byte must survive. The
    // position-weighted checksum pins pixel ORDER, which a channel or
    // stride defect scrambles even when value histograms survive.
    Q("q270_png_decode",
      (s, d) => {
        val sp = s
        import sp.implicits._
        Tables.documents(s, d)
          .selectExpr("doc_id").as[Long]
          .mapPartitions(_.flatMap { id =>
            val w = (4 + id % 9).toInt
            val h = (3 + id % 6).toInt
            val ch = (3 + id % 2).toInt
            val px = new Array[Byte](w * h * ch)
            for (y <- 0 until h; x <- 0 until w; c <- 0 until ch)
              px((y * w + x) * ch + c) =
                (((id * (c + 2) + x * 19 + y * 41 + c * 7) % 256)
                  & 0xff).toByte
            val img = Png.Image(w, h, ch, px)
            // odd docs write Adam7-interlaced: the seven-pass
            // reduced-image scatter/gather is on the hot path for half
            // the corpus, and losslessness keeps the oracle identical
            val back = Png.decode(
              Png.encode(img, interlaced = id % 2 == 1)).get
            val st = back.width * back.channels
            (0 until back.height).iterator.flatMap { y =>
              (0 until back.width).iterator.flatMap { x =>
                (0 until back.channels).iterator.map { c =>
                  val v =
                    (back.pixels(y * st + x * back.channels + c)
                      & 0xff).toLong
                  (c.toLong, v, v * ((y * back.width + x) % 17 + 1))
                }
              }
            }
          })
          .toDF("channel", "v", "wv")
          .groupBy("channel")
          .agg(count(lit(1)).as("n_px"), sum("v").as("sum_v"),
            sum("wv").as("wsum"))
      },
      Some("""WITH px AS (SELECT
                c AS channel,
                (doc_id * (c + 2) + x * 19 + y * 41 + c * 7) % 256 AS v,
                (y * (4 + doc_id % 9) + x) % 17 + 1 AS wgt
              FROM documents,
                unnest(generate_series(0, CAST(3 + doc_id % 6 - 1 AS BIGINT)))
                  AS gy(y),
                unnest(generate_series(0, CAST(4 + doc_id % 9 - 1 AS BIGINT)))
                  AS gx(x),
                unnest(generate_series(0, CAST(3 + doc_id % 2 - 1 AS BIGINT)))
                  AS gc(c))
            SELECT channel, count(*) AS n_px,
              CAST(sum(v) AS BIGINT) AS sum_v,
              CAST(sum(v * wgt) AS BIGINT) AS wsum
            FROM px GROUP BY 1"""),
      doc = "PNG (RFC 2083) encode/decode through ImageIO behind a " +
        "CRC-validated chunk walk, bit-exact on arbitrary pixels"),

    // GIF through the full LZW pipeline (Gif.scala: palette + variable
    // width codes + clear/EOI + sub-block framing + optional 4-pass
    // interlace): per document a paletted image whose palette AND
    // index plane come from doc_id arithmetic; odd docs encode
    // INTERLACED so the de-interlace path is half the corpus. GIF is
    // lossless, so the oracle regenerates every pixel through the same
    // palette lookup; the position-weighted checksum pins row order —
    // exactly what a broken interlace pass scrambles.
    Q("q273_gif_decode",
      (s, d) => {
        val sp = s
        import sp.implicits._
        Tables.documents(s, d)
          .selectExpr("doc_id").as[Long]
          .mapPartitions(_.flatMap { id =>
            val w = (5 + id % 8).toInt
            val h = (4 + id % 5).toInt
            val nPal = (4 + id % 13).toInt
            val pal = Array.tabulate(nPal)(i =>
              ((id * 37 + i * 1103) % 16777216).toInt)
            val idx = new Array[Byte](w * h)
            for (y <- 0 until h; x <- 0 until w)
              idx(y * w + x) = ((id + x * 3 + y * 7) % nPal).toByte
            val bytes = Gif.encode(Gif.Image(w, h, pal, idx),
              interlaced = id % 2 == 1)
            val back = Gif.decode(bytes).get
            val px = Gif.rgb(back)
            (0 until back.width * back.height).iterator.map { i =>
              val r = px(3 * i) & 0xff
              val g = px(3 * i + 1) & 0xff
              val b = px(3 * i + 2) & 0xff
              (r + g + b, r.toLong, g.toLong, b.toLong,
                (r + g + b).toLong * (i % 13 + 1))
            }
          })
          .toDF("lum", "r", "g", "b", "wv")
          .groupBy(expr("lum DIV 192").as("bucket"))
          .agg(count(lit(1)).as("n_px"), sum("r").as("sum_r"),
            sum("g").as("sum_g"), sum("b").as("sum_b"),
            sum("wv").as("wsum"))
      },
      Some("""WITH px AS (SELECT
                (doc_id * 37 +
                  ((doc_id + x * 3 + y * 7) % (4 + doc_id % 13)) * 1103)
                  % 16777216 AS c,
                y * (5 + doc_id % 8) + x AS i
              FROM documents,
                unnest(generate_series(0, CAST(4 + doc_id % 5 - 1 AS BIGINT)))
                  AS gy(y),
                unnest(generate_series(0, CAST(5 + doc_id % 8 - 1 AS BIGINT)))
                  AS gx(x)),
            ch AS (SELECT (c // 65536) % 256 AS r,
                (c // 256) % 256 AS g, c % 256 AS b, i
              FROM px)
            SELECT (r + g + b) // 192 AS bucket, count(*) AS n_px,
              CAST(sum(r) AS BIGINT) AS sum_r,
              CAST(sum(g) AS BIGINT) AS sum_g,
              CAST(sum(b) AS BIGINT) AS sum_b,
              CAST(sum((r + g + b) * (i % 13 + 1)) AS BIGINT) AS wsum
            FROM ch GROUP BY 1"""),
      doc = "GIF (LZW) encode/decode incl. interlace, lossless exact " +
        "through the palette"),

    // JPEG 4:2:0 — the chroma-subsampled layout most real files use
    // (q267 gates 4:4:4): luma constant per 8x8 block, chroma constant
    // per 16x16 MCU, so the box-average downsample and replication
    // upsample are identity on the fixture and the WHOLE subsampled
    // pipeline (2x2-luma MCU interleave, separate chroma block dims,
    // upsample) stays integer-exact. Same fixed-point color formula
    // and oracle idiom as q267; an MCU-interleave or upsample defect
    // moves pixels between chroma regions and breaks the sums.
    Q("q276_jpeg_420",
      (s, d) => {
        val sp = s
        import sp.implicits._
        Tables.documents(s, d)
          .selectExpr("doc_id").as[Long]
          .mapPartitions(_.flatMap { id =>
            val mw = (1 + id % 2).toInt
            val mh = (1 + id % 3).toInt
            val w = mw * 16
            val h = mh * 16
            val planes = Array.fill(3)(new Array[Int](w * h))
            for (by <- 0 until 2 * mh; bx <- 0 until 2 * mw) {
              val yv = ((id * 5 + 17 * bx + 29 * by) % 256).toInt
              for (py <- by * 8 until by * 8 + 8;
                   px <- bx * 8 until bx * 8 + 8)
                planes(0)(py * w + px) = yv
            }
            for (my <- 0 until mh; mx <- 0 until mw) {
              val cb = ((id + 7 * mx + 3 * my) % 256).toInt
              val cr = ((id * 3 + 11 * mx + 13 * my) % 256).toInt
              for (py <- my * 16 until my * 16 + 16;
                   px <- mx * 16 until mx * 16 + 16) {
                planes(1)(py * w + px) = cb
                planes(2)(py * w + px) = cr
              }
            }
            val dec = Jpeg.decode(
              Jpeg.encode(w, h, planes, subsample420 = true)).get
            val px = Jpeg.rgb(dec)
            (0 until dec.width * dec.height).iterator.map { i =>
              val r = px(3 * i) & 0xff
              val g = px(3 * i + 1) & 0xff
              val b = px(3 * i + 2) & 0xff
              (r + g + b, r.toLong, g.toLong, b.toLong)
            }
          })
          .toDF("lum", "r", "g", "b")
          .groupBy(expr("lum DIV 192").as("bucket"))
          .agg(count(lit(1)).as("n_px"),
            sum("lum").as("sum_lum"), sum("r").as("sum_r"),
            sum("g").as("sum_g"), sum("b").as("sum_b"))
      },
      Some("""WITH blocks AS (SELECT doc_id, bx, by,
                (doc_id * 5 + 17 * bx + 29 * by) % 256 AS y,
                (doc_id + 7 * (bx // 2) + 3 * (by // 2)) % 256 AS cb,
                (doc_id * 3 + 11 * (bx // 2) + 13 * (by // 2)) % 256
                  AS cr
              FROM documents,
                unnest(generate_series(0,
                  CAST(2 * (1 + doc_id % 2) - 1 AS BIGINT))) AS gx(bx),
                unnest(generate_series(0,
                  CAST(2 * (1 + doc_id % 3) - 1 AS BIGINT))) AS gy(by)),
            fx AS (SELECT doc_id,
                y * 65536 + 91881 * (cr - 128) + 32768 AS xr,
                y * 65536 - 22554 * (cb - 128)
                  - 46802 * (cr - 128) + 32768 AS xg,
                y * 65536 + 116130 * (cb - 128) + 32768 AS xb
              FROM blocks),
            px AS (SELECT
                GREATEST(0, LEAST(255,
                  (xr - ((xr % 65536) + 65536) % 65536) // 65536)) AS r,
                GREATEST(0, LEAST(255,
                  (xg - ((xg % 65536) + 65536) % 65536) // 65536)) AS g,
                GREATEST(0, LEAST(255,
                  (xb - ((xb % 65536) + 65536) % 65536) // 65536)) AS b
              FROM fx)
            SELECT (r + g + b) // 192 AS bucket,
              64 * count(*) AS n_px,
              CAST(64 * sum(r + g + b) AS BIGINT) AS sum_lum,
              CAST(64 * sum(r) AS BIGINT) AS sum_r,
              CAST(64 * sum(g) AS BIGINT) AS sum_g,
              CAST(64 * sum(b) AS BIGINT) AS sum_b
            FROM px GROUP BY 1"""),
      doc = "JPEG 4:2:0 chroma subsampling: MCU interleave + box " +
        "downsample + replication upsample, integer-exact"),

    // PROGRESSIVE JPEG (SOF2) — q267's fixture through the multi-scan
    // pipeline: an interleaved DC scan then per-component AC band
    // scans, accumulated in the coefficient domain and IDCT'd at EOI.
    // The progressive encoder emits the SAME quantized coefficients as
    // the baseline path, so the DC-only fixture decodes integer-exact
    // and the oracle is q267's arithmetic verbatim — a scan-order,
    // EOB-run, band-bound, or coefficient-accumulation defect breaks
    // the sums. (Successive approximation — which our encoder never
    // emits — is gated in JpegSpec against javax.imageio's writer.)
    Q("q277_jpeg_progressive",
      (s, d) => {
        val sp = s
        import sp.implicits._
        Tables.documents(s, d)
          .selectExpr("doc_id").as[Long]
          .mapPartitions(_.flatMap { id =>
            val wb = (1 + id % 3).toInt
            val hb = (1 + id % 2).toInt
            val w = wb * 8
            val h = hb * 8
            val planes = Array.fill(3)(new Array[Int](w * h))
            for (by <- 0 until hb; bx <- 0 until wb) {
              val yv = ((id * 5 + 17 * bx + 29 * by) % 256).toInt
              val cb = ((id + 7 * bx + 3 * by) % 256).toInt
              val cr = ((id * 3 + 11 * bx + 13 * by) % 256).toInt
              for (py <- by * 8 until by * 8 + 8;
                   px <- bx * 8 until bx * 8 + 8) {
                planes(0)(py * w + px) = yv
                planes(1)(py * w + px) = cb
                planes(2)(py * w + px) = cr
              }
            }
            val dec = Jpeg.decode(Jpeg.encodeProgressive(w, h, planes)).get
            val px = Jpeg.rgb(dec)
            (0 until dec.width * dec.height).iterator.map { i =>
              val r = px(3 * i) & 0xff
              val g = px(3 * i + 1) & 0xff
              val b = px(3 * i + 2) & 0xff
              (r + g + b, r.toLong, g.toLong, b.toLong)
            }
          })
          .toDF("lum", "r", "g", "b")
          .groupBy(expr("lum DIV 192").as("bucket"))
          .agg(count(lit(1)).as("n_px"),
            sum("lum").as("sum_lum"), sum("r").as("sum_r"),
            sum("g").as("sum_g"), sum("b").as("sum_b"))
      },
      Some("""WITH blocks AS (SELECT doc_id, bx, by,
                (doc_id * 5 + 17 * bx + 29 * by) % 256 AS y,
                (doc_id + 7 * bx + 3 * by) % 256 AS cb,
                (doc_id * 3 + 11 * bx + 13 * by) % 256 AS cr
              FROM documents,
                unnest(generate_series(0, CAST(doc_id % 3 AS BIGINT)))
                  AS gx(bx),
                unnest(generate_series(0, CAST(doc_id % 2 AS BIGINT)))
                  AS gy(by)),
            fx AS (SELECT doc_id,
                y * 65536 + 91881 * (cr - 128) + 32768 AS xr,
                y * 65536 - 22554 * (cb - 128)
                  - 46802 * (cr - 128) + 32768 AS xg,
                y * 65536 + 116130 * (cb - 128) + 32768 AS xb
              FROM blocks),
            px AS (SELECT
                GREATEST(0, LEAST(255,
                  (xr - ((xr % 65536) + 65536) % 65536) // 65536)) AS r,
                GREATEST(0, LEAST(255,
                  (xg - ((xg % 65536) + 65536) % 65536) // 65536)) AS g,
                GREATEST(0, LEAST(255,
                  (xb - ((xb % 65536) + 65536) % 65536) // 65536)) AS b
              FROM fx)
            SELECT (r + g + b) // 192 AS bucket,
              64 * count(*) AS n_px,
              CAST(64 * sum(r + g + b) AS BIGINT) AS sum_lum,
              CAST(64 * sum(r) AS BIGINT) AS sum_r,
              CAST(64 * sum(g) AS BIGINT) AS sum_g,
              CAST(64 * sum(b) AS BIGINT) AS sum_b
            FROM px GROUP BY 1"""),
      doc = "progressive JPEG (SOF2): multi-scan coefficient " +
        "accumulation, integer-exact on the q267 fixture"),

    // WebP lossless (VP8L) through the whole codec (Webp.scala: RIFF
    // container + canonical prefix codes + LZ77 plane-code distances
    // + color cache + meta tiling + all four transforms): per document
    // an ARGB image whose pixels come from doc_id arithmetic; the
    // ENCODER PROFILE cycles with doc_id so every sixth of the corpus
    // exercises a different path — plain, subtract-green, palette
    // (2..16 colors, sub-byte packed), one of the 14 spatial
    // predictors, the cross-color transform, and cache+meta tiling.
    // VP8L is lossless, so the oracle regenerates every pixel from
    // the same arithmetic; the position-weighted checksum pins row
    // order (what a broken transform inverse or misaligned prefix
    // code scrambles first).
    Q("q282_webp_decode",
      (s, d) => {
        val sp = s
        import sp.implicits._
        Tables.documents(s, d)
          .selectExpr("doc_id").as[Long]
          .mapPartitions(_.flatMap { id =>
            val mode6 = (id % 6).toInt
            val w = if (mode6 == 5) (5 + id % 8).toInt
              else (4 + id % 9).toInt
            val h = if (mode6 == 5) (3 + id % 2).toInt
              else (3 + id % 4).toInt
            val px = new Array[Int](w * h)
            if (mode6 == 2) {
              val nc = (2 + id % 15).toInt
              val pal = Array.tabulate(nc) { k =>
                0xff000000 |
                  (((id + k * 37) % 256).toInt << 16) |
                  (((id * 2 + k * 59) % 256).toInt << 8) |
                  ((id * 3 + k * 83) % 256).toInt
              }
              for (y <- 0 until h; x <- 0 until w)
                px(y * w + x) = pal(((id + x * 3 + y * 7) % nc).toInt)
            } else {
              for (y <- 0 until h; x <- 0 until w)
                px(y * w + x) = 0xff000000 |
                  (((id * 3 + x * 19 + y * 41) % 256).toInt << 16) |
                  (((id * 5 + x * 7 + y * 13) % 256).toInt << 8) |
                  ((id * 7 + x * 11 + y * 3) % 256).toInt
            }
            val im = Webp.Image(w, h, px)
            val bytes = mode6 match {
              case 0 => Webp.encode(im, Webp.ModePlain)
              case 1 => Webp.encode(im, Webp.ModeSubGreen)
              case 2 => Webp.encode(im, Webp.ModePalette)
              case 3 => Webp.encode(im,
                Webp.ModePredictor + ((id / 6) % 14).toInt)
              case 4 => Webp.encode(im, Webp.ModeColor)
              case _ => Webp.encode(im, Webp.ModePlain,
                cacheBits = (1 + id % 8).toInt, metaSplit = true)
            }
            val back = Webp.decode(bytes)
              .getOrElse(sys.error(s"webp decode failed doc $id"))
            (0 until h).iterator.flatMap { y =>
              (0 until w).iterator.flatMap { x =>
                val p = back.argb(y * w + x)
                val wgt = (y * w + x) % 17 + 1
                Iterator(
                  (0L, ((p >> 16) & 0xff).toLong, wgt.toLong),
                  (1L, ((p >> 8) & 0xff).toLong, wgt.toLong),
                  (2L, (p & 0xff).toLong, wgt.toLong),
                  (3L, (p >>> 24).toLong, wgt.toLong))
              }
            }.map { case (c, v, wgt) => (c, v, v * wgt) }
          })
          .toDF("channel", "v", "wv")
          .groupBy("channel")
          .agg(count(lit(1)).as("n_px"), sum("v").as("sum_v"),
            sum("wv").as("wsum"))
      },
      Some("""WITH dims AS (SELECT doc_id,
                CAST(doc_id % 6 AS BIGINT) AS m,
                CASE WHEN doc_id % 6 = 5 THEN 5 + doc_id % 8
                     ELSE 4 + doc_id % 9 END AS w,
                CASE WHEN doc_id % 6 = 5 THEN 3 + doc_id % 2
                     ELSE 3 + doc_id % 4 END AS h
              FROM documents),
            px AS (SELECT doc_id, m, w, x, y,
                CASE WHEN m = 2
                  THEN (doc_id + ((doc_id + x * 3 + y * 7)
                    % (2 + doc_id % 15)) * 37) % 256
                  ELSE (doc_id * 3 + x * 19 + y * 41) % 256 END AS r,
                CASE WHEN m = 2
                  THEN (doc_id * 2 + ((doc_id + x * 3 + y * 7)
                    % (2 + doc_id % 15)) * 59) % 256
                  ELSE (doc_id * 5 + x * 7 + y * 13) % 256 END AS g,
                CASE WHEN m = 2
                  THEN (doc_id * 3 + ((doc_id + x * 3 + y * 7)
                    % (2 + doc_id % 15)) * 83) % 256
                  ELSE (doc_id * 7 + x * 11 + y * 3) % 256 END AS b,
                (y * w + x) % 17 + 1 AS wgt
              FROM dims,
                unnest(generate_series(0, CAST(h - 1 AS BIGINT)))
                  AS gy(y),
                unnest(generate_series(0, CAST(w - 1 AS BIGINT)))
                  AS gx(x)),
            ch AS (SELECT 0 AS channel, r AS v, wgt FROM px
              UNION ALL SELECT 1, g, wgt FROM px
              UNION ALL SELECT 2, b, wgt FROM px
              UNION ALL SELECT 3, 255, wgt FROM px)
            SELECT channel, count(*) AS n_px,
              CAST(sum(v) AS BIGINT) AS sum_v,
              CAST(sum(v * wgt) AS BIGINT) AS wsum
            FROM ch GROUP BY 1"""),
      doc = "WebP lossless (VP8L): prefix codes + LZ77 + cache + meta" +
        " + all four transforms, bit-exact on arbitrary pixels"),

    // TIFF 6.0 (multimodal/Tiff): the tagged scanned-document /
    // geo-raster container — IFD walk, strip layout, PackBits and
    // TIFF-LZW (MSB-first, EARLY code-width change, table reset) plus
    // the horizontal-differencing predictor. Per doc the compression
    // cycles none/PackBits/LZW (+predictor on half the LZW docs) and
    // the strip height varies, so every strip/compression path is on
    // the corpus hot path; losslessness keeps the oracle the plain
    // pixel arithmetic. Cross-validated against javax.imageio's
    // independent TIFF plugin in both directions (TiffSpec).
    Q("q289_tiff_decode",
      (s, d) => {
        val sp = s
        import sp.implicits._
        Tables.documents(s, d)
          .selectExpr("doc_id").as[Long]
          .mapPartitions(_.flatMap { id =>
            val w = (5 + id % 8).toInt
            val h = (3 + id % 5).toInt
            val ch = (1 + id % 3).toInt // gray / gray+alpha / rgb
            val px = new Array[Byte](w * h * ch)
            for (y <- 0 until h; x <- 0 until w; c <- 0 until ch)
              px((y * w + x) * ch + c) =
                (((id * (c + 3) + x * 23 + y * 37 + c * 11) % 256)
                  & 0xff).toByte
            val comp = (id % 3) match {
              case 0 => Tiff.CompNone
              case 1 => Tiff.CompPackBits
              case _ => Tiff.CompLzw
            }
            val pred = comp == Tiff.CompLzw && id % 2 == 1
            val bytes = Tiff.encode(Tiff.Image(w, h, ch, px), comp,
              predictor = pred, rowsPerStrip = (2 + id % 4).toInt)
            val back = Tiff.decode(bytes).get
            val st = back.width * back.channels
            (0 until back.height).iterator.flatMap { y =>
              (0 until back.width).iterator.flatMap { x =>
                (0 until back.channels).iterator.map { c =>
                  val v =
                    (back.pixels(y * st + x * back.channels + c)
                      & 0xff).toLong
                  (c.toLong, v, v * ((y * back.width + x) % 17 + 1))
                }
              }
            }
          })
          .toDF("channel", "v", "wv")
          .groupBy("channel")
          .agg(count(lit(1)).as("n_px"), sum("v").as("sum_v"),
            sum("wv").as("wsum"))
      },
      Some("""WITH px AS (SELECT
                c AS channel,
                (doc_id * (c + 3) + x * 23 + y * 37 + c * 11) % 256 AS v,
                (y * (5 + doc_id % 8) + x) % 17 + 1 AS wgt
              FROM documents,
                unnest(generate_series(0, CAST(3 + doc_id % 5 - 1 AS BIGINT)))
                  AS gy(y),
                unnest(generate_series(0, CAST(5 + doc_id % 8 - 1 AS BIGINT)))
                  AS gx(x),
                unnest(generate_series(0, CAST(1 + doc_id % 3 - 1 AS BIGINT)))
                  AS gc(c))
            SELECT channel, count(*) AS n_px,
              CAST(sum(v) AS BIGINT) AS sum_v,
              CAST(sum(v * wgt) AS BIGINT) AS wsum
            FROM px GROUP BY 1"""),
      doc = "TIFF 6.0 encode/decode: IFD + strips + PackBits + " +
        "TIFF-LZW + predictor, bit-exact on arbitrary pixels"),

    // The TIFF WIDTH axis (VERDICT r10 #5): 16-bit samples and the
    // BigTIFF (version 43) container — 8-byte offsets, 20-byte IFD
    // entries, LONG8 strip arrays — cycled against the classic layout
    // on the same corpus. Each doc picks bits from doc_id%2, container
    // from (doc_id DIV 2)%2 and compression from doc_id%3; the decoded
    // samples (big-endian-normalized u16s for 16-bit) reconcile per
    // (bits, container, channel) against the generator arithmetic, so
    // a byte-order slip, a mis-sized IFD entry or a truncated LONG8
    // array shifts a group sum. 16-bit lanes are ImageIO
    // cross-validated in TiffSpec; BigTIFF structure is pinned there
    // too (the JDK plugin reads only classic TIFF).
    Q("q303_tiff_wide",
      (s, d) => {
        val sp = s
        import sp.implicits._
        Tables.documents(s, d)
          .selectExpr("doc_id").as[Long]
          .mapPartitions(_.flatMap { id =>
            val w = (4 + id % 5).toInt
            val h = (3 + id % 4).toInt
            val ch = (1 + id % 3).toInt
            val bits = if (id % 2 == 0) 8 else 16
            val big = (id / 2) % 2 == 1
            val m = if (bits == 8) 256 else 65536
            val bs = bits / 8
            val px = new Array[Byte](w * h * ch * bs)
            for (y <- 0 until h; x <- 0 until w; c <- 0 until ch) {
              val v = ((id * (c + 3) + x * 23 + y * 37) % m).toInt
              val o = ((y * w + x) * ch + c) * bs
              if (bs == 1) px(o) = (v & 0xff).toByte
              else {
                px(o) = ((v >> 8) & 0xff).toByte
                px(o + 1) = (v & 0xff).toByte
              }
            }
            val comp = (id % 3) match {
              case 0 => Tiff.CompNone
              case 1 => Tiff.CompPackBits
              case _ => Tiff.CompLzw
            }
            // every fifth doc rides the TILED layout (one zero-padded
            // 16x16 tile at these dims); LZW docs alternate the
            // per-SAMPLE predictor — both lossless, so the oracle
            // arithmetic is untouched
            val bytes = Tiff.encode(Tiff.Image(w, h, ch, px, bits),
              comp, predictor = comp == Tiff.CompLzw && id % 4 == 3,
              rowsPerStrip = (2 + id % 3).toInt, big = big,
              tile = if (id % 5 == 4) Some((16, 16)) else None)
            require((bytes(2) & 0xff) == (if (big) 43 else 42))
            val back = Tiff.decode(bytes).get
            require(back.bits == bits && back.width == w &&
              back.height == h && back.channels == ch)
            (0 until h).iterator.flatMap { y =>
              (0 until w).iterator.flatMap { x =>
                (0 until ch).iterator.map { c =>
                  val o = ((y * w + x) * ch + c) * bs
                  val v =
                    if (bs == 1) (back.pixels(o) & 0xff).toLong
                    else (((back.pixels(o) & 0xff) << 8) |
                      (back.pixels(o + 1) & 0xff)).toLong
                  (bits.toLong, (id / 2) % 2, c.toLong, v)
                }
              }
            }
          })
          .toDF("bits", "big", "channel", "v")
          .groupBy("bits", "big", "channel")
          .agg(count(lit(1)).as("n_px"), sum("v").as("sum_v"))
      },
      Some("""WITH px AS (SELECT
                CASE WHEN doc_id % 2 = 0 THEN 8 ELSE 16 END AS bits,
                (doc_id // 2) % 2 AS big,
                c AS channel,
                (doc_id * (c + 3) + x * 23 + y * 37) %
                  (CASE WHEN doc_id % 2 = 0 THEN 256 ELSE 65536 END) AS v
              FROM documents,
                unnest(generate_series(0, CAST(3 + doc_id % 4 - 1 AS BIGINT)))
                  AS gy(y),
                unnest(generate_series(0, CAST(4 + doc_id % 5 - 1 AS BIGINT)))
                  AS gx(x),
                unnest(generate_series(0, CAST(1 + doc_id % 3 - 1 AS BIGINT)))
                  AS gc(c))
            SELECT CAST(bits AS BIGINT) AS bits,
              CAST(big AS BIGINT) AS big, channel,
              count(*) AS n_px, CAST(sum(v) AS BIGINT) AS sum_v
            FROM px GROUP BY 1, 2, 3"""),
      doc = "16-bit samples + BigTIFF container cycled vs classic " +
        "8-bit: byte-order-normalized samples reconcile per lane"),

    // MP3 frame-header walk (multimodal/Mp3): audio METADATA without
    // audio decode — ID3v2 skip (syncsafe size), chained frame lengths
    // from the public bitrate/samplerate tables, per-frame padding,
    // MPEG-1 vs MPEG-2 Layer II/III coefficients. Each doc synthesizes
    // a CBR stream (version/layer/bitrate/samplerate from doc_id,
    // padding alternating per frame, an ID3v2 tag up front) and the
    // walker must recover every frame's length and sample count; the
    // oracle mirrors the header arithmetic. The pipeline shape for
    // "how many hours of audio is this 100 TB corpus".
    Q("q292_mp3_walk",
      (s, d) => {
        val sp = s
        import sp.implicits._
        Tables.documents(s, d)
          .selectExpr("doc_id").as[Long]
          .mapPartitions(_.flatMap { id =>
            val cls = (id % 3).toInt
            val brIdx = (1 + id % 14).toInt
            val srIdx = (id % 3).toInt
            val nf = (3 + id % 5).toInt
            // header bytes: sync, version/layer, bitrate/sr/padding
            val verBits = if (cls == 1) 2 else 3
            val layerBits = if (cls == 2) 2 else 1 // 1=III, 2=II
            val stream = new java.io.ByteArrayOutputStream()
            // ID3v2 tag with a zero body
            val id3Body = (id % 50).toInt
            stream.write('I'); stream.write('D'); stream.write('3')
            stream.write(4); stream.write(0); stream.write(0)
            stream.write(0); stream.write(0)
            stream.write((id3Body >> 7) & 0x7f)
            stream.write(id3Body & 0x7f)
            (0 until id3Body).foreach(_ => stream.write(0))
            (0 until nf).foreach { i =>
              val pad = ((id + i) % 2).toInt
              val b1 = 0xe0 | (verBits << 3) | (layerBits << 1) | 1
              val b2 = (brIdx << 4) | (srIdx << 2) | (pad << 1)
              stream.write(0xff); stream.write(b1)
              stream.write(b2); stream.write(0)
              // filler to the computed frame length
              val hdr = graft.multimodal.Mp3.header(
                stream.toByteArray, stream.size - 4)
              val len = hdr.get.frameLen
              (0 until len - 4).foreach(_ => stream.write(1))
            }
            graft.multimodal.Mp3.frames(stream.toByteArray)
              .iterator.map { f =>
                (f.version.toLong, f.layer.toLong, f.frameLen.toLong,
                  f.samples.toLong, f.bitrateKbps.toLong)
              }
          })
          .toDF("version", "layer", "flen", "samples", "br")
          .groupBy("version", "layer")
          .agg(count(lit(1)).as("n_frames"), sum("flen").as("sum_len"),
            sum("samples").as("sum_samples"), sum("br").as("sum_br"))
      },
      Some("""WITH brt AS (SELECT * FROM (VALUES
              (0, 1, 32),(0, 2, 40),(0, 3, 48),(0, 4, 56),(0, 5, 64),
              (0, 6, 80),(0, 7, 96),(0, 8, 112),(0, 9, 128),(0,10, 160),
              (0,11, 192),(0,12, 224),(0,13, 256),(0,14, 320),
              (1, 1, 8),(1, 2, 16),(1, 3, 24),(1, 4, 32),(1, 5, 40),
              (1, 6, 48),(1, 7, 56),(1, 8, 64),(1, 9, 80),(1,10, 96),
              (1,11, 112),(1,12, 128),(1,13, 144),(1,14, 160),
              (2, 1, 32),(2, 2, 48),(2, 3, 56),(2, 4, 64),(2, 5, 80),
              (2, 6, 96),(2, 7, 112),(2, 8, 128),(2, 9, 160),(2,10, 192),
              (2,11, 224),(2,12, 256),(2,13, 320),(2,14, 384))
              AS t(cls, idx, br)),
            docs AS (SELECT doc_id,
                CAST(doc_id % 3 AS INT) AS cls,
                CAST(1 + doc_id % 14 AS INT) AS bridx,
                CAST(doc_id % 3 AS INT) AS sridx,
                CAST(3 + doc_id % 5 AS INT) AS nf
              FROM documents),
            envo AS (SELECT d.doc_id, d.cls, d.nf, b.br,
                CASE WHEN d.cls = 1 THEN
                  CASE d.sridx WHEN 0 THEN 22050 WHEN 1 THEN 24000
                    ELSE 16000 END
                ELSE
                  CASE d.sridx WHEN 0 THEN 44100 WHEN 1 THEN 48000
                    ELSE 32000 END END AS sr,
                CASE WHEN d.cls = 1 THEN 576 ELSE 1152 END AS samples,
                CASE WHEN d.cls = 1 THEN 72 ELSE 144 END AS coef,
                CASE WHEN d.doc_id % 2 = 0 THEN d.nf // 2
                  ELSE (d.nf + 1) // 2 END AS n_pads
              FROM docs d JOIN brt b ON b.cls = d.cls
                AND b.idx = d.bridx),
            agg AS (SELECT
                CAST(CASE WHEN cls = 1 THEN 2 ELSE 3 END AS BIGINT)
                  AS version,
                CAST(CASE WHEN cls = 2 THEN 2 ELSE 3 END AS BIGINT)
                  AS layer,
                CAST(nf AS BIGINT) AS n_frames,
                CAST(nf * (coef * br * 1000 // sr) + n_pads AS BIGINT)
                  AS sum_len,
                CAST(nf * samples AS BIGINT) AS sum_samples,
                CAST(nf * br AS BIGINT) AS sum_br
              FROM envo)
            SELECT version, layer, CAST(sum(n_frames) AS BIGINT)
                AS n_frames,
              CAST(sum(sum_len) AS BIGINT) AS sum_len,
              CAST(sum(sum_samples) AS BIGINT) AS sum_samples,
              CAST(sum(sum_br) AS BIGINT) AS sum_br
            FROM agg GROUP BY 1, 2"""),
      doc = "MP3 frame-header walk: ID3v2 skip, bitrate/samplerate " +
        "tables, padding, MPEG-1/2 Layer II/III frame chaining"),

    // MP4 / ISO BMFF box walk (multimodal/Mp4): video-container
    // METADATA without codec decode — per doc a synthesized file
    // (ftyp + moov(mvhd + traks(tkhd/hdlr/stsd)) + mdat) whose
    // timescale, duration, track dims and sample-entry fourccs all
    // derive from doc_id; the walker recovers movie duration (exact:
    // duration = k·timescale), handler kinds and codec fourccs. The
    // "how many hours of video, in which codecs" pass for an opaque
    // 100 TB blob corpus.
    Q("q295_mp4_walk",
      (s, d) => {
        val sp = s
        import sp.implicits._
        Tables.documents(s, d)
          .selectExpr("doc_id").as[Long]
          .mapPartitions(_.flatMap { id =>
            import graft.multimodal.Mp4
            val ts = Seq(600L, 1000L, 90000L)((id % 3).toInt)
            val secs = 1 + id % 50
            val w = (16 * (1 + id % 40)).toInt
            val h = (16 * (1 + id % 23)).toInt
            val vFcc = if (id % 2 == 0) "avc1" else "hev1"
            val traks = Seq(
              Mp4.trak(1, secs * ts, "vide", vFcc, w, h)) ++
              (if (id % 3 == 0)
                Seq(Mp4.trak(2, secs * ts, "soun", "mp4a", 0, 0))
              else Seq.empty)
            val bytes = Mp4.file(ts, secs * ts, traks,
              mdatLen = (id % 97).toInt)
            val meta = Mp4.parse(bytes).get
            val durRow = Iterator(("dur", 1L, meta.durationUs / 1000000L,
              meta.timescale))
            val trkRows = meta.tracks.iterator.map { t =>
              (s"trk:${t.kind}/${t.fourcc}", 1L, t.width.toLong,
                t.height.toLong)
            }
            durRow ++ trkRows
          })
          .toDF("kind", "one", "a", "b")
          .groupBy("kind")
          .agg(count(lit(1)).as("n"), sum("a").as("sum_a"),
            sum("b").as("sum_b"))
      },
      Some("""WITH docs AS (SELECT doc_id,
                CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 600
                  WHEN 1 THEN 1000 ELSE 90000 END AS ts,
                1 + doc_id % 50 AS secs,
                16 * (1 + doc_id % 40) AS w,
                16 * (1 + doc_id % 23) AS h,
                CASE WHEN doc_id % 2 = 0 THEN 'avc1' ELSE 'hev1'
                  END AS vfcc
              FROM documents),
            rows AS (
              SELECT 'dur' AS kind, secs AS a, ts AS b FROM docs
              UNION ALL
              SELECT 'trk:vide/' || vfcc, w, h FROM docs
              UNION ALL
              SELECT 'trk:soun/mp4a', 0, 0 FROM docs
              WHERE doc_id % 3 = 0)
            SELECT kind, count(*) AS n,
              CAST(sum(a) AS BIGINT) AS sum_a,
              CAST(sum(b) AS BIGINT) AS sum_b
            FROM rows GROUP BY 1"""),
      doc = "MP4/ISO-BMFF box walk: moov/mvhd/tkhd/hdlr/stsd " +
        "metadata — duration, dims, codec fourccs, no codec decode")
  )
}
