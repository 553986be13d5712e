package graft.operators

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: opaque binary payloads + typed metadata,
  * decoded/feature-extracted in partition-sized batches.
  *
  * The decode is REAL: payloads are valid 24-bpp BMP images (the one
  * raster format a bare JVM can encode and parse without codecs) and
  * `decodeBmp` genuinely parses them — magic, little-endian header
  * fields, bottom-up padded pixel rows — so a corrupt payload fails
  * loudly, exactly like a production decode stage. Formats that need
  * native codecs (JPEG/webp/audio) would drop into the same
  * `mapPartitions` slot without touching the plan: the binary column,
  * the metadata struct, the typed `Dataset` batch boundary (the Scala
  * analog of a vectorized/Pandas batch UDF) and the output schema are
  * the load-bearing pieces. Payloads stay in executor memory one
  * partition at a time; nothing is collected to the driver.
  */
object Multimodal {

  /** One image row entering the decode stage. */
  final case class MediaRow(
      doc_id: Long, payload: Array[Byte], width: Int, height: Int, fmt: String)

  /** Extracted features leaving the decode stage. */
  final case class MediaFeatures(
      doc_id: Long, n_bytes: Int, width: Int, height: Int, fmt: String,
      mean_byte: Double, byte_entropy_q: Long)

  /** Encode a real 24-bpp bottom-up BMP (54-byte header + BGR rows
    * padded to 4 bytes). `px(x, y)` returns (r, g, b) for the pixel at
    * image coordinates (x, y), y = 0 at the top. */
  def encodeBmp(w: Int, h: Int, px: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    val stride = (w * 3 + 3) / 4 * 4
    val dataSize = stride * h
    val buf = ByteBuffer.allocate(54 + dataSize).order(ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte).putInt(54 + dataSize)
      .putShort(0).putShort(0).putInt(54)
    buf.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(dataSize).putInt(2835).putInt(2835).putInt(0).putInt(0)
    var y = h - 1 // bottom-up: last image row is stored first
    while (y >= 0) {
      var x = 0
      while (x < w) {
        val (r, g, b) = px(x, y)
        buf.put(b.toByte).put(g.toByte).put(r.toByte)
        x += 1
      }
      var p = w * 3
      while (p < stride) { buf.put(0.toByte); p += 1 }
      y -= 1
    }
    buf.array()
  }

  /** Parse a 24-bpp BMP payload and extract features: dimensions from
    * the header (trusted over the row's metadata only after
    * validation), mean channel byte over the un-padded pixels, and a
    * quantized 16-bin histogram fingerprint. Throws on bad magic /
    * depth — a decode stage that silently passes garbage is worse
    * than one that fails the task. */
  def decodeBmp(r: MediaRow): MediaFeatures = {
    val bytes = r.payload
    require(bytes.length >= 54 && bytes(0) == 'B'.toByte && bytes(1) == 'M'.toByte,
      s"doc ${r.doc_id}: not a BMP payload")
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val off = buf.getInt(10)
    val w = buf.getInt(18)
    val h = buf.getInt(22)
    val bpp = buf.getShort(28)
    require(bpp == 24, s"doc ${r.doc_id}: unsupported bit depth $bpp")
    val stride = (w * 3 + 3) / 4 * 4
    require(bytes.length >= off + stride * h, s"doc ${r.doc_id}: truncated pixel data")
    var sum = 0L
    val hist = new Array[Long](16)
    var y = 0
    while (y < h) {
      var i = off + y * stride
      val end = i + w * 3
      while (i < end) {
        val v = bytes(i) & 0xff
        sum += v
        hist(v / 16) += 1
        i += 1
      }
      y += 1
    }
    val n = w.toLong * h * 3
    val mean = if (n == 0) 0.0 else sum.toDouble / n
    val q = hist.foldLeft(0L)((a, c) => a * 31 + c % 97)
    MediaFeatures(r.doc_id, bytes.length, w, h, "bmp", mean, q)
  }

  /** m01 — synthesize real BMP payloads + metadata from `documents`
    * (deterministic pixels seeded by doc_id), push them through the
    * typed batch-decode boundary, return features.
    *
    * ORACLE-CHECKED via the export pattern (r15): the payload BLOBs
    * export to a pinned parquet path and DuckDB REPLAYS the decode
    * byte-for-byte — header fields from little-endian int32s, the
    * un-padded pixel walk (offset + y·stride), the 16-bin histogram
    * fold in mod-2⁶⁴ HUGEINT arithmetic — so the hash match proves the
    * whole decode, not just the plumbing. The golden BMP test in
    * PipelineSpec keeps pinning the encoder itself. */
  private def m01(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media: Dataset[MediaRow] = graft.Tables.df(s, d, "documents")
      .select(
        col("doc_id"),
        (pmod(xxhash64(col("doc_id")), lit(24)) + 8).cast("int").as("width"),
        (pmod(xxhash64(col("doc_id"), lit(1)), lit(24)) + 8).cast("int").as("height"))
      .as[(Long, Int, Int)]
      .mapPartitions(_.map { case (id, w, h) =>
        MediaRow(id, encodeBmp(w, h, (x, y) =>
          (((id + x) % 256).toInt, ((id + y) % 256).toInt, ((id + x + y) % 256).toInt)),
          w, h, "bmp")
      })
    media.select(col("doc_id"), col("payload"))
      .write.mode("overwrite").parquet(Similarity.exportPath("m01media", d))
    media
      .mapPartitions(_.map(decodeBmp))
      .toDF()
      .orderBy("doc_id")
  }

  /** Shared DuckDB byte-decoding CTEs: `hm` maps one hex pair to its
    * byte value, `m` carries each exported payload as a hex string —
    * the BLOB-replay front end every multimodal oracle builds on. */
  private def blobCtes(stage: String): String =
    s"""hm AS (
      |  SELECT upper(lpad(hex(i), 2, '0')) AS hx2, i AS v
      |  FROM generate_series(0, 255) s(i)),
      |m AS (
      |  SELECT doc_id, hex(payload) AS hx,
      |         CAST(octet_length(payload) AS INTEGER) AS n_bytes
      |  FROM read_parquet('${Similarity.oracleExportPath(stage)}/*.parquet'))""".stripMargin

  private def m01Oracle: String =
    s"""WITH ${blobCtes("m01media")},
      |hb AS (
      |  SELECT m.doc_id, g.i AS i, hm.v
      |  FROM m CROSS JOIN generate_series(10, 25) g(i)
      |  JOIN hm ON hm.hx2 = substr(m.hx, 2*g.i+1, 2)),
      |hdr AS (
      |  SELECT doc_id,
      |    CAST(SUM(CASE WHEN i BETWEEN 10 AND 13 THEN v * (1::BIGINT << (8*(i-10))) ELSE 0 END) AS BIGINT) AS po,
      |    CAST(SUM(CASE WHEN i BETWEEN 18 AND 21 THEN v * (1::BIGINT << (8*(i-18))) ELSE 0 END) AS INTEGER) AS w,
      |    CAST(SUM(CASE WHEN i BETWEEN 22 AND 25 THEN v * (1::BIGINT << (8*(i-22))) ELSE 0 END) AS INTEGER) AS h
      |  FROM hb GROUP BY doc_id),
      |hdr2 AS (SELECT doc_id, po, w, h, ((w*3+3)//4)*4 AS stride FROM hdr),
      |px AS (
      |  SELECT m.doc_id, hm.v
      |  FROM m JOIN hdr2 d USING (doc_id)
      |  -- constant series bounds (DuckDB: no subquery args); the WHERE
      |  -- enforces the real per-doc extents, and any overflow past the
      |  -- constants would change counts and fail the hash loudly
      |  CROSS JOIN generate_series(0, 63) gy(y)
      |  CROSS JOIN generate_series(0, 191) gx(x)
      |  JOIN hm ON hm.hx2 = substr(m.hx, 2*(d.po + gy.y*d.stride + gx.x)+1, 2)
      |  WHERE gy.y < d.h AND gx.x < d.w*3),
      |mb AS (
      |  SELECT p.doc_id, CAST(SUM(p.v) AS DOUBLE) / (d.w*d.h*3) AS mean_byte
      |  FROM px p JOIN hdr2 d USING (doc_id) GROUP BY p.doc_id, d.w, d.h),
      |hist AS (
      |  SELECT doc_id, v//16 AS k, CAST(COUNT(*) % 97 AS HUGEINT) AS r
      |  FROM px GROUP BY doc_id, v//16),
      |bins AS (
      |  SELECT d.doc_id, g.k, COALESCE(h.r, 0::HUGEINT) AS r
      |  FROM hdr2 d CROSS JOIN generate_series(0, 15) g(k)
      |  LEFT JOIN hist h ON h.doc_id = d.doc_id AND h.k = g.k),
      |qv AS (
      |  SELECT doc_id,
      |    list_reduce(list_prepend(0::HUGEINT, list(r ORDER BY k)),
      |      (a, c) -> (a*31 + c) % 18446744073709551616::HUGEINT) AS qu
      |  FROM bins GROUP BY doc_id)
      |SELECT m.doc_id, m.n_bytes, d.w AS width, d.h AS height,
      |  'bmp' AS fmt, mb.mean_byte,
      |  CAST(CASE WHEN qv.qu >= 9223372036854775808::HUGEINT
      |    THEN qv.qu - 18446744073709551616::HUGEINT ELSE qv.qu END AS BIGINT)
      |    AS byte_entropy_q
      |FROM m JOIN hdr2 d USING (doc_id) JOIN mb USING (doc_id) JOIN qv USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** One video-like row: an ordered run of opaque frame payloads. */
  final case class VideoRow(doc_id: Long, frames: Array[Array[Byte]])

  /** Features for one SAMPLED frame. */
  final case class FrameFeatures(
      doc_id: Long, frame_idx: Int, width: Int, height: Int,
      mean_byte: Double, ahash64: Long)

  /** Decode a 24-bpp BMP to top-down row-major luminance (integer
    * (r+g+b)/3 per pixel). The pixel-level accessor `resize`/`aHash64`
    * build on. */
  def bmpGray(bytes: Array[Byte]): (Int, Int, Array[Int]) = {
    require(bytes.length >= 54 && bytes(0) == 'B'.toByte && bytes(1) == 'M'.toByte,
      "not a BMP payload")
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val off = buf.getInt(10)
    val w = buf.getInt(18)
    val h = buf.getInt(22)
    require(buf.getShort(28) == 24, "unsupported bit depth")
    val stride = (w * 3 + 3) / 4 * 4
    val gray = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      val src = off + (h - 1 - y) * stride // stored bottom-up
      var x = 0
      while (x < w) {
        val i = src + x * 3
        gray(y * w + x) =
          ((bytes(i) & 0xff) + (bytes(i + 1) & 0xff) + (bytes(i + 2) & 0xff)) / 3
        x += 1
      }
      y += 1
    }
    (w, h, gray)
  }

  /** Nearest-neighbor resize of a luminance raster — the thumbnail step
    * of any image feature pipeline; pure integer index math. */
  def resizeNearest(w: Int, h: Int, gray: Array[Int], w2: Int, h2: Int): Array[Int] = {
    val out = new Array[Int](w2 * h2)
    var y = 0
    while (y < h2) {
      val sy = y * h / h2
      var x = 0
      while (x < w2) {
        out(y * w2 + x) = gray(sy * w + (x * w / w2))
        x += 1
      }
      y += 1
    }
    out
  }

  /** 64-bit average hash: resize to 8×8, set bit (y*8+x) where the cell
    * is brighter than the thumbnail mean — the classic perceptual
    * near-dup fingerprint for images/frames. */
  def aHash64(w: Int, h: Int, gray: Array[Int]): Long = {
    val t = resizeNearest(w, h, gray, 8, 8)
    val mean = t.sum.toDouble / 64
    var bits = 0L
    var i = 0
    while (i < 64) {
      if (t(i) > mean) bits |= 1L << i
      i += 1
    }
    bits
  }

  /** m02 — frame sampling over video-like media: each doc carries an
    * ordered array of frame payloads (real BMPs); every 2nd frame is
    * decoded, thumbnailed (nearest-neighbor resize) and fingerprinted
    * (average hash). The sample-then-decode order is the load-bearing
    * scale property — at 100 TB the skipped frames are never parsed,
    * and frames stay inside their partition (one task owns a video's
    * frame run; no per-frame shuffle). Rows-only; decode/resize/hash
    * semantics are golden-pinned in PipelineSpec. */
  private def m02(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val videos: Dataset[VideoRow] = graft.Tables.df(s, d, "documents")
      .where(col("doc_id") % 10 === 0) // a video corpus subset
      .select(col("doc_id"),
        (pmod(xxhash64(col("doc_id")), lit(4)) + 3).cast("int").as("n_frames"))
      .as[(Long, Int)]
      .mapPartitions(_.map { case (id, nf) =>
        VideoRow(id, Array.tabulate(nf) { f =>
          encodeBmp(16, 16, (x, y) =>
            (((id + f * 7 + x) % 256).toInt, ((id + f * 7 + y) % 256).toInt,
              ((id + f * 7 + x + y) % 256).toInt))
        })
      })
    // sample BEFORE decoding — the load-bearing scale property; the
    // SAMPLED frames' payloads export (r15) and DuckDB replays the
    // whole decode→thumbnail→hash pipeline from the bytes
    val sampled = videos.flatMap(v =>
      v.frames.indices.by(2).map(f => (v.doc_id, f, v.frames(f))))
    sampled.toDF("doc_id", "frame_idx", "payload")
      .write.mode("overwrite").parquet(Similarity.exportPath("m02frames", d))
    sampled
      .map { case (id, f, bmp) =>
        val (w, h, gray) = bmpGray(bmp)
        FrameFeatures(id, f, w, h,
          gray.sum.toDouble / gray.length, aHash64(w, h, gray))
      }
      .toDF()
      .orderBy("doc_id", "frame_idx")
  }

  /** Shared DuckDB CTE chain replaying [[bmpGray]] + [[resizeNearest]]
    * + [[aHash64]] over an exported `(doc_id, frame_idx, payload)`
    * frame corpus: bottom-up BMP rows flip to top-down luminance
    * (`px`: integer (r+g+b)/3), 8×8 nearest-neighbor thumbnail by the
    * exact `i·side/8` floor index (`th`), average-hash bits in mod-2⁶⁴
    * arithmetic (`ah`). All divisions that feed doubles are by powers
    * of two (64, w·h=256), so the replay is bit-exact. `maxY`/`maxX`
    * bound the constant pixel series (DuckDB: no subquery args to
    * generate_series); the WHERE clips to the real per-frame extents. */
  private def grayAhashCtes(stage: String, maxY: Int, maxX: Int): String =
    s"""hm AS (
      |  SELECT upper(lpad(hex(i), 2, '0')) AS hx2, i AS v
      |  FROM generate_series(0, 255) s(i)),
      |m AS (
      |  SELECT doc_id, frame_idx, hex(payload) AS hx
      |  FROM read_parquet('${Similarity.oracleExportPath(stage)}/*.parquet')),
      |hb AS (
      |  SELECT m.doc_id, m.frame_idx, g.i AS i, hm.v
      |  FROM m CROSS JOIN generate_series(10, 25) g(i)
      |  JOIN hm ON hm.hx2 = substr(m.hx, 2*g.i+1, 2)),
      |hdr AS (
      |  SELECT doc_id, frame_idx,
      |    CAST(SUM(CASE WHEN i BETWEEN 10 AND 13 THEN v * (1::BIGINT << (8*(i-10))) ELSE 0 END) AS BIGINT) AS po,
      |    CAST(SUM(CASE WHEN i BETWEEN 18 AND 21 THEN v * (1::BIGINT << (8*(i-18))) ELSE 0 END) AS INTEGER) AS w,
      |    CAST(SUM(CASE WHEN i BETWEEN 22 AND 25 THEN v * (1::BIGINT << (8*(i-22))) ELSE 0 END) AS INTEGER) AS h
      |  FROM hb GROUP BY doc_id, frame_idx),
      |hdr2 AS (SELECT doc_id, frame_idx, po, w, h, ((w*3+3)//4)*4 AS stride FROM hdr),
      |px AS (
      |  SELECT m.doc_id, m.frame_idx, gy.y AS y, gx.x AS x,
      |    (h0.v + h1.v + h2.v) // 3 AS lum
      |  FROM m JOIN hdr2 d USING (doc_id, frame_idx)
      |  CROSS JOIN generate_series(0, $maxY) gy(y)
      |  CROSS JOIN generate_series(0, $maxX) gx(x)
      |  JOIN hm h0 ON h0.hx2 = substr(m.hx, 2*(d.po + (d.h-1-gy.y)*d.stride + 3*gx.x)+1, 2)
      |  JOIN hm h1 ON h1.hx2 = substr(m.hx, 2*(d.po + (d.h-1-gy.y)*d.stride + 3*gx.x+1)+1, 2)
      |  JOIN hm h2 ON h2.hx2 = substr(m.hx, 2*(d.po + (d.h-1-gy.y)*d.stride + 3*gx.x+2)+1, 2)
      |  WHERE gy.y < d.h AND gx.x < d.w),
      |th AS (
      |  SELECT p.doc_id, p.frame_idx, g.ty, g.tx, p.lum
      |  FROM px p JOIN hdr2 d USING (doc_id, frame_idx)
      |  CROSS JOIN (SELECT a.ty, b.tx FROM generate_series(0, 7) a(ty),
      |              generate_series(0, 7) b(tx)) g
      |  WHERE p.y = g.ty*d.h//8 AND p.x = g.tx*d.w//8),
      |mn AS (
      |  SELECT doc_id, frame_idx, CAST(SUM(lum) AS DOUBLE)/64 AS mean
      |  FROM th GROUP BY doc_id, frame_idx),
      |ah AS (
      |  SELECT t.doc_id, t.frame_idx,
      |    CAST(SUM(CASE WHEN t.lum > mn.mean AND t.ty*8+t.tx < 63
      |        THEN (1::BIGINT << (t.ty*8+t.tx)) ELSE 0 END) AS BIGINT)
      |      + CAST(SUM(CASE WHEN t.lum > mn.mean AND t.ty*8+t.tx = 63
      |        THEN (-9223372036854775807 - 1)::HUGEINT ELSE 0::HUGEINT END) AS BIGINT)
      |      AS ahash64
      |  FROM th t JOIN mn USING (doc_id, frame_idx)
      |  GROUP BY t.doc_id, t.frame_idx)""".stripMargin

  private def m02Oracle: String =
    s"""WITH ${grayAhashCtes("m02frames", 15, 15)},
      |mb AS (
      |  SELECT doc_id, frame_idx, CAST(SUM(lum) AS DOUBLE)/COUNT(*) AS mean_byte
      |  FROM px GROUP BY doc_id, frame_idx)
      |SELECT a.doc_id, a.frame_idx, d.w AS width, d.h AS height,
      |  mb.mean_byte, a.ahash64
      |FROM ah a JOIN hdr2 d USING (doc_id, frame_idx)
      |JOIN mb USING (doc_id, frame_idx)
      |ORDER BY doc_id, frame_idx""".stripMargin

  /** One audio row entering the decode stage. */
  final case class AudioRow(doc_id: Long, payload: Array[Byte])

  /** Waveform features leaving the decode stage. `mean_sq` is the MEAN
    * SQUARE Σs²/n (exact integer math — no float accumulation order to
    * disagree about); consumers wanting RMS take sqrt downstream. */
  final case class AudioFeatures(
      doc_id: Long, sample_rate: Int, n_samples: Int,
      peak: Int, mean_sq: Long, zero_crossings: Int, clip_frac: Double)

  /** Encode a canonical 44-byte-header RIFF/WAVE, PCM 16-bit LE mono —
    * the one audio container a bare JVM can write and parse without
    * codecs (the BMP of audio). `sample(i)` returns the i-th PCM
    * sample. */
  def encodeWav(sampleRate: Int, n: Int, sample: Int => Short): Array[Byte] = {
    val dataSize = n * 2
    val buf = ByteBuffer.allocate(44 + dataSize).order(ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes).putInt(36 + dataSize).put("WAVE".getBytes)
    buf.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
      .putInt(sampleRate).putInt(sampleRate * 2).putShort(2).putShort(16)
    buf.put("data".getBytes).putInt(dataSize)
    var i = 0
    while (i < n) { buf.putShort(sample(i)); i += 1 }
    buf.array()
  }

  /** Parse a PCM16 mono WAV and extract waveform statistics: peak,
    * exact mean square, zero crossings, and the fraction of samples at
    * full scale (the clipping signal an audio-quality filter
    * thresholds on). Throws on bad magic/format — same fail-loudly
    * contract as decodeBmp. */
  def decodeWav(r: AudioRow): AudioFeatures = {
    val bytes = r.payload
    require(bytes.length >= 44 &&
      new String(bytes, 0, 4) == "RIFF" && new String(bytes, 8, 4) == "WAVE",
      s"doc ${r.doc_id}: not a WAV payload")
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    require(buf.getShort(20) == 1 && buf.getShort(22) == 1 && buf.getShort(34) == 16,
      s"doc ${r.doc_id}: not PCM16 mono")
    val sampleRate = buf.getInt(24)
    require(new String(bytes, 36, 4) == "data", s"doc ${r.doc_id}: missing data chunk")
    val dataSize = buf.getInt(40)
    require(dataSize % 2 == 0, s"doc ${r.doc_id}: odd PCM16 data size $dataSize")
    val n = dataSize / 2
    require(bytes.length >= 44 + n * 2, s"doc ${r.doc_id}: truncated samples")
    var i = 0
    var peak = 0
    var sumSq = 0L
    var zc = 0
    var clipped = 0
    var prev = 0
    while (i < n) {
      val s = buf.getShort(44 + i * 2).toInt
      if (math.abs(s) > peak) peak = math.abs(s)
      sumSq += s.toLong * s
      if (i > 0 && ((prev >= 0 && s < 0) || (prev < 0 && s >= 0))) zc += 1
      if (s == Short.MaxValue || s == Short.MinValue) clipped += 1
      prev = s
      i += 1
    }
    AudioFeatures(r.doc_id, sampleRate, n, peak,
      if (n == 0) 0L else sumSq / n, zc,
      if (n == 0) 0.0 else clipped.toDouble / n)
  }

  /** m03 — audio waveform stats: synthesize real PCM16 WAV payloads
    * (deterministic triangle waves — integer math, no transcendentals —
    * with a doc_id-seeded period, amplitude and a clipped stretch),
    * push them through the same typed mapPartitions batch boundary as
    * m01, return per-clip quality features. Payloads stay in executor
    * memory one partition at a time; rows-only, semantics golden-pinned
    * in PipelineSpec. */
  /** The synthesized audio corpus shared by m03/m10: deterministic
    * triangle waves (integer math, doc_id-seeded period/length, a
    * clipped stretch on every 3rd clip). */
  private[graft] def audioCorpus(s: SparkSession, d: String): Dataset[AudioRow] = {
    import s.implicits._
    graft.Tables.df(s, d, "documents")
      .where(col("doc_id") % 5 === 0) // an audio corpus subset
      .select(col("doc_id"),
        (pmod(xxhash64(col("doc_id")), lit(64)) + 16).cast("int").as("period"),
        (pmod(xxhash64(col("doc_id"), lit(1)), lit(800)) + 400).cast("int").as("n"))
      .as[(Long, Int, Int)]
      .mapPartitions(_.map { case (id, period, n) =>
        AudioRow(id, encodeWav(8000, n, i => {
          val phase = i % period
          val tri = // triangle wave in [-amp, amp], amp near full scale
            if (phase < period / 2) -30000 + (120000 / period) * phase
            else 30000 - (120000 / period) * (phase - period / 2)
          // a clipped stretch in the middle third simulates bad takes
          val v = if (i >= n / 3 && i < n / 3 + n / 10 && (id % 3) == 0)
            (if (tri >= 0) 32767 else -32768) else tri
          math.max(-32768, math.min(32767, v)).toShort
        }))
      })
  }

  private def m03(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val audio = audioCorpus(s, d)
    // ORACLE-CHECKED (r15): export the WAV payloads; DuckDB replays the
    // PCM16 decode — LE header fields, signed 16-bit samples, the
    // integer mean-square, zero crossings via LAG, the clip fraction.
    audio.toDF().select(col("doc_id"), col("payload"))
      .write.mode("overwrite").parquet(Similarity.exportPath("m03wav", d))
    audio
      .mapPartitions(_.map(decodeWav))
      .toDF()
      .withColumn("clip_frac", round(col("clip_frac"), 6))
      .orderBy("doc_id")
  }

  /** Shared DuckDB PCM16 CTEs over an exported WAV corpus: `hdr` reads
    * the LE sample-rate/data-size header words, `sm` maps a 4-hex-char
    * little-endian pair to its SIGNED 16-bit value, `samp` walks every
    * clip's samples. Composes after [[blobCtes]]. */
  private def wavCtes: String = wavCtesN(4095)

  /** [[wavCtes]] with a caller-chosen sample-series bound (m08's clips
    * run to ~8000 samples; m03/m04 stay under 2400). */
  private def wavCtesN(maxN: Int): String =
    s"""hdr AS (
      |  SELECT m.doc_id,
      |    CAST(SUM(CASE WHEN g.i BETWEEN 24 AND 27 THEN hm.v * (1::BIGINT << (8*(g.i-24))) ELSE 0 END) AS INTEGER) AS rate,
      |    CAST(SUM(CASE WHEN g.i BETWEEN 40 AND 43 THEN hm.v * (1::BIGINT << (8*(g.i-40))) ELSE 0 END) // 2 AS INTEGER) AS n
      |  FROM m CROSS JOIN generate_series(24, 43) g(i)
      |  JOIN hm ON hm.hx2 = substr(m.hx, 2*g.i+1, 2)
      |  GROUP BY m.doc_id),
      |sm AS (
      |  SELECT upper(lpad(hex(lo), 2, '0')) || upper(lpad(hex(hi), 2, '0')) AS hx4,
      |    CASE WHEN hi >= 128 THEN lo + 256*hi - 65536 ELSE lo + 256*hi END AS s
      |  FROM generate_series(0, 255) a(lo) CROSS JOIN generate_series(0, 255) b(hi)),
      |samp AS (
      |  SELECT m.doc_id, g.i AS i, sm.s
      |  FROM m JOIN hdr USING (doc_id)
      |  CROSS JOIN generate_series(0, $maxN) g(i)
      |  JOIN sm ON sm.hx4 = substr(m.hx, 2*(44 + 2*g.i)+1, 4)
      |  WHERE g.i < hdr.n)""".stripMargin

  private def m03Oracle: String =
    s"""WITH ${blobCtes("m03wav")},
      |$wavCtes,
      |lagged AS (
      |  SELECT doc_id, i, s,
      |    lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS prev
      |  FROM samp),
      |feat AS (
      |  SELECT doc_id,
      |    CAST(MAX(abs(s)) AS INTEGER) AS peak,
      |    CAST(SUM(CAST(s AS BIGINT) * s) // COUNT(*) AS BIGINT) AS mean_sq,
      |    CAST(SUM(CASE WHEN i > 0 AND ((prev >= 0 AND s < 0) OR (prev < 0 AND s >= 0))
      |      THEN 1 ELSE 0 END) AS INTEGER) AS zero_crossings,
      |    round(CAST(SUM(CASE WHEN s = 32767 OR s = -32768 THEN 1 ELSE 0 END) AS DOUBLE)
      |      / COUNT(*), 6) AS clip_frac
      |  FROM lagged GROUP BY doc_id)
      |SELECT h.doc_id, h.rate AS sample_rate, h.n AS n_samples,
      |  f.peak, f.mean_sq, f.zero_crossings, f.clip_frac
      |FROM hdr h JOIN feat f USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** Parse a PCM16 mono WAV payload to (sampleRate, samples) — the
    * same header validation as [[decodeWav]], exposing the raw
    * samples for the spectral ops. */
  private[graft] def pcmSamples(r: AudioRow): (Int, Array[Short]) = {
    val bytes = r.payload
    require(bytes.length >= 44 &&
      new String(bytes, 0, 4) == "RIFF" && new String(bytes, 8, 4) == "WAVE",
      s"doc ${r.doc_id}: not a WAV payload")
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    require(buf.getShort(20) == 1 && buf.getShort(22) == 1 && buf.getShort(34) == 16,
      s"doc ${r.doc_id}: not PCM16 mono")
    val rate = buf.getInt(24)
    val n = buf.getInt(40) / 2
    val out = new Array[Short](n)
    var i = 0
    while (i < n) { out(i) = buf.getShort(44 + i * 2); i += 1 }
    (rate, out)
  }

  /** Goertzel power at one probe frequency — the O(n)-per-bin DFT
    * evaluation used when only a handful of bins matter (DTMF
    * detection, pitch probes): cheaper than an FFT whenever
    * bins ≪ log n, and streams the samples once. A Hann window tames
    * the off-bin leakage that otherwise dominates on short clips
    * whose fundamental sits between probes (the standard trade:
    * ~2× wider main lobe for ~30 dB lower sidelobes). Normalized by
    * the window's coherent gain so a full-scale pure tone AT the
    * probe reads ≈1. */
  private[graft] def goertzelPower(samples: Array[Short], rate: Int,
      freq: Double): Double = {
    val n = samples.length
    if (n == 0) return 0.0
    val w = 2.0 * math.Pi * freq / rate
    val c = 2.0 * math.cos(w)
    var s1 = 0.0
    var s2 = 0.0
    var wsum = 0.0
    var i = 0
    while (i < n) {
      val win = 0.5 * (1.0 - math.cos(2.0 * math.Pi * i / (n - 1).max(1)))
      wsum += win
      val s0 = win * samples(i) / 32768.0 + c * s1 - s2
      s2 = s1; s1 = s0; i += 1
    }
    val p = s1 * s1 + s2 * s2 - c * s1 * s2
    p / ((wsum / 2.0) * (wsum / 2.0))
  }

  final case class FrameRow(doc_id: Long, frame_idx: Int, mean_sq: Long)

  /** Per-frame energy (mean square over `frameLen`-sample windows; the
    * trailing partial frame is dropped — a fixed 20 ms grid, standard
    * in VAD). Same header validation as decodeWav. */
  def frameEnergies(r: AudioRow, frameLen: Int = 160): Iterator[FrameRow] = {
    val bytes = r.payload
    require(bytes.length >= 44 &&
      new String(bytes, 0, 4) == "RIFF" && new String(bytes, 8, 4) == "WAVE",
      s"doc ${r.doc_id}: not a WAV payload")
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    require(buf.getShort(20) == 1 && buf.getShort(22) == 1 && buf.getShort(34) == 16,
      s"doc ${r.doc_id}: not PCM16 mono")
    require(new String(bytes, 36, 4) == "data", s"doc ${r.doc_id}: missing data chunk")
    val dataSize = buf.getInt(40)
    require(dataSize % 2 == 0, s"doc ${r.doc_id}: odd PCM16 data size $dataSize")
    val n = dataSize / 2
    require(bytes.length >= 44 + n * 2, s"doc ${r.doc_id}: truncated samples")
    (0 until n / frameLen).iterator.map { f =>
      var sumSq = 0L
      var i = f * frameLen
      val end = i + frameLen
      while (i < end) {
        val s = buf.getShort(44 + i * 2).toLong
        sumSq += s * s
        i += 1
      }
      FrameRow(r.doc_id, f, sumSq / frameLen)
    }
  }

  /** m04 — silence segmentation (voice-activity detection's batch
    * half): decode → 20 ms frame energies at the mapPartitions media
    * boundary, then DECLARATIVE segmentation on the frame rows — the
    * q23 gaps-and-islands window (run id = frame_idx − rank among
    * silent frames) finds maximal silent runs, a partial+final agg
    * rolls them up per clip. The point: decode output is a DataFrame
    * like any other, so the relational machinery (windows, aggs,
    * pushdown) composes with media features without custom plumbing.
    * Rows-only; frame math and segmentation golden-pinned in
    * PipelineSpec. */
  private def m04(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val audio: Dataset[AudioRow] = graft.Tables.df(s, d, "documents")
      .where(col("doc_id") % 5 === 0)
      .select(col("doc_id"),
        (pmod(xxhash64(col("doc_id")), lit(64)) + 16).cast("int").as("period"),
        (pmod(xxhash64(col("doc_id"), lit(1)), lit(800)) + 1600).cast("int").as("n"))
      .as[(Long, Int, Int)]
      .mapPartitions(_.map { case (id, period, n) =>
        // triangle carrier with a silent stretch (exact zeros) in the
        // middle fifth of every even clip — the VAD target. n ≥ 1600
        // makes the stretch ≥ 2 frames, so at least one frame is fully
        // inside it at any alignment
        AudioRow(id, encodeWav(8000, n, i => {
          val phase = i % period
          val tri =
            if (phase < period / 2) -30000 + (120000 / period) * phase
            else 30000 - (120000 / period) * (phase - period / 2)
          val v = if (id % 2 == 0 && i >= n / 2 && i < n / 2 + n / 5) 0 else tri
          math.max(-32768, math.min(32767, v)).toShort
        }))
      })
    // ORACLE-CHECKED (r15): export the WAV payloads; DuckDB replays the
    // 20 ms frame grid (Σs²/160 integer mean-square) AND the same
    // gaps-and-islands segmentation in plain SQL.
    audio.toDF().select(col("doc_id"), col("payload"))
      .write.mode("overwrite").parquet(Similarity.exportPath("m04wav", d))
    val frames = audio.mapPartitions(_.flatMap(frameEnergies(_))).toDF()
    val silent = frames.where(col("mean_sq") < 1000)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("frame_idx")
    val segs = silent
      .withColumn("grp", col("frame_idx") - row_number().over(w))
      .groupBy("doc_id", "grp")
      .agg(count(lit(1)).as("seg_len"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_silence_segs"),
        max(col("seg_len")).as("longest_silence"),
        sum(col("seg_len")).as("n_silent"))
    frames.groupBy("doc_id").agg(count(lit(1)).as("n_frames"))
      .join(segs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_frames"),
        coalesce(col("n_silent"), lit(0L)).as("n_silent"),
        coalesce(col("n_silence_segs"), lit(0L)).as("n_silence_segs"),
        coalesce(col("longest_silence"), lit(0L)).as("longest_silence"))
      .orderBy("doc_id")
  }

  private def m04Oracle: String =
    s"""WITH ${blobCtes("m04wav")},
      |$wavCtes,
      |frames AS (
      |  SELECT doc_id, i // 160 AS frame_idx,
      |    CAST(SUM(CAST(s AS BIGINT) * s) // 160 AS BIGINT) AS mean_sq
      |  FROM samp JOIN hdr USING (doc_id)
      |  WHERE i < (hdr.n // 160) * 160
      |  GROUP BY doc_id, i // 160),
      |silent AS (
      |  SELECT doc_id, frame_idx,
      |    frame_idx - row_number() OVER (PARTITION BY doc_id ORDER BY frame_idx) AS grp
      |  FROM frames WHERE mean_sq < 1000),
      |segs0 AS (
      |  SELECT doc_id, grp, COUNT(*) AS seg_len
      |  FROM silent GROUP BY doc_id, grp),
      |segs AS (
      |  SELECT doc_id,
      |    CAST(COUNT(*) AS BIGINT) AS n_silence_segs,
      |    CAST(MAX(seg_len) AS BIGINT) AS longest_silence,
      |    CAST(SUM(seg_len) AS BIGINT) AS n_silent
      |  FROM segs0 GROUP BY doc_id),
      |nf AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_frames
      |  FROM frames GROUP BY doc_id)
      |SELECT nf.doc_id, nf.n_frames,
      |  COALESCE(s.n_silent, 0) AS n_silent,
      |  COALESCE(s.n_silence_segs, 0) AS n_silence_segs,
      |  COALESCE(s.longest_silence, 0) AS longest_silence
      |FROM nf LEFT JOIN segs s USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** A deterministic 16×16 test image for doc `id`: one of 97 base
    * patterns (spatial frequency varies with the base, so different
    * bases hash far apart) plus a small per-generation local edit (a
    * bright 2-pixel notch whose column moves with the generation) —
    * the shape of re-encoded/lightly-edited copies of one photo.
    * Factored out so the spec derives expected pair structure from the
    * same source. */
  private[graft] def synthImageBytes(id: Long): Array[Byte] = {
    val base = (id % 97).toInt
    val gen = ((id / 97) % 8).toInt
    encodeBmp(16, 16, (x, y) => {
      val v = (x * (3 + base % 7) + y * (5 + base % 11) + base * 37) % 256
      val jit = if (gen > 0 && x == 2 * gen && y <= 1) 128 else 0
      ((v + jit) % 256, (v * 2 + jit) % 256, (v * 3 + jit) % 256)
    })
  }

  /** m05 — perceptual image near-dup: decode → grayscale → 8×8
    * average-hash at the typed boundary (the same mapPartitions
    * decode stage as m01), then the IDENTICAL quadrant-blocked
    * Hamming candidate join text SimHash uses (Dedup.simhashPairs) —
    * one blocked shuffle of (id, 8-byte hash), native hamming_pairs
    * bucket expansion, never all-pairs. This is the cross-modal
    * payoff of hashing at the decode boundary: image bytes stay in
    * their scan partition, only 8-byte signatures enter the dedup
    * machinery, and one candidate-join implementation serves text and
    * images. Rows-only (binary decode is not SQL-expressible); the
    * pair structure — every emitted pair shares a base pattern — is
    * asserted in PipelineSpec. */
  private def m05(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = graft.Tables.df(s, d, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, 0, synthImageBytes(id))))
    // ORACLE-CHECKED (r15): image payloads export; DuckDB replays
    // decode→aHash AND the d04 quadrant-block pairing end to end
    media.toDF("doc_id", "frame_idx", "payload")
      .write.mode("overwrite").parquet(Similarity.exportPath("m05media", d))
    val sigs = media
      .map { case (id, _, bytes) =>
        val (w, h, gray) = bmpGray(bytes)
        (id, aHash64(w, h, gray))
      }
      .toDF("doc_id", "simhash")
    graft.operators.Dedup.simhashPairs(sigs)
  }

  private def m05Oracle: String =
    s"""WITH ${grayAhashCtes("m05media", 15, 15)},
      |blk AS (
      |  SELECT doc_id, ahash64, q, (ahash64 >> (q * 16)) & 65535 AS bits
      |  FROM ah, (SELECT unnest([0, 1, 2, 3]) AS q)),
      |p AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |    CAST(bit_count(xor(a.ahash64, b.ahash64)) AS INTEGER) AS hamming
      |  FROM blk a JOIN blk b
      |  ON a.q = b.q AND a.bits = b.bits AND a.doc_id < b.doc_id)
      |SELECT DISTINCT a_id, b_id, hamming
      |FROM p WHERE hamming <= 3 ORDER BY a_id, b_id""".stripMargin

  /** m06 — shot-boundary detection: synthesize videos whose frame
    * pattern JUMPS at a doc-dependent cut point (two "shots"), decode
    * every frame to its aHash at the typed boundary, then find
    * boundaries declaratively — lag() the hash per video, flag frames
    * whose Hamming distance to the previous frame exceeds the
    * threshold, emit (video, boundary frame, distance). The same
    * m04 shape: imperative math only inside the decode stage, scene
    * logic as window functions on the frame rows. Frames never leave
    * their partition until the tiny (video, hash) rows do. Rows-only;
    * cut positions are golden-pinned in PipelineSpec via the shared
    * synthesizer. */
  private[graft] def shotVideo(id: Long, nf: Int, cut: Int): Array[Array[Byte]] =
    Array.tabulate(nf) { f =>
      // shot 1: slow horizontal gradient; shot 2: vertical stripes —
      // far apart in aHash space, constant within a shot
      if (f < cut)
        encodeBmp(16, 16, (x, y) => {
          val v = (id % 7 + x * 16).toInt % 256
          (v, v, v)
        })
      else
        encodeBmp(16, 16, (x, y) => {
          val v = if ((y / 2) % 2 == 0) 230 else 20
          (v, v, v)
        })
    }

  private def m06(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val raw = graft.Tables.df(s, d, "documents")
      .where(col("doc_id") % 10 === 0)
      .select(col("doc_id"),
        // nf ∈ 5..8, cut ∈ 2..4 — the cut always lands strictly inside
        (pmod(xxhash64(col("doc_id")), lit(4)) + 5).cast("int").as("n_frames"),
        (pmod(xxhash64(col("doc_id"), lit(7)), lit(3)) + 2).cast("int").as("cut"))
      .as[(Long, Int, Int)]
      .mapPartitions(_.flatMap { case (id, nf, cut) =>
        shotVideo(id, nf, cut).zipWithIndex.map { case (bmp, f) => (id, f, bmp) }
      })
    // ORACLE-CHECKED (r15): frame payloads export; DuckDB replays
    // decode→aHash AND the lag/XOR/bit_count boundary scan
    raw.toDF("doc_id", "frame_idx", "payload")
      .write.mode("overwrite").parquet(Similarity.exportPath("m06frames", d))
    val frames = raw
      .map { case (id, f, bmp) =>
        val (w, h, gray) = bmpGray(bmp)
        (id, f, aHash64(w, h, gray))
      }
      .toDF("doc_id", "frame_idx", "ahash")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("frame_idx")
    frames
      .withColumn("prev", lag(col("ahash"), 1).over(w))
      .where(col("prev").isNotNull)
      .withColumn("hamming", bit_count(col("ahash").bitwiseXOR(col("prev"))))
      .where(col("hamming") >= 16)
      .select(col("doc_id"), col("frame_idx").as("cut_frame"), col("hamming"))
      .orderBy("doc_id", "cut_frame")
  }

  private def m06Oracle: String =
    s"""WITH ${grayAhashCtes("m06frames", 15, 15)},
      |lagged AS (
      |  SELECT doc_id, frame_idx, ahash64,
      |    lag(ahash64) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev
      |  FROM ah)
      |SELECT doc_id, frame_idx AS cut_frame,
      |  CAST(bit_count(xor(ahash64, prev)) AS INTEGER) AS hamming
      |FROM lagged
      |WHERE prev IS NOT NULL AND bit_count(xor(ahash64, prev)) >= 16
      |ORDER BY doc_id, cut_frame""".stripMargin

  /** Shared-clip synthesizer: frames in [segStart, segStart+segLen)
    * render an id-INDEPENDENT pattern keyed only by the absolute frame
    * index (the lifted clip); all other frames vary by video id. */
  private[graft] def segVideo(id: Long, nf: Int, segStart: Int,
      segLen: Int): Array[Array[Byte]] = {
    // hash-mixed pixels, NOT gradients: smooth gradients all threshold
    // to near-identical aHash bit patterns (right-half-above-mean), so
    // every video would spuriously match every other — the mix makes
    // each (seed) frame's 64 threshold bits effectively random, and
    // 64-bit collisions across a corpus of thousands of frames are
    // vanishingly unlikely
    def mix(seed: Long, x: Int, y: Int): Int = {
      var h = seed + x * 374761393L + y * 668265263L
      h = (h ^ (h >>> 13)) * 1274126177L
      ((h ^ (h >>> 16)) & 0xff).toInt
    }
    Array.tabulate(nf) { f =>
      val seed =
        if (f >= segStart && f < segStart + segLen) f * 7919L + 17L
        else id * 1000003L + f * 7919L + 1L
      encodeBmp(16, 16, (x, y) => { val v = mix(seed, x, y); (v, v, v) })
    }
  }

  /** The cross-video matcher behind m07, factored so the spec can run
    * it on a constructed corpus: frames (doc_id, frame_idx, ahash) →
    * contiguous cross-video runs of hash-equal frames on one index
    * diagonal, length ≥ minLen. Hashes present in more than `cap`
    * videos (color bars, black frames) are dropped before the
    * equality join — the same hot-key cap as the text dedup family,
    * so no hash block is ever quadratic. */
  private[graft] def sharedSegments(frames: DataFrame, minLen: Int = 2,
      cap: Int = 50): DataFrame = {
    val hot = frames.groupBy("ahash")
      .agg(countDistinct(col("doc_id")).as("nv"))
      .where(col("nv") > cap).select("ahash")
    val fr = frames.join(broadcast(hot), Seq("ahash"), "left_anti")
    fr.as("a")
      .join(fr.as("b"),
        col("a.ahash") === col("b.ahash") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("a.frame_idx").as("ai"), col("b.frame_idx").as("bi"))
      .withColumn("diag", col("ai") - col("bi"))
      .groupBy("a_id", "b_id", "diag")
      .agg(count(lit(1)).as("n"), min(col("ai")).as("a_start"),
        max(col("ai")).as("a_end"), min(col("bi")).as("b_start"))
      .where(col("n") >= minLen &&
        col("a_end") - col("a_start") + 1 === col("n"))
      .select(col("a_id"), col("b_id"), col("a_start").cast("int").as("a_start"),
        col("b_start").cast("int").as("b_start"), col("n").as("seg_len"))
      .orderBy("a_id", "b_id", "a_start")
  }

  /** m07 — cross-video duplicate segment detection (the re-used-clip
    * finder): every third video embeds a shared clip at a
    * video-dependent offset; frames decode to aHashes at the typed
    * boundary (m02's discipline — bytes never leave their partition),
    * then [[sharedSegments]] finds contiguous hash-equal runs across
    * videos via ONE equality join on the 8-byte hash key, grouped by
    * index diagonal — never all-pairs, hot frames capped. Rows-only
    * (decode is not SQL-expressible); exact detected segments are
    * pinned on a constructed corpus in PipelineSpec. */
  private def m07(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val frames = graft.Tables.df(s, d, "documents")
      .where(col("doc_id") % 10 === 0)
      .select(col("doc_id"),
        (pmod(xxhash64(col("doc_id")), lit(4)) + 6).cast("int").as("nf"),
        (col("doc_id") % 30 === 0).as("lifted"),
        (pmod(xxhash64(col("doc_id"), lit(3)), lit(2)) + 1).cast("int").as("st"),
        (pmod(xxhash64(col("doc_id"), lit(5)), lit(3)) + 2).cast("int").as("ln"))
      .as[(Long, Int, Boolean, Int, Int)]
      .mapPartitions(_.flatMap { case (id, nf, lifted, st, ln) =>
        val fs = if (lifted) segVideo(id, nf, st, ln)
          else segVideo(id, nf, 0, 0)
        fs.zipWithIndex.map { case (bmp, f) => (id, f, bmp) }
      })
    // ORACLE-CHECKED (r15): frame payloads export; DuckDB replays
    // decode→aHash AND sharedSegments (hot-cap, equality join,
    // diagonal run grouping) end to end
    frames.toDF("doc_id", "frame_idx", "payload")
      .write.mode("overwrite").parquet(Similarity.exportPath("m07frames", d))
    sharedSegments(frames
      .map { case (id, f, bmp) =>
        val (w, h, gray) = bmpGray(bmp)
        (id, f, aHash64(w, h, gray))
      }
      .toDF("doc_id", "frame_idx", "ahash"))
  }

  /** DuckDB replay of [[sharedSegments]] over a CTE `fr0(doc_id,
    * frame_idx, ahash64)`: hot-hash cap, the doc-ordered equality
    * join, diagonal grouping, contiguity + minLen cut. */
  private def sharedSegmentsSql(minLen: Int): String =
    s"""hot AS (
      |  SELECT ahash64 FROM (
      |    SELECT ahash64, COUNT(DISTINCT doc_id) AS nv FROM fr0 GROUP BY 1)
      |  WHERE nv > 50),
      |fr AS (SELECT * FROM fr0 WHERE ahash64 NOT IN (SELECT ahash64 FROM hot)),
      |pr AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |    a.frame_idx AS ai, b.frame_idx AS bi
      |  FROM fr a JOIN fr b ON a.ahash64 = b.ahash64 AND a.doc_id < b.doc_id),
      |seg AS (
      |  SELECT a_id, b_id, ai - bi AS diag, COUNT(*) AS n,
      |    MIN(ai) AS a_start, MAX(ai) AS a_end, MIN(bi) AS b_start
      |  FROM pr GROUP BY a_id, b_id, ai - bi)
      |SELECT a_id, b_id, CAST(a_start AS INTEGER) AS a_start,
      |  CAST(b_start AS INTEGER) AS b_start, CAST(n AS BIGINT) AS seg_len
      |FROM seg WHERE n >= $minLen AND a_end - a_start + 1 = n
      |ORDER BY a_id, b_id, a_start""".stripMargin

  private def m07Oracle: String =
    s"""WITH ${grayAhashCtes("m07frames", 15, 15)},
      |fr0 AS (SELECT doc_id, frame_idx, ahash64 FROM ah),
      |${sharedSegmentsSql(2)}""".stripMargin

  /** splitmix64 finalizer — deterministic white-noise samples for the
    * audio synthesizer (hash-mixed per-sample patterns; smooth
    * waveforms give near-constant frame energies and degenerate
    * fingerprints — the aHash-gradient lesson from m05/m07). */
  private[graft] def mix64(z0: Long): Long = {
    var z = z0 + -7046029254386353131L
    z = (z ^ (z >>> 30)) * -4658895280553007687L
    z = (z ^ (z >>> 27)) * -7723592293110705685L
    z ^ (z >>> 31)
  }

  /** Overlapping 8-frame energy-fingerprint windows for one clip:
    * 20 ms frame energies (m04's [[frameEnergies]]) hashed with an
    * FNV-style combine — window w equals window w' of another clip
    * iff their 8 frame energies are integer-identical. */
  private[graft] def audioFingerprints(r: AudioRow): Iterator[(Long, Int, Long)] = {
    val es = frameEnergies(r).map(_.mean_sq).toArray
    (0 to es.length - 8).iterator.map { w =>
      var h = -3750763034362895579L // FNV-1a 64 offset
      var i = w
      while (i < w + 8) { h = (h ^ es(i)) * 1099511628211L; i += 1 }
      (r.doc_id, w, h)
    }
  }

  /** m08 — cross-clip AUDIO duplicate detection ("same master,
    * different cut"): the synthesizer derives each clip's PCM from a
    * GENERATOR CLASS (doc_id mod 40) via splitmix64 noise, so clips
    * sharing a class are byte-identical prefixes truncated at
    * different doc-dependent lengths — the re-encoded/trimmed upload
    * shape. Decode → 20 ms frame energies → overlapping 8-frame
    * fingerprint windows at the typed mapPartitions boundary (bytes
    * never leave their partition), then [[sharedSegments]] — m07's
    * diagonal-grouped equality join, reused verbatim — finds the
    * contiguous fingerprint-equal runs across clips: ONE join on the
    * 8-byte key, hot keys capped, never all-pairs. Rows-only (decode
    * is not SQL-expressible); exact segments pinned on a constructed
    * corpus in PipelineSpec. */
  private def m08(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val clips = graft.Tables.df(s, d, "documents")
      .where(col("doc_id") % 7 === 0)
      .select(col("doc_id"),
        pmod(col("doc_id"), lit(40)).as("cls"),
        (pmod(xxhash64(col("doc_id"), lit(2)), lit(4000)) + 4000).cast("int").as("n"))
      .as[(Long, Long, Int)]
      .mapPartitions(_.map { case (id, cls, n) =>
        (id, encodeWav(8000, n, i =>
          (mix64(cls * 1000003L + i) & 0xFFFF).toShort))
      })
    // ORACLE-CHECKED (r15): clip payloads export; DuckDB replays the
    // PCM decode, the 20 ms energies, the 8-frame FNV window hash in
    // mod-2^64 arithmetic, AND sharedSegments end to end
    clips.toDF("doc_id", "payload")
      .write.mode("overwrite").parquet(Similarity.exportPath("m08wav", d))
    val wins = clips
      .mapPartitions(_.flatMap { case (id, wav) =>
        audioFingerprints(AudioRow(id, wav))
      })
      .toDF("doc_id", "frame_idx", "ahash")
    sharedSegments(wins, minLen = 4)
  }

  private def m08Oracle: String = {
    // one FNV-1a step in explicit mod-2^64 arithmetic: XOR in the
    // signed-BIGINT domain (bitwise-identical to unsigned), multiply
    // in unsigned HUGEINT, convert back to two's-complement BIGINT
    def unsignedOf(x: String) =
      s"(CASE WHEN $x < 0 THEN CAST($x AS HUGEINT) + 18446744073709551616::HUGEINT ELSE CAST($x AS HUGEINT) END)"
    def signedOf(u: String) =
      s"(CASE WHEN $u >= 9223372036854775808::HUGEINT THEN CAST($u - 18446744073709551616::HUGEINT AS BIGINT) ELSE CAST($u AS BIGINT) END)"
    def step(h: String, e: String) = signedOf(
      s"((${unsignedOf(s"xor($h, $e)")} * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT)")
    val steps = (0 until 8).map { k =>
      s"""w${k + 1} AS (
        |  SELECT s.doc_id, s.w, ${step("s.h", "f.e")} AS h
        |  FROM w$k s JOIN frames f ON f.doc_id = s.doc_id AND f.fi = s.w + $k)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${blobCtes("m08wav")},
      |${wavCtesN(8191)},
      |frames AS (
      |  SELECT doc_id, i // 160 AS fi,
      |    CAST(SUM(CAST(s AS BIGINT) * s) // 160 AS BIGINT) AS e
      |  FROM samp JOIN hdr USING (doc_id)
      |  WHERE i < (hdr.n // 160) * 160
      |  GROUP BY doc_id, i // 160),
      |nf AS (SELECT doc_id, COUNT(*) AS nfr FROM frames GROUP BY doc_id),
      |w0 AS (
      |  SELECT f.doc_id, g.w AS w, (-3750763034362895579)::BIGINT AS h
      |  FROM nf f CROSS JOIN generate_series(0, 63) g(w)
      |  WHERE g.w <= f.nfr - 8),
      |$steps,
      |fr0 AS (SELECT doc_id, w AS frame_idx, h AS ahash64 FROM w8),
      |${sharedSegmentsSql(4)}""".stripMargin
  }

  /** Per-patch features of one image: grid cell (py, px), pixel count,
    * and luminance mean/population-variance from integer sums. */
  final case class PatchFeatures(
      doc_id: Long, py: Int, px: Int, n_px: Long, mean: Double, varp: Double)

  /** Split a luminance raster into a g×g patch grid (ragged at the
    * edges when g doesn't divide the side — floor boundaries
    * `i·side/g`, the resizeNearest convention) and reduce each patch
    * to integer (count, sum, sum-of-squares) — exact, so mean/variance
    * are reproducible doubles. */
  def patchGrid(id: Long, w: Int, h: Int, gray: Array[Int], g: Int): Seq[PatchFeatures] =
    for {
      py <- 0 until g
      px <- 0 until g
      y0 = py * h / g; y1 = (py + 1) * h / g
      x0 = px * w / g; x1 = (px + 1) * w / g
      if y1 > y0 && x1 > x0
    } yield {
      var n = 0L; var s = 0L; var s2 = 0L
      var y = y0
      while (y < y1) {
        var x = x0
        while (x < x1) {
          val v = gray(y * w + x); n += 1; s += v; s2 += v.toLong * v
          x += 1
        }
        y += 1
      }
      val mean = s.toDouble / n
      PatchFeatures(id, py, px, n,
        math.round(mean * 1e6) / 1e6,
        math.round((s2.toDouble / n - mean * mean) * 1e6) / 1e6)
    }

  /** m09 — image PATCH GRID extraction (the ViT front end with the
    * learned projection stubbed): decode at the typed boundary, split
    * into a 4×4 grid, one row per patch with exact integer-sum
    * mean/variance — the tensorization step every vision-training
    * pipeline runs between "opaque bytes" and "model input". All pixel
    * math stays inside the per-partition decode (the m01 contract);
    * only g² small rows per image leave the scan. Golden-pinned on
    * constructed rasters incl. ragged grids; the synthetic driver
    * corpus reuses m01's generator. */
  private def m09(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = graft.Tables.df(s, d, "documents")
      .select(
        col("doc_id"),
        (pmod(xxhash64(col("doc_id")), lit(24)) + 8).cast("int").as("width"),
        (pmod(xxhash64(col("doc_id"), lit(1)), lit(24)) + 8).cast("int").as("height"))
      .as[(Long, Int, Int)]
      .mapPartitions(_.map { case (id, w0, h0) =>
        (id, 0, encodeBmp(w0, h0, (x, y) =>
          (((id + x) % 256).toInt, ((id + y) % 256).toInt, ((id + x + y) % 256).toInt)))
      })
    // ORACLE-CHECKED (r15): payloads export; DuckDB replays the
    // luminance decode AND the ragged floor-boundary patch grid with
    // the exact integer-sum mean/variance and the explicit
    // floor(x·1e6+0.5)/1e6 rounding (bit-identical to math.round)
    media.toDF("doc_id", "frame_idx", "payload")
      .write.mode("overwrite").parquet(Similarity.exportPath("m09media", d))
    media
      .flatMap { case (id, _, bytes) =>
        val (w, h, gray) = bmpGray(bytes)
        patchGrid(id, w, h, gray, 4)
      }
      .toDF()
      .orderBy("doc_id", "py", "px")
  }

  private def m09Oracle: String =
    s"""WITH ${grayAhashCtes("m09media", 30, 30)},
      |patches AS (
      |  SELECT p.doc_id, g.py, g.gx AS px, COUNT(*) AS n,
      |    CAST(SUM(p.lum) AS DOUBLE) AS s, CAST(SUM(p.lum*p.lum) AS DOUBLE) AS s2
      |  FROM px p JOIN hdr2 d USING (doc_id, frame_idx)
      |  CROSS JOIN (SELECT a.py, b.gx FROM generate_series(0, 3) a(py),
      |              generate_series(0, 3) b(gx)) g
      |  WHERE p.y >= g.py*d.h//4 AND p.y < (g.py+1)*d.h//4
      |    AND p.x >= g.gx*d.w//4 AND p.x < (g.gx+1)*d.w//4
      |  GROUP BY p.doc_id, g.py, g.gx)
      |SELECT doc_id, CAST(py AS INTEGER) AS py, CAST(px AS INTEGER) AS px,
      |  CAST(n AS BIGINT) AS n_px,
      |  floor((s/n)*1000000 + 0.5)/1000000 AS mean,
      |  floor((s2/n - (s/n)*(s/n))*1000000 + 0.5)/1000000 AS varp
      |FROM patches
      |ORDER BY doc_id, py, px""".stripMargin

  final case class SpectralRow(doc_id: Long, top_hz: Int, p_top: Double,
      dominance: Double)

  /** m10 — spectral probe / dominant-frequency detection: Goertzel
    * power at a fixed probe grid (100–500 Hz — the corpus's f0 range)
    * per clip, report the winning probe and its dominance over the
    * runner-up. The per-bin O(n) Goertzel beats an FFT whenever only
    * a handful of bins matter (DTMF, pitch screening, hum detection
    * at 50/60 Hz) — and unlike an FFT it needs no power-of-two
    * padding and streams the PCM once inside the decode boundary;
    * only 4 small columns per clip leave the scan. Rows-only
    * (transcendental recurrence); PipelineSpec pins a pure sine to
    * EXACTLY its probe bin with dominance ≫ 1, and the triangle
    * corpus's winner to the probe nearest its seeded fundamental. */
  private def m10(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val probes = Array(100.0, 125.0, 160.0, 200.0, 250.0, 320.0, 400.0, 500.0)
    // ORACLE-CHECKED selection CONTRACT (r15, the q34 discipline
    // applied to DSP): the Goertzel powers are the engine artifact —
    // a windowed transcendental recurrence no second engine replays
    // bit-exactly — so the per-probe powers EXPORT, and the
    // selection (first-max probe, runner-up, dominance, rounding) is
    // computed by BOTH sides from the exported powers and
    // hash-checked. The DSP itself stays pinned by PipelineSpec's
    // pure-sine and seeded-fundamental floors.
    val powers = audioCorpus(s, d)
      .mapPartitions(_.flatMap { r =>
        val (rate, samples) = pcmSamples(r)
        probes.zipWithIndex.map { case (f, i) =>
          (r.doc_id, i, f.toInt, goertzelPower(samples, rate, f))
        }
      })
      .toDF("doc_id", "ord", "hz", "p")
    val out = Similarity.exportPath("m10powers", d)
    powers.write.mode("overwrite").parquet(out)
    val pw = s.read.parquet(out)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("p").desc, col("ord"))
    pw.withColumn("rn", row_number().over(w))
      .where(col("rn") <= 2)
      .groupBy("doc_id")
      .agg(
        max(when(col("rn") === 1, col("hz"))).as("hz1"),
        max(when(col("rn") === 1, col("p"))).as("p1"),
        max(when(col("rn") === 2, col("p"))).as("p2"))
      .select(col("doc_id"), col("hz1").as("top_hz"),
        (floor(col("p1") * 1e6 + 0.5) / 1e6).as("p_top"),
        when(col("p2") > 0, floor(col("p1") / col("p2") * 1e3 + 0.5) / 1e3)
          .otherwise(lit(Double.MaxValue)).as("dominance"))
      .orderBy("doc_id")
  }

  private def m10Oracle: String =
    s"""WITH pw AS (
      |  SELECT * FROM read_parquet('${Similarity.oracleExportPath("m10powers")}/*.parquet')),
      |r AS (
      |  SELECT doc_id, ord, hz, p,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY p DESC, ord) AS rn
      |  FROM pw),
      |a AS (
      |  SELECT doc_id,
      |    MAX(CASE WHEN rn = 1 THEN hz END) AS hz1,
      |    MAX(CASE WHEN rn = 1 THEN p END) AS p1,
      |    MAX(CASE WHEN rn = 2 THEN p END) AS p2
      |  FROM r WHERE rn <= 2 GROUP BY doc_id)
      |SELECT doc_id, CAST(hz1 AS INTEGER) AS top_hz,
      |  floor(p1*1000000 + 0.5)/1000000 AS p_top,
      |  CASE WHEN p2 > 0 THEN floor(p1/p2*1000 + 0.5)/1000
      |       ELSE 1.7976931348623157e308 END AS dominance
      |FROM a ORDER BY doc_id""".stripMargin

  /** `def`, not `val`: the m01/m03/m04 oracles name the export path
    * THIS run wrote (Verify evaluates oracleSql after the queries). */
  def all: Seq[Q] = Seq(
    Q("m01_multimodal", Some(m01Oracle), m01),
    Q("m02_frame_sample", Some(m02Oracle), m02),
    Q("m03_waveform_stats", Some(m03Oracle), m03),
    Q("m04_silence_segments", Some(m04Oracle), m04),
    Q("m05_image_near_dup", Some(m05Oracle), m05),
    Q("m06_shot_boundaries", Some(m06Oracle), m06),
    Q("m07_shared_segments", Some(m07Oracle), m07),
    Q("m08_audio_dup", Some(m08Oracle), m08),
    Q("m09_patch_grid", Some(m09Oracle), m09),
    Q("m10_spectral_probe", Some(m10Oracle), m10))
}
