package graft.operators

import java.awt.image.BufferedImage
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import java.security.MessageDigest
import java.util.HexFormat
import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.dec4
import graft.sources.Tables._

/** Multimodal (binary payload) columns (SURVEY.md §2 E1/E2).
  *
  * The engine treats images/audio/video as opaque `binary` columns with
  * typed metadata, exactly like a production lakehouse: payloads are
  * never parsed by the relational layer; decode/feature-extraction runs
  * in per-partition kernels whose Spark-side plumbing (schema, batching,
  * partitioning) is real while the codec itself is pluggable.
  *
  * Every kernel runs through one helper, [[payloadRows]]: it reads one
  * (id, payload) pair per row, builds the kernel once per partition (its
  * MessageDigest and other scratch state live there) and encodes the
  * rows the kernel returns under the caller's schema. The doc-driven
  * synthesizers enter it through [[synthesizeBy]], whose payload is a
  * document's text or its id alone. The helper owns the null policy: a
  * null id or payload fails with an IllegalArgumentException naming the
  * column and the id, never an NPE inside a codec. Payloads arrive from
  * outside the program on the E7 ingest path ([[readBlobs]]), so this is
  * the check on that input, as are the magic and structure `require`s of
  * each codec.
  *
  * Scale posture: metadata extraction (size/hash/magic) is codegen'd
  * Column work — no kernel, no shuffle. Decoding streams partitions
  * through a kernel; payload bytes never cross a shuffle boundary.
  */
object Multimodal {

  /** The one per-row kernel of this file: `kernel()` is built once per
    * partition and maps each row's (id, payload) — the `idCol` and
    * `payloadCol` columns of `in` — to its output rows under `out`. A
    * null id or payload fails with `require`, naming the column and,
    * for a null payload, the id.
    */
  private def payloadRows[P](in: DataFrame, out: StructType,
      idCol: String = "media_id", payloadCol: String = "payload")(
      kernel: () => (Long, P) => Iterator[Row]): DataFrame =
    in.select(col(idCol), col(payloadCol)).mapPartitions { it =>
      val k = kernel()
      it.flatMap { row =>
        require(!row.isNullAt(0), s"non-null $idCol violated")
        val id = row.getLong(0)
        require(!row.isNullAt(1), s"non-null $payloadCol violated at $idCol $id")
        k(id, row.getAs[P](1))
      }
    }(Encoders.row(out))

  /** The doc-driven entry to [[payloadRows]]: one kernel call per
    * document of `dir`, the documents spread by `fanOut`. The payload is
    * the `text` column, or with `payloadCol = "doc_id"` the id itself,
    * for a synthesizer that derives everything from the id (reading
    * only `doc_id` keeps `text` out of the scan and of any exchange).
    */
  private def synthesizeBy[P](s: SparkSession, dir: String, out: StructType,
      payloadCol: String)(kernel: () => (Long, P) => Iterator[Row]): DataFrame = {
    val docs = documents(s, dir)
    val read = if (payloadCol == "doc_id") docs.select(col("doc_id"))
               else docs.select(col("doc_id"), col(payloadCol))
    payloadRows(fanOut(read), out, "doc_id", payloadCol)(kernel)
  }

  private val blobSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = false)))

  /** The synthesized-media frame shared by every single-payload
    * fixture: one (media_id, payload) row per document, the payload
    * `encode(doc_id)`. */
  private def synthesizeBlobs(s: SparkSession, dir: String)(
      encode: Long => Array[Byte]): DataFrame =
    synthesizeBy[Long](s, dir, blobSchema, "doc_id") { () => (id, _) =>
      Iterator.single(Row(id, encode(id)))
    }

  /** Lowercase hex md5 of `bytes`. */
  private def md5Hex(md: MessageDigest, bytes: Array[Byte]): String =
    HexFormat.of().formatHex(md.digest(bytes))

  /** E1: binary metadata extraction over payloads synthesized from the
    * documents table (the container has no media files — the payload
    * column IS the contract). Fully SQL-oracle'd: byte length, sha256,
    * and a 4-byte magic sniff.
    */
  def qBinaryMeta(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .select(
        col("doc_id"),
        length(col("payload")).cast("long").as("n_bytes"),
        sha2(col("payload"), 256).as("sha"),
        lower(hex(substring(col("payload"), 1, 4))).as("magic"))

  /** E3: media decode roundtrip through the oracle gate — the widths/
    * heights READ BACK from the synthesized GRFT headers must equal the
    * formulas that wrote them, and the feature extractor must emit its
    * contracted dimension. The oracle recomputes the header fields from
    * doc_id and the payload length from the text, so any header-layout
    * or parse bug (endianness, offset, truncation) hash-mismatches.
    */
  def qMediaMeta(s: SparkSession, dir: String): DataFrame = {
    val media = synthesizeMedia(s, dir)
    decodeFeatures(media)
      .select(col("media_id"),
              col("width").cast("long").as("width"),
              col("height").cast("long").as("height"),
              size(col("features")).cast("long").as("n_features"))
  }

  private val containerSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false)))

  /** The E4/E5 frame-container writer, as a [[payloadRows]] kernel over
    * (doc_id, text): `magic`, the frame count n = 2 + id%4, then each
    * frame as an int length and its bytes. GRFV and GRFB differ only in
    * the magic and in `split`, which cuts a text into its n frames.
    */
  private def writeFrames(magic: String)(
      split: (String, Int) => IndexedSeq[Array[Byte]]): () => (Long, String) => Iterator[Row] =
    () => (id, text) => {
      val n = (2 + id % 4).toInt
      val frames = split(text, n)
      val bb = ByteBuffer.allocate(8 + frames.map(_.length + 4).sum)
      bb.put(magic.getBytes); bb.putInt(n)
      frames.foreach { f => bb.putInt(f.length); bb.put(f) }
      Iterator.single(Row(id, bb.array(), n))
    }

  /** The E4/E5 stride sampler: parse a `magic` container and emit every
    * `stride`-th frame as (media_id, frame_idx, measure, md5), where
    * `report` gives a sampled frame's measure and hex md5. The sampling
    * decision happens INSIDE the parse loop, so skipped frames are
    * seeked over, not read (the property that matters when a frame is
    * 2 MB of pixels instead of a text chunk).
    */
  private def sampleContainer(media: DataFrame, magic: String, stride: Int,
      out: StructType)(report: (MessageDigest, Array[Byte]) => (Long, String)): DataFrame =
    payloadRows[Array[Byte]](media, out) { () =>
      val md = MessageDigest.getInstance("MD5")
      (id, payload) => {
        val bb = ByteBuffer.wrap(payload)
        val m = new Array[Byte](4); bb.get(m)
        require(new String(m) == magic, s"bad magic for media $id")
        val n = bb.getInt
        (0 until n).flatMap { i =>
          val flen = bb.getInt
          if (i % stride == 0) {
            val f = new Array[Byte](flen); bb.get(f)
            val (measure, digest) = report(md, f)
            Some(Row(id, i, measure, digest))
          } else {
            bb.position(bb.position() + flen) // seek, don't decode
            None
          }
        }.iterator
      }
    }

  /** E4 media record: multi-frame payload ("GRFV" + frame count + int
    * length-prefixed frames — the text chopped into 2–5 char-boundary
    * chunks, so a SQL oracle can rebuild every frame). Contract limit:
    * chunk boundaries use UTF-16 unit indexes (String.substring) while
    * the oracle counts code points — equal only for BMP text (the
    * corpus vocab is BMP; an astral char could also split a surrogate
    * pair at a boundary). A production container would chunk on byte
    * offsets instead.
    */
  def synthesizeVideo(s: SparkSession, dir: String): DataFrame =
    synthesizeBy(s, dir, containerSchema, "text")(writeFrames("GRFV") { (text, n) =>
      val len = text.length
      (0 until n).map(i => text.substring((i * len) / n, ((i + 1) * len) / n).getBytes(UTF_8))
    })

  private val frameSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("frame_idx", IntegerType, nullable = false),
    StructField("frame_chars", LongType, nullable = false),
    StructField("frame_md5", StringType, nullable = false)))

  /** E4: stride frame sampling — every `stride`-th frame with its char
    * count and content hash. */
  def sampleFrames(media: DataFrame, stride: Int): DataFrame =
    sampleContainer(media, "GRFV", stride, frameSchema) { (md, f) =>
      (new String(f, UTF_8).length.toLong, md5Hex(md, f))
    }

  def qMediaFrames(s: SparkSession, dir: String): DataFrame =
    sampleFrames(synthesizeVideo(s, dir), stride = 2)

  /** E5 media record: BYTE-OFFSET chunked container ("GRFB" + frame
    * count + int length-prefixed byte frames) — the production chunking
    * that drops E4's BMP-only contract: frame boundaries are byte
    * offsets (i·len/n) snapped FORWARD to the next UTF-8 code-point
    * start (skip 10xxxxxx continuation bytes, ≤3 in valid UTF-8), so no
    * code point is ever split regardless of astral-plane content. The
    * snap is the only text-awareness; a real A/V container needs none
    * (its frames are already byte-addressed).
    */
  def synthesizeVideoBytes(s: SparkSession, dir: String): DataFrame =
    synthesizeBy(s, dir, containerSchema, "text")(byteFrames)

  /** E5 chunker over any (doc_id, text) frame — split out so specs can
    * feed multibyte/astral content the all-ASCII corpus lacks.
    */
  def chunkBytes(docs: DataFrame): DataFrame =
    payloadRows(docs, containerSchema, "doc_id", "text")(byteFrames)

  private val byteFrames = writeFrames("GRFB") { (text, n) =>
    val bytes = text.getBytes(UTF_8)
    val blen = bytes.length
    // snapped boundary: min o in 0..3 with b+o at end-of-buffer or
    // on a non-continuation byte (mirrors the oracle's list_min)
    def snap(b: Int): Int = {
      var o = 0
      while (o < 3 && b + o < blen && (bytes(b + o) & 0xC0) == 0x80) o += 1
      b + o
    }
    val bnds = Array.tabulate(n + 1)(i => snap((i.toLong * blen / n).toInt))
    (0 until n).map(i => java.util.Arrays.copyOfRange(bytes, bnds(i), bnds(i + 1)))
  }

  private val byteFrameSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("frame_idx", IntegerType, nullable = false),
    StructField("frame_bytes", LongType, nullable = false),
    StructField("frame_md5", StringType, nullable = false)))

  /** E5: stride sampling over the byte-offset container. The content
    * hash is md5 of the frame's UPPERCASE-HEX rendering — DuckDB's md5
    * only takes VARCHAR, and hex(blob) is the one bridge both engines
    * render identically.
    */
  def sampleByteFrames(media: DataFrame, stride: Int): DataFrame =
    sampleContainer(media, "GRFB", stride, byteFrameSchema) { (md, f) =>
      val hex = HexFormat.of().withUpperCase().formatHex(f)
      (f.length.toLong, md5Hex(md, hex.getBytes(US_ASCII)))
    }

  def qMediaBytes(s: SparkSession, dir: String): DataFrame =
    sampleByteFrames(synthesizeVideoBytes(s, dir), stride = 2)

  val oracles: Map[String, String] = Map(
    "q_media_warc" ->
      """WITH d AS (SELECT doc_id AS id, 1 + doc_id % 3 AS nr,
        |    30 + doc_id % 50 AS len0 FROM documents),
        |tb AS (SELECT id, CAST(SUM(30 + (id + r) % 50) AS BIGINT) AS payload_bytes
        |  FROM (SELECT id, unnest(range(nr)) AS r FROM d) GROUP BY 1),
        |pc AS (SELECT id, CAST(SUM((i + 1) * ((id * 19 + i * 29) % 251)) AS BIGINT) AS probe
        |  FROM (SELECT id, unnest(range(len0)) AS i FROM d) GROUP BY 1)
        |SELECT d.id AS media_id, CAST(nr + 1 AS BIGINT) AS n_records,
        |  CAST(nr AS BIGINT) AS n_responses, tb.payload_bytes,
        |  pc.probe AS probe_checksum
        |FROM d JOIN tb ON tb.id = d.id JOIN pc ON pc.id = d.id
        |ORDER BY media_id""".stripMargin,
    "q_media_zip" ->
      """WITH d AS (SELECT doc_id AS id, 2 + doc_id % 3 AS m,
        |    20 + doc_id % 40 AS len0 FROM documents),
        |tb AS (SELECT id, CAST(SUM(20 + (id + j) % 40) AS BIGINT) AS total_bytes
        |  FROM (SELECT id, unnest(range(m)) AS j FROM d) GROUP BY 1),
        |pc AS (SELECT id, CAST(SUM((i + 1) * ((id * 7 + i * 5) % 251)) AS BIGINT) AS probe
        |  FROM (SELECT id, unnest(range(len0)) AS i FROM d) GROUP BY 1)
        |SELECT d.id AS media_id, CAST(m AS BIGINT) AS n_members,
        |  tb.total_bytes, pc.probe AS probe_checksum,
        |  CASE WHEN d.id % 89 = 0 THEN 0 ELSE 1 END AS crc_ok
        |FROM d JOIN tb ON tb.id = d.id JOIN pc ON pc.id = d.id
        |ORDER BY media_id""".stripMargin,
    "q_media_mp3" ->
      """WITH d AS (SELECT doc_id AS id,
        |    CASE doc_id % 3 WHEN 0 THEN 32 WHEN 1 THEN 48 ELSE 64 END AS kbps,
        |    CASE doc_id % 2 WHEN 0 THEN 44100 ELSE 32000 END AS sr,
        |    6 + doc_id % 5 AS nf FROM documents),
        |b AS (SELECT *, (144 * kbps * 1000) // sr AS base FROM d),
        |ck AS (SELECT id, CAST(SUM((i + 1) * ((id * 13 + i * 3) % 253)) AS BIGINT) AS cs
        |  FROM (SELECT id, unnest(range(base - 4)) AS i FROM b) GROUP BY 1)
        |SELECT b.id AS media_id, CAST(nf AS BIGINT) AS n_frames,
        |  CAST(kbps AS BIGINT) AS bitrate_kbps, CAST(sr AS BIGINT) AS sample_rate,
        |  CAST(nf * 1152 * 1000000 // sr AS BIGINT) AS duration_us,
        |  CAST(nf * base + nf // 2 AS BIGINT) AS stream_bytes,
        |  cs AS probe_checksum
        |FROM b JOIN ck USING (id) ORDER BY media_id""".stripMargin,
    "q_video_index" ->
      """WITH d AS (SELECT doc_id AS id, 8 + doc_id % 8 AS w, 6 + doc_id % 6 AS h,
        |    4 + doc_id % 6 AS nf, 33333 + (doc_id % 3) * 8334 AS usf FROM documents),
        |sf AS (SELECT id, w, h, f FROM (SELECT id, w, h, nf, unnest(range(nf)) AS f FROM d)
        |  WHERE f % 3 = 0),
        |px AS (SELECT id, f, unnest(range(w * h)) AS i FROM sf),
        |ck AS (SELECT id, CAST(SUM((i + 1) * ((id * 31 + f * 17 + i * 7) % 251)) AS BIGINT) AS cs
        |  FROM px GROUP BY 1)
        |SELECT id AS media_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(nf AS BIGINT) AS n_frames, CAST(nf * usf AS BIGINT) AS duration_us,
        |  CAST((nf + 1) // 2 AS BIGINT) AS n_key, CAST((nf + 2) // 3 AS BIGINT) AS n_sampled,
        |  cs AS sampled_checksum
        |FROM d JOIN ck USING (id) ORDER BY media_id""".stripMargin,
    "q_png_integrity" ->
      """SELECT doc_id AS media_id, 1 AS sig_ok,
        |  CAST(CASE WHEN doc_id % 97 = 0 THEN 1 ELSE 0 END AS BIGINT)
        |    AS n_bad_chunks,
        |  CASE WHEN doc_id % 97 = 0 THEN 0 ELSE 1 END AS crc_ok
        |FROM documents ORDER BY media_id""".stripMargin,
    "q_media_phash" ->
      """WITH d AS (SELECT doc_id, CAST(8 + doc_id % 16 AS BIGINT) AS w,
        |    CAST(8 + doc_id % 8 AS BIGINT) AS h FROM documents),
        |g AS (SELECT doc_id, (i % 9) AS xt, (i // 9) AS yt,
        |    ((i % 9) * w) // 9 AS sx, ((i // 9) * h) // 8 AS sy
        |  FROM d, (SELECT unnest(range(72)) AS i)),
        |p AS (SELECT doc_id, xt, yt,
        |    299*((7*doc_id + 3*sx + 5*sy) % 256)
        |  + 587*((11*doc_id + sx + 2*sy) % 256)
        |  + 114*((13*doc_id + 2*sx + sy) % 256) AS lum
        |  FROM g),
        |b AS (SELECT doc_id, yt*8 + xt AS idx,
        |    CASE WHEN LEAD(lum) OVER (PARTITION BY doc_id, yt
        |      ORDER BY xt) > lum THEN 1 ELSE 0 END AS bit
        |  FROM p QUALIFY xt < 8),
        |hb AS (SELECT doc_id, idx // 16 AS band_id,
        |    SUM(bit * (1 << (idx % 16))) AS v
        |  FROM b GROUP BY 1, 2),
        |bandc AS (SELECT band_id, v, COUNT(*) AS n FROM hb GROUP BY 1, 2),
        |bands AS (SELECT CAST(band_id AS BIGINT) AS band_id,
        |    CAST(COUNT(*) AS BIGINT) AS n_buckets,
        |    CAST(MAX(n) AS BIGINT) AS max_bucket,
        |    CAST(SUM(n*(n-1)//2) AS BIGINT) AS n_candidate_pairs
        |  FROM bandc GROUP BY 1),
        |fh AS (SELECT STRING_AGG(v::VARCHAR, ',' ORDER BY band_id) AS v
        |  FROM hb GROUP BY doc_id),
        |fc AS (SELECT v, COUNT(*) AS n FROM fh GROUP BY 1),
        |fulls AS (SELECT CAST(-1 AS BIGINT) AS band_id,
        |    CAST(COUNT(*) AS BIGINT) AS n_buckets,
        |    CAST(MAX(n) AS BIGINT) AS max_bucket,
        |    CAST(SUM(n*(n-1)//2) AS BIGINT) AS n_candidate_pairs
        |  FROM fc)
        |SELECT * FROM bands UNION ALL SELECT * FROM fulls
        |ORDER BY band_id""".stripMargin,
    "q_media_audio" ->
      """WITH d AS (SELECT doc_id, CAST(64 + doc_id % 64 AS BIGINT) AS n FROM documents),
        |t AS (SELECT doc_id, n, i AS t, ((doc_id*31 + i*i*7) % 4096) - 2048 AS s
        |  FROM d, (SELECT unnest(range(128)) AS i) WHERE i < n),
        |ch AS (SELECT doc_id, n, c, (c*n)//4 AS st, ((c+1)*n)//4 AS en
        |  FROM d, (SELECT unnest(range(4)) AS c)),
        |l AS (SELECT doc_id, t, s, LAG(s) OVER (PARTITION BY doc_id ORDER BY t) AS ps FROM t),
        |j AS (SELECT ch.doc_id, ch.c, l.t, l.s, l.ps, ch.st
        |  FROM ch JOIN l ON l.doc_id = ch.doc_id AND l.t >= ch.st AND l.t < ch.en)
        |SELECT doc_id AS media_id, CAST(c AS INT) AS chunk_idx,
        |  COUNT(*) AS n_samples,
        |  CAST(MAX(ABS(s)) AS BIGINT) AS peak,
        |  CAST(SUM(CASE WHEN t >= st+1 AND (ps < 0) <> (s < 0) THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_cross,
        |  CAST(ROUND(sqrt(CAST(SUM(s*s) AS DOUBLE)/COUNT(*)),4) AS DECIMAL(18,4))::DOUBLE AS rms
        |FROM j GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q_mm_curate" ->
      """WITH tg AS (SELECT doc_id,
        |    CASE WHEN LEN(string_split(text,' ')) >= 30
        |      AND LEN(list_distinct(string_split(text,' '))) * 5
        |          >= LEN(string_split(text,' ')) THEN 1 ELSE 0 END AS t_ok
        |  FROM documents),
        |d AS (SELECT doc_id, 8 + doc_id % 16 AS w, 8 + doc_id % 8 AS h
        |  FROM documents),
        |px AS (SELECT doc_id,
        |    (7*doc_id + 3*x + 5*y) % 256 AS r,
        |    (11*doc_id + x + 2*y) % 256 AS g,
        |    (13*doc_id + 2*x + y) % 256 AS b
        |  FROM d, (SELECT unnest(range(24)) AS x), (SELECT unnest(range(16)) AS y)
        |  WHERE x < w AND y < h),
        |ig AS (SELECT doc_id, CASE WHEN COUNT(*) >= 128
        |    AND SUM(r)*299 + SUM(g)*587 + SUM(b)*114
        |        BETWEEN COUNT(*)*80000 AND COUNT(*)*180000
        |    THEN 1 ELSE 0 END AS i_ok
        |  FROM px GROUP BY 1),
        |p AS (SELECT tg.doc_id, t_ok, i_ok FROM tg JOIN ig USING (doc_id)),
        |dg AS (SELECT md5(COALESCE(STRING_AGG(doc_id, ',' ORDER BY doc_id), ''))
        |    AS kept_md5
        |  FROM p WHERE t_ok = 1 AND i_ok = 1)
        |SELECT CAST(t_ok AS BIGINT) AS t_ok, CAST(i_ok AS BIGINT) AS i_ok,
        |  CAST(COUNT(*) AS BIGINT) AS n, kept_md5
        |FROM p CROSS JOIN dg GROUP BY 1, 2, kept_md5
        |ORDER BY 1, 2""".stripMargin,
    "q_media_cross_dedup" ->
      s"""WITH d AS (SELECT doc_id AS c, CAST(8 + doc_id % 16 AS BIGINT) AS w,
        |    CAST(8 + doc_id % 8 AS BIGINT) AS h,
        |    ${graft.functions.TextFunctions.hexPrefix52Sql("md5('img|r|'||doc_id)")} % 256 AS br,
        |    ${graft.functions.TextFunctions.hexPrefix52Sql("md5('img|g|'||doc_id)")} % 256 AS bg,
        |    ${graft.functions.TextFunctions.hexPrefix52Sql("md5('img|b|'||doc_id)")} % 256 AS bb
        |  FROM documents),
        |px AS (SELECT c, i % w AS x, i // w AS y,
        |    (br + 3*(i % w) + 5*(i // w)) % 256 AS r,
        |    (bg + (i % w) + 2*(i // w)) % 256 AS g,
        |    (bb + 2*(i % w) + (i // w)) % 256 AS b
        |  FROM d, (SELECT unnest(range(384)) AS i) WHERE i < w * h),
        |dg AS (SELECT c, md5(STRING_AGG(
        |    x||','||y||','||r||','||g||','||b||';', '' ORDER BY y, x)) AS digest
        |  FROM px GROUP BY 1)
        |SELECT digest, CAST(2 * COUNT(*) AS BIGINT) AS n_members,
        |  CAST(2 * MIN(c) AS BIGINT) AS keeper
        |FROM dg GROUP BY digest ORDER BY keeper""".stripMargin,
    "q_media_decimate" ->
      """WITH d AS (SELECT doc_id, CAST(48 + doc_id % 96 AS BIGINT) AS n,
        |    CAST(8000 + (doc_id % 5) * 2000 AS BIGINT) AS sample_rate FROM documents),
        |t AS (SELECT doc_id, n, sample_rate, i AS t, i // 2 AS k,
        |    ((doc_id*37 + i*i*7 + i*11) % 4096) - 2048 AS s
        |  FROM d, (SELECT unnest(range(144)) AS i) WHERE i < n AND i % 2 = 0)
        |SELECT doc_id AS media_id,
        |  CAST(sample_rate // 2 AS BIGINT) AS out_rate,
        |  CAST(COUNT(*) AS BIGINT) AS n_out,
        |  CAST(MAX(ABS(s)) AS BIGINT) AS peak,
        |  CAST(ROUND(sqrt(CAST(SUM(s*s) AS DOUBLE)/COUNT(*)),4) AS DECIMAL(18,4))::DOUBLE AS rms,
        |  CAST(SUM((k + 1) * s) AS BIGINT) AS wsum,
        |  CAST((COUNT(*) * 1000000) // (sample_rate // 2) AS BIGINT) AS duration_us
        |FROM t GROUP BY 1, 2, sample_rate ORDER BY 1""".stripMargin,
    "q_wav_qc" ->
      """WITH d AS (SELECT doc_id, CAST(48 + doc_id % 96 AS BIGINT) AS n
        |  FROM documents),
        |t AS (SELECT doc_id, n, i AS t,
        |    ((doc_id*37 + i*i*7 + i*11) % 4096) - 2048 AS s
        |  FROM d, (SELECT unnest(range(144)) AS i) WHERE i < n),
        |c AS (SELECT doc_id, MAX(n) AS n,
        |    CAST(SUM(CASE WHEN ABS(s) <= 256 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_silent,
        |    CAST(SUM(CASE WHEN s = 2047 OR s = -2048 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_rail,
        |    COALESCE(MIN(t) FILTER (WHERE ABS(s) > 256), MAX(n))
        |      AS lead_silence
        |  FROM t GROUP BY 1)
        |SELECT doc_id AS media_id, n AS n_samples, n_silent, n_rail,
        |  CAST(lead_silence AS BIGINT) AS lead_silence,
        |  CAST((n_silent * 1000) // n AS BIGINT) AS silent_permille,
        |  CAST(CASE WHEN (n_silent * 1000) // n <= 900 THEN 1 ELSE 0 END
        |    AS BIGINT) AS qc_pass
        |FROM c ORDER BY 1""".stripMargin,
    "q_media_wav" ->
      """WITH d AS (SELECT doc_id, CAST(48 + doc_id % 96 AS BIGINT) AS n,
        |    CAST(8000 + (doc_id % 5) * 2000 AS BIGINT) AS sample_rate FROM documents),
        |t AS (SELECT doc_id, n, i AS t, ((doc_id*37 + i*i*7 + i*11) % 4096) - 2048 AS s
        |  FROM d, (SELECT unnest(range(144)) AS i) WHERE i < n),
        |l AS (SELECT doc_id, t, s, LAG(s) OVER (PARTITION BY doc_id ORDER BY t) AS ps FROM t)
        |SELECT d.doc_id AS media_id, d.sample_rate,
        |  CAST(COUNT(*) AS BIGINT) AS n_samples,
        |  CAST(MAX(ABS(s)) AS BIGINT) AS peak,
        |  CAST(SUM(CASE WHEN l.t >= 1 AND (ps < 0) <> (s < 0) THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_cross,
        |  CAST(ROUND(sqrt(CAST(SUM(s*s) AS DOUBLE)/COUNT(*)),4) AS DECIMAL(18,4))::DOUBLE AS rms,
        |  CAST((d.n * 1000000) // d.sample_rate AS BIGINT) AS duration_us
        |FROM l JOIN d ON l.doc_id = d.doc_id
        |GROUP BY 1, 2, d.n ORDER BY 1""".stripMargin,
    "q_media_bytes" ->
      """WITH d AS (SELECT doc_id, hex(encode(text)) AS hx,
        |    octet_length(encode(text)) AS blen,
        |    CAST(2 + doc_id % 4 AS BIGINT) AS n FROM documents),
        |b AS (SELECT doc_id, hx, blen, n, i, (i*blen)//n AS rawb
        |  FROM d, (SELECT unnest(range(9)) AS i) WHERE i <= n),
        |sn AS (SELECT doc_id, hx, n, i,
        |    rawb + list_min([o FOR o IN [0,1,2,3]
        |      IF rawb + o >= blen
        |         OR substr(hx, 2*(rawb+o)+1, 1) NOT IN ('8','9','A','B')]) AS bnd
        |  FROM b),
        |f AS (SELECT a.doc_id, a.i, a.bnd AS st, e.bnd AS en, a.hx
        |  FROM sn a JOIN sn e ON a.doc_id = e.doc_id AND e.i = a.i + 1
        |  WHERE a.i < a.n AND a.i % 2 = 0)
        |SELECT doc_id AS media_id, CAST(i AS INT) AS frame_idx,
        |  CAST(en - st AS BIGINT) AS frame_bytes,
        |  md5(substr(hx, 2*st+1, 2*(en-st))) AS frame_md5
        |FROM f ORDER BY 1, 2""".stripMargin,
    "q_media_frames" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS len, 2 + doc_id % 4 AS n
        |  FROM documents),
        |f AS (SELECT doc_id, text, i,
        |  1 + (i*len)//n AS st, ((i+1)*len)//n - (i*len)//n AS flen
        |  FROM d, (SELECT unnest(range(8)) AS i) r WHERE i < n AND i % 2 = 0)
        |SELECT doc_id AS media_id, CAST(i AS INT) AS frame_idx,
        |  CAST(flen AS BIGINT) AS frame_chars,
        |  md5(substr(text, CAST(st AS INT), CAST(flen AS INT))) AS frame_md5
        |FROM f ORDER BY 1, 2""".stripMargin,
    "q_binary_meta" ->
      """SELECT doc_id, OCTET_LENGTH(text::BLOB) AS n_bytes,
        |  sha256(text) AS sha,
        |  lower(substring(hex(text::BLOB), 1, 8)) AS magic
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_media_meta" ->
      """SELECT doc_id AS media_id,
        |  16 + doc_id % 16 AS width,
        |  16 + doc_id % 8 AS height,
        |  8 AS n_features
        |FROM documents ORDER BY 1""".stripMargin,
    "q_media_decode" ->
      """WITH d AS (SELECT doc_id, 8 + doc_id % 16 AS w, 8 + doc_id % 8 AS h
        |  FROM documents),
        |px AS (SELECT doc_id, w, h,
        |    (7*doc_id + 3*x + 5*y) % 256 AS r,
        |    (11*doc_id + x + 2*y) % 256 AS g,
        |    (13*doc_id + 2*x + y) % 256 AS b
        |  FROM d, (SELECT unnest(range(24)) AS x), (SELECT unnest(range(16)) AS y)
        |  WHERE x < w AND y < h)
        |SELECT doc_id AS media_id, CAST(w AS BIGINT) AS width,
        |  CAST(h AS BIGINT) AS height, COUNT(*) AS n_px,
        |  CAST(SUM(r) AS BIGINT) AS sum_r, CAST(SUM(g) AS BIGINT) AS sum_g,
        |  CAST(SUM(b) AS BIGINT) AS sum_b,
        |  CAST(MAX(299*r + 587*g + 114*b) AS BIGINT) AS max_lum
        |FROM px GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,
    "q_media_resize" ->
      """WITH d AS (SELECT doc_id, 8 + doc_id % 16 AS w, 8 + doc_id % 8 AS h
        |  FROM documents),
        |t AS (SELECT doc_id, w, h, xt, yt, (xt * w) // 8 AS sx, (yt * h) // 4 AS sy
        |  FROM d, (SELECT unnest(range(8)) AS xt), (SELECT unnest(range(4)) AS yt)),
        |px AS (SELECT doc_id, w, h, xt, yt,
        |    (7*doc_id + 3*sx + 5*sy) % 256 AS r,
        |    (11*doc_id + sx + 2*sy) % 256 AS g,
        |    (13*doc_id + 2*sx + sy) % 256 AS b
        |  FROM t)
        |SELECT doc_id AS media_id, CAST(w AS BIGINT) AS width,
        |  CAST(h AS BIGINT) AS height,
        |  CAST(SUM(r) AS BIGINT) AS sum_r, CAST(SUM(g) AS BIGINT) AS sum_g,
        |  CAST(SUM(b) AS BIGINT) AS sum_b,
        |  CAST(SUM((1 + xt + 8*yt) * (299*r + 587*g + 114*b)) AS BIGINT) AS wsum
        |FROM px GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,
    "q_media_ppm" ->
      """WITH d AS (SELECT doc_id, 6 + doc_id % 10 AS w, 6 + doc_id % 8 AS h
        |  FROM documents),
        |px AS (SELECT doc_id, w, h,
        |    (7*doc_id + 2*x + 5*y) % 256 AS r,
        |    (11*doc_id + 4*x + 3*y) % 256 AS g,
        |    (13*doc_id + 6*x + y) % 256 AS b
        |  FROM d, (SELECT unnest(range(16)) AS x), (SELECT unnest(range(14)) AS y)
        |  WHERE x < w AND y < h)
        |SELECT doc_id AS media_id, CAST(w AS BIGINT) AS width,
        |  CAST(h AS BIGINT) AS height, COUNT(*) AS n_px,
        |  CAST(SUM(r) AS BIGINT) AS sum_r, CAST(SUM(g) AS BIGINT) AS sum_g,
        |  CAST(SUM(b) AS BIGINT) AS sum_b,
        |  CAST(MAX(299*r + 587*g + 114*b) AS BIGINT) AS max_lum
        |FROM px GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,
    "q_media_png" ->
      """WITH d AS (SELECT doc_id, 8 + doc_id % 12 AS w, 8 + doc_id % 6 AS h
        |  FROM documents),
        |px AS (SELECT doc_id, w, h,
        |    (3*doc_id + 5*x + 7*y) % 256 AS r,
        |    (5*doc_id + 3*x + y) % 256 AS g,
        |    (17*doc_id + x + 3*y) % 256 AS b
        |  FROM d, (SELECT unnest(range(20)) AS x), (SELECT unnest(range(14)) AS y)
        |  WHERE x < w AND y < h)
        |SELECT doc_id AS media_id, CAST(w AS BIGINT) AS width,
        |  CAST(h AS BIGINT) AS height, COUNT(*) AS n_px,
        |  CAST(SUM(r) AS BIGINT) AS sum_r, CAST(SUM(g) AS BIGINT) AS sum_g,
        |  CAST(SUM(b) AS BIGINT) AS sum_b,
        |  CAST(MAX(299*r + 587*g + 114*b) AS BIGINT) AS max_lum
        |FROM px GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin
  )

  /** E2 media record: opaque payload + typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("payload", BinaryType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false)))

  /** E6 synthesis: a deterministic "PCM16" waveform per doc —
    * n = 64 + id%64 samples, s[t] = ((id·31 + t²·7) mod 4096) − 2048 —
    * packed LITTLE-ENDIAN int16 into a binary payload. Pure integer
    * formula so the oracle rebuilds the samples directly; the Spark
    * query must recover them from the BYTES, proving the pack/parse
    * roundtrip the way E3 proves the header roundtrip.
    */
  def synthesizeAudio(s: SparkSession, dir: String): DataFrame =
    synthesizeBlobs(s, dir)(encodeAudio)

  private def encodeAudio(id: Long): Array[Byte] = {
    val n = (64 + id % 64).toInt
    val bb = ByteBuffer.allocate(2 * n)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var t = 0
    while (t < n) {
      bb.putShort((((id * 31 + t.toLong * t * 7) % 4096) - 2048).toShort)
      t += 1
    }
    bb.array()
  }

  /** Peak |s|, zero crossings (sign flips between ADJACENT samples
    * inside the range) and Σs² over `samples(st until en)` — exact
    * integers, the shared fold of the E6 and E9 waveform gates.
    */
  private def waveStats(samples: Array[Long], st: Int, en: Int): (Long, Long, Long) = {
    var peak = 0L; var zc = 0L; var sumsq = 0L
    var t = st
    while (t < en) {
      val v = samples(t)
      if (math.abs(v) > peak) peak = math.abs(v)
      sumsq += v * v
      if (t >= st + 1 && (samples(t - 1) < 0) != (v < 0)) zc += 1
      t += 1
    }
    (peak, zc, sumsq)
  }

  /** E6: per-chunk waveform statistics over the packed PCM payload —
    * the audio analogue of frame sampling: 4 equal sample chunks
    * (boundaries (c·n)/4, the E4/E5 rule), and per chunk the count,
    * peak |s|, zero crossings, and RMS. Everything but the final RMS is
    * exact integer arithmetic; RMS = sqrt(sumsq/cnt) is one IEEE-exact
    * sqrt of a quotient of exact integers — engine-identical before
    * the 4dp output rounding.
    */
  def qMediaAudio(s: SparkSession, dir: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("chunk_idx", IntegerType, nullable = false),
      StructField("n_samples", LongType, nullable = false),
      StructField("peak", LongType, nullable = false),
      StructField("n_zero_cross", LongType, nullable = false),
      StructField("sumsq", LongType, nullable = false)))
    payloadRows[Array[Byte]](synthesizeAudio(s, dir), outSchema) { () => (id, payload) =>
      val bb = ByteBuffer.wrap(payload).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val n = bb.remaining() / 2
      val samples = Array.fill(n)(bb.getShort().toLong)
      Iterator.tabulate(4) { c =>
        val st = c * n / 4
        val en = (c + 1) * n / 4
        val (peak, zc, sumsq) = waveStats(samples, st, en)
        Row(id, c, (en - st).toLong, peak, zc, sumsq)
      }
    }.select(col("media_id"), col("chunk_idx"), col("n_samples"),
             col("peak"), col("n_zero_cross"),
             dec4(sqrt(col("sumsq").cast("double") / col("n_samples"))).as("rms"))
  }

  /** E9 synthesis: REAL RIFF/WAVE audio files — a canonical 44-byte
    * PCM WAV container (RIFF size header, `fmt ` chunk with format
    * code / channels / sample rate / byte rate / block align / bits,
    * `data` chunk) around a deterministic mono 16-bit waveform:
    * n = 48 + id%96 samples of s[t] = ((id·37 + t²·7 + t·11) mod
    * 4096) − 2048 at sample rate 8000 + (id%5)·2000 Hz. Distinct
    * formula and length from E6's raw-PCM fixture so the two audio
    * gates cannot mask each other.
    */
  def synthesizeWav(s: SparkSession, dir: String): DataFrame =
    synthesizeBlobs(s, dir)(encodeWav)

  private[graft] def encodeWav(id: Long): Array[Byte] = {
    val n = (48 + id % 96).toInt
    val rate = (8000 + (id % 5) * 2000).toInt
    val dataLen = 2 * n
    val bb = ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(36 + dataLen)
    bb.put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")); bb.putInt(16)
    bb.putShort(1)          // PCM
    bb.putShort(1)          // mono
    bb.putInt(rate)
    bb.putInt(rate * 2)     // byte rate
    bb.putShort(2)          // block align
    bb.putShort(16)         // bits per sample
    bb.put("data".getBytes("US-ASCII")); bb.putInt(dataLen)
    var t = 0
    while (t < n) {
      bb.putShort((((id * 37 + t.toLong * t * 7 + t.toLong * 11) % 4096) - 2048).toShort)
      t += 1
    }
    bb.array()
  }

  /** Decode a WAV payload through the JRE's `AudioSystem` (the E9 RIFF
    * walker — one opener for every WAV consumer): (sample rate, the
    * samples in stream order). Only mono 16-bit PCM is accepted.
    */
  private def openWav(id: Long, payload: Array[Byte]): (Long, Array[Long]) = {
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(payload))
    val fmt = ais.getFormat
    require(fmt.getChannels == 1 && fmt.getSampleSizeInBits == 16,
            s"unexpected wav format for media $id")
    val raw = ais.readAllBytes()
    val bb = ByteBuffer.wrap(raw).order(
      if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
      else java.nio.ByteOrder.LITTLE_ENDIAN)
    (fmt.getSampleRate.toLong, Array.fill(raw.length / 2)(bb.getShort().toLong))
  }

  /** E9: REAL audio container codec — the WAV payloads are decoded by
    * the JRE's `javax.sound.sampled.AudioSystem` (its RIFF chunk
    * walker + PCM frame reader — the audio analogue of E2/E8's
    * ImageIO path, a genuinely independent byte path from E6's
    * hand-packed PCM). The format fields (rate, mono, 16-bit) and
    * every sample are recovered FROM THE BYTES, and the oracle
    * recomputes the emitted whole-file statistics (peak, sign-flip
    * zero crossings, RMS, floor-division duration) from the synthesis
    * formulas alone — so header fields, sample payload, and byte
    * order must all roundtrip exactly. Same scale posture as every
    * decode kernel here: payloads stream through partitions, never
    * cross a shuffle.
    */
  def qMediaWav(s: SparkSession, dir: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("sample_rate", LongType, nullable = false),
      StructField("n_samples", LongType, nullable = false),
      StructField("peak", LongType, nullable = false),
      StructField("n_zero_cross", LongType, nullable = false),
      StructField("sumsq", LongType, nullable = false),
      StructField("duration_us", LongType, nullable = false)))
    payloadRows[Array[Byte]](synthesizeWav(s, dir), outSchema) { () => (id, payload) =>
      val (rate, samples) = openWav(id, payload)
      val n = samples.length
      val (peak, zc, sumsq) = waveStats(samples, 0, n)
      Iterator.single(Row(id, rate, n.toLong, peak, zc, sumsq, n.toLong * 1000000L / rate))
    }.select(col("media_id"), col("sample_rate"), col("n_samples"),
             col("peak"), col("n_zero_cross"),
             dec4(sqrt(col("sumsq").cast("double") / col("n_samples"))).as("rms"),
             col("duration_us"))
  }

  /** E18 synthesis: REAL RIFF/AVI video containers — the standard
    * layout end-to-end: RIFF("AVI ") → LIST(hdrl){ avih 56-byte main
    * header (µs/frame, flags AVIF_HASINDEX, total frames, stream
    * count, width, height) + LIST(strl){ strh 'vids' stream header,
    * strf 40-byte BITMAPINFOHEADER (8-bit DIB) } } → LIST(movi){ one
    * '00db' uncompressed-frame chunk per frame } → idx1 (16-byte
    * entries: fourcc, AVIIF_KEYFRAME flags, chunk offset RELATIVE TO
    * THE 'movi' FOURCC — the OpenDML convention — and size). Frame f
    * is w×h 8-bit pixels b(i) = (id·31 + f·17 + i·7) mod 251 with
    * w = 8 + id%8, h = 6 + id%6, frames = 4 + id%6, µs/frame =
    * 33333 + (id%3)·8334; every even frame is a keyframe. Distinct
    * formulas from every other E fixture so gates cannot mask each
    * other. */
  private[graft] def encodeAvi(id: Long): Array[Byte] = {
    val w = (8 + id % 8).toInt; val h = (6 + id % 6).toInt
    val nf = (4 + id % 6).toInt; val usf = (33333 + (id % 3) * 8334).toInt
    val frameLen = w * h
    val chunk = 8 + frameLen + (frameLen & 1)         // fourcc+size+data+pad
    val strl = 12 + 8 + 56 + 8 + 40                   // LIST strl{strh,strf}
    val hdrl = 12 + 8 + 56 + strl                     // LIST hdrl{avih,strl}
    val movi = 12 + nf * chunk                        // LIST movi{00db...}
    val idx1 = 8 + nf * 16
    val total = 12 + hdrl + movi + idx1
    val bb = ByteBuffer.allocate(total)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fcc(s: String): Unit = bb.put(s.getBytes("US-ASCII"))
    fcc("RIFF"); bb.putInt(total - 8); fcc("AVI ")
    fcc("LIST"); bb.putInt(hdrl - 8); fcc("hdrl")
    fcc("avih"); bb.putInt(56)
    bb.putInt(usf); bb.putInt(0); bb.putInt(0)
    bb.putInt(0x10)                                   // AVIF_HASINDEX
    bb.putInt(nf); bb.putInt(0); bb.putInt(1); bb.putInt(frameLen)
    bb.putInt(w); bb.putInt(h); bb.putInt(0); bb.putInt(0); bb.putInt(0); bb.putInt(0)
    fcc("LIST"); bb.putInt(strl - 8); fcc("strl")
    fcc("strh"); bb.putInt(56)
    fcc("vids"); fcc("DIB ")
    bb.putInt(0); bb.putInt(0); bb.putInt(0)
    bb.putInt(usf)                                    // dwScale
    bb.putInt(1000000)                                // dwRate
    bb.putInt(0); bb.putInt(nf); bb.putInt(frameLen); bb.putInt(-1); bb.putInt(0)
    bb.putShort(0); bb.putShort(0); bb.putShort(w.toShort); bb.putShort(h.toShort)
    fcc("strf"); bb.putInt(40)
    bb.putInt(40); bb.putInt(w); bb.putInt(h); bb.putShort(1); bb.putShort(8)
    bb.putInt(0); bb.putInt(frameLen); bb.putInt(0); bb.putInt(0); bb.putInt(0); bb.putInt(0)
    val moviFourccPos = bb.position() + 8             // where 'movi' sits
    fcc("LIST"); bb.putInt(movi - 8); fcc("movi")
    val offsets = new Array[Int](nf)
    var f = 0
    while (f < nf) {
      offsets(f) = bb.position() - moviFourccPos      // offset of chunk fourcc
      fcc("00db"); bb.putInt(frameLen)
      var i = 0
      while (i < frameLen) {
        bb.put(((id * 31 + f.toLong * 17 + i.toLong * 7) % 251).toByte); i += 1
      }
      if ((frameLen & 1) == 1) bb.put(0.toByte)
      f += 1
    }
    fcc("idx1"); bb.putInt(nf * 16)
    f = 0
    while (f < nf) {
      fcc("00db")
      bb.putInt(if (f % 2 == 0) 0x10 else 0)          // AVIIF_KEYFRAME
      bb.putInt(offsets(f)); bb.putInt(frameLen)
      f += 1
    }
    bb.array()
  }

  private[graft] def synthesizeAvi(s: SparkSession, dir: String): DataFrame =
    synthesizeBlobs(s, dir)(encodeAvi)

  /** E18: video frame sampling THROUGH THE CONTAINER INDEX — the
    * production pattern for video at 100 TB: the consumer never scans
    * the movi payload stream; it reads the avih main header for frame
    * geometry, then uses idx1 byte offsets to SEEK directly to every
    * 3rd frame chunk (stride sampling, the E4/E11 decimation posture
    * applied to a real container), verifying each addressed chunk's
    * fourcc and declared size against the header before touching the
    * pixels — an integrity posture like E17's PNG audit: a truncated
    * or mis-indexed file fails loudly, never silently samples garbage.
    * Emits per media the header geometry, keyframe census from idx1
    * flags (no frame bytes needed), and a position-weighted checksum
    * Σ(i+1)·b(i) over the SAMPLED frames only — exact integers the
    * oracle recomputes from the synthesis formulas, so header fields,
    * index offsets, flags, and frame payload bytes must all roundtrip.
    * Scale: payloads stream through partitions (no shuffle); at real
    * scale the seek is a ranged read — bytes for skipped frames are
    * never fetched, the whole point of shipping the index.
    */
  def qVideoIndex(s: SparkSession, dir: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("width", LongType, nullable = false),
      StructField("height", LongType, nullable = false),
      StructField("n_frames", LongType, nullable = false),
      StructField("duration_us", LongType, nullable = false),
      StructField("n_key", LongType, nullable = false),
      StructField("n_sampled", LongType, nullable = false),
      StructField("sampled_checksum", LongType, nullable = false)))
    payloadRows[Array[Byte]](synthesizeAvi(s, dir), outSchema) { () => (id, bytes) =>
      val bb = ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def fcc(pos: Int): String = new String(bytes, pos, 4, "US-ASCII")
      require(fcc(0) == "RIFF" && fcc(8) == "AVI ",
        s"media $id: not an AVI container")
      require(bb.getInt(4) == bytes.length - 8,
        s"media $id: RIFF size mismatch")
      // generic top-level chunk walk: hdrl geometry, movi pos, idx1
      var usf = 0L; var nf = 0L; var w = 0L; var h = 0L
      var moviFourcc = -1; var idx1Pos = -1; var idx1Len = 0
      var p = 12
      while (p + 8 <= bytes.length) {
        val ck = fcc(p); val sz = bb.getInt(p + 4)
        if (ck == "LIST") {
          val lt = fcc(p + 8)
          if (lt == "hdrl") {
            require(fcc(p + 12) == "avih" && bb.getInt(p + 16) == 56,
              s"media $id: missing avih")
            val a = p + 20
            usf = bb.getInt(a).toLong
            nf = bb.getInt(a + 16).toLong
            require((bb.getInt(a + 12) & 0x10) != 0,
              s"media $id: AVIF_HASINDEX not set")
            w = bb.getInt(a + 32).toLong; h = bb.getInt(a + 36).toLong
          } else if (lt == "movi") moviFourcc = p + 8
        } else if (ck == "idx1") { idx1Pos = p + 8; idx1Len = sz }
        p += 8 + sz + (sz & 1)
      }
      require(moviFourcc >= 0 && idx1Pos >= 0 && idx1Len == nf * 16,
        s"media $id: movi/idx1 not found or index truncated")
      val frameLen = w * h
      var nKey = 0L; var nSampled = 0L; var checksum = 0L
      var f = 0
      while (f < nf) {
        val e = idx1Pos + f * 16
        require(fcc(e) == "00db", s"media $id: idx1 entry $f fourcc")
        if ((bb.getInt(e + 4) & 0x10) != 0) nKey += 1
        if (f % 3 == 0) {
          // the ranged read: seek via the index, never scan movi
          val cp = moviFourcc + bb.getInt(e + 8)
          require(fcc(cp) == "00db" && bb.getInt(cp + 4) == bb.getInt(e + 12)
            && bb.getInt(cp + 4) == frameLen,
            s"media $id: frame $f index/chunk mismatch")
          var i = 0
          while (i < frameLen) {
            checksum += (i + 1).toLong * (bytes(cp + 8 + i) & 0xff); i += 1
          }
          nSampled += 1
        }
        f += 1
      }
      Iterator.single(Row(id, w, h, nf, nf * usf, nKey, nSampled, checksum))
    }
  }

  /** E19 synthesis: REAL MPEG-1 Layer III (MP3) streams — an ID3v2
    * prefix tag (10-byte header, syncsafe size, deterministic junk
    * content the audio parser must SKIP, id%32+10 bytes) followed by
    * a CBR frame sequence: each frame a standard 4-byte header (11
    * sync bits, version MPEG-1, layer III, no-CRC, bitrate index ∈
    * {1,3,5} → {32,48,64} kbps by id%3, samplerate index ∈ {0,2} →
    * {44100, 32000} Hz by id%2, padding bit alternating per frame,
    * mono) + payload of (144·bitrate/samplerate + pad − 4) bytes
    * b(i) = (id·13 + f·29 + i·3) mod 253; 6 + id%5 frames. Distinct
    * formulas from every other E fixture.
    */
  private[graft] def encodeMp3(id: Long): Array[Byte] = {
    val kbps = Array(32, 48, 64)((id % 3).toInt)
    val brIdx = Array(1, 3, 5)((id % 3).toInt)
    val sr = if (id % 2 == 0) 44100 else 32000
    val srIdx = if (id % 2 == 0) 0 else 2
    val nf = (6 + id % 5).toInt
    val base = 144 * kbps * 1000 / sr
    val id3c = (id % 32 + 10).toInt
    val total = 10 + id3c + (0 until nf).map(f => base + (f % 2)).sum
    val bb = ByteBuffer.allocate(total)
    bb.put("ID3".getBytes("US-ASCII"))
    bb.put(3.toByte); bb.put(0.toByte)    // v2.3.0
    bb.put(0.toByte)                       // flags
    bb.put(0.toByte); bb.put(0.toByte); bb.put(0.toByte)
    bb.put(id3c.toByte)                    // syncsafe size (< 128)
    var i = 0
    while (i < id3c) { bb.put(((id + i) % 251).toByte); i += 1 }
    var f = 0
    while (f < nf) {
      val pad = f % 2
      bb.put(0xFF.toByte)
      bb.put(0xFB.toByte)                  // sync|MPEG-1|Layer III|no CRC
      bb.put(((brIdx << 4) | (srIdx << 2) | (pad << 1)).toByte)
      bb.put(0xC0.toByte)                  // mono
      val plen = base + pad - 4
      i = 0
      while (i < plen) {
        bb.put(((id * 13 + f.toLong * 29 + i.toLong * 3) % 253).toByte); i += 1
      }
      f += 1
    }
    bb.array()
  }

  private[graft] def synthesizeMp3(s: SparkSession, dir: String): DataFrame =
    synthesizeBlobs(s, dir)(encodeMp3)

  /** E19: MP3 stream census by FRAME-SYNC WALK — the third real audio
    * byte path (E9 decodes RIFF/WAV through AudioSystem, E16 QCs it;
    * this parses the compressed-stream framing every crawled podcast/
    * music blob actually ships in): skip the ID3v2 tag by its syncsafe
    * size, then walk frame headers only — verify the 11 sync bits +
    * version/layer bits at every boundary, decode bitrate/samplerate/
    * padding from the standard V1L3 tables, step by 144·br/sr + pad.
    * Duration, CBR bitrate (enforced: a VBR frame fails loudly — the
    * E17 integrity posture), and byte totals come from HEADERS ALONE
    * (4 bytes per frame touched — the production reason the walk is
    * cheap at 100 TB); only the FIRST frame's payload is probe-read
    * for a position-weighted checksum, exactly like a codec probe.
    * Oracle recomputes everything from the synthesis arithmetic, so
    * tag skipping, sync placement, table decode, padding stepping and
    * payload bytes must all roundtrip. Payloads never shuffle.
    */
  def qMediaMp3(s: SparkSession, dir: String): DataFrame = {
    val brTable = Map(1 -> 32, 3 -> 48, 5 -> 64)
    val srTable = Map(0 -> 44100, 2 -> 32000)
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("n_frames", LongType, nullable = false),
      StructField("bitrate_kbps", LongType, nullable = false),
      StructField("sample_rate", LongType, nullable = false),
      StructField("duration_us", LongType, nullable = false),
      StructField("stream_bytes", LongType, nullable = false),
      StructField("probe_checksum", LongType, nullable = false)))
    payloadRows[Array[Byte]](synthesizeMp3(s, dir), outSchema) { () => (id, bytes) =>
      var p = 0
      if (bytes.length >= 10 && bytes(0) == 'I' && bytes(1) == 'D'
          && bytes(2) == '3') {
        val ss = ((bytes(6) & 0x7f) << 21) | ((bytes(7) & 0x7f) << 14) |
          ((bytes(8) & 0x7f) << 7) | (bytes(9) & 0x7f)
        p = 10 + ss
      }
      var nf = 0L; var kbps = -1; var sr = -1
      var streamBytes = 0L; var checksum = 0L
      while (p + 4 <= bytes.length) {
        require((bytes(p) & 0xff) == 0xff && (bytes(p + 1) & 0xe0) == 0xe0,
          s"media $id: lost frame sync at $p")
        require(((bytes(p + 1) >> 3) & 3) == 3 && ((bytes(p + 1) >> 1) & 3) == 1,
          s"media $id: not MPEG-1 Layer III")
        val b2 = bytes(p + 2) & 0xff
        val br = brTable(b2 >> 4)
        val fsr = srTable((b2 >> 2) & 3)
        val pad = (b2 >> 1) & 1
        if (kbps < 0) { kbps = br; sr = fsr }
        else require(kbps == br && sr == fsr,
          s"media $id: VBR/rate change at frame $nf — CBR contract")
        val flen = 144 * br * 1000 / fsr + pad
        if (nf == 0L) {
          var i = 0
          while (i < flen - 4) {
            checksum += (i + 1).toLong * (bytes(p + 4 + i) & 0xff); i += 1
          }
        }
        streamBytes += flen; nf += 1; p += flen
      }
      require(p == bytes.length, s"media $id: trailing garbage")
      Iterator.single(Row(id, nf, kbps.toLong, sr.toLong,
        nf * 1152L * 1000000L / sr, streamBytes, checksum))
    }
  }

  /** E20 synthesis: REAL ZIP archives (STORED entries) — the
    * blob-of-blobs format crawled corpora actually arrive in: per
    * member a spec-compliant local file header (PK\3\4, method 0,
    * real java.util.zip CRC-32, sizes, name), then the central
    * directory (PK\1\2 entries carrying the local-header offsets)
    * and the end-of-central-directory record (PK\5\6). 2 + id%3
    * members; member j's content is 20 + (id+j)%40 bytes of
    * b(i) = (id·7 + j·11 + i·5) mod 251. Corruption arm (the E17
    * pattern): id%89 == 0 flips one content byte of the LAST member
    * AFTER its CRC was stored — the archive stays structurally
    * valid, only the checksum can catch it.
    */
  private[graft] def encodeZip(id: Long): Array[Byte] = {
    val m = (2 + id % 3).toInt
    val members = (0 until m).map { j =>
      val len = (20 + (id + j) % 40).toInt
      val content = Array.tabulate(len)(i =>
        ((id * 7 + j.toLong * 11 + i.toLong * 5) % 251).toByte)
      val crc = new java.util.zip.CRC32()
      crc.update(content)
      if (id % 89 == 0 && j == m - 1) {
        val k = (id % 13).toInt % len
        content(k) = (content(k) ^ 0x01).toByte   // bit-rot after CRC
      }
      (s"doc${id}_$j.txt".getBytes("US-ASCII"), content, crc.getValue)
    }
    val localSize = members.map { case (nm, c, _) => 30 + nm.length + c.length }.sum
    val cdSize = members.map { case (nm, _, _) => 46 + nm.length }.sum
    val bb = ByteBuffer.allocate(localSize + cdSize + 22)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val offsets = new Array[Int](m)
    members.zipWithIndex.foreach { case ((nm, c, crc), j) =>
      offsets(j) = bb.position()
      bb.putInt(0x04034b50)                  // PK\3\4
      bb.putShort(20); bb.putShort(0); bb.putShort(0)  // ver, flags, STORED
      bb.putShort(0); bb.putShort(0x21)      // DOS time/date (fixed)
      bb.putInt(crc.toInt)
      bb.putInt(c.length); bb.putInt(c.length)
      bb.putShort(nm.length.toShort); bb.putShort(0)
      bb.put(nm); bb.put(c)
    }
    val cdStart = bb.position()
    members.zipWithIndex.foreach { case ((nm, c, crc), j) =>
      bb.putInt(0x02014b50)                  // PK\1\2
      bb.putShort(20); bb.putShort(20); bb.putShort(0); bb.putShort(0)
      bb.putShort(0); bb.putShort(0x21)
      bb.putInt(crc.toInt)
      bb.putInt(c.length); bb.putInt(c.length)
      bb.putShort(nm.length.toShort); bb.putShort(0); bb.putShort(0)
      bb.putShort(0); bb.putShort(0)         // disk, internal attrs
      bb.putInt(0)                           // external attrs
      bb.putInt(offsets(j))
      bb.put(nm)
    }
    bb.putInt(0x06054b50)                    // PK\5\6
    bb.putShort(0); bb.putShort(0)
    bb.putShort(m.toShort); bb.putShort(m.toShort)
    bb.putInt(cdSize); bb.putInt(cdStart)
    bb.putShort(0)
    bb.array()
  }

  private[graft] def synthesizeZip(s: SparkSession, dir: String): DataFrame =
    synthesizeBlobs(s, dir)(encodeZip)

  /** E20 kernel, factored for reuse by the F51 streaming blob path:
    * one archive in, the census tuple out. */
  private[graft] def zipCensus(id: Long, bytes: Array[Byte]): (Long, Long, Long, Int) = {
    val bb = ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    // backward EOCD scan — the real ZIP reader contract
    var e = bytes.length - 22
    while (e >= 0 && bb.getInt(e) != 0x06054b50) e -= 1
    require(e >= 0, s"media $id: no EOCD record")
    val m = bb.getShort(e + 10).toInt
    var cd = bb.getInt(e + 16)
    var nMembers = 0L; var totalBytes = 0L
    var probe = 0L; var crcOk = 1
    var j = 0
    while (j < m) {
      require(bb.getInt(cd) == 0x02014b50, s"media $id: bad CD entry $j")
      val crcStored = bb.getInt(cd + 16).toLong & 0xffffffffL
      val size = bb.getInt(cd + 24)
      val nmLen = bb.getShort(cd + 28).toInt
      val lho = bb.getInt(cd + 42)
      require(bb.getInt(lho) == 0x04034b50, s"media $id: bad local header $j")
      require(bb.getShort(lho + 26).toInt == nmLen &&
        java.util.Arrays.equals(
          java.util.Arrays.copyOfRange(bytes, lho + 30, lho + 30 + nmLen),
          java.util.Arrays.copyOfRange(bytes, cd + 46, cd + 46 + nmLen)),
        s"media $id: member $j name mismatch")
      val dataOff = lho + 30 + nmLen
      val crc = new java.util.zip.CRC32()
      crc.update(bytes, dataOff, size)
      if (crc.getValue != crcStored) crcOk = 0
      if (j == 0) {
        var i = 0
        while (i < size) {
          probe += (i + 1).toLong * (bytes(dataOff + i) & 0xff); i += 1
        }
      }
      totalBytes += size; nMembers += 1
      cd += 46 + nmLen
      j += 1
    }
    (nMembers, totalBytes, probe, crcOk)
  }

  /** E20: ZIP archive ingest census — the crawl-side "blob of blobs"
    * walk (WARC/zip bundles land before any per-document pass; the
    * ingest job must enumerate members, verify integrity, and route
    * payloads WITHOUT unpacking to disk): the reader follows the real
    * contract — find the end-of-central-directory record by BACKWARD
    * scan for PK\5\6 (ZIPs are read from the end; that is why the
    * format streams badly and ingest probes ranged-read the tail),
    * walk the central directory, and for each member verify the
    * local-header signature + name at the recorded offset, probe-read
    * the STORED content and recompute its java.util.zip CRC-32
    * against the directory's — the E17 integrity posture: the id%89
    * bit-rot arm is caught ONLY by the checksum (structure stays
    * valid), published as crc_ok, never a crash. Member 0's content
    * also yields a position-weighted probe checksum. Oracle predicts
    * counts/sizes/probe from id arithmetic and crc_ok from the
    * corruption arm alone. Payloads never shuffle.
    */
  def qMediaZip(s: SparkSession, dir: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("n_members", LongType, nullable = false),
      StructField("total_bytes", LongType, nullable = false),
      StructField("probe_checksum", LongType, nullable = false),
      StructField("crc_ok", IntegerType, nullable = false)))
    payloadRows[Array[Byte]](synthesizeZip(s, dir), outSchema) { () => (id, bytes) =>
      val (n, tb, probe, ok) = zipCensus(id, bytes)
      Iterator.single(Row(id, n, tb, probe, ok))
    }
  }

  /** E21 synthesis: REAL WARC/1.0 files — the web-crawl archive format
    * (Common Crawl's container) in its actual wire shape: a leading
    * `warcinfo` record then 1 + id%3 `response` records, each record =
    * CRLF-terminated header block (WARC/1.0 version line; WARC-Type,
    * WARC-Record-ID, WARC-Target-URI, Content-Length headers — order
    * deliberately varied per record so the parser cannot cheat on
    * position) + a blank line + Content-Length payload bytes + the
    * standard double-CRLF record separator. Response r's payload is
    * 30 + (id+r)%50 bytes of b(i) = (id·19 + r·23 + i·29) mod 251.
    */
  private[graft] def encodeWarc(id: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def rec(headers: Seq[String], payload: Array[Byte]): Unit = {
      out.write("WARC/1.0\r\n".getBytes("US-ASCII"))
      headers.foreach(h => out.write((h + "\r\n").getBytes("US-ASCII")))
      out.write(s"Content-Length: ${payload.length}\r\n\r\n".getBytes("US-ASCII"))
      out.write(payload)
      out.write("\r\n\r\n".getBytes("US-ASCII"))
    }
    val info = "software: graft\r\n".getBytes("US-ASCII")
    rec(Seq("WARC-Type: warcinfo",
      s"WARC-Record-ID: <urn:uuid:doc-$id-info>"), info)
    val n = (1 + id % 3).toInt
    var r = 0
    while (r < n) {
      val len = (30 + (id + r) % 50).toInt
      val payload = Array.tabulate(len)(i =>
        ((id * 19 + r.toLong * 23 + i.toLong * 29) % 251).toByte)
      // header order varies by r: the parser must read names, not offsets
      val hs =
        if (r % 2 == 0)
          Seq(s"WARC-Target-URI: http://example.com/$id/$r",
              "WARC-Type: response",
              s"WARC-Record-ID: <urn:uuid:doc-$id-$r>")
        else
          Seq("WARC-Type: response",
              s"WARC-Record-ID: <urn:uuid:doc-$id-$r>",
              s"WARC-Target-URI: http://example.com/$id/$r")
      rec(hs, payload)
      r += 1
    }
    out.toByteArray
  }

  private[graft] def synthesizeWarc(s: SparkSession, dir: String): DataFrame =
    synthesizeBlobs(s, dir)(encodeWarc)

  /** E21: WARC crawl-archive census — the FIRST pass of every
    * web-scale corpus pipeline (Common Crawl lands as WARC; the
    * record walk decides what even enters the text pipeline): parse
    * the version line, read the CRLF header block BY NAME
    * (case-insensitive, order-free — the synthesis shuffles header
    * order per record precisely so offset-cheating fails), take
    * Content-Length, skip exactly that many payload bytes + the
    * double-CRLF separator, repeat. Census per file: record count,
    * response count, response payload bytes (warcinfo excluded — the
    * routing decision), and a position-weighted probe checksum of the
    * FIRST response payload only (the walk itself never reads
    * payloads — Content-Length stepping is why WARC ingest is I/O
    * bound, not parse bound, at 100 TB). Structural violations
    * (bad version line, missing Content-Length, truncated payload)
    * fail loudly. Oracle: full id-arithmetic replica.
    */
  def qMediaWarc(s: SparkSession, dir: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("n_records", LongType, nullable = false),
      StructField("n_responses", LongType, nullable = false),
      StructField("payload_bytes", LongType, nullable = false),
      StructField("probe_checksum", LongType, nullable = false)))
    payloadRows[Array[Byte]](synthesizeWarc(s, dir), outSchema) { () => (id, bytes) =>
      var p = 0
      def line(): String = {
        val start = p
        while (p + 1 < bytes.length &&
          !(bytes(p) == '\r' && bytes(p + 1) == '\n')) p += 1
        val s0 = new String(bytes, start, p - start, "US-ASCII")
        p += 2
        s0
      }
      var nRec = 0L; var nResp = 0L; var payloadBytes = 0L; var probe = 0L
      while (p < bytes.length) {
        require(line() == "WARC/1.0", s"media $id: bad WARC version line")
        var wtype = ""; var clen = -1
        var h = line()
        while (h.nonEmpty) {
          val k = h.substring(0, h.indexOf(':')).toLowerCase
          val v = h.substring(h.indexOf(':') + 1).trim
          if (k == "warc-type") wtype = v
          else if (k == "content-length") clen = v.toInt
          h = line()
        }
        require(clen >= 0 && p + clen + 4 <= bytes.length,
          s"media $id: missing Content-Length or truncated record")
        if (wtype == "response") {
          if (nResp == 0L) {
            var i = 0
            while (i < clen) {
              probe += (i + 1).toLong * (bytes(p + i) & 0xff); i += 1
            }
          }
          nResp += 1; payloadBytes += clen
        }
        p += clen
        require(bytes(p) == '\r' && bytes(p + 1) == '\n' &&
          bytes(p + 2) == '\r' && bytes(p + 3) == '\n',
          s"media $id: record separator missing")
        p += 4
        nRec += 1
      }
      Iterator.single(Row(id, nRec, nResp, payloadBytes, probe))
    }
  }

  /** E17: PNG container-INTEGRITY audit — the ingest-side corruption
    * gate every 100 TB media crawl needs before decode (a truncated or
    * bit-rotted blob must be quarantined by the CHEAP chunk walk, not
    * by a decoder crash deep in a task): walk the real PNG container —
    * 8-byte signature, then (length, type, data, stored-CRC) chunks —
    * recompute CRC-32 over type+data per chunk (java.util.zip.CRC32,
    * the deflate-family polynomial the PNG spec mandates) and compare
    * against the stored value. Corruption arm is deterministic: for
    * id % 97 == 0 the first data byte of the SECOND chunk is
    * bit-flipped (CRC-32 is linear, so ANY single-byte change must
    * flip the check — detection is guaranteed, not probabilistic, and
    * length/type fields stay intact so the walk itself still parses).
    * Publishes per blob: signature flag, bad-chunk count, and the
    * admission verdict. The oracle predicts all three from the id
    * arithmetic alone — a false positive OR negative in the walker
    * breaks the hash. At 100 TB: one narrow decode-free pass over the
    * payload bytes, emitting (id, 3 ints); payloads never shuffle.
    */
  def qPngIntegrity(s: SparkSession, dir: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("sig_ok", IntegerType, nullable = false),
      StructField("n_bad_chunks", LongType, nullable = false),
      StructField("crc_ok", IntegerType, nullable = false)))
    payloadRows[Array[Byte]](synthesizePng(s, dir), outSchema) { () => (id, payload) =>
      val bytes = payload.clone()
      // deterministic corruption: first data byte of chunk #2
      // (sig 8 + IHDR 25 = offset 33; its data starts at 41)
      if (id % 97 == 0 && bytes.length > 45)
        bytes(41) = (bytes(41) ^ 0xFF).toByte
      val (sigOk, nBad, ok) = pngAudit(bytes)
      Iterator.single(Row(id, sigOk, nBad, ok))
    }
  }

  /** The E17 chunk walker: (sig_ok, n_bad_chunks, crc_ok). A structural
    * failure (truncated chunk, negative length) fails the verdict even
    * with zero CRC mismatches — a blob the walk cannot finish is
    * quarantined, not admitted.
    */
  private[graft] def pngAudit(bytes: Array[Byte]): (Int, Long, Int) = {
    val sigOk = bytes.length >= 8 &&
      (bytes(0) & 0xFF) == 0x89 && bytes(1) == 'P' &&
      bytes(2) == 'N' && bytes(3) == 'G'
    var off = 8
    var nBad = 0L
    var structOk = sigOk
    while (structOk && off < bytes.length) {
      if (off + 12 > bytes.length) structOk = false
      else {
        val len = ((bytes(off) & 0xFF) << 24) | ((bytes(off + 1) & 0xFF) << 16) |
          ((bytes(off + 2) & 0xFF) << 8) | (bytes(off + 3) & 0xFF)
        if (len < 0 || off + 12 + len > bytes.length) structOk = false
        else {
          val crc = new java.util.zip.CRC32()
          crc.update(bytes, off + 4, 4 + len)
          val stored = ((bytes(off + 8 + len) & 0xFFL) << 24) |
            ((bytes(off + 9 + len) & 0xFFL) << 16) |
            ((bytes(off + 10 + len) & 0xFFL) << 8) |
            (bytes(off + 11 + len) & 0xFFL)
          if (crc.getValue != stored) nBad += 1
          off += 12 + len
        }
      }
    }
    (if (sigOk) 1 else 0, nBad, if (sigOk && structOk && nBad == 0L) 1 else 0)
  }

  /** E16: audio QC census through the REAL codec — the speech-
    * pipeline admission gate ("is this clip mostly silence? is it at
    * the rails of its dynamic range? how much leading silence would
    * a trim drop?") run where it must run at 100 TB: INSIDE the
    * decode pass, emitting only (id, 5 longs) per clip. Payloads
    * decode via `javax.sound.sampled.AudioSystem` (the E9 RIFF
    * walker — header + byte order must roundtrip for any census
    * number to be right); silence is |s| ≤ 256 on the fixture's
    * 12-bit scale, rail values are its ±full-scale codes
    * (2047/−2048), leading silence is the first-nonsilent index
    * (= n for an all-silent clip), and the keep flag applies the
    * standard ≤90%-silence admission rule as an exact integral
    * permille compare. The oracle recomputes every number from the
    * synthesis formula alone — decode, sample order, and census
    * must all agree for the row to hash.
    */
  def qWavQc(s: SparkSession, dir: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("n_samples", LongType, nullable = false),
      StructField("n_silent", LongType, nullable = false),
      StructField("n_rail", LongType, nullable = false),
      StructField("lead_silence", LongType, nullable = false)))
    payloadRows[Array[Byte]](synthesizeWav(s, dir), outSchema) { () => (id, payload) =>
      val (_, samples) = openWav(id, payload)
      val n = samples.length
      var nSil = 0L; var nRail = 0L; var lead = -1L
      var t = 0
      while (t < n) {
        val v = samples(t)
        val sil = math.abs(v) <= 256
        if (sil) nSil += 1 else if (lead < 0) lead = t.toLong
        if (v == 2047L || v == -2048L) nRail += 1
        t += 1
      }
      Iterator.single(Row(id, n.toLong, nSil, nRail, if (lead < 0) n.toLong else lead))
    }.select(col("media_id"), col("n_samples"), col("n_silent"),
             col("n_rail"), col("lead_silence"),
             expr("CAST((n_silent * 1000) div n_samples AS BIGINT)")
               .as("silent_permille"),
             expr("CAST(CASE WHEN (n_silent * 1000) div n_samples <= 900 " +
                  "THEN 1 ELSE 0 END AS BIGINT)").as("qc_pass"))
  }

  /** E11: decimation resampling through the REAL audio codec path —
    * the audio twin of E10's image resize (the standardize-sample-rate
    * step of audio pipelines: decode → take every 2nd PCM frame →
    * re-derive rate/duration): payloads decode via
    * `javax.sound.sampled.AudioSystem` (the E9 RIFF walker), the kept
    * samples are the PURE-INTEGER mapping s_out[k] = s[2k] (plain
    * decimation — the engine-replicable contract; a windowed-sinc
    * low-pass would be float-order-sensitive), and the published
    * statistics include a position-weighted checksum Σ (k+1)·s_out[k]
    * so a shifted, reversed, or off-by-one decimation cannot pass.
    * All outputs exact integers except the 4dp RMS. Stats accumulate
    * inside the decode pass — only (id, 6 longs) per clip moves.
    */
  def qMediaDecimate(s: SparkSession, dir: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("out_rate", LongType, nullable = false),
      StructField("n_out", LongType, nullable = false),
      StructField("peak", LongType, nullable = false),
      StructField("sumsq", LongType, nullable = false),
      StructField("wsum", LongType, nullable = false),
      StructField("duration_us", LongType, nullable = false)))
    payloadRows[Array[Byte]](synthesizeWav(s, dir), outSchema) { () => (id, payload) =>
      val (rate, samples) = openWav(id, payload)
      val outRate = rate / 2
      var peak = 0L; var sumsq = 0L; var wsum = 0L; var k = 0L
      var t = 0
      while (t < samples.length) {
        val v = samples(t)
        if (math.abs(v) > peak) peak = math.abs(v)
        sumsq += v * v
        k += 1
        wsum += k * v
        t += 2
      }
      Iterator.single(Row(id, outRate, k, peak, sumsq, wsum, k * 1000000L / outRate))
    }.select(col("media_id"), col("out_rate"), col("n_out"), col("peak"),
             dec4(sqrt(col("sumsq").cast("double") / col("n_out"))).as("rms"),
             col("wsum"), col("duration_us"))
  }

  /** Synthesize a media table with a fake header (magic "GRFT", then
    * width/height/channels as big-endian ints) so decode plumbing has a
    * real binary format to parse.
    */
  def synthesizeMedia(s: SparkSession, dir: String): DataFrame =
    synthesizeBy[String](s, dir, mediaSchema, "text") { () => (id, text) =>
      val body = text.getBytes(UTF_8)
      val w = 16 + (id % 16).toInt; val h = 16 + (id % 8).toInt; val c = 3
      val bb = ByteBuffer.allocate(16 + body.length)
      bb.put("GRFT".getBytes); bb.putInt(w); bb.putInt(h); bb.putInt(c); bb.put(body)
      Iterator.single(Row(id, "image", bb.array(), w, h, c))
    }

  val decodedSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("features", ArrayType(FloatType, containsNull = false), nullable = false)))

  /** E2: decode + feature-extract plumbing, dispatched on the payload's
    * magic bytes: "BM" or the PNG signature → REAL image decode (JDK
    * ImageIO) with per-channel pixel statistics as the feature vector;
    * "GRFT" → the synthetic header format with the deterministic
    * `fakeDecode` features (the payload body is document text, not
    * pixels). Any other payload fails with "bad magic for media <id>":
    * this is the check on blobs read from outside the program (E7).
    * Adding a codec = adding a magic branch; the schema/batching/
    * partitioning contract is shared, and payload bytes never cross a
    * shuffle either way.
    */
  def decodeFeatures(media: DataFrame, featureDim: Int = 8): DataFrame =
    payloadRows[Array[Byte]](media, decodedSchema) { () => (id, payload) =>
      val isBmp = payload.length >= 2 &&
        payload(0) == 'B'.toByte && payload(1) == 'M'.toByte
      val isPng = payload.length >= 4 && payload(0) == 0x89.toByte &&
        payload(1) == 'P'.toByte && payload(2) == 'N'.toByte &&
        payload(3) == 'G'.toByte
      if (isBmp || isPng) {
        val img = decodeImage(id, payload)
        Iterator.single(Row(id, img.getWidth, img.getHeight, imageFeatures(img, featureDim)))
      } else {
        // a 16-byte GRFT header: magic, width, height, channels
        require(payload.length >= 16 && new String(payload, 0, 4) == "GRFT",
          s"bad magic for media $id")
        val bb = ByteBuffer.wrap(payload, 4, 8)
        val w = bb.getInt; val h = bb.getInt
        Iterator.single(Row(id, w, h, fakeDecode(payload, featureDim)))
      }
    }

  /** REAL image decode: the JDK's ImageIO (BMP reader ships with the
    * JRE — no external dependency, honoring the no-new-libraries
    * constraint). Stream cache off: decode stays in-memory per task,
    * no temp-file I/O in the hot loop.
    */
  private def decodeImage(id: Long, payload: Array[Byte]): BufferedImage = {
    ImageIO.setUseCache(false)
    val img = ImageIO.read(new java.io.ByteArrayInputStream(payload))
    require(img != null, s"undecodable image payload for media $id")
    img
  }

  /** Exact integer statistics of a run of pixels: the count, the
    * channel sums and the min/max luminance 299r + 587g + 114b. */
  private final case class PixelStats(
      n: Long, sumR: Long, sumG: Long, sumB: Long, minLum: Long, maxLum: Long)

  /** The one pixel fold: pixels 0 until n, `rgb(i)` giving pixel i as
    * 0xRRGGBB. Every decode gate and the feature extractor read their
    * statistics from it. */
  private def pixelStats(n: Int)(rgb: Int => Int): PixelStats = {
    var sr = 0L; var sg = 0L; var sb = 0L
    var minL = Long.MaxValue; var maxL = Long.MinValue
    var i = 0
    while (i < n) {
      val p = rgb(i)
      val r = (p >> 16) & 0xFF; val g = (p >> 8) & 0xFF; val b = p & 0xFF
      sr += r; sg += g; sb += b
      val lum = 299L * r + 587L * g + 114L * b
      if (lum < minL) minL = lum
      if (lum > maxL) maxL = lum
      i += 1
    }
    PixelStats(n.toLong, sr, sg, sb, minL, maxL)
  }

  /** [[pixelStats]] over every pixel of a decoded image, row-major. */
  private def imageStats(img: BufferedImage): PixelStats = {
    val w = img.getWidth
    pixelStats(w * img.getHeight)(i => img.getRGB(i % w, i / w))
  }

  /** Deterministic pixel-statistic features in [0,1] from a decoded
    * image: channel means, luminance mean/min/max, and normalized
    * dimensions — one pixel pass, same output order regardless of task
    * placement. Dims beyond 8 pad with 0.
    */
  private def imageFeatures(img: BufferedImage, dim: Int): Array[Float] = {
    val w = img.getWidth; val h = img.getHeight
    val st = imageStats(img)
    val n = st.n
    val full = Array(
      (st.sumR.toDouble / n / 255.0).toFloat,
      (st.sumG.toDouble / n / 255.0).toFloat,
      (st.sumB.toDouble / n / 255.0).toFloat,
      ((299.0 * st.sumR + 587.0 * st.sumG + 114.0 * st.sumB) / n / 255000.0).toFloat,
      (st.minLum.toDouble / 255000.0).toFloat,
      (st.maxLum.toDouble / 255000.0).toFloat,
      w / 256.0f,
      h / 256.0f)
    if (dim <= full.length) full.take(dim)
    else full ++ Array.fill(dim - full.length)(0.0f)
  }

  /** The one formula-image writer: a w×h RGB image whose pixel (x, y)
    * is `rgb(x, y)` as 0xRRGGBB. [[imageBytes]] encodes it. */
  private def rgbImage(w: Int, h: Int)(rgb: (Int, Int) => Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, rgb(x, y)); x += 1 }
      y += 1
    }
    img
  }

  /** One 0xRRGGBB pixel, each channel taken mod 256. */
  private def packRgb(r: Long, g: Long, b: Long): Int =
    (((r % 256) << 16) | ((g % 256) << 8) | (b % 256)).toInt

  /** `img` encoded by ImageIO's `fmt` writer, stream cache off. */
  private def imageBytes(img: BufferedImage, fmt: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    ImageIO.setUseCache(false)
    require(ImageIO.write(img, fmt, bos), s"no $fmt writer available")
    bos.toByteArray
  }

  /** E2 synthesis for the REAL codec path: a deterministic RGB image
    * per doc — w = 8 + id%16, h = 8 + id%8, pixel (x, y) channels
    *
    *   r = (7·id + 3x + 5y) mod 256
    *   g = (11·id + x + 2y) mod 256
    *   b = (13·id + 2x + y) mod 256
    *
    * — ENCODED as an actual 24-bit BMP by ImageIO's writer. Pure
    * integer pixel formulas mean the DuckDB oracle rebuilds every pixel
    * without decoding anything, so `q_media_decode` proves the full
    * encode → bytes → ImageIO decode path against independently
    * computed ground truth (any codec, layout, or channel-order bug
    * hash-mismatches).
    */
  def synthesizeBmp(s: SparkSession, dir: String): DataFrame =
    synthesizeBlobs(s, dir)(encodeBmp)

  /** Build the deterministic image for `id` and encode it as a real BMP. */
  private[graft] def encodeBmp(id: Long): Array[Byte] =
    imageBytes(rgbImage((8 + id % 16).toInt, (8 + id % 8).toInt) { (x, y) =>
      packRgb(7 * id + 3L * x + 5L * y, 11 * id + x + 2L * y, 13 * id + 2L * x + y)
    }, "bmp")

  /** The E12 shared pixel formula: one content id → one deterministic
    * RGB image, encoded by TWO different real codecs below. The
    * per-channel bases are md5-derived so no two content ids share an
    * image (a plain linear-in-cid base repeats with period 256 — two
    * contents 256 apart would be true duplicates of each other).
    */
  private def contentImage(cid: Long): BufferedImage = {
    val md = MessageDigest.getInstance("MD5")
    val br = graft.functions.TextKernels.md5Prefix52(md, s"img|r|$cid") % 256
    val bg = graft.functions.TextKernels.md5Prefix52(md, s"img|g|$cid") % 256
    val bb = graft.functions.TextKernels.md5Prefix52(md, s"img|b|$cid") % 256
    rgbImage((8 + cid % 16).toInt, (8 + cid % 8).toInt) { (x, y) =>
      packRgb(br + 3L * x + 5L * y, bg + x + 2L * y, bb + 2L * x + y)
    }
  }

  /** E12 fixture: every content id ships TWICE — media 2c as a real
    * BMP and media 2c+1 as a real PNG of the IDENTICAL pixels. */
  def synthesizeCrossCodec(s: SparkSession, dir: String): DataFrame =
    synthesizeBy[Long](s, dir, blobSchema, "doc_id") { () => (c, _) =>
      val img = contentImage(c)
      Iterator(Row(2 * c, imageBytes(img, "bmp")), Row(2 * c + 1, imageBytes(img, "png")))
    }

  /** E12: content-addressed CROSS-CODEC media dedup — the multimodal
    * face of C1's exact dedup and the step every media pipeline needs
    * before training (the same image arrives as BMP from one crawl
    * and PNG from another; byte-level hashing sees two blobs): decode
    * through the REAL codec (ImageIO's container sniffing picks the
    * BMP or PNG path from the magic bytes — no format column
    * consulted), canonicalize to a deterministic pixel text
    * ("x,y,r,g,b;" in row-major order) and md5 it, then group by the
    * digest — each content group reunites its two encodings, keeper =
    * min id (the C1 convention); distinct source ids whose fixtures
    * happen to share identical pixels (reachable at corpus scale —
    * 50k ids birthday the (size, color-seed) space, observed at the
    * 10× run) merge into ONE group, the content-addressed semantics.
    * The oracle recomputes the digests FROM THE PIXEL FORMULA and
    * groups by digest identically, blind to both codecs — a decoder
    * that drops a channel, flips rows, or color-shifts breaks the
    * digest. Scale shape: payloads stream
    * through partitions, one digest-key shuffle of (id, 32-char)
    * rows.
    */
  def qMediaCrossDedup(s: SparkSession, dir: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("digest", StringType, nullable = false)))
    payloadRows[Array[Byte]](synthesizeCrossCodec(s, dir), outSchema) { () =>
      val md = MessageDigest.getInstance("MD5")
      (id, payload) => {
        val img = decodeImage(id, payload)
        val sb = new StringBuilder
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            val p = img.getRGB(x, y)
            sb.append(x).append(',').append(y).append(',')
              .append((p >> 16) & 0xFF).append(',')
              .append((p >> 8) & 0xFF).append(',')
              .append(p & 0xFF).append(';')
            x += 1
          }
          y += 1
        }
        Iterator.single(Row(id, md5Hex(md, sb.toString.getBytes(US_ASCII))))
      }
    }.groupBy(col("digest"))
      .agg(count(lit(1)).as("n_members"), min(col("media_id")).as("keeper"))
  }

  /** E13: cross-modal curation JOIN — the decision step of every
    * image–text training pipeline (LAION/DataComp shape: a pair
    * survives only if BOTH modalities pass their gates): the text
    * gate is exact integer arithmetic over word counts (≥30 words AND
    * ≥20% distinct — 5·|distinct| ≥ |words|, no float ratios), the
    * image gate runs over the REAL decoded pixels (≥128 px AND mean
    * luminance inside the mid band — 80000·n ≤ 299ΣR+587ΣG+114ΣB ≤
    * 180000·n, exact integers), and the paired verdict is one
    * doc_id-key join. Publishes the 2×2 gate census plus an md5
    * digest of the sorted surviving ids — a single flipped verdict
    * anywhere changes the digest. Scale shape: two linear passes
    * (text, decode) + one key join; the census is 4 rows.
    */
  def qMmCurate(s: SparkSession, dir: String): DataFrame = {
    val ws = split(col("text"), " ")
    val tg = documents(s, dir).select(col("doc_id"),
      (size(ws) >= 30 &&
       size(array_distinct(ws)) * 5 >= size(ws)).as("t_ok"))
    val ig = decodeStats(synthesizeBmp(s, dir))
      .select(col("media_id").as("doc_id"),
        (col("n_px") >= 128L &&
         (col("sum_r") * 299 + col("sum_g") * 587 + col("sum_b") * 114)
           .between(col("n_px") * 80000L, col("n_px") * 180000L)).as("i_ok"))
    val paired = tg.join(ig, "doc_id")
    val digest = paired.filter(col("t_ok") && col("i_ok"))
      .agg(md5(array_join(transform(
        sort_array(collect_list(col("doc_id"))), _.cast("string")), ","))
        .as("kept_md5"))
    paired.groupBy(col("t_ok"), col("i_ok"))
      .agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(digest))
      .select(col("t_ok").cast("long").as("t_ok"),
              col("i_ok").cast("long").as("i_ok"), col("n"), col("kept_md5"))
  }

  private val decodeStatsSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("width", LongType, nullable = false),
    StructField("height", LongType, nullable = false),
    StructField("n_px", LongType, nullable = false),
    StructField("sum_r", LongType, nullable = false),
    StructField("sum_g", LongType, nullable = false),
    StructField("sum_b", LongType, nullable = false),
    StructField("max_lum", LongType, nullable = false)))

  /** A [[decodeStatsSchema]] row: geometry plus the pixel fold. */
  private def statsRow(id: Long, w: Int, h: Int, st: PixelStats): Row =
    Row(id, w.toLong, h.toLong, st.n, st.sumR, st.sumG, st.sumB, st.maxLum)

  /** E2: the real-codec gate query — encode every doc's deterministic
    * image as an actual BMP, DECODE the bytes back with ImageIO, and
    * emit exact per-image integer pixel statistics. The oracle never
    * sees the BMP: it recomputes the same statistics from the pixel
    * formulas directly, so a hash match proves the codec roundtrip
    * end-to-end. Stats accumulate inside the decode kernel (one pixel
    * pass, no per-pixel rows, no shuffle of payload bytes).
    */
  def qMediaDecode(s: SparkSession, dir: String): DataFrame =
    decodeStats(synthesizeBmp(s, dir))

  /** E8: the SECOND real codec — the same gate query over actual PNGs
    * (ImageIO's PNG reader/writer also ships with the JRE). PNG is
    * lossless, so the decoded pixels must equal the formula pixels bit
    * for bit, exactly as with BMP — but the byte path exercised is a
    * genuinely different one (DEFLATE streams, chunked container,
    * scanline filters) reached through the same magic-dispatched
    * decode kernel. Different pixel formulas/dimensions than E2, so
    * the two codec gates cannot mask each other.
    */
  def qMediaPng(s: SparkSession, dir: String): DataFrame =
    decodeStats(synthesizePng(s, dir))

  /** E15: perceptual-hash (dHash) image near-duplication — the
    * image-side twin of the text near-dup family (C8 SimHash → this;
    * LAION/DataComp pipelines dedup images exactly this way before
    * training): decode the REAL BMP payload (ImageIO, the E2 codec),
    * sample a 9×8 luminance grid with the pure-integer E10 mapping
    * sx = (xt·w) div 9, sy = (yt·h) div 8, take the 64 horizontal
    * gradient signs as the dHash (idx = yt·8 + xt), and split the
    * hash into four 16-bit BANDS (the C8b blocking idiom — candidate
    * pairs come from band-equality buckets, never an all-pairs scan).
    * Publishes per band (and band −1 = the full hash, i.e. exact
    * perceptual duplicates): bucket count, largest bucket, and the
    * candidate-pair volume ΣC(n,2) — counts derived from bucket
    * sizes, pairs never materialized. The E2 pixel formula is
    * periodic in id mod 256, so true duplicate clusters exist by
    * construction and the census has signal. At 100 TB: one decode
    * pass emitting (id, 4 shorts), a ≤65536-key per-band aggregate —
    * payload bytes never shuffle.
    */
  def qMediaPhash(s: SparkSession, dir: String): DataFrame = {
    val hashSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("b0", LongType, nullable = false),
      StructField("b1", LongType, nullable = false),
      StructField("b2", LongType, nullable = false),
      StructField("b3", LongType, nullable = false)))
    val hashes = payloadRows[Array[Byte]](synthesizeBmp(s, dir), hashSchema) { () => (id, payload) =>
      val img = decodeImage(id, payload)
      val w = img.getWidth; val h = img.getHeight
      val lum = Array.ofDim[Long](8, 9)
      var yt = 0
      while (yt < 8) {
        var xt = 0
        while (xt < 9) {
          val p = img.getRGB((xt * w) / 9, (yt * h) / 8)
          lum(yt)(xt) = 299L * ((p >> 16) & 0xFF) +
            587L * ((p >> 8) & 0xFF) + 114L * (p & 0xFF)
          xt += 1
        }
        yt += 1
      }
      val bands = new Array[Long](4)
      var idx = 0
      while (idx < 64) {
        val x = idx % 8; val y = idx / 8
        if (lum(y)(x + 1) > lum(y)(x))
          bands(idx / 16) |= 1L << (idx % 16)
        idx += 1
      }
      Iterator.single(Row(id, bands(0), bands(1), bands(2), bands(3)))
    }
    val bands = hashes.selectExpr("media_id",
      "stack(4, CAST(0 AS BIGINT), b0, CAST(1 AS BIGINT), b1, " +
      "CAST(2 AS BIGINT), b2, CAST(3 AS BIGINT), b3) AS (band_id, v)")
    def census(keyed: DataFrame): DataFrame =
      keyed.groupBy(col("band_id"), col("v"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("band_id"))
        .agg(count(lit(1)).as("n_buckets"),
             max(col("n")).as("max_bucket"),
             sum(expr("n * (n - 1) div 2")).as("n_candidate_pairs"))
    val full = hashes.select(lit(-1L).as("band_id"),
      concat_ws(",", col("b0"), col("b1"), col("b2"), col("b3")).as("v"))
    census(bands).unionByName(census(full))
  }

  /** Shared codec-gate kernel: decode each payload (any ImageIO
    * format) and emit exact per-image integer pixel statistics. Stats
    * accumulate inside the decode pass — no per-pixel rows, no shuffle
    * of payload bytes.
    */
  private def decodeStats(media: DataFrame): DataFrame =
    payloadRows[Array[Byte]](media, decodeStatsSchema) { () => (id, payload) =>
      val img = decodeImage(id, payload)
      Iterator.single(statsRow(id, img.getWidth, img.getHeight, imageStats(img)))
    }

  private val resizeStatsSchema = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("width", LongType, nullable = false),
    StructField("height", LongType, nullable = false),
    StructField("sum_r", LongType, nullable = false),
    StructField("sum_g", LongType, nullable = false),
    StructField("sum_b", LongType, nullable = false),
    StructField("wsum", LongType, nullable = false)))

  /** E10: nearest-neighbor image RESIZE through the real codec path —
    * the standardize-thumbnail step every multimodal training pipeline
    * runs before feature extraction: decode the actual BMP payload
    * (ImageIO, the E2 codec), sample each variable-size source down to
    * a fixed 8×4 grid with the pure-integer mapping
    * sx = (xt·w) div 8, sy = (yt·h) div 4 (an exact, engine-replicable
    * contract — no float scale factor), and emit exact integer channel
    * sums plus a POSITION-WEIGHTED luminance checksum (a transposed or
    * shifted resize cannot slip past the value gate). Stats accumulate
    * inside the decode pass — no per-pixel rows, no payload shuffle;
    * at 100 TB the only moving data is (id, 7 longs) per image. The
    * oracle recomputes from the pixel formula with the same index
    * mapping, blind to both codec and resize code.
    */
  def qMediaResize(s: SparkSession, dir: String): DataFrame = {
    val Wt = 8; val Ht = 4
    payloadRows[Array[Byte]](synthesizeBmp(s, dir), resizeStatsSchema) { () => (id, payload) =>
      val img = decodeImage(id, payload)
      val w = img.getWidth; val h = img.getHeight
      var sr = 0L; var sg = 0L; var sb = 0L; var ws = 0L
      var yt = 0
      while (yt < Ht) {
        var xt = 0
        while (xt < Wt) {
          val sx = xt * w / Wt
          val sy = yt * h / Ht
          val p = img.getRGB(sx, sy)
          val r = (p >> 16) & 0xFF; val g = (p >> 8) & 0xFF; val b = p & 0xFF
          sr += r; sg += g; sb += b
          ws += (1L + xt + Wt.toLong * yt) * (299L * r + 587L * g + 114L * b)
          xt += 1
        }
        yt += 1
      }
      Iterator.single(Row(id, w.toLong, h.toLong, sr, sg, sb, ws))
    }
  }

  /** E14 encoder: a REAL Netpbm P6 writer — the standard
    * "P6\n<w> <h>\n255\n" ASCII header followed by raw RGB triples.
    * Pixel formula distinct from E2/E8 so the codecs cannot be
    * satisfied by cached stats: w = 6 + id%10, h = 6 + id%8,
    * r = (7id+2x+5y)%256, g = (11id+4x+3y)%256, b = (13id+6x+y)%256.
    */
  private[graft] def encodePpm(id: Long): Array[Byte] = {
    val w = (6 + id % 10).toInt; val h = (6 + id % 8).toInt
    val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
    val px = new Array[Byte](w * h * 3)
    var i = 0; var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        px(i) = ((7 * id + 2L * x + 5L * y) % 256).toByte
        px(i + 1) = ((11 * id + 4L * x + 3L * y) % 256).toByte
        px(i + 2) = ((13 * id + 6L * x + y) % 256).toByte
        i += 3; x += 1
      }
      y += 1
    }
    header ++ px
  }

  /** E14 parser: a REAL spec-compliant P6 reader — tokenizing header
    * fields across arbitrary whitespace and `#` comments (the part
    * naive split-on-newline readers get wrong), then exactly ONE
    * whitespace byte before the raster per the Netpbm spec. Java
    * ImageIO ships no PNM plugin, so unlike E2/E8/E9 BOTH directions
    * here are hand-rolled.
    */
  private[graft] def parsePpm(bytes: Array[Byte]): (Int, Int, Array[Byte]) = {
    var pos = 0
    def skipWs(): Unit = {
      var done = false
      while (!done && pos < bytes.length) {
        val c = bytes(pos).toChar
        if (c == '#') {
          while (pos < bytes.length && bytes(pos) != '\n') pos += 1
        } else if (c.isWhitespace) pos += 1
        else done = true
      }
    }
    def token(): String = {
      skipWs()
      val st = pos
      while (pos < bytes.length && !bytes(pos).toChar.isWhitespace) pos += 1
      new String(bytes, st, pos - st, "US-ASCII")
    }
    require(token() == "P6", "not a P6 PPM")
    val w = token().toInt
    val h = token().toInt
    require(token().toInt == 255, "unsupported maxval")
    pos += 1 // exactly one whitespace byte separates maxval from raster
    require(bytes.length >= pos + w * h * 3, "truncated raster")
    (w, h, java.util.Arrays.copyOfRange(bytes, pos, pos + w * h * 3))
  }

  /** E14: Netpbm P6 codec path — synthesize REAL P6 payloads (with a
    * header comment exercising the parser's comment handling), parse
    * them back through [[parsePpm]], and publish the exact integer
    * pixel statistics; the oracle recomputes from the pixel formula,
    * blind to the codec (the E8 contract shape).
    */
  def qMediaPpm(s: SparkSession, dir: String): DataFrame =
    synthesizeBy[Long](s, dir, decodeStatsSchema, "doc_id") { () => (id, _) =>
      // comment injection: the parser must skip it per spec
      val raw = encodePpm(id)
      val withComment =
        ("P6\n# graft synthetic raster\n" +
          new String(raw, 3, raw.length - 3, "ISO-8859-1"))
          .getBytes("ISO-8859-1")
      val (w, h, px) = parsePpm(withComment)
      Iterator.single(statsRow(id, w, h, pixelStats(w * h) { i =>
        packRgb(px(3 * i) & 0xFF, px(3 * i + 1) & 0xFF, px(3 * i + 2) & 0xFF)
      }))
    }

  /** E8 synthesis: deterministic RGB images (distinct formulas and
    * dimensions from the BMP set) encoded as REAL PNGs.
    */
  def synthesizePng(s: SparkSession, dir: String): DataFrame =
    synthesizeBlobs(s, dir)(encodePng)

  /** Build the E8 deterministic image for `id` — w = 8 + id%12,
    * h = 8 + id%6, r = (3·id + 5x + 7y) % 256, g = (5·id + 3x + y)
    * % 256, b = (17·id + x + 3y) % 256 — and encode it as a real PNG.
    */
  private[graft] def encodePng(id: Long): Array[Byte] =
    imageBytes(rgbImage((8 + id % 12).toInt, (8 + id % 6).toInt) { (x, y) =>
      packRgb(3 * id + 5L * x + 7L * y, 5 * id + 3L * x + y, 17 * id + x + 3L * y)
    }, "png")

  /** E7: the production blob-ingest path — one file per blob on
    * shared storage, read by Spark's `binaryFile` source (path, length,
    * content), the media id recovered from the file name, then the SAME
    * decode kernel as the in-memory path. At 100 TB this is the whole
    * ingest story: the source splits by file, payloads stay inside
    * their scan task, and decode parallelism is file-count parallelism.
    */
  def readBlobs(s: SparkSession, dir: String): DataFrame =
    s.read.format("binaryFile").load(dir)
      .select(
        regexp_extract(col("path"), "([0-9]+)\\.[A-Za-z0-9]+$", 1)
          .cast("long").as("media_id"),
        col("content").as("payload"))

  /** E7: ingest + decode in one call ([[readBlobs]] → [[decodeFeatures]]). */
  def ingestBlobs(s: SparkSession, dir: String, featureDim: Int = 8): DataFrame =
    decodeFeatures(readBlobs(s, dir), featureDim)

  /** Deterministic hash-derived "features" in [0,1) for the GRFT
    * payloads, whose body is document text rather than pixels (the
    * real codecs are the ImageIO branch of [[decodeFeatures]]). Only
    * GRFT payloads reach it: [[decodeFeatures]] rejects a payload whose
    * magic it does not know.
    */
  private def fakeDecode(payload: Array[Byte], dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    var h = 1125899906842597L
    payload.foreach(b => h = h * 31 + b)
    var i = 0
    while (i < dim) {
      h = h * 6364136223846793005L + 1442695040888963407L
      out(i) = ((h >>> 11).toDouble / (1L << 53).toDouble).toFloat
      i += 1
    }
    out
  }
}
