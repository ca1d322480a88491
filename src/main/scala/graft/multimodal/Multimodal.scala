package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.text.TextOps

/** Multimodal-column plumbing: media (image/audio/video) modeled as opaque
  * `binary` payloads + typed metadata.
  *
  * Two decode paths exist side by side:
  *
  *   - TEXT payloads get a STUB decode (deterministic fake dimensions
  *     derived from the payload's SHA-256) so every feature stays a
  *     built-in expression (sha2, length, substring arithmetic) — pure
  *     whole-stage-codegen column algebra, no mapPartitions, no per-row
  *     JVM object churn ([[extractFeatures]]).
  *   - IMAGE payloads get a REAL decode through the JDK's own
  *     `javax.imageio` (PNG/JPEG/BMP/GIF ship in every JRE — no external
  *     codec needed): [[imageCorpus]] renders deterministic solid-color
  *     PNGs whose dimensions/colors are pure functions of `doc_id`,
  *     [[imageFeatures]] decodes them back (dims + per-channel pixel
  *     averages), and [[resizeImages]] does a real pixel resize
  *     (Graphics2D) → re-encode → re-decode round trip. Because the
  *     synthesis formulas are known, all of it is DuckDB-oracle-exact.
  *
  * The partition-wise iterator shape a native codec needs (one decoder
  * instance per partition, streaming) is [[extractFeaturesWithCodec]];
  * it runs the real ImageIO decode in the specs and the stub decode
  * stays pinned ≡ the expression path.
  */
object Multimodal {

  final case class MediaIn(doc_id: Long, payload: Array[Byte], media_type: String)
  final case class MediaFeatures(
      doc_id: Long, media_type: String, n_bytes: Long,
      sha256_hex: String, decoded_ok: Boolean, width: Int, height: Int)

  /** REAL decode: dims via the JRE's built-in ImageIO readers. Returns
    * None when the payload is not a decodable image (ImageIO yields
    * null) instead of failing the task — at 100 TB some payloads WILL be
    * corrupt, and one bad row must not kill a 1000-executor stage.
    */
  def imageDims(payload: Array[Byte]): Option[(Int, Int)] =
    try {
      Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload)))
        .map(img => (img.getWidth, img.getHeight))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Byte i of a sha256 hex string as an int (two hex-digit extracts —
    * pure ascii arithmetic, codegen'd).
    */
  private def hashByte(hex: Column, i: Int): Column =
    TextOps.hexVal(substring(hex, 2 * i + 1, 1)) * 16 +
      TextOps.hexVal(substring(hex, 2 * i + 2, 1))

  /** documents.text reinterpreted as a binary payload → per-media
    * features, entirely as built-in expressions (the stubbed-decode
    * features are hash arithmetic, which Catalyst codegens; reaching for
    * an iterator here would only take the hot path OUT of codegen).
    */
  def extractFeatures(documents: DataFrame): DataFrame = {
    val payload = col("text").cast("binary")
    val hex = sha2(payload, 256)
    documents.select(
      col("doc_id"),
      lit("text/plain").as("media_type"),
      length(payload).cast("long").as("n_bytes"),
      hex.as("sha256_hex"),
      lit(true).as("decoded_ok"),
      (hashByte(hex, 0) + 1).cast("int").as("width"),
      (hashByte(hex, 1) + 1).cast("int").as("height"))
      .orderBy("doc_id")
  }

  /** The real-codec template: partition-wise batch processing over the
    * binary column with one decoder/digest instance per partition (the
    * Scala analogue of mapInPandas batch UDFs). Use this ONLY when the
    * decode can't be a Catalyst expression; `decode` maps payload bytes
    * → Some((width, height)), or None for an undecodable payload
    * (surfaced as decoded_ok=false, never a task failure).
    */
  def extractFeaturesWithCodec(
      documents: DataFrame,
      payloadCol: String = "text",
      mediaType: String = "text/plain")(
      decode: Array[Byte] => Option[(Int, Int)]): DataFrame =
    extractFeaturesWithCodecCore(documents, payloadCol, mediaType)(decode)
      // r18: materialize the decoded rows once — the range-partitioner's
      // sampling pass otherwise re-runs the whole codec chain (guide §1.2)
      .localCheckpoint()
      .orderBy("doc_id")

  /** The template's pre-materialization core — the plan-shape contract
    * (iterator-form codec) MultimodalSpec asserts lives here, because the
    * public entry checkpoints the decoded rows and shows only a leaf.
    */
  private[graft] def extractFeaturesWithCodecCore(
      documents: DataFrame,
      payloadCol: String = "text",
      mediaType: String = "text/plain")(
      decode: Array[Byte] => Option[(Int, Int)]): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents
      .select(col("doc_id"), col(payloadCol).cast("binary").as("payload"),
        lit(mediaType).as("media_type"))
      .as[MediaIn]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("SHA-256")
        it.map { m =>
          md.reset()
          val hex = md.digest(m.payload).map("%02x".format(_)).mkString
          val dims = decode(m.payload)
          val (w, ht) = dims.getOrElse((0, 0))
          MediaFeatures(m.doc_id, m.media_type, m.payload.length.toLong,
            hex, decoded_ok = dims.isDefined, width = w, height = ht)
        }
      }
      .toDF()
  }

  // ---------------------------------------------------------------- images

  final case class ImagePayload(doc_id: Long, payload: Array[Byte])
  final case class ImageFeatures(
      doc_id: Long, decoded_ok: Boolean, width: Int, height: Int,
      avg_r: Int, avg_g: Int, avg_b: Int)
  final case class ImageResized(
      doc_id: Long, decoded_ok: Boolean,
      width: Int, height: Int, out_width: Int, out_height: Int,
      avg_r: Int, avg_g: Int, avg_b: Int)

  /** Deterministic synthetic dims/fill for doc_id — the formulas the
    * oracles reproduce in SQL.
    */
  def imageSpec(id: Long): (Int, Int, Int, Int, Int) =
    ((id % 37 + 1).toInt, (id % 23 + 1).toInt,
      (id % 256).toInt, (id * 7 % 256).toInt, (id * 13 % 256).toInt)

  /** Render one solid-color PNG via the JDK encoder (lossless, so the
    * decode round trip is pixel-exact).
    */
  def makePng(width: Int, height: Int, r: Int, g: Int, b: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = (r << 16) | (g << 8) | b
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Shared id feed for the synthetic media corpora (r18, guide
    * §2.1/§8): the documents scan at bench scale is ONE parquet split,
    * so every corpus render + codec chain it fed ran single-task
    * regardless of core count — the measured 32-core ANTI-scaling on the
    * decode queries (8 cores beat 32 by ~1.5×, VERDICT r17 item 6).
    * Repartitioning the 8-byte ids BEFORE the render moves keys, not
    * payloads (the §8 rule); the EXPLICIT partition count (2× total
    * cores — scale-adaptive via defaultParallelism, never a constant)
    * keeps AQE from coalescing a tiny-bytes/high-CPU-per-row shuffle
    * back to one task. doc_id is a deterministic key (§2.5). Null ids
    * are dropped before the primitive-Long encoder (the parquet column
    * is nullable BIGINT; a null would throw in the encoder).
    */
  private[multimodal] def corpusIds(documents: DataFrame,
      wide: Boolean = true): Dataset[Long] = {
    val spark = documents.sparkSession
    import spark.implicits._
    val ids = documents.select(col("doc_id"))
      .filter(col("doc_id").isNotNull)
    // wide = false (r18 sweep 1): the shuffle + 2×cores tasks are PURE
    // overhead for header-parse codecs whose per-row CPU is trivial
    // (WAV/AVI container parses) — measured: wav_decode 0.165→0.50 s
    // with the forced width, the only band regression of the sweep. The
    // light corpora keep the natural scan layout (at 100 TB the scan
    // has real splits; the single-split problem is a bench-scale
    // artifact that only matters when per-row CPU dwarfs it).
    (if (wide)
      ids.repartition(2 * spark.sparkContext.defaultParallelism,
        col("doc_id"))
    else ids).as[Long]
  }

  /** Synthetic image corpus: one PNG per document, dims/fill a pure
    * function of doc_id ([[imageSpec]]). Rendering happens inside
    * mapPartitions — distributed, narrow, no driver involvement; at
    * corpus scale each executor renders/encodes only its own partition.
    */
  def imageCorpus(documents: DataFrame): Dataset[ImagePayload] = {
    val spark = documents.sparkSession
    import spark.implicits._
    corpusIds(documents).mapPartitions { it =>
      it.map { id =>
        val (w, h, r, g, b) = imageSpec(id)
        ImagePayload(id, makePng(w, h, r, g, b))
      }
    }
  }

  /** Full pixel decode: ImageIO.read + per-channel averages over every
    * pixel. Solid fills make the averages exact integers, which is what
    * lets the oracle reproduce them from the doc_id formulas.
    */
  private def decodeStats(payload: Array[Byte]): Option[(Int, Int, Int, Int, Int)] =
    try {
      Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))).map { img =>
        val (w, h) = (img.getWidth, img.getHeight)
        var (sr, sg, sb) = (0L, 0L, 0L)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val p = img.getRGB(x, y)
            sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
            x += 1
          }
          y += 1
        }
        val n = w.toLong * h
        (w, h, (sr / n).toInt, (sg / n).toInt, (sb / n).toInt)
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** REAL image feature extraction: decode each binary payload with the
    * JRE's ImageIO, emit dims + per-channel pixel averages. One decoder
    * call per row inside mapPartitions; undecodable payloads surface as
    * decoded_ok=false rather than failing the stage.
    */
  def imageFeatures(images: Dataset[ImagePayload]): DataFrame = {
    val spark = images.sparkSession
    import spark.implicits._
    images.mapPartitions { it =>
      it.map { m =>
        decodeStats(m.payload) match {
          case Some((w, h, r, g, b)) => ImageFeatures(m.doc_id, decoded_ok = true, w, h, r, g, b)
          case None => ImageFeatures(m.doc_id, decoded_ok = false, 0, 0, 0, 0, 0)
        }
      }
    }.toDF().localCheckpoint().orderBy("doc_id")
  }

  /** Oracle twin of imageCorpus→imageFeatures: the decoded dims/averages
    * must round-trip to the synthesis formulas exactly.
    */
  val imageFeaturesSql: String =
    """SELECT doc_id, TRUE AS decoded_ok,
      |  CAST(doc_id % 37 + 1 AS INTEGER) AS width,
      |  CAST(doc_id % 23 + 1 AS INTEGER) AS height,
      |  CAST(doc_id % 256 AS INTEGER) AS avg_r,
      |  CAST((doc_id * 7) % 256 AS INTEGER) AS avg_g,
      |  CAST((doc_id * 13) % 256 AS INTEGER) AS avg_b
      |FROM documents ORDER BY doc_id""".stripMargin

  /** REAL pixel resize: decode → Graphics2D half-scale (clamped ≥1) →
    * re-encode PNG → decode AGAIN and report the round-tripped dims +
    * averages. Solid fills survive any interpolation exactly, so the
    * output is still oracle-exact. The double decode is deliberate: it
    * proves the re-encoded bytes are a valid image, not just that the
    * in-memory raster had the right size.
    *
    * Robustness contract matches [[imageFeatures]]: any payload that
    * throws or yields no image at ANY step (decode, resize, re-encode,
    * re-decode) surfaces as one decoded_ok=false row — never a dropped
    * row, never a task failure; at 100 TB some payloads WILL be corrupt
    * and one bad row must not kill a 1000-executor stage.
    */
  def resizeImages(images: Dataset[ImagePayload], factor: Int = 2): DataFrame = {
    val spark = images.sparkSession
    import spark.implicits._
    images.mapPartitions { it =>
      it.map { m =>
        val roundTripped =
          try {
            Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(m.payload)))
              .flatMap { img =>
                val (w, h) = (img.getWidth, img.getHeight)
                val (ow, oh) = (math.max(1, w / factor), math.max(1, h / factor))
                val out = new java.awt.image.BufferedImage(
                  ow, oh, java.awt.image.BufferedImage.TYPE_INT_RGB)
                val g2 = out.createGraphics()
                g2.drawImage(img, 0, 0, ow, oh, null)
                g2.dispose()
                val bos = new java.io.ByteArrayOutputStream()
                javax.imageio.ImageIO.write(out, "png", bos)
                decodeStats(bos.toByteArray).map { case (w2, h2, ar, ag, ab) =>
                  ImageResized(m.doc_id, decoded_ok = true, w, h, w2, h2, ar, ag, ab)
                }
              }
          } catch { case scala.util.control.NonFatal(_) => None }
        roundTripped.getOrElse(
          ImageResized(m.doc_id, decoded_ok = false, 0, 0, 0, 0, 0, 0, 0))
      }
    }.toDF().localCheckpoint().orderBy("doc_id")
  }

  /** Oracle twin of [[resizeImages]] at factor 2. */
  val resizeImagesSql: String =
    """SELECT doc_id, TRUE AS decoded_ok,
      |  CAST(doc_id % 37 + 1 AS INTEGER) AS width,
      |  CAST(doc_id % 23 + 1 AS INTEGER) AS height,
      |  CAST(GREATEST(1, (doc_id % 37 + 1) // 2) AS INTEGER) AS out_width,
      |  CAST(GREATEST(1, (doc_id % 23 + 1) // 2) AS INTEGER) AS out_height,
      |  CAST(doc_id % 256 AS INTEGER) AS avg_r,
      |  CAST((doc_id * 7) % 256 AS INTEGER) AS avg_g,
      |  CAST((doc_id * 13) % 256 AS INTEGER) AS avg_b
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- mixed-format corpus + magic-byte container sniffing (r13) ----

  final case class MixedImageFeatures(
      doc_id: Long, sniffed_format: String, decoded_ok: Boolean,
      width: Int, height: Int, avg_r: Int, avg_g: Int, avg_b: Int)

  /** Render one solid-color image in the given ImageIO container format
    * ("png"/"bmp" — both encoders ship in every JRE, both lossless for
    * 24-bit RGB, so the decode round trip stays pixel-exact).
    */
  def makeImage(fmt: String, width: Int, height: Int, r: Int, g: Int, b: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = (r << 16) | (g << 8) | b
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, bos)
    bos.toByteArray
  }

  /** Container sniffing by magic bytes — the dispatch step a real mixed
    * media corpus needs BEFORE any decoder runs (a 100 TB crawl never
    * arrives with trustworthy extensions or content types). Pure byte
    * peeks, no decoder involvement, unknown → "unknown" (route to
    * quarantine, never throw).
    */
  def sniffFormat(payload: Array[Byte]): String =
    if (payload.length >= 8 &&
      (payload(0) & 0xff) == 0x89 && payload(1) == 'P' &&
      payload(2) == 'N' && payload(3) == 'G') "png"
    else if (payload.length >= 2 && payload(0) == 'B' && payload(1) == 'M') "bmp"
    else if (payload.length >= 3 &&
      (payload(0) & 0xff) == 0xff && (payload(1) & 0xff) == 0xd8) "jpeg"
    else if (payload.length >= 4 && payload(0) == 'G' && payload(1) == 'I' &&
      payload(2) == 'F' && payload(3) == '8') "gif"
    else if (payload.length >= 12 && payload(0) == 'R' && payload(1) == 'I' &&
      payload(2) == 'F' && payload(3) == 'F' && payload(8) == 'A' &&
      payload(9) == 'V' && payload(10) == 'I' && payload(11) == ' ') "avi"
    else if (payload.length >= 12 && payload(0) == 'R' && payload(1) == 'I' &&
      payload(2) == 'F' && payload(3) == 'F' && payload(8) == 'W' &&
      payload(9) == 'A' && payload(10) == 'V' && payload(11) == 'E') "wav"
    else "unknown"

  /** Mixed-container synthetic corpus: PNG for even doc_ids, BMP for odd
    * — same [[imageSpec]] dims/fill formulas, so one oracle covers both
    * encoders.
    */
  def imageCorpusMixed(documents: DataFrame): Dataset[ImagePayload] = {
    val spark = documents.sparkSession
    import spark.implicits._
    corpusIds(documents)
      .mapPartitions(_.map { id =>
        val (w, h, r, g, b) = imageSpec(id)
        ImagePayload(id, makeImage(if (id % 2 == 0) "png" else "bmp", w, h, r, g, b))
      })
  }

  /** Sniff + decode the mixed corpus: container detection from magic
    * bytes, then the SAME ImageIO pixel-stats decode as the PNG leg —
    * codec dispatch proven end to end (the sniffed format column is
    * oracle-recomputed from the doc_id parity that chose the encoder).
    */
  def mixedCodecFeatures(images: Dataset[ImagePayload]): DataFrame = {
    val spark = images.sparkSession
    import spark.implicits._
    images.mapPartitions(_.map { m =>
      val fmt = sniffFormat(m.payload)
      decodeStats(m.payload) match {
        case Some((w, h, r, g, b)) =>
          MixedImageFeatures(m.doc_id, fmt, decoded_ok = true, w, h, r, g, b)
        case None => MixedImageFeatures(m.doc_id, fmt, decoded_ok = false, 0, 0, 0, 0, 0)
      }
    }).toDF().localCheckpoint().orderBy("doc_id")
  }

  /** Oracle twin of imageCorpusMixed→mixedCodecFeatures: the sniffed
    * container must equal the parity that chose the encoder, and the
    * decoded stats must round-trip the synthesis formulas through BOTH
    * codecs.
    */
  val mixedCodecFeaturesSql: String =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS sniffed_format,
      |  TRUE AS decoded_ok,
      |  CAST(doc_id % 37 + 1 AS INTEGER) AS width,
      |  CAST(doc_id % 23 + 1 AS INTEGER) AS height,
      |  CAST(doc_id % 256 AS INTEGER) AS avg_r,
      |  CAST((doc_id * 7) % 256 AS INTEGER) AS avg_g,
      |  CAST((doc_id * 13) % 256 AS INTEGER) AS avg_b
      |FROM documents WHERE doc_id IS NOT NULL ORDER BY doc_id""".stripMargin

  // ---- full-container codec zoo + quarantine rows (r14) --------------

  final case class CodecZooRow(
      doc_id: Long, sniffed_format: String, decoded_ok: Boolean,
      width: Int, height: Int)

  /** Mixed corpus over ALL FOUR containers [[sniffFormat]] classifies —
    * PNG/BMP/JPEG/GIF, every decoder the JRE ships — plus the two
    * quarantine shapes a 100 TB crawl actually produces (VERDICT r13
    * item 4): a TRUNCATED JPEG (valid magic, so it sniffs as jpeg, but
    * the decode fails — the sniff-then-decode split is what routes it to
    * quarantine instead of killing the task) and plain non-image bytes
    * (sniffs unknown, never reaches a decoder). Same [[imageSpec]]
    * dims/fill formulas; container and quarantine selection are pure
    * doc_id arithmetic so the oracle recomputes every EXACT column.
    */
  def imageCorpusZoo(documents: DataFrame): Dataset[ImagePayload] = {
    val spark = documents.sparkSession
    import spark.implicits._
    corpusIds(documents)
      .mapPartitions(_.map { id =>
        val (w, h, r, g, b) = imageSpec(id)
        val payload =
          if (id % 29 == 3) makeImage("jpg", w, h, r, g, b).take(3)
          else if (id % 29 == 11) s"NOTANIMAGE-$id".getBytes("UTF-8")
          else (id % 4) match {
            case 0 => makeImage("png", w, h, r, g, b)
            case 1 => makeImage("bmp", w, h, r, g, b)
            case 2 => makeImage("jpg", w, h, r, g, b)
            case _ => makeImage("gif", w, h, r, g, b)
          }
        ImagePayload(id, payload)
      })
  }

  /** Sniff-then-decode over the zoo corpus, EXACT columns only: the
    * sniffed container, whether the real ImageIO decode succeeded, and
    * the decoded dimensions — dims are container metadata, exact even
    * for the lossy JPEG path, while JPEG pixel stats are banded in
    * MultimodalSpec (lossless containers stay pixel-exact there too).
    * Failures surface as decoded_ok=false rows with zero dims — never a
    * dropped row, never a task failure.
    */
  def codecZooFeatures(images: Dataset[ImagePayload]): DataFrame = {
    val spark = images.sparkSession
    import spark.implicits._
    images.mapPartitions(_.map { m =>
      val fmt = sniffFormat(m.payload)
      imageDims(m.payload) match {
        case Some((w, h)) => CodecZooRow(m.doc_id, fmt, decoded_ok = true, w, h)
        case None => CodecZooRow(m.doc_id, fmt, decoded_ok = false, 0, 0)
      }
    }).toDF().localCheckpoint().orderBy("doc_id")
  }

  /** Oracle twin of imageCorpusZoo→codecZooFeatures: container and
    * quarantine selection replay from the doc_id arithmetic, decoded
    * dims from the synthesis formulas; quarantine rows pin
    * decoded_ok=false with zero dims (and the truncated JPEG pins that
    * sniffing is MAGIC-BYTE classification, not decodability).
    */
  val codecZooFeaturesSql: String =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 29 = 3 THEN 'jpeg'
      |       WHEN doc_id % 29 = 11 THEN 'unknown'
      |       WHEN doc_id % 4 = 0 THEN 'png'
      |       WHEN doc_id % 4 = 1 THEN 'bmp'
      |       WHEN doc_id % 4 = 2 THEN 'jpeg'
      |       ELSE 'gif' END AS sniffed_format,
      |  (doc_id % 29 <> 3 AND doc_id % 29 <> 11) AS decoded_ok,
      |  CAST(CASE WHEN doc_id % 29 IN (3, 11) THEN 0
      |            ELSE doc_id % 37 + 1 END AS INTEGER) AS width,
      |  CAST(CASE WHEN doc_id % 29 IN (3, 11) THEN 0
      |            ELSE doc_id % 23 + 1 END AS INTEGER) AS height
      |FROM documents WHERE doc_id IS NOT NULL ORDER BY doc_id""".stripMargin

  /** Frame sampling for video/audio payloads: one media row explodes to
    * its sampled frames (doc_id, frame_idx, frame_bytes, frame_sha).
    * STUB SLICER kept as the codec-agnostic byte-slice contract (a
    * "frame" is a deterministic fixed-stride byte slice); the REAL
    * container-aware form is the RIFF/AVI leg below ([[videoCorpus]] →
    * [[videoFrames]], r14), which demuxes actual '00db' DIB frames with
    * the same every-Nth sampling. The Spark-side
    * contract is real — explode to a frames table via a generator over a
    * binary column, per-frame metadata as codegen'd expressions — and a
    * real demuxer drops into the slice lambda. `stride` is the sampling
    * interval ("every Nth frame"), `frameBytes` the stub frame size.
    */
  def sampleFrames(
      documents: DataFrame, frameLen: Int = 16,
      stride: Int = 2, maxFrames: Int = 4): DataFrame =
    documents
      .select(col("doc_id"), col("text").as("payload"))
      .withColumn("n_frames",
        least(lit(maxFrames),
          (length(col("payload")) / (frameLen * stride) + 1).cast("int")))
      .select(col("doc_id"),
        posexplode(expr(
          s"transform(sequence(0, n_frames - 1), " +
            s"i -> substring(payload, i * $frameLen * $stride + 1, $frameLen))"))
          .as(Seq("frame_idx", "frame")))
      .select(
        col("doc_id"), col("frame_idx").cast("int").as("frame_idx"),
        length(col("frame")).cast("int").as("frame_len"),
        sha2(col("frame"), 256).as("frame_sha"))
      .filter(col("frame_len") > 0) // trailing empty slices drop
      .orderBy("doc_id", "frame_idx")

  /** Oracle twin of [[sampleFrames]] (substring slicing is identical in
    * both engines; the corpus is ASCII so positions are byte positions).
    */
  def sampleFramesSql(frameLen: Int = 16, stride: Int = 2, maxFrames: Int = 4): String =
    s"""WITH p AS (
       |  SELECT doc_id, text AS payload,
       |    LEAST($maxFrames, CAST(length(text) // ($frameLen * $stride) + 1 AS INTEGER)) AS n_frames
       |  FROM documents),
       |f AS (
       |  SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
       |    substring(payload, CAST(i * $frameLen * $stride + 1 AS INTEGER), $frameLen) AS frame
       |  FROM (SELECT doc_id, payload, unnest(generate_series(0, n_frames - 1)) AS i FROM p))
       |SELECT doc_id, frame_idx,
       |  CAST(length(frame) AS INTEGER) AS frame_len,
       |  sha256(frame) AS frame_sha
       |FROM f WHERE length(frame) > 0
       |ORDER BY doc_id, frame_idx""".stripMargin

  /** Resize metadata for decoded media: the dimension arithmetic a real
    * resizer applies (halve and clamp to even, floor ≥1), as pure column
    * expressions over [[extractFeatures]] output. The pixel transform
    * itself belongs in [[extractFeaturesWithCodec]]'s iterator once a
    * codec exists; the metadata contract is engine-side and testable now.
    */
  def resizeMeta(features: DataFrame, factor: Int = 2): DataFrame =
    features.select(
      col("doc_id"),
      col("width"), col("height"),
      greatest(lit(1), (col("width") / factor).cast("int")).as("out_width"),
      greatest(lit(1), (col("height") / factor).cast("int")).as("out_height"))
      .orderBy("doc_id")

  /** Oracle twin: the stub decode's width/height are (first hash byte)+1 /
    * (second hash byte)+1 — reproduced from the sha256 hex digits via the
    * hex-digit ascii arithmetic.
    */
  val extractFeaturesSql: String = {
    def byteVal(i: Int) = // byte i of the hash = 2 hex chars
      s"(${TextOps.hexValSql(s"substr(sha256(text), ${2 * i + 1}, 1)")}) * 16 + " +
        s"(${TextOps.hexValSql(s"substr(sha256(text), ${2 * i + 2}, 1)")})"
    s"""SELECT doc_id, 'text/plain' AS media_type,
       |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
       |  sha256(text) AS sha256_hex,
       |  TRUE AS decoded_ok,
       |  CAST((${byteVal(0)}) + 1 AS INTEGER) AS width,
       |  CAST((${byteVal(1)}) + 1 AS INTEGER) AS height
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // ---- REAL audio codec path: RIFF/WAVE, the PNG leg's audio sibling ----

  final case class AudioPayload(doc_id: Long, payload: Array[Byte])
  final case class AudioFeatures(
      doc_id: Long, decoded_ok: Boolean, sample_rate: Int, channels: Int,
      bits: Int, n_frames: Int, duration_ms: Long, peak_abs: Int, sum_abs: Long)

  /** Deterministic per-doc audio spec: sample rate ∈ {8000,12000,16000},
    * mono/stereo, 10-59 frames — the formulas the oracle reproduces.
    */
  def audioSpec(id: Long): (Int, Int, Int) =
    ((8000 + (id % 3) * 4000).toInt, (1 + id % 2).toInt, (id % 50 + 10).toInt)

  /** PCM sample i for doc `id`: a full-range deterministic int16 —
    * exactly reproducible arithmetic, no float synthesis.
    */
  def pcmSample(id: Long, i: Int): Int =
    ((id * 31 + i.toLong * 7919) % 65536 - 32768).toInt

  /** Build a canonical RIFF/WAVE file (PCM int16 little-endian): 44-byte
    * header + interleaved data chunk. Pure ByteBuffer — the WAV container
    * needs no codec library, which is what makes a REAL (not stubbed)
    * audio leg possible in this sandbox.
    */
  def makeWav(sampleRate: Int, channels: Int, frames: Int, sample: Int => Int): Array[Byte] = {
    val n = frames * channels
    val dataSize = n * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(36 + dataSize)
    bb.put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")); bb.putInt(16)
    bb.putShort(1); bb.putShort(channels.toShort)
    bb.putInt(sampleRate); bb.putInt(sampleRate * channels * 2)
    bb.putShort((channels * 2).toShort); bb.putShort(16)
    bb.put("data".getBytes("US-ASCII")); bb.putInt(dataSize)
    var i = 0
    while (i < n) { bb.putShort(sample(i).toShort); i += 1 }
    bb.array()
  }

  /** Proper RIFF chunk walk (not a fixed-offset peek): validate the
    * RIFF/WAVE magic, locate `fmt ` and `data` wherever they sit (word-
    * aligned skip over unknown chunks), accept only PCM int16, then one
    * pass over the samples for peak/sum-of-abs. Any malformed payload →
    * None, never a throw — at 100 TB some payloads WILL be corrupt and
    * one bad row must not kill the stage (same contract as the image leg).
    */
  def parseWav(bytes: Array[Byte]): Option[AudioFeatures] =
    try {
      if (bytes.length < 12) return None
      val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def str4(off: Int) = new String(bytes, off, 4, "US-ASCII")
      if (str4(0) != "RIFF" || str4(8) != "WAVE") return None
      var pos = 12
      var fmt: Option[(Int, Int, Int, Int)] = None
      var data: Option[(Int, Int)] = None
      while (pos + 8 <= bytes.length && (fmt.isEmpty || data.isEmpty)) {
        val cid = str4(pos)
        val sz = bb.getInt(pos + 4)
        if (sz < 0 || pos + 8 + sz > bytes.length) return None
        if (cid == "fmt " && sz >= 16)
          fmt = Some((bb.getShort(pos + 8) & 0xffff, bb.getShort(pos + 10) & 0xffff,
            bb.getInt(pos + 12), bb.getShort(pos + 22) & 0xffff))
        else if (cid == "data") data = Some((pos + 8, sz))
        pos += 8 + sz + (sz & 1) // RIFF chunks are word-aligned
      }
      (fmt, data) match {
        case (Some((1, ch, rate, 16)), Some((off, sz))) if ch > 0 && rate > 0 =>
          val nSamples = sz / 2
          val nFrames = nSamples / ch
          var peak = 0
          var sum = 0L
          var i = 0
          while (i < nSamples) {
            val a = math.abs(bb.getShort(off + 2 * i).toInt)
            if (a > peak) peak = a
            sum += a
            i += 1
          }
          Some(AudioFeatures(0L, decoded_ok = true, rate, ch, 16, nFrames,
            nFrames * 1000L / rate, peak, sum))
        case _ => None
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Synthetic audio corpus: one WAV per document (spec/PCM pure
    * functions of doc_id), rendered inside mapPartitions — distributed,
    * narrow. Docs with doc_id % 97 == 0 get a TRUNCATED payload: the
    * negative-control rows that must surface as decoded_ok=false.
    */
  def audioCorpus(documents: DataFrame): Dataset[AudioPayload] = {
    val spark = documents.sparkSession
    import spark.implicits._
    corpusIds(documents, wide = false)
      .mapPartitions(_.map { id =>
        val (rate, ch, frames) = audioSpec(id)
        val wav = makeWav(rate, ch, frames, i => pcmSample(id, i))
        AudioPayload(id, if (id % 97 == 0) wav.take(10) else wav)
      })
  }

  /** audioCorpus → parse + PCM stats; the registry oracle recomputes
    * every field (incl. peak/sum over the sample fan-out) from doc_id
    * arithmetic in DuckDB.
    */
  def audioFeatures(audio: Dataset[AudioPayload]): DataFrame = {
    val spark = audio.sparkSession
    import spark.implicits._
    audio.mapPartitions(_.map { a =>
      parseWav(a.payload) match {
        case Some(f) => f.copy(doc_id = a.doc_id)
        case None => AudioFeatures(a.doc_id, decoded_ok = false, 0, 0, 0, 0, 0L, 0, 0L)
      }
    }).toDF().localCheckpoint().orderBy("doc_id")
  }

  /** Oracle twin of audioCorpus→audioFeatures: spec fields from the
    * doc_id formulas; peak/sum recomputed over an explicit per-sample
    * generate_series fan-out; corrupt rows (doc_id % 97 = 0) zeroed.
    */
  val audioFeaturesSql: String =
    """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id IS NOT NULL),
      |spec AS (
      |  SELECT doc_id,
      |    CAST(8000 + (doc_id % 3) * 4000 AS INTEGER) AS sample_rate,
      |    CAST(1 + doc_id % 2 AS INTEGER) AS channels,
      |    CAST(doc_id % 50 + 10 AS INTEGER) AS n_frames
      |  FROM ids),
      |samp AS (
      |  SELECT doc_id, sample_rate, channels, n_frames,
      |    unnest(generate_series(0, n_frames * channels - 1)) AS i
      |  FROM spec),
      |agg AS (
      |  SELECT doc_id, sample_rate, channels, n_frames,
      |    CAST(MAX(ABS((doc_id * 31 + i * 7919) % 65536 - 32768)) AS INTEGER) AS peak_abs,
      |    CAST(SUM(ABS((doc_id * 31 + i * 7919) % 65536 - 32768)) AS BIGINT) AS sum_abs
      |  FROM samp GROUP BY 1, 2, 3, 4)
      |SELECT doc_id,
      |  doc_id % 97 <> 0 AS decoded_ok,
      |  CASE WHEN doc_id % 97 = 0 THEN 0 ELSE sample_rate END AS sample_rate,
      |  CASE WHEN doc_id % 97 = 0 THEN 0 ELSE channels END AS channels,
      |  CASE WHEN doc_id % 97 = 0 THEN 0 ELSE 16 END AS bits,
      |  CASE WHEN doc_id % 97 = 0 THEN 0 ELSE n_frames END AS n_frames,
      |  CASE WHEN doc_id % 97 = 0 THEN CAST(0 AS BIGINT)
      |       ELSE CAST(n_frames AS BIGINT) * 1000 // sample_rate END AS duration_ms,
      |  CASE WHEN doc_id % 97 = 0 THEN 0 ELSE peak_abs END AS peak_abs,
      |  CASE WHEN doc_id % 97 = 0 THEN CAST(0 AS BIGINT) ELSE sum_abs END AS sum_abs
      |FROM agg ORDER BY doc_id""".stripMargin

  // ---- REAL video codec path: RIFF/AVI, the WAV leg's video sibling ----
  //
  // The former "no video codec in this container" stub ([[sampleFrames]],
  // kept as the generic byte-slicer contract) is retired as the only
  // stubbed decode: AVI is a RIFF container (the same chunk grammar the
  // WAV leg already walks) and an UNCOMPRESSED stream ('DIB ' handler,
  // BI_RGB 24-bit bottom-up frames in '00db' chunks) needs no codec
  // library — container demux + frame decode are both pure byte work,
  // which is what makes a REAL video leg possible in this sandbox.
  // Ref shape: the reference treats media as opaque payloads; this leg is
  // the LLM-pipeline extension (frame sampling for vision training data).

  final case class VideoPayload(doc_id: Long, payload: Array[Byte])
  final case class VideoSummary(
      doc_id: Long, decoded_ok: Boolean, width: Int, height: Int,
      n_frames: Int, frames_sampled: Int, sum_r: Long, sum_g: Long,
      sum_b: Long, ysum: Long)
  final case class VideoFrame(
      doc_id: Long, frame_idx: Int, width: Int, height: Int,
      sum_r: Long, sum_g: Long, sum_b: Long, ysum: Long)

  /** Deterministic per-doc video spec: 2-14 px wide (so the DIB 4-byte
    * row padding is actually exercised — 3·w is rarely a multiple of 4),
    * 1-7 px tall, 1-5 frames.
    */
  def videoSpec(id: Long): (Int, Int, Int) =
    ((id % 13 + 2).toInt, (id % 7 + 1).toInt, (id % 5 + 1).toInt)

  /** Channel values for frame f, pixel (x, y) of doc `id` — a per-frame
    * gradient (not a solid fill) so the oracle's per-pixel fan-out only
    * matches if the decoder honors row order, padding, and BGR layout.
    */
  def videoPixel(id: Long, f: Int, x: Int, y: Int): (Int, Int, Int) = (
    ((id + 7L * f + 3L * x + 5L * y) % 256).toInt,
    ((id * 3 + 11L * f + x + 2L * y) % 256).toInt,
    ((id * 5 + 13L * f + 2L * x + y) % 256).toInt)

  /** Build a canonical RIFF/AVI file: LIST(hdrl){avih, LIST(strl){strh
    * 'vids'/'DIB ', strf BITMAPINFOHEADER}}, LIST(movi){n × '00db'
    * uncompressed bottom-up BGR24 DIB frames, rows padded to 4 bytes},
    * idx1. Pure ByteBuffer, little-endian throughout.
    */
  def makeAvi(width: Int, height: Int, nFrames: Int,
      pixel: (Int, Int, Int) => (Int, Int, Int)): Array[Byte] = {
    val rowStride = (width * 3 + 3) & ~3
    val frameSize = rowStride * height
    val hdrlSize = 4 + (8 + 56) + (8 + 4 + (8 + 56) + (8 + 40))
    val moviSize = 4 + nFrames * (8 + frameSize)
    val idx1Size = nFrames * 16
    val riffSize = 4 + (8 + hdrlSize) + (8 + moviSize) + (8 + idx1Size)
    val bb = java.nio.ByteBuffer.allocate(8 + riffSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourcc(s: String): Unit = bb.put(s.getBytes("US-ASCII"))
    fourcc("RIFF"); bb.putInt(riffSize); fourcc("AVI ")
    fourcc("LIST"); bb.putInt(hdrlSize); fourcc("hdrl")
    fourcc("avih"); bb.putInt(56)
    bb.putInt(40000) // dwMicroSecPerFrame (25 fps)
    bb.putInt(frameSize * 25); bb.putInt(0)
    bb.putInt(0x10) // AVIF_HASINDEX
    bb.putInt(nFrames); bb.putInt(0); bb.putInt(1) // totalframes, initial, streams
    bb.putInt(frameSize); bb.putInt(width); bb.putInt(height)
    bb.putInt(0); bb.putInt(0); bb.putInt(0); bb.putInt(0) // dwReserved[4]
    fourcc("LIST"); bb.putInt(4 + (8 + 56) + (8 + 40)); fourcc("strl")
    fourcc("strh"); bb.putInt(56)
    fourcc("vids"); fourcc("DIB ")
    bb.putInt(0); bb.putInt(0); bb.putInt(0) // flags, prio+lang, initial
    bb.putInt(1); bb.putInt(25) // scale, rate (25 fps)
    bb.putInt(0); bb.putInt(nFrames) // start, length
    bb.putInt(frameSize); bb.putInt(-1); bb.putInt(0) // bufsize, quality, samplesize
    bb.putShort(0); bb.putShort(0)
    bb.putShort(width.toShort); bb.putShort(height.toShort) // rcFrame
    fourcc("strf"); bb.putInt(40)
    bb.putInt(40); bb.putInt(width); bb.putInt(height) // biSize, w, h (bottom-up)
    bb.putShort(1); bb.putShort(24) // planes, bitcount
    bb.putInt(0); bb.putInt(frameSize) // BI_RGB, sizeimage
    bb.putInt(0); bb.putInt(0); bb.putInt(0); bb.putInt(0)
    fourcc("LIST"); bb.putInt(moviSize); fourcc("movi")
    var f = 0
    while (f < nFrames) {
      fourcc("00db"); bb.putInt(frameSize)
      var y = height - 1 // bottom-up: last image row first
      while (y >= 0) {
        var x = 0
        while (x < width) {
          val (r, g, b) = pixel(f, x, y)
          bb.put(b.toByte); bb.put(g.toByte); bb.put(r.toByte) // BGR
          x += 1
        }
        var pad = width * 3
        while (pad < rowStride) { bb.put(0.toByte); pad += 1 }
        y -= 1
      }
      f += 1
    }
    fourcc("idx1"); bb.putInt(idx1Size)
    f = 0
    var off = 4 // idx1 offsets are relative to the start of 'movi' data
    while (f < nFrames) {
      fourcc("00db"); bb.putInt(0x10) // AVIIF_KEYFRAME
      bb.putInt(off); bb.putInt(frameSize)
      off += 8 + frameSize
      f += 1
    }
    bb.array()
  }

  /** Proper two-level RIFF walk (the WAV walker's grammar, plus LIST
    * recursion): validate RIFF/'AVI ', find LIST(hdrl)→avih for
    * dims/frame count, then LIST(movi) and decode every '00db' chunk as
    * a bottom-up padded BGR24 DIB and every '00dc' chunk as one whole
    * JPEG (r15 — the MJPEG stream), summing each channel per frame.
    * Unknown chunks (JUNK, vedt, …) skip word-aligned at both levels.
    * Any malformed payload → None, never a throw — same 100 TB contract
    * as the image/audio legs. The header frame count must match the
    * movi walk (a mismatch is corruption, not a dialect).
    */
  def parseAvi(bytes: Array[Byte]): Option[(Int, Int, Seq[(Long, Long, Long, Long)])] =
    try {
      if (bytes.length < 12) return None
      val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def str4(off: Int) = new String(bytes, off, 4, "US-ASCII")
      if (str4(0) != "RIFF" || str4(8) != "AVI ") return None
      var pos = 12
      var dims: Option[(Int, Int, Int)] = None // width, height, totalframes
      var movi: Option[(Int, Int)] = None // payload offset, size
      while (pos + 8 <= bytes.length && (dims.isEmpty || movi.isEmpty)) {
        val cid = str4(pos)
        val sz = bb.getInt(pos + 4)
        if (sz < 0 || pos + 8 + sz > bytes.length) return None
        if (cid == "LIST" && sz >= 4) {
          val listType = str4(pos + 8)
          if (listType == "hdrl") {
            // walk the hdrl sublist for the avih header chunk
            var sub = pos + 12
            val end = pos + 8 + sz
            while (sub + 8 <= end && dims.isEmpty) {
              val scid = str4(sub)
              val ssz = bb.getInt(sub + 4)
              if (ssz < 0 || sub + 8 + ssz > end) return None
              if (scid == "avih" && ssz >= 56)
                dims = Some((bb.getInt(sub + 8 + 32), bb.getInt(sub + 8 + 36),
                  bb.getInt(sub + 8 + 16)))
              sub += 8 + ssz + (ssz & 1)
            }
          } else if (listType == "movi") movi = Some((pos + 12, sz - 4))
        }
        pos += 8 + sz + (sz & 1)
      }
      (dims, movi) match {
        case (Some((w, h, total)), Some((moff, msz)))
            if w > 0 && h > 0 && total >= 0 =>
          val rowStride = (w * 3 + 3) & ~3
          val frames = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
          var p = moff
          val end = moff + msz
          while (p + 8 <= end) {
            val cid = str4(p)
            val sz = bb.getInt(p + 4)
            if (sz < 0 || p + 8 + sz > end) return None
            if (cid == "00db") {
              if (sz != rowStride * h) return None // not a full BI_RGB frame
              var sr = 0L; var sg = 0L; var sb = 0L; var ysum = 0L
              var row = 0
              while (row < h) {
                // DIB rows are bottom-up: stored row `row` is image row
                // h-1-row — ysum weights by the IMAGE y, so it only
                // matches the oracle if this mapping is honored
                val imgY = h - 1 - row
                val rowOff = p + 8 + row * rowStride
                var x = 0
                while (x < w) {
                  val b = bytes(rowOff + 3 * x) & 0xff
                  val g = bytes(rowOff + 3 * x + 1) & 0xff
                  val r = bytes(rowOff + 3 * x + 2) & 0xff
                  sb += b; sg += g; sr += r
                  ysum += imgY.toLong * (r + g + b)
                  x += 1
                }
                row += 1
              }
              frames += ((sr, sg, sb, ysum))
            } else if (cid == "00dc") {
              // compressed frame (r15: MJPEG — each chunk is one whole
              // JPEG, decoded by the JRE reader like the image zoo's
              // jpeg leg). Decoded dims must match the header; a failed
              // or truncated frame quarantines the whole payload —
              // container-level strictness, same as the frame-count rule.
              val img =
                try Option(javax.imageio.ImageIO.read(
                  new java.io.ByteArrayInputStream(bytes, p + 8, sz)))
                catch { case scala.util.control.NonFatal(_) => None }
              img match {
                case Some(im) if im.getWidth == w && im.getHeight == h =>
                  var sr = 0L; var sg = 0L; var sb = 0L; var ysum = 0L
                  var y = 0
                  while (y < h) {
                    var x = 0
                    while (x < w) {
                      val rgb = im.getRGB(x, y)
                      val r = (rgb >> 16) & 0xff
                      val g = (rgb >> 8) & 0xff
                      val b = rgb & 0xff
                      sr += r; sg += g; sb += b
                      ysum += y.toLong * (r + g + b)
                      x += 1
                    }
                    y += 1
                  }
                  frames += ((sr, sg, sb, ysum))
                case _ => return None
              }
            }
            p += 8 + sz + (sz & 1)
          }
          if (frames.length != total) None else Some((w, h, frames.toSeq))
        case _ => None
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Synthetic video corpus: one tiny AVI per document (spec/pixels pure
    * functions of doc_id), rendered inside mapPartitions — distributed,
    * narrow. Docs with doc_id % 89 == 5 get a TRUNCATED payload (valid
    * RIFF magic, so it sniffs as avi, but the movi walk runs off the end
    * — the quarantine negative control, same as the audio leg's % 97).
    */
  def videoCorpus(documents: DataFrame): Dataset[VideoPayload] = {
    val spark = documents.sparkSession
    import spark.implicits._
    corpusIds(documents, wide = false)
      .mapPartitions(_.map { id =>
        val (w, h, n) = videoSpec(id)
        val avi = makeAvi(w, h, n, (f, x, y) => videoPixel(id, f, x, y))
        VideoPayload(id, if (id % 89 == 5) avi.take(32) else avi)
      })
  }

  /** videoCorpus → demux + doc-level summary with frame SAMPLING (every
    * `stride`-th frame, the vision-pipeline "every Nth frame" op): dims,
    * header-consistent frame count, and channel sums over the SAMPLED
    * frames only. Corrupt rows surface as decoded_ok=false zeros.
    */
  def videoSummary(video: Dataset[VideoPayload], stride: Int = 2): DataFrame = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    val spark = video.sparkSession
    import spark.implicits._
    video.mapPartitions(_.map { v =>
      parseAvi(v.payload) match {
        case Some((w, h, frames)) =>
          val sampled = frames.zipWithIndex.collect {
            case (s, i) if i % stride == 0 => s
          }
          VideoSummary(v.doc_id, decoded_ok = true, w, h, frames.length,
            sampled.length, sampled.map(_._1).sum, sampled.map(_._2).sum,
            sampled.map(_._3).sum, sampled.map(_._4).sum)
        case None =>
          VideoSummary(v.doc_id, decoded_ok = false, 0, 0, 0, 0, 0L, 0L, 0L, 0L)
      }
    }).toDF().localCheckpoint().orderBy("doc_id")
  }

  /** videoCorpus → per-SAMPLED-frame rows (doc_id, frame_idx, dims,
    * channel sums) — the frames table a vision training pipeline feeds
    * downstream. Quarantined docs contribute no rows (they are the
    * summary query's decoded_ok=false rows).
    */
  def videoFrames(video: Dataset[VideoPayload], stride: Int = 2): DataFrame = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    val spark = video.sparkSession
    import spark.implicits._
    video.mapPartitions(_.flatMap { v =>
      parseAvi(v.payload).toSeq.flatMap { case (w, h, frames) =>
        frames.zipWithIndex.collect { case ((sr, sg, sb, ys), i) if i % stride == 0 =>
          VideoFrame(v.doc_id, i, w, h, sr, sg, sb, ys)
        }
      }
    }).toDF().localCheckpoint().orderBy("doc_id", "frame_idx")
  }

  /** Oracle twin of videoCorpus→videoSummary (stride 2): spec fields
    * from the doc_id formulas; channel sums recomputed over an explicit
    * (frame, x, y) fan-out restricted to the sampled frames; corrupt
    * rows (doc_id % 89 = 5) zeroed.
    */
  val videoSummarySql: String =
    """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id IS NOT NULL),
      |spec AS (
      |  SELECT doc_id,
      |    CAST(doc_id % 13 + 2 AS INTEGER) AS width,
      |    CAST(doc_id % 7 + 1 AS INTEGER) AS height,
      |    CAST(doc_id % 5 + 1 AS INTEGER) AS n_frames
      |  FROM ids),
      |px AS (
      |  SELECT doc_id, width, height, n_frames, f, x, y
      |  FROM spec,
      |    LATERAL unnest(generate_series(0, n_frames - 1)) AS tf(f),
      |    LATERAL unnest(generate_series(0, width - 1)) AS tx(x),
      |    LATERAL unnest(generate_series(0, height - 1)) AS ty(y)
      |  WHERE f % 2 = 0),
      |agg AS (
      |  SELECT doc_id, width, height, n_frames,
      |    CAST(n_frames - n_frames // 2 AS INTEGER) AS frames_sampled,
      |    CAST(SUM((doc_id + 7 * f + 3 * x + 5 * y) % 256) AS BIGINT) AS sum_r,
      |    CAST(SUM((doc_id * 3 + 11 * f + x + 2 * y) % 256) AS BIGINT) AS sum_g,
      |    CAST(SUM((doc_id * 5 + 13 * f + 2 * x + y) % 256) AS BIGINT) AS sum_b,
      |    CAST(SUM(y * ((doc_id + 7 * f + 3 * x + 5 * y) % 256
      |      + (doc_id * 3 + 11 * f + x + 2 * y) % 256
      |      + (doc_id * 5 + 13 * f + 2 * x + y) % 256)) AS BIGINT) AS ysum
      |  FROM px GROUP BY 1, 2, 3, 4, 5)
      |SELECT doc_id,
      |  doc_id % 89 <> 5 AS decoded_ok,
      |  CASE WHEN doc_id % 89 = 5 THEN 0 ELSE width END AS width,
      |  CASE WHEN doc_id % 89 = 5 THEN 0 ELSE height END AS height,
      |  CASE WHEN doc_id % 89 = 5 THEN 0 ELSE n_frames END AS n_frames,
      |  CASE WHEN doc_id % 89 = 5 THEN 0 ELSE frames_sampled END AS frames_sampled,
      |  CASE WHEN doc_id % 89 = 5 THEN CAST(0 AS BIGINT) ELSE sum_r END AS sum_r,
      |  CASE WHEN doc_id % 89 = 5 THEN CAST(0 AS BIGINT) ELSE sum_g END AS sum_g,
      |  CASE WHEN doc_id % 89 = 5 THEN CAST(0 AS BIGINT) ELSE sum_b END AS sum_b,
      |  CASE WHEN doc_id % 89 = 5 THEN CAST(0 AS BIGINT) ELSE ysum END AS ysum
      |FROM agg ORDER BY doc_id""".stripMargin

  /** Oracle twin of videoCorpus→videoFrames (stride 2): per sampled
    * frame, the same pixel-formula fan-out; quarantined docs excluded.
    */
  val videoFramesSql: String =
    """WITH ids AS (
      |  SELECT doc_id FROM documents
      |  WHERE doc_id IS NOT NULL AND doc_id % 89 <> 5),
      |spec AS (
      |  SELECT doc_id,
      |    CAST(doc_id % 13 + 2 AS INTEGER) AS width,
      |    CAST(doc_id % 7 + 1 AS INTEGER) AS height,
      |    CAST(doc_id % 5 + 1 AS INTEGER) AS n_frames
      |  FROM ids),
      |px AS (
      |  SELECT doc_id, width, height, f, x, y
      |  FROM spec,
      |    LATERAL unnest(generate_series(0, n_frames - 1)) AS tf(f),
      |    LATERAL unnest(generate_series(0, width - 1)) AS tx(x),
      |    LATERAL unnest(generate_series(0, height - 1)) AS ty(y)
      |  WHERE f % 2 = 0)
      |SELECT doc_id, CAST(f AS INTEGER) AS frame_idx, width, height,
      |  CAST(SUM((doc_id + 7 * f + 3 * x + 5 * y) % 256) AS BIGINT) AS sum_r,
      |  CAST(SUM((doc_id * 3 + 11 * f + x + 2 * y) % 256) AS BIGINT) AS sum_g,
      |  CAST(SUM((doc_id * 5 + 13 * f + 2 * x + y) % 256) AS BIGINT) AS sum_b,
      |  CAST(SUM(y * ((doc_id + 7 * f + 3 * x + 5 * y) % 256
      |    + (doc_id * 3 + 11 * f + x + 2 * y) % 256
      |    + (doc_id * 5 + 13 * f + 2 * x + y) % 256)) AS BIGINT) AS ysum
      |FROM px GROUP BY 1, 2, 3, 4
      |ORDER BY doc_id, frame_idx""".stripMargin

  // ───────────── MJPEG ('00dc') video (r15, VERDICT item 3) ────────────
  //
  // Real crawl video is COMPRESSED; the r14 demuxer only carried
  // uncompressed '00db' DIB frames. MJPEG is the compressed stream this
  // sandbox can do honestly: each frame is one whole JPEG, and the JRE
  // ships a JPEG codec the image zoo already exercises. The container
  // walk is shared with the DIB leg; only the per-frame decode differs.
  // JPEG is lossy, so the ORACLE pins the exact columns (decoded_ok,
  // dims, frame count) while pixel stats are banded in MultimodalSpec —
  // the codec-zoo discipline.

  final case class MjpegRow(
      doc_id: Long, decoded_ok: Boolean, width: Int, height: Int,
      n_frames: Int)

  /** Build an MJPEG AVI: the same RIFF skeleton as [[makeAvi]] but with
    * an 'MJPG' handler/biCompression and variable-size '00dc' chunks,
    * each one whole ImageIO-encoded JPEG (word-aligned, actual size in
    * the chunk header and idx1). `truncateLastFrame` keeps only the
    * first 24 bytes of the final JPEG — the chunk stays well-formed at
    * the container level (it still sniffs as a JPEG by magic), but the
    * entropy-coded body is gone and the decode must fail: the
    * truncated-FRAME quarantine shape.
    */
  def makeMjpegAvi(width: Int, height: Int, nFrames: Int,
      pixel: (Int, Int, Int) => (Int, Int, Int),
      truncateLastFrame: Boolean = false): Array[Byte] = {
    val jpegs: Seq[Array[Byte]] = (0 until nFrames).map { f =>
      val img = new java.awt.image.BufferedImage(
        width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          val (r, g, b) = pixel(f, x, y)
          img.setRGB(x, y, (r << 16) | (g << 8) | b)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      val full = bos.toByteArray
      if (truncateLastFrame && f == nFrames - 1) full.take(24) else full
    }
    val hdrlSize = 4 + (8 + 56) + (8 + 4 + (8 + 56) + (8 + 40))
    val moviSize = 4 + jpegs.map(j => 8 + j.length + (j.length & 1)).sum
    val idx1Size = nFrames * 16
    val riffSize = 4 + (8 + hdrlSize) + (8 + moviSize) + (8 + idx1Size)
    val maxJpeg = jpegs.map(_.length).max
    val bb = java.nio.ByteBuffer.allocate(8 + riffSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourcc(s: String): Unit = bb.put(s.getBytes("US-ASCII"))
    fourcc("RIFF"); bb.putInt(riffSize); fourcc("AVI ")
    fourcc("LIST"); bb.putInt(hdrlSize); fourcc("hdrl")
    fourcc("avih"); bb.putInt(56)
    bb.putInt(40000) // dwMicroSecPerFrame (25 fps)
    bb.putInt(maxJpeg * 25); bb.putInt(0)
    bb.putInt(0x10) // AVIF_HASINDEX
    bb.putInt(nFrames); bb.putInt(0); bb.putInt(1)
    bb.putInt(maxJpeg); bb.putInt(width); bb.putInt(height)
    bb.putInt(0); bb.putInt(0); bb.putInt(0); bb.putInt(0)
    fourcc("LIST"); bb.putInt(4 + (8 + 56) + (8 + 40)); fourcc("strl")
    fourcc("strh"); bb.putInt(56)
    fourcc("vids"); fourcc("MJPG")
    bb.putInt(0); bb.putInt(0); bb.putInt(0)
    bb.putInt(1); bb.putInt(25)
    bb.putInt(0); bb.putInt(nFrames)
    bb.putInt(maxJpeg); bb.putInt(-1); bb.putInt(0)
    bb.putShort(0); bb.putShort(0)
    bb.putShort(width.toShort); bb.putShort(height.toShort)
    fourcc("strf"); bb.putInt(40)
    bb.putInt(40); bb.putInt(width); bb.putInt(height)
    bb.putShort(1); bb.putShort(24)
    fourcc("MJPG") // biCompression: the MJPEG fourcc, not BI_RGB
    bb.putInt(maxJpeg) // sizeimage (largest frame)
    bb.putInt(0); bb.putInt(0); bb.putInt(0); bb.putInt(0)
    fourcc("LIST"); bb.putInt(moviSize); fourcc("movi")
    jpegs.foreach { j =>
      fourcc("00dc"); bb.putInt(j.length)
      bb.put(j)
      if ((j.length & 1) == 1) bb.put(0.toByte) // word alignment
    }
    fourcc("idx1"); bb.putInt(idx1Size)
    var off = 4
    jpegs.foreach { j =>
      fourcc("00dc"); bb.putInt(0x10)
      bb.putInt(off); bb.putInt(j.length)
      off += 8 + j.length + (j.length & 1)
    }
    bb.array()
  }

  /** Synthetic MJPEG video corpus: same spec/pixel formulas as the DIB
    * corpus ([[videoSpec]]/[[videoPixel]]), rendered through the JPEG
    * encoder. Docs with doc_id % 83 == 7 carry a truncated FINAL frame
    * (container intact, entropy body gone) — the per-frame quarantine
    * negative control.
    */
  def mjpegCorpus(documents: DataFrame): Dataset[VideoPayload] = {
    val spark = documents.sparkSession
    import spark.implicits._
    corpusIds(documents)
      .mapPartitions(_.map { id =>
        val (w, h, n) = videoSpec(id)
        VideoPayload(id, makeMjpegAvi(w, h, n,
          (f, x, y) => videoPixel(id, f, x, y),
          truncateLastFrame = id % 83 == 7))
      })
  }

  /** mjpegCorpus → demux + decode, EXACT columns only (the codec-zoo
    * rule for lossy containers): decode success, dims, header frame
    * count. A truncated frame fails the WHOLE payload — production
    * quarantines the file, not half of it. Pixel sums over decoded
    * MJPEG frames are banded in MultimodalSpec.
    */
  def mjpegDecode(video: Dataset[VideoPayload]): DataFrame = {
    val spark = video.sparkSession
    import spark.implicits._
    video.mapPartitions(_.map { v =>
      parseAvi(v.payload) match {
        case Some((w, h, frames)) =>
          MjpegRow(v.doc_id, decoded_ok = true, w, h, frames.length)
        case None => MjpegRow(v.doc_id, decoded_ok = false, 0, 0, 0)
      }
    }).toDF().localCheckpoint().orderBy("doc_id")
  }

  /** Oracle twin of mjpegCorpus→[[mjpegDecode]]: spec columns from the
    * doc_id formulas, quarantine rows (doc_id % 83 = 7) pinned to
    * decoded_ok=false with zero dims — proving the demux + JPEG decode
    * chain recovers exactly the generated container metadata and the
    * truncated-frame detection is airtight.
    */
  val mjpegDecodeSql: String =
    """SELECT doc_id,
      |  doc_id % 83 <> 7 AS decoded_ok,
      |  CAST(CASE WHEN doc_id % 83 = 7 THEN 0
      |            ELSE doc_id % 13 + 2 END AS INTEGER) AS width,
      |  CAST(CASE WHEN doc_id % 83 = 7 THEN 0
      |            ELSE doc_id % 7 + 1 END AS INTEGER) AS height,
      |  CAST(CASE WHEN doc_id % 83 = 7 THEN 0
      |            ELSE doc_id % 5 + 1 END AS INTEGER) AS n_frames
      |FROM documents WHERE doc_id IS NOT NULL ORDER BY doc_id""".stripMargin
}
