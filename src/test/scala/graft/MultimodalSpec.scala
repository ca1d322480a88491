package graft

import graft.multimodal.Multimodal

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "hello multimodal world", "en", "s1", 22L),
    (2L, "", "en", "s2", 0L),
    (3L, "binary payload stand-in é世", "en", "s3", 26L))
    .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("expression path and codec-template path produce identical features") {
    val expr = Multimodal.extractFeatures(docs)
    val codec = Multimodal.extractFeaturesWithCodec(docs)(MultimodalSpec.stubCodec)
    // same names+types (nullability flags differ between expression and
    // case-class encoders; the driver compare ignores them too)
    assert(expr.schema.map(f => (f.name, f.dataType)) ==
      codec.schema.map(f => (f.name, f.dataType)))
    assert(expr.exceptAll(codec).isEmpty && codec.exceptAll(expr).isEmpty)
  }

  test("the default path stays in codegen (no object-iterator operators)") {
    val plan = Multimodal.extractFeatures(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("MapPartitions") && !plan.contains("DeserializeToObject"))
    // the public entry checkpoints the decoded rows (r18) — the iterator
    // shape is asserted on the pre-materialization core
    val codecPlan = Multimodal.extractFeaturesWithCodecCore(docs)(MultimodalSpec.stubCodec)
      .queryExecution.executedPlan.toString
    assert(codecPlan.contains("MapPartitions")) // the template keeps the iterator shape
  }

  test("REAL ImageIO decode: synthetic PNGs round-trip dims and pixel averages") {
    val images = Multimodal.imageCorpus(docs)
    val feats = Multimodal.imageFeatures(images).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(feats.size == 3)
    Seq(1L, 2L, 3L).foreach { id =>
      val (w, h, r, g, b) = Multimodal.imageSpec(id)
      val f = feats(id)
      assert(f.getAs[Boolean]("decoded_ok"))
      assert(f.getAs[Int]("width") == w && f.getAs[Int]("height") == h)
      assert(f.getAs[Int]("avg_r") == r && f.getAs[Int]("avg_g") == g &&
        f.getAs[Int]("avg_b") == b)
    }
  }

  test("codec-template path runs a real ImageIO decode over PNG payloads") {
    val images = Multimodal.imageCorpus(docs).toDF()
    val out = Multimodal
      .extractFeaturesWithCodec(images, payloadCol = "payload", mediaType = "image/png")(
        Multimodal.imageDims)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    Seq(1L, 2L, 3L).foreach { id =>
      val (w, h, _, _, _) = Multimodal.imageSpec(id)
      assert(out(id).getAs[Boolean]("decoded_ok"))
      assert(out(id).getAs[Int]("width") == w && out(id).getAs[Int]("height") == h)
    }
  }

  test("undecodable payloads surface decoded_ok=false, not a task failure") {
    val junk = Seq((9L, Array[Byte](1, 2, 3, 4))).toDF("doc_id", "payload")
    val out = Multimodal
      .extractFeaturesWithCodec(junk, payloadCol = "payload", mediaType = "image/png")(
        Multimodal.imageDims)
      .collect()
    assert(out.length == 1 && !out(0).getAs[Boolean]("decoded_ok"))
    assert(out(0).getAs[Int]("width") == 0 && out(0).getAs[Int]("height") == 0)
    assert(Multimodal.imageDims(Array[Byte]()) == None)
  }

  test("REAL pixel resize: Graphics2D half-scale, re-encode, re-decode") {
    val images = Multimodal.imageCorpus(docs)
    val out = Multimodal.resizeImages(images).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    Seq(1L, 2L, 3L).foreach { id =>
      val (w, h, r, g, b) = Multimodal.imageSpec(id)
      val row = out(id)
      assert(row.getAs[Int]("width") == w && row.getAs[Int]("height") == h)
      assert(row.getAs[Int]("out_width") == math.max(1, w / 2))
      assert(row.getAs[Int]("out_height") == math.max(1, h / 2))
      // solid fill survives interpolation exactly
      assert(row.getAs[Int]("avg_r") == r && row.getAs[Int]("avg_g") == g &&
        row.getAs[Int]("avg_b") == b)
    }
  }

  test("resize: corrupt payload surfaces decoded_ok=false, not a drop or failure") {
    val junk = Seq(
      Multimodal.ImagePayload(8L, Array[Byte](1, 2, 3, 4)),
      Multimodal.ImagePayload(9L, Array.emptyByteArray)).toDS()
    val out = Multimodal.resizeImages(junk).collect()
    assert(out.length == 2, "corrupt rows must surface, not drop")
    assert(out.forall(r => !r.getAs[Boolean]("decoded_ok")))
    assert(out.forall(r => r.getAs[Int]("out_width") == 0))
  }

  test("frame sampling: strided slices, capped count, no empty frames") {
    // 80-char payload; frameLen 16, stride 2 → slices at 0, 32, 64
    val media = Seq((1L, "x" * 80, "en", "s", 80L), (2L, "ab", "en", "s", 2L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val frames = Multimodal.sampleFrames(media).collect()
    val byDoc = frames.groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc(1L).map(_.getAs[Int]("frame_idx")).toSeq.sorted == Seq(0, 1, 2))
    assert(byDoc(1L).forall(_.getAs[Int]("frame_len") == 16))
    // short payload: one partial frame, no empties
    assert(byDoc(2L).map(r => (r.getAs[Int]("frame_idx"), r.getAs[Int]("frame_len"))).toSeq == Seq((0, 2)))
    assert(frames.forall(_.getAs[String]("frame_sha").length == 64))
  }

  test("resize metadata halves and clamps to >= 1") {
    val meta = Multimodal.resizeMeta(Multimodal.extractFeatures(docs)).collect()
    meta.foreach { r =>
      assert(r.getAs[Int]("out_width") == math.max(1, r.getAs[Int]("width") / 2))
      assert(r.getAs[Int]("out_height") == math.max(1, r.getAs[Int]("height") / 2))
      assert(r.getAs[Int]("out_width") >= 1 && r.getAs[Int]("out_height") >= 1)
    }
  }

  test("features: n_bytes counts UTF-8 bytes, dimensions in [1,256]") {
    val r = Multimodal.extractFeatures(docs).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(1L).getAs[Long]("n_bytes") == 22L)
    // é is 2 bytes, 世 is 3 → 24 ascii + 5
    assert(r(3L).getAs[Long]("n_bytes") == 29L)
    r.values.foreach { x =>
      val (w, h) = (x.getAs[Int]("width"), x.getAs[Int]("height"))
      assert(w >= 1 && w <= 256 && h >= 1 && h <= 256)
      assert(x.getAs[String]("sha256_hex").length == 64)
    }
  }

  test("REAL WAV codec: build → chunk-walk parse round-trips spec and PCM stats") {
    // hand-check one file end-to-end against the formulas
    val id = 5L
    val (rate, ch, frames) = Multimodal.audioSpec(id)
    val wav = Multimodal.makeWav(rate, ch, frames, i => Multimodal.pcmSample(id, i))
    val f = Multimodal.parseWav(wav).get
    assert((f.sample_rate, f.channels, f.bits, f.n_frames) == (rate, ch, 16, frames))
    assert(f.duration_ms == frames * 1000L / rate)
    val samples = (0 until frames * ch).map(Multimodal.pcmSample(id, _))
    assert(f.peak_abs == samples.map(math.abs).max)
    assert(f.sum_abs == samples.map(s => math.abs(s).toLong).sum)
  }

  test("WAV parser is a real chunk walk: unknown chunks skipped, malformed payloads None") {
    val id = 7L
    val (rate, ch, frames) = Multimodal.audioSpec(id)
    val wav = Multimodal.makeWav(rate, ch, frames, i => Multimodal.pcmSample(id, i))
    // splice an unknown (odd-sized, word-aligned) chunk between fmt and data
    val junk = {
      val extra = java.nio.ByteBuffer.allocate(8 + 6)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      extra.put("LIST".getBytes("US-ASCII")).putInt(5)
        .put(Array[Byte](1, 2, 3, 4, 5, 0)) // 5 bytes + pad
      val out = new java.io.ByteArrayOutputStream()
      out.write(wav, 0, 36)                     // RIFF..fmt chunk end
      out.write(extra.array())
      out.write(wav, 36, wav.length - 36)       // data chunk
      val b = out.toByteArray
      // fix the RIFF size field for honesty (parser doesn't depend on it)
      java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .putInt(4, b.length - 8)
      b
    }
    assert(Multimodal.parseWav(junk).map(_.n_frames).contains(frames),
      "parser must skip unknown chunks and still find data")
    assert(Multimodal.parseWav(wav.take(10)).isEmpty, "truncated header")
    assert(Multimodal.parseWav(wav.take(50)).isEmpty, "truncated data chunk")
    assert(Multimodal.parseWav("RIFFxxxxAIFF".getBytes("US-ASCII")).isEmpty, "wrong form type")
    assert(Multimodal.parseWav(Array.fill[Byte](100)(0x41)).isEmpty, "garbage")
  }

  test("audio corpus surfaces corrupt payloads as decoded_ok=false rows, never failures") {
    val ids = Seq(0L, 5L, 97L, 100L).toDF("doc_id")
      .withColumn("text", org.apache.spark.sql.functions.lit("t"))
    val out = Multimodal.audioFeatures(Multimodal.audioCorpus(ids)).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("decoded_ok")).toMap
    assert(out == Map(0L -> false, 5L -> true, 97L -> false, 100L -> true))
  }

  test("magic-byte sniffing: every JRE container + the quarantine path") {
    assert(Multimodal.sniffFormat(Multimodal.makeImage("png", 3, 2, 1, 2, 3)) == "png")
    assert(Multimodal.sniffFormat(Multimodal.makeImage("bmp", 3, 2, 1, 2, 3)) == "bmp")
    assert(Multimodal.sniffFormat(Multimodal.makeImage("jpg", 3, 2, 1, 2, 3)) == "jpeg")
    assert(Multimodal.sniffFormat(Multimodal.makeImage("gif", 3, 2, 1, 2, 3)) == "gif")
    assert(Multimodal.sniffFormat("not an image".getBytes("US-ASCII")) == "unknown")
    assert(Multimodal.sniffFormat(Array.empty[Byte]) == "unknown")
    // BMP decode round trip is pixel-exact like PNG's (24-bit RGB solid fill)
    val dims = Multimodal.imageDims(Multimodal.makeImage("bmp", 7, 4, 9, 8, 7))
    assert(dims.contains((7, 4)))
  }

  test("codec zoo: four containers decode, quarantine rows route, JPEG stats band") {
    import org.apache.spark.sql.functions._
    // ids chosen to hit every leg: container by id % 4, truncated JPEG at
    // id % 29 == 3, unknown bytes at id % 29 == 11
    val ids = (0L to 120L).map(i => (i, s"t$i", "en", "s", 2L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val zoo = Multimodal.imageCorpusZoo(ids).cache()
    val feats = Multimodal.codecZooFeatures(zoo).collect()
    feats.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val (w, h, _, _, _) = Multimodal.imageSpec(id)
      if (id % 29 == 3) {
        // truncated JPEG: magic bytes sniff as jpeg, decode FAILS —
        // the sniff/decode split is what makes quarantine routable
        assert(r.getAs[String]("sniffed_format") == "jpeg" &&
          !r.getAs[Boolean]("decoded_ok"), s"id=$id: $r")
      } else if (id % 29 == 11) {
        assert(r.getAs[String]("sniffed_format") == "unknown" &&
          !r.getAs[Boolean]("decoded_ok"), s"id=$id: $r")
      } else {
        val expect = (id % 4) match {
          case 0 => "png"; case 1 => "bmp"; case 2 => "jpeg"; case _ => "gif"
        }
        assert(r.getAs[String]("sniffed_format") == expect, s"id=$id: $r")
        assert(r.getAs[Boolean]("decoded_ok") &&
          r.getAs[Int]("width") == w && r.getAs[Int]("height") == h,
          s"id=$id dims must be exact for every container incl. lossy JPEG: $r")
      }
    }
    // pixel stats: lossless containers (png/bmp/gif) round-trip the fill
    // EXACTLY; JPEG is lossy — band it (solid fills decode within a few
    // units; chroma subsampling is flat on a constant raster)
    val px = Multimodal.imageFeatures(zoo).collect()
    px.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      if (id % 29 != 3 && id % 29 != 11) {
        val (_, _, er, eg, eb) = Multimodal.imageSpec(id)
        val (ar, ag, ab) =
          (r.getAs[Int]("avg_r"), r.getAs[Int]("avg_g"), r.getAs[Int]("avg_b"))
        if (id % 4 == 2) {
          assert(math.abs(ar - er) <= 8 && math.abs(ag - eg) <= 8 &&
            math.abs(ab - eb) <= 8,
            s"id=$id JPEG stats out of band: got ($ar,$ag,$ab) want ~($er,$eg,$eb)")
        } else {
          assert((ar, ag, ab) == ((er, eg, eb)),
            s"id=$id lossless container must be pixel-exact: $r")
        }
      }
    }
    zoo.unpersist()
  }
}

object MultimodalSpec {

  /** The stub decode [[Multimodal.extractFeatures]] computes as
    * expressions — fake dimensions from bytes 0/1 of the payload's
    * sha256 — as a payload→dims codec, for running the stub through the
    * codec-template path. Lives on the companion object so the codec
    * closure captures no spec instance.
    */
  def stubCodec(payload: Array[Byte]): Option[(Int, Int)] = {
    val hash = java.security.MessageDigest.getInstance("SHA-256").digest(payload)
    Some(((hash(0) & 0xff) + 1, (hash(1) & 0xff) + 1))
  }
}
