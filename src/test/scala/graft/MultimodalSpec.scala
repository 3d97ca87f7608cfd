package graft

import graft.operators.Multimodal
import graft.operators.Multimodal.MediaRow
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {
  private lazy val sp = spark
  import sp.implicits._

  private lazy val media = Multimodal.mediaTable(spark, sf)

  test("media table: binary content, kinds round-robin, bytes == utf8 length") {
    val r = media.orderBy("media_id").limit(3).collect()
    assert(r.map(_.getString(1)).toSeq == Seq("image", "audio", "video"))
    assert(r.head.getAs[Array[Byte]]("content").nonEmpty)
  }

  test("expression decode and mapPartitions decode agree exactly") {
    val viaExpr = Multimodal.decodeMeta(media)
      .select(col("media_id"), col("meta.width"), col("meta.height"),
        col("meta.bit_size"), col("meta.duration_ms"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getInt(4)))
      .sortBy(_._1)
    val viaPart = Multimodal.decodePartitioned(media.as[MediaRow].repartition(7))
      .collect().map(d => (d.media_id, d.width, d.height, d.bit_size, d.duration_ms))
      .sortBy(_._1)
    assert(viaExpr.toSeq == viaPart.toSeq,
      "codegen expression path and per-partition batch path must produce identical decodes")
  }

  test("frame sampling: N frames, correct sizes, reassembly prefix-matches content") {
    // EVERY row, not a sampled one: lengths not divisible by FrameCount
    // once produced non-contiguous slices (double division truncating
    // per-slice) — this loop is the regression net
    Multimodal.frameSample(media).orderBy("media_id").collect().foreach { out =>
      val content = out.getAs[Array[Byte]]("content")
      val frames = out.getSeq[Array[Byte]](out.fieldIndex("frames"))
      assert(frames.length == Multimodal.FrameCount)
      val frameLen = math.max(content.length / Multimodal.FrameCount, 1)
      assert(frames.forall(_.length == frameLen))
      assert(frames.flatten.toSeq == content.take(frameLen * Multimodal.FrameCount).toSeq,
        s"media ${out.getLong(0)}: concatenated frames == evenly-sliced content prefix")
    }
  }

  test("resize: aspect ratio preserved, payload shrinks by area ratio, schema intact") {
    val out = Multimodal.resize(Multimodal.decodeMeta(media), targetWidth = 256)
    // EVERY row: the first upscale-inconsistent row on this fixture is the
    // 21st — a sampled assertion sailed right past it
    out.orderBy("media_id").collect().foreach { r =>
      val meta = r.getStruct(r.fieldIndex("meta"))
      assert(meta.getInt(0) == 256, "width is the target")
      assert(meta.getInt(1) >= 1, "height stays positive")
      val content = r.getAs[Array[Byte]]("content")
      assert(meta.getLong(2) == content.length.toLong * 8, "bit_size tracks the new payload")
    }
    // meta field names/types unchanged by the stage (downstream contract;
    // nullability legitimately tightens — literals are non-null)
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.schema("meta").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
        .fields.map(f => (f.name, f.dataType)).toSeq
    assert(shape(out) == shape(Multimodal.decodeMeta(media)))
  }

  test("frame sampling is contiguous for lengths not divisible by the frame count") {
    val sp2 = spark
    import sp2.implicits._
    // 10 bytes, 4 frames -> frameLen 2, frames cover bytes 0..7 contiguously
    val one = Seq((1L, "img", "ABCDEFGHIJ".getBytes("UTF-8"))).toDF("media_id", "kind", "content")
    val fr = Multimodal.frameSample(one).head.getSeq[Array[Byte]](3)
    assert(fr.map(new String(_, "UTF-8")) == Seq("AB", "CD", "EF", "GH"))
  }

  test("frame features: one struct per frame with byte count + fingerprint") {
    val out = Multimodal.frameFeatures(Multimodal.frameSample(media))
      .select(col("media_id"), col("frame_features")).orderBy("media_id").limit(1).head
    val feats = out.getSeq[org.apache.spark.sql.Row](1)
    assert(feats.length == Multimodal.FrameCount)
    assert(feats.forall(f => f.getInt(0) > 0))
    assert(feats.map(_.getLong(1)).distinct.length > 1, "fingerprints differ across frames")
  }

  test("qFrames: one row per (media, frame), hashes match direct slicing") {
    val out = Multimodal.qFrames(spark, sf)
    val rows = out.limit(Multimodal.FrameCount).collect()
    assert(rows.length == Multimodal.FrameCount)
    assert(rows.map(_.getInt(2)).toSeq == (0 until Multimodal.FrameCount))
    // frame bytes re-hashed by hand for the first media
    val media = Multimodal.mediaTable(spark, sf).orderBy("media_id").limit(1).head
    val content = media.getAs[Array[Byte]]("content")
    val fl = math.max(content.length / Multimodal.FrameCount, 1)
    val md = java.security.MessageDigest.getInstance("MD5")
    val expect = md.digest(content.slice(0, fl)).map("%02x".format(_)).mkString
    assert(rows.head.getString(4) == expect)
    assert(rows.head.getLong(3) == fl.toLong)
  }

  test("real image payloads are genuine PNGs; real decode recovers the exact dims") {
    val real = Multimodal.mediaTableReal(spark, sf)
    val imgs = real.filter(_.kind == "image").collect()
    assert(imgs.nonEmpty)
    imgs.foreach { r =>
      // PNG magic, then an independent ImageIO parse on the driver
      assert(r.content.take(8).toSeq ==
        Seq(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte),
        s"media ${r.media_id} payload is not a PNG")
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.content))
      assert(img.getWidth == Multimodal.imageWidth(r.media_id))
      assert(img.getHeight == Multimodal.imageHeight(r.media_id))
    }
  }

  test("real audio payloads are genuine WAVs; real decode recovers the exact duration") {
    val real = Multimodal.mediaTableReal(spark, sf)
    val wavs = real.filter(_.kind == "audio").collect()
    assert(wavs.nonEmpty)
    wavs.foreach { r =>
      // RIFF/WAVE magic, then an independent AudioSystem parse on the driver
      assert(r.content.take(4).toSeq == "RIFF".getBytes("US-ASCII").toSeq &&
        r.content.slice(8, 12).toSeq == "WAVE".getBytes("US-ASCII").toSeq,
        s"media ${r.media_id} payload is not a WAV")
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(r.content))
      try {
        assert(in.getFormat.getSampleRate.toInt == Multimodal.AudioRate)
        assert(in.getFormat.getChannels == 1)
        assert((in.getFrameLength * 1000L / Multimodal.AudioRate).toInt ==
          Multimodal.audioDurationMs(r.media_id))
      } finally in.close()
    }
  }

  test("real video payloads are genuine animated GIFs; real decode recovers frames/dims/delays") {
    val real = Multimodal.mediaTableReal(spark, sf)
    val gifs = real.filter(_.kind == "video").collect()
    assert(gifs.nonEmpty)
    gifs.foreach { r =>
      // GIF magic, then an independent ImageIO sequence parse on the driver
      assert(r.content.take(6).toSeq == "GIF89a".getBytes("US-ASCII").toSeq ||
        r.content.take(6).toSeq == "GIF87a".getBytes("US-ASCII").toSeq,
        s"media ${r.media_id} payload is not a GIF")
      val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
      val (nf, w, h, durMs) = Multimodal.gifDecode(r.content, reader)
      reader.dispose()
      assert(nf == Multimodal.videoFrames(r.media_id), s"media ${r.media_id} frame count")
      assert(w == Multimodal.videoWidth(r.media_id) &&
        h == Multimodal.videoHeight(r.media_id), s"media ${r.media_id} dims")
      assert(durMs == Multimodal.videoDurationMs(r.media_id), s"media ${r.media_id} duration")
    }
  }

  test("GIF container layout: one global color table, no per-frame local tables") {
    // The r17 LocalColorTable metadata strip (Multimodal.gifBytes) relies
    // on the writer emitting a GLOBAL table (from the image's
    // IndexColorModel) and NO local tables — this pins that container
    // shape by parsing the actual bytes, so a JDK writer change that
    // starts emitting local tables (silently fattening every payload)
    // fails loudly here rather than drifting the encode cost profile.
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    try Seq(3L, 6L, 9L, 42L, 999L).foreach { id =>
      val b = Multimodal.gifBytes(id, writer)
      // logical screen descriptor: packed byte at offset 10, bit 7 = GCT flag
      assert((b(10) & 0x80) != 0, s"gif $id has no global color table")
      val gctSize = 3 * (1 << ((b(10) & 0x07) + 1))
      var i = 13 + gctSize
      var frames = 0
      while ((b(i) & 0xFF) != 0x3B) {   // trailer
        (b(i) & 0xFF) match {
          case 0x21 =>                   // extension: label + sub-blocks
            i += 2
            while (b(i) != 0) i += (b(i) & 0xFF) + 1
            i += 1
          case 0x2C =>                   // image descriptor
            assert((b(i + 9) & 0x80) == 0, s"gif $id frame $frames has a local color table")
            frames += 1
            i += 10                      // fixed descriptor
            i += 1                       // LZW minimum code size
            while (b(i) != 0) i += (b(i) & 0xFF) + 1
            i += 1
          case other => fail(s"gif $id: unexpected block 0x${other.toHexString} at $i")
        }
      }
      assert(frames == Multimodal.videoFrames(id), s"gif $id frame count from raw bytes")
    } finally writer.dispose()
  }

  test("real decoder: formula dims for images, parsed duration for audio, parsed frames for video") {
    val real = Multimodal.mediaTableReal(spark, sf)
    val decoded = Multimodal.decodeRealPartitioned(real.repartition(5)).collect()
    decoded.filter(_.kind == "image").foreach { d =>
      assert(d.width == Multimodal.imageWidth(d.media_id) &&
        d.height == Multimodal.imageHeight(d.media_id) && d.duration_ms == 0)
      assert(d.bit_size % 8 == 0 && d.bit_size > 0)
      assert(d.n_frames == 1)
    }
    // audio: the duration the RIFF parser reads back must equal the
    // formula the payload was synthesized from (width/height 0 for sound)
    decoded.filter(_.kind == "audio").foreach { d =>
      assert(d.width == 0 && d.height == 0 && d.n_frames == 0)
      assert(d.duration_ms == Multimodal.audioDurationMs(d.media_id))
    }
    // video: everything the GIF parser reads back — frame count from the
    // sequence scan, dims, duration from summed per-frame delays — must
    // equal the synthesis formulas
    decoded.filter(_.kind == "video").foreach { d =>
      assert(d.n_frames == Multimodal.videoFrames(d.media_id))
      assert(d.width == Multimodal.videoWidth(d.media_id) &&
        d.height == Multimodal.videoHeight(d.media_id))
      assert(d.duration_ms == Multimodal.videoDurationMs(d.media_id))
      assert(d.bit_size % 8 == 0 && d.bit_size > 0)
    }
  }

  test("persisted-encode decode twin equals the fused encode+decode query") {
    // the Artifacts-backed steady-state path must be answer-identical
    // with the in-flight query (persistence changes cost, never an
    // answer), and its plan must READ the artifact, not re-encode
    val fused = graft.operators.Multimodal.qMediaDecode(spark, sf)
    val persisted = graft.operators.Multimodal.qMediaDecodePersisted(spark, sf)
    assert(persisted.except(fused).isEmpty && fused.except(persisted).isEmpty,
      "persisted twin drifted from the fused query")
    val scans = persisted.queryExecution.executedPlan.collectLeaves().map(_.toString)
    assert(scans.exists(_.contains("media_encoded")),
      s"persisted twin must scan the media_encoded artifact:\n${scans.mkString.take(400)}")
  }

  test("metadata pruning: filter on meta fields reads no blob bytes (column pruning)") {
    val tmp = SparkSpec.tempDir("graft_media")
    Multimodal.decodeMeta(media).write.mode("overwrite").parquet(tmp)
    val q = spark.read.parquet(tmp)
      .filter(col("kind") === "image" && col("meta.width") > 512)
      .select("media_id", "meta.width")
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(!scan.contains("content"), s"blob column must be pruned from the scan:\n$scan")
  }
}
