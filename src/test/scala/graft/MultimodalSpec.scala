package graft

import org.scalatest.funsuite.AnyFunSuite

class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("mm_patchify signatures match a local strided-gather recompute") {
    // the oracle replays the same SQL arithmetic; this pins the
    // GEOMETRY itself against an independent straight-line gather:
    // patch (pr, pc) must cover pixel rows pr*4..pr*4+3, cols
    // pc*4..pc*4+3 of the 16-wide image, and each doc must emit
    // exactly gh*4 patches for gh = len/64 complete patch rows
    val rows = graft.queries.Multimodal.patchify.run(spark, sf).collect()
    assert(rows.nonEmpty)
    val texts = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    rows.foreach { r =>
      val t = texts(r.getLong(0))
      val pr = r.getLong(1).toInt
      val pc = r.getLong(2).toInt
      val patch = (0 until 4).map { k =>
        val off = (pr * 4 + k) * 16 + pc * 4
        t.substring(off, off + 4)
      }.mkString
      assert(md5hex(patch) == r.getString(3),
        s"patch ($pr,$pc) of doc ${r.getLong(0)} diverges")
    }
    // iterate the CORPUS side, not the output side: a regression that
    // drops whole docs must fail here, not hide behind the docs that
    // did emit
    val byDoc = rows.groupBy(_.getLong(0))
    texts.foreach { case (id, t) =>
      val gh = t.length / 64
      val got = byDoc.get(id).map(_.length).getOrElse(0)
      assert(got == gh * 4, s"doc $id: $got patches != ${gh * 4}")
    }
  }

  test("image decode recovers hand-computed pixel stats from PNG bytes") {
    import graft.multimodal.Binary.ImageCodec
    // 2x1 RGB fixture: pixel (0,0) = (255, 0, 0), pixel (1,0) =
    // (1, 2, 3) — hand-computed sums r=256, g=2, b=3. PNG is
    // lossless, so decode must reproduce them exactly from the bytes
    val img = new java.awt.image.BufferedImage(
      2, 1, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xFF0000)
    img.setRGB(1, 0, (1 << 16) | (2 << 8) | 3)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val d = ImageCodec.decode(9L, bos.toByteArray)
      .getOrElse(fail("fixture PNG did not decode"))
    assert(d.width == 2 && d.height == 1, s"${d.width}x${d.height}")
    assert(d.n_channels == 3, s"channels ${d.n_channels}")
    assert((d.sum_r, d.sum_g, d.sum_b) == ((256L, 2L, 3L)),
      s"sums (${d.sum_r}, ${d.sum_g}, ${d.sum_b})")
    // corrupt payloads drop instead of throwing
    assert(ImageCodec.decode(1L, "not a png".getBytes("UTF-8")).isEmpty)
    assert(ImageCodec.decode(2L, Array.empty[Byte]).isEmpty)
  }

  test("mm_image_resize: downsampled stats match the planted formula at stride 2") {
    val rows = graft.queries.Multimodal.imageResize.run(spark, sf).collect()
    val nDocs = graft.sources.Tables.documents(spark, sf).count()
    assert(rows.length == nDocs, s"${rows.length} decoded != $nDocs docs")
    rows.foreach { r =>
      val id = r.getLong(0)
      val (w, h) = ((4 + id % 5).toInt, (3 + id % 4).toInt)
      val (wo, ho) = ((w + 1) / 2, (h + 1) / 2)
      assert(r.getInt(1) == wo && r.getInt(2) == ho,
        s"doc $id geometry ${r.getInt(1)}x${r.getInt(2)} != ${wo}x$ho")
      // NN at stride 2 keeps exactly the even-coordinate pixels of
      // the planted image — recompute their band sums directly
      def sum(f: (Int, Int) => Long): Long =
        (for { y <- 0 until ho; x <- 0 until wo }
          yield f(2 * x, 2 * y) % 256).sum
      assert(r.getLong(4) == sum((x, y) => 7 * id + 13 * x + 31 * y), s"doc $id r")
      assert(r.getLong(5) == sum((x, y) => 3 * id + 5 * x + 11 * y), s"doc $id g")
      assert(r.getLong(6) == sum((x, y) => id + x + y), s"doc $id b")
    }
  }

  test("audio decode recovers hand-assembled RIFF/PCM fixture stats from WAV bytes") {
    import graft.multimodal.Binary.AudioCodec
    // hand-assemble the RIFF container (independent of the JDK's
    // writer): mono 16-bit PCM at 8000 Hz, samples [1000, -2, 3] —
    // sum = 1001, sum_abs = 1005
    val samples = Seq(1000, -2, 3)
    val dataSize = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(8000).putInt(16000)
      .putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataSize)
    samples.foreach(s => bb.putShort(s.toShort))
    val d = AudioCodec.decode(9L, bb.array())
      .getOrElse(fail("fixture WAV did not decode"))
    assert(d.sample_rate == 8000 && d.n_channels == 1 && d.bits == 16,
      s"${d.sample_rate}/${d.n_channels}/${d.bits}")
    assert(d.n_samples == 3, s"n_samples ${d.n_samples}")
    assert((d.sum_samples, d.sum_abs) == ((1001L, 1005L)),
      s"sums (${d.sum_samples}, ${d.sum_abs})")
    // corrupt payloads drop instead of throwing
    assert(AudioCodec.decode(1L, "not a wav".getBytes("UTF-8")).isEmpty)
    assert(AudioCodec.decode(2L, Array.empty[Byte]).isEmpty)
    assert(AudioCodec.decode(3L, bb.array().take(20)).isEmpty)
  }

  test("mm_audio_decode matches the planted-sample-formula recompute per doc") {
    import graft.multimodal.Binary.AudioCodec
    val rows = graft.queries.Multimodal.audioDecode.run(spark, sf).collect()
    val nDocs = graft.sources.Tables.documents(spark, sf).count()
    assert(rows.length == nDocs, s"${rows.length} decoded != $nDocs docs")
    rows.foreach { r =>
      val id = r.getLong(0)
      val n = (64 + id % 97).toInt
      assert(r.getInt(1) == 8000 && r.getInt(2) == 1 && r.getInt(3) == 16,
        s"doc $id format ${r.getInt(1)}/${r.getInt(2)}/${r.getInt(3)}")
      assert(r.getLong(4) == n, s"doc $id n_samples ${r.getLong(4)} != $n")
      // independent recompute of the planted sample sums
      val vals = (0 until n).map(AudioCodec.plantedSample(id, _))
      assert(r.getLong(5) == vals.map(_.toLong).sum, s"doc $id sum")
      assert(r.getLong(6) == vals.map(v => math.abs(v.toLong)).sum,
        s"doc $id sum_abs")
    }
  }

  test("per-thread readers decode a mixed partition exactly as ImageIO does, dropping garbage") {
    import graft.multimodal.Binary.{ImageCodec, VideoCodec}
    import spark.implicits._
    val rgb = new java.awt.image.BufferedImage(
      5, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 20).foreach(i => rgb.setRGB(i % 5, i / 5, i * 0x0A0B0C))
    val jpg = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(rgb, "jpg", jpg)
    val png = ImageCodec.plantedPng(3L, 6, 5)
    // PNG and GIF payloads around payloads their fast readers reject:
    // each rejection must leave the thread's reader decoding the next
    // payload exactly
    val payloads = Seq(ImageCodec.plantedPng(1L, 4, 3),
      "garbage".getBytes("UTF-8"), png.take(40), ImageCodec.plantedPng(2L, 3, 7),
      jpg.toByteArray, VideoCodec.plantedGif(4L, 3, 2, 2), Array.empty[Byte],
      png, VideoCodec.plantedGif(5L, 2, 3, 3), jpg.toByteArray.take(50), png)
    val df = payloads.zipWithIndex.map { case (b, i) => (i.toLong, b) }
      .toDF("doc_id", "data").coalesce(1)
    // the reference: a fresh discovered ImageIO reader per payload
    def frames(b: Array[Byte]): Seq[java.awt.image.BufferedImage] =
      try {
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(b))
        val it = javax.imageio.ImageIO.getImageReaders(iis)
        if (!it.hasNext) Nil
        else {
          val r = it.next(); r.setInput(iis)
          (0 until r.getNumImages(true)).map(r.read(_))
        }
      } catch { case scala.util.control.NonFatal(_) => Nil }
    def pixels(img: java.awt.image.BufferedImage) =
      for (y <- 0 until img.getHeight; x <- 0 until img.getWidth)
        yield img.getRGB(x, y)
    val wantImages = payloads.zipWithIndex.flatMap { case (b, i) =>
      frames(b).headOption.map { img =>
        val px = pixels(img)
        (i.toLong, img.getWidth, img.getHeight,
          img.getColorModel.getNumComponents,
          px.map(p => ((p >> 16) & 0xFF).toLong).sum,
          px.map(p => ((p >> 8) & 0xFF).toLong).sum,
          px.map(p => (p & 0xFF).toLong).sum)
      }
    }.toSet
    val gotImages = ImageCodec.decodeImages(spark, df).collect()
      .map(d => (d.doc_id, d.width, d.height, d.n_channels, d.sum_r,
        d.sum_g, d.sum_b)).toSet
    assert(gotImages == wantImages)
    val decodable = wantImages.map(_._1)
    assert(Set(0L, 3L, 4L, 5L, 7L, 8L, 10L).subsetOf(decodable) &&
      !decodable(1L) && !decodable(6L),
      s"the fixture must mix decodable and garbage payloads: $decodable")
    val wantFrames = payloads.zipWithIndex.flatMap { case (b, i) =>
      frames(b).zipWithIndex.map { case (img, f) =>
        (i.toLong, f, img.getWidth, img.getHeight,
          pixels(img).map(p => (p & 0xFF).toLong).sum)
      }
    }.toSet
    val gotFrames = VideoCodec.decodeVideos(spark, df).collect()
      .map(f => (f.doc_id, f.frame_id, f.width, f.height, f.sum_gray)).toSet
    assert(gotFrames == wantFrames)
  }

  test("video decode: animated-GIF frames round-trip the indexed palette exactly") {
    import graft.multimodal.Binary.VideoCodec
    // 3-frame 2x2 fixture through the planted writer, decoded back:
    // frame count, geometry, and the per-frame formula sums
    val frames = VideoCodec.decodeFrames(5L, VideoCodec.plantedGif(5L, 2, 2, 3))
    assert(frames.length == 3, s"${frames.length} frames")
    frames.foreach { f =>
      assert(f.width == 2 && f.height == 2, s"${f.width}x${f.height}")
      val want = (for { y <- 0 until 2; x <- 0 until 2 }
        yield (5L + 13 * x + 31 * y + 7 * f.frame_id) % 256).sum
      assert(f.sum_gray == want, s"frame ${f.frame_id}: ${f.sum_gray} != $want")
    }
    // corrupt payloads drop instead of throwing
    assert(VideoCodec.decodeFrames(1L, "not a gif".getBytes("UTF-8")).isEmpty)
    assert(VideoCodec.decodeFrames(2L, Array.empty[Byte]).isEmpty)
  }

  test("mm_video_frames matches the planted-formula recompute per frame") {
    val rows = graft.queries.Multimodal.videoFrames.run(spark, sf).collect()
    val nDocs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id").collect().map(_.getLong(0))
    assert(rows.length == nDocs.map(id => (2 + id % 4).toInt).sum,
      "one row per planted frame")
    rows.foreach { r =>
      val id = r.getLong(0)
      val fi = r.getInt(1)
      val (w, h) = ((4 + id % 5).toInt, (3 + id % 4).toInt)
      assert(fi < (2 + id % 4).toInt, s"doc $id stray frame $fi")
      assert(r.getInt(2) == w && r.getInt(3) == h,
        s"doc $id geometry ${r.getInt(2)}x${r.getInt(3)} != ${w}x$h")
      val want = (for { y <- 0 until h; x <- 0 until w }
        yield (id + 13 * x + 31 * y + 7 * fi) % 256).sum
      assert(r.getLong(4) == want, s"doc $id frame $fi sum")
    }
  }

  test("mm_image_decode matches the planted-formula recompute per doc") {
    val rows = graft.queries.Multimodal.imageDecode.run(spark, sf).collect()
    val nDocs = graft.sources.Tables.documents(spark, sf).count()
    assert(rows.length == nDocs, s"${rows.length} decoded != $nDocs docs")
    rows.foreach { r =>
      val id = r.getLong(0)
      val (w, h) = ((4 + id % 5).toInt, (3 + id % 4).toInt)
      assert(r.getInt(1) == w && r.getInt(2) == h,
        s"doc $id geometry ${r.getInt(1)}x${r.getInt(2)} != ${w}x$h")
      // independent recompute of the planted per-band sums
      def sum(f: (Int, Int) => Long): Long =
        (for { y <- 0 until h; x <- 0 until w } yield f(x, y) % 256).sum
      assert(r.getLong(4) == sum((x, y) => 7 * id + 13 * x + 31 * y), s"doc $id r")
      assert(r.getLong(5) == sum((x, y) => 3 * id + 5 * x + 11 * y), s"doc $id g")
      assert(r.getLong(6) == sum((x, y) => id + x + y), s"doc $id b")
    }
  }

  test("mm_image_dedup finds exactly the planted brightness-shifted copies") {
    val rows = graft.queries.Multimodal.imageDedup.run(spark, sf).collect()
    spark.catalog.clearCache()
    val ids = graft.sources.Tables.documents(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val want = ids.filter(id => id % 7 == 3 && ids.contains(id - 1))
      .map(id => (id - 1, id))
    val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
    // a +12 global shift with no clipping preserves every gradient
    // sign, so the planted copies sit at Hamming distance exactly 0
    rows.foreach(r => assert(r.getLong(2) == 0L,
      s"planted copy pair $r not at Hamming 0"))
    assert(want.nonEmpty, "corpus too small to plant any pair")
  }

  test("mm_image_dedup_phash agrees with dHash on the planted pairs") {
    val rows = graft.queries.Multimodal.imageDedupPhash.run(spark, sf)
      .collect()
    spark.catalog.clearCache()
    val ids = graft.sources.Tables.documents(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val want = ids.filter(id => id % 7 == 3 && ids.contains(id - 1))
      .map(id => (id - 1, id))
    val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    // every planted brightness re-encode must surface at Hamming 0
    // (constant shift moves only the DC coefficient, excluded from
    // the AC mean); pseudorandom rasters may rarely collide within
    // the <=3 verify, so planted ⊆ got rather than set equality
    assert(want.subsetOf(got), s"missing=${want -- got}")
    val byPair = rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    want.foreach(p => assert(byPair(p) == 0L, s"planted pair $p not at 0"))
    assert(want.nonEmpty, "corpus too small to plant any pair")
  }

  test("pHash: exact brightness invariance; spectral vs gradient " +
      "independence on unrelated rasters") {
    import graft.multimodal.Binary.ImageCodec
    val base = ImageCodec.plantedPngMixed(91L, 15, 11, 0)
    val brighter = ImageCodec.plantedPngMixed(91L, 15, 11, 12)
    val i1 = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(base))
    val i2 = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(brighter))
    // exact law: constant shift moves only DC, excluded from the mean
    assert(ImageCodec.pHash(i1) == ImageCodec.pHash(i2))
    // unrelated seeds land far apart in the spectral space too
    val other = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      ImageCodec.plantedPngMixed(92L, 15, 11, 0)))
    assert(java.lang.Long.bitCount(
      ImageCodec.pHash(i1) ^ ImageCodec.pHash(other)) > 3)
    // corrupt payloads drop, never throw
    import spark.implicits._
    val bad = Seq((1L, Array[Byte](1, 2, 3))).toDF("doc_id", "data")
    assert(ImageCodec.pHashImages(spark, bad).count() == 0)
  }

  test("dHash: brightness-shift invariance and corrupt-payload drop") {
    import graft.multimodal.Binary.ImageCodec
    // shifted copy: every encoded byte differs, fingerprint identical
    val base = ImageCodec.plantedPngMixed(77L, 14, 10, 0)
    val brighter = ImageCodec.plantedPngMixed(77L, 14, 10, 12)
    assert(!java.util.Arrays.equals(base, brighter))
    val img1 = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(base))
    val img2 = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(brighter))
    assert(ImageCodec.dHash(img1) == ImageCodec.dHash(img2))
    // unrelated seeds land far apart — banded LSH can't false-verify
    val other = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      ImageCodec.plantedPngMixed(78L, 14, 10, 0)))
    assert(java.lang.Long.bitCount(
      ImageCodec.dHash(img1) ^ ImageCodec.dHash(other)) > 3)
    // corrupt payloads drop from the batched hash stage, not throw
    import spark.implicits._
    val bad = Seq((1L, base), (2L, base.take(19)), (3L, Array[Byte](1, 2, 3)))
      .toDF("doc_id", "data")
    val kept = ImageCodec.hashImages(spark, bad).collect()
    assert(kept.map(_.getLong(0)).toSet == Set(1L),
      "corrupt payloads must drop silently")
  }

  test("mm_audio_dedup finds exactly the planted gain-2 re-masters") {
    val rows = graft.queries.Multimodal.audioDedup.run(spark, sf).collect()
    spark.catalog.clearCache()
    val ids = graft.sources.Tables.documents(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val want = ids.filter(id => id % 9 == 5 && ids.contains(id - 1))
      .map(id => (id - 1, id))
    val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
    // exact gain doubling scales every window energy 2x — every
    // envelope gradient sign survives, so Hamming distance is 0
    rows.foreach(r => assert(r.getLong(2) == 0L,
      s"planted re-master pair $r not at Hamming 0"))
    assert(want.nonEmpty, "corpus too small to plant any pair")
  }

  test("audio fingerprint: gain invariance, unrelated clips far, short/corrupt drop") {
    import graft.multimodal.Binary.AudioCodec
    import spark.implicits._
    val base = AudioCodec.plantedWavMixed(55L, 500, 8000, gain = 1)
    val loud = AudioCodec.plantedWavMixed(55L, 500, 8000, gain = 2)
    assert(!java.util.Arrays.equals(base, loud))
    def fp(b: Array[Byte]): Long =
      AudioCodec.fingerprintAudios(spark,
        Seq((1L, b)).toDF("doc_id", "data")).head().getLong(1)
    assert(fp(base) == fp(loud), "gain-2 re-master must fingerprint identically")
    val other = AudioCodec.plantedWavMixed(56L, 500, 8000, gain = 1)
    assert(java.lang.Long.bitCount(fp(base) ^ fp(other)) > 3,
      "unrelated clips must land far apart")
    // too-short (no stable envelope) and corrupt payloads drop
    val bad = Seq(
      (1L, base),
      (2L, AudioCodec.plantedWavMixed(57L, 40, 8000, gain = 1)), // < 65 samples
      (3L, Array[Byte](82, 73, 70, 70, 0, 0))) // truncated RIFF
      .toDF("doc_id", "data")
    val kept = AudioCodec.fingerprintAudios(spark, bad).collect()
    assert(kept.map(_.getLong(0)).toSet == Set(1L),
      "short/corrupt payloads must drop silently")
  }

  test("mm_video_dedup finds exactly the planted brightness-shifted re-encodes") {
    val rows = graft.queries.Multimodal.videoDedup.run(spark, sf).collect()
    spark.catalog.clearCache()
    val ids = graft.sources.Tables.documents(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val want = ids.filter(id => id % 11 == 4 && ids.contains(id - 1))
      .map(id => (id - 1, id))
    val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
    // a +9 global brightness shift with no wrap moves every frame sum
    // by the same w·h·9 — every temporal delta sign survives, so the
    // planted re-encodes sit at Hamming distance exactly 0
    rows.foreach(r => assert(r.getLong(2) == 0L,
      s"planted re-encode pair $r not at Hamming 0"))
    assert(want.nonEmpty, "corpus too small to plant any pair")
  }

  test("video fingerprint: shift invariance, unrelated clips far, short/corrupt drop") {
    import graft.multimodal.Binary.VideoCodec
    import spark.implicits._
    val n = VideoCodec.FingerprintFrames
    val base = VideoCodec.plantedGifMixed(91L, 6, 5, n, 0)
    val brighter = VideoCodec.plantedGifMixed(91L, 6, 5, n, 9)
    assert(!java.util.Arrays.equals(base, brighter))
    def fp(b: Array[Byte]): Long =
      VideoCodec.fingerprintVideos(spark,
        Seq((1L, b)).toDF("doc_id", "data")).head().getLong(1)
    assert(fp(base) == fp(brighter),
      "brightness-shifted re-encode must fingerprint identically")
    val other = VideoCodec.plantedGifMixed(92L, 6, 5, n, 0)
    assert(java.lang.Long.bitCount(fp(base) ^ fp(other)) > 3,
      "unrelated clips must land far apart")
    // odd frame width: the half-difference excludes the middle
    // column, so shift invariance holds there too
    assert(fp(VideoCodec.plantedGifMixed(94L, 7, 5, n, 0)) ==
      fp(VideoCodec.plantedGifMixed(94L, 7, 5, n, 9)),
      "odd-width shift invariance")
    // clips too short for 64 transition bits and corrupt payloads drop
    val bad = Seq(
      (1L, base),
      (2L, VideoCodec.plantedGifMixed(93L, 6, 5, n - 1, 0)), // 64 frames
      (3L, base.take(25)),
      (4L, Array[Byte](1, 2, 3)))
      .toDF("doc_id", "data")
    val kept = VideoCodec.fingerprintVideos(spark, bad).collect()
    assert(kept.map(_.getLong(0)).toSet == Set(1L),
      "short/corrupt payloads must drop silently")
  }
}
