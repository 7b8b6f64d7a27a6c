package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: payloads (image/audio/video) travel as
  * `binary` columns with typed metadata, and decode/feature-extract
  * runs as a *batched* per-partition stage — the Scala analogue of
  * mapInPandas: one iterator in, one iterator out, no per-row
  * interpreter round trips, schema declared up front.
  *
  * IMAGE decode is REAL: [[ImageCodec]] goes through javax.imageio,
  * whose PNG/BMP/GIF readers ship inside the JDK — no external
  * libraries. Audio/video codecs remain STUBBED (no such libraries in
  * this container): [[StubDecoder.decode]] derives deterministic
  * features from the raw bytes. A real deployment swaps only the stub
  * function; the Spark plumbing — binary column, batch iterator,
  * output schema, partition-preserving shape — is exactly what ships.
  */
object Binary {

  /** splitmix64-style finalizer shared by the planted perceptual-dedup
    * generators (image rasters, audio envelopes): both need
    * pseudorandom payloads so unrelated items land ~32 Hamming bits
    * apart, and the decorrelation argument must not fork across two
    * private copies. */
  private def mix64(z0: Long): Long = {
    var z = z0
    z ^= z >>> 33; z *= 0xFF51AFD7ED558CCDL
    z ^= z >>> 33; z *= 0xC4CEB9FE1A85EC53L
    z ^= z >>> 33
    z
  }

  /** `use` on this thread's reader bound to `payload`; None when the
    * reader rejects the bytes. A rejected (wrong-format, corrupt)
    * payload leaves the reader reusable — setInput resets it — so only
    * a fatal error disposes the handle and drops it from the thread. */
  private def threadRead[T](tl: ThreadLocal[javax.imageio.ImageReader],
      payload: Array[Byte])(use: javax.imageio.ImageReader => T): Option[T] = {
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(payload))
    val r = tl.get()
    try { r.setInput(iis); Some(use(r)) }
    catch {
      case scala.util.control.NonFatal(_) => None
      case t: Throwable => r.dispose(); tl.remove(); throw t
    } finally iis.close()
  }

  /** One decoded image: dimensions, channel count, and exact per-band
    * pixel sums (integers, so the feature row is bit-deterministic —
    * PNG is lossless and getRGB is exact sRGB). */
  final case class DecodedImage(doc_id: Long, width: Int, height: Int,
      n_channels: Int, sum_r: Long, sum_g: Long, sum_b: Long)

  /** Pure-JVM image codec (javax.imageio). */
  object ImageCodec {

    /** Read one payload into a raster; None when no JDK reader claims
      * the bytes OR a reader blows up on malformed input — JDK
      * ImageIO readers throw RuntimeExceptions (AIOOBE in the GIF
      * reader, NegativeArraySize in BMP) on crafted/truncated files,
      * and a per-row failure must not kill the partition (a 100 TB
      * crawl WILL contain corrupt images). */
    // Per-thread codec handles (guide §4.5): service lookup + codec
    // construction once per executor thread, reused across every
    // payload the thread touches; a writer that throws is dropped so
    // a poisoned instance can't leak (readers: see threadRead). The corpus
    // format is PNG; anything else falls back to full ImageIO
    // discovery, preserving the multi-format + corrupt-drop contract.
    private val pngWriterTL =
      ThreadLocal.withInitial[javax.imageio.ImageWriter](() =>
        javax.imageio.ImageIO.getImageWritersByFormatName("png").next())
    private val pngReaderTL =
      ThreadLocal.withInitial[javax.imageio.ImageReader](() =>
        javax.imageio.ImageIO.getImageReadersByFormatName("png").next())

    /** PNG-encode through the per-thread writer — byte-identical to
      * ImageIO.write(img, "png", …) (same JDK PNGImageWriter, default
      * param/metadata), minus the per-call registry scan and writer
      * construction. */
    private def encodePng(img: java.awt.image.BufferedImage): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val writer = pngWriterTL.get()
      // direct MemoryCache stream: ImageIO.createImageOutputStream
      // consults a SYNCHRONIZED SPI registry per call and, with the
      // default useCache=true, returns a FILE-backed stream — a temp
      // file created and deleted per payload, and lock contention
      // once the codec work spreads across 32 tasks (measured: the
      // id-spine repartition made the family SLOWER until this)
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
      try writer.setOutput(ios)
      catch { case t: Throwable => ios.close(); pngWriterTL.remove(); throw t }
      try writer.write(img)
      catch { case t: Throwable => pngWriterTL.remove(); throw t }
      finally ios.close()
      bos.toByteArray
    }

    private def readImage(
        payload: Array[Byte]): Option[java.awt.image.BufferedImage] =
      try {
        threadRead(pngReaderTL, payload)(r => Option(r.read(0))).flatten
          .orElse(Option(javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(payload))))
      } catch { case scala.util.control.NonFatal(_) => None }

    /** Exact integer per-band sums over a raster — the one stats
      * kernel both decode paths share. */
    private def bandSums(
        img: java.awt.image.BufferedImage): (Long, Long, Long) = {
      var sr = 0L; var sg = 0L; var sb = 0L
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) {
          val rgb = img.getRGB(x, y)
          sr += (rgb >> 16) & 0xFF; sg += (rgb >> 8) & 0xFF
          sb += rgb & 0xFF
          x += 1
        }
        y += 1
      }
      (sr, sg, sb)
    }

    private def stats(docId: Long,
        img: java.awt.image.BufferedImage): DecodedImage = {
      val (sr, sg, sb) = bandSums(img)
      DecodedImage(docId, img.getWidth, img.getHeight,
        img.getColorModel.getNumComponents, sr, sg, sb)
    }

    /** Decode one payload to its stats row; None on undecodable. */
    def decode(docId: Long, payload: Array[Byte]): Option[DecodedImage] =
      readImage(payload).map(stats(docId, _))

    /** Deterministic planted RGB PNG: pixel (x, y) of image `seed` is
      * (r, g, b) = ((7·seed + 13·x + 31·y) mod 256, (3·seed + 5·x +
      * 11·y) mod 256, (seed + x + y) mod 256). The formula is the
      * spec's independent recompute target; the PNG round trip is
      * lossless, so decode must reproduce these values exactly. */
    def plantedPng(seed: Long, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          img.setRGB(x, y, (plantedBand(7 * seed + 13 * x + 31 * y) << 16)
            | (plantedBand(3 * seed + 5 * x + 11 * y) << 8)
            | plantedBand(seed + x + y))
          x += 1
        }
        y += 1
      }
      encodePng(img)
    }

    private def plantedBand(v: Long): Int = (v % 256).toInt & 0xFF

    /** Batched decode over (doc_id, data) — same mapPartitions shape
      * as decodeBatch; undecodable payloads drop out (flatMap). */
    def decodeImages(s: SparkSession,
        payloads: DataFrame): Dataset[DecodedImage] = {
      import s.implicits._
      payloads.select(col("doc_id"), col("data")).as[(Long, Array[Byte])]
        .mapPartitions { batch =>
          // per-partition init point (ImageIO scans its reader
          // registry once per JVM; nothing else to set up)
          batch.flatMap { case (id, bytes) => decode(id, bytes) }
        }
    }

    /** Nearest-neighbor integer-factor downsample on a decoded
      * raster: out(x, y) = in(x·f, y·f), output dims = ceil(dim/f) —
      * the defined kernel MultimodalSpec recomputes from the planted
      * formula. Runs on the executor inside the same batch stage as
      * the decode; a real deployment swaps the kernel (bilinear,
      * Lanczos) inside the identical decode→kernel→stats shape. */
    def resizeNn(img: java.awt.image.BufferedImage,
        f: Int): java.awt.image.BufferedImage = {
      val w = (img.getWidth + f - 1) / f
      val h = (img.getHeight + f - 1) / f
      val out = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          out.setRGB(x, y, img.getRGB(x * f, y * f))
          x += 1
        }
        y += 1
      }
      out
    }

    /** Decode + NN-downsample + stats in one batched stage — the same
      * readImage/bandSums kernels as decode, with the resize kernel
      * between them. */
    def decodeResized(s: SparkSession, payloads: DataFrame,
        f: Int): Dataset[DecodedImage] = {
      import s.implicits._
      payloads.select(col("doc_id"), col("data")).as[(Long, Array[Byte])]
        .mapPartitions(_.flatMap { case (id, bytes) =>
          readImage(bytes).map(img => stats(id, resizeNn(img, f)))
        })
    }

    /** 64-bit difference hash (dHash) of a decoded raster — the
      * classic perceptual fingerprint (Krawetz's aHash/dHash family):
      * sample the image on a 9x8 nearest-neighbor grid, take the
      * integer gray sum (r+g+b) per cell, and set bit y*8+x iff
      * gray(x+1, y) > gray(x, y). The hash encodes horizontal
      * gradient SIGNS, so any global monotone brightness change that
      * preserves per-pair ordering (e.g. a constant shift with no
      * clipping) leaves it bit-identical while changing every byte of
      * the encoded file — the case content-hash dedup can never
      * catch. */
    def dHash(img: java.awt.image.BufferedImage): Long = {
      val w = img.getWidth; val h = img.getHeight
      def gray(cx: Int, cy: Int): Int = {
        val rgb = img.getRGB(cx * w / 9, cy * h / 8)
        ((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)
      }
      var bits = 0L
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) {
          if (gray(x + 1, y) > gray(x, y)) bits |= 1L << (y * 8 + x)
          x += 1
        }
        y += 1
      }
      bits
    }

    /** Batched decode→dHash over (doc_id, data); undecodable payloads
      * drop (flatMap), never killing the partition. */
    def hashImages(s: SparkSession, payloads: DataFrame): DataFrame = {
      import s.implicits._
      payloads.select(col("doc_id"), col("data")).as[(Long, Array[Byte])]
        .mapPartitions(_.flatMap { case (id, bytes) =>
          readImage(bytes).map(img => (id, dHash(img)))
        }).toDF("doc_id", "dhash")
    }

    private val PhashN = 32
    // cos((2i+1)·u·π / 2N) — the DCT-II basis, shared by both passes
    private lazy val dctCos: Array[Array[Double]] = {
      val t = Array.ofDim[Double](PhashN, PhashN)
      var i = 0
      while (i < PhashN) {
        var u = 0
        while (u < PhashN) {
          t(i)(u) = math.cos((2 * i + 1) * u * math.Pi / (2.0 * PhashN))
          u += 1
        }
        i += 1
      }
      t
    }

    /** 64-bit pHash: 32x32 nearest-sampled grayscale → 2-D DCT-II
      * (two separable 1-D passes) → the low-frequency 8x8 block,
      * each bit = coefficient > the block's AC mean (DC excluded).
      * The spectral complement of dHash's gradient signs: dHash keys
      * on LOCAL edges (robust to global brightness), pHash keys on
      * the GLOBAL low-frequency structure (robust to high-frequency
      * noise/sharpening that flips local gradients). Brightness-shift
      * invariance is exact by construction — a constant pixel shift
      * moves only the DC coefficient, which the AC mean excludes. */
    def pHash(img: java.awt.image.BufferedImage): Long = {
      val n = PhashN
      val w = img.getWidth; val h = img.getHeight
      val g = Array.ofDim[Double](n, n)
      var y = 0
      while (y < n) {
        var x = 0
        while (x < n) {
          val rgb = img.getRGB(x * w / n, y * h / n)
          g(y)(x) = ((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)
          x += 1
        }
        y += 1
      }
      // rows pass: tmp(y)(u) = Σ_x g(y)(x)·cos_x,u  (only u < 8 needed)
      val tmp = Array.ofDim[Double](n, 8)
      y = 0
      while (y < n) {
        var u = 0
        while (u < 8) {
          var s = 0.0; var x = 0
          while (x < n) { s += g(y)(x) * dctCos(x)(u); x += 1 }
          tmp(y)(u) = s
          u += 1
        }
        y += 1
      }
      // cols pass: d(v)(u) = Σ_y tmp(y)(u)·cos_y,v  (v < 8)
      val d = Array.ofDim[Double](8, 8)
      var v = 0
      while (v < 8) {
        var u = 0
        while (u < 8) {
          var s = 0.0; var yy = 0
          while (yy < n) { s += tmp(yy)(u) * dctCos(yy)(v); yy += 1 }
          d(v)(u) = s
          u += 1
        }
        v += 1
      }
      var sum = 0.0
      v = 0
      while (v < 8) {
        var u = 0
        while (u < 8) { if (v != 0 || u != 0) sum += d(v)(u); u += 1 }
        v += 1
      }
      val mean = sum / 63.0
      var bits = 0L
      v = 0
      while (v < 8) {
        var u = 0
        while (u < 8) {
          if (d(v)(u) > mean) bits |= 1L << (v * 8 + u)
          u += 1
        }
        v += 1
      }
      bits
    }

    /** Batched decode→pHash; same drop-on-corrupt contract. */
    def pHashImages(s: SparkSession, payloads: DataFrame): DataFrame = {
      import s.implicits._
      payloads.select(col("doc_id"), col("data")).as[(Long, Array[Byte])]
        .mapPartitions(_.flatMap { case (id, bytes) =>
          readImage(bytes).map(img => (id, pHash(img)))
        }).toDF("doc_id", "phash")
    }

    /** Deterministic pseudorandom planted PNG for the perceptual-dedup
      * corpus: channel c of pixel (x, y) is mix(seed, x, y, c) mod 240
      * plus `shift`. Base values stay under 240, so a shift up to 15
      * never clips — a shifted copy is a strictly brighter image with
      * EVERY file byte different and, because dHash compares gradient
      * signs, a bit-identical fingerprint. */
    def plantedPngMixed(seed: Long, w: Int, h: Int,
        shift: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      def band(c: Int, x: Int, y: Int): Int =
        (java.lang.Math.floorMod(
          mix64(seed * 1000003L + x * 9176L + y * 131L + c),
          240L) + shift).toInt
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          img.setRGB(x, y,
            (band(0, x, y) << 16) | (band(1, x, y) << 8) | band(2, x, y))
          x += 1
        }
        y += 1
      }
      encodePng(img)
    }
  }

  /** One decoded audio clip: container metadata plus exact integer
    * sample stats (PCM is lossless, so sum/sum-of-abs over the 16-bit
    * samples are bit-deterministic recompute targets). `n_samples`
    * counts TOTAL samples across channels — the same population the
    * sums range over, so mean = sum_samples / n_samples is well-typed
    * for any channel count (per-channel frames = n_samples /
    * n_channels). */
  final case class DecodedAudio(doc_id: Long, sample_rate: Int,
      n_channels: Int, bits: Int, n_samples: Long, sum_samples: Long,
      sum_abs: Long)

  /** Pure-JVM audio codec — javax.sound.sampled, whose WAV/PCM reader
    * ships inside the JDK (no external libraries). The audio half of
    * the "codecs stubbed" disclaimer no longer applies; video remains
    * the documented stub. */
  object AudioCodec {

    /** Parse one payload's WAV container + PCM frames; None when the
      * bytes aren't a readable WAV OR the reader blows up on malformed
      * input — a per-row failure must not kill the partition (a 100 TB
      * crawl WILL contain corrupt clips). Only 16-bit PCM is summed
      * (the planted format); other depths return metadata with zeroed
      * sums rather than silently-wrong ones. */
    def decode(docId: Long, payload: Array[Byte]): Option[DecodedAudio] =
      try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(payload))
        try {
          val fmt = in.getFormat
          val bits = fmt.getSampleSizeInBits
          val ch = fmt.getChannels
          val bytes = in.readAllBytes()
          var i = 0; var n = 0L; var sum = 0L; var sabs = 0L
          if (bits == 16) {
            val be = fmt.isBigEndian
            while (i + 1 < bytes.length) {
              val lo = bytes(if (be) i + 1 else i) & 0xFF
              val hi = bytes(if (be) i else i + 1).toInt
              val s = (hi << 8) | lo // sign-extends through hi
              n += 1; sum += s; sabs += math.abs(s)
              i += 2
            }
          }
          Some(DecodedAudio(docId, fmt.getSampleRate.toInt, ch, bits,
            n, sum, sabs))
        } finally in.close()
      } catch { case scala.util.control.NonFatal(_) => None }

    /** Deterministic planted mono 16-bit PCM WAV: sample i of clip
      * `seed` is ((seed · 31 + i · 7919) mod 65536) − 32768 — the
      * spec's independent recompute target. Written through the JDK's
      * own WAVE writer (the plantedPng pattern), so decode genuinely
      * parses the RIFF container + fmt chunk from the bytes. */
    def plantedWav(seed: Long, nSamples: Int, sampleRate: Int): Array[Byte] = {
      val pcm = new Array[Byte](nSamples * 2)
      var i = 0
      while (i < nSamples) {
        val s = plantedSample(seed, i)
        pcm(2 * i) = (s & 0xFF).toByte // little-endian
        pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
        i += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(
        sampleRate.toFloat, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, nSamples.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }

    def plantedSample(seed: Long, i: Int): Int =
      (((seed * 31 + i.toLong * 7919) % 65536).toInt + 65536) % 65536 - 32768

    /** Batched decode over (doc_id, data) — the same mapPartitions
      * shape as ImageCodec.decodeImages; undecodable payloads drop
      * out (flatMap). */
    def decodeAudios(s: SparkSession,
        payloads: DataFrame): Dataset[DecodedAudio] = {
      import s.implicits._
      payloads.select(col("doc_id"), col("data")).as[(Long, Array[Byte])]
        .mapPartitions(_.flatMap { case (id, bytes) => decode(id, bytes) })
    }

    /** Raw 16-bit little-endian samples of one payload (mono PCM),
      * None on anything unreadable — the fingerprint path needs the
      * waveform itself, not just its sums. */
    private def readSamples(payload: Array[Byte]): Option[Array[Int]] =
      try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(payload))
        try {
          val fmt = in.getFormat
          if (fmt.getSampleSizeInBits != 16) None
          else {
            val bytes = in.readAllBytes()
            val be = fmt.isBigEndian
            val out = new Array[Int](bytes.length / 2)
            var i = 0
            while (2 * i + 1 < bytes.length) {
              val lo = bytes(if (be) 2 * i + 1 else 2 * i) & 0xFF
              val hi = bytes(if (be) 2 * i else 2 * i + 1).toInt
              out(i) = (hi << 8) | lo
              i += 1
            }
            Some(out)
          }
        } finally in.close()
      } catch { case scala.util.control.NonFatal(_) => None }

    /** 64-bit energy-envelope fingerprint — the acoustic analogue of
      * ImageCodec.dHash (the sign-of-delta family behind Chromaprint
      * and Haitsma-Kalker '02, over the amplitude envelope instead of
      * chroma bins): cut the clip into 65 equal windows, take each
      * window's exact integer energy Σ|s|, and set bit w iff
      * energy(w+1) > energy(w). The fingerprint encodes envelope
      * gradient SIGNS, so any exact gain change that preserves
      * ordering (e.g. doubling with no clipping) leaves it
      * bit-identical while changing every PCM byte — the re-mastered
      * copy a content hash can never match. Clips shorter than one
      * sample per window have no stable envelope — skipped. */
    def aFingerprint(samples: Array[Int]): Option[Long] = {
      val win = 65
      if (samples.length < win) None
      else {
        val energy = new Array[Long](win)
        var w = 0
        while (w < win) {
          // Long boundary math: w * length would wrap Int past ~33M
          // samples (a 13-minute 44.1 kHz clip) and index negatively
          var i = (w.toLong * samples.length / win).toInt
          val end = ((w + 1).toLong * samples.length / win).toInt
          var e = 0L
          while (i < end) { e += math.abs(samples(i)); i += 1 }
          energy(w) = e
          w += 1
        }
        var bits = 0L
        var b = 0
        while (b < 64) {
          if (energy(b + 1) > energy(b)) bits |= 1L << b
          b += 1
        }
        Some(bits)
      }
    }

    /** Batched decode→fingerprint over (doc_id, data); unreadable or
      * too-short payloads drop (flatMap). */
    def fingerprintAudios(s: SparkSession, payloads: DataFrame): DataFrame = {
      import s.implicits._
      payloads.select(col("doc_id"), col("data")).as[(Long, Array[Byte])]
        .mapPartitions(_.flatMap { case (id, bytes) =>
          readSamples(bytes).flatMap(aFingerprint).map(fp => (id, fp))
        }).toDF("doc_id", "afp")
    }

    /** Deterministic pseudorandom planted WAV for the perceptual-dedup
      * corpus: sample i of clip `seed` is (mixA(seed, i) mod 24001 −
      * 12000) · gain. Base amplitudes stay within ±12000, so gain 2
      * never clips 16-bit — a doubled copy scales every window energy
      * exactly 2x, preserving every envelope gradient sign. */
    def plantedWavMixed(seed: Long, nSamples: Int, sampleRate: Int,
        gain: Int): Array[Byte] = {
      val pcm = new Array[Byte](nSamples * 2)
      var i = 0
      while (i < nSamples) {
        val s = (java.lang.Math.floorMod(
          mix64(seed * 6364136223846793005L + i.toLong * 1442695040888963407L),
          24001L).toInt - 12000) * gain
        pcm(2 * i) = (s & 0xFF).toByte
        pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
        i += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(
        sampleRate.toFloat, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, nSamples.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
  }

  /** One decoded video frame: frame index within its container plus
    * dimensions and the exact integer gray sum (the planted frames
    * are 8-bit indexed grayscale — palette lookup is lossless, so the
    * per-frame stats are bit-deterministic recompute targets). */
  final case class DecodedFrame(doc_id: Long, frame_id: Int, width: Int,
      height: Int, sum_gray: Long)

  /** Pure-JVM multi-frame decode — javax.imageio's JDK-shipped
    * animated-GIF reader: a REAL multi-frame container (frame
    * extraction, the access pattern every video ingest runs), no
    * external libraries. Proprietary video codecs (H.264 etc.) stay
    * out of scope — no codec libraries exist in this container — but
    * the container-parse → per-frame-decode → per-frame-stats shape
    * is the real pipeline, not a stub. */
  object VideoCodec {

    // Per-thread codec handles (guide §4.5 — initialize heavyweight
    // state once per task, not per row): the r17 noop-sink
    // decomposition (OPTIMIZATION_r17.md §5) showed the tiny planted
    // clips' cost dominated by per-call ImageIO service lookups and
    // writer/reader construction, not pixels. Executor task threads
    // are reused, so a ThreadLocal amortizes the handle across every
    // clip the thread ever touches; a writer that throws is dropped
    // so a poisoned instance can't leak (readers: see threadRead).
    private val GifGrays = Array.tabulate(256)(_.toByte)
    private val GifCm = new java.awt.image.IndexColorModel(
      8, 256, GifGrays, GifGrays, GifGrays)
    private val gifWriterTL =
      ThreadLocal.withInitial[javax.imageio.ImageWriter](() =>
        javax.imageio.ImageIO.getImageWritersByFormatName("gif").next())
    private val gifReaderTL =
      ThreadLocal.withInitial[javax.imageio.ImageReader](() =>
        javax.imageio.ImageIO.getImageReadersByFormatName("gif").next())

    /** Run `use` with a reader bound to the payload: the per-thread
      * GIF reader first (the corpus container — no service-registry
      * scan per clip), full ImageIO discovery as the fallback for any
      * other JDK-readable container, `empty` on corrupt/unclaimed
      * payloads — the same drop-per-row contract as before (a 100 TB
      * crawl WILL contain corrupt clips; they must never kill the
      * partition). An `empty` fast result falls back too: the GIF
      * reader counts zero frames in a non-GIF container. */
    private def withReader[T](payload: Array[Byte], empty: T)(
        use: javax.imageio.ImageReader => T): T =
      try {
        threadRead(gifReaderTL, payload)(use).filter(_ != empty).getOrElse {
          val iis2 = new javax.imageio.stream.MemoryCacheImageInputStream(
            new java.io.ByteArrayInputStream(payload))
          try {
            val readers = javax.imageio.ImageIO.getImageReaders(iis2)
            if (!readers.hasNext) empty
            else {
              val r = readers.next()
              try { r.setInput(iis2); use(r) }
              finally r.dispose()
            }
          } finally iis2.close()
        }
      } catch { case scala.util.control.NonFatal(_) => empty }

    /** One GIF clip through the per-thread writer: the palette model,
      * writer instance and ONE reused frame raster are amortized
      * across clips; writeToSequence encodes synchronously, so
      * mutating the raster between frames is safe. Byte-identical
      * output to the old fresh-writer-per-clip form (same JDK PNG...
      * GIF writer, same disabled-interlace param, same palette). */
    private def writeGifFrames(w: Int, h: Int, nFrames: Int)(
        pixel: (Int, Int, Int) => Int): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val writer = gifWriterTL.get()
      // direct MemoryCache stream: ImageIO.createImageOutputStream
      // consults a SYNCHRONIZED SPI registry per call and, with the
      // default useCache=true, returns a FILE-backed stream — a temp
      // file created and deleted per payload, and lock contention
      // once the codec work spreads across 32 tasks (measured: the
      // id-spine repartition made the family SLOWER until this)
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
      try {
        writer.setOutput(ios)
        // the JDK GIF writer INTERLACES by default, and its own reader
        // hands interlaced frames back row-permuted — write plain
        // scan-order frames (measured: 3-row frame came back
        // [r0, 0s, r1] without this)
        val param = writer.getDefaultWriteParam
        param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DISABLED)
        writer.prepareWriteSequence(null)
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, GifCm)
        val raster = img.getRaster
        var f = 0
        while (f < nFrames) {
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              raster.setSample(x, y, 0, pixel(x, y, f))
              x += 1
            }
            y += 1
          }
          writer.writeToSequence(
            new javax.imageio.IIOImage(img, null, null), param)
          f += 1
        }
        writer.endWriteSequence()
      } catch { case t: Throwable => gifWriterTL.remove(); throw t }
      finally ios.close()
      bos.toByteArray
    }

    /** All frames of one payload; empty when no JDK reader claims the
      * bytes or the reader blows up mid-container (corrupt clips must
      * not kill the partition). */
    def decodeFrames(docId: Long, payload: Array[Byte]): Seq[DecodedFrame] =
      withReader(payload, Seq.empty[DecodedFrame]) { r =>
        val n = r.getNumImages(true)
        (0 until n).map { i =>
          val img = r.read(i)
          val w = img.getWidth
          val row = new Array[Int](w)
          var sum = 0L
          var y = 0
          while (y < img.getHeight) {
            img.getRGB(0, y, w, 1, row, 0, w) // one bulk convert per row
            var x = 0
            while (x < w) {
              sum += row(x) & 0xFF // gray: r == g == b
              x += 1
            }
            y += 1
          }
          DecodedFrame(docId, i, w, img.getHeight, sum)
        }
      }

    /** Deterministic planted animated GIF: `nFrames` full-size 8-bit
      * indexed-GRAYSCALE frames (palette gray i = (i, i, i) — GIF's
      * palette model reproduces indexed pixels exactly, unlike a
      * quantized RGB write), pixel (x, y) of frame f of clip `seed` =
      * (seed + 13·x + 31·y + 7·f) mod 256 — the spec's independent
      * recompute target. Written through the JDK's own GIF sequence
      * writer, so decode genuinely parses the animated container. */
    def plantedGif(seed: Long, w: Int, h: Int, nFrames: Int): Array[Byte] =
      writeGifFrames(w, h, nFrames)((x, y, f) =>
        ((seed + 13 * x + 31 * y + 7 * f) % 256).toInt)

    /** Batched frame extraction over (doc_id, data) — one row per
      * frame; the same mapPartitions shape as decodeImages, with
      * flatMap fanning each clip out to its frames (frames never
      * leave the executor as images — only their stat rows). */
    def decodeVideos(s: SparkSession,
        payloads: DataFrame): Dataset[DecodedFrame] = {
      import s.implicits._
      payloads.select(col("doc_id"), col("data")).as[(Long, Array[Byte])]
        .mapPartitions(_.flatMap { case (id, bytes) =>
          decodeFrames(id, bytes)
        })
    }

    /** How many frames the temporal fingerprint consumes: 16 frame
      * transitions × 4 signals = 64 bits needs 17 frames. Shorter
      * clips drop (a fingerprint padded with constant bits would
      * near-collide every short clip with every other). */
    val FingerprintFrames = 17

    /** Four brightness-shift-invariant scalars per frame: total luma
      * sum (a uniform no-clip shift moves it by the same w·h·shift
      * every frame — delta signs survive), horizontal and vertical
      * contrast (Σ|neighbor deltas| — pixel DIFFERENCES are exactly
      * shift-invariant), and the right-minus-left half-sum difference
      * (equal column counts per side — the middle column of an
      * odd-width frame is excluded — so the shift cancels exactly). */
    private def frameSignals(
        img: java.awt.image.BufferedImage): Array[Long] = {
      val (w, h) = (img.getWidth, img.getHeight)
      var sum = 0L; var cx = 0L; var cy = 0L; var halves = 0L
      // bulk row reads: ONE color-model conversion pass per row
      // instead of up to 3 per-pixel getRGB calls (self + right +
      // down neighbor); cy sums |cur − prev| over the same adjacent
      // row pairs the old |next − cur| form visited — identical sums
      val row = new Array[Int](w)
      val prev = new Array[Int](w)
      var y = 0
      while (y < h) {
        img.getRGB(0, y, w, 1, row, 0, w)
        var x = 0
        while (x < w) {
          val p = row(x) & 0xFF
          sum += p
          if (x + 1 < w) cx += math.abs((row(x + 1) & 0xFF) - p)
          if (y > 0) cy += math.abs(p - (prev(x) & 0xFF))
          if (x < w / 2) halves -= p
          else if (x >= w - w / 2) halves += p
          x += 1
        }
        System.arraycopy(row, 0, prev, 0, w)
        y += 1
      }
      Array(sum, cx, cy, halves)
    }

    /** 64-bit temporal fingerprint over a clip's frame-signal
      * envelope: bit 4t+k = sign of signal k's delta across frame
      * transition t, over the first 17 frames — the Haitsma-Kalker
      * sign-of-delta family applied along TIME (the image dHash signs
      * gradients along space, the audio fingerprint along the
      * amplitude envelope). Every signal is invariant (or uniformly
      * translated) under a no-clip global brightness shift, so a
      * re-encoded brighter copy fingerprints bit-identically. */
    def temporalFingerprint(
        signals: IndexedSeq[Array[Long]]): Option[Long] =
      if (signals.length < FingerprintFrames) None
      else Some((0 until 16).foldLeft(0L) { (acc, t) =>
        (0 until 4).foldLeft(acc) { (a, k) =>
          if (signals(t + 1)(k) > signals(t)(k)) a | (1L << (4 * t + k))
          else a
        }
      })

    /** Per-clip signal rows for fingerprinting — the decodeFrames
      * reader loop with the 4-signal extraction; empty on corrupt
      * payloads. */
    private def clipSignals(payload: Array[Byte]): Seq[Array[Long]] =
      withReader(payload, Seq.empty[Array[Long]]) { r =>
        // decode only the frames the fingerprint consumes — the
        // frame COUNT suffices for the length guard, so a
        // multi-thousand-frame clip costs the same 17 decodes
        val n = r.getNumImages(true)
        if (n < FingerprintFrames) Seq.empty
        else (0 until FingerprintFrames).map(i => frameSignals(r.read(i)))
      }

    /** Batched clip fingerprinting — decode frames in container
      * order, fingerprint the signal envelope; corrupt payloads and
      * clips shorter than 17 frames drop, never kill the scan. */
    def fingerprintVideos(s: SparkSession,
        payloads: DataFrame): DataFrame = {
      import s.implicits._
      payloads.select(col("doc_id"), col("data")).as[(Long, Array[Byte])]
        .mapPartitions(_.flatMap { case (id, bytes) =>
          temporalFingerprint(clipSignals(bytes).toIndexedSeq)
            .map(fp => (id, fp))
        }).toDF("doc_id", "vfp")
    }

    /** Planted pseudorandom animated GIF for the perceptual-dedup
      * corpus — plantedGif's mixed twin: pixel (x, y) of frame f is
      * mix(seed, x, y, f) mod 240 plus `shift` (a shift up to 15
      * never wraps), so a shifted copy is a uniformly brighter clip
      * with EVERY file byte different and a bit-identical temporal
      * fingerprint. */
    def plantedGifMixed(seed: Long, w: Int, h: Int, nFrames: Int,
        shift: Int): Array[Byte] =
      writeGifFrames(w, h, nFrames)((x, y, f) =>
        (java.lang.Math.floorMod(
          mix64(seed * 1000003L + x * 9176L + y * 131L + f * 7919L),
          240L) + shift).toInt)
  }

  /** One decoded record: byte length and leading byte (the shape a
    * real decoder would extend with width/height/duration/...). */
  final case class Decoded(doc_id: Long, n_bytes: Int, first_byte: Int)

  object StubDecoder {
    /** Deterministic stand-in for an image/audio decode. */
    def decode(docId: Long, payload: Array[Byte]): Decoded =
      Decoded(docId, payload.length,
        if (payload.isEmpty) -1 else payload(0) & 0xFF)
  }

  /** Batched decode over (doc_id, payload) — the mapInPandas shape. */
  def decodeBatch(s: SparkSession, payloads: DataFrame): Dataset[Decoded] = {
    import s.implicits._
    payloads.select(col("doc_id"), col("data")).as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        // per-partition init happens here (codec handles, model load)
        batch.map { case (id, bytes) => StubDecoder.decode(id, bytes) }
      }
  }
}
