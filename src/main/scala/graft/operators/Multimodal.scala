package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Artifacts, Tables}

/** Multimodal-column plumbing: media treated as opaque `binary` payloads
  * with typed metadata, decoded/feature-extracted in partition-sized
  * batches.
  *
  * Two decode tiers: [[decodeImages]] is a REAL codec path (PNG encode +
  * decode through javax.imageio, pixels round-tripped through genuine
  * compressed binaries), while `fakeDecode`/`decodeStub` remains the
  * codec-agnostic seam for formats the JDK cannot decode (video/audio —
  * swap in a JNI codec there). Both share the same Spark-side shape:
  * typed binary column in, partition-batched kernel, typed features out.
  */
object Multimodal {

  /** ImageIO's default stream cache is DISK-backed: every
    * `ImageIO.write`/`read` against a raw byte stream spins up a temp
    * FILE, which across 32 concurrent codec threads turns a CPU-bound
    * encode loop into an fsync storm (measured: the sf0.1 video census
    * dropped ~18.5 s → ~3 s with the memory cache). Executors call this
    * once per partition — it is idempotent and JVM-global.
    */
  private[operators] def useMemoryCache(): Unit =
    javax.imageio.ImageIO.setUseCache(false)

  /** #40 Typed metadata extraction over the binary payload — pure codegen'd
    * column arithmetic, SQL-oracle-checkable.
    */
  def mediaMeta(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).selectExpr(
      "doc_id",
      "CAST(octet_length(text) AS BIGINT) AS media_bytes",
      "hex(substring(text, 1, 4)) AS magic",
      "64 + doc_id % 1024 AS fake_width",
      "64 + (doc_id * 7) % 1024 AS fake_height",
      "1 + CAST(floor(octet_length(text) / 256.0) AS BIGINT) AS n_frames")

  /** #54 Frame sampling: fan each payload out into fixed-size frame rows
    * (video-frame / audio-chunk shape). The explode happens executor-side
    * on a `sequence` column — no driver involvement, output rows ∝ total
    * bytes / frame size. Frame ids are content-addressable (md5-derived)
    * so downstream dedup can run per frame.
    */
  def frameSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).selectExpr(
      "doc_id",
      "CAST(octet_length(text) AS BIGINT) AS media_bytes",
      "explode(sequence(0, CAST(floor(octet_length(text) / 256.0) AS BIGINT))) AS frame_no")
      .selectExpr(
        "doc_id", "frame_no",
        "CAST(least(256, media_bytes - frame_no * 256) AS BIGINT) AS frame_bytes",
        "substr(md5(concat(CAST(doc_id AS STRING), '_', CAST(frame_no AS STRING))), 1, 12) AS frame_key")

  /** #102 Frame-level dedup ACROSS media: frames hash by CONTENT (the
    * payload slice, not the (doc, frame) position), then the canonical
    * single-shuffle dedup groups identical frames wherever they appear —
    * the cross-video near-duplicate-frame pass of a multimodal training
    * pipeline (intros, logos, silence chunks collapse to one copy).
    * Digest computed map-side; only (hash, ids) shuffle, never frame
    * bytes.
    */
  def frameDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      // ceil-based frame count: floor+1 would add a zero-length tail frame
      // when length is an exact multiple of 256, and every such empty
      // frame hashes to md5('') — a phantom cross-media duplicate group
      .filter(length(col("text")) > 0)
      .selectExpr(
        "doc_id",
        // length(): payloads are ASCII here and DuckDB's octet_length is
        // BLOB-only — keeps the oracle expression identical
        "explode(sequence(0, CAST(ceil(length(text) / 256.0) AS BIGINT) - 1)) AS frame_no",
        "text")
      .selectExpr("doc_id", "frame_no",
        "md5(substr(text, CAST(frame_no * 256 + 1 AS INT), 256)) AS content_key")
      .groupBy("content_key")
      .agg(count(lit(1)).as("n_copies"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("keep_doc_id"),
        min(col("frame_no")).as("keep_frame_no"))
      .filter(col("n_copies") > 1)

  case class MediaIn(doc_id: Long, payload: Array[Byte])
  case class MediaFeat(doc_id: Long, n_bytes: Int, mean_byte: Double, feat: Array[Float])

  /** STUB decode kernel — deterministic byte-histogram "features".
    * A real implementation decodes the payload (JPEG/WAV/...) here, once
    * per batch, amortizing codec setup across the partition.
    */
  private def fakeDecode(m: MediaIn): MediaFeat = {
    val hist = new Array[Float](8)
    var sum = 0L
    var i = 0
    while (i < m.payload.length) {
      val b = m.payload(i) & 0xff
      hist(b >>> 5) += 1f
      sum += b
      i += 1
    }
    val n = math.max(m.payload.length, 1)
    var j = 0
    while (j < 8) { hist(j) /= n.toFloat; j += 1 }
    MediaFeat(m.doc_id, m.payload.length, sum.toDouble / n, hist)
  }

  case class MediaResized(doc_id: Long, n_bytes: Int, out_w: Int, out_h: Int,
      resized: Array[Float])

  /** #77 Resize stage STUB chained after decode: pools the 8-bucket feature
    * map down to out_w × out_h (mean pooling — the plumbing a real
    * image-resize kernel slots into). Demonstrates multi-stage typed media
    * pipelines: decode → resize runs as ONE partition pass, no
    * intermediate materialization.
    */
  def resizeStub(spark: SparkSession, dir: String, outW: Int = 2, outH: Int = 2): Dataset[MediaResized] = {
    implicit val enc = Encoders.product[MediaResized]
    decodeStub(spark, dir).mapPartitions { it =>
      it.map { m =>
        val n = outW * outH
        val pooled = new Array[Float](n)
        val src = m.feat
        val stride = math.max(src.length / n, 1)
        var i = 0
        while (i < n) {
          var s = 0f; var c = 0
          var j = i * stride
          while (j < math.min((i + 1) * stride, src.length)) { s += src(j); c += 1; j += 1 }
          pooled(i) = if (c == 0) 0f else s / c
          i += 1
        }
        MediaResized(m.doc_id, m.n_bytes, outW, outH, pooled)
      }
    }
  }

  /** #41 Partition-batched decode/feature-extract pipeline (the Scala analog
    * of a mapInPandas batch UDF): one iterator pass per partition, codec
    * state amortized, output is a typed Dataset with the feature vector.
    */
  def decodeStub(spark: SparkSession, dir: String): Dataset[MediaFeat] = {
    implicit val inEnc = Encoders.product[MediaIn]
    implicit val outEnc = Encoders.product[MediaFeat]
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[MediaIn]
      .mapPartitions { it =>
        // per-partition setup (codec init in a real impl) happens here
        it.map(fakeDecode)
      }
  }

  // ---- REAL codec path (javax.imageio — a genuine PNG encoder/decoder
  // shipped with the JDK; this is the kernel the *_stub seams swap in) ----

  /** Deterministic RGB image per document: pixel channels cycle through
    * the document's UTF-8 bytes; dimensions derive from doc_id. Pure
    * function of the row — both engines and the spec can predict the
    * geometry exactly.
    */
  private def imageDims(id: Long): (Int, Int) =
    ((8 + id % 9).toInt, (8 + (id * 3) % 9).toInt)

  /** Synthesize REAL PNG binaries executor-side (the sandbox ships no
    * media files): render each document's bytes into an RGB image and
    * ImageIO-encode it. Downstream operators receive genuine compressed
    * image payloads — magic bytes, IDAT chunks, the lot — so the decode
    * stage exercises a real codec, not a fake.
    */
  def imagePayloads(spark: SparkSession, dir: String): Dataset[MediaIn] = {
    implicit val enc = Encoders.product[MediaIn]
    import spark.implicits.{newLongEncoder, newStringEncoder, newProductEncoder}
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      // the codec work below dwarfs the (id, text) shuffle it rides on:
      // documents usually arrives as a handful of file splits, and without
      // this spread the per-frame encode/decode pins 1-2 cores while the
      // rest idle (measured 10.9 s -> ~2 s for the video census at sf0.1)
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { it =>
        useMemoryCache()
        val baos = new java.io.ByteArrayOutputStream(4096)
        it.map { case (id, text) =>
          val (w, h) = imageDims(id)
          val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val n = bytes.length
          var i = 0
          while (i < w * h) {
            val r = if (n == 0) 0 else bytes((i * 3) % n) & 0xff
            val g = if (n == 0) 0 else bytes((i * 3 + 1) % n) & 0xff
            val b = if (n == 0) 0 else bytes((i * 3 + 2) % n) & 0xff
            img.setRGB(i % w, i / w, (r << 16) | (g << 8) | b)
            i += 1
          }
          baos.reset()
          javax.imageio.ImageIO.write(img, "png", baos)
          MediaIn(id, baos.toByteArray)
        }
      }
  }

  case class ImageFeat(doc_id: Long, img_w: Int, img_h: Int, n_pixels: Long,
      mean_r: Double, mean_g: Double, mean_b: Double)

  /** The decoded-IMAGE substrate row: the exact ARGB raster ONE ImageIO
    * pass recovers from a PNG payload (lossless codec → the raster IS the
    * image). The image family — feature means, bilinear resize, pHash —
    * derives from this, so the synth+codec pass runs once per corpus
    * snapshot instead of once per family member (the image/video twin of
    * [[AudioPcm]]; round 9's sweep showed the re-decode as the two worst
    * mm growth ratios).
    */
  case class ImageRaster(doc_id: Long, img_w: Int, img_h: Int,
      argb: Array[Int])

  /** REAL decode, once: ImageIO parses the PNG into the raster substrate.
    * Unreadable payloads drop out (DLQ pattern).
    */
  def decodeRasters(payloads: Dataset[MediaIn]): Dataset[ImageRaster] = {
    implicit val enc = Encoders.product[ImageRaster]
    payloads.mapPartitions { it =>
      useMemoryCache()
      it.flatMap { m =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(m.payload))
        if (img == null) None
        else Some(ImageRaster(m.doc_id, img.getWidth, img.getHeight,
          img.getRGB(0, 0, img.getWidth, img.getHeight, null, 0, img.getWidth)))
      }
    }
  }

  /** Decode-once raster substrate for the registered image queries —
    * same contract as [[sharedPcm]]: the first consumer materializes
    * (≤1 KB/doc), the rest derive.
    */
  def sharedRasters(spark: SparkSession, dir: String): Dataset[ImageRaster] = {
    implicit val enc = Encoders.product[ImageRaster]
    Artifacts.memo(dir, "image-rasters")(a => a.frame(
      decodeRasters(imagePayloads(spark, dir)).toDF().localCheckpoint(eager = true)))
      .as[ImageRaster]
  }

  /** Rebuild the BufferedImage a raster row was decoded from —
    * bit-identical to the ImageIO output (TYPE_INT_RGB, same ARGB words),
    * so raster-derived resize/pHash match the payload-derived paths
    * byte for byte.
    */
  private def imageOf(r: ImageRaster): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(r.img_w, r.img_h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, r.img_w, r.img_h, r.argb, 0, r.img_w)
    img
  }

  /** Per-channel means from the raster substrate (the decode-output
    * features of [[decodeImages]], minus the codec pass).
    */
  def featuresFromRasters(rasters: Dataset[ImageRaster]): Dataset[ImageFeat] = {
    implicit val enc = Encoders.product[ImageFeat]
    rasters.mapPartitions { it =>
      it.map { r =>
        var (sr, sg, sb) = (0L, 0L, 0L)
        var i = 0
        while (i < r.argb.length) {
          val px = r.argb(i)
          sr += (px >> 16) & 0xff; sg += (px >> 8) & 0xff; sb += px & 0xff
          i += 1
        }
        val n = r.argb.length.toDouble
        ImageFeat(r.doc_id, r.img_w, r.img_h, r.img_w.toLong * r.img_h,
          sr / n, sg / n, sb / n)
      }
    }
  }

  /** REAL decode: ImageIO parses the PNG bytes back into pixels; features
    * are per-channel means over the decoded raster. One partition pass,
    * decoder state amortized; unreadable payloads yield None so callers
    * can route them to a DLQ instead of failing the batch.
    */
  def decodeImages(payloads: Dataset[MediaIn]): Dataset[ImageFeat] = {
    implicit val enc = Encoders.product[ImageFeat]
    payloads.mapPartitions { it =>
      useMemoryCache()
      it.flatMap { m =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(m.payload))
        if (img == null) None
        else {
          val (w, h) = (img.getWidth, img.getHeight)
          var (sr, sg, sb) = (0L, 0L, 0L)
          var i = 0
          while (i < w * h) {
            val px = img.getRGB(i % w, i / w)
            sr += (px >> 16) & 0xff; sg += (px >> 8) & 0xff; sb += px & 0xff
            i += 1
          }
          val n = (w * h).toDouble
          Some(ImageFeat(m.doc_id, w, h, w.toLong * h,
            sr / n, sg / n, sb / n))
        }
      }
    }
  }

  case class ImageResized(doc_id: Long, src_w: Int, src_h: Int, out_w: Int,
      out_h: Int, mean_r: Double, mean_g: Double, mean_b: Double,
      pixels: Array[Float])

  /** #194 REAL image resize (retires the last `*_stub` seam): decode the
    * genuine PNG payload, bilinear-rescale it to out_w × out_h with
    * java.awt.Graphics2D (a true raster resampler in the JDK, the same
    * AffineTransform path ImageIO-based thumbnailers use), and emit the
    * normalized RGB pixel tensor — the "resize to model input shape" stage
    * of a multimodal pipeline. One partition pass chains decode → resize
    * with codec and raster state amortized; no intermediate
    * materialization, no shuffle (row-local throughout). Unreadable
    * payloads DLQ-drop like [[decodeImages]].
    */
  def resizeImages(payloads: Dataset[MediaIn], outW: Int,
      outH: Int): Dataset[ImageResized] = {
    implicit val enc = Encoders.product[ImageResized]
    payloads.mapPartitions { it =>
      useMemoryCache()
      it.flatMap { m =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(m.payload))
        if (img == null) None
        else Some(resizeKernel(m.doc_id, img, outW, outH))
      }
    }
  }

  /** [[resizeImages]] minus the codec pass: same bilinear kernel over the
    * raster substrate. */
  def resizeFromRasters(rasters: Dataset[ImageRaster], outW: Int,
      outH: Int): Dataset[ImageResized] = {
    implicit val enc = Encoders.product[ImageResized]
    rasters.mapPartitions { it =>
      useMemoryCache()
      it.map(r => resizeKernel(r.doc_id, imageOf(r), outW, outH))
    }
  }

  private def resizeKernel(docId: Long, img: java.awt.image.BufferedImage,
      outW: Int, outH: Int): ImageResized = {
    val out = new java.awt.image.BufferedImage(outW, outH,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = out.createGraphics()
    try {
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, outW, outH, null)
    } finally g.dispose()
    val px = new Array[Float](outW * outH * 3)
    var (sr, sg, sb) = (0L, 0L, 0L)
    var i = 0
    while (i < outW * outH) {
      val rgb = out.getRGB(i % outW, i / outW)
      val r = (rgb >> 16) & 0xff; val gg = (rgb >> 8) & 0xff; val b = rgb & 0xff
      sr += r; sg += gg; sb += b
      px(i * 3) = r / 255f; px(i * 3 + 1) = gg / 255f; px(i * 3 + 2) = b / 255f
      i += 1
    }
    val n = (outW * outH).toDouble
    ImageResized(docId, img.getWidth, img.getHeight, outW, outH,
      sr / n, sg / n, sb / n, px)
  }

  /** #194 Registered query: decode → bilinear resize; geometry is the
    * oracle-checkable part (source dims a pure function of doc_id, output
    * dims constant), pixel content spec-verified.
    */
  def imageResize(spark: SparkSession, dir: String, outW: Int = 4,
      outH: Int = 4): DataFrame =
    resizeFromRasters(sharedRasters(spark, dir), outW, outH)
      .toDF()
      .select("doc_id", "src_w", "src_h", "out_w", "out_h")

  /** #177 Registered query: PNG-encode → ImageIO-decode round trip. The
    * emitted columns are the decode outputs that are pure functions of
    * doc_id (geometry), so the DuckDB oracle proves the codec round-trip
    * preserved them; channel means are spec-verified (ImageDecodeSpec)
    * rather than oracle-compared.
    */
  def imageDecode(spark: SparkSession, dir: String): DataFrame =
    featuresFromRasters(sharedRasters(spark, dir))
      .toDF()
      .select("doc_id", "img_w", "img_h", "n_pixels")

  case class ImagePHash(doc_id: Long, phash: Long)

  /** 64-point DCT-II basis table for the 32-sample pHash transform,
    * built once per partition. */
  private def dctTable(n: Int, m: Int): Array[Array[Double]] = {
    val t = Array.ofDim[Double](m, n)
    var u = 0
    while (u < m) {
      var x = 0
      while (x < n) {
        t(u)(x) = math.cos((2 * x + 1) * u * math.Pi / (2.0 * n))
        x += 1
      }
      u += 1
    }
    t
  }

  /** Perceptual hash (pHash, DCT flavor) over REAL decoded images: decode
    * the PNG, bilinear-resize to 32×32, grayscale (integer Rec.601
    * weights), 2-D DCT-II, keep the low-frequency 8×8 block, threshold
    * each coefficient against the block's AC mean → a 64-bit signature
    * that survives re-encoding, resizing, and uniform brightness shifts —
    * the image twin of SimHash. Row-local partition pass: codec + DCT
    * basis amortized, no shuffle; undecodable payloads DLQ-drop.
    */
  def phashImages(payloads: Dataset[MediaIn]): Dataset[ImagePHash] = {
    implicit val enc = Encoders.product[ImagePHash]
    payloads.mapPartitions { it =>
      useMemoryCache()
      val dct = dctTable(32, 8) // only the first 8 frequencies are kept
      it.flatMap { m =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(m.payload))
        if (img == null) None
        else Some(phashKernel(m.doc_id, img, dct))
      }
    }
  }

  /** [[phashImages]] minus the codec pass: same DCT kernel over the
    * raster substrate. */
  def phashFromRasters(rasters: Dataset[ImageRaster]): Dataset[ImagePHash] = {
    implicit val enc = Encoders.product[ImagePHash]
    rasters.mapPartitions { it =>
      useMemoryCache()
      val dct = dctTable(32, 8)
      it.map(r => phashKernel(r.doc_id, imageOf(r), dct))
    }
  }

  private def phashKernel(docId: Long, img: java.awt.image.BufferedImage,
      dct: Array[Array[Double]]): ImagePHash = {
    val out = new java.awt.image.BufferedImage(32, 32,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g = out.createGraphics()
          try {
            g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(img, 0, 0, 32, 32, null)
          } finally g.dispose()
          val gray = Array.ofDim[Double](32, 32)
          var i = 0
          while (i < 32 * 32) {
            val px = out.getRGB(i % 32, i / 32)
            gray(i / 32)(i % 32) = (((px >> 16) & 0xff) * 299 +
              ((px >> 8) & 0xff) * 587 + (px & 0xff) * 114) / 1000.0
            i += 1
          }
          // separable DCT-II: rows then columns, keeping 8 frequencies each
          val rows = Array.ofDim[Double](32, 8)
          var y = 0
          while (y < 32) {
            var u = 0
            while (u < 8) {
              var s = 0.0; var x = 0
              while (x < 32) { s += gray(y)(x) * dct(u)(x); x += 1 }
              rows(y)(u) = s; u += 1
            }
            y += 1
          }
          val block = Array.ofDim[Double](8, 8)
          var v = 0
          while (v < 8) {
            var u = 0
            while (u < 8) {
              var s = 0.0; var yy = 0
              while (yy < 32) { s += rows(yy)(u) * dct(v)(yy); yy += 1 }
              block(v)(u) = s; u += 1
            }
            v += 1
          }
          // threshold vs the AC mean (DC excluded — it is pure brightness)
          var acSum = 0.0
          var j = 1
          while (j < 64) { acSum += block(j / 8)(j % 8); j += 1 }
          val mean = acSum / 63.0
          var hash = 0L
          j = 1 // DC bit stays 0: brightness must not flip any bit
          while (j < 64) {
            if (block(j / 8)(j % 8) > mean) hash |= (1L << j)
            j += 1
          }
          ImagePHash(docId, hash)
  }

  /** Banded near-dup candidate join over pHash signatures — the SimHash
    * blocking scheme applied to images: 4 bands of 16 bits; any pair
    * within Hamming distance 3 shares ≥ 1 intact band (pigeonhole), so
    * band equality finds every close pair without an all-pairs compare.
    * Only (band, id, hash) rows shuffle; `bit_count(xor)` verifies the
    * candidates. At 100 TB the bucket join is the same bucketed shape as
    * `dedup_simhash` — nothing quadratic in the corpus.
    */
  /** Perceptual hashes of structured media concentrate: near-constant
    * images/signals land whole FAMILIES on one 16-bit band value, and a
    * hot band bucket's self-join is quadratic IN THE BUCKET (the Hamming
    * twin of the MinHash mega-bucket — this join was the one band join
    * the round-6 capping sweep missed, surfacing as 14× wall on the 10×
    * audio sweep). Same guard as every other LSH join: deterministic
    * per-bucket sampling to [[HammingBandCap]]; at the oracle-checked SFs
    * the census stays far below it (ImageDecodeSpec pins this), so
    * registered results are cap-invariant.
    */
  private[graft] val HammingBandCap = 512

  def phashPairs(hashes: DataFrame, maxHamming: Int = 10): DataFrame = {
    val banded = graft.operators.Dedup.capBuckets(
      hashes.select(col("doc_id"), col("phash"),
          explode(sequence(lit(0), lit(3))).as("band"))
        .withColumn("band_val", expr("(phash >> (band * 16)) & 65535")),
      Seq("band", "band_val"), "doc_id", cap = HammingBandCap)
    banded.alias("a")
      .join(banded.alias("b"),
        col("a.band") === col("b.band") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a.phash ^ b.phash)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** #272 Registered query: per-image pHash + near-duplicate degree. Every
    * decoded image emits one row (hash in hex, band-candidate count,
    * Hamming-verified near-dup count) — the per-doc audit frame a
    * multimodal dedup pass keys off. Pair semantics are spec-verified
    * with planted near-dup / distinct images (ImageDecodeSpec).
    */
  def phashDedup(spark: SparkSession, dir: String): DataFrame = {
    // materialize the hash frame (3 longs per doc) before fanning it into
    // the self-join + degree join: without this the DCT pass re-runs once
    // per plan branch (3× at the 10× sweep); the codec pass itself is
    // already amortized into the shared raster substrate
    val hashes = phashFromRasters(sharedRasters(spark, dir)).toDF()
      .localCheckpoint(eager = true)
    val pairs = phashPairs(hashes)
    val degree = pairs.select(col("doc_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_b").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("n_near_dups"))
    hashes.join(degree, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_near_dups"))
      .select(col("doc_id"), lower(hex(col("phash"))).as("phash_hex"),
        col("n_near_dups"))
  }

  /** Frames per synthetic video — pure function of doc_id. */
  private def videoFrameCount(id: Long): Int = 4 + (id % 3).toInt

  /** Synthesize REAL multi-frame video containers executor-side: a
    * length-prefixed sequence of genuine PNG frames (the honest stand-in
    * for an MP4 demuxer — the per-frame codec is real, only the
    * container is ours). Frames 0..1 are brightness-jittered copies of
    * one scene; frame 2 CUTS to a different scene for even doc_ids and
    * stays for odd ones — so scene-change ground truth is a pure
    * function of doc_id.
    */
  def videoPayloads(spark: SparkSession, dir: String): Dataset[MediaIn] = {
    implicit val enc = Encoders.product[MediaIn]
    import spark.implicits.{newLongEncoder, newStringEncoder, newProductEncoder}
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      // the codec work below dwarfs the (id, text) shuffle it rides on:
      // documents usually arrives as a handful of file splits, and without
      // this spread the per-frame encode/decode pins 1-2 cores while the
      // rest idle (measured 10.9 s -> ~2 s for the video census at sf0.1)
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { it =>
        useMemoryCache()
        val baos = new java.io.ByteArrayOutputStream(8192)
        val frame = new java.io.ByteArrayOutputStream(2048)
        it.map { case (id, text) =>
          val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val n = videoFrameCount(id)
          baos.reset()
          val out = new java.io.DataOutputStream(baos)
          out.writeInt(n)
          var f = 0
          while (f < n) {
            val cut = f >= 2 && id % 2 == 0
            val img = new java.awt.image.BufferedImage(16, 16,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            var i = 0
            while (i < 256) {
              val base =
                if (bytes.isEmpty) 0
                else if (cut) bytes(bytes.length - 1 - (i % bytes.length)) & 0xff
                else bytes(i % bytes.length) & 0xff
              val v = math.min(255, (if (cut) 255 - base else base) + f) // jitter
              img.setRGB(i % 16, i / 16, (v << 16) | (v << 8) | v)
              i += 1
            }
            frame.reset()
            javax.imageio.ImageIO.write(img, "png", frame)
            out.writeInt(frame.size())
            frame.writeTo(out)
            f += 1
          }
          out.flush()
          MediaIn(id, baos.toByteArray)
        }
      }
  }

  case class VideoFrameFeat(doc_id: Long, frame_no: Int, n_frames: Int,
      diff_e4: Long, is_keyframe: Boolean)

  /** The decoded-VIDEO substrate row: ONE demux+decode pass reduced to
    * per-frame 16-bin gray profiles (flattened frame-major, stride 16) —
    * everything the keyframe detector needs, at 16 doubles/frame instead
    * of the frame raster. Videos stay whole (one row per video), so the
    * derivation is row-local with no cross-frame shuffle.
    */
  case class VideoProfiles(doc_id: Long, n_frames: Int,
      profiles: Array[Double])

  /** REAL decode, once: demux the container, ImageIO-decode every frame,
    * reduce to the profile substrate. Truncated payloads drop out (DLQ).
    */
  def videoProfiles(payloads: Dataset[MediaIn]): Dataset[VideoProfiles] = {
    implicit val enc = Encoders.product[VideoProfiles]
    payloads.mapPartitions { it =>
      useMemoryCache()
      it.flatMap { m =>
        val in = new java.io.DataInputStream(
          new java.io.ByteArrayInputStream(m.payload))
        try {
          val n = in.readInt()
          val flat = new Array[Double](n * 16)
          var f = 0
          while (f < n) {
            val len = in.readInt()
            val buf = new Array[Byte](len)
            in.readFully(buf)
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(buf))
            if (img != null) {
              val (w, h) = (img.getWidth, img.getHeight)
              var i = 0
              while (i < w * h) {
                val px = img.getRGB(i % w, i / w)
                val g = (((px >> 16) & 0xff) * 299 + ((px >> 8) & 0xff) * 587 +
                  (px & 0xff) * 114) / 1000.0
                flat(f * 16 + (i * 16 / (w * h)) % 16) += g / (w * h / 16.0)
                i += 1
              }
            }
            f += 1
          }
          Some(VideoProfiles(m.doc_id, n, flat))
        } catch {
          case _: java.io.IOException => None
        }
      }
    }
  }

  /** #290 Keyframe selection over REAL decoded video frames, from the
    * [[videoProfiles]] substrate: mark a keyframe wherever the mean
    * absolute 16-bin profile change from the previous frame (a share of
    * full scale, ×10⁴, rounded) exceeds the threshold — the shot-boundary
    * detector a frame-sampling pipeline runs before feature extraction,
    * so near-identical frames don't all get embedded. Pure arithmetic:
    * thresholds can be re-swept without touching a codec.
    */
  def keyframesFromProfiles(profiles: Dataset[VideoProfiles],
      thresholdE4: Long = 1000L): Dataset[VideoFrameFeat] = {
    implicit val enc = Encoders.product[VideoFrameFeat]
    profiles.mapPartitions { it =>
      it.flatMap { v =>
        (0 until v.n_frames).iterator.map { f =>
          var diff = 0.0
          if (f > 0) {
            var b = 0
            while (b < 16) {
              diff += math.abs(v.profiles(f * 16 + b) - v.profiles((f - 1) * 16 + b))
              b += 1
            }
            diff /= 16.0
          }
          val diffE4 = math.round(diff / 255.0 * 10000.0)
          VideoFrameFeat(v.doc_id, f, v.n_frames, diffE4,
            f == 0 || diffE4 > thresholdE4)
        }
      }
    }
  }

  /** Decode-once profile substrate for the registered video queries —
    * same contract as [[sharedPcm]]: decode once, derive many.
    */
  def sharedVideoProfiles(spark: SparkSession,
      dir: String): Dataset[VideoProfiles] = {
    implicit val enc = Encoders.product[VideoProfiles]
    Artifacts.memo(dir, "video-profiles")(a => a.frame(
      videoProfiles(videoPayloads(spark, dir)).toDF().localCheckpoint(eager = true)))
      .as[VideoProfiles]
  }

  /** #290 Registered query: per-video frame/keyframe census. */
  def videoKeyframeStats(spark: SparkSession, dir: String): DataFrame =
    keyframesFromProfiles(sharedVideoProfiles(spark, dir)).toDF()
      .groupBy("doc_id")
      .agg(max(col("n_frames")).as("n_frames"),
        sum(when(col("is_keyframe"), 1L).otherwise(0L)).as("n_keyframes"),
        max(col("diff_e4")).as("max_diff_e4"))

  /** Audio frame count per doc — pure function of doc_id, same
    * determinism contract as [[imageDims]]. */
  private def audioFrames(id: Long): Int = 64 + (id % 129).toInt

  private val SampleRate = 8000f

  /** The canonical 44-byte RIFF/WAVE framing over a raw PCM buffer —
    * byte-identical to what `AudioSystem.write(…, Type.WAVE, …)` emits
    * for integer PCM (RIFF size = 36+data, 16-byte fmt chunk, format
    * tag 1), hand-rolled because the AudioSystem path re-streams the
    * PCM through an AudioInputStream per row and dominated the encode
    * constant at sf1 (~8-9× family wall at 10× data was all container
    * framing). ImageDecodeSpec pins byte-parity against AudioSystem.
    */
  private[graft] def wavBytes(pcm: Array[Byte], sampleRate: Int,
      channels: Int, bits: Int): Array[Byte] = {
    val blockAlign = channels * bits / 8
    val bb = java.nio.ByteBuffer.allocate(44 + pcm.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      .putInt(36 + pcm.length)
      .put("WAVE".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      .put("fmt ".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      .putInt(16).putShort(1).putShort(channels.toShort)
      .putInt(sampleRate).putInt(sampleRate * blockAlign)
      .putShort(blockAlign.toShort).putShort(bits.toShort)
      .put("data".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      .putInt(pcm.length).put(pcm)
    bb.array()
  }

  /** Synthesize REAL WAV binaries executor-side: 16-bit little-endian
    * mono PCM whose samples cycle through the document's bytes, wrapped
    * in the genuine RIFF/WAVE container frame ([[wavBytes]] — the direct
    * 44-byte header write; the DECODE arm keeps javax.sound.sampled,
    * that's the real-codec claim) — the audio twin of [[imagePayloads]].
    */
  def audioPayloads(spark: SparkSession, dir: String): Dataset[MediaIn] = {
    implicit val enc = Encoders.product[MediaIn]
    import spark.implicits.{newLongEncoder, newStringEncoder, newProductEncoder}
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      // the codec work below dwarfs the (id, text) shuffle it rides on:
      // documents usually arrives as a handful of file splits, and without
      // this spread the per-frame encode/decode pins 1-2 cores while the
      // rest idle (measured 10.9 s -> ~2 s for the video census at sf0.1)
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val n = audioFrames(id)
          val pcm = new Array[Byte](n * 2)
          val len = bytes.length
          var i = 0
          while (i < n) {
            val s = if (len == 0) 0
              else (((bytes((i * 5) % len) & 0xff) - 128) << 8)
            pcm(i * 2) = (s & 0xff).toByte        // little-endian lo
            pcm(i * 2 + 1) = ((s >> 8) & 0xff).toByte
            i += 1
          }
          MediaIn(id, wavBytes(pcm, SampleRate.toInt, channels = 1, bits = 16))
        }
      }
  }

  case class AudioFeat(doc_id: Long, sample_rate: Int, n_channels: Int,
      n_frames: Long, duration_ms: Long, rms: Double, peak: Int)

  /** The decoded-PCM substrate row: what ONE AudioSystem pass recovers
    * from a WAV payload. Every audio feature below derives from this —
    * the container parse happens once per payload, not once per feature
    * family member (round 8 measured the triple decode at ~80% of the
    * family's sf10 wall).
    */
  case class AudioPcm(doc_id: Long, sample_rate: Int, n_channels: Int,
      n_frames: Long, pcm: Array[Byte])

  /** REAL decode, once: AudioSystem parses the WAV container (format
    * chunk + PCM data) into the [[AudioPcm]] substrate. Unreadable
    * payloads drop out (DLQ pattern) instead of failing the batch.
    */
  def decodePcm(payloads: Dataset[MediaIn]): Dataset[AudioPcm] = {
    implicit val enc = Encoders.product[AudioPcm]
    payloads.mapPartitions { it =>
      it.flatMap { m =>
        try {
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(m.payload))
          val fmt = ais.getFormat
          Some(AudioPcm(m.doc_id, fmt.getSampleRate.toInt, fmt.getChannels,
            ais.getFrameLength, ais.readAllBytes()))
        } catch {
          case _: javax.sound.sampled.UnsupportedAudioFileException => None
        }
      }
    }
  }

  /** Decode-once substrate for the registered corpus queries: the three
    * registered audio rows run in one driver session over the same
    * synthesized WAVs — the first materializes the substrate
    * (localCheckpoint: PCM is ~400 B/doc, block-manager memory+disk), the
    * rest derive. A [[graft.Artifacts]] frame: rebuilt for a regenerated
    * corpus or a new SparkContext.
    */
  def sharedPcm(spark: SparkSession, dir: String): Dataset[AudioPcm] = {
    implicit val enc = Encoders.product[AudioPcm]
    Artifacts.memo(dir, "audio-pcm")(a => a.frame(
      decodePcm(audioPayloads(spark, dir)).toDF().localCheckpoint(eager = true)))
      .as[AudioPcm]
  }

  /** Amplitude features from the decoded substrate: RMS and peak over
    * the PCM samples.
    */
  def featuresFromPcm(decoded: Dataset[AudioPcm]): Dataset[AudioFeat] = {
    implicit val enc = Encoders.product[AudioFeat]
    decoded.mapPartitions { it =>
      it.map { m =>
        val data = m.pcm
        var (sumSq, peak) = (0.0, 0)
        var i = 0
        while (i + 1 < data.length) {
          val s = ((data(i) & 0xff) | (data(i + 1).toInt << 8)).toShort.toInt
          sumSq += s.toDouble * s
          if (math.abs(s) > peak) peak = math.abs(s)
          i += 2
        }
        val n = math.max(m.n_frames, 1L)
        AudioFeat(m.doc_id, m.sample_rate, m.n_channels,
          m.n_frames, m.n_frames * 1000L / m.sample_rate.toLong,
          math.sqrt(sumSq / n), peak)
      }
    }
  }

  /** One-shot decode + features (spec path for caller-built WAVs). */
  def decodeAudio(payloads: Dataset[MediaIn]): Dataset[AudioFeat] =
    featuresFromPcm(decodePcm(payloads))

  case class AudioFp(doc_id: Long, afp: Long, n_frames: Int)

  /** Haitsma–Kalker-style audio fingerprint over REAL decoded WAVs:
    * 16-sample frames, 5 DFT band energies per frame, one bit per
    * (frame, band) = sign of the time-and-frequency energy difference
    * (E(f,b)−E(f,b+1)) − (E(f−1,b)−E(f−1,b+1)) — 16 frames × 4 bands =
    * a 64-bit signature. The double difference cancels both overall
    * level (scaling every sample scales every energy by c², preserving
    * every sign) and per-frame loudness drift — the audio twin of
    * [[phashImages]]. Row-local partition pass; undecodable payloads
    * DLQ-drop.
    */
  def audioFingerprints(payloads: Dataset[MediaIn]): Dataset[AudioFp] =
    fingerprintsFromPcm(decodePcm(payloads))

  /** Fingerprints from the decoded substrate — the DFT/banding math,
    * container parse already paid by [[decodePcm]].
    */
  def fingerprintsFromPcm(decoded: Dataset[AudioPcm]): Dataset[AudioFp] = {
    implicit val enc = Encoders.product[AudioFp]
    val F = 16; val B = 5
    decoded.mapPartitions { it =>
      // DFT basis for bins 1..B over an F-sample frame, built once
      val cosT = Array.tabulate(B, F)((b, n) =>
        math.cos(2 * math.Pi * (b + 1) * n / F))
      val sinT = Array.tabulate(B, F)((b, n) =>
        math.sin(2 * math.Pi * (b + 1) * n / F))
      it.map { m =>
        {
          val data = m.pcm
          val nS = data.length / 2
          val s = new Array[Double](nS)
          var i = 0
          while (i < nS) {
            s(i) = ((data(2 * i) & 0xff) | (data(2 * i + 1).toInt << 8)).toShort.toDouble
            i += 1
          }
          val nFrames = nS / F
          // band energies per frame (zero-padded to 17 frames so every
          // payload yields a full 64-bit signature deterministically)
          val e = Array.ofDim[Double](17, B)
          var f = 0
          while (f < math.min(nFrames, 17)) {
            var b = 0
            while (b < B) {
              var (re, im) = (0.0, 0.0)
              var n = 0
              while (n < F) {
                val v = s(f * F + n)
                re += v * cosT(b)(n); im += v * sinT(b)(n); n += 1
              }
              e(f)(b) = re * re + im * im; b += 1
            }
            f += 1
          }
          var hash = 0L
          var bit = 0
          f = 1
          while (f <= 16) {
            var b = 0
            while (b < B - 1) {
              val d = (e(f)(b) - e(f)(b + 1)) - (e(f - 1)(b) - e(f - 1)(b + 1))
              if (d > 0) hash |= (1L << bit)
              bit += 1; b += 1
            }
            f += 1
          }
          AudioFp(m.doc_id, hash, nFrames)
        }
      }
    }
  }

  /** #281 Registered query: per-audio fingerprint + banded near-dup
    * degree — the [[phashDedup]] audit shape on the audio modality,
    * sharing the same 4×16-bit band join and bit_count verify.
    */
  def audioFpDedup(spark: SparkSession, dir: String): DataFrame = {
    // materialized for the same reason as [[phashDedup]]: the DFT pass
    // must run once, not once per downstream plan branch (the decode
    // itself is the shared substrate)
    val hashes = fingerprintsFromPcm(sharedPcm(spark, dir)).toDF()
      .select(col("doc_id"), col("afp").as("phash"), col("n_frames"))
      .localCheckpoint(eager = true)
    val pairs = phashPairs(hashes.select("doc_id", "phash"))
    val degree = pairs.select(col("doc_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_b").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("n_near_dups"))
    hashes.join(degree, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_near_dups"))
      .select(col("doc_id"), lower(hex(col("phash"))).as("afp_hex"),
        col("n_frames"), col("n_near_dups"))
  }

  /** #182 Registered query: WAV-encode → AudioSystem-decode round trip;
    * geometry columns are pure functions of doc_id (oracle-checked),
    * amplitude features are spec-verified (AudioDecodeSpec).
    */
  def audioDecode(spark: SparkSession, dir: String): DataFrame =
    featuresFromPcm(sharedPcm(spark, dir))
      .toDF()
      .select("doc_id", "sample_rate", "n_channels", "n_frames", "duration_ms")

  case class AudioSilence(doc_id: Long, n_samples: Long, n_silent: Long,
      silent_bp: Long, longest_run: Long, lead_silence: Long,
      trail_silence: Long, mostly_silent: Boolean)

  /** #366 Silence profile over REAL decoded WAVs — the trim/drop gate an
    * audio-curation pipeline runs before paying for transcription:
    * per clip the silent-sample mass, the longest silent run, and the
    * leading/trailing silence a trimmer would cut. "Silent" is relative
    * to the clip's OWN peak (|s| < peak/20 ≈ −26 dB), so the gate is
    * level-invariant like [[audioFingerprints]]' double difference —
    * a quiet-but-active clip is not flagged. All-zero clips degenerate
    * to thr = 1 and read 100% silent.
    *
    * One row-local partition pass (two scans of the sample buffer: peak,
    * then runs); undecodable payloads DLQ-drop like every codec path.
    */
  def audioSilenceFrom(payloads: Dataset[MediaIn]): Dataset[AudioSilence] =
    silenceFromPcm(decodePcm(payloads))

  /** Silence profile from the decoded substrate (two scans of the PCM
    * buffer: peak, then runs).
    */
  def silenceFromPcm(decoded: Dataset[AudioPcm]): Dataset[AudioSilence] = {
    implicit val enc = Encoders.product[AudioSilence]
    decoded.mapPartitions { it =>
      it.map { m =>
        {
          val data = m.pcm
          val n = data.length / 2
          var peak = 0
          var i = 0
          while (i + 1 < data.length) {
            val s = ((data(i) & 0xff) | (data(i + 1).toInt << 8)).toShort.toInt
            if (math.abs(s) > peak) peak = math.abs(s)
            i += 2
          }
          val thr = math.max(1, peak / 20)
          var silent = 0L; var run = 0L; var longest = 0L
          var lead = -1L; var trailRun = 0L
          i = 0
          var idx = 0
          while (i + 1 < data.length) {
            val s = ((data(i) & 0xff) | (data(i + 1).toInt << 8)).toShort.toInt
            if (math.abs(s) < thr) {
              silent += 1; run += 1; trailRun += 1
              if (run > longest) longest = run
            } else {
              if (lead < 0) lead = idx
              run = 0; trailRun = 0
            }
            i += 2; idx += 1
          }
          if (lead < 0) lead = n // never loud: all leading silence
          AudioSilence(m.doc_id, n, silent,
            if (n == 0) 0L else silent * 10000L / n, longest, lead, trailRun,
            silent * 2 > n)
        }
      }
    }
  }

  /** #366 Registered query: silence profile of the corpus WAV arm
    * (rows-only: codec output, no SQL analog; ImageDecodeSpec plants
    * known silence runs).
    */
  def audioSilence(spark: SparkSession, dir: String): DataFrame =
    silenceFromPcm(sharedPcm(spark, dir)).toDF()
}
