package graft.operators

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.ScratchDirs
import graft.sources.Tables

/** Per-media features from a REAL decode (JDK codecs — see below). */
case class MediaFeatures(
    doc_id: Long,
    mime: String,
    n_bytes: Long,
    width: Int,
    height: Int,
    channels: Int,
    sample_rate: Int,
    duration_ms: Long,
    r_mean: Double)

/** Multimodal-column plumbing: media as opaque `binary` columns with typed
  * metadata, plus decode / feature-extract / resize / frame-sample stages
  * (SURVEY/builder north star: "multimodal columns").
  *
  * Two media tables, two purposes:
  *
  *  - [[mediaTable]] — the METADATA path: content is an opaque binary
  *    payload (UTF-8 bytes of `text`, mime assigned by doc_id). Metadata
  *    queries never touch the bytes (column pruning, plan-asserted).
  *  - [[rawMedia]] — the DECODE path: content is GENUINE codec output,
  *    generated deterministically per doc on the executors — real PNG
  *    bytes via `javax.imageio` and real 16-bit PCM WAV bytes via
  *    `javax.sound.sampled`, both shipped with the JDK. [[decodeImage]] /
  *    [[decodeWav]] then run the REAL decoders over those bytes, so the
  *    declared `media_decode_meta` query is an end-to-end encode→decode
  *    round-trip through production codecs, oracled against the closed-form
  *    dimensions/duration the generator used.
  *
  * video/mp4 is metadata-only: the JDK ships no MP4 codec and the build
  * adds no dependencies, so a video decoder must be plugged in externally
  * — the contract it plugs into (bytes in → features out, executed
  * per-partition via mapPartitions with no driver involvement) is exactly
  * the one [[decodeFeatures]] exercises for PNG/WAV; until then video rows
  * flow through the generic byte-window sampler [[byteWindows]], which is
  * honest byte-level chunking, not a pretend keyframe decode.
  *
  * Scale posture: encode/decode are embarrassingly parallel per partition;
  * binary payloads never shuffle (feature extraction happens before any
  * aggregation), and metadata-only queries never read `content` thanks to
  * parquet column pruning.
  */
object MultimodalOps {

  // ImageIO defaults to a DISK-backed stream cache: every ImageIO.read /
  // ImageIO.write on a raw stream creates (and deletes) a temp file under
  // java.io.tmpdir. For this band's workload — millions of KB-sized
  // in-memory images — that is two file-system round-trips per codec call
  // for zero benefit (the bytes are already heap-resident). Memory-cached
  // streams produce BIT-IDENTICAL codec output (the cache only backs
  // stream seeking); oracle hashes unchanged. Executor JVMs initialize
  // this object before first use of any codec helper, so the setting
  // applies cluster-wide without a conf knob. (r15 optimization, guide
  // §1.2 step 2: per-task work.)
  ImageIO.setUseCache(false)

  /** The media table: (doc_id, mime, content: binary, n_bytes, content_hash). */
  def mediaTable(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.documents(spark, sfDir)
      .select(
        col("doc_id"),
        expr("CASE WHEN doc_id % 3 = 0 THEN 'image/png' " +
          "WHEN doc_id % 3 = 1 THEN 'audio/wav' ELSE 'video/mp4' END").as("mime"),
        col("text").cast("binary").as("content"),
        length(col("text").cast("binary")).cast("long").as("n_bytes"),
        md5(col("text")).as("content_hash"))
  }

  // ---- deterministic generators (real codec OUTPUT, executor-side) ----

  /** Closed-form media parameters per doc_id — the generator contract the
    * `media_decode_meta` oracle re-derives in SQL.
    */
  def pngDims(id: Long): (Int, Int) = (8 + (id % 16).toInt, 8 + (id % 12).toInt)
  def pngRed(id: Long): Int = ((id * 7) % 256).toInt
  def wavFrames(id: Long): Int = 8 * (100 + (id % 200).toInt) // @8kHz → 100..299 ms

  /** Encode a constant-fill RGB image as genuine PNG bytes (javax.imageio).
    * Pixels land via ONE bulk setRGB (an int[] row-major fill) instead of
    * w×h per-pixel calls — each setRGB(x,y,c) pays a ColorModel conversion
    * and bounds checks; the bulk form converts the whole array in one
    * call. Identical pixel data, identical PNG bytes.
    */
  def encodePng(w: Int, h: Int, r: Int, g: Int, b: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = (r << 16) | (g << 8) | b
    val px = new Array[Int](w * h)
    java.util.Arrays.fill(px, rgb)
    img.setRGB(0, 0, w, h, px, 0, w)
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Encode deterministic 16-bit mono 8 kHz PCM as genuine WAV bytes. */
  def encodeWav(nFrames: Int, seed: Long): Array[Byte] = {
    val fmt = new AudioFormat(8000f, 16, 1, true, false)
    val data = new Array[Byte](nFrames * 2)
    var i = 0
    while (i < nFrames) {
      val s = ((seed * 31 + i.toLong * 7919) % 32768).toShort
      data(2 * i) = (s & 0xff).toByte
      data(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val ais = new AudioInputStream(new ByteArrayInputStream(data), fmt, nFrames.toLong)
    val bos = new ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  // ---- REAL decoders (JDK codecs) ----

  /** Decode PNG/BMP/JPEG bytes with the real `javax.imageio` reader:
    * (width, height, mean of the red channel over all pixels).
    */
  def decodeImage(bytes: Array[Byte]): (Int, Int, Double) = {
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    require(img != null, "undecodable image bytes")
    val w = img.getWidth; val h = img.getHeight
    // one bulk getRGB (single ColorModel pass over an int[]) instead of
    // w×h per-pixel calls — same sRGB values, same mean
    val px = img.getRGB(0, 0, w, h, null, 0, w)
    var sum = 0L
    var i = 0
    while (i < px.length) { sum += (px(i) >> 16) & 0xff; i += 1 }
    (w, h, sum.toDouble / (w.toLong * h))
  }

  /** Parse WAV bytes with the real `javax.sound.sampled` reader:
    * (channels, sample rate in Hz, duration in ms from the frame count).
    */
  def decodeWav(bytes: Array[Byte]): (Int, Int, Long) = {
    val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
    try {
      val fmt = ais.getFormat
      val durMs = ais.getFrameLength * 1000L / fmt.getSampleRate.toLong
      (fmt.getChannels, fmt.getSampleRate.toInt, durMs)
    } finally ais.close()
  }

  /** REAL image resize: Graphics2D bilinear rescale into the bounding box
    * (aspect preserved), re-encoded as PNG. Returns (bytes, w, h).
    */
  def resizeImage(bytes: Array[Byte], maxW: Int, maxH: Int): (Array[Byte], Int, Int) = {
    val src = ImageIO.read(new ByteArrayInputStream(bytes))
    require(src != null, "undecodable image bytes")
    resizeDecoded(src, maxW, maxH)
  }

  /** [[resizeImage]] over an ALREADY-decoded image — callers that also
    * need the source dimensions decode once and reuse the BufferedImage
    * instead of paying a second full PNG decode of the same bytes
    * ([[imageResizeDims]] did exactly that before r15).
    */
  def resizeDecoded(src: java.awt.image.BufferedImage, maxW: Int, maxH: Int): (Array[Byte], Int, Int) = {
    val scale = math.min(1.0, math.min(maxW.toDouble / src.getWidth, maxH.toDouble / src.getHeight))
    val w = math.max(1, (src.getWidth * scale).toInt)
    val h = math.max(1, (src.getHeight * scale).toInt)
    val dst = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val gfx = dst.createGraphics()
    try {
      gfx.setRenderingHint(
        java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      gfx.drawImage(src, 0, 0, w, h, null)
    } finally gfx.dispose()
    val bos = new ByteArrayOutputStream()
    ImageIO.write(dst, "png", bos)
    (bos.toByteArray, w, h)
  }

  /** REAL audio frame sampling: parse the WAV container, then slice `n`
    * evenly-spaced windows of raw PCM frames (frame-aligned, so each
    * window is itself valid PCM of the source format).
    */
  def sampleAudioFrames(bytes: Array[Byte], n: Int): Seq[Array[Byte]] = {
    val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
    try {
      val frameSize = ais.getFormat.getFrameSize
      val pcm = ais.readAllBytes()
      val totalFrames = pcm.length / frameSize
      if (totalFrames == 0 || n <= 0) Seq.empty
      else {
        val win = math.max(1, totalFrames / n)
        (0 until math.min(n, totalFrames)).map { i =>
          val startF = i * win
          val endF = math.min(startF + win, totalFrames)
          pcm.slice(startF * frameSize, endF * frameSize)
        }.filter(_.nonEmpty)
      }
    } finally ais.close()
  }

  /** Generic byte-window sampler for formats with no available codec
    * (video/mp4 here): `n` evenly-spaced byte slices — honest byte-level
    * chunking that preserves the one-media-row→n-frame-rows plumbing, NOT
    * a decode.
    */
  def byteWindows(content: Array[Byte], n: Int): Seq[Array[Byte]] = {
    if (content.isEmpty || n <= 0) Seq.empty
    else {
      val win = math.max(1, content.length / n)
      (0 until math.min(n, content.length)).map { i =>
        val start = i * win
        content.slice(start, math.min(start + win, content.length))
      }.filter(_.nonEmpty)
    }
  }

  /** The real-bytes media table: one row per image/audio doc with genuine
    * PNG/WAV content generated on the executors (video excluded — no JDK
    * codec; see the object doc).
    */
  def rawMedia(spark: SparkSession, sfDir: String): Dataset[(Long, String, Array[Byte])] = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select(col("doc_id"))
      .filter(col("doc_id") % 3 < 2)
      .as[Long]
      .mapPartitions { it =>
        it.map { id =>
          if (id % 3 == 0) {
            val (w, h) = pngDims(id)
            (id, "image/png",
              encodePng(w, h, pngRed(id), ((id * 13) % 256).toInt, ((id * 31) % 256).toInt))
          } else (id, "audio/wav", encodeWav(wavFrames(id), id))
        }
      }
      .toDF("doc_id", "mime", "content")
      .as[(Long, String, Array[Byte])]
  }

  /** PCM windows [[frameFeatures]] samples from each audio doc. */
  private val FramesPerDoc = 4

  /** Frames table: one row per sampled PCM window of each audio doc
    * ([[FramesPerDoc]] per doc), with a per-frame hash — the shape a
    * frame-level feature extractor consumes. Binary payloads stay inside
    * the partition; only (doc_id, frame_no, n bytes, hash) leave it.
    */
  def frameFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // WAV-only generator pass (r15): mime is a pure function of doc_id
    // (% 3 = 1 → audio), so the audio filter belongs BEFORE [[rawMedia]]'s
    // codec map — the pre-r15 form encoded every PNG row and then dropped
    // it (guide §2.3: don't compute what you throw away). Same rows out.
    Tables.documents(spark, sfDir)
      .select(col("doc_id"))
      .filter(col("doc_id") % 3 === 1)
      .as[Long]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { id =>
          val bytes = encodeWav(wavFrames(id), id)
          sampleAudioFrames(bytes, FramesPerDoc).zipWithIndex.map { case (frame, i) =>
            (id, "audio/wav", i.toLong, frame.length.toLong,
              toHex(md.digest(frame)))
          }
        }
      }
      .toDF("doc_id", "mime", "frame_no", "frame_bytes", "frame_hash")
  }

  /** Partition-parallel REAL decode + feature extraction into a typed
    * Dataset: ImageIO for PNG, AudioSystem for WAV, per-partition with no
    * driver involvement.
    */
  def decodeFeatures(spark: SparkSession, sfDir: String): Dataset[MediaFeatures] = {
    import spark.implicits._
    rawMedia(spark, sfDir)
      .mapPartitions { it =>
        it.map { case (id, mime, bytes) =>
          if (mime == "image/png") {
            val (w, h, rMean) = decodeImage(bytes)
            MediaFeatures(id, mime, bytes.length.toLong, w, h, 0, 0, 0L, rMean)
          } else {
            val (ch, rate, durMs) = decodeWav(bytes)
            MediaFeatures(id, mime, bytes.length.toLong, 0, 0, ch, rate, durMs, 0.0)
          }
        }
      }
  }

  /** V+: metadata aggregate per mime type — the oracled query (binary
    * length/hash plumbing over the opaque-payload table; decoded fields
    * live in [[mediaDecodeMeta]]).
    */
  def multimodalMeta(spark: SparkSession, sfDir: String): DataFrame = {
    mediaTable(spark, sfDir)
      .groupBy(col("mime"))
      .agg(
        count(lit(1)).as("n_media"),
        sum(col("n_bytes")).as("total_bytes"),
        countDistinct(col("content_hash")).as("n_distinct_content"),
        min(col("content_hash")).as("min_hash"))
      .orderBy(col("mime"))
  }

  /** V+: per-audio-doc frame-sampling summary over the REAL WAV path —
    * [[sampleAudioFrames]] parses the container and slices frame-aligned
    * PCM windows, so n_frames and the summed PCM bytes are exact functions
    * of the generator's frame count (the oracle's closed form): a wrong
    * header parse, frame size, or window split would hash-mismatch.
    */
  def audioFramesMeta(spark: SparkSession, sfDir: String): DataFrame =
    frameFeatures(spark, sfDir)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_frames"),
        sum(col("frame_bytes")).as("pcm_bytes"))
      .orderBy(col("doc_id"))

  /** V+: the DECLARED image-resize round-trip — encode (real PNG via
    * [[rawMedia]]) → [[resizeImage]] into a 12×12 bounding box (bilinear,
    * aspect-preserving, never upscaling) → decode the RESIZED bytes back
    * through the real codec. Output dims come from re-decoding the resized
    * PNG, so both codec directions AND the scale arithmetic sit on the
    * hash: the oracle recomputes the closed-form scaled dimensions
    * (floor(dim × min(1, 12/w, 12/h)), identical IEEE double ops on both
    * engines), and r_mean survives the resize exactly because bilinear
    * interpolation of a constant-fill image is the constant. Per-partition
    * executor work; only (id, dims, mean) leave the partition — the
    * resized bytes never shuffle.
    */
  def imageResizeDims(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    rawMedia(spark, sfDir)
      .filter(col("mime") === "image/png")
      .as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, _, bytes) =>
          // ONE source decode: dims come straight off the decoded image
          // and the SAME BufferedImage feeds the resize (pre-r15 this
          // path decoded the source PNG twice — once for dims, once
          // inside resizeImage). The resized bytes are still re-decoded
          // through the real codec: that round-trip IS the contract.
          val src = ImageIO.read(new ByteArrayInputStream(bytes))
          require(src != null, "undecodable image bytes")
          val (resized, _, _) = resizeDecoded(src, 12, 12)
          val (ow, oh, rMean) = decodeImage(resized)
          (id, src.getWidth.toLong, src.getHeight.toLong, ow.toLong, oh.toLong, rMean)
        }
      }
      .toDF("doc_id", "src_w", "src_h", "out_w", "out_h", "r_mean")
      .orderBy(col("doc_id"))
  }

  /** V+: the DECLARED encode→decode round-trip — per-doc features read
    * back by the REAL JDK codecs from genuinely-encoded PNG/WAV bytes,
    * oracled against the closed-form generator parameters ([[pngDims]]
    * etc.): if either codec direction were wrong, the hash would diverge.
    */
  def mediaDecodeMeta(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    decodeFeatures(spark, sfDir)
      .map(f => (f.doc_id, f.mime, f.width.toLong, f.height.toLong, f.r_mean,
        f.channels.toLong, f.sample_rate.toLong, f.duration_ms))
      .toDF("doc_id", "mime", "width", "height", "r_mean",
        "channels", "sample_rate", "duration_ms")
      .orderBy(col("doc_id"))
  }

  private val hexDigits = "0123456789abcdef".toCharArray

  /** Lowercase hex of a digest without per-byte String.format (which costs
    * a format-spec parse + boxing per byte — measurable at a hash per row).
    */
  private[operators] def toHex(bytes: Array[Byte]): String = {
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      out(2 * i) = hexDigits(b >> 4)
      out(2 * i + 1) = hexDigits(b & 0xf)
      i += 1
    }
    new String(out)
  }

  private def md5hex(bytes: Array[Byte]): String =
    toHex(java.security.MessageDigest.getInstance("MD5").digest(bytes))

  /** V+: the DECLARED frame-sample stage for the codec-less modality —
    * video rows flow through [[byteWindows]] (4 evenly-spaced byte slices
    * per doc, honest byte-level chunking, NOT a pretend keyframe decode)
    * with per-window byte length and md5. This pins the one-media-row →
    * n-frame-rows PLUMBING the external video codec plugs into
    * (bytes in → rows out, per-partition, no driver): swapping
    * [[byteWindows]] for a real keyframe extractor changes only the
    * lambda. Window bytes are UTF-8 text slices in the fixture, so the
    * oracle reproduces each window's md5 with substr — a wrong boundary
    * or off-by-one hash-mismatches.
    */
  def mediaByteWindows(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, sfDir)
      .filter(col("mime") === "video/mp4")
      .select(col("doc_id"), col("content"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        byteWindows(bytes, 4).zipWithIndex.map { case (w, i) =>
          (id, i.toLong, w.length.toLong, md5hex(w))
        }
      }
      .toDF("doc_id", "frame_idx", "n_bytes", "frame_md5")
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  private val binDirMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Generator version of the staged PNG fixture files. The staged
    * directory persists across JVMs keyed by name, so ANY change to
    * [[encodePng]]/[[pngDims]]/[[pngRed]] (the closed forms the oracles
    * check against) MUST bump this tag — otherwise a new session silently
    * reuses stale bytes and the oracle mismatches for a reason unrelated
    * to the code under test.
    */
  private val binGenVersion = "g1"

  /** Stage one REAL PNG file per image doc under target/graft-stage, once
    * per (fixture content, generator version). Files are written
    * executor-side via foreachPartition — correct in local mode (shared
    * FS); in production the media files already live in object storage and
    * only the READ path below matters.
    *
    * Write-then-publish: content lands in a session-private temp dir
    * (marker included) and is RENAMED into the final path, so a concurrent
    * session (Verify and Bench overlapping) can never observe a partially
    * populated directory, and a crashed stage leaves only an unpublished
    * temp dir (swept by the losing racer, never readable at the final
    * path). A marker-less final dir can only be a pre-rename-era crash
    * remnant: deleted before publishing.
    */
  private def stageBinaryFiles(spark: SparkSession, sfDir: String): String = {
    import spark.implicits._
    binDirMemo.computeIfAbsent(
      s"$sfDir@$binGenVersion@${graft.sources.Materialize.contentToken(sfDir)}", _ => {
        val dir = new java.io.File("target/graft-stage",
          s"binfiles_${binGenVersion}_${graft.sources.Materialize.contentToken(sfDir)}_" +
            sfDir.replaceAll("[^A-Za-z0-9]", "_"))
        val marker = new java.io.File(dir, "_SUCCESS")
        if (!marker.exists()) {
          val tmp = new java.io.File(dir.getParentFile,
            dir.getName + ".tmp-" + java.util.UUID.randomUUID().toString.take(8))
          tmp.mkdirs()
          val tmpPath = tmp.getAbsolutePath
          rawMedia(spark, sfDir)
            .filter(col("_2") === "image/png")
            .foreachPartition { it: Iterator[(Long, String, Array[Byte])] =>
              it.foreach { case (id, _, bytes) =>
                java.nio.file.Files.write(
                  java.nio.file.Paths.get(tmpPath, s"$id.png"), bytes): Unit
              }
            }
          new java.io.File(tmp, "_SUCCESS").createNewFile(): Unit
          // Publish under a cross-process FileLock so check-delete-move is
          // one atomic step: without it a concurrent JVM can publish
          // between our marker recheck and the delete/rename, and we would
          // delete a COMPLETE directory a reader may already be scanning
          // (driver ADVICE r8). Same-JVM same-key races are already
          // serialized by computeIfAbsent; the lock extends that to
          // Verify/Bench overlapping as separate processes.
          val lockFile = new java.io.File(dir.getParentFile, dir.getName + ".lock")
          val ch = java.nio.channels.FileChannel.open(lockFile.toPath,
            java.nio.file.StandardOpenOption.CREATE,
            java.nio.file.StandardOpenOption.WRITE)
          try {
            val lock = ch.lock()
            try {
              if (!marker.exists()) {
                // Marker-less final dir can only be a crash remnant from a
                // publisher that died mid-way (published dirs ALWAYS carry
                // the marker — it rides inside the atomic move).
                if (dir.exists()) ScratchDirs.wipe(dir)
                java.nio.file.Files.move(tmp.toPath, dir.toPath,
                  java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
              }
            } finally lock.release()
          } finally ch.close()
          // Lost a benign race (winner published while we staged): sweep.
          if (tmp.exists() && marker.exists()) ScratchDirs.wipe(tmp)
          require(marker.exists(), s"binaryFile staging failed to publish $dir")
        }
        dir.getAbsolutePath
      })
  }

  /** V+: the binaryFile INGESTION path — `spark.read.format("binaryFile")`
    * over a directory of real PNG files (the lake layout raw media
    * actually arrives in), glob-filtered, each file decoded executor-side
    * by the JDK codec. This is the missing first hop in front of
    * [[mediaDecodeMeta]]'s bytes-in-a-column model: files → (path,
    * length, content) rows → decoded features, with the doc id recovered
    * from the file name. At 100 TB the source parallelizes by file and
    * never moves bytes through a shuffle (decode happens where the read
    * happens); the oracle is the generator closed form, so a wrong byte
    * read or decode hash-mismatches.
    */
  def binaryFilesMeta(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = stageBinaryFiles(spark, sfDir)
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.png")
      .load(dir)
      .select(
        regexp_extract(col("path"), "(\\d+)\\.png$", 1).cast("long").as("doc_id"),
        col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val (w, h, rMean) = decodeImage(bytes)
          (id, w.toLong, h.toLong, rMean)
        }
      }
      .toDF("doc_id", "width", "height", "r_mean")
      .orderBy(col("doc_id"))
  }

  /** V+: IMAGE near-dup by decoded color feature — the multimodal
    * instantiation of the LSH dedup shape: REAL codec decode
    * (executor-side imageio) → scalar feature (mean red channel) →
    * bucketed equi self-join on the quantized feature (width-8 buckets) →
    * exact |Δ| ≤ 4 residual inside the bucket. Never pairwise over the
    * corpus: candidates are per-bucket, the same discipline as
    * MinHash/SimHash banding, with the same documented recall caveat
    * (a near pair straddling a bucket boundary is missed — tighten with
    * multi-probe or overlapping bands at production recall targets).
    * The oracle re-derives the feature from the generator's closed form
    * ((doc_id·7) mod 256 — constant-fill images), so the WHOLE decode
    * path sits under the cross-engine hash.
    */
  // ---- perceptual average-hash (aHash) family ----

  /** Red value of the aHash fixture pixel: first 8 hex chars of
    * md5("px:g:x:y") mod 128 — the same construction the oracle evaluates
    * in SQL (`('0x' || substring(md5(...), 1, 8))::BIGINT % 128`), so the
    * encoded image is reproducible engine-side from (g, x, y) alone.
    */
  def ahashPixel(md: java.security.MessageDigest, g: Long, x: Int, y: Int): Int = {
    // The first 8 hex chars of the md5 parsed base-16 ARE the first 4
    // digest bytes read big-endian unsigned — formatting them to a string
    // and parsing it back (the pre-r15 form) built 4 formatted strings
    // per PIXEL for pure overhead. Same value, arithmetic only.
    val d = md.digest(s"px:$g:$x:$y".getBytes("UTF-8"))
    val v = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    (v % 128L).toInt
  }

  /** Encode the deterministic 16×16 aHash fixture image as REAL PNG bytes:
    * md5-random base pattern keyed by group g, plus one brightened 2×2
    * block p (+96 red) — the "same photo, small edit" shape an aHash
    * dedup exists to catch. Base ≤ 127 and perturbation +96 keep the
    * channel in [0, 223]: no wraparound, so pixel sums are exact.
    */
  def encodeAhashPng(g: Long, p: Int): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val img = new java.awt.image.BufferedImage(16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
    // same per-pixel md5 closed form, landed via ONE bulk setRGB
    val px = new Array[Int](256)
    var y = 0
    while (y < 16) {
      var x = 0
      while (x < 16) {
        val block = 8 * (y / 2) + (x / 2)
        val r = ahashPixel(md, g, x, y) + (if (block == p) 96 else 0)
        px(16 * y + x) = r << 16
        x += 1
      }
      y += 1
    }
    img.setRGB(0, 0, 16, 16, px, 0, 16)
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** aHash of a decoded 16×16 image, split into its 4 16-bit LSH bands:
    * bit k (block row-major) = [64·blocksum_k > total] — the integer-exact
    * form of "block mean above image mean" (256 pixels, 64 blocks), no
    * float mean anywhere. Runs the REAL `javax.imageio` decoder.
    */
  def ahashBands(png: Array[Byte]): (Long, Long, Long, Long) = {
    val img = ImageIO.read(new ByteArrayInputStream(png))
    require(img != null && img.getWidth == 16 && img.getHeight == 16, "bad aHash fixture image")
    val bs = new Array[Long](64)
    var total = 0L
    // one bulk getRGB pass (same sRGB values as the per-pixel calls)
    val px = img.getRGB(0, 0, 16, 16, null, 0, 16)
    var y = 0
    while (y < 16) {
      var x = 0
      while (x < 16) {
        val r = (px(16 * y + x) >> 16) & 0xff
        bs(8 * (y / 2) + (x / 2)) += r
        total += r
        x += 1
      }
      y += 1
    }
    val bands = new Array[Long](4)
    var k = 0
    while (k < 64) {
      if (64L * bs(k) > total) bands(k / 16) |= 1L << (k % 16)
      k += 1
    }
    (bands(0), bands(1), bands(2), bands(3))
  }

  /** M+: PERCEPTUAL AVERAGE-HASH NEAR-DUP — the image analogue of the
    * MinHash text family: every image-typed doc (doc_id % 3 = 0) is
    * encoded as a REAL PNG (md5-random base keyed by duplicate-group g =
    * doc_id mod G, one brightened block as the per-copy edit), decoded
    * with the REAL JDK codec, aHashed (64 block-vs-image-mean bits, exact
    * integer compares), and near-dups are found by the house LSH
    * discipline: the 64-bit hash splits into 4×16-bit bands, candidates
    * share ≥1 exact band (4 equi self-joins — never images²), and
    * survivors satisfy full hamming ≤ 8 via bit_count over the band XORs.
    * G scales with the corpus (G = n_img/8, derived from a broadcast
    * 1-row aggregate, no driver action), so duplicate clusters stay ~8
    * wide and output grows LINEARLY in n at every SF — the same
    * size-adaptive argument as `embedding_near_dup`. The oracle re-derives
    * every pixel from the md5 closed form in SQL and runs the same band
    * join — the hash proves the entire encode→decode→hash→LSH pipeline
    * end-to-end through production codecs.
    */
  def imageAhashNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val imgIds = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 3 === 0).select(col("doc_id"))
    val nImg = imgIds.agg(count(lit(1)).as("n_img"))
    val bands = imgIds.crossJoin(broadcast(nImg))
      .select(
        col("doc_id"),
        (col("doc_id") % greatest(expr("n_img DIV 8"), lit(1L))).as("g"),
        ((col("doc_id") * lit(2654435761L)) % 64).as("p"))
      .as[(Long, Long, Long)]
      .map { case (id, g, p) =>
        val (b0, b1, b2, b3) = ahashBands(encodeAhashPng(g, p.toInt))
        (id, b0, b1, b2, b3)
      }
      .toDF("doc_id", "b0", "b1", "b2", "b3")
    // ONE pass computes every hash (the codec map runs exactly once — the
    // embedding_near_dup restructure, r10): explode each image into its 4
    // (band, key) rows CARRYING the full hash, generate candidate pairs
    // inside each bucket with both hashes in hand, and verify hamming
    // without ever re-joining to (and re-executing) the codec subtree.
    val keys = bands
      .select(col("doc_id"),
        struct(col("b0"), col("b1"), col("b2"), col("b3")).as("h"),
        explode(array((0 to 3).map(m =>
          struct(lit(m).as("band"), col(s"b$m").as("key"))): _*)).as("bk"))
      .select(col("doc_id"), col("h"), col("bk.band").as("band"), col("bk.key").as("key"))
    keys
      .groupBy(col("band"), col("key"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("h")))).as("xs"))
      .filter(size(col("xs")) > 1)
      .select(explode(expr(
        "flatten(transform(xs, (x, i) -> " +
          "transform(slice(xs, i + 2, size(xs)), y -> struct(x AS l, y AS r))))")).as("p"))
      .select(col("p.l.doc_id").as("doc1"), col("p.r.doc_id").as("doc2"),
        expr("CAST(bit_count(p.l.h.b0 ^ p.r.h.b0) + bit_count(p.l.h.b1 ^ p.r.h.b1) + " +
          "bit_count(p.l.h.b2 ^ p.r.h.b2) + bit_count(p.l.h.b3 ^ p.r.h.b3) AS BIGINT)")
          .as("hamming"))
      .filter(col("hamming") <= 8)
      .distinct()
      .orderBy(col("doc1"), col("doc2"))
  }

  def imageColorNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // PNG-only codec pass (r15): the pre-r15 form ran [[decodeFeatures]]
    // — encode+decode of EVERY media row, WAVs included — and filtered to
    // PNG only after the codecs, throwing half the codec work away; the
    // mime is a pure function of doc_id, so the filter belongs BEFORE the
    // generator (predicate pushdown past an opaque map, done by hand —
    // guide §2.3: don't compute what you drop).
    val imgs = Tables.documents(spark, sfDir)
      .select(col("doc_id"))
      .filter(col("doc_id") % 3 === 0)
      .as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val (w, h) = pngDims(id)
          val png = encodePng(w, h, pngRed(id),
            ((id * 13) % 256).toInt, ((id * 31) % 256).toInt)
          val (_, _, rMean) = decodeImage(png)
          (id, rMean.toLong) // constant fill → exact integer mean
        }
      }
      .toDF("doc_id", "r_int")
    // In-bucket pair generation off ONE decode pass (the
    // [[imageAhashNearDup]] restructure, r10): the pre-r15 self-join of
    // the derived frame re-executed the whole encode→decode subtree on
    // BOTH sides. sort_array orders structs by doc_id (first field), so
    // emitted pairs satisfy doc1 < doc2 exactly like the join form; the
    // |Δr| ≤ 4 residual moves from join predicate to post-explode filter
    // — same rows, zero codec duplication.
    imgs
      .groupBy(floor(col("r_int") / 8).as("bucket"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("r_int")))).as("xs"))
      .filter(size(col("xs")) > 1)
      .select(explode(expr(
        "flatten(transform(xs, (x, i) -> " +
          "transform(slice(xs, i + 2, size(xs)), y -> struct(x AS l, y AS r))))")).as("p"))
      .filter(abs(col("p.l.r_int") - col("p.r.r_int")) <= 4)
      .select(
        col("p.l.doc_id").as("doc1"), col("p.r.doc_id").as("doc2"),
        col("p.l.r_int").as("r1"), col("p.r.r_int").as("r2"),
        (col("p.l.r_int") - col("p.r.r_int")).as("dr"))
      .orderBy(col("doc1"), col("doc2"))
  }
}
