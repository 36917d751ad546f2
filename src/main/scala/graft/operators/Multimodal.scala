package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) column plumbing: opaque `binary` payload
  * + typed metadata struct, with decode / feature-extract / frame-sample
  * stages. North-star extension; no counterpart in the reference.
  *
  * The *plumbing* is real and tested — schema, partitioning, batch shape,
  * feature vector contract. The decode kernel itself is a clearly marked
  * STUB (this container ships no image/audio codecs): it derives
  * deterministic pseudo-features from the raw bytes, so the pipeline is
  * end-to-end verifiable and a real decoder (JNI/javacv or a Python
  * `mapInPandas` worker in a PySpark deployment) can replace one function
  * without touching the plan shape.
  *
  * Scale notes:
  *  - media rows are wide (MBs of bytes): stages `repartition` by id
  *    before CPU-heavy decode so work spreads across executors even when
  *    the scan yields few splits, and feature outputs drop the payload
  *    column immediately — never shuffle bytes you no longer need;
  *  - decode runs via `mapPartitions` (one iterator per partition — the
  *    JVM-side analog of `mapInPandas` batches) so per-partition codec
  *    state (decoder handles, buffers) is initialized once, not per row.
  *
  * PySpark migration: `docs/mapinpandas_parity.py` is the line-by-line
  * `mapInPandas` twin of [[decodeFeatures]]/[[mediaFeatureTable]] — same
  * output schema, same repartition-before-decode, same per-batch worker
  * state — showing that swapping the JVM stub for a Python codec worker
  * changes one function, not the plan.
  */
object Multimodal {

  /** Attach a synthetic media payload to the documents table: the UTF-8
    * bytes of `text` standing in for an encoded image, plus typed
    * metadata. In production this column arrives from the lakehouse as
    * real image/audio bytes with the same schema. */
  def attachFakeMedia(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      col("text").cast("binary").as("media"),
      struct(
        lit("raw").as("format"),
        octet_length(col("text").cast("binary")).cast("long").as("n_bytes"),
        lit(null).cast("int").as("width"),
        lit(null).cast("int").as("height")).as("meta"))

  /** "Frame sampling": every `stride`-th byte of the payload (for video,
    * this is every n-th frame; the slicing pattern is identical). Pure
    * columnar — no decode needed to subset the payload. */
  def frameSample(media: org.apache.spark.sql.Column, stride: Int): org.apache.spark.sql.Column = {
    val sampled = filter(transform(sequence(lit(1), octet_length(media)),
        i => when(pmod(i - 1, lit(stride)) === 0, substr(media, i, lit(1)))),
      b => b.isNotNull)
    // Guard the empty payload: sequence(1, 0) runs DESCENDING in Spark
    // (default step -1), which would emit spurious empty-byte frames.
    when(octet_length(media) === 0,
      typedLit(Seq.empty[Array[Byte]])).otherwise(sampled)
  }

  /** Nearest-neighbor resample of the payload to a fixed target size
    * (the 1-D analog of image resize: output position i samples source
    * position floor(i·len/target)). Deterministic, columnar, codegen'd —
    * the resize stage of a decode → resize → extract pipeline, operating
    * on the raw payload since the decode itself is stubbed. Empty
    * payloads resize to an empty payload. */
  def resizeStub(media: org.apache.spark.sql.Column, targetBytes: Int): org.apache.spark.sql.Column = {
    val len = octet_length(media)
    val sampled = transform(sequence(lit(0), lit(targetBytes - 1)),
      i => substr(media, (i * len).cast("long") / targetBytes + 1, lit(1)))
    when(len === 0, media)
      .otherwise(aggregate(sampled, lit(Array.emptyByteArray),
        (acc, b) => concat(acc, b)))
  }

  /** "PCM decode" stub: the payload bytes as an int sample array (8-bit
    * unsigned samples — for real audio this is the codec's sample
    * output; the plumbing and window math downstream are identical).
    * Byte-addressed `substr` on the binary column, so extraction is O(1)
    * per sample. Empty payloads decode to an empty array (guards the
    * descending-`sequence(1,0)` trap). */
  def pcmSamples(media: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(octet_length(media) === 0, typedLit(Seq.empty[Int]))
      .otherwise(transform(sequence(lit(1), octet_length(media)),
        i => ascii(substr(media, i, lit(1)).cast("string"))))

  /** Windowed RMS over a staged sample array: non-overlapping windows of
    * `win` samples, RMS per full window as fixed-point centi-units
    * (`floor(sqrt(mean(x²))·100 + 0.5)`). The all-integer window sums
    * make the double math order-independent, so the result is
    * engine-portable. Payloads shorter than one window yield an empty
    * array. */
  def windowRms(samples: org.apache.spark.sql.Column, win: Int): org.apache.spark.sql.Column =
    when(size(samples) < win, typedLit(Seq.empty[Long]))
      .otherwise(transform(
        sequence(lit(0), floor(size(samples).cast("double") / win).cast("int") - 1),
        w => floor(sqrt(
          aggregate(slice(samples, w * lit(win) + 1, lit(win)), lit(0L),
            (a, x) => a + x * x).cast("double") / win) * 100 + 0.5).cast("long")))

  /** Decoded feature record: fixed-width vector + payload stats. */
  final case class MediaFeatures(
      doc_id: Long, n_bytes: Long, checksum: Long, features: Array[Float])

  /** STUB decode + feature extraction.
    *
    * A real implementation would decode `media` (JPEG/PNG/WAV/...) and run
    * a feature extractor here; this container has no codecs, so the stub
    * emits a deterministic 8-dim byte-histogram projection — same output
    * contract (fixed-width float vector), same batch shape (iterator per
    * partition), fully testable.
    */
  def decodeFeatures(media: DataFrame, featureDim: Int = 8): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    val parts = spark.sessionState.conf.numShufflePartitions
    media
      .select(col("doc_id").cast("long"), col("media"))
      .repartition(parts, col("doc_id")) // spread decode CPU across executors
      .mapPartitions { rows =>
        // === STUB: replace this block with a real codec. Per-partition
        // init happens here (decoder handles, model weights, buffers). ===
        rows.map { r =>
          val id = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          val hist = new Array[Long](featureDim)
          var checksum = 0L
          var i = 0
          while (i < bytes.length) {
            val b = bytes(i) & 0xFF
            hist(b % featureDim) += 1
            checksum = (checksum * 31 + b) & 0x7FFFFFFFFFFFFFFFL
            i += 1
          }
          val n = math.max(bytes.length, 1).toFloat
          MediaFeatures(id, bytes.length.toLong, checksum,
            hist.map(h => h / n))
        }
      }
  }

  /** Feature table for downstream similarity search: doc_id + vector,
    * payload dropped (never carry bytes past the decode stage). */
  def mediaFeatureTable(documents: DataFrame): DataFrame =
    decodeFeatures(attachFakeMedia(documents)).toDF()
      .select(col("doc_id"), col("n_bytes"), col("checksum"), col("features"))

  // ---------------------------------------------------------------------
  // REAL image codec lane (`javax.imageio` — the pure-JVM codec this
  // container DOES ship). Unlike the stub above, these stages decode
  // actual compressed PNG bytes back to pixels; the payloads are
  // deterministic synthetic images whose pixel values are a closed form
  // of doc_id, so every extracted feature is integer-exact and
  // SQL-replayable by the oracle WITHOUT the oracle ever decoding.
  // ---------------------------------------------------------------------

  // Codecs must not touch a display server on executors.
  locally { System.setProperty("java.awt.headless", "true") }

  /** Deterministic synthetic PNG for doc `d`: size (8 + d%5) × (6 + d%4),
    * pixel (x, y) = (r, g, b) = (d%200 + x, d%150 + y, d%97) — the
    * gradients stay under 256 by construction (199+11, 149+8), so no
    * channel ever wraps and the per-image channel sums have closed
    * forms: Σr = h·(w·rb + w(w−1)/2), Σg = w·(h·gb + h(h−1)/2),
    * Σb = w·h·bb. */
  def syntheticPng(docId: Long): Array[Byte] = {
    val w = (8 + (docId % 5)).toInt
    val h = (6 + (docId % 4)).toInt
    val rb = (docId % 200).toInt
    val gb = (docId % 150).toInt
    val bb = (docId % 97).toInt
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y, ((rb + x) << 16) | ((gb + y) << 8) | bb)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream(256)
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Documents → (doc_id, media) with a REAL PNG payload per row.
    * Executor-side generation (mapPartitions, like any decode stage) —
    * the driver never materializes a single image. */
  def attachPngMedia(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.map(id => (id, syntheticPng(id))))
      .toDF("doc_id", "media")
  }

  /** Per-image features from a REAL decode: dimensions + exact per-
    * channel pixel sums. */
  final case class ImageFeatures(doc_id: Long, width: Long, height: Long,
      sum_r: Long, sum_g: Long, sum_b: Long)

  /** Decode PNG payloads with `javax.imageio` and extract pixel-exact
    * features. Same scale shape as [[decodeFeatures]]: repartition by id
    * before the CPU-heavy decode, `mapPartitions` so codec state
    * initializes once per partition, payload dropped at the boundary. */
  def decodeImageFeatures(media: DataFrame): Dataset[ImageFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    val parts = spark.sessionState.conf.numShufflePartitions
    media
      .select(col("doc_id").cast("long"), col("media"))
      .repartition(parts, col("doc_id"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)))
          require(img != null, s"doc $id: payload is not a decodable image")
          val w = img.getWidth
          val h = img.getHeight
          var sr = 0L; var sg = 0L; var sb = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              sr += (rgb >> 16) & 0xFF
              sg += (rgb >> 8) & 0xFF
              sb += rgb & 0xFF
              x += 1
            }
            y += 1
          }
          ImageFeatures(id, w.toLong, h.toLong, sr, sg, sb)
        }
      }
  }

  /** Encode → decode → extract, end to end over the documents table. */
  def imageFeatureTable(documents: DataFrame): DataFrame =
    decodeImageFeatures(attachPngMedia(documents)).toDF()

  // ---------------------------------------------------------------------
  // REAL audio codec lane (`javax.sound.sampled` — WAV container IO is
  // pure JVM and headless-safe): same discipline as the PNG lane —
  // deterministic synthetic PCM whose samples are a closed form of
  // doc_id, encoded into a real RIFF/WAVE container on executors,
  // decoded BACK from the container bytes, reduced to integer-exact
  // sample statistics the oracle recomputes without decoding.
  // ---------------------------------------------------------------------

  /** Synthetic 16-bit mono PCM WAV for doc `d`: n = 64 + d%32 samples
    * of the integer sawtooth s(i) = (i·k mod 2a) − a with amplitude
    * a = d%1000 + 1 and step k = d%7 + 1 — bounded well inside 16-bit
    * range, every sample an exact integer on both engines. */
  def syntheticWav(docId: Long): Array[Byte] = {
    val n = (64 + docId % 32).toInt
    val a = (docId % 1000).toInt + 1
    val k = (docId % 7).toInt + 1
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = (i * k) % (2 * a) - a
      pcm(2 * i) = (s & 0xFF).toByte // little-endian
      pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1,
      true /* signed */, false /* little-endian */)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream(pcm.length + 64)
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Per-clip features from a REAL WAV decode: frame count plus exact
    * integer sample sum and energy (sum of squares). */
  final case class AudioFeatures(doc_id: Long, n_samples: Long,
      sum_s: Long, sum_sq: Long)

  /** Decode WAV payloads with `javax.sound.sampled` and extract
    * sample-exact statistics — the audio twin of
    * [[decodeImageFeatures]], same repartition-before-decode and
    * iterator-per-partition shape. */
  def decodeAudioFeatures(media: DataFrame): Dataset[AudioFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    val parts = spark.sessionState.conf.numShufflePartitions
    media
      .select(col("doc_id").cast("long"), col("media"))
      .repartition(parts, col("doc_id"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)))
          try {
            val fmt = ais.getFormat
            require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1,
              s"doc $id: expected 16-bit mono PCM, got $fmt")
            val raw = ais.readAllBytes()
            val n = raw.length / 2
            var sum = 0L; var sq = 0L
            var i = 0
            while (i < n) {
              val s: Int =
                ((raw(2 * i + 1) << 8) | (raw(2 * i) & 0xFF)).toShort.toInt
              sum += s
              sq += s.toLong * s
              i += 1
            }
            AudioFeatures(id, n.toLong, sum, sq)
          } finally ais.close()
        }
      }
  }

  /** Encode → decode → extract over the documents table (audio). */
  def audioFeatureTable(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    decodeAudioFeatures(
      documents.select(col("doc_id").cast("long")).as[Long]
        .mapPartitions(_.map(id => (id, syntheticWav(id))))
        .toDF("doc_id", "media")).toDF()
  }

  // ---------------------------------------------------------------------
  // REAL multi-frame codec lane (animated GIF via `javax.imageio` —
  // frame iteration is pure-JVM and headless-safe): the video-shaped
  // sibling of the PNG/WAV lanes, re-basing mm3's frame sampling and
  // mm6's scene-cut semantics from the byte-stride stub onto REAL
  // decoded frames. Each doc gets a deterministic synthetic ANIMATION
  // whose every frame is a closed form of (doc_id, frame index),
  // encoded as a real multi-frame GIF on executors, decoded BACK frame
  // by frame, and reduced to integer-exact per-frame pixel sums — so
  // sampling and cut detection run on decoded frames while the oracle
  // recomputes the closed forms without ever decoding. Grayscale GIF
  // round-trips BIT-EXACT through the JDK codec (256-gray palette, no
  // quantization), which is what keeps the whole lane stub-free.
  // ---------------------------------------------------------------------

  /** Synthetic animated GIF for doc `d`: n = 3 + d%4 frames of size
    * (8 + d%3) × (6 + d%2); frame f's pixel (x, y) = v_f + x + y with
    * v_f = d%100 + (f²·k mod 50), k = d%9 + 1 — bounded under 256
    * (99 + 49 + 9 + 6), so no value wraps and the per-frame pixel sum
    * has the closed form S_f = w·h·v_f + h·w(w−1)/2 + w·h(h−1)/2. The
    * quadratic f²k term makes consecutive-frame deltas VARY, so
    * scene-cut thresholds discriminate per boundary, not per doc. */
  def syntheticGif(docId: Long): Array[Byte] = {
    val n = (3 + docId % 4).toInt
    val w = (8 + docId % 3).toInt
    val h = (6 + docId % 2).toInt
    val base = (docId % 100).toInt
    val k = (docId % 9).toInt + 1
    val bos = new java.io.ByteArrayOutputStream(512)
    val writer =
      javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    var f = 0
    while (f < n) {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val vf = base + (f * f * k) % 50
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { img.getRaster.setSample(x, y, 0, vf + x + y); x += 1 }
        y += 1
      }
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null),
        null)
      f += 1
    }
    writer.endWriteSequence()
    ios.close()
    writer.dispose()
    bos.toByteArray
  }

  /** Per-clip features from a REAL multi-frame decode: frame count,
    * dimensions, and the per-frame exact pixel-sum sequence — the
    * minimal columns frame sampling and scene-cut analytics need
    * (payload dropped at the boundary, like every decode lane). */
  final case class GifFeatures(doc_id: Long, n_frames: Long,
      width: Long, height: Long, frame_sums: Seq[Long])

  /** Decode animated-GIF payloads frame by frame with `javax.imageio`.
    * Same scale shape as the other codec lanes: repartition by id
    * before the CPU-heavy decode, `mapPartitions` so the READER
    * instance initializes once per partition (setInput per payload,
    * dispose once at iterator end). */
  def decodeGifFrames(media: DataFrame): Dataset[GifFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    val parts = spark.sessionState.conf.numShufflePartitions
    media
      .select(col("doc_id").cast("long"), col("media"))
      .repartition(parts, col("doc_id"))
      .mapPartitions { rows =>
        // In-memory streams only: ImageIO's default file cache would
        // spill one temp file per payload, freed only on close() —
        // which the per-payload close below does, but skipping the
        // cache removes the disk round-trip entirely.
        javax.imageio.ImageIO.setUseCache(false)
        val reader =
          javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
        // Each payload gets its own ImageInputStream; the PREVIOUS
        // one closes when the next row arrives (and the last at
        // iterator end, where the reader disposes too) — without this
        // every row leaked a stream (and, with the file cache, a temp
        // file) for the executor's lifetime.
        var openStream: javax.imageio.stream.ImageInputStream = null
        def closeCurrent(): Unit = {
          if (openStream != null) {
            try openStream.close()
            catch { case _: java.io.IOException => () }
            openStream = null
          }
        }
        new Iterator[(Long, Array[Byte])] {
          override def hasNext: Boolean = {
            val more = rows.hasNext
            if (!more) { closeCurrent(); reader.dispose() }
            more
          }
          override def next(): (Long, Array[Byte]) = {
            val r = rows.next()
            (r.getLong(0), r.getAs[Array[Byte]](1))
          }
        }.map { case (id, payload) =>
          closeCurrent()
          openStream = javax.imageio.ImageIO.createImageInputStream(
            new java.io.ByteArrayInputStream(payload))
          reader.setInput(openStream)
          val n = reader.getNumImages(true)
          require(n > 0, s"doc $id: payload is not a decodable GIF")
          var w = 0L
          var h = 0L
          val sums = new Array[Long](n)
          var f = 0
          while (f < n) {
            val img = reader.read(f)
            w = img.getWidth.toLong
            h = img.getHeight.toLong
            var s = 0L
            var y = 0
            while (y < img.getHeight) {
              var x = 0
              while (x < img.getWidth) {
                s += img.getRGB(x, y) & 0xFF
                x += 1
              }
              y += 1
            }
            sums(f) = s
            f += 1
          }
          GifFeatures(id, n.toLong, w, h, sums.toSeq)
        }
      }
  }

  /** Encode → decode → per-frame sums, end to end over documents. */
  def gifFrameTable(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    decodeGifFrames(
      documents.select(col("doc_id").cast("long")).as[Long]
        .mapPartitions(_.map(id => (id, syntheticGif(id))))
        .toDF("doc_id", "media")).toDF()
  }

  /** Per-image TILE features from a REAL decode (mm7's tile-extraction
    * semantics re-based from the byte-stride stub onto the PNG codec):
    * the decoded image cuts into a grid of `tile`×`tile` patches (edge
    * tiles clipped), each reduced to exact per-channel sums, and the
    * row carries a POSITION-WEIGHTED checksum over the grid —
    * Σ (ti+1)·(tj+1)·(sum_r + 2·sum_g + 3·sum_b) — so a tiling error
    * (wrong grid shape, swapped tiles, mis-clipped edges) changes the
    * output even when the whole-image totals are untouched. */
  final case class TileFeatures(doc_id: Long, n_tiles: Long,
      tile_checksum: Long, max_tile_r: Long)

  def tileFeatureTable(documents: DataFrame, tile: Int = 4): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val parts = spark.sessionState.conf.numShufflePartitions
    documents.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.map(id => (id, syntheticPng(id))))
      .toDF("doc_id", "media")
      .repartition(parts, col("doc_id"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)))
          require(img != null, s"doc $id: payload is not a decodable image")
          val (w, h) = (img.getWidth, img.getHeight)
          val (ntx, nty) = ((w + tile - 1) / tile, (h + tile - 1) / tile)
          var checksum = 0L
          var maxR = 0L
          var tj = 0
          while (tj < nty) {
            var ti = 0
            while (ti < ntx) {
              var sr = 0L; var sg = 0L; var sb = 0L
              var y = tj * tile
              val yEnd = math.min(y + tile, h)
              while (y < yEnd) {
                var x = ti * tile
                val xEnd = math.min(x + tile, w)
                while (x < xEnd) {
                  val rgb = img.getRGB(x, y)
                  sr += (rgb >> 16) & 0xFF
                  sg += (rgb >> 8) & 0xFF
                  sb += rgb & 0xFF
                  x += 1
                }
                y += 1
              }
              checksum += (ti + 1L) * (tj + 1L) * (sr + 2 * sg + 3 * sb)
              if (sr > maxR) maxR = sr
              ti += 1
            }
            tj += 1
          }
          TileFeatures(id, ntx.toLong * nty, checksum, maxR)
        }
      }.toDF()
  }
}
