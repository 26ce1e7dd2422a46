package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: images/audio/video ride through the
  * engine as opaque `binary` columns with a typed metadata struct;
  * decode / feature-extraction / resize / frame-sampling run as
  * partition-local batch transforms.
  *
  * IMAGE, AUDIO and MJPEG-VIDEO decode are REAL, using only what the
  * JDK ships: `javax.imageio` (PNG/JPEG/BMP/GIF → `decodeImage`,
  * `extractImageFeatures`, `resizeImages`), `javax.sound.sampled`
  * (WAV/AIFF/AU PCM → `decodeAudio`, `extractAudioFeatures`), and a
  * hand-walked RIFF container for MJPEG AVI (`decodeMjpegFrames`,
  * `sampleFramesDecoded` — each frame is a JPEG, decoded via ImageIO).
  * Compressed video codecs (H.264 etc.) need native libraries the JDK
  * doesn't ship; they plug in through the [[Multimodal.VideoDecoder]]
  * seam (serializable, partition-local, same output schema), with
  * MJPEG-AVI as the default registry entry and
  * `decodeStub`/`sampleFrames` as deterministic stand-ins for content
  * no registered decoder claims. The Spark-side plumbing — schema,
  * partitioning, per-partition batching, format dispatch — is real and
  * tested for every path.
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("content", BinaryType),
    StructField("meta", StructType(Seq(
      StructField("format", StringType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("n_frames", IntegerType))))))

  /** Synthesize a deterministic media table from any corpus: content
    * bytes are the UTF-8 of md5(text) (stable across engines), meta
    * derives from id arithmetic.
    */
  def syntheticMedia(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(
      col(idCol).cast("long").as("media_id"),
      encode(md5(col(textCol)), "UTF-8").as("content"),
      struct(
        when(col(idCol) % 3 === 0, "png").when(col(idCol) % 3 === 1, "jpeg").otherwise("webp").as("format"),
        (col(idCol) % 640 + 32).cast("int").as("width"),
        (col(idCol) % 480 + 32).cast("int").as("height"),
        (col(idCol) % 30 + 1).cast("int").as("n_frames")).as("meta"))

  // ── deterministic REAL media synthesis (oracle-checkable) ─────────

  /** Little-endian hex of the low `bytes` bytes of an integer column —
    * the building block for binary container headers synthesized as
    * column expressions.
    */
  private def leHex(v: Column, bytes: Int): Column =
    concat_ws("", (0 until bytes).map(i =>
      lpad(hex(pmod(floor(v / math.pow(256, i).toLong).cast("long"), lit(256L))), 2, "0")): _*)

  /** Synthesize a REAL, decodable 4×2 24-bit BMP per document — the
    * container ImageIO ships an uncompressed reader for, so the
    * WHOLE image path (bytes → `decodeImage` → pixels) is exercised
    * with analytically-known output: pixel (x, y) is the gray value
    * `(id·31 + x + 5y) mod 256`, making width/height/mean-luma
    * computable by the DuckDB oracle from id arithmetic alone
    * (oracle row `multimodal_decode_real`). The 54-byte header is a
    * compile-time hex literal; only the 24 pixel bytes vary per row —
    * one column expression, no UDF.
    */
  def syntheticBmp(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val w = 4; val h = 2
    def u32(v: Int) = f"${v & 0xff}%02x${(v >> 8) & 0xff}%02x${(v >> 16) & 0xff}%02x${(v >> 24) & 0xff}%02x"
    def u16(v: Int) = f"${v & 0xff}%02x${(v >> 8) & 0xff}%02x"
    val headerHex = "424d" + u32(54 + 3 * w * h) + u32(0) + u32(54) +
      u32(40) + u32(w) + u32(h) + u16(1) + u16(24) + u32(0) + u32(3 * w * h) +
      u32(2835) + u32(2835) + u32(0) + u32(0)
    val id = col(idCol).cast("long")
    // BMP stores rows bottom-up: image row h-1 first
    val pixelHex = for (y <- (h - 1) to 0 by -1; x <- 0 until w) yield {
      val v = lpad(hex(pmod(id * 31 + lit(x + 5 * y), lit(256L))), 2, "0")
      concat_ws("", v, v, v) // gray: B = G = R
    }
    docs.select(id.as("media_id"),
      unhex(concat_ws("", (lit(headerHex) +: pixelHex): _*)).as("content"))
  }

  /** Synthesize a REAL, decodable PCM WAV per document (mono, 16-bit,
    * 8 kHz; `(id mod 16) + 4` samples of value
    * `((id·13 + i·37) mod 2001) − 1000`), so the WHOLE audio path
    * (bytes → `decodeAudio` → samples) has analytically-known
    * duration/RMS/zero-crossing-rate (oracle row
    * `multimodal_decode_audio`). Header fields that depend on the
    * sample count are little-endian hex column expressions.
    */
  def syntheticWav(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val id = col(idCol).cast("long")
    val n = pmod(id, lit(16L)) + lit(4L)
    val fixedFmt = "57415645" + "666d7420" + // "WAVE" "fmt "
      "10000000" + "0100" + "0100" +         // size 16, PCM, mono
      "401f0000" + "803e0000" + "0200" + "1000" // 8000 Hz, 16000 B/s, align 2, 16 bit
    val header = concat_ws("",
      lit("52494646"), leHex(lit(36L) + n * 2, 4), lit(fixedFmt),
      lit("64617461"), leHex(n * 2, 4))
    // samples as i16 LE two's complement
    val sampleHex = aggregate(
      sequence(lit(0L), n - 1),
      lit(""),
      (acc, i) => {
        val s = pmod(id * 13 + i * 37, lit(2001L)) - lit(1000L)
        val u = pmod(s, lit(65536L))
        concat_ws("", acc,
          lpad(hex(pmod(u, lit(256L))), 2, "0"),
          lpad(hex(floor(u / 256).cast("long")), 2, "0"))
      })
    docs.select(id.as("media_id"),
      unhex(concat_ws("", header, sampleHex)).as("content"))
  }

  /** Synthesize a REAL, decodable ANIMATED GIF per document — the
    * last real decoder ([[GifDecoder]]) brought under the oracle the
    * way BMP/WAV were (oracle row `multimodal_decode_video`). GIF's
    * LZW is lossless, and with minimum code size 7 every code is
    * exactly one byte while the table stays under 256 entries: each
    * frame's image data is the literal byte run
    * `[clear=0x80, p0..p7, eoi=0x81]` (8 pixels never grow the table
    * past 137), so the whole container is a hex column expression —
    * no encoder, no UDF. `(id mod 3) + 2` frames of 4×2 pixels; pixel
    * (x, y) of frame f indexes gray palette entry
    * `v = (id·31 + x + 5y + 7f) mod 128` whose color is `(2v,2v,2v)`,
    * making per-frame mean luma computable by the DuckDB oracle from
    * id arithmetic alone. Header + 128-entry global color table are a
    * compile-time hex literal; only the 8 pixel bytes per frame vary.
    */
  def syntheticGif(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val w = 4; val h = 2
    def u16(v: Int) = f"${v & 0xff}%02x${(v >> 8) & 0xff}%02x"
    // logical screen: GCT present, color resolution 7, GCT size 2^(6+1)=128
    val gct = (0 until 128).map(i => f"${2 * i}%02x" * 3).mkString
    val prefix = "474946383961" + u16(w) + u16(h) + "f6" + "00" + "00" + gct
    // image descriptor at (0,0) full-size + LZW min code size 7 +
    // one 10-byte sub-block: clear, 8 one-byte codes, end-of-information
    val frameDesc = "2c" + u16(0) + u16(0) + u16(w) + u16(h) + "00" + "07" + "0a" + "80"
    val id = col(idCol).cast("long")
    val nf = pmod(id, lit(3L)) + lit(2L)
    val frames = aggregate(sequence(lit(0L), nf - 1), lit(""), (acc, f) => {
      val pix = for (y <- 0 until h; x <- 0 until w)
        yield lpad(hex(pmod(id * 31 + lit(x + 5 * y) + f * 7, lit(128L))), 2, "0")
      concat_ws("", (acc +: lit(frameDesc) +: pix :+ lit("8100")): _*)
    })
    docs.select(id.as("media_id"),
      unhex(concat(lit(prefix), frames, lit("3b"))).as("content"),
      struct(lit("gif").as("format"), lit(w).as("width"), lit(h).as("height"),
        nf.cast("int").as("n_frames")).as("meta"))
  }

  /** STUB decode: a real implementation would parse `content` with an
    * image codec; the stub "decodes" to the mean byte value — the
    * plumbing (binary in, fixed-width features out, partition-local,
    * no shuffle) is exactly what a mapInPandas/mapPartitions decoder
    * needs at scale.
    */
  def decodeStub(content: Array[Byte]): Array[Double] = {
    if (content == null || content.isEmpty) Array(0.0, 0.0)
    else {
      var sum = 0L; var i = 0
      while (i < content.length) { sum += content(i) & 0xff; i += 1 }
      Array(sum.toDouble / content.length, content.length.toDouble)
    }
  }

  /** Feature extraction over the media table. The stub decode is pure
    * column expressions (mean byte via a fold over the hex encoding),
    * so the query stays in DataFrame land — Catalyst-planned, AQE'd,
    * never dropping to an RDD for what is plain arithmetic. A real
    * codec goes through `extractFeaturesWithDecoder` below.
    */
  def extractFeatures(media: DataFrame): DataFrame = {
    val h = lower(hex(col("content")))
    val n = (length(h) / lit(2)).cast("int")
    val byteSum = aggregate(
      when(n > lit(0), sequence(lit(0), n - lit(1))).otherwise(expr("array()")),
      lit(0L),
      (acc, i) => acc + conv(h.substr(i * lit(2) + lit(1), lit(2)), 16, 10).cast("long"))
    media
      .withColumn("f_mean_byte",
        when(col("content").isNull || n === lit(0), lit(0.0))
          .otherwise(byteSum.cast("double") / n.cast("double")))
      .withColumn("f_n_bytes",
        when(col("content").isNull, lit(0.0)).otherwise(n.cast("double")))
      .drop("content")
  }

  /** The real-codec slot: partition-local batch transform
    * (mapPartitions — one JVM-side batch per partition, the Scala
    * analogue of mapInPandas batches). Pass the actual decoder (image/
    * audio library call) as `decode`; `decodeStub` is the default fake.
    */
  def extractFeaturesWithDecoder(media: DataFrame,
                                 decode: Array[Byte] => Array[Double] = decodeStub): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(media.schema.fields.filter(_.name != "content") ++ Seq(
      StructField("f_mean_byte", DoubleType),
      StructField("f_n_bytes", DoubleType)))
    val rdd = media.rdd.mapPartitions { it =>
      it.map { r =>
        val content = r.getAs[Array[Byte]]("content")
        val fs = decode(content)
        Row.fromSeq(r.toSeq.patch(r.fieldIndex("content"), Nil, 1) ++ fs.toSeq)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  // ── real image codec (JDK ImageIO — no external libraries) ────────

  /** REAL image decode via `javax.imageio` (PNG/JPEG/BMP/GIF ship with
    * the JDK). Returns None for bytes that are not a decodable image —
    * callers emit null features rather than failing the partition.
    */
  def decodeImage(content: Array[Byte]): Option[java.awt.image.BufferedImage] =
    if (content == null || content.isEmpty) None
    else
      try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(content)))
      catch { case _: Exception => None }

  /** Image features with the REAL decoder: width/height/mean luma
    * (Rec.601) per image, null for undecodable content. Partition-
    * local mapPartitions — binary in, fixed-width features out, no
    * shuffle; this is the production path `extractFeatures`' stub
    * stands in for when the corpus carries genuine image bytes.
    */
  def extractImageFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(media.schema.fields.filter(_.name != "content") ++ Seq(
      StructField("img_width", IntegerType),
      StructField("img_height", IntegerType),
      StructField("img_mean_luma", DoubleType)))
    val rdd = media.rdd.mapPartitions { it =>
      it.map { r =>
        val base = r.toSeq.patch(r.fieldIndex("content"), Nil, 1)
        decodeImage(r.getAs[Array[Byte]]("content")) match {
          case Some(img) =>
            // Seq[Any] — a plain Seq(int, int, double) would
            // numerically widen the Ints and break the row encoder
            Row.fromSeq(base ++ Seq[Any](img.getWidth, img.getHeight, meanLuma(img)))
          case None => Row.fromSeq(base ++ Seq(null, null, null))
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** REAL resize: decode, scale to fit `maxDim` (never upscale),
    * re-encode as PNG, and update the meta struct to the actual new
    * dimensions. Undecodable content passes through untouched.
    */
  def resizeImages(media: DataFrame, maxDim: Int): DataFrame = {
    val spark = media.sparkSession
    val schema = media.schema
    val contentIdx = schema.fieldIndex("content")
    val metaIdx = schema.fieldIndex("meta")
    val rdd = media.rdd.mapPartitions { it =>
      it.map { r =>
        decodeImage(r.getAs[Array[Byte]]("content")) match {
          case Some(img) =>
            val w = img.getWidth; val h = img.getHeight
            val scale = math.min(1.0, math.min(maxDim.toDouble / w, maxDim.toDouble / h))
            val nw = math.max(1, math.floor(w * scale).toInt)
            val nh = math.max(1, math.floor(h * scale).toInt)
            val out = new java.awt.image.BufferedImage(
              nw, nh, java.awt.image.BufferedImage.TYPE_INT_RGB)
            val g2 = out.createGraphics()
            try {
              g2.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
                java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
              g2.drawImage(img, 0, 0, nw, nh, null)
            } finally g2.dispose()
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(out, "png", bos)
            val oldMeta = r.getStruct(metaIdx)
            val newMeta = Row(oldMeta.get(0), nw, nh, oldMeta.get(3))
            Row.fromSeq(r.toSeq
              .updated(contentIdx, bos.toByteArray: Any)
              .updated(metaIdx, newMeta: Any))
          case None => r
        }
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  // ── real audio codec (JDK javax.sound — WAV/PCM, no external libs) ─

  /** The JDK's registered audio-file readers, resolved once per
    * executor JVM and ordered so MIDI-capable readers probe LAST:
    * `AudioSystem.getAudioInputStream` tries providers in registry
    * order, and the JDK registers `SoftMidiAudioFileReader` ahead of
    * the WAV/AIFF/AU readers — whose probe routes through
    * `MidiSystem.getSequence` and the class-level lock in
    * `JSSecurityManager.getProviders`, so EVERY PCM decode pays a
    * globally-serialized MIDI sniff first (jstack: 32 decode tasks
    * BLOCKED on that monitor; 32 threads measured SLOWER than 1).
    * With the container readers first, PCM content is claimed before
    * the locked probe is ever reached; unclaimed bytes still fall
    * through to the MIDI reader and then the canonical
    * UnsupportedAudioFileException. Same providers, same decode —
    * only the probe order changes.
    */
  private lazy val audioReaders: Seq[javax.sound.sampled.spi.AudioFileReader] = {
    import scala.jdk.CollectionConverters._
    // resolve against the interface's OWN classloader (java.desktop —
    // always sees the JDK providers, even from an executor thread
    // whose context loader doesn't surface them) UNIONED with the
    // application side (a user-supplied MP3/Vorbis reader jar);
    // either lookup alone drops one side, and a dropped provider
    // silently falls its format through to AudioSystem — functionally
    // identical but reinstating the globally-serialized MIDI-probe
    // path. The application side resolves via THIS class's loader,
    // not the thread context loader: this is a lazy val, so a first
    // touch from a thread whose context loader lacked the application
    // classpath would otherwise drop user SPIs for the JVM's lifetime.
    def providersOf(cl: ClassLoader): Seq[javax.sound.sampled.spi.AudioFileReader] =
      try java.util.ServiceLoader
        .load(classOf[javax.sound.sampled.spi.AudioFileReader], cl)
        .iterator().asScala.toSeq
      catch { case _: java.util.ServiceConfigurationError => Seq.empty }
    val all = (providersOf(classOf[javax.sound.sampled.spi.AudioFileReader].getClassLoader)
        ++ providersOf(getClass.getClassLoader))
      .groupBy(_.getClass.getName).values.map(_.head).toSeq
      .sortBy(_.getClass.getName)
    val (midi, container) = all
      .partition(_.getClass.getName.toLowerCase.contains("midi"))
    if (container.isEmpty)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        "Multimodal.audioReaders: no container AudioFileReader resolved — " +
          "decodes will probe through AudioSystem (globally-serialized MIDI sniff)")
    container ++ midi
  }

  private def audioStreamOf(bytes: Array[Byte]): javax.sound.sampled.AudioInputStream = {
    val it = audioReaders.iterator
    while (it.hasNext) {
      try return it.next().getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
      catch { case _: javax.sound.sampled.UnsupportedAudioFileException => }
    }
    // registry empty or nothing claimed it — the public API decides
    // (and raises the canonical UnsupportedAudioFileException)
    javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(bytes))
  }

  /** REAL audio decode via `javax.sound.sampled` (WAV/AIFF/AU PCM ship
    * with the JDK). Returns (sampleRate, channels, mono samples in
    * [-1, 1]) or None for undecodable bytes.
    */
  def decodeAudio(content: Array[Byte], maxFrames: Int = 1 << 20): Option[(Float, Int, Array[Double])] =
    if (content == null || content.isEmpty) None
    else
      try {
        val in = audioStreamOf(content)
        try {
          val fmt = in.getFormat
          val bytesPerSample = fmt.getSampleSizeInBits / 8
          if (bytesPerSample != 2) return None // 16-bit PCM only
          val frameSize = fmt.getFrameSize
          val nFrames = math.min(in.getFrameLength, maxFrames.toLong).toInt
          val buf = new Array[Byte](nFrames * frameSize)
          var off = 0
          var read = 0
          while (off < buf.length && read >= 0) {
            read = in.read(buf, off, buf.length - off)
            if (read > 0) off += read
          }
          val ch = fmt.getChannels
          val big = fmt.isBigEndian
          val samples = new Array[Double](off / frameSize)
          var f = 0
          while (f < samples.length) {
            // average channels to mono
            var acc = 0.0
            var c = 0
            while (c < ch) {
              val i = f * frameSize + c * bytesPerSample
              val v =
                if (big) ((buf(i) << 8) | (buf(i + 1) & 0xff)).toShort
                else ((buf(i + 1) << 8) | (buf(i) & 0xff)).toShort
              acc += v / 32768.0
              c += 1
            }
            samples(f) = acc / ch
            f += 1
          }
          Some((fmt.getSampleRate, ch, samples))
        } finally in.close()
      } catch { case _: Exception => None }

  /** Audio features with the REAL decoder: duration, RMS level, zero-
    * crossing rate — null for undecodable content. Partition-local,
    * no shuffle, same contract as `extractImageFeatures`.
    */
  def extractAudioFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(media.schema.fields.filter(_.name != "content") ++ Seq(
      StructField("audio_seconds", DoubleType),
      StructField("audio_rms", DoubleType),
      StructField("audio_zcr", DoubleType)))
    val rdd = media.rdd.mapPartitions { it =>
      it.map { r =>
        val base = r.toSeq.patch(r.fieldIndex("content"), Nil, 1)
        decodeAudio(r.getAs[Array[Byte]]("content")) match {
          case Some((rate, _, s)) if s.nonEmpty =>
            var sq = 0.0
            var zc = 0
            var i = 0
            while (i < s.length) {
              sq += s(i) * s(i)
              if (i > 0 && (s(i) >= 0) != (s(i - 1) >= 0)) zc += 1
              i += 1
            }
            Row.fromSeq(base ++ Seq[Any](s.length / rate.toDouble,
              math.sqrt(sq / s.length), zc.toDouble / s.length))
          case _ => Row.fromSeq(base ++ Seq(null, null, null))
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  // ── real video codec (MJPEG-AVI: RIFF walked by hand, frames via
  //    ImageIO — still JDK-only) ───────────────────────────────────────

  /** REAL video frame extraction for MJPEG AVI: walks the RIFF
    * container ('RIFF'…'AVI ' → LIST 'movi' → '..dc'/'..db' chunks)
    * and returns the embedded JPEG frame payloads. Empty for anything
    * that is not an MJPEG AVI.
    */
  def decodeMjpegFrames(b: Array[Byte], maxFrames: Int = 256): Seq[Array[Byte]] = {
    if (b == null || b.length < 12) return Nil
    def fourcc(i: Int) = new String(b, i, 4, "ISO-8859-1")
    def u32(i: Int): Long =
      (b(i) & 0xffL) | (b(i + 1) & 0xffL) << 8 | (b(i + 2) & 0xffL) << 16 | (b(i + 3) & 0xffL) << 24
    if (fourcc(0) != "RIFF" || fourcc(8) != "AVI ") return Nil
    val out = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    def walk(start: Int, end: Int): Unit = {
      var i = start
      while (i + 8 <= end && out.length < maxFrames) {
        val id = fourcc(i)
        val sz = math.max(0, u32(i + 4).toInt)
        val dataStart = i + 8
        if (id == "LIST" && dataStart + 4 <= end) {
          walk(dataStart + 4, math.min(dataStart + sz.toLong, end.toLong).toInt)
        } else if (id.length == 4 && (id.endsWith("dc") || id.endsWith("db")) && sz >= 2 &&
          dataStart + 1 < b.length &&
          (b(dataStart) & 0xff) == 0xff && (b(dataStart + 1) & 0xff) == 0xd8) {
          out += java.util.Arrays.copyOfRange(b, dataStart,
            math.min(dataStart + sz.toLong, b.length.toLong).toInt)
        }
        i = dataStart + sz + (sz & 1) // RIFF chunks are word-aligned
      }
    }
    walk(12, b.length)
    out.toSeq
  }

  /** Pluggable compressed-video decoder seam: H.264/VP9/... decode
    * needs a native codec library the JDK doesn't ship, so the engine
    * defines the CONTRACT — serializable, partition-local, frames out
    * as BufferedImages — and ships the one decoder that IS JDK-only
    * (MJPEG-AVI) as the default registry entry. A deployment with an
    * ffmpeg/JavaCV binding registers its decoder here and every frame
    * pipeline picks it up with no other change; the Spark-side
    * plumbing (dispatch on declared format, mapPartitions batch shape,
    * output schema) is identical for every codec and is what the specs
    * pin down (OpsSpec exercises a plugged test decoder end-to-end).
    */
  trait VideoDecoder extends Serializable {
    /** meta.format values this decoder claims (lowercase). */
    def formats: Set[String]

    /** Up to `maxFrames` decoded frames; Nil when the bytes are not
      * decodable by this implementation (callers drop the row rather
      * than failing the partition).
      */
    def decodeFrames(content: Array[Byte], maxFrames: Int): Seq[java.awt.image.BufferedImage]

    /** [[decodeFrames]] plus the per-frame failure count — a corrupt
      * MIDDLE frame truncates or gaps the decoded sequence silently
      * otherwise, and a curation pipeline wants that as a decode-
      * quality signal, not an invisible loss. Default wraps
      * [[decodeFrames]] with zero failures (a decoder that can't
      * distinguish keeps the old contract); the built-in decoders
      * override with real counts.
      */
    def decodeFramesCounted(content: Array[Byte], maxFrames: Int): DecodedFrames =
      DecodedFrames(decodeFrames(content, maxFrames), 0)
  }

  /** Result of [[VideoDecoder.decodeFramesCounted]]: the decodable
    * frames plus how many frames the container declared but the
    * decoder could not produce.
    */
  final case class DecodedFrames(frames: Seq[java.awt.image.BufferedImage],
                                 nFailed: Int)

  /** The JDK-only real decoder: MJPEG inside a RIFF AVI container. */
  object MjpegDecoder extends VideoDecoder {
    def formats: Set[String] = Set("avi", "mjpeg")
    def decodeFrames(content: Array[Byte], maxFrames: Int): Seq[java.awt.image.BufferedImage] =
      decodeFramesCounted(content, maxFrames).frames
    override def decodeFramesCounted(content: Array[Byte], maxFrames: Int): DecodedFrames = {
      // one failure per '00dc' chunk whose payload ImageIO rejects
      val decoded = decodeMjpegFrames(content, maxFrames).map(decodeImage(_))
      DecodedFrames(decoded.flatten, decoded.count(_.isEmpty))
    }
  }

  /** REAL animated-GIF decoder, also JDK-only: the GIF `ImageReader`
    * yields one image per LZW-compressed frame, each of which may be a
    * partial patch at an (x, y) offset of the logical screen; frames
    * are composited onto a persistent canvas (do-not-dispose
    * semantics, the overwhelmingly common case for web GIFs) so the
    * pipeline sees full frames, not patches.
    */
  object GifDecoder extends VideoDecoder {
    def formats: Set[String] = Set("gif")

    def decodeFrames(content: Array[Byte], maxFrames: Int): Seq[java.awt.image.BufferedImage] =
      decodeFramesCounted(content, maxFrames).frames

    override def decodeFramesCounted(content: Array[Byte], maxFrames: Int): DecodedFrames = {
      if (content == null || content.length < 6 ||
        new String(content, 0, 4, "ISO-8859-1") != "GIF8")
        return DecodedFrames(Nil, 0)
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(content))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) return DecodedFrames(Nil, 0)
        val reader = readers.next()
        reader.setInput(iis, false)
        try {
          val n = math.min(reader.getNumImages(true), maxFrames)
          var canvas: java.awt.image.BufferedImage = null
          var failed = 0
          val frames = (0 until n).flatMap { i =>
            try {
              val patch = reader.read(i)
              val (x, y) = frameOffset(reader, i)
              if (canvas == null) {
                val (w, h) = logicalScreen(reader)
                  .getOrElse((x + patch.getWidth, y + patch.getHeight))
                canvas = new java.awt.image.BufferedImage(
                  math.max(w, x + patch.getWidth), math.max(h, y + patch.getHeight),
                  java.awt.image.BufferedImage.TYPE_INT_RGB)
              }
              val g = canvas.createGraphics()
              g.drawImage(patch, x, y, null)
              g.dispose()
              // snapshot — the canvas keeps accumulating later patches
              val snap = new java.awt.image.BufferedImage(
                canvas.getWidth, canvas.getHeight, java.awt.image.BufferedImage.TYPE_INT_RGB)
              val sg = snap.createGraphics()
              sg.drawImage(canvas, 0, 0, null)
              sg.dispose()
              Some(snap)
            } catch { case _: Exception => failed += 1; None }
          }
          DecodedFrames(frames, failed)
        } finally reader.dispose()
      } catch { case _: Exception => DecodedFrames(Nil, 0) }
      finally iis.close()
    }

    /** ImageDescriptor (x, y) of frame `i` from the per-frame GIF
      * metadata tree; (0, 0) when absent.
      */
    private def frameOffset(reader: javax.imageio.ImageReader, i: Int): (Int, Int) =
      try {
        val tree = reader.getImageMetadata(i)
          .getAsTree("javax_imageio_gif_image_1.0").asInstanceOf[org.w3c.dom.Element]
        val nodes = tree.getElementsByTagName("ImageDescriptor")
        if (nodes.getLength == 0) (0, 0)
        else {
          val d = nodes.item(0).asInstanceOf[org.w3c.dom.Element]
          (d.getAttribute("imageLeftPosition").toInt, d.getAttribute("imageTopPosition").toInt)
        }
      } catch { case _: Exception => (0, 0) }

    /** LogicalScreenDescriptor (width, height) from the stream
      * metadata; None when the writer omitted it.
      */
    private def logicalScreen(reader: javax.imageio.ImageReader): Option[(Int, Int)] =
      try {
        val tree = reader.getStreamMetadata
          .getAsTree("javax_imageio_gif_stream_1.0").asInstanceOf[org.w3c.dom.Element]
        val nodes = tree.getElementsByTagName("LogicalScreenDescriptor")
        if (nodes.getLength == 0) None
        else {
          val d = nodes.item(0).asInstanceOf[org.w3c.dom.Element]
          Some((d.getAttribute("logicalScreenWidth").toInt,
            d.getAttribute("logicalScreenHeight").toInt))
        }
      } catch { case _: Exception => None }
  }

  /** Frame sampling with REAL decoders: rows dispatch to the first
    * decoder claiming their `meta.format` (falling back to trying each
    * in order when the format is unknown); every `everyN`-th decoded
    * frame becomes (frame_idx, width, height, mean luma,
    * n_frames_failed). `n_frames_failed` is the winning decoder's
    * per-media failure count ([[VideoDecoder.decodeFramesCounted]]),
    * repeated on each of the media's frame rows — a corrupt middle
    * frame no longer truncates the sequence invisibly. Content no
    * decoder handles (or whose EVERY frame fails) yields no rows —
    * compose with `sampleFrames` (the byte-slice stand-in) for opaque
    * formats.
    */
  def sampleFramesDecoded(media: DataFrame, everyN: Int = 10,
                          decoders: Seq[VideoDecoder] = Seq(MjpegDecoder, GifDecoder)): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("frame_idx", IntegerType),
      StructField("frame_width", IntegerType),
      StructField("frame_height", IntegerType),
      StructField("frame_mean_luma", DoubleType),
      StructField("n_frames_failed", IntegerType)))
    val hasFormat = media.schema.fields.exists(_.name == "meta")
    val rdd = media.rdd.mapPartitions { it =>
      it.flatMap { r =>
        val id = r.getAs[Long]("media_id")
        val content = r.getAs[Array[Byte]]("content")
        val fmt =
          if (hasFormat) Option(r.getAs[Row]("meta")).flatMap(m =>
            Option(m.getAs[String]("format"))).map(_.toLowerCase)
          else None
        val candidates = fmt.flatMap(f => decoders.find(_.formats(f)))
          .map(Seq(_)).getOrElse(decoders)
        val result = candidates.iterator
          .map(_.decodeFramesCounted(content, maxFrames = 256))
          .find(_.frames.nonEmpty).getOrElse(DecodedFrames(Nil, 0))
        result.frames.zipWithIndex
          .filter(_._2 % everyN == 0)
          .map { case (img, idx) =>
            Row(id, idx, img.getWidth, img.getHeight, meanLuma(img),
              result.nFailed)
          }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  private def meanLuma(img: java.awt.image.BufferedImage): Double = {
    val w = img.getWidth; val h = img.getHeight
    var sum = 0.0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        sum += ((rgb >> 16) & 0xff) * 0.299 +
          (((rgb >> 8) & 0xff) * 0.587) + ((rgb & 0xff) * 0.114)
        x += 1
      }
      y += 1
    }
    sum / (w.toLong * h)
  }

  /** Frame sampling: byte-range slices standing in for frame decode —
    * the schema (media_id, frame_idx, frame_bytes) and the explode
    * shape are the real contract. (Video codecs are not in the JDK —
    * this remains the one stubbed decode path, with images real via
    * `decodeImage` above.)
    */
  def sampleFrames(media: DataFrame, everyN: Int = 10): DataFrame =
    media
      .withColumn("frame_idx",
        explode(sequence(lit(0),
          greatest(floor((col("meta.n_frames") - 1) / lit(everyN)).cast("int"), lit(0)))))
      .withColumn("frame_bytes",
        // STUB: slice of the content as a fake frame payload
        expr(s"substring(content, frame_idx * 4 + 1, 4)"))
      .select("media_id", "frame_idx", "frame_bytes")

  /** Resize metadata transform (pure-metadata stub: a real resize
    * would re-encode content; dims math is the verifiable part).
    */
  def resizeMeta(media: DataFrame, maxDim: Int): DataFrame = {
    val scale = least(
      lit(maxDim).cast("double") / col("meta.width"),
      lit(maxDim).cast("double") / col("meta.height"),
      lit(1.0))
    media.withColumn("meta",
      struct(
        col("meta.format").as("format"),
        floor(col("meta.width") * scale).cast("int").as("width"),
        floor(col("meta.height") * scale).cast("int").as("height"),
        col("meta.n_frames").as("n_frames")))
  }
}
