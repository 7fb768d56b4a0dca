package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video travel as opaque
  * `binary` columns with typed metadata; decode/feature-extract runs in
  * batched per-partition workers.
  *
  * All three decoders are REAL and JDK-only: [[ImageIODecoder]] and
  * [[resizePng]] run on `javax.imageio` (PNG/JPEG/GIF/BMP),
  * [[AudioDecoder]] on `javax.sound.sampled` (WAV/AIFF/AU PCM), and
  * [[Mp4Decoder]] on the ISO-BMFF box parser in [[Mp4]]. The
  * deterministic [[StubDecoder]] stands in for media no decoder reads;
  * the surrounding contract — schema, partitioning, batch shape, the
  * worker loop — is identical for all of them.
  *
  * The registry reaches this object only through [[fromText]]
  * (`q_binary_meta`, `q_media_batches`); the decoders, [[featurize]],
  * [[thumbnails]] and [[sampleFrames]] are library surface that
  * `MultimodalSpec` pins on generated PNG/WAV/MP4 payloads.
  *
  * Scale notes: media bytes never pass through a shuffle (featurize is a
  * mapPartitions in the scan stage); at 100 TB keep media in its own
  * column family / file set and join features by id instead of carrying
  * blobs through the pipeline.
  */
object Multimodal {

  val FeatureDim = 16

  /** A pluggable media decoder: bytes → fixed-dim float features. */
  trait Decoder extends Serializable {
    def decode(mediaType: String, bytes: Array[Byte]): Array[Float]
  }

  /** REAL image decoder, JDK-only (`javax.imageio`; PNG/JPEG/GIF/BMP).
    * Features: `[width, height, n_channels, has_alpha,` then 12
    * block-mean luminances over a 4×3 grid`]` — the classic tiny
    * thumbnail fingerprint, enough for near-dup blocking / quality
    * filters on images. Deterministic for a given payload. Undecodable
    * bytes raise (route non-image media to another [[Decoder]]).
    */
  object ImageIODecoder extends Decoder {
    private val GridX = 4
    private val GridY = 3

    def decode(mediaType: String, bytes: Array[Byte]): Array[Float] = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      require(img != null, s"ImageIO cannot decode this payload (media_type=$mediaType)")
      val w = img.getWidth
      val h = img.getHeight
      val cm = img.getColorModel
      val sums = new Array[Double](GridX * GridY)
      val counts = new Array[Long](GridX * GridY)
      var y = 0
      while (y < h) {
        val cy = math.min(GridY - 1, y * GridY / h)
        var x = 0
        while (x < w) {
          val cx = math.min(GridX - 1, x * GridX / w)
          val rgb = img.getRGB(x, y) // sRGB regardless of the raster's model
          val lum = 0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
            0.114 * (rgb & 0xff)
          sums(cy * GridX + cx) += lum
          counts(cy * GridX + cx) += 1
          x += 1
        }
        y += 1
      }
      val grid = Array.tabulate(GridX * GridY) { i =>
        if (counts(i) == 0) 0f else (sums(i) / counts(i) / 255.0).toFloat
      }
      Array(w.toFloat, h.toFloat, cm.getNumComponents.toFloat,
        if (cm.hasAlpha) 1f else 0f) ++ grid
    }
  }

  /** Re-encode an image as a `w`×`h` PNG thumbnail (bilinear scale) —
    * the resize step of an image-curation pipeline, also JDK-only.
    */
  def resizePng(bytes: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    require(img != null, "ImageIO cannot decode this payload")
    val out = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = out.createGraphics()
    try {
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, w, h, null)
    } finally g.dispose()
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(out, "png", bos)
    bos.toByteArray
  }

  /** Thumbnail a media frame's `bytes` column in place (per-partition
    * worker, same no-shuffle shape as [[featurize]]).
    */
  def thumbnails(media: DataFrame, w: Int, h: Int): DataFrame = {
    val resize = udf((bytes: Array[Byte]) => resizePng(bytes, w, h))
    media.withColumn("bytes", resize(col("bytes")))
  }

  /** REAL audio decoder, JDK-only (`javax.sound.sampled`: WAV/AIFF/AU
    * PCM readers ship with the JDK). Features: `[sample_rate, channels,
    * bits, duration_ms, n_frames,` then 11 per-block RMS energies`]` —
    * the audio analog of the thumbnail fingerprint (silence/clipping
    * detection, VAD-ish quality filters, near-dup blocking). Supports
    * 8- and 16-bit PCM (signed/unsigned, both endiannesses), mixed down
    * across channels. Undecodable bytes raise (route compressed codecs
    * to another [[Decoder]]).
    */
  object AudioDecoder extends Decoder {
    private val Blocks = FeatureDim - 5 // 11 RMS windows

    def decode(mediaType: String, bytes: Array[Byte]): Array[Float] = {
      val in = javax.sound.sampled.AudioSystem
        .getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
      try {
        val fmt = in.getFormat
        val bits = fmt.getSampleSizeInBits
        require(bits == 8 || bits == 16,
          s"AudioDecoder handles 8/16-bit PCM, got $bits-bit ($mediaType)")
        val pcm = in.readAllBytes()
        val frameSize = fmt.getFrameSize
        val nFrames = pcm.length / frameSize
        val ch = fmt.getChannels
        val signed = fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
        val big = fmt.isBigEndian
        val sums = new Array[Double](Blocks)
        val counts = new Array[Long](Blocks)
        var f = 0
        while (f < nFrames) {
          val blk = math.min(Blocks - 1, f * Blocks / math.max(nFrames, 1))
          var c = 0
          var mix = 0.0
          while (c < ch) {
            val off = f * frameSize + c * (bits / 8)
            val s =
              if (bits == 8) {
                val raw = pcm(off) & 0xff
                (if (signed) pcm(off).toDouble else (raw - 128).toDouble) / 128.0
              } else {
                val (b0, b1) = if (big) (pcm(off), pcm(off + 1)) else (pcm(off + 1), pcm(off))
                val raw = (b0 << 8) | (b1 & 0xff) // b0 carries the sign
                (if (signed) raw.toDouble else ((raw & 0xffff) - 32768).toDouble) / 32768.0
              }
            mix += s
            c += 1
          }
          mix /= ch
          sums(blk) += mix * mix
          counts(blk) += 1
          f += 1
        }
        val rms = Array.tabulate(Blocks) { i =>
          if (counts(i) == 0) 0f else math.sqrt(sums(i) / counts(i)).toFloat
        }
        Array(fmt.getSampleRate, ch.toFloat, bits.toFloat,
          (nFrames * 1000.0 / fmt.getSampleRate).toFloat, nFrames.toFloat) ++ rms
      } finally in.close()
    }
  }

  /** REAL video-container decoder, JDK-only ([[Mp4]] parses the ISO-BMFF
    * box tree: ftyp/moov/mvhd/trak/tkhd/stsd + the stsz/stsc/stco sample
    * tables and the stss sync-sample box). Features: `[duration_ms,
    * timescale, n_tracks, width, height,` 4 codec-fourcc bytes,
    * `mdat_bytes, n_samples, n_top_boxes, mean_frame_bytes,
    * max_frame_bytes, n_keyframes, kf_stride]` — the last four are the
    * frame-payload profile (size distribution + keyframe cadence), the
    * video analog of the audio decoder's block-RMS tail: bitrate spikes,
    * all-intra vs long-GOP, and still-image-in-a-container all separate
    * on them. No stss box means every sample is a sync sample (spec
    * §8.6.2), so n_keyframes falls back to n_samples and stride to 1.
    * Codec *payload* decode (H.264 etc.) is out of JDK scope — structure,
    * duration, codec id and per-sample ranges are real. Non-BMFF bytes
    * raise (route them to another [[Decoder]]).
    */
  object Mp4Decoder extends Decoder {
    def decode(mediaType: String, bytes: Array[Byte]): Array[Float] = {
      val info = Mp4.parse(bytes)
      val v = info.tracks.find(_.handler == "vide").orElse(info.tracks.headOption)
      val cc = info.primaryCodec.padTo(4, ' ').take(4)
      val ranges = Mp4.sampleRanges(bytes)
      val nS = ranges.length
      val meanSize = if (nS == 0) 0f else (ranges.map(_._2.toLong).sum.toDouble / nS).toFloat
      val maxSize = if (nS == 0) 0f else ranges.map(_._2).max.toFloat
      val sync = Mp4.syncSamples(bytes)
      val nKey = if (sync.nonEmpty) sync.length else nS
      val kfStride = if (nKey == 0) 0f else nS.toFloat / nKey
      Array(info.durationMs.toFloat, info.timescale.toFloat, info.nTracks.toFloat,
        v.map(_.width).getOrElse(0f), v.map(_.height).getOrElse(0f),
        cc(0).toFloat, cc(1).toFloat, cc(2).toFloat, cc(3).toFloat,
        info.mdatBytes.toFloat, nS.toFloat,
        info.topLevelBoxes.toFloat, meanSize, maxSize, nKey.toFloat, kfStride)
    }
  }

  /** STUB: deterministic fake features from a rolling byte hash —
    * decodes the text-as-bytes fixtures (media with no real container
    * format). Real Spark-side contract; fake math inside.
    */
  object StubDecoder extends Decoder {
    def decode(mediaType: String, bytes: Array[Byte]): Array[Float] = {
      var h = 1125899906842597L
      bytes.foreach(b => h = h * 31 + (b & 0xff))
      Array.tabulate(FeatureDim) { d =>
        val x = h * (2 * d + 3) + 17 * d
        ((x % 100003 + 100003) % 100003).toFloat / 100003f - 0.5f
      }
    }
  }

  /** Fixture builder: wrap a (id, text) frame as fake media rows. */
  def fromText(df: DataFrame, idCol: String, textCol: String,
               mediaType: String = "image/fake"): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      lit(mediaType).as("media_type"),
      col(textCol).cast("binary").as("bytes"))
      .withColumn("meta", struct(
        length(col("bytes")).cast("long").as("n_bytes"),
        lit(null).cast("int").as("declared_width"),
        lit(null).cast("int").as("declared_height")))

  /** Batched feature extraction: one decoder instance per partition,
    * media bytes dropped from the output (features + meta only).
    */
  def featurize(media: DataFrame, decoder: Decoder): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("media_type", StringType, nullable = false),
      StructField("n_bytes", LongType, nullable = false),
      StructField("features", ArrayType(FloatType, containsNull = false), nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    val (idI, tyI, byI) = (media.schema.fieldIndex("media_id"),
      media.schema.fieldIndex("media_type"), media.schema.fieldIndex("bytes"))
    media.mapPartitions { rows =>
      // per-partition worker: decoder state initialized once, rows batched
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](byI)
        Row(r.getLong(idI), r.getString(tyI), bytes.length.toLong,
          decoder.decode(r.getString(tyI), bytes).toSeq)
      }
    }(enc)
  }

  /** Frame sampling for "video" media: every `stride`-th sample becomes
    * one frame row (media_id, frame_idx, frame_bytes). ISO-BMFF payloads
    * demux for real — [[Mp4.sampleRanges]] walks stsz/stsc/stco and each
    * emitted frame is that sample's exact byte range. Container-less
    * bytes fall back to fixed 1 KiB blocks so text fixtures keep the
    * same 1→N row shape. Map-only either way: the explode runs in the
    * scan stage, frames never shuffle.
    */
  def sampleFrames(media: DataFrame, stride: Int): DataFrame = {
    val block = 1024
    val frameUdf = udf { bytes: Array[Byte] =>
      val samples =
        if (Mp4.looksLikeMp4(bytes))
          Mp4.sampleRanges(bytes).collect {
            case (off, sz) if off + sz <= bytes.length =>
              java.util.Arrays.copyOfRange(bytes, off.toInt, off.toInt + sz)
          }
        else bytes.grouped(block).toSeq
      samples.zipWithIndex
        .filter(_._2 % stride == 0)
        .map { case (b, i) => (i, b) }.toSeq
    }
    media.select(col("media_id"), explode(frameUdf(col("bytes"))).as("f"))
      .select(col("media_id"), col("f._1").as("frame_idx"), col("f._2").as("frame_bytes"))
  }
}
