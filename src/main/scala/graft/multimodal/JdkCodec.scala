package graft.multimodal

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import javax.imageio.ImageIO
import javax.imageio.stream.{MemoryCacheImageInputStream, MemoryCacheImageOutputStream}
import javax.sound.sampled.{AudioFormat, AudioInputStream, AudioSystem, AudioFileFormat}

/** Real JDK-only media codecs (no external libraries needed): PNG/BMP via
  * `javax.imageio`, WAV PCM via `javax.sound.sampled`, and a trivial
  * length-prefixed multi-frame container ("GFTV") of PNG frames standing in
  * for video. Everything is deterministic: decode is bit-defined by the
  * formats; resize is an explicit box average (no Graphics2D rendering,
  * whose interpolation is implementation-defined); feature pooling is a
  * fixed modulo binning.
  */
object JdkCodec {

  // ---- image -----------------------------------------------------------------

  /** Encode via any ImageIO writer this JDK ships (verified in-sandbox:
    * png, jpeg, gif, tiff, bmp — all deterministic byte-for-byte).
    *
    * Both image paths hand ImageIO an in-memory image stream: given a raw
    * stream while `ImageIO.getUseCache` is on (its default), ImageIO backs
    * each call with a temp file under `java.io.tmpdir` — one per image and
    * per video frame.
    */
  def encodeImage(fmt: String, w: Int, h: Int, rgb: (Int, Int) => Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, rgb(x, y)); x += 1 }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    val out = new MemoryCacheImageOutputStream(bos)
    try require(ImageIO.write(img, fmt, out), s"no ImageIO writer for format '$fmt'")
    finally out.close() // flushes the cache into bos; bos stays open
    bos.toByteArray
  }

  def encodePng(w: Int, h: Int, rgb: (Int, Int) => Int): Array[Byte] =
    encodeImage("png", w, h, rgb)

  /** ImageIO.read closes the stream it is given once a reader took it. */
  def decodeImage(bytes: Array[Byte]): BufferedImage =
    ImageIO.read(new MemoryCacheImageInputStream(new ByteArrayInputStream(bytes)))

  /** Deterministic box-average resize to (tw × th), emitting Rec.601 luma in
    * [0,1] per target pixel, row-major.
    */
  def resizeLuma(img: BufferedImage, tw: Int, th: Int): Array[Float] = {
    val sw = img.getWidth
    val sh = img.getHeight
    // one bulk ARGB fetch — per-pixel getRGB is ~10× slower
    val px = img.getRGB(0, 0, sw, sh, null, 0, sw)
    val out = new Array[Float](tw * th)
    var ty = 0
    while (ty < th) {
      val y0 = ty * sh / th
      val y1 = math.max(y0 + 1, (ty + 1) * sh / th)
      var tx = 0
      while (tx < tw) {
        val x0 = tx * sw / tw
        val x1 = math.max(x0 + 1, (tx + 1) * sw / tw)
        var sum = 0.0
        var y = y0
        while (y < y1) {
          val row = y * sw
          var x = x0
          while (x < x1) {
            val p = px(row + x)
            sum += (0.299 * ((p >> 16) & 0xff) + 0.587 * ((p >> 8) & 0xff) +
              0.114 * (p & 0xff)) / 255.0
            x += 1
          }
          y += 1
        }
        out(ty * tw + tx) = (sum / ((y1 - y0).toLong * (x1 - x0))).toFloat
        tx += 1
      }
      ty += 1
    }
    out
  }

  /** Modulo-binned mean pooling: feature d = mean of values at i ≡ d (mod dim). */
  def poolFeatures(values: Array[Float], dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    val cnt = new Array[Int](dim)
    var i = 0
    while (i < values.length) {
      out(i % dim) += values(i)
      cnt(i % dim) += 1
      i += 1
    }
    var d = 0
    while (d < dim) { if (cnt(d) > 0) out(d) /= cnt(d); d += 1 }
    out
  }

  // ---- audio (WAV, 16-bit signed PCM little-endian, mono) ---------------------

  def encodeWav(samples: Array[Short], sampleRate: Float): Array[Byte] = {
    val raw = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      raw(2 * i) = (samples(i) & 0xff).toByte
      raw(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new AudioFormat(sampleRate, 16, 1, true, false)
    val ais = new AudioInputStream(new ByteArrayInputStream(raw), fmt, samples.length)
    val bos = new ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  def decodeWavSamples(bytes: Array[Byte]): Array[Short] = {
    val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
    try {
      val fmt = ais.getFormat
      require(fmt.getSampleSizeInBits == 16, s"unsupported WAV depth: $fmt")
      val raw = ais.readAllBytes()
      val n = raw.length / 2
      val out = new Array[Short](n)
      val big = fmt.isBigEndian
      var i = 0
      while (i < n) {
        out(i) =
          if (big) (((raw(2 * i) & 0xff) << 8) | (raw(2 * i + 1) & 0xff)).toShort
          else (((raw(2 * i + 1) & 0xff) << 8) | (raw(2 * i) & 0xff)).toShort
        i += 1
      }
      out
    } finally ais.close()
  }

  /** Mean |amplitude| in [0,1] per modulo bin. */
  def audioFeatures(samples: Array[Short], dim: Int): Array[Float] = {
    val norm = new Array[Float](samples.length)
    var i = 0
    while (i < samples.length) {
      norm(i) = math.abs(samples(i).toInt) / 32768.0f
      i += 1
    }
    poolFeatures(norm, dim)
  }

  // ---- "video": GFTV container = magic, frame count, [len, png-bytes]* --------

  private val GFTV_MAGIC = 0x47465456 // "GFTV"

  def encodeVideo(frames: Seq[Array[Byte]]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(GFTV_MAGIC)
    out.writeInt(frames.length)
    frames.foreach { f => out.writeInt(f.length); out.write(f) }
    out.flush()
    bos.toByteArray
  }

  def decodeVideoFrames(bytes: Array[Byte]): Array[Array[Byte]] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    require(in.readInt() == GFTV_MAGIC, "not a GFTV container")
    val n = in.readInt()
    Array.fill(n) {
      val len = in.readInt()
      val f = new Array[Byte](len)
      in.readFully(f)
      f
    }
  }

  /** `n` frame indexes sampled uniformly from `total` frames. */
  def sampleFrameIndexes(total: Int, maxFrames: Int): Array[Int] = {
    val n = math.max(1, math.min(maxFrames, total))
    Array.tabulate(n)(i => (i.toLong * total / n).toInt)
  }
}
