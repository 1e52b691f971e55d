package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.util.InputParallelism.spread

/** Multimodal-column plumbing (builder-prompt mandate): image/audio/video
  * travel as opaque `binary` columns with a typed metadata struct, processed
  * partition-parallel via mapPartitions over typed Datasets (the JVM analog
  * of the mapInPandas batch shape). The codec layer is REAL, JDK-only
  * ([[JdkCodec]]): PNG/JPEG/GIF/BMP/TIFF via `javax.imageio`, WAV PCM via
  * `javax.sound.sampled`, multi-frame PNG containers for video; decode →
  * box-resize → frame-sample → luma/amplitude feature pooling all operate
  * on actual pixels/samples. A codec with no JDK decoder (h264-class
  * video) yields no feature row, like null media.
  */
object MediaOps {

  /** Typed metadata carried next to every media blob. */
  final case class MediaMeta(
      mediaType: String, // "image" | "audio" | "video"
      width: Int,
      height: Int,
      durationMs: Long,
      codec: String)

  final case class MediaRow(doc_id: Long, media: Array[Byte], meta: MediaMeta)

  final case class MediaFeatures(
      doc_id: Long,
      mediaType: String,
      featureDim: Int,
      features: Array[Float], // mean-pooled luma/amplitude features
      frames: Int, // frames sampled (video) / 1 (image)
      outWidth: Int, // post-"resize" dims
      outHeight: Int)

  val mediaSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("media", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("mediaType", StringType, nullable = false),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("durationMs", LongType, nullable = false),
      StructField("codec", StringType, nullable = false))), nullable = false)))

  /** splitmix64 finalizer: the deterministic pixel stream of `synthesize`. */
  @inline private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  @inline private def mixPix(id: Long, k: Long): Long =
    mix64(id * 0xd1342543de82ef95L + k)

  /** Image codecs synthesized into the corpus — every still-image format this
    * JDK's ImageIO round-trips (encode+decode verified in-sandbox). JPEG is
    * deliberately included: real crawled media is mostly JPEG and it must
    * take the real decode path.
    */
  private val ImageCodecs = Vector("png", "jpeg", "gif", "bmp", "tiff")

  /** Bump when `synthesize` output or the cache's file layout changes —
    * stale parquet corpora cached by an older engine version must not be
    * served for the new contract (a v2 cache is one single-row-group file).
    */
  private val CorpusVersion = "v3"

  /** Synthesize a media table with REAL encoded bytes — deterministic PNG
    * images (pseudo-random RGB per pixel), 16-bit PCM WAV sine tones, and
    * GFTV multi-frame PNG containers — a stand-in corpus with the exact
    * byte formats the codecs decode.
    */
  def synthesize(docs: DataFrame, idCol: String, payloadCol: String): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("doc_id"),
      col(payloadCol).cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
      .map { case (id, _) =>
        val mt = (id % 3) match {
          case 0 => "image"; case 1 => "audio"; case _ => "video"
        }
        // sizes kept small: the corpus exists to exercise real decode paths,
        // not to burn encode CPU (50k docs at sf0.1 run through this)
        val w = 32 + (id % 8).toInt * 8
        val h = 32 + (id % 5).toInt * 8
        val durationMs = if (mt == "image") 0L else 500L + (id % 10) * 250L
        // rotate through every ImageIO codec this JDK decodes — real-web media
        // is mostly JPEG, so the jpeg path must be first-class, not stubbed
        val imageCodec = ImageCodecs(((id / 3) % ImageCodecs.length).toInt)
        val bytes = mt match {
          case "image" =>
            JdkCodec.encodeImage(imageCodec, w, h,
              (x, y) => (mixPix(id, y.toLong * w + x) & 0xffffff).toInt)
          case "audio" =>
            val sr = 4000f
            val n = (durationMs * sr / 1000).toInt
            val freq = 200.0 + (id % 200)
            JdkCodec.encodeWav(Array.tabulate(n)(i =>
              (StrictMath.sin(2 * StrictMath.PI * freq * i / sr) * 16384).toShort), sr)
          case _ =>
            val nFrames = math.max(1, math.min(6, (durationMs / 500).toInt))
            JdkCodec.encodeVideo((0 until nFrames).map(f =>
              JdkCodec.encodePng(32, 24,
                (x, y) => (mixPix(id, (f.toLong << 32) | (y * 32L + x)) & 0xffffff).toInt)))
        }
        val codec = mt match {
          case "image" => imageCodec; case "audio" => "wav"; case _ => "gftv"
        }
        // meta must describe the actual payload: video frames are encoded at
        // a fixed 32×24, so stamp those dims, not the id-derived image dims
        val (mw, mh) = if (mt == "video") (32, 24) else (w, h)
        MediaRow(id, bytes, MediaMeta(mt, mw, mh, durationMs, codec))
      }
  }

  /** Synthesize-once parquet cache for the media corpus. Encoding the
    * synthetic PNG/WAV/GFTV bytes is harness cost, not operator cost — a
    * feature query that re-encodes the corpus inside its timed region
    * measures the wrong thing. The corpus is a pure function of the doc ids,
    * so it is written once per `cacheKey` (atomic publish: write to a temp
    * dir, rename into place; a lost race discards the temp copy) and read
    * back from parquet thereafter — queries then time decode + featurize.
    * The docs pass through the input-parallelism rule first, so the encode
    * runs on every core and the cache is one file per task: its scan then
    * gives every core a non-empty split with no shuffle. (One file with one
    * row group would be cut into several splits, all but one of them empty,
    * which the rule's partition test reads as already wide.)
    */
  def cachedCorpus(docs: DataFrame, idCol: String, payloadCol: String,
      cacheKey: String): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val safe = cacheKey.replaceAll("[^A-Za-z0-9._-]", "_")
    val base = new java.io.File(
      System.getProperty("java.io.tmpdir"), s"graft-media-cache-$CorpusVersion")
    val dir = new java.io.File(base, safe)
    if (!dir.exists()) {
      base.mkdirs()
      val tmp = new java.io.File(base,
        s".$safe.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      synthesize(spread(docs), idCol, payloadCol).write.mode("overwrite")
        .parquet(tmp.toString)
      if (!tmp.renameTo(dir)) deleteRecursively(tmp) // another writer won
    }
    spark.read.parquet(dir.toString).as[MediaRow]
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** decode → resize(targetW×targetH) → frame-sample → feature-extract →
    * mean-pool, batched per partition (constant-memory batch shape; the
    * mapInPandas analog). Null media and codecs with no decoder here
    * (h264-class) yield no row.
    */
  def extractFeatures(media: Dataset[MediaRow], targetW: Int = 224,
      targetH: Int = 224, dim: Int = 64,
      maxFrames: Int = 8): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    // decode is CPU-bound per row: a scan narrower than the cluster (a small
    // corpus in one file) would decode on fewer cores than the cluster has
    spread(media).mapPartitions { it =>
      it.flatMap { row =>
        if (row.media == null) Iterator.empty
        else row.meta.codec match {
          case "png" | "bmp" | "jpeg" | "jpg" | "gif" | "tiff" | "tif" | "wbmp" =>
            val px = JdkCodec.resizeLuma(JdkCodec.decodeImage(row.media), targetW, targetH)
            Iterator.single(MediaFeatures(row.doc_id, row.meta.mediaType, dim,
              JdkCodec.poolFeatures(px, dim), 1, targetW, targetH))
          case "wav" =>
            Iterator.single(MediaFeatures(row.doc_id, row.meta.mediaType, dim,
              JdkCodec.audioFeatures(JdkCodec.decodeWavSamples(row.media), dim),
              1, targetW, targetH))
          case "gftv" =>
            val all = JdkCodec.decodeVideoFrames(row.media)
            val idx = JdkCodec.sampleFrameIndexes(all.length, maxFrames)
            val pooled = new Array[Float](dim)
            idx.foreach { f =>
              val feat = JdkCodec.poolFeatures(
                JdkCodec.resizeLuma(JdkCodec.decodeImage(all(f)), targetW, targetH), dim)
              var d = 0
              while (d < dim) { pooled(d) += feat(d) / idx.length; d += 1 }
            }
            Iterator.single(MediaFeatures(row.doc_id, row.meta.mediaType, dim,
              pooled, idx.length, targetW, targetH))
          case _ => Iterator.empty // no decoder here (h264-class)
        }
      }
    }
  }
}
