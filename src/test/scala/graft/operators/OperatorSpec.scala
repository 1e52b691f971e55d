package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.textops.TextOps

/** Unit correctness for the training-data operators (dedup, similarity,
  * text analysis, media stub) with hand-checkable expectations.
  */
class OperatorSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val docA = "the quick brown fox jumps over the lazy dog near the river bank today"
  private val docA2 = "the quick brown fox jumps over the lazy dog near the river bank tonight" // 1 word
  private val docB = "spark executes distributed dataframe plans with catalyst optimizer and tungsten codegen"
  private val docC = "completely unrelated text about cooking pasta with tomato sauce and basil leaves"

  private def docs = Seq(
    (1L, docA), (2L, docA2), (3L, docB), (4L, docC), (5L, docA) // 5 = exact dup of 1
  ).toDF("doc_id", "text")

  test("exact dedup keeps min id and counts duplicates") {
    val out = Dedup.exact(docs, "doc_id", "text")
      .orderBy("doc_id").as[(Long, String, Long)].collect()
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(out.find(_._1 == 1L).get._3 == 2L) // docs 1 and 5
  }

  test("minhash LSH finds the near-duplicate pair with exact jaccard") {
    val pairs = Dedup.minHashLsh(docs, "doc_id", "text",
      shingleK = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSeq
    // expected exact jaccard of (1,2) from the same shingle definition
    val sa = TextOps.shingles(docA, 3).toSet
    val sb = TextOps.shingles(docA2, 3).toSet
    val expected = sa.intersect(sb).size.toDouble / sa.union(sb).size
    assert(pairs.exists { case (a, b, j) => a == 1L && b == 2L && math.abs(j - expected) < 1e-12 })
    assert(pairs.exists { case (a, b, j) => a == 1L && b == 5L && j == 1.0 })
    assert(!pairs.exists { case (a, b, _) => Set(a, b) == Set(3L, 4L) })
  }

  test("minhash hot-bucket cap: identical docs chain in O(N) pairs, stay connected") {
    val many = (1L to 20L).map(i => (i, docA)).toDF("doc_id", "text")
    val pairs = Dedup.minHashLsh(many, "doc_id", "text", shingleK = 3,
      numHashes = 64, bands = 16, threshold = 0.9, maxBucketSize = 5)
      .as[(Long, Long, Double)].collect().toSeq
    assert(pairs.forall(_._3 == 1.0))
    assert(pairs.size < 190, s"quadratic blowup not capped: ${pairs.size} pairs")
    // connectivity: all 20 identical docs form one component
    val parent = scala.collection.mutable.Map((1L to 20L).map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    pairs.foreach { case (a, b, _) => parent(find(a)) = find(b) }
    assert((1L to 20L).map(find).toSet.size == 1, "cap broke dup-cluster connectivity")
  }

  test("minhash DEFAULT cap bounds an over-4096 identical-doc bucket to O(N) pairs") {
    // driver-query defaults (q_minhash_dedup): the cap must be ON by default —
    // 5000 identical docs would otherwise emit ~12.5M pairs inside one task
    val n = 5000
    val many = (1L to n.toLong).map(i => (i, docA)).toDF("doc_id", "text")
    val pairs = Dedup.minHashLsh(many, "doc_id", "text", shingleK = 3,
      numHashes = 64, bands = 16, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    assert(pairs.length == n - 1, s"expected ${n - 1} chained pairs, got ${pairs.length}")
    assert(pairs.forall(_._3 == 1.0))
  }

  test("simhash hot-bucket cap: identical docs chain in O(N) pairs, stay connected") {
    val many = (1L to 20L).map(i => (i, docA)).toDF("doc_id", "text")
    val pairs = Dedup.simHash(many, "doc_id", "text", maxHamming = 3,
      maxBucketSize = 5)
      .as[(Long, Long, Int)].collect().toSeq
    assert(pairs.forall(_._3 == 0))
    assert(pairs.size < 190, s"quadratic blowup not capped: ${pairs.size} pairs")
    val parent = scala.collection.mutable.Map((1L to 20L).map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    pairs.foreach { case (a, b, _) => parent(find(a)) = find(b) }
    assert((1L to 20L).map(find).toSet.size == 1, "cap broke dup-cluster connectivity")
  }

  test("embedding near-dup hot-bucket cap: identical vectors chain in O(N) pairs") {
    val vec = Array.tabulate(8)(d => TextOps.mix64(d).toFloat / Long.MaxValue)
    val many = (1L to 20L).map(i => (i, vec)).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDup(many, "vec_id", "embedding",
      planes = 8, threshold = 0.99, maxBucketSize = 5)
      .as[(Long, Long, Double)].collect().toSeq
    assert(pairs.forall(_._3 > 0.999999))
    assert(pairs.size < 190, s"quadratic blowup not capped: ${pairs.size} pairs")
    val parent = scala.collection.mutable.Map((1L to 20L).map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    pairs.foreach { case (a, b, _) => parent(find(a)) = find(b) }
    assert((1L to 20L).map(find).toSet.size == 1, "cap broke dup-cluster connectivity")
  }

  test("simhash finds identical and near pairs, not unrelated ones") {
    val pairs = Dedup.simHash(docs, "doc_id", "text", maxHamming = 16)
      .as[(Long, Long, Int)].collect().toSeq
    assert(pairs.exists { case (a, b, h) => a == 1L && b == 5L && h == 0 })
    assert(!pairs.exists { case (a, b, _) => Set(a, b) == Set(3L, 4L) })
  }

  test("ngram jaccard on explicit pairs matches set arithmetic") {
    val pairs = Seq((1L, 3L), (1L, 5L)).toDF("a", "b")
    val out = Dedup.ngramJaccard(docs, pairs, "doc_id", "text", shingleK = 3)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    val sa = TextOps.shingles(docA, 3).toSet
    val sb = TextOps.shingles(docB, 3).toSet
    val expected13 = sa.intersect(sb).size.toDouble / sa.union(sb).size
    assert(math.abs(out((1L, 3L)) - expected13) < 1e-12)
    assert(out((1L, 5L)) == 1.0)
  }

  test("brute-force ANN returns the true nearest neighbor") {
    // vec 0 ≈ vec 1 (same direction), vec 2 orthogonal, vec 3 opposite
    val embs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val top = SimSearch.bruteForceTopK(embs, embs.filter(col("vec_id") === 0), "vec_id",
      "embedding", k = 3).as[(Long, Long, Double, Int)].collect().sortBy(_._4)
    assert(top.head._2 == 1L) // rank 1 = closest
    assert(top.last._2 == 3L) // rank 3 = opposite
    assert(top.head._3 > 0.99)
  }

  test("LSH ANN results are a subset of brute-force with identical scores") {
    val embs = Seq.tabulate(50) { i =>
      (i.toLong, Array.tabulate(8)(d => TextOps.mix64(i * 8 + d).toFloat / Long.MaxValue))
    }.toDF("vec_id", "embedding")
    val q = embs.filter(col("vec_id") < 5)
    val brute = SimSearch.bruteForceTopK(embs, q, "vec_id", "embedding", k = 49)
      .as[(Long, Long, Double, Int)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val lsh = SimSearch.lshTopK(embs, q, "vec_id", "embedding", k = 5, planes = 4)
      .as[(Long, Long, Double, Int)].collect()
    assert(lsh.nonEmpty)
    lsh.foreach { case (qid, nid, cos, _) =>
      assert(math.abs(brute((qid, nid)) - cos) < 1e-12) // same exact cosine
    }
  }

  test("IVF ANN: deterministic, exact cosines, self-cluster recall") {
    val embs = Seq.tabulate(60) { i =>
      // 4 well-separated clusters in 8-d
      val c = i % 4
      (i.toLong, Array.tabulate(8)(d =>
        (if (d == c * 2) 1.0f else 0.0f) +
          0.05f * (TextOps.mix64(i * 8 + d).toFloat / Long.MaxValue)))
    }.toDF("vec_id", "embedding")
    val q = embs.filter(col("vec_id") < 4)
    val r1 = SimSearchIvf.ivfTopK(embs, q, "vec_id", "embedding", k = 3,
      nLists = 4, nProbe = 1).as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    val r2 = SimSearchIvf.ivfTopK(embs, q, "vec_id", "embedding", k = 3,
      nLists = 4, nProbe = 1).as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    assert(r1.toSeq == r2.toSeq) // deterministic
    // with clean clusters, every top-1 neighbor shares the query's cluster
    val brute = SimSearch.bruteForceTopK(embs, q, "vec_id", "embedding", k = 59)
      .as[(Long, Long, Double, Int)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    r1.foreach { case (qid, nid, cos, rank) =>
      assert(math.abs(brute((qid, nid)) - cos) < 1e-12)
      if (rank == 1) assert(nid % 4 == qid % 4, s"q$qid top1=$nid")
    }
  }

  test("language id identifies obvious samples") {
    assert(TextOps.langId("the cat sat on the mat and it was happy with this") == "en")
    assert(TextOps.langId("le chat est dans la maison et il est content pour ce jour") == "fr")
    assert(TextOps.langId("der hund ist in dem haus und das ist nicht schlecht für ihn") == "de")
    assert(TextOps.langId("el perro es un animal y la casa es grande para los dos") == "es")
    assert(TextOps.langId("这是一个中文句子 用来测试语言识别") == "zh")
    assert(TextOps.langId("") == "und")
    assert(TextOps.langId("zzz qqq xxx") == "und")
  }

  test("quality score orders trash below prose") {
    val good = TextOps.qualityScore(
      "This is a well formed paragraph of reasonable length with the kind of " +
        "words that a quality classifier is looking for in the document.")
    val trash = TextOps.qualityScore("@@@ ### !!! $$$ %%% 123 456 789 000 ***")
    assert(good > trash)
    assert(TextOps.qualityScore("") <= 600)
  }

  test("jdk codecs: known pixel/sample statistics survive decode+resize+pool") {
    import graft.multimodal.JdkCodec
    // solid mid-gray PNG → every pooled luma feature = 128/255
    val gray = JdkCodec.encodePng(60, 40, (_, _) => 0x808080)
    val lum = JdkCodec.poolFeatures(
      JdkCodec.resizeLuma(JdkCodec.decodeImage(gray), 16, 16), 8)
    lum.foreach(v => assert(math.abs(v - 128f / 255f) < 1e-3, v.toString))
    // half-black/half-white vertical split → global mean ≈ 0.5 of white luma
    val split = JdkCodec.encodePng(64, 64, (x, _) => if (x < 32) 0x000000 else 0xffffff)
    val lum2 = JdkCodec.poolFeatures(
      JdkCodec.resizeLuma(JdkCodec.decodeImage(split), 16, 16), 1)
    assert(math.abs(lum2(0) - 0.5f) < 1e-2, lum2(0).toString)
    // constant-amplitude square wave WAV → mean |amp| = 0.25 exactly
    val samples = Array.tabulate(8000)(i => if (i % 2 == 0) (8192: Short) else (-8192: Short))
    val wav = JdkCodec.encodeWav(samples, 8000f)
    val af = JdkCodec.audioFeatures(JdkCodec.decodeWavSamples(wav), 4)
    af.foreach(v => assert(math.abs(v - 0.25f) < 1e-6, v.toString))
    // video container round-trip preserves frames
    val frames = (0 until 5).map(f => JdkCodec.encodePng(8, 8, (_, _) => f * 0x111111))
    val back = JdkCodec.decodeVideoFrames(JdkCodec.encodeVideo(frames))
    assert(back.length == 5)
    assert(back.zip(frames).forall { case (a, b) => java.util.Arrays.equals(a, b) })
  }

  test("jpeg/gif/tiff/bmp rows take the real decode path, not the stub") {
    import graft.multimodal.{JdkCodec, MediaOps}
    // a solid mid-gray frame in every codec: real decode pools every feature
    // to ~128/255 (JPEG is lossy but flat fields survive near-exactly)
    val rows = Seq("jpeg", "gif", "tiff", "bmp").zipWithIndex.map { case (c, i) =>
      MediaOps.MediaRow(i.toLong,
        JdkCodec.encodeImage(c, 48, 32, (_, _) => 0x808080),
        MediaOps.MediaMeta("image", 48, 32, 0L, c))
    }
    // a codec with no decoder here yields no row (no fabricated features)
    val h264 = MediaOps.MediaRow(99L, Array.fill[Byte](64)(7),
      MediaOps.MediaMeta("video", 48, 32, 2000L, "h264"))
    val feats = MediaOps.extractFeatures(spark.createDataset(rows :+ h264),
      targetW = 8, targetH = 8, dim = 4).collect().sortBy(_.doc_id)
    assert(feats.map(_.doc_id).toSeq == Seq(0L, 1L, 2L, 3L))
    feats.foreach { f =>
      f.features.foreach(v =>
        assert(math.abs(v - 128f / 255f) < 3f / 255f, s"doc ${f.doc_id}: $v"))
    }
    // synthesized corpus actually contains the new codecs
    val manyDocs = (1L to 30L).map(i => (i, "t")).toDF("doc_id", "text")
    val codecs = MediaOps.synthesize(manyDocs, "doc_id", "text")
      .collect().map(_.meta.codec).toSet
    assert(Set("png", "jpeg", "gif", "bmp", "tiff").subsetOf(codecs), codecs.toString)
  }

  test("cached media corpus is byte-identical to fresh synthesis") {
    val ops = graft.multimodal.MediaOps
    val key = s"operatorspec-${System.nanoTime()}" // unique → exercises write path
    val cached = ops.cachedCorpus(docs, "doc_id", "text", key).collect().sortBy(_.doc_id)
    val fresh = ops.synthesize(docs, "doc_id", "text").collect().sortBy(_.doc_id)
    assert(cached.length == fresh.length)
    cached.zip(fresh).foreach { case (c, f) =>
      assert(c.meta == f.meta, s"meta mismatch doc ${c.doc_id}")
      assert(java.util.Arrays.equals(c.media, f.media), s"bytes mismatch doc ${c.doc_id}")
    }
    // second call must hit the published cache (same rows, no re-encode)
    val again = ops.cachedCorpus(docs, "doc_id", "text", key).collect().sortBy(_.doc_id)
    assert(again.map(_.doc_id).toSeq == cached.map(_.doc_id).toSeq)
  }

  test("media pipeline is deterministic with correct shapes") {
    val m = graft.multimodal.MediaOps.synthesize(docs, "doc_id", "text")
    val f1 = graft.multimodal.MediaOps.extractFeatures(m, dim = 16).collect().sortBy(_.doc_id)
    val f2 = graft.multimodal.MediaOps.extractFeatures(m, dim = 16).collect().sortBy(_.doc_id)
    assert(f1.length == 5)
    assert(f1.map(_.features.toSeq).toSeq == f2.map(_.features.toSeq).toSeq)
    assert(f1.forall(_.features.length == 16))
    val video = f1.filter(_.mediaType == "video")
    assert(video.forall(_.frames >= 1))
  }

  test("cached media corpus is written as at least one non-empty file per core") {
    import org.apache.commons.io.FileUtils
    import graft.multimodal.MediaOps
    val par = spark.sparkContext.defaultParallelism
    val rows = 60
    val dir = java.nio.file.Files.createTempDirectory("graft-mediacache-").toFile
    var cacheDir: Option[java.io.File] = None
    try {
      // the docs scan is one split, as a small sf table is
      (1L to rows.toLong).map(i => (i, "t")).toDF("doc_id", "text")
        .coalesce(1).write.parquet(s"$dir/documents")
      val docs = spark.read.parquet(s"$dir/documents")
      val cached = MediaOps.cachedCorpus(docs, "doc_id", "text",
        s"operatorspec-files-${System.nanoTime()}")
      cacheDir = cached.inputFiles.headOption
        .map(f => new java.io.File(new java.net.URI(f)).getParentFile)
      val nonEmpty = cached.inputFiles.count(f => graft.snapshot.SnapshotStore.parquetRowCount(
        new org.apache.hadoop.fs.Path(f), spark.sparkContext.hadoopConfiguration) > 0)
      assert(nonEmpty >= math.min(par, rows), cached.inputFiles.toSeq)
      assert(cached.count() == rows)
      // and the decode over that cache runs on more than one core
      val perTask = MediaOps.extractFeatures(cached, targetW = 8, targetH = 8, dim = 4)
        .rdd.mapPartitions(it => Iterator.single(it.size)).collect()
      assert(perTask.sum == rows && perTask.count(_ > 0) > 1, perTask.toSeq)
    } finally {
      cacheDir.foreach(FileUtils.deleteDirectory)
      FileUtils.deleteDirectory(dir)
    }
  }

  test("encodeImage writes the bytes of ImageIO's OutputStream path") {
    import java.awt.image.BufferedImage
    import graft.multimodal.JdkCodec
    val (w, h) = (40, 24)
    val rgb = (x: Int, y: Int) => (x * 7919 + y * 104729) & 0xffffff
    Seq("png", "jpeg", "gif", "bmp", "tiff").foreach { fmt =>
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos), fmt)
      assert(java.util.Arrays.equals(JdkCodec.encodeImage(fmt, w, h, rgb), bos.toByteArray), fmt)
    }
  }
}
