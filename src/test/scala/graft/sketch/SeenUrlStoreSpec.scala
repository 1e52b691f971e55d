package graft.sketch

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Exact-membership contract of the bucket-local seen store: byte-exact
  * lookups (incl. astral-plane and prefix-adjacent urls), epoch-bounded
  * visibility (the exact-resume precondition), idempotent delta rewrite,
  * and seek-search ≡ bulk-load equivalence across the adaptive threshold.
  */
class SeenUrlStoreSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshStore(buckets: Int = 8): SeenUrlStore =
    new SeenUrlStore(
      Files.createTempDirectory("graft-seenstore-").toString + "/seen", buckets)

  private def urls(from: Int, n: Int): Seq[String] =
    (from until from + n).map(i => s"https://h${i % 7}.example.com/p/$i?v=${i * 31}")

  test("filterUnseen removes exactly the stored urls (multi-epoch, unicode)") {
    val store = freshStore()
    val e0 = urls(0, 500) ++ Seq("https://x.example.com/😀/😀",
      "https://x.example.com/a", "https://x.example.com/ab")
    val e1 = urls(500, 300)
    store.writeDelta(e0.toDF("url"), 0)
    store.writeDelta(e1.toDF("url"), 1)
    val probe = (urls(250, 600) /* spans both deltas + 100 unseen */ ++
      Seq("https://x.example.com/😀/😀", // stored
        "https://x.example.com/ab", // stored; prefix-adjacent to /a
        "https://x.example.com/abc", // NOT stored (prefix of no entry)
        "https://x.example.com/")) // NOT stored
      .toDF("url").withColumn("tag", lit(7))
    val out = store.filterUnseen(probe, "url", upToEpoch = 1)
      .select("url").as[String].collect().toSet
    val expected = (urls(250, 600).toSet -- urls(250, 550).toSet) ++
      Set("https://x.example.com/abc", "https://x.example.com/")
    assert(out == expected)
    // schema preserved (extra columns survive the filter)
    assert(store.filterUnseen(probe, "url", 1).columns.toSeq == Seq("url", "tag"))
  }

  /** A store's shard files, by path under its directory. */
  private def shardFiles(st: SeenUrlStore): Map[String, Seq[Byte]] = {
    val root = java.nio.file.Paths.get(st.dir)
    Files.walk(root).toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".seen"))
      .map(f => root.relativize(f).toString -> Files.readAllBytes(f).toSeq).toMap
  }

  /** The urls of one shard file, in file order. */
  private def shardUrls(bytes: Seq[Byte]): Seq[String] = {
    val in = java.nio.ByteBuffer.wrap(bytes.toArray)
    in.getInt() // magic
    val n = in.getInt()
    val offsets = Seq.fill(n + 1)(in.getLong())
    val data = in.position()
    offsets.sliding(2).toSeq.filter(_.size == 2).map { case Seq(a, b) =>
      new String(bytes.toArray, data + a.toInt, (b - a).toInt, "UTF-8")
    }
  }

  test("a write fused into a sink writes writeDelta's shard files, aligned " +
    "or not, and the sink sees every row exactly once") {
    val conf = spark.sparkContext.hadoopConfiguration
    val list = (urls(0, 600) ++ Seq("https://x.example.com/😀/😀",
      "https://x.example.com/a", "https://x.example.com/ab")).map(u => (u, u.length))
    val rows = (list :+ list.head).toDF("url", "len") // one row twice
    val reference = freshStore(buckets = 4)
    reference.writeDelta(rows.select("url"), 5)
    // each bucket's file holds the bucket's distinct urls in byte order
    val expected = rows.select(col("url"), reference.bucketCol(col("url")))
      .as[(String, Int)].collect().toSeq.distinct.groupBy(_._2).map { case (b, us) =>
        s"bucket=$b/e5.seen" -> us.map(_._1).sorted(graft.plans.CrawlEngine.codePointOrdering)
      }
    assert(shardFiles(reference).map { case (f, b) => f -> shardUrls(b) } == expected)
    val all = rows.as[(String, Int)].collect().toSeq.sorted
    // aligned (the planner drops the write's exchange), misaligned, unshuffled
    for (input <- Seq(rows.repartition(4, col("url")), rows.repartition(3, col("url")), rows)) {
      val fused = freshStore(buckets = 4)
      val seen = fused.writeWith(input, "url", 5)(_.as[(String, Int)].collect().toSeq)
      assert(seen.sorted == all, "the sink saw other rows")
      assert(shardFiles(fused) == shardFiles(reference))
      assert(fused.validFor(conf, 5) && !fused.validFor(conf, 6))
    }
  }

  test("epoch-bounded visibility: later deltas are invisible (exact resume)") {
    val store = freshStore()
    store.writeDelta(urls(0, 100).toDF("url"), 0)
    store.writeDelta(urls(100, 100).toDF("url"), 3)
    val probe = urls(0, 200).toDF("url")
    // upTo 0: epoch-3 urls unseen
    assert(store.filterUnseen(probe, "url", 0).count() == 100)
    // upTo 2: ditto (no epoch 1/2 files)
    assert(store.filterUnseen(probe, "url", 2).count() == 100)
    // upTo 3: everything seen
    assert(store.filterUnseen(probe, "url", 3).count() == 0)
  }

  test("delta rewrite is idempotent (task-retry / resumed-epoch contract)") {
    val store = freshStore()
    store.writeDelta(urls(0, 300).toDF("url"), 0)
    store.writeDelta(urls(0, 300).toDF("url"), 0) // same epoch, overwrite
    val probe = urls(0, 400).toDF("url")
    assert(store.filterUnseen(probe, "url", 0).count() == 100)
  }

  test("sparse seek-search ≡ dense bulk-load across the adaptive threshold") {
    val store = freshStore(buckets = 2)
    // big shard: ~10k urls per bucket, data region > 256 KB ⇒ sparse probes
    // take the positioned-read binary search, dense probes the bulk path
    val big = (0 until 20000).map(i =>
      s"https://h${i % 3}.example.com/long/pad/pad/pad/pad/pad/$i?v=${i * 31}")
    store.writeDelta(big.toDF("url"), 0)
    val sparseProbe = big.take(40) ++ big.take(40).map(_ + "x")
    val sparse = store.filterUnseen(sparseProbe.toDF("url"), "url", 0)
      .as[String].collect().toSet
    assert(sparse == big.take(40).map(_ + "x").toSet)
    val denseProbe = big ++ big.map(_ + "x")
    val dense = store.filterUnseen(denseProbe.toDF("url"), "url", 0)
      .as[String].collect().toSet
    assert(dense == big.map(_ + "x").toSet)
  }

  test("aligned frame adds no exchange; misaligned adds one; both exact") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    object helper extends AdaptiveSparkPlanHelper
    val store = freshStore(buckets = 4)
    store.writeDelta(urls(0, 2000).toDF("url"), 0)
    val probe = urls(1000, 2000).toDF("url") // half seen, half not
    // persisted, like the engine's candidates: the count is of exchanges
    // the probe adds above the frame (and a cache keeps Spark from
    // collapsing the probe's repartition into the frame's own)
    def run(df: DataFrame): (Set[String], Int) = {
      val frame = df.persist()
      val out = store.filterUnseen(frame, "url", 0)
      val got = out.as[String].collect().toSet
      val added = helper.collect(out.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec => e
      }.size
      frame.unpersist()
      (got, added)
    }
    val expected = urls(2000, 1000).toSet
    // aligned: already hash-partitioned by url into the store's bucket count
    // — the planner drops the probe's repartition
    assert(run(probe.repartition(4, col("url"))) == ((expected, 0)))
    // misaligned (another partition count): exactly one inserted exchange
    assert(run(probe.repartition(3, col("url"))) == ((expected, 1)))
  }

  test("compaction: membership identical, epoch-bounded visibility intact " +
    "(a base past the probe's epoch is ignored — exact resume), idempotent") {
    val store = freshStore(buckets = 4)
    store.writeDelta(urls(0, 300).toDF("url"), 0)
    store.writeDelta(urls(300, 300).toDF("url"), 1)
    store.writeDelta(urls(600, 300).toDF("url"), 2)
    val probe = urls(0, 1000).toDF("url")
    def unseen(upTo: Int): Set[String] =
      store.filterUnseen(probe, "url", upTo).as[String].collect().toSet
    val before2 = unseen(2)
    val before1 = unseen(1)
    store.compact(spark, 1) // folds e0+e1 into c1
    store.compact(spark, 1) // idempotent re-run
    assert(unseen(2) == before2, "membership changed after compaction")
    assert(unseen(1) == before1)
    // exact-resume semantics: a probe at epoch 0 must ignore c1 (it covers
    // urls from epoch 1) and answer from e0 alone
    assert(unseen(0) == (urls(300, 700).toSet))
    // second-level compaction folds the base + later deltas
    store.compact(spark, 2)
    assert(unseen(2) == before2)
    assert(unseen(1) == before1, "c2 must be invisible at upTo=1")
    // base files exist on disk
    val dirs = new java.io.File(store.dir).listFiles().filter(_.isDirectory)
    assert(dirs.exists(d => d.listFiles().exists(_.getName.startsWith("c"))))
  }

  test("streaming compaction: a bucket far past the bulk threshold merges " +
    "exactly (k-way merge is O(1) heap in bucket size)") {
    val store = freshStore(buckets = 1) // one bucket holds everything
    val wide = "x" * 120
    def big(from: Int, n: Int): Seq[String] =
      (from until from + n).map(i => s"https://big.example.com/$wide/$i")
    // merged data region ≈ 11 MB — well past the 4 MB bulk-load cap, so the
    // old read-all+sort compactor would have materialized it whole
    store.writeDelta(big(0, 40000).toDF("url"), 0)
    store.writeDelta(big(40000, 40000).toDF("url"), 1)
    store.compact(spark, 1)
    val dirs = new java.io.File(store.dir).listFiles().filter(_.isDirectory)
    assert(dirs.exists(_.listFiles().exists(_.getName == "c1.seen")), "no base")
    val miss = (0 until 100).map(i => s"https://big.example.com/$wide/m$i")
    val probe = (big(0, 100) ++ big(79900, 100) ++ miss).toDF("url")
    assert(store.filterUnseen(probe, "url", 1).as[String].collect().toSet
      == miss.toSet)
  }

  test("re-compaction at the target epoch rebuilds from deltas: a stale base " +
    "left by a truncated timeline is overwritten, never folded into itself") {
    val store = freshStore(buckets = 2)
    store.writeDelta(urls(0, 200).toDF("url"), 0)
    store.writeDelta(urls(200, 200).toDF("url"), 1) // old-timeline epoch 1
    store.compact(spark, 1) // c1 = e0 ∪ old-e1
    // truncate-resume: the re-run of epoch 1 visits a DIFFERENT url set and
    // deterministically overwrites its delta…
    store.writeDelta(urls(1000, 200).toDF("url"), 1)
    // …and re-compaction must rebuild c1 from e0 ∪ new-e1 (folding the stale
    // base into itself would keep old-e1 urls "seen" forever)
    store.compact(spark, 1)
    val probe = (urls(200, 200) ++ urls(1000, 200)).toDF("url")
    assert(store.filterUnseen(probe, "url", 1).as[String].collect().toSet
      == urls(200, 200).toSet, "stale-base urls survived re-compaction")
  }

  test("dropAbove removes later-timeline bases and deltas; earlier deltas " +
    "answer exactly") {
    val store = freshStore(buckets = 2)
    val conf = spark.sparkContext.hadoopConfiguration
    store.writeDelta(urls(0, 200).toDF("url"), 0)
    store.writeDelta(urls(200, 200).toDF("url"), 1)
    store.compact(spark, 1)
    store.writeDelta(urls(400, 200).toDF("url"), 2) // a later-timeline delta
    store.dropAbove(conf, 0)
    val names = new java.io.File(store.dir).listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles().map(_.getName))
    assert(!names.exists(_.startsWith("c")), "base above the resume epoch survived")
    assert(!names.exists(n => n == "e1.seen" || n == "e2.seen"),
      "delta above the resume epoch survived")
    assert(names.contains("e0.seen"))
    // the watermark follows the truncation: coverage ends at epoch 0
    assert(store.validFor(conf, 0) && !store.validFor(conf, 1))
    // epoch-0 membership unchanged; the dropped epochs' urls are unseen even
    // to a probe that reads up to epoch 2
    assert(store.filterUnseen(urls(0, 200).toDF("url"), "url", 2).count() == 0)
    assert(store.filterUnseen(urls(200, 400).toDF("url"), "url", 2).count() == 400)
  }

  test("meta watermark gates resume: bucket-count or coverage mismatch " +
    "invalidates the store") {
    val store = freshStore(buckets = 4)
    val conf = spark.sparkContext.hadoopConfiguration
    assert(!store.validFor(conf, 0), "no meta yet must not be trusted")
    store.writeDelta(urls(0, 50).toDF("url"), 0)
    assert(store.validFor(conf, 0))
    assert(!store.validFor(conf, 3), "watermark behind the resume epoch")
    store.markEpoch(conf, 3) // empty epochs advance the watermark
    assert(store.validFor(conf, 3))
    val other = new SeenUrlStore(store.dir, 8) // same dir, other bucket count
    assert(!other.validFor(conf, 0), "bucket-count mismatch must invalidate")
    // writing into a store bucketed for another count refuses loudly
    // instead of stamping a fresh meta over the mis-bucketed shards
    intercept[IllegalStateException](other.writeDelta(urls(50, 10).toDF("url"), 4))
    intercept[IllegalStateException](other.markEpoch(conf, 4))
    assert(store.validFor(conf, 3) && !store.validFor(conf, 4), "meta was overwritten")
    other.clear(conf)
    assert(!store.validFor(conf, 0))
  }

  test("prepare for a resume: a valid store is only truncated; a short " +
    "watermark or another bucket count is cleared and rebuilt") {
    val conf = spark.sparkContext.hadoopConfiguration
    val universe = urls(0, 1000)
    def stored(st: SeenUrlStore): Set[String] = universe.toSet --
      st.filterUnseen(universe.toDF("url"), "url", 99).as[String].collect()
    val rebuilt = urls(700, 100)
    def rows = Some(rebuilt.toDF("url"))
    // valid through the resume epoch: the later epoch's shards are dropped,
    // and the rebuild rows are never read
    val valid = freshStore(buckets = 4)
    Seq(0, 1, 2).foreach(e => valid.writeDelta(urls(e * 200, 200).toDF("url"), e))
    valid.prepare(conf, Some(1))(fail("a valid store was rebuilt"))
    assert(stored(valid) == urls(0, 400).toSet)
    assert(valid.validFor(conf, 1) && !valid.validFor(conf, 2))
    // a watermark behind the resume epoch: rebuilt from the rows, tagged
    // with the resume epoch
    val behind = freshStore(buckets = 4)
    behind.writeDelta(urls(0, 200).toDF("url"), 0)
    behind.prepare(conf, Some(2))(rows)
    assert(stored(behind) == rebuilt.toSet)
    assert(behind.validFor(conf, 2) && !behind.validFor(conf, 3))
    // written under another bucket count: rebuilt under this one
    val other = freshStore(buckets = 4)
    other.writeDelta(urls(0, 200).toDF("url"), 3)
    val resized = new SeenUrlStore(other.dir, 8)
    resized.prepare(conf, Some(3))(rows)
    assert(stored(resized) == rebuilt.toSet)
    assert(resized.meta(conf) == Some((8, 3)))
    // no resume epoch (a fresh warehouse, or a run without store deltas):
    // cleared
    resized.prepare(conf, None)(rows)
    assert(stored(resized).isEmpty && resized.meta(conf).isEmpty)
  }

  test("empty store and bucket-less probes pass everything through") {
    val store = freshStore()
    assert(store.filterUnseen(urls(0, 50).toDF("url"), "url", 99).count() == 50)
  }
}
