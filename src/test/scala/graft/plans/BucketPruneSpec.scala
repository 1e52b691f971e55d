package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.snapshot.BucketedPages
import graft.synth.SiteGen

/** Pages-side manifest/bucket file pruning for the fetch join (SURVEY.md
  * §1.4/§4.2; the 100-TB fetch-join lever): the adopted layout's per-file
  * bucket stats must be exact, a small-frontier epoch must read strictly
  * fewer data files than the table has, every epoch reads the files of its
  * frontier's buckets and no more, and the crawl results —
  * across a truncate-resume too — must be identical to the unpruned path.
  */
class BucketPruneSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val domain = "example.com"

  private def synthPages = SiteGen.pages(spark, domain, nPages = 400,
    hosts = 4, outDegree = 8, numPartitions = 4)

  test("adopted layout: per-file bucket stats are exact; bucket scans partition the table") {
    val dir = Files.createTempDirectory("graft-bp-layout-").toString + "/pages"
    val bp = BucketedPages.adopt(spark, synthPages, dir, numBuckets = 16)
    assert(bp.numBuckets == 16)
    assert(bp.files.nonEmpty && bp.files.forall(_.bucket >= 0))
    assert(bp.files.map(_.bucket).toSet.size > 4, "expected several non-empty buckets")

    // every file's rows actually hash to its recorded bucket
    val bucketIds: Seq[Int] = bp.files.map(_.bucket).distinct
    for (b <- bucketIds) {
      val scanned = bp.scanBuckets(Set(b))
      val bad = scanned.filter(bp.bucketExpr(col("url")) =!= b).count()
      assert(bad == 0, s"bucket $b scan contains foreign rows")
      val expectRows = bp.filesFor(Set(b)).map(_.rows).sum
      assert(scanned.count() == expectRows, s"bucket $b footer row stat")
    }
    // union of all buckets == full table (no rows lost by the layout)
    val allUrls = bp.scanBuckets(bp.files.map(_.bucket).toSet)
      .select("url").as[String].collect().sorted(CrawlEngine.codePointOrdering)
    val origUrls = synthPages.select("url").as[String].collect()
      .sorted(CrawlEngine.codePointOrdering)
    assert(allUrls.toSeq == origUrls.toSeq)
    // manifest round-trip
    val loaded = BucketedPages.load(spark, dir)
    assert(loaded.numBuckets == bp.numBuckets)
    assert(loaded.files == bp.files)
    // empty selection yields an empty frame with the table schema
    assert(bp.scanBuckets(Set.empty).isEmpty)
    assert(bp.scanBuckets(Set.empty).columns.sameElements(synthPages.columns))
  }

  test("crawl over bucketed pages: identical results, small epochs read few files") {
    val pages = synthPages
    val dir = Files.createTempDirectory("graft-bp-crawl-").toString + "/pages"
    val bp = BucketedPages.adopt(spark, pages, dir, numBuckets = 16)

    val whPlain = Files.createTempDirectory("graft-bp-plain-").toString
    val whPruned = Files.createTempDirectory("graft-bp-pruned-").toString
    val cfg = CrawlConfig(domain, budget = Some(20), numPartitions = 4)
    val plain = new CrawlEngine(spark, cfg).run(pages, s"https://$domain", whPlain)
    val pruned = new CrawlEngine(spark, cfg).run(bp, s"https://$domain", whPruned)

    // results byte-identical to the unpruned path
    assert(pruned.trace.select("epoch", "url").as[(Int, String)].collect().toSeq ==
      plain.trace.select("epoch", "url").as[(Int, String)].collect().toSeq)
    assert(pruned.links.select("url").orderBy("url").as[String].collect().toSeq ==
      plain.links.select("url").orderBy("url").as[String].collect().toSeq)
    assert(pruned.epochs == plain.epochs)

    // the epoch-0 frontier is ONE url → its bucket set is one bucket → the
    // fetch join must read strictly fewer files than the table has (and the
    // metrics must prove it from the committed snapshot, not from test code)
    val store = new graft.snapshot.SnapshotStore(spark, whPruned)
    val s0 = store.snapshotAt(0).get
    val read0 = s0.metrics("pages_files_read")
    val total = s0.metrics("pages_files_total")
    assert(total == bp.totalFiles.toLong)
    assert(read0 < total, s"epoch 0 read $read0 of $total files — no pruning")
    assert(read0 <= 2, s"single-seed epoch should touch ~1 bucket, read $read0 files")
    // every later epoch reads exactly the files of its frontier's buckets
    // (observed on the previous epoch's frontier write), and so no more than
    // those of the previous epoch's candidate buckets
    def bucketsOf(df: DataFrame): Set[Int] =
      df.select(bp.bucketExpr(col("url"))).distinct().as[Int].collect().toSet
    def filesFor(buckets: Set[Int]): Long = bp.filesFor(buckets).size.toLong
    val snaps = (-1 until pruned.epochs).map(e => e -> store.snapshotAt(e).get).toMap
    def visitedAt(e: Int) = store.readTable(snaps(e), "visited").filter(col("epoch") === e)
    // candidates(e) = in-domain links found in e ∪ frontier(e) deferred in e
    def candidates(e: Int): DataFrame = {
      val linksDelta = snaps(e).tables("links").files
        .diff(snaps(e - 1).tables("links").files)
      spark.read.parquet(linksDelta: _*)
        .filter(graft.url.urlfns.url_in_domain(col("url"), lit(domain)))
        .select("url")
        .union(store.readTable(snaps(e - 1), "frontier").select("url")
          .join(visitedAt(e), Seq("url"), "left_anti"))
    }
    val tighter = (1 until pruned.epochs).count { e =>
      val read = snaps(e).metrics("pages_files_read")
      val candidateFiles = filesFor(bucketsOf(candidates(e - 1)))
      assert(read <= candidateFiles,
        s"epoch $e read $read files, more than its candidate buckets hold")
      assert(read == filesFor(bucketsOf(store.readTable(snaps(e - 1), "frontier"))),
        s"epoch $e read $read files, not those of its frontier's buckets")
      assert(read >= filesFor(bucketsOf(visitedAt(e))),
        s"epoch $e read $read files, fewer than its fetch needs")
      read < candidateFiles
    }
    // rediscovered, already-seen links fill the candidates' buckets: the
    // deduplicated frontier's must be the smaller set somewhere
    assert(tighter > 0, "no epoch read fewer files than its candidate buckets hold")
  }

  test("truncate-resume over bucketed pages: identical results; the resumed " +
    "epoch reads the files of its frontier's buckets") {
    val pages = synthPages
    val dir = Files.createTempDirectory("graft-bp-resume-").toString + "/pages"
    val bp = BucketedPages.adopt(spark, pages, dir, numBuckets = 16)
    val cfg = CrawlConfig(domain, budget = Some(20), numPartitions = 4)
    val whFull = Files.createTempDirectory("graft-bp-full-").toString
    val whPart = Files.createTempDirectory("graft-bp-part-").toString
    val full = new CrawlEngine(spark, cfg).run(bp, s"https://$domain", whFull)
    new CrawlEngine(spark, cfg.copy(maxEpochs = 4)).run(bp, s"https://$domain", whPart)
    val store = new graft.snapshot.SnapshotStore(spark, whPart)
    store.truncateAfter(1)
    val resumed = new CrawlEngine(spark, cfg).run(bp, s"https://$domain", whPart)
    assert(resumed.trace.select("epoch", "url").as[(Int, String)].collect().toSeq ==
      full.trace.select("epoch", "url").as[(Int, String)].collect().toSeq)
    assert(resumed.links.select("url").orderBy("url").as[String].collect().toSeq ==
      full.links.select("url").orderBy("url").as[String].collect().toSeq)
    // the resumed run's first epoch takes its bucket set from the run-start
    // frontier count
    val frontierBuckets = store.readTable(store.snapshotAt(1).get, "frontier")
      .select(bp.bucketExpr(col("url"))).distinct().as[Int].collect().toSet
    assert(store.snapshotAt(2).get.metrics("pages_files_read") ==
      bp.filesFor(frontierBuckets).size.toLong)
  }
}
